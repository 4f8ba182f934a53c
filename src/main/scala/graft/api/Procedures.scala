package graft.api

import org.apache.spark.sql.DataFrame

/** CALL procedures — the reference's stored-procedure surface
  * (presto-spi/procedure/Procedure.java; the presto-iceberg procedure
  * package),
  * path-adapted the way the lake scans are (no external metastore, so
  * the first argument names the table directory):
  *
  *   CALL system.rollback_to_snapshot('/path', <snapshot_id>)
  *   CALL system.expire_snapshots('/path', <retain_last>)
  *   CALL system.remove_orphan_files('/path')
  *   CALL system.rewrite_data_files('/path'[, <target_bytes>])
  *   CALL system.optimize('/path'[, <target_file_bytes>])   -- Delta
  *   CALL system.vacuum('/path'[, <retention_hours>])       -- Delta
  *   CALL system.restore('/path', <version>)                -- Delta
  *   CALL system.convert_to_delta('/plain/parquet/dir')     -- import
  *   CALL system.shallow_clone('/src', '/target')           -- zero-copy
  *
  * Each returns a one-row `rows` count (files removed / snapshots
  * expired; 0 for pure pointer moves) so clients see a result set, the
  * reference's CALL contract. */
object Procedures {

  private val CallPat =
    """(?is)\ACALL\s+(?:system\.)?(?:runtime\.)?([a-z_]+)\s*\((.*)\)\s*\z""".r

  private def strArg(a: String): String = {
    val t = a.trim
    require(t.length >= 2 && t.startsWith("'") && t.endsWith("'"),
      s"expected a quoted string argument, got: $t")
    t.substring(1, t.length - 1).replace("''", "'")
  }

  def dispatch(ses: SqlSession, text: String): Option[DataFrame] =
    text.trim match {
      case CallPat(name, argStr) =>
        val spark = ses.spark
        val args = Text.splitTop(argStr).filter(_.nonEmpty)
        def arg(i: Int): String = {
          require(i < args.length,
            s"procedure $name: missing argument ${i + 1}")
          args(i)
        }
        val n: Long = name.toLowerCase match {
          case "rollback_to_snapshot" =>
            graft.ops.IcebergTable.rollbackToSnapshot(
              strArg(arg(0)), arg(1).trim.toLong)
            0L
          case "expire_snapshots" =>
            graft.ops.IcebergTable.expireSnapshots(
              strArg(arg(0)), arg(1).trim.toInt).toLong
          case "remove_orphan_files" =>
            graft.ops.IcebergTable.removeOrphanFiles(strArg(arg(0))).toLong
          case "rewrite_data_files" =>
            graft.ops.IcebergTable.rewriteDataFiles(spark, strArg(arg(0)),
              targetBytes = args.lift(1).map(_.trim.toLong)
                .getOrElse(128L * 1024 * 1024)).toLong
          case "shallow_clone" =>
            graft.ops.DeltaLake.shallowClone(spark, strArg(arg(0)),
              strArg(arg(1)))
          case "register_table" => // Iceberg zero-copy clone
            graft.ops.IcebergTable.cloneTable(spark, strArg(arg(0)),
              strArg(arg(1)))
          case "convert_to_delta" =>
            graft.ops.DeltaLake.convertToDelta(spark, strArg(arg(0)))
          case "restore" =>
            graft.ops.DeltaLake.restore(spark, strArg(arg(0)),
              arg(1).trim.toLong)
          case "optimize" =>
            // optional 2nd arg: target bytes (number) or a quoted
            // 'zorder:c1,c2' clustering directive
            val (target, zorder) = args.lift(1).map(_.trim) match {
              case Some(a) if a.startsWith("'") =>
                val v = strArg(a)
                require(v.startsWith("zorder:"),
                  s"optimize: expected 'zorder:c1,c2', got '$v'")
                (128L * 1024 * 1024,
                  v.stripPrefix("zorder:").split(",").map(_.trim).toSeq)
              case Some(a) => (a.toLong, Seq.empty[String])
              case None => (128L * 1024 * 1024, Seq.empty[String])
            }
            graft.ops.DeltaLake.optimize(spark, strArg(arg(0)),
              targetBytes = target, zorderBy = zorder)
          case "vacuum" =>
            graft.ops.DeltaLake.vacuum(spark, strArg(arg(0)),
              retentionMs = args.lift(1).map(_.trim.toDouble)
                .map(h => (h * 3600 * 1000).toLong)
                .getOrElse(7L * 24 * 3600 * 1000))
          case "kill_query" =>
            // reference KillQueryProcedure.java:62 — accepts the named
            // `query_id => '...'` spelling too; unknown/terminal ids error
            val id = strArg(arg(0).replaceAll(
              "(?is)\\Aquery_id\\s*=>\\s*", ""))
            require(StatementServer.killQuery(id),
              s"kill_query: no running query with id $id")
            1L
          case other => throw new IllegalArgumentException(
            s"unknown procedure: $other")
        }
        Some(DdlStatements.rowsResult(spark, n))
      case _ => None
    }
}
