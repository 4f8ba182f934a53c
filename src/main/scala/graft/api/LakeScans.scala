package graft.api

import org.apache.spark.sql.SparkSession

/** FROM-position lake-table scans in SQL text — the dialect's equivalent
  * of the reference's delta/hudi/iceberg CATALOGS (there a table name
  * resolves through the connector; here, with no external metastore, the
  * table function spelling names the path directly, like DuckDB's
  * delta_scan):
  *
  *   SELECT ... FROM delta_scan('/path/to/table') ...
  *   SELECT ... FROM hudi_scan('/path') / iceberg_scan('/path')
  *   ... iceberg_scan('/path', <snapshot-id>)   -- time travel
  *   ... delta_scan('/path', <version>)         -- time travel
  *   ... hudi_scan('/path', '<instant>')        -- time travel
  *
  * Each occurrence registers the reader's DataFrame as a deterministic
  * temp view at translate time and the text is rewritten to that view —
  * the scan itself stays a fully distributed multi-file parquet read
  * (ops/DeltaLake.scala, ops/HudiCow.scala, ops/IcebergTable.scala);
  * only KB-sized log/manifest metadata is touched here. Occurrences
  * inside string literals and comments are left alone. */
object LakeScans {

  // matched on the masked text (Text.Pattern), groups read from the original
  private val InsertPat = new Text.Pattern(
    """(?is)INSERT\s+INTO\s+(delta|iceberg)_scan\s*\(\s*'([^']+)'\s*\)\s+(.+)""".r)

  /** INSERT INTO delta_scan('/p') / iceberg_scan('/p') SELECT ... — the
    * SQL-text surface over the engine's lake append writers
    * (ops/DeltaLake.insert, ops/IcebergTable.insertAppend). Positional
    * insert with coercion to the table's column types, the same contract
    * as managed-table INSERT; returns the landed row count (the rows the
    * writer staged, so a concurrent commit cannot skew it). Must run
    * BEFORE the FROM-position scan rewrite or the target spelling would
    * be swallowed as a read. */
  def dispatchInsert(ses: SqlSession, text: String)
      : Option[org.apache.spark.sql.DataFrame] = text match {
    case InsertPat(kind, path, query) =>
      import org.apache.spark.sql.functions.col
      val spark = ses.spark
      val delta = kind.equalsIgnoreCase("delta")
      val target =
        if (delta) graft.ops.DeltaLake.read(spark, path).schema
        else graft.ops.IcebergTable.read(spark, path).schema
      val src = ses.sql(query)
      if (src.schema.length != target.length)
        throw new IllegalArgumentException(
          s"Insert column count ${src.schema.length} does not match " +
            s"table (${target.length})")
      val aligned = src.select(src.columns.zip(target.fields).map {
        case (c, f) => col(c).cast(f.dataType).as(f.name)
      }.toIndexedSeq: _*)
      // the writer counts the rows it staged: no scan of the target
      val (_, rows) =
        if (delta) graft.ops.DeltaLake.append(spark, path, aligned, None).get
        else graft.ops.IcebergTable.append(spark, path, aligned, None).get
      Some(DdlStatements.rowsResult(spark, rows))
    case _ => None
  }

  private val MergePat = new Text.Pattern(
    ("""(?is)MERGE\s+INTO\s+(delta|iceberg)_scan\s*\(\s*'([^']+)'\s*\)\s+""" +
      """(?:AS\s+)?t\s+USING\s+(.+?)\s+(?:AS\s+)?s\s+ON\s+(.+?)\s+""" +
      """(WHEN\s.+)""").r)
  private val WhenDelete = new Text.Pattern(
    """(?is)WHEN\s+MATCHED(?:\s+AND\s+(.+?))?\s+THEN\s+DELETE\s*""".r)
  private val WhenUpdate = new Text.Pattern(
    """(?is)WHEN\s+MATCHED\s+THEN\s+UPDATE\s+SET\s+(.+)""".r)
  private val WhenInsert = new Text.Pattern(
    ("""(?is)WHEN\s+NOT\s+MATCHED\s+THEN\s+INSERT\s*""" +
      """\(([^)]*)\)\s*VALUES\s*\((.+)\)\s*""").r)

  private val DeletePat = new Text.Pattern(
    ("""(?is)DELETE\s+FROM\s+(delta|iceberg)_scan\s*\(\s*'([^']+)'""" +
      """\s*\)\s+WHERE\s+(.+)""").r)
  private val UpdatePat = new Text.Pattern(
    ("""(?is)UPDATE\s+(delta|iceberg)_scan\s*\(\s*'([^']+)'\s*\)\s+""" +
      """SET\s+(.+?)\s+WHERE\s+(.+)""").r)

  /** DELETE FROM delta_scan('/p') WHERE c / UPDATE ..._scan('/p') SET
    * a = e, ... WHERE c — the reference's row-level DML grammar over the
    * engine's lake writers (Delta copy-on-write rewrites; Iceberg
    * merge-on-read delete files). Expressions see the table's columns
    * unqualified. Returns the affected row count. */
  def dispatchDml(ses: SqlSession, text: String)
      : Option[org.apache.spark.sql.DataFrame] = {
    import org.apache.spark.sql.functions.expr
    val spark = ses.spark
    text match {
      case DeletePat(kind, path, cond) =>
        val n = kind.toLowerCase match {
          case "delta" => graft.ops.DeltaLake.delete(spark, path, expr(cond))
          case _ => graft.ops.IcebergTable.delete(spark, path, expr(cond))
        }
        Some(DdlStatements.rowsResult(spark, n))
      case UpdatePat(kind, path, sets, cond) =>
        val m = assignments(sets).map { case (k, v) => k -> expr(v) }
        val n = kind.toLowerCase match {
          case "delta" =>
            graft.ops.DeltaLake.update(spark, path, expr(cond), m)
          case _ =>
            graft.ops.IcebergTable.update(spark, path, expr(cond), m)
        }
        Some(DdlStatements.rowsResult(spark, n))
      case _ => None
    }
  }

  /** `SET a = e, b = f` → column → expression text; commas and `=`
    * inside literals stay in their expression. */
  private def assignments(sets: String): Map[String, String] =
    Text.splitTop(sets).map { kv =>
      val Array(k, v) = kv.split("=", 2)
      k.trim -> v.trim
    }.toMap

  /** MERGE INTO delta_scan('/p') / iceberg_scan('/p') AS t USING <src>
    * AS s ON <cond> WHEN MATCHED [AND c] THEN DELETE / WHEN MATCHED THEN
    * UPDATE SET ... / WHEN NOT MATCHED THEN INSERT (cols) VALUES (exprs)
    * — the reference's MERGE grammar over the engine's lake merges
    * (ops/DeltaLake.merge copy-on-write; ops/IcebergTable.merge
    * merge-on-read). Aliases are fixed to t/s (the clause expressions are
    * evaluated under those names). Returns the affected row count. */
  def dispatchMerge(ses: SqlSession, text: String)
      : Option[org.apache.spark.sql.DataFrame] = text match {
    case MergePat(kind, path, sourceSql, onCond, whens) =>
      val spark = ses.spark
      val s0 = sourceSql.trim
      val src =
        if (s0.startsWith("(") && s0.endsWith(")"))
          ses.sql(s0.substring(1, s0.length - 1))
        else ses.sql(s"SELECT * FROM $s0")
      // split the when-clause tail on WHEN [NOT] MATCHED in code position
      // (MATCHED is no expression keyword; literals are masked)
      val starts = """(?i)\bWHEN\s+(NOT\s+)?MATCHED\b""".r
        .findAllMatchIn(Text.masked(whens)).map(_.start).toSeq
      val clauses = starts.zip(starts.drop(1) :+ whens.length).map {
        case (a, b) => whens.substring(a, b).trim
      }
      var upd = Map.empty[String, String]
      var del: Option[String] = None
      var ins: Option[Map[String, String]] = None
      clauses.foreach {
        case WhenDelete(cond) =>
          del = Some(Option(cond).map(_.trim).getOrElse("true"))
        case WhenUpdate(sets) =>
          upd = assignments(sets)
        case WhenInsert(cols, vals) =>
          val ks = Text.splitTop(cols)
          val vs = Text.splitTop(vals)
          require(ks.length == vs.length,
            s"INSERT column/value count mismatch: $ks vs $vs")
          ins = Some(ks.zip(vs).toMap)
        case other =>
          throw new IllegalArgumentException(s"Unsupported MERGE clause: " +
            other.linesIterator.mkString(" ").take(80))
      }
      val st = kind.toLowerCase match {
        case "delta" => graft.ops.DeltaLake.merge(spark, path, src, onCond,
          matchedUpdate = upd, matchedDelete = del, notMatchedInsert = ins)
        case _ => graft.ops.IcebergTable.merge(spark, path, src, onCond,
          matchedUpdate = upd, matchedDelete = del, notMatchedInsert = ins)
      }
      Some(DdlStatements.rowsResult(spark,
        st.updated + st.deleted + st.inserted))
    case _ => None
  }

  // call heads are found on the masked text (a head inside a literal or
  // comment is never rewritten); the path and version literals are read
  // from the original text right after the head
  private val ScanHead = """(?i)\b(delta|hudi|iceberg)_scan\s*\(""".r
  private val ScanArgs =
    """\s*'([^']+)'\s*(?:,\s*(?:'([^']+)'|([^)']+))\s*)?\)""".r
  private val ChangesHead = """(?i)\b(delta|iceberg)_changes\s*\(""".r
  private val ChangesArgs = """\s*'([^']+)'\s*,\s*(\d+)\s*,\s*(\d+)\s*\)""".r

  def rewrite(spark: SparkSession, text: String): String =
    rewriteScans(spark, rewriteChanges(spark, text))

  /** delta_changes('/p', from, to) / iceberg_changes('/p', from, to):
    * CDF-style change rows (ops/DeltaLake.tableChanges and
    * ops/IcebergTable.tableChanges) in FROM position. `from` is
    * INCLUSIVE here (the familiar table_changes spelling); Iceberg
    * positions are snapshot ORDINALS. */
  private def rewriteChanges(spark: SparkSession, text: String): String =
    Text.rewriteCalls(text, ChangesHead, ChangesArgs) { (h, a) =>
      val kind = h.group(1).toLowerCase
      val path = a.group(1)
      val from = a.group(2).toLong
      val to = a.group(3).toLong
      val df = kind match {
        case "delta" =>
          graft.ops.DeltaLake.tableChanges(spark, path, from - 1, to)
        case _ =>
          graft.ops.IcebergTable.tableChanges(spark, path, from - 1, to)
      }
      val view = s"graft_${kind}_changes_" + java.lang.Integer.toHexString(
        (path + from + "_" + to).hashCode)
      df.createOrReplaceTempView(view)
      view
    }

  private def rewriteScans(spark: SparkSession, text: String): String =
    Text.rewriteCalls(text, ScanHead, ScanArgs) { (h, a) =>
      val kind = h.group(1).toLowerCase
      val path = a.group(1)
      val arg = Option(a.group(2)).orElse(Option(a.group(3))).map(_.trim)
      val df = (kind, arg) match {
        case ("delta", None) if path.endsWith("#history") =>
          graft.ops.DeltaLake.describeHistory(spark,
            path.stripSuffix("#history"))
        case ("delta", None) => graft.ops.DeltaLake.read(spark, path)
        case ("delta", Some(v)) if v.matches("\\d+") =>
          graft.ops.DeltaLake.readVersion(spark, path, v.toLong)
        case ("delta", Some(ts)) => // quoted → TIMESTAMP AS OF
          val millis =
            try java.sql.Timestamp.valueOf(ts).getTime
            catch {
              case _: IllegalArgumentException =>
                java.sql.Date.valueOf(ts).getTime
            }
          graft.ops.DeltaLake.readTimestamp(spark, path, millis)
        case ("hudi", None) if path.endsWith("#ro") => // read-optimized
          graft.ops.HudiCow.readOptimized(spark, path.stripSuffix("#ro"))
        case ("hudi", None) => graft.ops.HudiCow.read(spark, path)
        case ("hudi", Some(i)) => graft.ops.HudiCow.readAt(spark, path, i)
        // '#<name>' suffixes select the reference's metadata tables
        // ("t$snapshots" etc. — '$' collides with the dialect's grammar)
        case ("iceberg", None) if path.contains("#") =>
          val Array(p, mt) = path.split("#", 2)
          val ice = graft.ops.IcebergTable
          mt match {
            case "snapshots" => ice.snapshots(spark, p)
            case "files" => ice.files(spark, p)
            case "history" => ice.history(spark, p)
            case "manifests" => ice.manifests(spark, p)
            case "properties" => ice.properties(spark, p)
            case "refs" => ice.refs(spark, p)
            case "partitions" => ice.partitions(spark, p)
            case other => throw new IllegalArgumentException(
              s"unknown Iceberg metadata table #$other")
          }
        case ("iceberg", None) => graft.ops.IcebergTable.read(spark, path)
        case ("iceberg", Some(sid)) if sid.matches("\\d+") =>
          graft.ops.IcebergTable.readAt(spark, path, sid.toLong)
        case ("iceberg", Some(arg)) => // quoted: timestamp or branch/tag
          val millis =
            try Some(java.sql.Timestamp.valueOf(arg).getTime)
            catch {
              case _: IllegalArgumentException =>
                try Some(java.sql.Date.valueOf(arg).getTime)
                catch { case _: IllegalArgumentException => None }
            }
          millis match {
            case Some(ms) =>
              graft.ops.IcebergTable.readAtTimestamp(spark, path, ms)
            case None => graft.ops.IcebergTable.readRef(spark, path, arg)
          }
        case other => throw new IllegalArgumentException(other.toString)
      }
      val view = s"graft_${kind}_scan_" + java.lang.Integer.toHexString(
        (path + arg.getOrElse("")).hashCode)
      df.createOrReplaceTempView(view)
      view
    }
}
