package graft.ops

import java.io.File
import java.nio.file.{FileAlreadyExistsException, Files, StandardCopyOption}
import org.apache.spark.sql.DataFrame

/** The file steps every table writer in this package shares — Delta,
  * Iceberg, Hudi fixtures and [[SnapshotTable]]:
  *
  *  - [[stage]]: write a DataFrame into a private staging directory and
  *    move each leaf parquet file to the table-relative name the caller
  *    gives. Engine writers pass names no other writer can choose (a
  *    random UUID per file), so two writers racing for one version never
  *    touch each other's files before the commit decides between them;
  *  - [[publishNew]]: a file that appears whole or not at all, and only
  *    if absent — the put-if-absent commit of Delta log entries and
  *    Iceberg metadata versions. The loser of a race raises
  *    `ConcurrentModificationException` and the winner's bytes stay;
  *  - [[publishReplace]]: a pointer file (version hint, checkpoint
  *    pointer, snapshot pointer) swapped by an atomic rename, so a reader
  *    sees the old contents or the new, never a half-written file.
  *
  * Temporary and staging names start with a dot: every reader's listing
  * skips them. */
private[graft] object LakeFiles {

  /** One file moved into the table: its table-relative path, the Hive
    * partition values of the directory Spark wrote it under (decoded;
    * null for the default partition), and its row count from the footer. */
  final case class Staged(path: String, partition: Map[String, String],
      rows: Long)

  /** A table-relative name no other writer can choose. */
  def unique(prefix: String): String =
    s"$prefix-${java.util.UUID.randomUUID()}.parquet"

  private def rmRec(f: File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(rmRec)
    f.delete()
  }

  private def decode(v: String): String =
    java.net.URLDecoder.decode(v, "UTF-8") match {
      case "__HIVE_DEFAULT_PARTITION__" => null
      case other => other
    }

  /** The Hive directory of a partition tuple, in `partitionBy` order. */
  def partitionDir(cols: Seq[String], values: Map[String, String]): String =
    cols.map { k =>
      k + "=" + Option(values(k)).map(java.net.URLEncoder.encode(_, "UTF-8"))
        .getOrElse("__HIVE_DEFAULT_PARTITION__")
    }.mkString("/")

  private lazy val hadoopConf = new org.apache.hadoop.conf.Configuration()

  /** A local file as a parquet input, for driver-side reads. */
  def inputFile(f: File): org.apache.parquet.io.InputFile =
    org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(f.toURI), hadoopConf)

  private def footerRows(f: File): Long = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(inputFile(f))
    try r.getRecordCount finally r.close()
  }

  /** Write `df` (Hive-partitioned on `partitionBy`) into a staging
    * directory under `tableDir` and move every leaf parquet file, in
    * name order, to `place(partition)` — a table-relative path. The
    * staging tree is gone on return, written or not. Nothing is visible
    * to readers until the caller commits the returned files. */
  def stage(df: DataFrame, tableDir: File, partitionBy: Seq[String] = Nil)
      (place: Map[String, String] => String): Seq[Staged] = {
    val staging = new File(tableDir, s".staging_${java.util.UUID.randomUUID()}")
    try {
      val w = df.write
      (if (partitionBy.isEmpty) w else w.partitionBy(partitionBy: _*))
        .parquet(staging.getPath)
      val out = Seq.newBuilder[Staged]
      def walk(d: File, pv: Map[String, String]): Unit =
        Option(d.listFiles()).getOrElse(Array.empty).sortBy(_.getName)
          .foreach {
            case sub if sub.isDirectory && sub.getName.contains("=") =>
              val Array(k, v) = sub.getName.split("=", 2)
              walk(sub, pv + (k -> decode(v)))
            case f if f.isFile && f.getName.endsWith(".parquet") =>
              val rel = place(pv)
              val dest = new File(tableDir, rel)
              dest.getParentFile.mkdirs()
              val rows = footerRows(f)
              Files.move(f.toPath, dest.toPath, StandardCopyOption.ATOMIC_MOVE)
              out += Staged(rel, pv, rows)
            case _ =>
          }
      walk(staging, Map.empty)
      out.result()
    } finally rmRec(staging)
  }

  private def temp(target: File): File =
    new File(target.getParentFile,
      s".${target.getName}.${java.util.UUID.randomUUID()}.tmp")

  /** Publish `bytes` as `target` only if no file has that name: the bytes
    * land in a temporary file that is then hard-linked into place, so the
    * target appears complete or not at all. Raises
    * `ConcurrentModificationException` when `target` exists. */
  def publishNew(target: File, bytes: Array[Byte]): Unit = {
    target.getParentFile.mkdirs()
    val tmp = temp(target)
    Files.write(tmp.toPath, bytes)
    try Files.createLink(target.toPath, tmp.toPath)
    catch {
      case _: FileAlreadyExistsException =>
        throw new java.util.ConcurrentModificationException(
          s"$target already exists: another writer committed it first")
    } finally Files.delete(tmp.toPath)
  }

  /** Replace `target` with `bytes` in one atomic rename. */
  def publishReplace(target: File, bytes: Array[Byte]): Unit = {
    target.getParentFile.mkdirs()
    val tmp = temp(target)
    Files.write(tmp.toPath, bytes)
    Files.move(tmp.toPath, target.toPath, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }
}
