package graft.ops

import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Minimal Hudi COPY_ON_WRITE table reader — the reference ships a full
  * connector (presto-hudi/, whose HudiSplitManager.java:128 asks Hudi's
  * HoodieTableFileSystemView for the latest base file per file group);
  * the on-disk layout itself is public:
  *
  *  - `.hoodie/<instantTime>.commit` marks a COMPLETED commit;
  *    `.inflight` / `.requested` timeline files are in-progress and must
  *    not be read;
  *  - data files are parquet named `<fileId>_<writeToken>_<instantTime>
  *    .parquet` inside (possibly nested) partition directories; a
  *    copy-on-write commit REWRITES a file group by writing a new base
  *    file with the same fileId and a newer instantTime;
  *  - a snapshot read takes, per (partitionPath, fileId) file group, the
  *    base file with the max COMPLETED instantTime — older slices and
  *    files of uncommitted instants are invisible.
  *
  * This reader replays exactly that rule with driver-side directory
  * listing (timeline + names only, KBs — never data) and hands the
  * selected files to one multi-path parquet scan, so pushdown/pruning
  * are intact. The table type is read from `.hoodie/hoodie.properties`
  * (absent = COPY_ON_WRITE, Hudi's default): MERGE_ON_READ tables
  * dispatch to the log-merging reader in ops/HudiMor.scala — silently
  * taking a MoR table's base files alone would return stale rows.
  * Hudi's internal metadata table is out of scope (listing replaces it).
  */
object HudiCow {

  private val BaseFile = """(.+?)_(\d+-\d+-\d+)_(\d+)\.parquet""".r

  /** (partitionPath, fileId, instantTime, file) for every base file. */
  private def listBaseFiles(dir: File, rel: String)
      : Seq[(String, String, String, File)] =
    Option(dir.listFiles()).getOrElse(Array.empty).toSeq.flatMap {
      case d if d.isDirectory && d.getName != ".hoodie" &&
          !d.getName.startsWith(".") =>
        listBaseFiles(d, if (rel.isEmpty) d.getName else s"$rel/${d.getName}")
      case f if f.isFile => f.getName match {
        case BaseFile(fileId, _, instant) => Seq((rel, fileId, instant, f))
        case _ => Seq.empty
      }
      case _ => Seq.empty
    }

  /** Read the latest committed snapshot of a Hudi CoW table. */
  def read(s: SparkSession, tableDir: String): DataFrame =
    readAt(s, tableDir, asOf = None)

  /** Time travel: the snapshot as of `instant` (Hudi's timestamp-as-of
    * query) — only commits completed at or before it are visible.
    * Instants compare as fixed-width timestamp strings, the timeline's
    * own ordering. */
  def readAt(s: SparkSession, tableDir: String, instant: String): DataFrame =
    readAt(s, tableDir, asOf = Some(instant))

  /** Read-optimized query (the reference's HudiTableType.READ_OPTIMIZED
    * split kind, presto-hudi HudiTableLayoutHandle): latest COMMITTED
    * base files only, log files skipped — on a MERGE_ON_READ table this
    * trades freshness for pure columnar scan speed (the documented Hudi
    * contract); on COPY_ON_WRITE it equals the snapshot query. */
  def readOptimized(s: SparkSession, tableDir: String): DataFrame = {
    val dir = new File(tableDir)
    val timeline = new File(dir, ".hoodie")
    require(timeline.isDirectory, s"not a Hudi table (no .hoodie): $tableDir")
    // base files become visible through .commit instants (CoW writes,
    // MoR compactions) — deltacommits only add log files
    val completed = Option(timeline.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.endsWith(".commit") ||
        f.getName.endsWith(".deltacommit"))
      .map(_.getName.takeWhile(_ != '.')).toSet
    val groups = listBaseFiles(dir, "")
      .filter { case (_, _, instant, _) => completed(instant) }
      .groupBy { case (part, fileId, _, _) => (part, fileId) }
      .map { case (_, slices) => slices.maxBy(_._3) }
      .toSeq
    require(groups.nonEmpty, s"no committed base files under $tableDir")
    s.read.parquet(groups.map(_._4.getPath): _*)
  }

  private def readAt(s: SparkSession, tableDir: String,
      asOf: Option[String]): DataFrame = {
    val dir = new File(tableDir)
    val timeline = new File(dir, ".hoodie")
    require(timeline.isDirectory, s"not a Hudi table (no .hoodie): $tableDir")
    val props = new java.util.Properties()
    val pf = new File(timeline, "hoodie.properties")
    if (pf.isFile) {
      val in = new java.io.FileInputStream(pf)
      try props.load(in) finally in.close()
    }
    // CoW completes instants as <i>.commit; MoR delta writes complete as
    // <i>.deltacommit (compactions still as .commit)
    val completed = Option(timeline.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.endsWith(".commit") ||
        f.getName.endsWith(".deltacommit"))
      .map(_.getName.takeWhile(_ != '.'))
      .filter(i => asOf.forall(i <= _)).toSet
    val groups = listBaseFiles(dir, "")
      .filter { case (_, _, instant, _) => completed(instant) }
      .groupBy { case (part, fileId, _, _) => (part, fileId) }
      .map { case (_, slices) => slices.maxBy(_._3) }
      .toSeq
    props.getProperty("hoodie.table.type", "COPY_ON_WRITE") match {
      case "COPY_ON_WRITE" =>
        require(groups.nonEmpty, s"no committed base files under $tableDir")
        s.read.parquet(groups.map(_._4.getPath): _*)
      case "MERGE_ON_READ" =>
        val keyField = Option(
          props.getProperty("hoodie.table.recordkey.fields"))
          .map(_.trim).filter(_.nonEmpty)
          .getOrElse(throw new IllegalArgumentException(
            "MERGE_ON_READ read requires hoodie.table.recordkey.fields " +
              "in hoodie.properties"))
        require(!keyField.contains(","),
          s"composite record keys unsupported: $keyField")
        HudiMor.read(s, dir, groups, completed, keyField)
      case other => throw new IllegalArgumentException(
        s"unsupported hoodie.table.type=$other " +
          "(supported: COPY_ON_WRITE, MERGE_ON_READ)")
    }
  }

  // ---------- fixture writer (tests + the driver gate)

  /** Write `df` as the base file of file group `fileId` at `instant`
    * (optionally inside a partition dir); no timeline entry — pair with
    * completeCommit. */
  def writeBaseFile(df: DataFrame, tableDir: File, partition: String,
      fileId: String, instant: String): Unit = {
    val name = s"${fileId}_0-0-0_$instant.parquet"
    LakeFiles.stage(df.coalesce(1), tableDir)(_ =>
      if (partition.isEmpty) name else s"$partition/$name")
  }

  /** Mark `instant` completed on the timeline. */
  def completeCommit(tableDir: File, instant: String): Unit = {
    val timeline = new File(tableDir, ".hoodie")
    timeline.mkdirs()
    java.nio.file.Files.write(
      new File(timeline, s"$instant.commit").toPath,
      "{}".getBytes("UTF-8"))
  }

  /** Mark `instant` in-flight (its files must stay invisible). */
  def inflightCommit(tableDir: File, instant: String): Unit = {
    val timeline = new File(tableDir, ".hoodie")
    timeline.mkdirs()
    java.nio.file.Files.write(
      new File(timeline, s"$instant.inflight").toPath,
      "{}".getBytes("UTF-8"))
  }

  /** Mark `instant` as a completed DELTA commit (MoR log write). */
  def completeDeltaCommit(tableDir: File, instant: String): Unit = {
    val timeline = new File(tableDir, ".hoodie")
    timeline.mkdirs()
    java.nio.file.Files.write(
      new File(timeline, s"$instant.deltacommit").toPath,
      "{}".getBytes("UTF-8"))
  }

  /** Write `.hoodie/hoodie.properties` (table type + record key). */
  def writeProperties(tableDir: File, tableType: String,
      recordKeyField: String = ""): Unit = {
    val timeline = new File(tableDir, ".hoodie")
    timeline.mkdirs()
    val keyLine = if (recordKeyField.isEmpty) ""
    else s"hoodie.table.recordkey.fields=$recordKeyField\n"
    java.nio.file.Files.write(
      new File(timeline, "hoodie.properties").toPath,
      (s"hoodie.table.name=graft\nhoodie.table.type=$tableType\n" + keyLine)
        .getBytes("UTF-8"))
  }
}
