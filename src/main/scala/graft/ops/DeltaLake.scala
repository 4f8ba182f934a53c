package graft.ops

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** MERGE outcome counts, shared by the Delta (copy-on-write) and Iceberg
  * (merge-on-read) writers. */
final case class MergeStats(updated: Long, deleted: Long, inserted: Long)

/** Minimal Delta Lake TABLE READER — the reference ships a full connector
  * (presto-delta/); the protocol itself is public: a table is a directory
  * of parquet data files plus `_delta_log/<version 20-digit>.json` commit
  * files whose newline-delimited JSON actions (`metaData`, `add`,
  * `remove`, `protocol`) replay to the current snapshot. This reader
  * hand-rolls that replay (the offline build reaches no Delta library):
  *
  *  - commits apply in version order; within the log, the LAST `metaData`
  *    wins (schema evolution), an `add` activates a data file, a `remove`
  *    deactivates it (path-keyed, the protocol's tombstone rule);
  *  - `schemaString` is Spark's own DataType JSON — `DataType.fromJson`
  *    parses it directly (Delta serializes Spark schemas);
  *  - partitioned tables store partition values in `add.partitionValues`
  *    (data files do NOT carry those columns): files group by their
  *    partition tuple and each group's columns are injected as typed
  *    literals, so partition pruning happens before any parquet I/O when
  *    a filter lands on them (Catalyst folds the literal comparison).
  *
  * Scale note: replay reads ONLY the JSON log (KBs per commit), never
  * data; the data scan is a plain multi-file parquet read with pushdown
  * and pruning intact — exactly how the reference connector maps Delta
  * metadata onto its Hive-style parquet scan. Checkpoint compaction is
  * supported: `_last_checkpoint` + `<v>.checkpoint.parquet` (or the
  * multi-part `<v>.checkpoint.<i>.<N>.parquet` family when `parts` is
  * recorded) seed the snapshot and only later JSON commits replay, so
  * the reader survives log retention and replay stays O(commits since
  * checkpoint).
  *
  * Writers (INSERT, DELETE, UPDATE, MERGE, OPTIMIZE, RESTORE) share one
  * path, the contract of the reference's TableWriter -> TableFinish:
  *
  *  - data files land through [[LakeFiles.stage]] under names no other
  *    writer can choose (`part-<version>-<uuid>.parquet`), so a writer
  *    never overwrites files another writer has staged;
  *  - the commit is put-if-absent: version = the version the writer's
  *    snapshot was read at, plus 1, published by [[LakeFiles.publishNew]].
  *    A writer that lost the race for that version raises
  *    `ConcurrentModificationException`; the winner's commit stays
  *    byte-identical, and the loser's staged files are unreferenced
  *    (VACUUM reclaims them);
  *  - every writer's commit that lands on version 9, 19, ... writes a
  *    checkpoint, so replay stays O(10) whichever statements the table
  *    receives.
  */
object DeltaLake {

  private val mapper = new ObjectMapper()

  private final case class AddFile(path: String,
      partitionValues: Map[String, String],
      dv: Option[DeletionVectors.Descriptor] = None)

  /** The table as of `version`, the last commit (or checkpoint) replay
    * applied: a writer that read it commits `version + 1`. */
  private final case class Snapshot(version: Long, schema: StructType,
      partCols: Seq[String], files: Seq[AddFile], txns: Map[String, Long])

  /** Reader feature set (Delta spec "Protocol Evolution"): versions 1-2
    * outright (plain replay + column mapping `name`), version 3 when
    * every advertised readerFeature is one this reader implements —
    * deletion vectors and column mapping. Anything else (v2 checkpoints,
    * type widening, …) refuses rather than silently misreads. */
  private val SupportedReaderFeatures =
    Set("deletionVectors", "columnMapping", "timestampNtz")

  private def checkProtocol(minReader: Int, features: Seq[String]): Unit =
    require(minReader <= 2 ||
      (minReader == 3 && features.forall(SupportedReaderFeatures)),
      s"unsupported Delta reader protocol: minReaderVersion=$minReader" +
        (if (features.nonEmpty) s" readerFeatures=${features.mkString(",")}"
         else "") +
        s" (supported: reader versions 1-2, and 3 with features " +
        s"${SupportedReaderFeatures.mkString("/")})")

  /** Table features riding on metaData.configuration: column mapping
    * `name` mode is implemented (physical names come from the schema's
    * per-field `delta.columnMapping.physicalName` metadata); `id` mode
    * needs parquet field-id resolution and is refused, not misread. */
  private def checkTableConfig(cfg: Map[String, String]): Unit = {
    val mode = cfg.getOrElse("delta.columnMapping.mode", "none")
    require(mode == "none" || mode == "name",
      s"unsupported Delta table feature: delta.columnMapping.mode=$mode")
  }

  /** The parquet-side name of a logical column under column mapping
    * `name` mode (identity without mapping). add.partitionValues keys
    * are ALSO physical names. */
  private def physName(f: StructField): String =
    if (f.metadata.contains("delta.columnMapping.physicalName"))
      f.metadata.getString("delta.columnMapping.physicalName")
    else f.name

  private def hasMapping(schema: StructType): Boolean =
    schema.fields.exists(f =>
      f.metadata.contains("delta.columnMapping.physicalName"))

  private def parseDv(a: com.fasterxml.jackson.databind.JsonNode)
      : Option[DeletionVectors.Descriptor] =
    Option(a.get("deletionVector")).filterNot(_.isNull).map { d =>
      DeletionVectors.Descriptor(
        d.get("storageType").asText,
        d.get("pathOrInlineDv").asText,
        Option(d.get("offset")).map(_.asInt).getOrElse(1),
        d.get("sizeInBytes").asInt,
        Option(d.get("cardinality")).map(_.asLong).getOrElse(-1L))
    }

  /** A JSON object's fields as strings (JSON null stays null). */
  private def stringMap(o: com.fasterxml.jackson.databind.JsonNode)
      : Map[String, String] = {
    val b = Map.newBuilder[String, String]
    o.properties().forEach(e =>
      b += (e.getKey -> (if (e.getValue.isNull) null else e.getValue.asText)))
    b.result()
  }

  /** The one parser of an `add` action. */
  private def parseAdd(a: com.fasterxml.jackson.databind.JsonNode): AddFile =
    AddFile(a.get("path").asText,
      Option(a.get("partitionValues")).map(stringMap).getOrElse(Map.empty),
      parseDv(a))

  private def isDataChange(a: com.fasterxml.jackson.databind.JsonNode) =
    !a.has("dataChange") || a.get("dataChange").asBoolean

  /** The actions of JSON commit `v`, which must survive retention. */
  private def commitActions(logDir: File, v: Long, what: String)
      : Iterator[com.fasterxml.jackson.databind.JsonNode] = {
    val f = new File(logDir, f"$v%020d.json")
    require(f.isFile, s"Delta commit $v is gone (log retention?) — " +
      s"cannot $what")
    new String(java.nio.file.Files.readAllBytes(f.toPath), UTF_8)
      .linesIterator.filter(_.trim.nonEmpty).map(mapper.readTree)
  }

  /** A partition value as a typed literal column named after `f`. */
  private def partLit(f: StructField, v: String) =
    (if (v == null) lit(null) else lit(v)).cast(f.dataType).as(f.name)

  /** Writers refuse tables whose snapshot carries deletion vectors:
    * rewriting or checkpointing a DV'd file without honoring its vector
    * would resurrect deleted rows. Read support only. */
  private def requireNoDv(files: Seq[AddFile], op: String): Unit =
    require(files.forall(_.dv.isEmpty),
      s"$op on a Delta table with deletion vectors is unsupported " +
        "(read support only)")


  /** Resolve an add.path against the table root. The spec allows ABSOLUTE
    * paths/URIs (shallow clones reference another table's files in
    * place); relative paths are table-rooted. */
  private def resolvePath(dir: File, path: String): File = {
    val p = path.stripPrefix("file:")
    if (p.startsWith("/")) new File(p) else new File(dir, p)
  }

  /** Replay `_delta_log` up to `maxVersion` into a [[Snapshot]].
    * When `_last_checkpoint` exists, the snapshot seeds from the
    * checkpoint parquet (one row per action, nullable `add` / `remove` /
    * `metaData` / `protocol` struct columns — the protocol's compaction
    * format) and only the JSON commits AFTER the checkpoint version
    * replay on top: the reader stays correct after log retention deletes
    * old commits, and replay cost is O(commits since checkpoint). */
  private def replay(s: SparkSession, tableDir: File,
      maxVersion: Long = Long.MaxValue): Snapshot = {
    val logDir = new File(tableDir, "_delta_log")
    var schema: StructType = null
    var partCols: Seq[String] = Seq.empty
    val active = scala.collection.mutable.LinkedHashMap.empty[String, AddFile]
    val txns = scala.collection.mutable.HashMap.empty[String, Long]
    // checkpoint seed
    val lastCkpt = new File(logDir, "_last_checkpoint")
    val ckptVersion: Long = if (!lastCkpt.isFile) -1L else {
      val n = mapper.readTree(new String(
        java.nio.file.Files.readAllBytes(lastCkpt.toPath), UTF_8))
      val v = n.get("version").asLong
      if (v > maxVersion) {
        // time travel to before the checkpoint: the seed cannot be
        // unwound, but a from-scratch JSON replay still works as long as
        // every commit 0..maxVersion survives retention
        require((0L to maxVersion).forall(i =>
          new File(logDir, f"$i%020d.json").isFile),
          s"time travel to $maxVersion predates checkpoint $v and the " +
            s"JSON commits 0..$maxVersion are no longer all present")
        -1L
      } else replayCheckpoint(logDir, n, v, schema = st => schema = st,
        parts0 = pc => partCols = pc, active, txns)
    }
    val commits = Option(logDir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.matches("\\d{20}\\.json"))
      .map(_.getName.stripSuffix(".json").toLong)
      .filter(fv => fv > ckptVersion && fv <= maxVersion)
      .sorted
    require(ckptVersion >= 0 || commits.nonEmpty,
      s"no _delta_log commits under $tableDir")
    for (v <- commits; n <- commitActions(logDir, v, "replay")) {
      if (n.has("protocol")) {
        val p = n.get("protocol")
        val feats = Option(p.get("readerFeatures")).toSeq
          .flatMap(a => (0 until a.size()).map(a.get(_).asText))
        checkProtocol(p.get("minReaderVersion").asInt, feats)
      } else if (n.has("metaData")) {
        val m = n.get("metaData")
        Option(m.get("configuration")).foreach(c =>
          checkTableConfig(stringMap(c)))
        schema = DataType.fromJson(m.get("schemaString").asText)
          .asInstanceOf[StructType]
        partCols = (0 until m.get("partitionColumns").size())
          .map(i => m.get("partitionColumns").get(i).asText)
      } else if (n.has("add")) {
        val a = parseAdd(n.get("add"))
        active.put(a.path, a)
      } else if (n.has("remove")) {
        active.remove(n.get("remove").get("path").asText)
      } else if (n.has("txn")) {
        // application transaction watermark (the protocol's idempotent-
        // writer contract): latest version per appId
        val t = n.get("txn")
        val app = t.get("appId").asText
        val ver = t.get("version").asLong
        if (txns.getOrElse(app, Long.MinValue) < ver) txns(app) = ver
      } // commitInfo: no table-state effect
    }
    require(schema != null, s"no metaData action in $tableDir/_delta_log")
    Snapshot(commits.lastOption.getOrElse(ckptVersion), schema, partCols,
      active.values.toSeq, txns.toMap)
  }

  /** Seed the snapshot from `<v>.checkpoint[.i.N].parquet`; returns v.
    * The checkpoint is read on the driver with the parquet reader — its
    * rows all end up in the driver's snapshot anyway, and a Spark job per
    * replay would cost more than the JSON commits the checkpoint saves. */
  private def replayCheckpoint(logDir: File,
      n: com.fasterxml.jackson.databind.JsonNode, v: Long,
      schema: StructType => Unit, parts0: Seq[String] => Unit,
      active: scala.collection.mutable.LinkedHashMap[String, AddFile],
      txns: scala.collection.mutable.HashMap[String, Long])
      : Long = {
    import org.apache.parquet.example.data.Group
    // multi-part checkpoints name N files <v>.checkpoint.<i>.<N>.parquet
    // and record "parts"; a single-part one is <v>.checkpoint.parquet
    val parts = Option(n.get("parts")).map(_.asInt).getOrElse(0)
    val ckptFiles =
      if (parts <= 0) Seq(new File(logDir, f"$v%020d.checkpoint.parquet"))
      else (1 to parts).map(i =>
        new File(logDir, f"$v%020d.checkpoint.$i%010d.$parts%010d.parquet"))
    ckptFiles.foreach(f =>
      require(f.exists(), s"_last_checkpoint names missing $f"))
    // null struct columns and absent fields both read as None
    def sub(g: Group, f: String): Option[Group] =
      if (g.getType.containsField(f) && g.getFieldRepetitionCount(f) > 0)
        Some(g.getGroup(f, 0))
      else None
    def str(g: Group, f: String): Option[String] =
      if (g.getType.containsField(f) && g.getFieldRepetitionCount(f) > 0)
        Some(g.getString(f, 0))
      else None
    def num(g: Group, f: String): Option[Long] =
      if (!g.getType.containsField(f) || g.getFieldRepetitionCount(f) == 0)
        None
      else if (g.getType.getType(f).asPrimitiveType.getPrimitiveTypeName ==
          org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT32)
        Some(g.getInteger(f, 0).toLong)
      else Some(g.getLong(f, 0))
    // a LIST / MAP group holds one repeated field: list elements are its
    // first field, map entries its key and value fields
    def entries(g: Group, f: String): Seq[Group] = sub(g, f).toSeq
      .flatMap(l => (0 until l.getFieldRepetitionCount(0)).map(l.getGroup(0, _)))
    def strings(g: Group, f: String): Seq[String] =
      entries(g, f).flatMap(e => str(e, e.getType.getFieldName(0)))
    def mapOf(g: Group, f: String): Map[String, String] =
      entries(g, f).map(e =>
        e.getString(0, 0) -> str(e, e.getType.getFieldName(1)).orNull).toMap
    ckptFiles.foreach { f =>
      val reader = new org.apache.parquet.hadoop.ParquetReader.Builder[Group](
          LakeFiles.inputFile(f)) {
        override protected def getReadSupport() =
          new org.apache.parquet.hadoop.example.GroupReadSupport()
      }.build()
      try Iterator.continually(reader.read()).takeWhile(_ != null).foreach {
        r =>
          sub(r, "protocol").foreach(p => checkProtocol(
            num(p, "minReaderVersion").get.toInt, strings(p, "readerFeatures")))
          sub(r, "metaData").foreach { m =>
            checkTableConfig(mapOf(m, "configuration"))
            schema(DataType.fromJson(str(m, "schemaString").get)
              .asInstanceOf[StructType])
            parts0(strings(m, "partitionColumns"))
          }
          sub(r, "add").foreach { a =>
            // real checkpoints of DV tables carry the descriptor struct
            val dv = sub(a, "deletionVector").map(d =>
              DeletionVectors.Descriptor(str(d, "storageType").get,
                str(d, "pathOrInlineDv").get,
                num(d, "offset").getOrElse(1L).toInt,
                num(d, "sizeInBytes").get.toInt,
                num(d, "cardinality").getOrElse(-1L)))
            val path = str(a, "path").get
            active.put(path, AddFile(path, mapOf(a, "partitionValues"), dv))
          }
          sub(r, "remove").foreach(rm => active.remove(str(rm, "path").get))
          sub(r, "txn").foreach { t =>
            val app = str(t, "appId").get
            val ver = num(t, "version").get
            if (txns.getOrElse(app, Long.MinValue) < ver) txns(app) = ver
          }
      } finally reader.close()
    }
    v
  }

  /** Read the current snapshot of a Delta table directory. */
  def read(s: SparkSession, tableDir: String): DataFrame =
    readVersion(s, tableDir, Long.MaxValue)

  /** Time travel: read the snapshot as of commit `version` (Delta's
    * VERSION AS OF) — replay stops after that commit. A checkpoint newer
    * than `version` cannot be unwound, but the reader falls back to a
    * from-scratch JSON replay whenever commits 0..version all survive
    * retention, and errors only when they are actually gone. */
  def readVersion(s: SparkSession, tableDir: String, version: Long)
      : DataFrame = {
    val dir = new File(tableDir)
    val snap = replay(s, dir, version)
    scanFiles(s, dir, snap.schema, snap.partCols, snap.files)
  }

  /** Change-data-feed-style extraction (Delta's table_changes): every
    * row change committed in versions (fromExclusive, to], as the table
    * columns plus `_change_type` ('insert' / 'delete' — an UPDATE
    * surfaces as delete+insert of the row versions) and
    * `_commit_version`. Append commits emit their files' rows as
    * inserts; copy-on-write rewrite commits emit the MULTISET DIFF of
    * removed-file rows vs added-file rows (unchanged rewritten rows
    * cancel out — an exceptAll per side), so the result is exactly the
    * rows that changed, not the files. dataChange=false commits
    * (OPTIMIZE) emit nothing. Needs the range's JSON commits AND the
    * removed data files to survive retention/VACUUM. */
  def tableChanges(s: SparkSession, tableDir: String, fromExclusive: Long,
      to0: Long): DataFrame = {
    val dir = new File(tableDir)
    val logDir = new File(dir, "_delta_log")
    val to = math.min(to0, currentVersion(tableDir))
    val Snapshot(_, schema, partCols, _, _) = replay(s, dir, to)
    require(!hasMapping(schema),
      "table_changes on column-mapped Delta tables unsupported")
    val frames = ((fromExclusive + 1) to to).flatMap { v =>
      val adds = Seq.newBuilder[AddFile]
      val removes = Seq.newBuilder[String]
      commitActions(logDir, v, "compute the change range").foreach { n =>
        if (n.has("add") && isDataChange(n.get("add")))
          adds += parseAdd(n.get("add"))
        else if (n.has("remove") && isDataChange(n.get("remove")))
          removes += n.get("remove").get("path").asText
      }
      val (as, rs) = (adds.result(), removes.result())
      if (as.isEmpty && rs.isEmpty) None
      else {
        val newRows = scanFiles(s, dir, schema, partCols, as)
        val tagged =
          if (rs.isEmpty) newRows.withColumn("_change_type", lit("insert"))
          else {
            // resolve the removed files' partition tuples from the
            // pre-commit snapshot
            val prev = replay(s, dir, v - 1).files.map(a => a.path -> a).toMap
            val oldRows = scanFiles(s, dir, schema, partCols,
              rs.flatMap(prev.get))
            newRows.exceptAll(oldRows)
              .withColumn("_change_type", lit("insert"))
              .unionAll(oldRows.exceptAll(newRows)
                .withColumn("_change_type", lit("delete")))
          }
        Some(tagged.withColumn("_commit_version", lit(v)))
      }
    }
    frames.reduceOption(_ unionAll _).getOrElse {
      s.createDataFrame(java.util.Collections.emptyList[Row](),
        StructType(schema.fields :+
          StructField("_change_type", StringType) :+
          StructField("_commit_version", LongType)))
    }
  }

  /** Scan a specific file set with partition-literal injection: one
    * parquet read per distinct partition tuple (each group's files go to
    * a single multi-path scan; the injected literals keep the declared
    * column order). `tags` adds each row's identity for the writers:
    * `__fp` (canonical absolute file path) and `__ri` (row index in that
    * file), from the parquet `_metadata` columns. */
  private def scanFiles(s: SparkSession, dir: File, schema: StructType,
      partCols: Seq[String], files: Seq[AddFile],
      tags: Boolean = false): DataFrame = {
    // under column mapping `name` mode, data files store PHYSICAL column
    // names and partitionValues key on them too — read physical, expose
    // logical
    val dataSchema = StructType(schema.fields.filterNot(f =>
      partCols.contains(f.name))
      .map(f => StructField(physName(f), f.dataType, f.nullable)))
    if (files.isEmpty)
      return s.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        StructType(schema.fields.map(f =>
          StructField(f.name, f.dataType, f.nullable)) ++
          (if (tags) Seq(StructField("__fp", StringType),
            StructField("__ri", LongType)) else Nil)))
    val tagCols =
      if (!tags) Nil
      else Seq(regexp_replace(regexp_replace(col("_metadata.file_path"),
        "^file:", ""), "^/+", "/").as("__fp"),
        col("_metadata.row_index").as("__ri"))
    def group(pv: Map[String, String], paths: Seq[String],
        dv: Option[DataFrame]): DataFrame = {
      val df0 = s.read.schema(dataSchema).parquet(paths: _*)
      // deletion vectors: anti-join the file's deleted row indexes
      // (broadcast — a DV is bounded by its file's row count)
      val df = dv match {
        case None => df0
        case Some(posDf) =>
          df0.withColumn("__ri", col("_metadata.row_index"))
            .join(broadcast(posDf), col("__ri") === posDf("__dv_pos"),
              "left_anti")
      }
      val cols = schema.fields.map { f =>
        if (partCols.contains(f.name))
          partLit(f, pv.getOrElse(physName(f), pv.getOrElse(f.name, null)))
        else col(physName(f)).as(f.name)
      }
      df.select((cols.toIndexedSeq ++ tagCols): _*)
    }
    val (dvFiles, plain) = files.partition(_.dv.isDefined)
    val plainDf = plain.groupBy(_.partitionValues).map { case (pv, g) =>
      group(pv, g.map(a => resolvePath(dir, a.path).getPath), None)
    }
    // DV'd files scan one-by-one: positions are per file
    val dvDfs = dvFiles.map { a =>
      import s.implicits._
      val pos = DeletionVectors.positions(dir, a.dv.get)
      group(a.partitionValues, Seq(resolvePath(dir, a.path).getPath),
        Some(pos.toDF("__dv_pos")))
    }
    (plainDf ++ dvDfs).reduce(_ unionAll _)
  }

  /** Latest committed version of the table's log, -1 if none. */
  def currentVersion(tableDir: String): Long =
    Option(new File(tableDir, "_delta_log").listFiles())
      .getOrElse(Array.empty).map(_.getName).collect {
        case n if n.matches("\\d{20}\\.json") =>
          n.stripSuffix(".json").toLong
        case n if n.matches("\\d{20}\\.checkpoint\\.parquet") =>
          n.stripSuffix(".checkpoint.parquet").toLong
      }.foldLeft(-1L)(math.max)

  /** Time travel by timestamp (Delta's TIMESTAMP AS OF): the snapshot at
    * the GREATEST commit whose timestamp is <= `tsMillis`. Commit
    * timestamps are the log files' modification times — the protocol's
    * rule before in-commit timestamps; same caveat as real Delta: they
    * must survive file copies. Errors when the timestamp predates the
    * first surviving commit. */
  def readTimestamp(s: SparkSession, tableDir: String, tsMillis: Long)
      : DataFrame = {
    val logDir = new File(tableDir, "_delta_log")
    val commits = Option(logDir.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.matches("\\d{20}\\.json"))
      .map(f => (f.getName.stripSuffix(".json").toLong, f.lastModified()))
      .sortBy(_._1)
    require(commits.nonEmpty,
      s"no JSON commits in $tableDir/_delta_log to time-travel by timestamp")
    val v = commits.takeWhile(_._2 <= tsMillis).lastOption.map(_._1)
      .getOrElse(throw new IllegalArgumentException(
        s"timestamp $tsMillis is before the table's first commit"))
    readVersion(s, tableDir, v)
  }

  /** The rows ADDED in commits (fromExclusive, to] — the streaming
    * source's incremental batch. Only `dataChange=true` adds count
    * (OPTIMIZE rewrites are invisible, as the protocol intends). A
    * `dataChange` remove in the range means the range is not pure
    * appends (DELETE/UPDATE/MERGE rewrote rows): raise unless
    * `ignoreChanges` (the standard Delta source contract — with it,
    * rewritten files re-emit their rows and downstream must dedup).
    * Requires the JSON commits in range to survive retention. */
  def readChanges(s: SparkSession, tableDir: String, fromExclusive: Long,
      to: Long, ignoreChanges: Boolean = false): DataFrame = {
    val dir = new File(tableDir)
    val logDir = new File(dir, "_delta_log")
    val snap = replay(s, dir, to)
    val adds = Seq.newBuilder[AddFile]
    ((fromExclusive + 1) to to).foreach { v =>
      commitActions(logDir, v, "read the change range").foreach { n =>
        if (n.has("add") && isDataChange(n.get("add")))
          adds += parseAdd(n.get("add"))
        else if (n.has("remove"))
          require(!isDataChange(n.get("remove")) || ignoreChanges,
            s"Delta commit $v rewrites rows (remove with dataChange) — " +
              "not an append; set ignoreChanges=true to re-emit " +
              "rewritten files")
      }
    }
    scanFiles(s, dir, snap.schema, snap.partCols, adds.result())
  }

  // ---------- writers: stage data files, then one put-if-absent commit

  /** The commit every engine writer goes through: `actions` become
    * version `snap.version + 1` — the snapshot the writer read, plus one —
    * published put-if-absent ([[commit]]), so a writer that lost the race
    * for that version raises `ConcurrentModificationException` instead of
    * overwriting the winner. Every 10th version also writes a checkpoint
    * (the standard writer cadence: replay stays O(10) regardless of table
    * age, and log retention can reclaim old JSON commits). Returns the
    * committed version. */
  private def commitNext(s: SparkSession, dir: File, snap: Snapshot,
      operation: String, actions: Seq[String]): Long = {
    val version = snap.version + 1
    commit(dir, version, commitInfoAction(operation) +: actions)
    // tables the checkpoint writer refuses keep replaying their log
    if ((version + 1) % 10 == 0 && !hasMapping(snap.schema) &&
        snap.files.forall(_.dv.isEmpty))
      writeCheckpoint(s, dir)
    version
  }

  /** Stage `df` as data files of commit `version`: Hive directories on
    * `partCols` (empty = the table root), each file under a name no other
    * writer can choose. */
  private def stageData(dir: File, df: DataFrame, partCols: Seq[String],
      version: Long): Seq[LakeFiles.Staged] =
    LakeFiles.stage(df, dir, partCols) { pv =>
      val rel = LakeFiles.partitionDir(partCols, pv)
      (if (rel.isEmpty) "" else rel + "/") +
        LakeFiles.unique(f"part-$version%020d")
    }

  private def requireNoMapping(schema: StructType): Unit =
    require(!hasMapping(schema),
      "DML on column-mapped Delta tables unsupported (read-only support)")

  /** INSERT INTO (append) a Delta table — the same commit contract as the
    * reference's TableFinishOperator over presto-delta: write the parquet
    * data files first (fully DISTRIBUTED — the rows never pass through
    * the driver), then make them visible with ONE atomic `add`-actions
    * JSON commit; a reader replaying the log sees all of the insert or
    * none of it. Partitioned tables write through Spark's partitionBy
    * (Hive-style dirs, partition columns dropped from the data files —
    * exactly Delta's physical layout) and record each leaf's
    * partitionValues in its add action. Returns the committed version. */
  def insert(s: SparkSession, tableDir: String, df: DataFrame): Long =
    insertTxn(s, tableDir, df, txn = None).get

  /** Idempotent append: `txn = Some((appId, version))` commits a `txn`
    * watermark action in the SAME atomic commit as the adds (the Delta
    * protocol's transaction-identifier contract — how real streaming
    * writers get exactly-once). If the table's watermark for `appId` is
    * already >= `version` the batch was applied by an earlier attempt:
    * nothing is written and None is returned. */
  def insertTxn(s: SparkSession, tableDir: String, df: DataFrame,
      txn: Option[(String, Long)]): Option[Long] =
    append(s, tableDir, df, txn).map(_._1)

  /** [[insertTxn]] returning (committed version, rows written); the row
    * count comes from the staged files' footers, not a table scan. */
  private[graft] def append(s: SparkSession, tableDir: String,
      df: DataFrame, txn: Option[(String, Long)]): Option[(Long, Long)] = {
    val dir = new File(tableDir)
    val snap = replay(s, dir) // validates protocol too
    requireNoMapping(snap.schema)
    txn.foreach { case (app, ver) =>
      if (snap.txns.getOrElse(app, Long.MinValue) >= ver) return None
    }
    require(df.schema.fields.map(f => (f.name, f.dataType)).sortBy(_._1)
      .sameElements(snap.schema.fields.map(f => (f.name, f.dataType))
        .sortBy(_._1)),
      s"INSERT schema ${df.schema.simpleString} does not match table " +
        s"schema ${snap.schema.simpleString}")
    val staged = stageData(dir,
      df.select(snap.schema.fieldNames.map(col).toIndexedSeq: _*),
      snap.partCols, snap.version + 1)
    require(staged.nonEmpty, "INSERT produced no data files")
    val version = commitNext(s, dir, snap,
      if (txn.isDefined) "STREAMING UPDATE" else "WRITE",
      staged.map(f => addAction(f.path, f.partition)) ++
        txn.map { case (app, ver) => txnAction(app, ver) })
    Some((version, staged.map(_.rows).sum))
  }

  /** OPTIMIZE (bin-packing compaction; Delta's OPTIMIZE command, the
    * reference's equivalent being connector-side compaction): within each
    * partition group, groups holding more than one file are rewritten into
    * `ceil(bytes / targetBytes)` coalesced files — one distributed
    * read+write per group, ONE atomic remove+add commit for the whole
    * table, and the adds carry `dataChange=false` (the snapshot's ROWS are
    * unchanged; streaming readers must not re-emit them). Optional
    * `zorderBy` sorts rows by the interleaved z-key before packing so
    * multi-column range predicates touch fewer files (ops/Layout z-order).
    * Returns the number of files removed. */
  def optimize(s: SparkSession, tableDir: String,
      targetBytes: Long = 128L * 1024 * 1024,
      zorderBy: Seq[String] = Seq.empty): Long = {
    val dir = new File(tableDir).getCanonicalFile
    val snap = replay(s, dir)
    requireNoMapping(snap.schema)
    requireNoDv(snap.files, "OPTIMIZE")
    require(zorderBy.forall(c => snap.schema.fieldNames.contains(c) &&
      !snap.partCols.contains(c)), s"ZORDER BY columns $zorderBy must be " +
      "non-partition table columns")
    val dataSchema = StructType(snap.schema.fields.filterNot(f =>
      snap.partCols.contains(f.name)))
    val compacted = snap.files.groupBy(_.partitionValues).toSeq
      .filter { case (_, group) => group.size > 1 || zorderBy.nonEmpty }
    val actions = compacted.flatMap { case (pv, group) =>
        val paths = group.map(a => resolvePath(dir, a.path))
        val bytes = paths.map(_.length()).sum
        val nOut = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
        val df0 = s.read.schema(dataSchema)
          .parquet(paths.map(_.getPath): _*)
        val df =
          if (zorderBy.isEmpty) df0.coalesce(nOut)
          else df0.repartitionByRange(nOut,
            graft.ops.Layout.zorderKey(zorderBy.map(col): _*))
            .sortWithinPartitions(
              graft.ops.Layout.zorderKey(zorderBy.map(col): _*))
        group.map(a => removeAction(a.path, dataChange = false)) ++
          stageData(dir, df, Nil, snap.version + 1).map(f =>
            addAction(f.path, pv, dataChange = false))
    }
    if (actions.nonEmpty) commitNext(s, dir, snap, "OPTIMIZE", actions)
    compacted.map(_._2.size.toLong).sum
  }

  /** VACUUM: physically delete data files that are NOT in the current
    * snapshot and were last touched more than `retentionMs` ago (Delta's
    * retention contract — tombstoned rewrites and orphaned staging
    * leftovers). Time travel to versions needing those files stops
    * working, exactly as on real Delta tables. Returns files deleted. */
  def vacuum(s: SparkSession, tableDir: String,
      retentionMs: Long = 7L * 24 * 3600 * 1000): Long = {
    val dir = new File(tableDir).getCanonicalFile
    val active = replay(s, dir).files.map(a =>
      resolvePath(dir, a.path).getCanonicalPath).toSet
    val cutoff = System.currentTimeMillis() - retentionMs
    var n = 0L
    def walk(d: File): Unit =
      Option(d.listFiles()).getOrElse(Array.empty).foreach {
        case sub if sub.isDirectory && sub.getName != "_delta_log" &&
            !sub.getName.startsWith(".staging_") => walk(sub)
        case f if f.isFile && f.getName.endsWith(".parquet") &&
            !active(f.getCanonicalPath) && f.lastModified() < cutoff =>
          if (f.delete()) n += 1
        case _ =>
      }
    walk(dir)
    n
  }

  /** CONVERT TO DELTA (Delta's in-place import of a plain parquet
    * directory — no data is copied or moved): discover the leaf parquet
    * files (Hive-style `k=v` partition dirs included), infer the schema
    * from one file plus typed partition columns, and write commit 0
    * (protocol + metaData + one add per file). The directory becomes a
    * readable, appendable Delta table; re-converting an existing table
    * raises. Returns the number of files imported. */
  def convertToDelta(s: SparkSession, dir0: String,
      partitionSchema: Map[String, DataType] = Map.empty): Long = {
    val dir = new File(dir0).getCanonicalFile
    require(!new File(dir, "_delta_log").exists(),
      s"$dir0 already has a _delta_log")
    val files = Seq.newBuilder[(String, Map[String, String])]
    def walk(d: File, pv: Map[String, String]): Unit =
      Option(d.listFiles()).getOrElse(Array.empty)
        .sortBy(_.getName).foreach {
          case sub if sub.isDirectory && sub.getName.contains("=") =>
            val Array(k, v) = sub.getName.split("=", 2)
            val dv = java.net.URLDecoder.decode(v, "UTF-8")
            walk(sub, pv + (k ->
              (if (dv == "__HIVE_DEFAULT_PARTITION__") null else dv)))
          case sub if sub.isDirectory && !sub.getName.startsWith(".") &&
              !sub.getName.startsWith("_") => walk(sub, pv)
          case f if f.isFile && f.getName.endsWith(".parquet") =>
            files += ((dir.toPath.relativize(f.toPath).toString, pv))
          case _ =>
        }
    walk(dir, Map.empty)
    val fs = files.result()
    require(fs.nonEmpty, s"no parquet files under $dir0")
    val partCols = fs.head._2.keys.toSeq.sorted
    require(fs.forall(_._2.keys.toSeq.sorted == partCols),
      "inconsistent partition directory depths")
    val dataSchema =
      s.read.parquet(new File(dir, fs.head._1).getPath).schema
    val schema = StructType(dataSchema.fields ++ partCols.map(c =>
      StructField(c, partitionSchema.getOrElse(c, StringType))))
    commit(dir, 0,
      commitInfoAction("CONVERT") +: protocolAction +:
        metaDataAction(schema, partCols) +:
        fs.map { case (p, pv) => addAction(p, pv) })
    fs.size.toLong
  }

  /** SHALLOW CLONE: create a NEW Delta table at `targetDir` whose commit
    * 0 references the SOURCE table's current data files by ABSOLUTE path
    * (the spec explicitly allows absolute add paths) — zero data copied.
    * The clone then evolves independently: inserts/deletes/merges commit
    * to ITS log (copy-on-write rewrites land as clone-local files; the
    * source's files are never touched). VACUUM on the clone only sweeps
    * files under the clone's root, so shared source files survive.
    * Returns the number of referenced files. */
  def shallowClone(s: SparkSession, sourceDir: String, targetDir: String)
      : Long = {
    val src = new File(sourceDir).getCanonicalFile
    val tgt = new File(targetDir).getCanonicalFile
    require(!new File(tgt, "_delta_log").exists(),
      s"$targetDir already has a _delta_log")
    val snap = replay(s, src)
    requireNoDv(snap.files, "SHALLOW CLONE")
    tgt.mkdirs()
    commit(tgt, 0,
      commitInfoAction("CLONE") +: protocolAction +:
        metaDataAction(snap.schema, snap.partCols) +:
        snap.files.map(a => addAction(
          resolvePath(src, a.path).getCanonicalPath, a.partitionValues)))
    snap.files.size.toLong
  }

  /** RESTORE the table to the snapshot at `version` as a NEW commit
    * (Delta's RESTORE statement): files not active then are removed,
    * files active then but since dropped are re-added, and the target
    * version's schema is re-declared — history is preserved (the restore
    * itself is one more commit, so it can be restored away again).
    * Errors if a needed historical file was vacuumed. Returns the number
    * of add/remove actions committed (0 = already identical). */
  def restore(s: SparkSession, tableDir: String, version: Long): Long = {
    val dir = new File(tableDir).getCanonicalFile
    val snap = replay(s, dir)
    require(!hasMapping(snap.schema),
      "RESTORE on column-mapped Delta tables unsupported")
    requireNoDv(snap.files, "RESTORE")
    val target = replay(s, dir, version)
    requireNoDv(target.files, "RESTORE")
    val curPaths = snap.files.map(_.path).toSet
    val tgtPaths = target.files.map(_.path).toSet
    val removes = snap.files.filterNot(f => tgtPaths(f.path))
    val adds = target.files.filterNot(f => curPaths(f.path))
    adds.foreach(a => require(resolvePath(dir, a.path).isFile,
      s"cannot RESTORE: historical file ${a.path} was vacuumed"))
    val n = removes.size + adds.size
    if (n == 0) return 0L
    commitNext(s, dir, snap, "RESTORE",
      metaDataAction(target.schema, target.partCols) +:
        (removes.map(r => removeAction(r.path)) ++
          adds.map(a => addAction(a.path, a.partitionValues))))
    n.toLong
  }

  /** Latest committed `txn` watermark for `appId` (None if the app has
    * never committed to this table). */
  def txnVersion(s: SparkSession, tableDir: String, appId: String)
      : Option[Long] =
    replay(s, new File(tableDir)).txns.get(appId)

  // ---------- writers: DELETE / UPDATE / MERGE (copy-on-write rewrites)

  /** DELETE FROM the table: rows where `condition` is TRUE disappear
    * (NULL keeps the row, ANSI semantics). Copy-on-write, the same
    * algorithm real Delta writers use without deletion vectors: ONLY the
    * files that contain matching rows are rewritten without those rows,
    * all in one atomic remove+add commit. Returns the deleted count. */
  def delete(s: SparkSession, tableDir: String,
      condition: org.apache.spark.sql.Column): Long =
    rewriteWhere(s, tableDir, condition, sets = Map.empty)

  /** UPDATE: rows matching `condition` get `sets` (evaluated against the
    * PRE-update row, ANSI); others are untouched. Updating a partition
    * column is rejected (the row would have to move partitions). Returns
    * the matched count. */
  def update(s: SparkSession, tableDir: String,
      condition: org.apache.spark.sql.Column,
      sets: Map[String, org.apache.spark.sql.Column]): Long = {
    require(sets.nonEmpty, "UPDATE needs SET columns")
    rewriteWhere(s, tableDir, condition, sets)
  }

  /** The snapshot a row-level writer rewrites, after the guards every
    * such writer shares. */
  private def rewritable(s: SparkSession, dir: File, op: String,
      setCols: Set[String]): Snapshot = {
    val snap = replay(s, dir)
    requireNoMapping(snap.schema)
    requireNoDv(snap.files, op)
    require(setCols.intersect(snap.partCols.toSet).isEmpty,
      s"UPDATE of partition columns ${snap.partCols.mkString(",")} unsupported")
    snap
  }

  /** The files whose `__fp` tag appears in `perFile` (rows of a per-file
    * aggregate, the tag first). */
  private def hitFiles(dir: File, files: Seq[AddFile], perFile: Seq[Row])
      : Seq[AddFile] = {
    val hit = perFile.map(r => new File(r.getString(0)).getCanonicalPath).toSet
    files.filter(a => hit(resolvePath(dir, a.path).getCanonicalPath))
  }

  /** The copy-on-write routine of DELETE, UPDATE and MERGE's matched
    * side: every file in `affected` is replaced by `transform` of its
    * tagged rows, staged per partition group (the partition columns
    * live in the log, so the data files drop them). Returns the remove
    * and add actions; files not in `affected` stay untouched. */
  private def rewriteFiles(s: SparkSession, dir: File, snap: Snapshot,
      affected: Seq[AddFile])(transform: DataFrame => DataFrame)
      : Seq[String] = {
    val dataCols = snap.schema.fieldNames.filterNot(snap.partCols.contains)
    affected.groupBy(_.partitionValues).toSeq.flatMap { case (pv, group) =>
      val rows = scanFiles(s, dir, snap.schema, snap.partCols, group,
        tags = true)
      val out = transform(rows).select(dataCols.map(col).toIndexedSeq: _*)
      group.map(a => removeAction(a.path)) ++
        stageData(dir, out, Nil, snap.version + 1).map(f =>
          addAction(f.path, pv))
    }
  }

  private def rewriteWhere(s: SparkSession, tableDir: String,
      condition: org.apache.spark.sql.Column,
      sets: Map[String, org.apache.spark.sql.Column]): Long = {
    val dir = new File(tableDir).getCanonicalFile
    val snap = rewritable(s, dir, "DELETE/UPDATE", sets.keySet)
    sets.keys.foreach(k => require(snap.schema.fieldNames.contains(k),
      s"SET column $k not in table schema"))
    val hit = coalesce(condition, lit(false))
    // one aggregate finds the files holding matches and counts them
    val perFile = scanFiles(s, dir, snap.schema, snap.partCols, snap.files,
      tags = true).filter(hit).groupBy("__fp").count().collect().toSeq
    if (perFile.isEmpty) return 0L
    val actions = rewriteFiles(s, dir, snap,
      hitFiles(dir, snap.files, perFile)) { rows =>
      if (sets.isEmpty) rows.filter(!hit)
      else rows.select(snap.schema.fields.map { f =>
        sets.get(f.name) match {
          case Some(v) =>
            when(hit, v.cast(f.dataType)).otherwise(col(f.name)).as(f.name)
          case None => col(f.name)
        }
      }.toIndexedSeq: _*)
    }
    commitNext(s, dir, snap, if (sets.isEmpty) "DELETE" else "UPDATE",
      actions)
    perFile.map(_.getLong(1)).sum
  }

  /** MERGE INTO (the reference's MergeProcessor / standard Delta upsert),
    * copy-on-write: target rows are matched to `source` via `on` (an SQL
    * condition over aliases `t` = table, `s` = source).
    *
    *   WHEN MATCHED [AND matchedDelete] THEN DELETE        (checked first)
    *   WHEN MATCHED THEN UPDATE SET matchedUpdate          (exprs over t/s)
    *   WHEN NOT MATCHED THEN INSERT notMatchedInsert       (exprs over s)
    *
    * Only files holding matched rows are rewritten; inserts append new
    * files (Hive-partitioned when the table is); everything lands in ONE
    * atomic remove+add commit. A target row matched by more than one
    * source row raises (the result would be nondeterministic — the same
    * contract real Delta writers enforce). Update/insert expressions read
    * the PRE-merge target row. Partition-column updates are rejected;
    * inserts may set partition columns (rows route to their directories).
    * At scale the matched-file discovery and the anti-join are plain
    * shuffle/broadcast joins — the rewrite cost is proportional to the
    * files actually hit, not the table. */
  def merge(s: SparkSession, tableDir: String, source: DataFrame,
      on: String,
      matchedUpdate: Map[String, String] = Map.empty,
      matchedDelete: Option[String] = None,
      notMatchedInsert: Option[Map[String, String]] = None): MergeStats = {
    require(matchedUpdate.nonEmpty || matchedDelete.nonEmpty ||
      notMatchedInsert.nonEmpty, "MERGE needs at least one WHEN clause")
    Seq("__fp", "__ri", "__sm").foreach(c =>
      require(!source.columns.contains(c),
        s"MERGE source may not have a column named $c"))
    val dir = new File(tableDir).getCanonicalFile
    val snap = rewritable(s, dir, "MERGE", matchedUpdate.keySet)
    val schema = snap.schema
    (matchedUpdate.keySet ++ notMatchedInsert.toSeq.flatMap(_.keySet))
      .foreach(k => require(schema.fieldNames.contains(k),
        s"MERGE column $k not in table schema"))
    // full table with file-path + row-index identity tags
    val target = scanFiles(s, dir, schema, snap.partCols, snap.files,
      tags = true)
    val src = source.withColumn("__sm", lit(true)).as("s")
    val onE = expr(on)
    val delE = coalesce(matchedDelete.map(expr).getOrElse(lit(false)),
      lit(false))
    // one aggregate: matched rows, distinct matched rows (a difference
    // means some target row matched twice) and deletes, per file
    val perFile = target.as("t").join(src, onE, "inner")
      .groupBy(col("__fp"))
      .agg(count(lit(1)), countDistinct(col("__ri")),
        sum(when(delE, 1L).otherwise(0L)))
      .collect().toSeq
    require(perFile.forall(r => r.getLong(1) == r.getLong(2)),
      "MERGE: a target row matched more than one source row")
    val nDel = perFile.map(_.getLong(3)).sum
    val deleted = if (matchedDelete.isEmpty) 0L else nDel
    val updated =
      if (matchedUpdate.isEmpty) 0L else perFile.map(_.getLong(1)).sum - nDel
    val rewritten =
      if (matchedUpdate.isEmpty && matchedDelete.isEmpty) Nil
      else rewriteFiles(s, dir, snap, hitFiles(dir, snap.files, perFile)) {
        rows =>
          val m = coalesce(col("__sm"), lit(false))
          rows.as("t").join(src, onE, "left_outer").filter(!(m && delE))
            .select(schema.fields.map { f =>
              matchedUpdate.get(f.name) match {
                case Some(e) =>
                  when(m, expr(e).cast(f.dataType))
                    .otherwise(col("t." + f.name)).as(f.name)
                case None => col("t." + f.name).as(f.name)
              }
            }.toIndexedSeq: _*)
      }
    val inserts = notMatchedInsert.toSeq.flatMap { mapping =>
      val insDf = src.join(target.as("t"), onE, "left_anti")
        .select(schema.fields.map { f =>
          mapping.get(f.name)
            .map(e => expr(e).cast(f.dataType))
            .getOrElse(lit(null).cast(f.dataType)).as(f.name)
        }.toIndexedSeq: _*)
      stageData(dir, insDf, snap.partCols, snap.version + 1)
    }
    val inserted = inserts.map(_.rows).sum
    // an insert that matched nothing commits no (empty) files
    if (inserted == 0) inserts.foreach(f => new File(dir, f.path).delete())
    val actions = rewritten ++
      (if (inserted == 0) Nil
       else inserts.map(f => addAction(f.path, f.partition)))
    if (actions.nonEmpty) commitNext(s, dir, snap, "MERGE", actions)
    MergeStats(updated, deleted, inserted)
  }

  // ---------- fixture writer (tests + the driver gate build their own
  // protocol-conformant logs with it; production tables come from real
  // Delta writers)

  private def schemaJson(st: StructType): String = st.json

  /** Publish `actions` as commit `version` of `tableDir/_delta_log`,
    * put-if-absent: raises `ConcurrentModificationException` when that
    * version is already committed, leaving it untouched. */
  def commit(tableDir: File, version: Long, actions: Seq[String]): Unit =
    LakeFiles.publishNew(
      new File(tableDir, f"_delta_log/$version%020d.json"),
      actions.mkString("", "\n", "\n").getBytes(UTF_8))

  def protocolAction: String =
    """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}"""

  def metaDataAction(schema: StructType,
      partCols: Seq[String] = Seq.empty): String = {
    val pc = partCols.map("\"" + _ + "\"").mkString("[", ",", "]")
    val sj = mapper.writeValueAsString(schemaJson(schema))
    s"""{"metaData":{"id":"graft-fixture","format":{"provider":"parquet","options":{}},"schemaString":$sj,"partitionColumns":$pc,"configuration":{},"createdTime":0}}"""
  }

  def addAction(path: String,
      partitionValues: Map[String, String] = Map.empty,
      dataChange: Boolean = true): String = {
    val pv = partitionValues
      .map { case (k, v) =>
        "\"" + k + "\":" + (if (v == null) "null" else "\"" + v + "\"")
      }
      .mkString("{", ",", "}")
    s"""{"add":{"path":"$path","partitionValues":$pv,"size":0,"modificationTime":0,"dataChange":$dataChange}}"""
  }

  /** An `add` carrying a deletion-vector descriptor (fixture writer for
    * the DV read path; real tables come from Delta writers). */
  def addActionWithDv(path: String, d: DeletionVectors.Descriptor,
      partitionValues: Map[String, String] = Map.empty): String = {
    val base = addAction(path, partitionValues)
    val dvJson =
      s""""deletionVector":{"storageType":${mapper.writeValueAsString(
        d.storageType)},"pathOrInlineDv":${mapper.writeValueAsString(
        d.pathOrInlineDv)},"offset":${d.offset},"sizeInBytes":${
        d.sizeInBytes},"cardinality":${d.cardinality}}"""
    base.replace(""","dataChange":true}""",
      s""","dataChange":true,$dvJson}""")
  }

  def txnAction(appId: String, version: Long): String =
    s"""{"txn":{"appId":${mapper.writeValueAsString(appId)},"version":$version,"lastUpdated":0}}"""

  def commitInfoAction(operation: String): String =
    s"""{"commitInfo":{"timestamp":${System.currentTimeMillis()},"operation":${mapper.writeValueAsString(operation)},"engineInfo":"graft"}}"""

  /** DESCRIBE HISTORY: one row per surviving JSON commit, newest first —
    * version, timestamp, operation (from `commitInfo` when the writer
    * recorded one; this engine's writers do). */
  def describeHistory(s: SparkSession, tableDir: String): DataFrame = {
    val logDir = new File(tableDir, "_delta_log")
    import s.implicits._
    Option(logDir.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.matches("\\d{20}\\.json")).sortBy(_.getName)
      .map { f =>
        val v = f.getName.stripSuffix(".json").toLong
        val ci = new String(java.nio.file.Files.readAllBytes(f.toPath),
          UTF_8).linesIterator.filter(_.nonEmpty).map(mapper.readTree)
          .find(_.has("commitInfo")).map(_.get("commitInfo"))
        (v,
          ci.flatMap(c => Option(c.get("timestamp")).map(t =>
            new java.sql.Timestamp(t.asLong))).orNull,
          ci.flatMap(c => Option(c.get("operation")).map(_.asText)).orNull)
      }.toSeq.sortBy(-_._1)
      .toDF("version", "timestamp", "operation")
  }

  def removeAction(path: String, dataChange: Boolean = true): String =
    s"""{"remove":{"path":"$path","deletionTimestamp":0,"dataChange":$dataChange}}"""

  /** Compact the current snapshot into a protocol checkpoint: one parquet
    * row per action (nullable add/metaData/protocol struct columns) at the
    * latest commit version, plus the `_last_checkpoint` pointer. JSON
    * commits at or below the returned version may then be deleted
    * (retention) — the reader seeds from the checkpoint. */
  def writeCheckpoint(s: SparkSession, tableDir: File): Long =
    writeCheckpoint(s, tableDir, parts = 1)

  def writeCheckpoint(s: SparkSession, tableDir: File, parts: Int): Long = {
    val Snapshot(version, schema, partCols, files, txns) =
      replay(s, tableDir)
    require(!hasMapping(schema),
      "checkpointing column-mapped Delta tables unsupported (read-only)")
    requireNoDv(files, "checkpointing")
    val ckptSchema = StructType(Seq(
      StructField("add", StructType(Seq(
        StructField("path", StringType),
        StructField("partitionValues", MapType(StringType, StringType)),
        StructField("size", LongType),
        StructField("modificationTime", LongType),
        StructField("dataChange", BooleanType)))),
      StructField("metaData", StructType(Seq(
        StructField("id", StringType),
        StructField("schemaString", StringType),
        StructField("partitionColumns", ArrayType(StringType)),
        StructField("createdTime", LongType)))),
      StructField("protocol", StructType(Seq(
        StructField("minReaderVersion", IntegerType),
        StructField("minWriterVersion", IntegerType)))),
      StructField("txn", StructType(Seq(
        StructField("appId", StringType),
        StructField("version", LongType),
        StructField("lastUpdated", LongType))))))
    val rows: Seq[Row] =
      Seq(Row(null, Row("graft-fixture", schema.json, partCols, 0L),
          null, null),
        Row(null, null, Row(1, 2), null)) ++
        // txn watermarks survive compaction — without them a checkpoint
        // would reset idempotent-writer dedup and replay old batches
        txns.toSeq.sortBy(_._1).map { case (app, ver) =>
          Row(null, null, null, Row(app, ver, 0L))
        } ++
        files.map(f =>
          Row(Row(f.path, f.partitionValues, 0L, 0L, true), null, null,
            null))
    import scala.jdk.CollectionConverters._
    require(parts >= 1 && parts <= rows.size,
      s"parts must be in [1, ${rows.size}], got $parts")
    // round-robin by index: EXACTLY `parts` non-empty groups for any
    // parts <= rows.size (grouped()'s ceil split can under-produce, e.g.
    // 4 rows into 3 parts)
    val groups =
      if (parts == 1) Seq(rows)
      else rows.zipWithIndex.groupBy(_._2 % parts).toSeq
        .sortBy(_._1).map(_._2.map(_._1))
    require(groups.size == parts, s"grouping produced ${groups.size} parts")
    groups.zipWithIndex.foreach { case (group, i) =>
      val name =
        if (parts == 1) f"$version%020d.checkpoint.parquet"
        else f"$version%020d.checkpoint.${i + 1}%010d.$parts%010d.parquet"
      LakeFiles.stage(s.createDataFrame(group.asJava, ckptSchema)
        .coalesce(1), tableDir)(_ => s"_delta_log/$name")
    }
    val partsField = if (parts == 1) "" else s""","parts":$parts"""
    LakeFiles.publishReplace(new File(tableDir, "_delta_log/_last_checkpoint"),
      s"""{"version":$version,"size":${rows.size}$partsField}"""
        .getBytes(UTF_8))
    version
  }

  /** Write `df` as one parquet data file `name` inside `tableDir` (no log
    * entry — pair with addAction in a commit). */
  def writeDataFile(df: DataFrame, tableDir: File, name: String): Unit =
    LakeFiles.stage(df.coalesce(1), tableDir)(_ => name)
}
