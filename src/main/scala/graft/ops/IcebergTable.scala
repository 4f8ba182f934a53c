package graft.ops

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.avro.Schema
import org.apache.avro.file.{DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Minimal Iceberg v1 TABLE READER — the reference ships a full connector
  * (presto-iceberg/); the table format itself is a public spec:
  *
  *  - `metadata/version-hint.text` names the current metadata version;
  *    `metadata/vN.metadata.json` carries `current-snapshot-id` and the
  *    snapshot list, each snapshot pointing at a MANIFEST LIST;
  *  - the manifest list is an Avro file of `manifest_path` entries; each
  *    manifest is an Avro file of entries with a `status` (1=ADDED,
  *    0=EXISTING, 2=DELETED) and a `data_file` record whose `file_path`
  *    names a parquet data file;
  *  - a snapshot scan = every non-DELETED data file reachable from the
  *    current snapshot's manifest list.
  *
  * Avro files embed their schemas, so the reader needs no hand-declared
  * schemas (avro-core's GenericDatumReader resolves by field name — real
  * Iceberg manifests with their many extra stats fields read the same
  * way). Identity-partitioned Iceberg data files physically CONTAIN
  * their partition columns, so no value injection is needed. Metadata
  * I/O is driver-side and KB-sized; the data scan is one multi-path
  * parquet read with pushdown intact — the same split the reference's
  * connector makes.
  *
  * v2 deletes are supported the Spark-native way — both kinds apply as
  * distributed LEFT ANTI joins, never per-file driver loops, which is
  * exactly how engines apply merge-on-read deletes at scale:
  *  - POSITIONAL (`data_file.content` = 1): parquet of (file_path, pos)
  *    rows, anti-joined against the scan's `_metadata.file_path` /
  *    `_metadata.row_index`;
  *  - EQUALITY (`content` = 2): parquet whose columns name the equality
  *    fields, anti-joined on those columns (null-safe equality, the
  *    spec's semantics for null equality fields).
  * Both kinds scope by sequence number (the spec's rule, the reference's
  * DeleteFile.java): a positional delete applies to data files with
  * sequence <= its own, an equality delete to strictly smaller — so a
  * row re-inserted after the delete survives it.
  *
  * Writers (INSERT, DELETE, UPDATE, MERGE, rewrite_data_files and the
  * metadata procedures) share one commit path:
  *
  *  - data, manifest and manifest-list files are named so no two writers
  *    can collide (`insert-<snapshot>-<uuid>.parquet`,
  *    `manifest-<snapshot>-<uuid>.avro`, ...), and land through
  *    [[LakeFiles.stage]];
  *  - a writer commits metadata version N+1 over the version N it read,
  *    with snapshot id = the largest id + 1; `vN+1.metadata.json` is
  *    published put-if-absent ([[LakeFiles.publishNew]]), so a writer
  *    that lost the race raises `ConcurrentModificationException` and the
  *    winner's metadata stays byte-identical;
  *  - `version-hint.text` is then swapped by an atomic rename, so a
  *    reader never sees it half-written.
  */
object IcebergTable {

  private val mapper = new ObjectMapper()

  /** Resolve a spec path (absolute, file:-URI, or table-relative). */
  private def resolve(tableDir: File, p: String): File = {
    val clean = p.stripPrefix("file:")
    val f = new File(clean)
    if (f.isAbsolute) f else new File(tableDir, clean)
  }

  private def avroRecords(f: File): Seq[GenericRecord] = {
    val reader = DataFileReader.openReader(f,
      new GenericDatumReader[GenericRecord]())
    try {
      val out = Seq.newBuilder[GenericRecord]
      while (reader.hasNext) out += reader.next()
      out.result()
    } finally reader.close()
  }

  private def loadMeta(dir: File): com.fasterxml.jackson.databind.JsonNode =
    loadVersioned(dir)._2

  /** The current metadata version and its JSON. */
  private def loadVersioned(dir: File)
      : (Int, com.fasterxml.jackson.databind.JsonNode) = {
    val metaDir = new File(dir, "metadata")
    require(metaDir.isDirectory, s"not an Iceberg table: $dir")
    val hint = new File(metaDir, "version-hint.text")
    val version =
      if (hint.isFile) new String(java.nio.file.Files.readAllBytes(
        hint.toPath), UTF_8).trim.toInt
      else Option(metaDir.listFiles()).getOrElse(Array.empty)
        .map(_.getName).collect {
          case n if n.matches("v\\d+\\.metadata\\.json") =>
            n.stripPrefix("v").stripSuffix(".metadata.json").toInt
        }.foldLeft(-1)(math.max)
    val metaFile = new File(metaDir, s"v$version.metadata.json")
    require(metaFile.isFile, s"missing $metaFile")
    (version, mapper.readTree(new String(
      java.nio.file.Files.readAllBytes(metaFile.toPath), UTF_8)))
  }

  /** What a writer commits over: the metadata it read, and the one rule
    * for the next (snapshot id, metadata version) — one past the largest
    * snapshot id and one past the version read. Two writers that read the
    * same version race for the same metadata file, and
    * [[publishMetadata]] lets exactly one of them win. */
  private def writeBase(dir: File)
      : (com.fasterxml.jackson.databind.JsonNode, Long, Int) = {
    val (version, meta) = loadVersioned(dir)
    val snaps = meta.get("snapshots")
    (meta, (0 until snaps.size()).map(snaps.get(_).get("snapshot-id").asLong)
      .foldLeft(0L)(math.max) + 1, version + 1)
  }

  /** Publish metadata `version` put-if-absent, then point the version
    * hint at it. */
  private def publishMetadata(dir: File, version: Int, json: String): Unit = {
    LakeFiles.publishNew(new File(dir, s"metadata/v$version.metadata.json"),
      json.getBytes(UTF_8))
    LakeFiles.publishReplace(new File(dir, "metadata/version-hint.text"),
      version.toString.getBytes(UTF_8))
  }

  /** One live file of a snapshot: content (0=data, 1=positional deletes,
    * 2=equality deletes), path, delete-scoping sequence number, and the
    * TRANSFORMED partition tuple the writer recorded. */
  private[ops] final case class LiveFile(content: Int, path: String,
      seq: Long, partition: Map[String, Any])

  /** One partition-spec field: manifest partition column `name` holds
    * `transform` applied to source column `source`. */
  private[ops] final case class SpecField(name: String, transform: String,
      source: String)

  /** A pushed predicate: column `op` value, op in =/in/</<=/>/>=. */
  final case class Pred(column: String, op: String, value: Any)

  private def avroValue(v: Any): Any = v match {
    case u: org.apache.avro.util.Utf8 => u.toString
    case other => other
  }

  /** The files live in snapshot `snapId`. Sequence numbers scope v2
    * deletes (spec: a delete file applies only to data files with a
    * smaller — positional: or equal — data sequence number). v2 manifest
    * entries carry `sequence_number`; when absent (v1, or inherited-null
    * entries) the snapshot's position in the metadata snapshot list is
    * the ordering proxy — snapshot ids themselves are random in real
    * tables, but the list appends in commit order. */
  private def liveFiles(dir: File,
      meta: com.fasterxml.jackson.databind.JsonNode,
      snapId: Long): Seq[LiveFile] = {
    val snaps = meta.get("snapshots")
    val snapOrder: Map[Long, Long] = (0 until snaps.size())
      .map(i => snaps.get(i).get("snapshot-id").asLong -> i.toLong).toMap
    val manifestList = (0 until snaps.size()).map(snaps.get)
      .find(_.get("snapshot-id").asLong == snapId)
      .map(_.get("manifest-list").asText)
      .getOrElse(throw new IllegalArgumentException(
        s"snapshot $snapId not in the table metadata"))
    val manifests = avroRecords(resolve(dir, manifestList))
      .map(_.get("manifest_path").toString)
    manifests.flatMap { m =>
      avroRecords(resolve(dir, m)).collect {
        case e if e.get("status").asInstanceOf[Int] != 2 =>
          val df = e.get("data_file").asInstanceOf[GenericRecord]
          // v1 manifests have no content field (GenericRecord.get throws
          // on unknown names, so probe the schema) — v1 entries are data
          val content =
            if (df.getSchema.getField("content") == null) 0
            else df.get("content").asInstanceOf[Int]
          val seq =
            if (e.getSchema.getField("sequence_number") != null &&
                e.get("sequence_number") != null)
              e.get("sequence_number").asInstanceOf[Long]
            else snapOrder.getOrElse(
              e.get("snapshot_id").asInstanceOf[Long], 0L)
          val partition =
            if (df.getSchema.getField("partition") == null ||
                df.get("partition") == null) Map.empty[String, Any]
            else {
              val pr = df.get("partition").asInstanceOf[GenericRecord]
              import scala.jdk.CollectionConverters._
              pr.getSchema.getFields.asScala
                .map(f => f.name -> avroValue(pr.get(f.name))).toMap
            }
          LiveFile(content, df.get("file_path").toString, seq, partition)
      }
    }
  }

  /** The default partition spec, with source ids resolved to column
    * names through the table schema. Empty for unpartitioned /
    * pre-transform fixture tables. */
  private[ops] def partitionSpec(
      meta: com.fasterxml.jackson.databind.JsonNode): Seq[SpecField] = {
    val specsNode = Option(meta.get("partition-specs"))
      .filter(_.size() > 0).orNull
    if (specsNode == null) return Seq.empty
    val defaultId = Option(meta.get("default-spec-id"))
      .map(_.asInt).getOrElse(0)
    val spec = (0 until specsNode.size()).map(specsNode.get)
      .find(s => Option(s.get("spec-id")).forall(_.asInt == defaultId))
      .getOrElse(specsNode.get(0))
    // v1 metadata spells the table schema as singular "schema"; v2 keeps
    // a "schemas" array selected by "current-schema-id"
    val schemaNode = Option(meta.get("schema")).orElse {
      Option(meta.get("schemas")).filter(_.size() > 0).map { arr =>
        val cur = Option(meta.get("current-schema-id")).map(_.asInt)
        (0 until arr.size()).map(arr.get)
          .find(s => cur.forall(c =>
            Option(s.get("schema-id")).forall(_.asInt == c)))
          .getOrElse(arr.get(0))
      }
    }
    val idToName: Map[Int, String] = schemaNode.map { sc =>
      val fs = sc.get("fields")
      (0 until fs.size()).map(fs.get).flatMap(f =>
        Option(f.get("id")).map(_.asInt -> f.get("name").asText)).toMap
    }.getOrElse(Map.empty)
    specFields(spec, idToName)
  }

  private def specFields(spec: com.fasterxml.jackson.databind.JsonNode,
      idToName: Map[Int, String]): Seq[SpecField] = {
    val fields = spec.get("fields")
    (0 until fields.size()).map(fields.get).map { f =>
      val src = Option(f.get("source-id")).map(_.asInt).flatMap(idToName.get)
        .orElse(Option(f.get("source-name")).map(_.asText))
        .getOrElse(f.get("name").asText)
      SpecField(f.get("name").asText, f.get("transform").asText, src)
    }
  }

  /** The spec fields SAFE to prune on: identical (name, transform,
    * source) in EVERY partition spec the table has ever had. After
    * partition evolution, a data file's manifest tuple was written under
    * its manifest's own spec — pruning an old file with the new spec's
    * transform for a same-named field would silently drop matching rows.
    * Fields absent from older specs stay prunable: old tuples simply
    * lack the key and keepFile keeps the file. Writes always route
    * through the DEFAULT spec (partitionSpec). */
  private[ops] def pruningSpec(
      meta: com.fasterxml.jackson.databind.JsonNode): Seq[SpecField] = {
    val default = partitionSpec(meta)
    val specsNode = Option(meta.get("partition-specs"))
      .filter(_.size() > 1).orNull
    if (specsNode == null) return default
    // rebuild the id→name map once (same resolution partitionSpec used)
    val schemaNode = Option(meta.get("schema")).orElse {
      Option(meta.get("schemas")).filter(_.size() > 0).map { arr =>
        val cur = Option(meta.get("current-schema-id")).map(_.asInt)
        (0 until arr.size()).map(arr.get)
          .find(s => cur.forall(c =>
            Option(s.get("schema-id")).forall(_.asInt == c)))
          .getOrElse(arr.get(0))
      }
    }
    val idToName: Map[Int, String] = schemaNode.map { sc =>
      val fs = sc.get("fields")
      (0 until fs.size()).map(fs.get).flatMap(f =>
        Option(f.get("id")).map(_.asInt -> f.get("name").asText)).toMap
    }.getOrElse(Map.empty)
    val allSpecs = (0 until specsNode.size())
      .map(i => specFields(specsNode.get(i), idToName))
    default.filter(sf => allSpecs.forall(s =>
      s.forall(o => o.name != sf.name || o == sf)))
  }

  /** True iff the file can hold rows satisfying every predicate. A file's
    * rows all share one transformed partition tuple, so: equality
    * predicates transform the constant and compare; range predicates
    * prune through ORDER-PRESERVING transforms (truncate/year/month/day/
    * hour/identity) by comparing transformed bounds. Delete files are
    * never pruned (they are small and must stay correct). */
  private def keepFile(f: LiveFile, spec: Seq[SpecField],
      preds: Seq[Pred]): Boolean =
    f.content != 0 || preds.forall { p =>
      spec.filter(_.source == p.column).forall { sf =>
        f.partition.get(sf.name) match {
          case None => true
          case Some(null) => true
          case Some(pv) =>
            def eq(v: Any): Boolean = {
              val t = IcebergTransforms(sf.transform, v)
              (t, pv) match {
                case (a: String, b: String) => a == b
                case (a, b) => IcebergTransforms.cmp(a, b) == 0
              }
            }
            p.op match {
              case "=" => eq(p.value)
              case "in" =>
                p.value.asInstanceOf[Iterable[Any]].exists(eq)
              case "<" | "<=" if IcebergTransforms.isMonotonic(sf.transform) =>
                IcebergTransforms.cmp(pv,
                  IcebergTransforms(sf.transform, p.value)) <= 0
              case ">" | ">=" if IcebergTransforms.isMonotonic(sf.transform) =>
                IcebergTransforms.cmp(pv,
                  IcebergTransforms(sf.transform, p.value)) >= 0
              case _ => true // cannot prune on this op/transform: keep
            }
        }
      }
    }

  /** Read the current snapshot of an Iceberg table directory. */
  def read(s: SparkSession, tableDir: String): DataFrame = {
    val meta = loadMeta(new File(tableDir))
    val snapId = meta.get("current-snapshot-id").asLong
    require(snapId >= 0, s"table has no current snapshot: $tableDir")
    readAt(s, tableDir, snapId)
  }

  /** Time travel: read snapshot `snapshotId` (the reference's
    * FOR VERSION AS OF surface over presto-iceberg). */
  def readAt(s: SparkSession, tableDir: String, snapshotId: Long): DataFrame =
    scan(s, tableDir, snapshotId, Seq.empty)

  /** Time travel by timestamp: the snapshot with the GREATEST
    * `timestamp-ms` at-or-before `tsMillis` (Iceberg's FOR TIMESTAMP AS
    * OF rule). Snapshots without a recorded timestamp (old fixtures)
    * never match. */
  def readAtTimestamp(s: SparkSession, tableDir: String, tsMillis: Long)
      : DataFrame = {
    val meta = loadMeta(new File(tableDir))
    val snaps = meta.get("snapshots")
    val at = (0 until snaps.size()).map(snaps.get)
      .flatMap(n => Option(n.get("timestamp-ms"))
        .map(t => (t.asLong, n.get("snapshot-id").asLong)))
      .filter(_._1 <= tsMillis)
      .sortBy(_._1).lastOption.getOrElse(
        throw new IllegalArgumentException(
          s"no snapshot at or before timestamp $tsMillis"))
    readAt(s, tableDir, at._2)
  }

  /** Read at a named branch/tag ($refs; tables without a refs map have
    * the implicit `main` branch at the current snapshot). */
  def readRef(s: SparkSession, tableDir: String, name: String): DataFrame = {
    val refRow = refs(s, tableDir).collect()
      .find(_.getString(0) == name).getOrElse(
        throw new IllegalArgumentException(s"unknown ref '$name'"))
    readAt(s, tableDir, refRow.getLong(2))
  }

  /** Snapshot id at 1-based position `ordinal` of the append-ordered
    * snapshot list (the streaming source's offset space — ids themselves
    * are random). */
  def snapshotIdAtOrdinal(tableDir: String, ordinal: Long): Long = {
    val snaps = loadMeta(new File(tableDir)).get("snapshots")
    require(ordinal >= 1 && ordinal <= snaps.size(),
      s"snapshot ordinal $ordinal out of range 1..${snaps.size()}")
    snaps.get(ordinal.toInt - 1).get("snapshot-id").asLong
  }

  /** The rows APPENDED by the snapshots at ordinals (from, to] — the
    * streaming source's incremental batch. A fast-append snapshot's own
    * additions are exactly its NEW manifests' data entries (priors are
    * carried forward untouched). A snapshot that drops manifests or adds
    * delete files is not an append: raise unless `ignoreChanges` (then
    * only genuinely new data files emit). */
  def readAppended(s: SparkSession, tableDir: String, fromOrdinal: Long,
      toOrdinal: Long, ignoreChanges: Boolean = false): DataFrame = {
    val dir = new File(tableDir).getCanonicalFile
    val meta = loadMeta(dir)
    val snaps = meta.get("snapshots")
    require(toOrdinal <= snaps.size(),
      s"snapshot ordinal $toOrdinal out of range")
    def manifestsOf(ord: Long): Seq[String] =
      if (ord < 1) Seq.empty
      else avroRecords(resolve(dir,
        snaps.get(ord.toInt - 1).get("manifest-list").asText))
        .map(_.get("manifest_path").toString)
    val newFiles = Seq.newBuilder[String]
    ((fromOrdinal + 1) to toOrdinal).foreach { ord =>
      val prev = manifestsOf(ord - 1).toSet
      val cur = manifestsOf(ord)
      val dropped = prev -- cur.toSet
      require(dropped.isEmpty || ignoreChanges,
        s"snapshot ordinal $ord is not an append (drops " +
          s"${dropped.size} manifests — a delete/rewrite); set " +
          "ignoreChanges=true to stream past it")
      cur.filterNot(prev).foreach { m =>
        avroRecords(resolve(dir, m)).foreach { e =>
          val status = e.get("status").asInstanceOf[Int]
          val df = e.get("data_file").asInstanceOf[GenericRecord]
          val content =
            if (df.getSchema.getField("content") == null) 0
            else df.get("content").asInstanceOf[Int]
          if (content != 0 || status == 2) require(ignoreChanges,
            s"snapshot ordinal $ord is not an append (delete content " +
              "or removed entries); set ignoreChanges=true")
          else if (status == 1) // ADDED data entries only
            newFiles += df.get("file_path").toString
        }
      }
    }
    val schema = read(s, dir.getPath).schema
    val files = newFiles.result()
    if (files.isEmpty)
      s.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    else {
      import org.apache.spark.sql.functions.col
      s.read.parquet(files.map(f => resolve(dir, f).getPath): _*)
        .select(schema.fieldNames.map(col).toIndexedSeq: _*)
    }
  }

  /** Changelog extraction over snapshot ordinals (fromOrdinal, to] — the
    * Iceberg counterpart of ops/DeltaLake.tableChanges: per snapshot, its
    * NEW manifests' added data entries emit as `insert` rows, and its new
    * POSITIONAL-DELETE files resolve to the deleted rows' images (an
    * inner join of the PRE-snapshot scan's (__fp, __pos) identity against
    * the delete tuples) emitted as `delete`. Output = table columns +
    * `_change_type` + `_snapshot_ordinal`. Snapshots that DROP manifests
    * (rewrites/compactions — logically no-ops but not expressible as a
    * row diff here) raise. */
  def tableChanges(s: SparkSession, tableDir: String, fromOrdinal: Long,
      toOrdinal: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    val dir = new File(tableDir).getCanonicalFile
    val meta = loadMeta(dir)
    val snaps = meta.get("snapshots")
    require(toOrdinal <= snaps.size(),
      s"snapshot ordinal $toOrdinal out of range")
    val schema = read(s, dir.getPath).schema
    def canonC(c: org.apache.spark.sql.Column) =
      regexp_replace(regexp_replace(c, "^file:", ""), "^/+", "/")
    def manifestsOf(ord: Long): Seq[String] =
      avroRecords(resolve(dir,
        snaps.get(ord.toInt - 1).get("manifest-list").asText))
        .map(_.get("manifest_path").toString)
    val frames = ((fromOrdinal + 1) to toOrdinal).flatMap { ord =>
      val prev = manifestsOf(ord - 1).toSet
      val cur = manifestsOf(ord)
      require((prev -- cur.toSet).isEmpty,
        s"snapshot ordinal $ord drops manifests (a rewrite/compaction) — " +
          "not expressible as a row changelog")
      val dataAdds = Seq.newBuilder[String]
      val deleteAdds = Seq.newBuilder[String]
      cur.filterNot(prev).foreach { m =>
        avroRecords(resolve(dir, m)).foreach { e =>
          if (e.get("status").asInstanceOf[Int] == 1) {
            val df = e.get("data_file").asInstanceOf[GenericRecord]
            val content =
              if (df.getSchema.getField("content") == null) 0
              else df.get("content").asInstanceOf[Int]
            val p = df.get("file_path").toString
            if (content == 0) dataAdds += p
            else if (content == 1) deleteAdds += p
            else throw new IllegalArgumentException(
              s"equality deletes in snapshot ordinal $ord are not " +
                "expressible as a row changelog")
          }
        }
      }
      val ins = dataAdds.result() match {
        case Seq() => None
        case fs => Some(
          s.read.parquet(fs.map(f => resolve(dir, f).getPath): _*)
            .select(schema.fieldNames.map(col).toIndexedSeq: _*)
            .withColumn("_change_type", lit("insert")))
      }
      val del = deleteAdds.result() match {
        case Seq() => None
        case fs =>
          require(ord >= 2, "delete files in the table's first snapshot " +
            "have no pre-image to emit")
          // the deleted rows' images live in the PRE-snapshot scan
          val old = scan(s, dir.getPath,
            snaps.get(ord.toInt - 2).get("snapshot-id").asLong,
            Seq.empty, keepTags = true)
          val fp = regexp_replace(col("file_path"), "^file:", "")
          val tuples = s.read
            .parquet(fs.map(f => resolve(dir, f).getPath): _*)
            .select(canonC(when(fp.startsWith("/"), fp)
              .otherwise(concat(lit(dir.getPath + "/"), fp)))
              .as("__del_fp"), col("pos").as("__del_pos"))
          Some(old.join(broadcast(tuples),
            old("__fp") === tuples("__del_fp") &&
              old("__pos") === tuples("__del_pos"), "inner")
            .select(schema.fieldNames.map(col).toIndexedSeq: _*)
            .withColumn("_change_type", lit("delete")))
      }
      (ins.toSeq ++ del.toSeq).reduceOption(_ unionAll _)
        .map(_.withColumn("_snapshot_ordinal", lit(ord)))
    }
    frames.reduceOption(_ unionAll _).getOrElse {
      s.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(schema.fields :+
          org.apache.spark.sql.types.StructField("_change_type",
            org.apache.spark.sql.types.StringType) :+
          org.apache.spark.sql.types.StructField("_snapshot_ordinal",
            org.apache.spark.sql.types.LongType)))
    }
  }

  /** Read the current snapshot with partition-transform pruning: data
    * files whose transformed partition tuple cannot satisfy `predicates`
    * are never scanned (at 100 TB the difference between one partition
    * and the whole table), and the predicates then apply as residual row
    * filters — bucket/truncate partitions are coarser than the
    * predicate, so the filter still has to run (and pushes down into the
    * surviving parquet scan). */
  def readPruned(s: SparkSession, tableDir: String,
      predicates: Seq[(String, String, Any)]): DataFrame = {
    val dir = new File(tableDir).getCanonicalFile
    val meta = loadMeta(dir)
    val snapId = meta.get("current-snapshot-id").asLong
    scan(s, tableDir, snapId, predicates.map(p => Pred(p._1, p._2, p._3)))
  }

  /** (selected, total) data-file counts under the pruning predicates —
    * the spec pin that proves a transform-pruned scan reads strictly
    * fewer files. */
  def plannedDataFiles(tableDir: String,
      predicates: Seq[(String, String, Any)]): (Int, Int) = {
    val dir = new File(tableDir).getCanonicalFile
    val meta = loadMeta(dir)
    val live = liveFiles(dir, meta, meta.get("current-snapshot-id").asLong)
      .filter(_.content == 0)
    val spec = pruningSpec(meta)
    val preds = predicates.map(p => Pred(p._1, p._2, p._3))
    (live.count(keepFile(_, spec, preds)), live.size)
  }

  private def residual(preds: Seq[Pred])
      : Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions._
    preds.map { p =>
      val c = col(p.column)
      p.op match {
        case "=" => c === lit(p.value)
        case "in" =>
          c.isin(p.value.asInstanceOf[Iterable[Any]].toSeq: _*)
        case "<" => c < lit(p.value)
        case "<=" => c <= lit(p.value)
        case ">" => c > lit(p.value)
        case ">=" => c >= lit(p.value)
        case other =>
          throw new IllegalArgumentException(s"predicate op $other")
      }
    }.reduceOption(_ && _)
  }

  /** keepTags=true threads each surviving row's identity — `__fp`
    * (canonical absolute data-file path) and `__pos` (row index in that
    * file) — through the delete application, for the DELETE writer. */
  private def scan(s: SparkSession, tableDir: String, snapshotId: Long,
      preds: Seq[Pred], keepTags: Boolean = false): DataFrame = {
    // canonical base dir: a relative or symlinked tableDir would otherwise
    // build delete-side paths that never match _metadata.file_path and
    // silently drop the deletes
    val dir = new File(tableDir).getCanonicalFile
    val snapId = snapshotId
    val meta = loadMeta(dir)
    val spec = pruningSpec(meta)
    val live = liveFiles(dir, meta, snapId)
      .filter(keepFile(_, spec, preds))
    val dataFiles = live.collect { case LiveFile(0, p, q, _) => (p, q) }
    val posDeletes = live.collect { case LiveFile(1, p, q, _) => (p, q) }
    val eqDeletes = live.collect { case LiveFile(2, p, q, _) => (p, q) }
    def withResidual(df: DataFrame): DataFrame =
      residual(preds).map(df.filter).getOrElse(df)
    import org.apache.spark.sql.functions._
    // canonical absolute path: strip a file: scheme, collapse leading
    // slashes (the _metadata column renders file:///p, File.toURI file:/p)
    def canon(c: org.apache.spark.sql.Column) =
      regexp_replace(regexp_replace(c, "^file:", ""), "^/+", "/")
    def tagCols(df: DataFrame): DataFrame = df
      .withColumn("__fp", canon(col("_metadata.file_path")))
      .withColumn("__pos", col("_metadata.row_index"))
    if (dataFiles.isEmpty) {
      // everything pruned: an empty frame with the data schema (probe one
      // file from the UNPRUNED snapshot for the shape)
      val any = liveFiles(dir, meta, snapId).collectFirst {
        case LiveFile(0, p, _, _) => p
      }.getOrElse(throw new IllegalArgumentException(
        s"snapshot $snapId has no data files"))
      val empty = s.read.parquet(resolve(dir, any).getPath).limit(0)
      return withResidual(if (keepTags) tagCols(empty) else empty)
    }
    if (posDeletes.isEmpty && eqDeletes.isEmpty) {
      val plain = s.read.parquet(
        dataFiles.map(f => resolve(dir, f._1).getPath): _*)
      return withResidual(if (keepTags) tagCols(plain) else plain)
    }
    // deletes scope by sequence number (spec: positional apply to data
    // seq <= delete seq, equality to data seq < delete seq — a row
    // re-inserted AFTER the delete must survive). Tag rows with their
    // file's sequence: one scan per distinct sequence, bounded by the
    // number of contributing snapshots, not files.
    // tag per scan, BEFORE the union: _metadata is a scan-level column
    // and does not resolve through Union
    val dataT = dataFiles.groupBy(_._2).toSeq.sortBy(_._1).map {
      case (sq, fs) =>
        val base = s.read.parquet(fs.map(f => resolve(dir, f._1).getPath): _*)
        val t = if (keepTags || posDeletes.nonEmpty) tagCols(base) else base
        t.withColumn("__seq", lit(sq))
    }.reduce(_ union _)
    val afterPos0 = if (posDeletes.isEmpty) dataT
    else {
      // stored paths may be full URIs (the spec's file_path IS a URI):
      // drop the scheme BEFORE deciding whether the path is absolute
      val fp = regexp_replace(col("file_path"), "^file:", "")
      val del = posDeletes.map { case (p, dq) =>
        s.read.parquet(resolve(dir, p).getPath)
          .select(canon(when(fp.startsWith("/"), fp)
            .otherwise(concat(lit(dir.getPath + "/"), fp)))
            .as("__del_fp"), col("pos").as("__del_pos"),
            lit(dq).as("__del_seq"))
      }.reduce(_ union _)
      dataT.join(broadcast(del),
        dataT("__fp") === del("__del_fp") &&
          dataT("__pos") === del("__del_pos") &&
          dataT("__seq") <= del("__del_seq"), "left_anti")
    }
    val afterPos =
      if (keepTags || posDeletes.isEmpty) afterPos0
      else afterPos0.drop("__fp", "__pos")
    // each equality-delete file anti-joins on ITS OWN columns — merging
    // files with different column sets into one scan would null-pad the
    // missing fields and turn them into IS-NULL constraints that silently
    // disable the delete
    withResidual(eqDeletes.foldLeft(afterPos) { case (acc, (f, dq)) =>
      val del = s.read.parquet(resolve(dir, f).getPath)
      val cond = del.columns.map(c => acc(c) <=> del(c)).reduce(_ && _) &&
        acc("__seq") < lit(dq)
      acc.join(broadcast(del), cond, "left_anti")
    }.drop("__seq"))
  }

  /** The `"t$snapshots"` metadata table (reference presto-iceberg
    * SnapshotsTable): one row per known snapshot. */
  def snapshots(s: SparkSession, tableDir: String): DataFrame = {
    val meta = loadMeta(new File(tableDir))
    val current = meta.get("current-snapshot-id").asLong
    val snaps = meta.get("snapshots")
    import s.implicits._
    (0 until snaps.size()).map(snaps.get)
      .map(n => (n.get("snapshot-id").asLong,
        n.get("manifest-list").asText,
        n.get("snapshot-id").asLong == current))
      .toDF("snapshot_id", "manifest_list", "is_current")
  }

  /** The `"t$files"` metadata table: live files of the current snapshot
    * (content 0 = data, 1 = position deletes). */
  def files(s: SparkSession, tableDir: String): DataFrame = {
    val dir = new File(tableDir)
    val meta = loadMeta(dir)
    val snapId = meta.get("current-snapshot-id").asLong
    import s.implicits._
    liveFiles(dir, meta, snapId).map(f => (f.content, f.path))
      .toDF("content", "file_path")
  }

  /** The `"t$history"` metadata table (reference presto-iceberg
    * HistoryTable.java:48): one row per snapshot with its commit
    * timestamp, parent, and whether it is an ancestor of the current
    * snapshot (the rollback-visibility flag). */
  def history(s: SparkSession, tableDir: String): DataFrame = {
    val meta = loadMeta(new File(tableDir))
    val current = meta.get("current-snapshot-id").asLong
    val snaps = meta.get("snapshots")
    val rows = (0 until snaps.size()).map(snaps.get).map { n =>
      (n.get("snapshot-id").asLong,
        Option(n.get("timestamp-ms")).map(_.asLong),
        Option(n.get("parent-snapshot-id")).map(_.asLong))
    }
    val parentOf = rows.map(r => r._1 -> r._3).toMap
    val ancestors = Iterator.iterate(Option(current))(
      _.flatMap(parentOf.getOrElse(_, None)))
      .takeWhile(_.isDefined).map(_.get).toSet
    import s.implicits._
    rows.map { case (sid, ts, parent) =>
      (ts.map(new java.sql.Timestamp(_)).orNull, sid,
        parent.map(Long.box).orNull, ancestors(sid))
    }.toDF("made_current_at", "snapshot_id", "parent_id",
      "is_current_ancestor")
  }

  /** The `"t$manifests"` metadata table (ManifestsTable.java:69): one row
    * per manifest of the current snapshot with its entry counts. */
  def manifests(s: SparkSession, tableDir: String): DataFrame = {
    val dir = new File(tableDir)
    val meta = loadMeta(dir)
    val current = meta.get("current-snapshot-id").asLong
    val snaps = meta.get("snapshots")
    val manifestList = (0 until snaps.size()).map(snaps.get)
      .find(_.get("snapshot-id").asLong == current)
      .map(_.get("manifest-list").asText).get
    import s.implicits._
    avroRecords(resolve(dir, manifestList)).map { m =>
      val path = m.get("manifest_path").toString
      val entries = avroRecords(resolve(dir, path))
        .map(_.get("status").asInstanceOf[Int])
      (path, m.get("manifest_length").asInstanceOf[Long],
        m.get("partition_spec_id").asInstanceOf[Int],
        m.get("added_snapshot_id").asInstanceOf[Long],
        entries.count(_ == 1), entries.count(_ == 0),
        entries.count(_ == 2))
    }.toDF("path", "length", "partition_spec_id", "added_snapshot_id",
      "added_data_files_count", "existing_data_files_count",
      "deleted_data_files_count")
  }

  /** The `"t$properties"` metadata table (PropertiesTable.java:48). */
  def properties(s: SparkSession, tableDir: String): DataFrame = {
    val meta = loadMeta(new File(tableDir))
    import s.implicits._
    Option(meta.get("properties")).map { p =>
      val it = p.fields()
      val b = Seq.newBuilder[(String, String)]
      while (it.hasNext) {
        val e = it.next()
        b += (e.getKey -> e.getValue.asText)
      }
      b.result()
    }.getOrElse(Seq.empty).toDF("key", "value")
  }

  /** The `"t$refs"` metadata table (RefsTable.java:44): named branches /
    * tags. Tables without a refs map expose the spec's implicit `main`
    * branch at the current snapshot. */
  def refs(s: SparkSession, tableDir: String): DataFrame = {
    val meta = loadMeta(new File(tableDir))
    val current = meta.get("current-snapshot-id").asLong
    import s.implicits._
    val declared = Option(meta.get("refs")).map { r =>
      val it = r.fields()
      val b = Seq.newBuilder[(String, String, Long)]
      while (it.hasNext) {
        val e = it.next()
        b += ((e.getKey,
          Option(e.getValue.get("type")).map(_.asText).getOrElse("branch"),
          e.getValue.get("snapshot-id").asLong))
      }
      b.result()
    }.getOrElse(Seq.empty)
    (if (declared.nonEmpty) declared
     else Seq(("main", "branch", current)))
      .toDF("name", "type", "snapshot_id")
  }

  /** The `"t$partitions"` metadata table (PartitionTable.java): one row
    * per live partition tuple with file/record counts as the manifests
    * record them — a manifest-only read, no data scan. */
  def partitions(s: SparkSession, tableDir: String): DataFrame = {
    val dir = new File(tableDir)
    val meta = loadMeta(dir)
    val snapId = meta.get("current-snapshot-id").asLong
    import s.implicits._
    liveFiles(dir, meta, snapId).filter(_.content == 0)
      .groupBy(_.partition).toSeq
      .map { case (part, fs) =>
        (part.toSeq.sortBy(_._1)
          .map { case (k, v) => s"$k=$v" }.mkString(","),
          fs.size.toLong)
      }.sortBy(_._1)
      .toDF("partition", "file_count")
  }

  // ---------- maintenance procedures (reference presto-iceberg
  // procedure/RollbackToSnapshotProcedure.java:60,
  // ExpireSnapshotsProcedure.java:67, RemoveOrphanFiles.java — surfaced
  // through CALL system.<name>(...) in api/Procedures.scala)

  private def bumpMetadata(dir: File)(
      mutate: com.fasterxml.jackson.databind.node.ObjectNode => Unit)
      : Unit = {
    val (meta, _, version) = writeBase(dir)
    mutate(meta.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode])
    publishMetadata(dir, version, mapper.writeValueAsString(meta))
  }

  /** Point the table back at `snapshotId` (a NEW metadata version whose
    * current-snapshot-id is the old snapshot; the snapshot list stays, so
    * rolling forward again is possible). $history's is_current_ancestor
    * then reflects the rolled-back lineage. */
  def rollbackToSnapshot(tableDir: String, snapshotId: Long): Unit = {
    val dir = new File(tableDir).getCanonicalFile
    val meta = loadMeta(dir)
    val snaps = meta.get("snapshots")
    require((0 until snaps.size())
      .exists(snaps.get(_).get("snapshot-id").asLong == snapshotId),
      s"snapshot $snapshotId not in the table metadata")
    bumpMetadata(dir)(_.put("current-snapshot-id", snapshotId))
  }

  /** Drop all but the last `retainLast` snapshots (the current snapshot
    * is always retained) from the metadata — time travel to expired ones
    * stops resolving; their files become orphans for
    * [[removeOrphanFiles]]. Returns the number expired. */
  def expireSnapshots(tableDir: String, retainLast: Int): Int = {
    require(retainLast >= 1, "retain_last must be >= 1")
    val dir = new File(tableDir).getCanonicalFile
    val meta = loadMeta(dir)
    val current = meta.get("current-snapshot-id").asLong
    val snaps = meta.get("snapshots")
    val ids = (0 until snaps.size())
      .map(snaps.get(_).get("snapshot-id").asLong)
    val keep = ids.takeRight(retainLast).toSet + current
    val dropped = ids.count(!keep(_))
    if (dropped > 0) bumpMetadata(dir) { m =>
      val arr = mapper.createArrayNode()
      (0 until snaps.size()).map(snaps.get)
        .filter(n => keep(n.get("snapshot-id").asLong))
        .foreach(arr.add)
      m.set[com.fasterxml.jackson.databind.JsonNode]("snapshots", arr)
    }
    dropped
  }

  /** Delete data/manifest files no retained snapshot references (expired
    * snapshots' leftovers, crashed-write strays). Metadata JSON and the
    * version hint are never touched. Returns files deleted. */
  def removeOrphanFiles(tableDir: String): Int = {
    val dir = new File(tableDir).getCanonicalFile
    val meta = loadMeta(dir)
    val snaps = meta.get("snapshots")
    val referenced = scala.collection.mutable.Set.empty[String]
    (0 until snaps.size()).map(snaps.get).foreach { sn =>
      val ml = sn.get("manifest-list").asText
      referenced += resolve(dir, ml).getCanonicalPath
      avroRecords(resolve(dir, ml)).foreach { m =>
        val mp = m.get("manifest_path").toString
        referenced += resolve(dir, mp).getCanonicalPath
        avroRecords(resolve(dir, mp)).foreach { e =>
          val df = e.get("data_file").asInstanceOf[GenericRecord]
          referenced += resolve(dir,
            df.get("file_path").toString).getCanonicalPath
        }
      }
    }
    var n = 0
    def sweep(d: File, candidate: String => Boolean): Unit =
      Option(d.listFiles()).getOrElse(Array.empty).foreach {
        case sub if sub.isDirectory => sweep(sub, candidate)
        case f if f.isFile && candidate(f.getName) &&
            !referenced(f.getCanonicalPath) =>
          if (f.delete()) n += 1
        case _ =>
      }
    sweep(new File(dir, "data"), _.endsWith(".parquet"))
    sweep(new File(dir, "metadata"), nm => nm.endsWith(".avro"))
    n
  }

  /** Zero-copy clone (the reference's RegisterTableProcedure idea, the
    * Iceberg counterpart of ops/DeltaLake.shallowClone): the target's
    * first snapshot lists the SOURCE's current live data files by
    * absolute path (manifest file_path is a URI by spec — the reader
    * resolves absolutes as-is). Tables carrying live delete layers
    * refuse (their deletes would need re-scoping); compact first
    * (rewrite_data_files). The clone then evolves independently —
    * appends, MoR deletes and updates commit to ITS metadata. Returns
    * the number of referenced files. */
  def cloneTable(s: SparkSession, sourceDir: String, targetDir: String)
      : Long = {
    val src = new File(sourceDir).getCanonicalFile
    val tgt = new File(targetDir).getCanonicalFile
    require(!new File(tgt, "metadata/version-hint.text").exists(),
      s"$targetDir already has Iceberg metadata")
    val meta = loadMeta(src)
    val cur = meta.get("current-snapshot-id").asLong
    val live = liveFiles(src, meta, cur)
    require(live.forall(_.content == 0),
      "clone of a table with live delete files unsupported — run " +
        "rewrite_data_files on the source first")
    tgt.mkdirs()
    commitSnapshot(tgt, 1, 1L, live.map(f =>
      Entry(1, resolve(src, f.path).getCanonicalPath)))
    live.size.toLong
  }

  /** rewrite_data_files (the reference's RewriteDataFilesProcedure):
    * compact the CURRENT snapshot — with every delete layer applied —
    * into fresh data files and commit a REPLACE snapshot whose manifest
    * list holds only them. Merge-on-read delete/update layers
    * materialize away; the superseded files become reclaimable by
    * expire_snapshots + remove_orphan_files. Time travel to prior
    * snapshots keeps working (their manifest lists are untouched).
    * Unpartitioned tables only (transform routing stays on the insert
    * path). Returns the number of compacted files written. */
  def rewriteDataFiles(s: SparkSession, tableDir: String,
      targetBytes: Long = 128L * 1024 * 1024): Int = {
    val dir = new File(tableDir).getCanonicalFile
    val (meta, snapId, version) = writeBase(dir)
    require(partitionSpec(meta).isEmpty,
      "rewrite_data_files on partitioned tables unsupported")
    val cur = meta.get("current-snapshot-id").asLong
    val bytes = liveFiles(dir, meta, cur).filter(_.content == 0)
      .map(f => resolve(dir, f.path).length()).sum
    val nOut = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    val df = read(s, dir.getPath) // deletes applied
    val entries = LakeFiles.stage(df.coalesce(nOut), dir)(_ =>
      LakeFiles.unique(s"data/compact-$snapId"))
      .map(f => PartEntry(1, f.path, Seq.empty))
    commitManifests(dir, version, snapId, uniqueTag(snapId), entries,
      carried = Nil)
    entries.size
  }

  // ---------- fixture writer (tests + the driver gate): minimal but
  // spec-shaped avro/json, so the reader exercised here reads the same
  // field names a real Iceberg writer produces

  private val manifestListSchema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      |{"name":"manifest_path","type":"string"},
      |{"name":"manifest_length","type":"long"},
      |{"name":"partition_spec_id","type":"int"},
      |{"name":"added_snapshot_id","type":"long"}]}""".stripMargin)

  private val manifestEntrySchema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_entry","fields":[
      |{"name":"status","type":"int"},
      |{"name":"snapshot_id","type":"long"},
      |{"name":"data_file","type":{"type":"record","name":"r2","fields":[
      |{"name":"content","type":"int"},
      |{"name":"file_path","type":"string"},
      |{"name":"file_format","type":"string"},
      |{"name":"record_count","type":"long"},
      |{"name":"file_size_in_bytes","type":"long"}]}}]}""".stripMargin)

  private def writeAvro(f: File, schema: Schema,
      records: Seq[GenericRecord]): Unit = {
    f.getParentFile.mkdirs()
    val w = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](schema))
    w.create(schema, f)
    try records.foreach(w.append) finally w.close()
  }

  /** One manifest entry. status: 1=ADDED, 0=EXISTING, 2=DELETED;
    * content: 0=data, 1=position deletes, 2=equality deletes.
    * `addedSnapshotId` (for EXISTING entries carried forward) keeps the
    * snapshot the file was originally added in — real manifests preserve
    * it, and the reader's sequence-number proxy depends on it. */
  final case class Entry(status: Int, dataFile: String, content: Int = 0,
      addedSnapshotId: Long = -1L)

  /** Write a manifest (entries) + manifest list + vN.metadata.json +
    * version-hint for snapshot `snapshotId`; data file paths are
    * table-relative. */
  def commitSnapshot(tableDir: File, version: Int, snapshotId: Long,
      entries: Seq[Entry]): Unit =
    commitManifests(tableDir, version, snapshotId, snapshotId.toString,
      entries.map(partEntry), carried = Nil)

  /** Avro file tag of an engine writer's snapshot: unique to the writer. */
  private def uniqueTag(snapshotId: Long): String =
    s"$snapshotId-${java.util.UUID.randomUUID()}"

  private def partEntry(e: Entry): PartEntry =
    PartEntry(e.status, e.dataFile, Seq.empty, e.content, e.addedSnapshotId)

  /** The one commit of a snapshot: write its manifest of `entries` and a
    * manifest list holding the `carried` (path, added-snapshot) manifests
    * plus the new one — both avro files named by `tag` — then publish
    * metadata `version` put-if-absent. `extra` injects top-level metadata
    * fields (schema / partition-specs), pre-rendered with a leading comma;
    * empty = carry the prior version's forward. */
  private def commitManifests(tableDir: File, version: Int, snapshotId: Long,
      tag: String, entries: Seq[PartEntry], carried: Seq[(String, Long)],
      extra: String = "", summary: Map[String, String] = Map.empty): Unit = {
    val manifest = s"metadata/manifest-$tag.avro"
    writeManifest(new File(tableDir, manifest), snapshotId, entries)
    val list = s"metadata/snap-$tag.avro"
    writeAvro(new File(tableDir, list), manifestListSchema,
      (carried :+ (manifest -> snapshotId)).map { case (p, sid) =>
        val r = new GenericData.Record(manifestListSchema)
        r.put("manifest_path", p)
        r.put("manifest_length", resolve(tableDir, p).length())
        r.put("partition_spec_id", 0)
        r.put("added_snapshot_id", sid)
        r
      })
    writeMetadataJson(tableDir, version, snapshotId, list, extra, summary)
  }

  /** vN.metadata.json + version-hint, carrying prior snapshots forward
    * (real metadata.json keeps the full history — that is what time
    * travel and $snapshots read). The prior version is read once: its
    * snapshots, its current snapshot (the new one's parent) and, when
    * `extra0` is empty, its schema / partition-spec fields (an append
    * must not drop them or the table would silently lose its pruning
    * metadata). */
  private def writeMetadataJson(tableDir: File, version: Int,
      snapshotId: Long, manifestList: String, extra0: String,
      summary: Map[String, String]): Unit = {
    val prior = new File(tableDir, s"metadata/v${version - 1}.metadata.json")
    val pm = if (!prior.isFile) None else Some(mapper.readTree(new String(
      java.nio.file.Files.readAllBytes(prior.toPath), UTF_8)))
    val extra = if (extra0.nonEmpty) extra0 else pm.map(m =>
      Seq("schema", "schemas", "current-schema-id", "partition-specs",
        "default-spec-id")
        .flatMap(k => Option(m.get(k)).map(v => s""","$k":${v.toString}"""))
        .mkString).getOrElse("")
    val priorSnaps: Seq[String] = pm.toSeq.flatMap { m =>
      val arr = m.get("snapshots")
      (0 until arr.size()).map(i => arr.get(i).toString)
        .filterNot(_.contains(s""""snapshot-id":$snapshotId"""))
    }
    // real writers stamp timestamp-ms + parent-snapshot-id on every
    // snapshot — $history and timestamp time travel read them
    val parent: Option[Long] = pm.flatMap(m =>
      Option(m.get("current-snapshot-id")).map(_.asLong)
        .filter(_ != snapshotId))
    val summaryJson =
      if (summary.isEmpty) ""
      else summary.toSeq.sortBy(_._1).map { case (k, v) =>
        s"${mapper.writeValueAsString(k)}:${mapper.writeValueAsString(v)}"
      }.mkString(""","summary":{""", ",", "}")
    val snapJson = (priorSnaps :+
      (s"""{"snapshot-id":$snapshotId""" +
        parent.map(p => s""","parent-snapshot-id":$p""").getOrElse("") +
        s""","timestamp-ms":${System.currentTimeMillis()}""" +
        summaryJson +
        s""","manifest-list":"$manifestList"}"""))
      .mkString("[", ",", "]")
    val metaJson =
      s"""{"format-version":1,"table-uuid":"graft-fixture","location":
         |"${tableDir.getPath}","current-snapshot-id":$snapshotId,
         |"snapshots":$snapJson$extra}"""
        .stripMargin.replace("\n", "")
    publishMetadata(tableDir, version, metaJson)
  }

  /** One entry of a PARTITIONED manifest: `partition` is the transformed
    * tuple the writer recorded for the file. */
  final case class PartEntry(status: Int, dataFile: String,
      partition: Seq[(String, Any)], content: Int = 0,
      addedSnapshotId: Long = -1L)

  /** Write `entries` as manifest `f` of snapshot `snapshotId` — the one
    * manifest-entry builder. The data_file records carry a partition
    * record when the entries carry partition tuples. */
  private def writeManifest(f: File, snapshotId: Long,
      entries: Seq[PartEntry]): Unit = {
    def leafType(v: Any): String = v match {
      case _: Int | _: java.lang.Integer => "int"
      case _: Long | _: java.lang.Long => "long"
      case _: String => "string"
      case other => throw new IllegalArgumentException(
        s"partition value type unsupported: $other")
    }
    val entrySchema =
      if (entries.forall(_.partition.isEmpty)) manifestEntrySchema
      else {
        val partFieldsJson = entries.head.partition.map { case (n, v) =>
          s"""{"name":"$n","type":["null","${leafType(v)}"],"default":null}"""
        }.mkString("[", ",", "]")
        new Schema.Parser().parse(
          s"""{"type":"record","name":"manifest_entry","fields":[
             |{"name":"status","type":"int"},
             |{"name":"snapshot_id","type":"long"},
             |{"name":"data_file","type":{"type":"record","name":"r2","fields":[
             |{"name":"content","type":"int"},
             |{"name":"file_path","type":"string"},
             |{"name":"file_format","type":"string"},
             |{"name":"partition","type":{"type":"record","name":"r102","fields":$partFieldsJson}},
             |{"name":"record_count","type":"long"},
             |{"name":"file_size_in_bytes","type":"long"}]}}]}"""
            .stripMargin.replace("\n", ""))
      }
    val dfSchema = entrySchema.getField("data_file").schema()
    val partSchema = Option(dfSchema.getField("partition")).map(_.schema())
    writeAvro(f, entrySchema, entries.map { e =>
      val df = new GenericData.Record(dfSchema)
      df.put("content", e.content)
      df.put("file_path", e.dataFile)
      df.put("file_format", "PARQUET")
      partSchema.foreach { ps =>
        val pr = new GenericData.Record(ps)
        e.partition.foreach { case (n, v) => pr.put(n, v) }
        df.put("partition", pr)
      }
      df.put("record_count", 0L)
      df.put("file_size_in_bytes", 0L)
      val r = new GenericData.Record(entrySchema)
      r.put("status", e.status)
      r.put("snapshot_id",
        if (e.addedSnapshotId >= 0) e.addedSnapshotId else snapshotId)
      r.put("data_file", df)
      r
    })
  }

  /** Write a partitioned snapshot: manifest entries carry the partition
    * record, and the metadata declares the schema (with field ids) plus
    * `partition-specs` so the reader can resolve source-id → column and
    * prune. schemaFields: (name, icebergType) in field-id order (ids
    * assigned 1..n); specFields: (partitionFieldName, transform,
    * sourceColumnName). */
  def commitPartitionedSnapshot(tableDir: File, version: Int,
      snapshotId: Long, schemaFields: Seq[(String, String)],
      specFields: Seq[(String, String, String)],
      entries: Seq[PartEntry]): Unit = {
    require(entries.nonEmpty, "partitioned commit needs entries")
    val schemaJson = schemaFields.zipWithIndex.map { case ((n, t), i) =>
      s"""{"id":${i + 1},"name":"$n","required":false,"type":"$t"}"""
    }.mkString("""{"type":"struct","fields":[""", ",", "]}")
    val srcIds = schemaFields.map(_._1).zipWithIndex
      .map { case (n, i) => n -> (i + 1) }.toMap
    val specJson = specFields.zipWithIndex.map { case ((n, tr, src), i) =>
      s"""{"name":"$n","transform":"$tr","source-id":${srcIds(src)},"field-id":${1000 + i}}"""
    }.mkString("""[{"spec-id":0,"fields":[""", ",", "]}]")
    commitManifests(tableDir, version, snapshotId, snapshotId.toString,
      entries, carried = Nil,
      extra = s""","schema":$schemaJson,"partition-specs":$specJson,"default-spec-id":0""")
  }

  // ---------- writer: INSERT INTO (append snapshot)

  /** Commit `entries` as a NEW snapshot that also carries every manifest
    * of the current snapshot forward (the spec's fast-append): the new
    * manifest list references the prior manifests untouched — their
    * entries keep their original snapshot ids, so delete-scoping
    * sequence numbers stay correct. */
  def appendSnapshot(tableDir: File, version: Int, snapshotId: Long,
      entries: Seq[Entry],
      summary: Map[String, String] = Map.empty): Unit =
    appendSnapshotPartitioned(tableDir, version, snapshotId,
      entries.map(partEntry), summary)

  /** Fast-append of PARTITIONED entries (transform-partitioned insert). */
  def appendSnapshotPartitioned(tableDir: File, version: Int,
      snapshotId: Long, entries: Seq[PartEntry],
      summary: Map[String, String] = Map.empty): Unit = {
    val hinted = new File(tableDir, "metadata/version-hint.text").isFile
    fastAppend(tableDir, if (hinted) Some(loadMeta(tableDir)) else None,
      version, snapshotId, entries, summary)
  }

  /** Fast-append over the metadata `base` a writer read (None for a
    * brand-new table): the current snapshot's manifests carry forward. */
  private def fastAppend(tableDir: File,
      base: Option[com.fasterxml.jackson.databind.JsonNode], version: Int,
      snapshotId: Long, entries: Seq[PartEntry],
      summary: Map[String, String] = Map.empty): Unit = {
    val carried = base.toSeq.flatMap { meta =>
      val cur = meta.get("current-snapshot-id").asLong
      val snaps = meta.get("snapshots")
      (0 until snaps.size()).map(snaps.get)
        .find(_.get("snapshot-id").asLong == cur)
        .map(_.get("manifest-list").asText).toSeq
        .flatMap(ml => avroRecords(resolve(tableDir, ml))
          .map(r => (r.get("manifest_path").toString,
            r.get("added_snapshot_id").asInstanceOf[Long])))
    }
    commitManifests(tableDir, version, snapshotId, uniqueTag(snapshotId),
      entries, carried, summary = summary)
  }

  /** INSERT INTO (append) an Iceberg table — the reference's
    * finishInsert commit (presto-iceberg IcebergAbstractMetadata.java:
    * 739): the parquet data files write first, fully DISTRIBUTED, then
    * ONE new snapshot (manifest + manifest list + vN metadata) makes
    * them visible atomically; time travel to the prior snapshot still
    * sees the pre-insert table. Transform-partitioned tables write
    * through Spark's partitionBy on the TRANSFORMED helper columns (one
    * distributed pass; files keep the source columns, the helpers become
    * the manifest partition tuples), so later reads prune the inserted
    * files too. Returns the new snapshot id. */
  def insertAppend(s: SparkSession, tableDir: String, df: DataFrame)
      : Long = insertAppendTxn(s, tableDir, df, txn = None).get

  /** Idempotent append: `txn = Some((appId, version))` stamps a
    * `graft.txn.<appId> -> version` snapshot SUMMARY property in the
    * SAME atomic commit as the data (the convention real Iceberg
    * streaming sinks use for exactly-once); a batch at-or-below the
    * table's watermark for that appId is skipped and None returned. */
  def insertAppendTxn(s: SparkSession, tableDir: String, df: DataFrame,
      txn: Option[(String, Long)]): Option[Long] =
    append(s, tableDir, df, txn).map(_._1)

  /** [[insertAppendTxn]] returning (snapshot id, rows written); the row
    * count comes from the staged files' footers, not a table scan. */
  private[graft] def append(s: SparkSession, tableDir: String,
      df: DataFrame, txn: Option[(String, Long)]): Option[(Long, Long)] = {
    import org.apache.spark.sql.functions.col
    val dir = new File(tableDir).getCanonicalFile
    txn.foreach { case (app, ver) =>
      if (txnVersion(s, dir.getPath, app).exists(_ >= ver)) return None
    }
    val summary = txn.map { case (app, ver) =>
      Map(s"graft.txn.$app" -> ver.toString)
    }.getOrElse(Map.empty[String, String])
    val (meta, snapId, version) = writeBase(dir)
    val spec = partitionSpec(meta)
    val tableSchema = read(s, dir.getPath).schema
    require(df.schema.fields.map(f => (f.name, f.dataType)).sortBy(_._1)
      .sameElements(tableSchema.fields.map(f => (f.name, f.dataType))
        .sortBy(_._1)),
      s"INSERT schema ${df.schema.simpleString} does not match table " +
        s"schema ${tableSchema.simpleString}")
    val src = df.select(tableSchema.fieldNames.map(col).toIndexedSeq: _*)
    // transform-partitioned tables write through partitionBy on helper
    // columns holding the TRANSFORMED values; the files land flat in
    // data/ and the helpers' values become the manifest tuples
    val helpers = spec.indices.map(i => s"__gpt_$i")
    val withParts = spec.zip(helpers).foldLeft(src) { case (acc, (sf, h)) =>
      acc.withColumn(h, transformCol(sf, tableSchema(sf.source).dataType))
    }
    val parsers =
      spec.map(sf => partParser(sf, tableSchema(sf.source).dataType))
    val staged = LakeFiles.stage(withParts, dir, helpers)(_ =>
      LakeFiles.unique(s"data/insert-$snapId"))
    require(staged.nonEmpty, "INSERT produced no data files")
    fastAppend(dir, Some(meta), version, snapId, staged.map { f =>
      PartEntry(1, f.path, spec.zip(helpers.zip(parsers)).map {
        case (sf, (h, parse)) =>
          sf.name -> Option(f.partition(h)).map(parse).orNull
      })
    }, summary)
    Some((snapId, staged.map(_.rows).sum))
  }

  /** Latest committed `graft.txn.<appId>` watermark across the table's
    * snapshot summaries (None if the app never committed). */
  def txnVersion(s: SparkSession, tableDir: String, appId: String)
      : Option[Long] = {
    val snaps = loadMeta(new File(tableDir)).get("snapshots")
    val key = s"graft.txn.$appId"
    val vs = (0 until snaps.size()).map(snaps.get)
      .flatMap(n => Option(n.get("summary")).filterNot(_.isNull)
        .flatMap(sm => Option(sm.get(key))).map(_.asText.toLong))
    if (vs.isEmpty) None else Some(vs.max)
  }

  /** DELETE FROM an Iceberg table — the v2 merge-on-read row-level
    * delete (the reference's presto-iceberg delete path; contrast
    * ops/DeltaLake.delete's copy-on-write): rows of the CURRENT snapshot
    * matching `condition` (TRUE only — NULL keeps the row, ANSI) are
    * recorded as (file_path, pos) tuples in ONE new positional-delete
    * file, committed as a fast-append snapshot. No data file is
    * rewritten — at 100 TB a delete touching every file costs one
    * distributed scan plus a delete file proportional to the rows hit.
    * Sequence scoping makes the delete apply to every current data file
    * and to NONE inserted later (a re-inserted matching row survives).
    * Rows already dead under existing deletes are not re-matched (the
    * scan applies them first). Returns the number of rows deleted. */
  def delete(s: SparkSession, tableDir: String,
      condition: org.apache.spark.sql.Column): Long = {
    import org.apache.spark.sql.functions._
    val dir = new File(tableDir).getCanonicalFile
    val (meta, snapId, version) = writeBase(dir)
    val cur = meta.get("current-snapshot-id").asLong
    val matched = scan(s, dir.getPath, cur, Seq.empty, keepTags = true)
      .filter(coalesce(condition, lit(false)))
      .select(col("__fp").as("file_path"), col("__pos").as("pos"))
    val n = matched.count()
    if (n == 0L) return 0L
    val rel = writeDataFile(matched, dir, LakeFiles.unique(s"delete-$snapId"))
    fastAppend(dir, Some(meta), version, snapId,
      Seq(PartEntry(1, rel, Seq.empty, content = 1)))
    n
  }

  /** UPDATE an Iceberg table, merge-on-read: ONE snapshot commits BOTH a
    * positional-delete file covering the matched rows' old versions AND a
    * data file holding the updated rows (`sets` evaluated against the
    * PRE-update row, ANSI; NULL condition keeps rows). Positional deletes
    * are path-scoped, so the replacement file — same sequence number —
    * is untouched. No existing data file rewrites. On transform-
    * partitioned tables the replacement file commits without a partition
    * tuple: reads stay correct, pruning is conservative for those rows.
    * Returns the number of rows updated. */
  def update(s: SparkSession, tableDir: String,
      condition: org.apache.spark.sql.Column,
      sets: Map[String, org.apache.spark.sql.Column]): Long = {
    import org.apache.spark.sql.functions._
    require(sets.nonEmpty, "UPDATE needs SET columns")
    val dir = new File(tableDir).getCanonicalFile
    val (meta, snapId, version) = writeBase(dir)
    val cur = meta.get("current-snapshot-id").asLong
    val tableSchema = read(s, dir.getPath).schema
    sets.keys.foreach(k => require(tableSchema.fieldNames.contains(k),
      s"SET column $k not in table schema"))
    val matched = scan(s, dir.getPath, cur, Seq.empty, keepTags = true)
      .filter(coalesce(condition, lit(false)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = matched.count()
      if (n == 0L) return 0L
      val delRel = writeDataFile(
        matched.select(col("__fp").as("file_path"), col("__pos").as("pos")),
        dir, LakeFiles.unique(s"delete-$snapId"))
      val updated = matched.select(tableSchema.fields.map { f =>
        sets.get(f.name).map(_.cast(f.dataType).as(f.name))
          .getOrElse(col(f.name))
      }.toIndexedSeq: _*)
      val dataRel = writeDataFile(updated, dir,
        LakeFiles.unique(s"update-$snapId"))
      fastAppend(dir, Some(meta), version, snapId, Seq(
        PartEntry(1, delRel, Seq.empty, content = 1),
        PartEntry(1, dataRel, Seq.empty)))
      n
    } finally matched.unpersist()
  }

  /** MERGE INTO an Iceberg table, merge-on-read (vs ops/DeltaLake.merge's
    * copy-on-write): source matched via `on` (SQL condition over aliases
    * `t` = table, `s` = source); WHEN MATCHED [AND matchedDelete] DELETE
    * (checked first) / WHEN MATCHED UPDATE SET / WHEN NOT MATCHED INSERT.
    * ONE snapshot commits a positional-delete file covering every matched
    * row that dies (deleted, or replaced by an update) plus a data file
    * holding the replacements and inserts — NO existing file rewrites,
    * which at 100 TB is the whole point of v2 row-level operations. A
    * target row matched by >1 source row raises (nondeterminism guard). */
  def merge(s: SparkSession, tableDir: String, source: DataFrame,
      on: String,
      matchedUpdate: Map[String, String] = Map.empty,
      matchedDelete: Option[String] = None,
      notMatchedInsert: Option[Map[String, String]] = None): MergeStats = {
    import org.apache.spark.sql.functions._
    require(matchedUpdate.nonEmpty || matchedDelete.nonEmpty ||
      notMatchedInsert.nonEmpty, "MERGE needs at least one WHEN clause")
    Seq("__fp", "__pos", "__seq", "__sm").foreach(c =>
      require(!source.columns.contains(c),
        s"MERGE source may not have a column named $c"))
    val dir = new File(tableDir).getCanonicalFile
    val (meta, snapId, version) = writeBase(dir)
    val cur = meta.get("current-snapshot-id").asLong
    val tableSchema = read(s, dir.getPath).schema
    (matchedUpdate.keySet ++ notMatchedInsert.toSeq.flatMap(_.keySet))
      .foreach(k => require(tableSchema.fieldNames.contains(k),
        s"MERGE column $k not in table schema"))
    val target = scan(s, dir.getPath, cur, Seq.empty, keepTags = true)
    val src = source.withColumn("__sm", lit(true)).as("s")
    val onE = expr(on)
    val matches = target.as("t").join(src, onE, "inner")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      require(matches.groupBy(col("__fp"), col("__pos")).count()
        .filter(col("count") > 1).limit(1).count() == 0,
        "MERGE: a target row matched more than one source row")
      val delE = coalesce(matchedDelete.map(expr).getOrElse(lit(false)),
        lit(false))
      val deleted =
        if (matchedDelete.isEmpty) 0L else matches.filter(delE).count()
      val updated =
        if (matchedUpdate.isEmpty) 0L else matches.filter(!delE).count()
      // every matched row that dies: deleted, or replaced by the update
      val dead =
        if (matchedUpdate.nonEmpty) matches else matches.filter(delE)
      val replacements =
        if (matchedUpdate.isEmpty) None
        else Some(matches.filter(!delE).select(tableSchema.fields.map { f =>
          matchedUpdate.get(f.name)
            .map(e => expr(e).cast(f.dataType).as(f.name))
            .getOrElse(col("t." + f.name).as(f.name))
        }.toIndexedSeq: _*))
      val inserts = notMatchedInsert.map { mapping =>
        src.join(target.as("t"), onE, "left_anti")
          .select(tableSchema.fields.map { f =>
            mapping.get(f.name).map(e => expr(e).cast(f.dataType))
              .getOrElse(lit(null).cast(f.dataType)).as(f.name)
          }.toIndexedSeq: _*)
      }
      val newRows = (replacements.toSeq ++ inserts.toSeq)
        .reduceOption(_ unionAll _)
      val inserted = inserts.map(_.count()).getOrElse(0L)
      val nDead = dead.count()
      val anyNew = newRows.exists(_.limit(1).count() > 0)
      if (nDead == 0 && !anyNew) return MergeStats(0, 0, 0)
      val entries = Seq.newBuilder[PartEntry]
      if (nDead > 0)
        entries += PartEntry(1, writeDataFile(
          dead.select(col("__fp").as("file_path"), col("__pos").as("pos")),
          dir, LakeFiles.unique(s"delete-$snapId")), Seq.empty, content = 1)
      newRows.filter(_ => anyNew).foreach { nr =>
        entries += PartEntry(1, writeDataFile(nr, dir,
          LakeFiles.unique(s"merge-$snapId")), Seq.empty)
      }
      fastAppend(dir, Some(meta), version, snapId, entries.result())
      MergeStats(updated, deleted, inserted)
    } finally matches.unpersist()
  }

  /** The transform as a Spark column over the source column — native
    * functions for the order-preserving family; bucket needs the spec's
    * murmur3 over type-specific bytes (not Spark's hash()), a codegen'd
    * expression (functions/IcebergBucket.scala) so the write path stays
    * inside whole-stage codegen. */
  private def transformCol(sf: SpecField,
      dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val c = col(sf.source)
    sf.transform match {
      case "identity" => c
      case IcebergTransforms.Truncate(w) => dt match {
        case StringType => substring(c, 1, w.toInt)
        case _ =>
          val l = c.cast("long")
          l - pmod(l, lit(w.toLong))
      }
      case "year" => (year(c) - lit(1970)).cast("int")
      case "month" =>
        ((year(c) - lit(1970)) * lit(12) + month(c) - lit(1)).cast("int")
      case "day" => datediff(c, to_date(lit("1970-01-01"))).cast("int")
      case "hour" => floor(c.cast("long") / lit(3600L)).cast("int")
      case IcebergTransforms.Bucket(n) =>
        val nb = n.toInt
        dt match {
          case StringType => graft.functions.IcebergBucket.column(c, nb)
          case DateType => graft.functions.IcebergBucket.column(
            datediff(c, to_date(lit("1970-01-01"))).cast("long"), nb)
          case _ =>
            graft.functions.IcebergBucket.column(c.cast("long"), nb)
        }
      case other =>
        throw new IllegalArgumentException(s"unknown transform: $other")
    }
  }

  /** Parse a partitionBy dir value back to the manifest tuple's type. */
  private def partParser(sf: SpecField,
      dt: org.apache.spark.sql.types.DataType): String => Any = {
    import org.apache.spark.sql.types._
    sf.transform match {
      case "identity" => dt match {
        case LongType => (s: String) => s.toLong
        case IntegerType => (s: String) => s.toInt
        case StringType => (s: String) => s
        case other => throw new IllegalArgumentException(
          s"identity partition insert unsupported for $other")
      }
      case IcebergTransforms.Truncate(_) => dt match {
        case StringType => (s: String) => s
        case _ => (s: String) => s.toLong
      }
      case _ => (s: String) => s.toInt // bucket / year / month / day / hour
    }
  }

  /** Write a v2 positional-delete file: (file_path, pos) rows naming
    * table-relative data files; returns the table-relative name. */
  def writeDeleteFile(s: SparkSession, tableDir: File, name: String,
      deletes: Seq[(String, Long)]): String = {
    import s.implicits._
    writeDataFile(deletes.toDF("file_path", "pos"), tableDir, name)
  }

  /** Write `df` as one parquet data file under data/ (table-relative
    * name returned). */
  def writeDataFile(df: DataFrame, tableDir: File, name: String): String =
    LakeFiles.stage(df.coalesce(1), tableDir)(_ => s"data/$name")
      .head.path
}
