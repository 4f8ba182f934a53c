package graft

import java.io.File
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.DeltaLake

/** Minimal Delta-log reader (ops/DeltaLake.scala; reference presto-delta/):
  * JSON-action replay — add/remove tombstones, last-metaData-wins schema,
  * partitionValues injection as typed columns. */
class DeltaSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def freshDir(tag: String): File = {
    val f = new File(sys.props("java.io.tmpdir"),
      s"graft_delta_spec_${tag}_${System.nanoTime()}")
    f.mkdirs()
    f
  }

  test("replay applies removes: compacted files never resurface") {
    val dir = freshDir("rm")
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "s")
    DeltaLake.writeDataFile(df, dir, "f0.parquet")
    DeltaLake.commit(dir, 0, Seq(DeltaLake.protocolAction,
      DeltaLake.metaDataAction(df.schema), DeltaLake.addAction("f0.parquet")))
    // v1 compaction: rewrite f0 as f1 (same rows) + add f2
    DeltaLake.writeDataFile(df, dir, "f1.parquet")
    DeltaLake.writeDataFile(Seq((4L, "d")).toDF("k", "s"), dir, "f2.parquet")
    DeltaLake.commit(dir, 1, Seq(DeltaLake.removeAction("f0.parquet"),
      DeltaLake.addAction("f1.parquet"), DeltaLake.addAction("f2.parquet")))
    val out = DeltaLake.read(spark, dir.getPath).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSeq == Seq(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d"))
  }

  test("partitionValues inject typed partition columns per file group") {
    val dir = freshDir("part")
    val full = new org.apache.spark.sql.types.StructType()
      .add("k", "long").add("v", "double").add("p", "integer")
    // data files carry only (k, v); p lives in the log
    DeltaLake.writeDataFile(Seq((1L, 1.5), (2L, 2.5)).toDF("k", "v"),
      dir, "p1.parquet")
    DeltaLake.writeDataFile(Seq((3L, 3.5)).toDF("k", "v"), dir, "p2.parquet")
    DeltaLake.commit(dir, 0, Seq(DeltaLake.protocolAction,
      DeltaLake.metaDataAction(full, Seq("p")),
      DeltaLake.addAction("p1.parquet", Map("p" -> "10")),
      DeltaLake.addAction("p2.parquet", Map("p" -> "20"))))
    val out = DeltaLake.read(spark, dir.getPath)
    assert(out.schema.fieldNames.toSeq == Seq("k", "v", "p"))
    assert(out.schema("p").dataType ==
      org.apache.spark.sql.types.IntegerType)
    val rows = out.orderBy("k").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
    assert(rows.toSeq == Seq((1L, 1.5, 10), (2L, 2.5, 10), (3L, 3.5, 20)))
    // a filter on the partition column folds to a constant per file group:
    // only p=20 files are scanned (one group remains)
    assert(out.filter(col("p") === 20).count() == 1)
  }

  test("last metaData wins: schema evolution adds a column") {
    val dir = freshDir("evo")
    val v0 = Seq((1L, "x")).toDF("k", "s")
    DeltaLake.writeDataFile(v0, dir, "f0.parquet")
    DeltaLake.commit(dir, 0, Seq(DeltaLake.protocolAction,
      DeltaLake.metaDataAction(v0.schema), DeltaLake.addAction("f0.parquet")))
    val widened = new org.apache.spark.sql.types.StructType()
      .add("k", "long").add("s", "string").add("extra", "double")
    val v1 = Seq((2L, "y", 9.5)).toDF("k", "s", "extra")
    DeltaLake.writeDataFile(v1, dir, "f1.parquet")
    DeltaLake.commit(dir, 1, Seq(DeltaLake.metaDataAction(widened),
      DeltaLake.addAction("f1.parquet")))
    val out = DeltaLake.read(spark, dir.getPath).orderBy("k").collect()
    assert(out.length == 2)
    assert(out(0).getLong(0) == 1L && out(0).isNullAt(2)) // old file: null
    assert(out(1).getLong(0) == 2L && out(1).getDouble(2) == 9.5)
  }

  test("checkpoint seeds the snapshot after log retention deletes commits") {
    val dir = freshDir("ckpt")
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "s")
    DeltaLake.writeDataFile(df, dir, "f0.parquet")
    DeltaLake.commit(dir, 0, Seq(DeltaLake.protocolAction,
      DeltaLake.metaDataAction(df.schema), DeltaLake.addAction("f0.parquet")))
    DeltaLake.writeDataFile(Seq((3L, "c")).toDF("k", "s"), dir, "f1.parquet")
    DeltaLake.commit(dir, 1, Seq(DeltaLake.addAction("f1.parquet")))
    val v = DeltaLake.writeCheckpoint(spark, dir)
    assert(v == 1L)
    // retention: delete every JSON commit the checkpoint covers — without
    // the checkpoint branch the reader would now find nothing
    val logDir = new File(dir, "_delta_log")
    logDir.listFiles().filter(_.getName.endsWith(".json"))
      .foreach(f => assert(f.delete()))
    // a post-checkpoint commit still replays on top of the seeded state
    DeltaLake.writeDataFile(Seq((4L, "d")).toDF("k", "s"), dir, "f2.parquet")
    DeltaLake.commit(dir, 2, Seq(DeltaLake.removeAction("f0.parquet"),
      DeltaLake.addAction("f2.parquet")))
    val out = DeltaLake.read(spark, dir.getPath).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSeq == Seq(3L -> "c", 4L -> "d"))
  }

  test("checkpoint replay keeps partition values, null ones included") {
    val dir = freshDir("ckpt_part")
    val full = new org.apache.spark.sql.types.StructType()
      .add("k", "long").add("p", "string")
    DeltaLake.writeDataFile(Seq(1L).toDF("k"), dir, "a.parquet")
    DeltaLake.writeDataFile(Seq(2L).toDF("k"), dir, "b.parquet")
    DeltaLake.commit(dir, 0, Seq(DeltaLake.protocolAction,
      DeltaLake.metaDataAction(full, Seq("p")),
      DeltaLake.addAction("a.parquet", Map("p" -> "x")),
      DeltaLake.addAction("b.parquet", Map("p" -> null))))
    DeltaLake.writeCheckpoint(spark, dir)
    new File(dir, "_delta_log").listFiles()
      .filter(_.getName.endsWith(".json")).foreach(f => assert(f.delete()))
    val out = DeltaLake.read(spark, dir.getPath).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSeq == Seq((1L, "x"), (2L, null)))
  }

  test("filters push down to the parquet scan through the replay") {
    val dir = freshDir("push")
    val df = (1L to 100L).map(i => (i, s"row$i")).toDF("k", "s")
    DeltaLake.writeDataFile(df, dir, "f0.parquet")
    DeltaLake.commit(dir, 0, Seq(DeltaLake.protocolAction,
      DeltaLake.metaDataAction(df.schema), DeltaLake.addAction("f0.parquet")))
    val plan = DeltaLake.read(spark, dir.getPath)
      .filter(org.apache.spark.sql.functions.col("k") > 90)
      .select("k")
      .queryExecution.executedPlan.toString
    // the replay hands plain parquet relations to Spark, so predicate
    // pushdown and column pruning reach the scan untouched
    assert(plan.contains("PushedFilters: [IsNotNull(k), GreaterThan(k,90)]"),
      plan)
    assert(plan.contains("ReadSchema: struct<k:bigint>"), plan)
  }

  test("multi-part checkpoints read as one seeded snapshot") {
    val dir = freshDir("ckpt_parts")
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "s")
    DeltaLake.writeDataFile(df, dir, "f0.parquet")
    // 3 separate add commits so the checkpoint has enough rows to split
    DeltaLake.commit(dir, 0, Seq(DeltaLake.protocolAction,
      DeltaLake.metaDataAction(df.schema), DeltaLake.addAction("f0.parquet")))
    DeltaLake.writeDataFile(Seq((4L, "d")).toDF("k", "s"), dir, "f1.parquet")
    DeltaLake.commit(dir, 1, Seq(DeltaLake.addAction("f1.parquet")))
    DeltaLake.writeDataFile(Seq((5L, "e")).toDF("k", "s"), dir, "f2.parquet")
    DeltaLake.commit(dir, 2, Seq(DeltaLake.addAction("f2.parquet")))
    assert(DeltaLake.writeCheckpoint(spark, dir, parts = 2) == 2L)
    val logDir = new File(dir, "_delta_log")
    assert(logDir.listFiles().count(
      _.getName.matches("\\d{20}\\.checkpoint\\.\\d{10}\\.\\d{10}\\.parquet"))
      == 2)
    logDir.listFiles().filter(_.getName.endsWith(".json"))
      .foreach(f => assert(f.delete()))
    val out = DeltaLake.read(spark, dir.getPath).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSeq ==
      Seq(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d", 5L -> "e"))
  }

  test("time travel: readVersion replays only up to the asked commit") {
    val dir = freshDir("tt")
    val df = Seq((1L, "a")).toDF("k", "s")
    DeltaLake.writeDataFile(df, dir, "f0.parquet")
    DeltaLake.commit(dir, 0, Seq(DeltaLake.protocolAction,
      DeltaLake.metaDataAction(df.schema), DeltaLake.addAction("f0.parquet")))
    DeltaLake.writeDataFile(Seq((2L, "b")).toDF("k", "s"), dir, "f1.parquet")
    DeltaLake.commit(dir, 1, Seq(DeltaLake.removeAction("f0.parquet"),
      DeltaLake.addAction("f1.parquet")))
    assert(DeltaLake.read(spark, dir.getPath)
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
    assert(DeltaLake.readVersion(spark, dir.getPath, 0L)
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
    // a checkpoint beyond the asked version falls back to a pure JSON
    // replay while commits 0..version all survive retention ...
    DeltaLake.writeCheckpoint(spark, dir)
    assert(DeltaLake.readVersion(spark, dir.getPath, 0L)
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
    // ... and errors only once they are actually gone
    assert(new File(dir, "_delta_log/00000000000000000000.json").delete())
    intercept[IllegalArgumentException] {
      DeltaLake.readVersion(spark, dir.getPath, 0L)
    }
  }

  test("reader protocol guard: unimplemented v3 features error") {
    val dir = freshDir("protov3")
    val df = Seq((1L, "a")).toDF("k", "s")
    DeltaLake.writeDataFile(df, dir, "f0.parquet")
    // v2Checkpoint is NOT implemented: replaying such a table could miss
    // sidecar actions — refuse, never return wrong rows. (v3 with only
    // deletionVectors IS supported — pinned in the DV tests.)
    DeltaLake.commit(dir, 0, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["deletionVectors","v2Checkpoint"],""" +
        """"writerFeatures":["deletionVectors","v2Checkpoint"]}}""",
      DeltaLake.metaDataAction(df.schema),
      DeltaLake.addAction("f0.parquet")))
    val e = intercept[IllegalArgumentException] {
      DeltaLake.read(spark, dir.getPath)
    }
    assert(e.getMessage.contains("minReaderVersion=3"), e.getMessage)
    assert(e.getMessage.contains("v2Checkpoint"), e.getMessage)
  }

  test("column mapping `name` mode reads physical columns as logical") {
    val dir = freshDir("colmap")
    import org.apache.spark.sql.types._
    def mapped(logical: String, phys: String, dt: DataType) =
      StructField(logical, dt, nullable = true,
        new MetadataBuilder()
          .putString("delta.columnMapping.physicalName", phys)
          .putLong("delta.columnMapping.id", 1L).build())
    val logical = StructType(Seq(
      mapped("k", "col-aaa", LongType),
      mapped("s", "col-bbb", StringType),
      mapped("p", "col-ppp", IntegerType)))
    // data files carry PHYSICAL names; p is a partition column whose
    // partitionValues key is ALSO physical
    DeltaLake.writeDataFile(
      Seq((1L, "a"), (2L, "b")).toDF("col-aaa", "col-bbb"),
      dir, "f0.parquet")
    DeltaLake.commit(dir, 0, Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      DeltaLake.metaDataAction(logical, Seq("p"))
        .replace(""""configuration":{}""",
          """"configuration":{"delta.columnMapping.mode":"name"}"""),
      DeltaLake.addAction("f0.parquet", Map("col-ppp" -> "7"))))
    val out = DeltaLake.read(spark, dir.getPath)
    assert(out.schema.fieldNames.toSeq == Seq("k", "s", "p"))
    val rows = out.orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    assert(rows.toSeq == Seq((1L, "a", 7), (2L, "b", 7)))
    // DML on mapped tables is refused, not misapplied
    val e = intercept[IllegalArgumentException] {
      DeltaLake.insert(spark, dir.getPath, Seq((3L, "c", 7))
        .toDF("k", "s", "p"))
    }
    assert(e.getMessage.contains("column-mapped"), e.getMessage)
  }

  test("deletion vectors: deleted row indexes vanish, writers refuse") {
    import graft.ops.DeletionVectors
    val dir = freshDir("dv")
    val df = (0L until 100L).map(i => (i, s"r$i")).toDF("k", "s")
    DeltaLake.writeDataFile(df, dir, "f0.parquet")
    // delete row indexes 0, 13, and 99 via a u-addressed DV file
    val d = DeletionVectors.writeDvFile(dir, Seq(0L, 13L, 99L))
    DeltaLake.commit(dir, 0, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["deletionVectors"],""" +
        """"writerFeatures":["deletionVectors"]}}""",
      DeltaLake.metaDataAction(df.schema),
      DeltaLake.addActionWithDv("f0.parquet", d)))
    val out = DeltaLake.read(spark, dir.getPath)
    assert(out.count() == 97L)
    assert(out.filter($"k".isin(0L, 13L, 99L)).count() == 0L)
    assert(out.filter($"k" === 1L).count() == 1L)
    // writers refuse DV tables rather than resurrecting deleted rows
    val e = intercept[IllegalArgumentException] {
      DeltaLake.delete(spark, dir.getPath, $"k" === 1L)
    }
    assert(e.getMessage.contains("deletion vectors"), e.getMessage)
    intercept[IllegalArgumentException] {
      DeltaLake.writeCheckpoint(spark, dir)
    }
    // appends do not touch existing files' vectors: allowed
    DeltaLake.insert(spark, dir.getPath,
      Seq((1000L, "new")).toDF("k", "s"))
    assert(DeltaLake.read(spark, dir.getPath).count() == 98L)
  }

  test("deletion vectors: inline storage and multi-bitmap indexes") {
    import graft.ops.DeletionVectors
    val dir = freshDir("dvinline")
    // row indexes straddling a 2^16 container and a 2^32 bitmap boundary
    val deleted = Seq(5L, 70000L, (1L << 32) + 7L)
    val data = DeletionVectors.serialize(deleted)
    assert(DeletionVectors.deserialize(data) == deleted)
    // Z85 round-trip (pad to 4-byte multiple per the spec's alignment)
    val padded = data ++ Array.fill((4 - data.length % 4) % 4)(0.toByte)
    val enc = DeletionVectors.z85Encode(padded)
    assert(DeletionVectors.z85Decode(enc).toSeq == padded.toSeq)
    val d = DeletionVectors.Descriptor("i", enc, 0, data.length,
      deleted.size.toLong)
    assert(DeletionVectors.positions(dir, d) == deleted)
    // reference Z85 vector from the ZeroMQ spec: 0x86 0x4F 0xD2 0x6F
    // 0xB5 0x59 0xF7 0x5B <-> "HelloWorld"
    assert(DeletionVectors.z85Encode(Array(0x86, 0x4f, 0xd2, 0x6f,
      0xb5, 0x59, 0xf7, 0x5b).map(_.toByte)) == "HelloWorld")
  }

  test("column mapping `id` mode is refused (field-id resolution)") {
    val dir = freshDir("colmapid")
    val df = Seq((1L, "a")).toDF("k", "s")
    DeltaLake.writeDataFile(df, dir, "f0.parquet")
    DeltaLake.commit(dir, 0, Seq(DeltaLake.protocolAction,
      DeltaLake.metaDataAction(df.schema).replace(""""configuration":{}""",
        """"configuration":{"delta.columnMapping.mode":"id"}"""),
      DeltaLake.addAction("f0.parquet")))
    val e = intercept[IllegalArgumentException] {
      DeltaLake.read(spark, dir.getPath)
    }
    assert(e.getMessage.contains("columnMapping"), e.getMessage)
  }

  test("delta_scan / hudi_scan / iceberg_scan resolve in SQL text") {
    val ses = graft.api.SqlSession.wrap(spark)
    // delta
    val dd = freshDir("sqlscan")
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "s")
    DeltaLake.writeDataFile(df, dd, "f0.parquet")
    DeltaLake.commit(dd, 0, Seq(DeltaLake.protocolAction,
      DeltaLake.metaDataAction(df.schema), DeltaLake.addAction("f0.parquet")))
    val viaSql = ses.sql(
      s"SELECT count(*) AS n, sum(k) AS sk FROM delta_scan('${dd.getPath}')")
      .collect()(0)
    assert(viaSql.getLong(0) == 2L && viaSql.getLong(1) == 3L)
    // time travel argument + join with a plain view in the same text
    DeltaLake.writeDataFile(Seq((3L, "c")).toDF("k", "s"), dd, "f1.parquet")
    DeltaLake.commit(dd, 1, Seq(DeltaLake.addAction("f1.parquet")))
    assert(ses.sql(
      s"SELECT count(*) AS n FROM delta_scan('${dd.getPath}', 0)")
      .collect()(0).getLong(0) == 2L)
    // hudi
    val hd = freshDir("sqlscan_hudi")
    graft.ops.HudiCow.writeBaseFile(Seq((5L, "x")).toDF("k", "s"),
      hd, "", "g1", "001")
    graft.ops.HudiCow.completeCommit(hd, "001")
    assert(ses.sql(
      s"SELECT k FROM hudi_scan('${hd.getPath}')").collect()(0).getLong(0) == 5L)
    // a literal mentioning delta_scan must NOT rewrite
    val lit = ses.sql("SELECT 'use delta_scan(''/x'')' AS s").collect()(0)
    assert(lit.getString(0) == "use delta_scan('/x')")
  }

  test("insert appends atomically; partitioned inserts record values") {
    val dir = freshDir("ins")
    val full = new org.apache.spark.sql.types.StructType()
      .add("k", "long").add("s", "string").add("p", "integer")
    DeltaLake.writeDataFile(Seq((1L, "a")).toDF("k", "s"), dir, "f0.parquet")
    DeltaLake.commit(dir, 0, Seq(DeltaLake.protocolAction,
      DeltaLake.metaDataAction(full, Seq("p")),
      DeltaLake.addAction("f0.parquet", Map("p" -> "10"))))
    // engine-side INSERT: two partitions in one atomic commit
    val v = DeltaLake.insert(spark, dir.getPath,
      Seq((2L, "b", 10), (3L, "c", 20)).toDF("k", "s", "p"))
    assert(v == 1L)
    val out = DeltaLake.read(spark, dir.getPath).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    assert(out.toSeq == Seq((1L, "a", 10), (2L, "b", 10), (3L, "c", 20)))
    // partition pruning still works over the inserted files
    assert(DeltaLake.read(spark, dir.getPath)
      .filter(col("p") === 20).count() == 1)
    // time travel: version 0 predates the insert
    assert(DeltaLake.readVersion(spark, dir.getPath, 0L).count() == 1)
    // a mismatched schema is rejected before anything writes
    intercept[IllegalArgumentException] {
      DeltaLake.insert(spark, dir.getPath, Seq((9L, 1.0)).toDF("k", "x"))
    }
    assert(DeltaLake.read(spark, dir.getPath).count() == 3)
  }

  test("insert writes a checkpoint every 10 commits (replay stays O(10))") {
    // the cadence belongs to the shared commit: a table that receives
    // only inserts and one that receives only updates both checkpoint
    val writers: Seq[(String, (File, Int) => Unit, Seq[(Long, String)])] = Seq(
      ("ins_ckpt", (dir, i) => DeltaLake.insert(spark, dir.getPath,
        Seq((i.toLong, s"v$i")).toDF("k", "s")),
        (0L to 9L).map(i => (i, if (i == 0) "base" else s"v$i"))),
      ("upd_ckpt", (dir, i) => DeltaLake.update(spark, dir.getPath,
        col("k") === 0L, Map("s" -> lit(s"u$i"))),
        Seq((0L, "u9"))))
    writers.foreach { case (tag, write, expected) =>
      val dir = freshDir(tag)
      val df = Seq((0L, "base")).toDF("k", "s")
      DeltaLake.writeDataFile(df, dir, "f0.parquet")
      DeltaLake.commit(dir, 0, Seq(DeltaLake.protocolAction,
        DeltaLake.metaDataAction(df.schema),
        DeltaLake.addAction("f0.parquet")))
      (1 to 9).foreach(write(dir, _))
      val logDir = new File(dir, "_delta_log")
      assert(logDir.listFiles().exists(
        _.getName == "00000000000000000009.checkpoint.parquet"), tag)
      def rows = DeltaLake.read(spark, dir.getPath).orderBy("k").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(rows == expected, tag)
      // the checkpoint is self-sufficient: retention may delete the commits
      logDir.listFiles().filter(_.getName.endsWith(".json"))
        .foreach(f => assert(f.delete()))
      assert(rows == expected, tag)
    }
  }

  test("commit is put-if-absent: a second commit of a version raises") {
    val dir = freshDir("put_if_absent")
    val df = Seq((1L, "a")).toDF("k", "s")
    DeltaLake.writeDataFile(df, dir, "f0.parquet")
    DeltaLake.commit(dir, 0, Seq(DeltaLake.protocolAction,
      DeltaLake.metaDataAction(df.schema), DeltaLake.addAction("f0.parquet")))
    val v1 = new File(dir, "_delta_log/00000000000000000001.json")
    DeltaLake.commit(dir, 1, Seq(DeltaLake.removeAction("f0.parquet")))
    val before = java.nio.file.Files.readAllBytes(v1.toPath)
    // a writer that picked the same version loses instead of overwriting
    intercept[java.util.ConcurrentModificationException] {
      DeltaLake.commit(dir, 1, Seq(DeltaLake.addAction("f0.parquet")))
    }
    assert(java.nio.file.Files.readAllBytes(v1.toPath).sameElements(before))
    assert(DeltaLake.read(spark, dir.getPath).count() == 0L)
    // no temporary file is left in the log
    assert(new File(dir, "_delta_log").list().toSet ==
      Set("00000000000000000000.json", "00000000000000000001.json"))
  }

  test("INSERT INTO delta_scan / iceberg_scan works in SQL text") {
    val ses = graft.api.SqlSession.wrap(spark)
    val dd = freshDir("sqlins")
    val df = Seq((1L, "a")).toDF("k", "s")
    DeltaLake.writeDataFile(df, dd, "f0.parquet")
    DeltaLake.commit(dd, 0, Seq(DeltaLake.protocolAction,
      DeltaLake.metaDataAction(df.schema), DeltaLake.addAction("f0.parquet")))
    val r = ses.sql(
      s"INSERT INTO delta_scan('${dd.getPath}') SELECT 2, 'b'").collect()
    assert(r(0).getLong(0) == 1L) // landed row count
    assert(ses.sql(s"SELECT count(*) AS n FROM delta_scan('${dd.getPath}')")
      .collect()(0).getLong(0) == 2L)
    val id = freshDir("sqlins_ice")
    val a = graft.ops.IcebergTable.writeDataFile(
      Seq((1L, "x")).toDF("k", "s"), id, "a.parquet")
    graft.ops.IcebergTable.commitSnapshot(id, 1, 1L,
      Seq(graft.ops.IcebergTable.Entry(1, a)))
    assert(ses.sql(
      s"INSERT INTO iceberg_scan('${id.getPath}') SELECT 2, 'y'")
      .collect()(0).getLong(0) == 1L)
    assert(ses.sql(
      s"SELECT count(*) AS n FROM iceberg_scan('${id.getPath}')")
      .collect()(0).getLong(0) == 2L)
  }

  test("timestamp time travel picks the greatest commit at-or-before") {
    val dir = freshDir("tstravel")
    val df = Seq((1L, "a")).toDF("k", "s")
    DeltaLake.writeDataFile(df, dir, "f0.parquet")
    DeltaLake.commit(dir, 0, Seq(DeltaLake.protocolAction,
      DeltaLake.metaDataAction(df.schema), DeltaLake.addAction("f0.parquet")))
    DeltaLake.writeDataFile(Seq((2L, "b")).toDF("k", "s"), dir, "f1.parquet")
    DeltaLake.commit(dir, 1, Seq(DeltaLake.addAction("f1.parquet")))
    // pin deterministic commit timestamps
    val logDir = new File(dir, "_delta_log")
    val t0 = 1700000000000L
    assert(new File(logDir, "00000000000000000000.json")
      .setLastModified(t0))
    assert(new File(logDir, "00000000000000000001.json")
      .setLastModified(t0 + 60000))
    assert(DeltaLake.readTimestamp(spark, dir.getPath, t0).count() == 1L)
    assert(DeltaLake.readTimestamp(spark, dir.getPath, t0 + 30000)
      .count() == 1L)
    assert(DeltaLake.readTimestamp(spark, dir.getPath, t0 + 60000)
      .count() == 2L)
    intercept[IllegalArgumentException] {
      DeltaLake.readTimestamp(spark, dir.getPath, t0 - 1)
    }
    // SQL surface: quoted second arg is TIMESTAMP AS OF
    val ses = graft.api.SqlSession.wrap(spark)
    val tsLit = new java.sql.Timestamp(t0 + 30000).toString
    assert(ses.sql(s"SELECT count(*) AS n FROM delta_scan(" +
      s"'${dir.getPath}', '$tsLit')").collect()(0).getLong(0) == 1L)
  }

  test("DELETE FROM / UPDATE lake scans work in SQL text") {
    val ses = graft.api.SqlSession.wrap(spark)
    val dd = freshDir("sqldml")
    val df = Seq((1L, 1.0, "a"), (2L, 2.0, "b"), (3L, 3.0, "c"))
      .toDF("k", "v", "note")
    DeltaLake.writeDataFile(df, dd, "f0.parquet")
    DeltaLake.commit(dd, 0, Seq(DeltaLake.protocolAction,
      DeltaLake.metaDataAction(df.schema), DeltaLake.addAction("f0.parquet")))
    assert(ses.sql(s"DELETE FROM delta_scan('${dd.getPath}') WHERE k = 3")
      .collect()(0).getLong(0) == 1L)
    // a WHERE inside a SET literal does not end the SET list
    assert(ses.sql(
      s"UPDATE delta_scan('${dd.getPath}') " +
        "SET v = CASE WHEN 'x,y' <> '' THEN v * 10 END, " +
        "note = 'x WHERE y' WHERE k = 2")
      .collect()(0).getLong(0) == 1L)
    assert(ses.sql(s"SELECT k, v FROM delta_scan('${dd.getPath}') " +
      "ORDER BY k").collect().map(r => (r.getLong(0), r.getDouble(1)))
      .toSeq == Seq((1L, 1.0), (2L, 20.0)))
    assert(ses.sql(s"SELECT note FROM delta_scan('${dd.getPath}') " +
      "ORDER BY k").collect().map(_.getString(0)).toSeq ==
      Seq("a", "x WHERE y"))
    // iceberg spelling routes to the merge-on-read writers
    val id = freshDir("sqldml_ice")
    val a = graft.ops.IcebergTable.writeDataFile(df, id, "a.parquet")
    graft.ops.IcebergTable.commitSnapshot(id, 1, 1L,
      Seq(graft.ops.IcebergTable.Entry(1, a)))
    assert(ses.sql(s"DELETE FROM iceberg_scan('${id.getPath}') WHERE k = 1")
      .collect()(0).getLong(0) == 1L)
    assert(ses.sql(
      s"UPDATE iceberg_scan('${id.getPath}') SET v = 0.5 WHERE k = 3")
      .collect()(0).getLong(0) == 1L)
    assert(ses.sql(s"SELECT k, v FROM iceberg_scan('${id.getPath}') " +
      "ORDER BY k").collect().map(r => (r.getLong(0), r.getDouble(1)))
      .toSeq == Seq((2L, 2.0), (3L, 0.5)))
  }

  test("MERGE INTO delta_scan works in SQL text") {
    val ses = graft.api.SqlSession.wrap(spark)
    val dd = freshDir("sqlmrg")
    val df = Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))
      .toDF("k", "s", "v")
    DeltaLake.writeDataFile(df, dd, "f0.parquet")
    DeltaLake.commit(dd, 0, Seq(DeltaLake.protocolAction,
      DeltaLake.metaDataAction(df.schema), DeltaLake.addAction("f0.parquet")))
    val r = ses.sql(
      s"""MERGE INTO delta_scan('${dd.getPath}') AS t
         |USING (SELECT * FROM (VALUES (2, 20.0, 'n'), (3, 30.0, 'n'),
         |       (4, 40.0, 'n')) AS x(mk, mv, note)) AS s
         |ON t.k = s.mk AND s.note <> 'a WHEN b'
         |WHEN MATCHED AND s.mk = 3 THEN DELETE
         |WHEN MATCHED THEN UPDATE SET v = CASE WHEN 'x,y' <> '' THEN s.mv END
         |WHEN NOT MATCHED THEN INSERT (k, s, v) VALUES (s.mk, 'n,1', s.mv)
         |""".stripMargin).collect()
    assert(r(0).getLong(0) == 3L) // 1 updated + 1 deleted + 1 inserted
    val out = ses.sql(s"SELECT k, s, v FROM delta_scan('${dd.getPath}') " +
      "ORDER BY k").collect().map(x =>
      (x.getLong(0), x.getString(1), x.getDouble(2)))
    assert(out.toSeq == Seq((1L, "a", 1.0), (2L, "b", 20.0),
      (4L, "n,1", 40.0)))
  }

  test("lake DML takes a trailing ; and leading comments") {
    val ses = graft.api.SqlSession.wrap(spark)
    val dd = freshDir("sqlnorm")
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "note")
    DeltaLake.writeDataFile(df, dd, "f0.parquet")
    DeltaLake.commit(dd, 0, Seq(DeltaLake.protocolAction,
      DeltaLake.metaDataAction(df.schema), DeltaLake.addAction("f0.parquet")))
    assert(ses.sql(s"DELETE FROM delta_scan('${dd.getPath}') WHERE k = 1;")
      .collect()(0).getLong(0) == 1L)
    assert(ses.sql(s"-- nightly\n/* purge */ DELETE FROM " +
      s"delta_scan('${dd.getPath}') WHERE k = 2 -- done\n")
      .collect()(0).getLong(0) == 1L)
    assert(DeltaLake.read(spark, dd.getPath).collect().map(_.getLong(0))
      .toSeq == Seq(3L))
  }

  test("lake-DML conditions and expr() resolve reference function names") {
    val ses = graft.api.SqlSession.wrap(spark)
    val dd = freshDir("sqlnames")
    val df = Seq((1L, "xa"), (2L, "b"), (3L, "xc")).toDF("k", "note")
    DeltaLake.writeDataFile(df, dd, "f0.parquet")
    DeltaLake.commit(dd, 0, Seq(DeltaLake.protocolAction,
      DeltaLake.metaDataAction(df.schema), DeltaLake.addAction("f0.parquet")))
    assert(ses.sql(s"DELETE FROM delta_scan('${dd.getPath}') " +
      "WHERE starts_with(note, 'x')").collect()(0).getLong(0) == 2L)
    val left = DeltaLake.read(spark, dd.getPath)
    assert(left.collect().map(_.getLong(0)).toSeq == Seq(2L))
    // the same names serve expr() on the wrapped session
    assert(left.select(expr("arbitrary(k)")).collect()(0).getLong(0) == 2L)
  }

  test("DELETE rewrites only the files holding matches; NULL keeps rows") {
    val dir = freshDir("del")
    val lo = Seq((1L, "a"), (2L, "b")).toDF("k", "s")
    val hi = Seq((10L, "x"), (11L, null.asInstanceOf[String])).toDF("k", "s")
    DeltaLake.writeDataFile(lo, dir, "lo.parquet")
    DeltaLake.writeDataFile(hi, dir, "hi.parquet")
    DeltaLake.commit(dir, 0, Seq(DeltaLake.protocolAction,
      DeltaLake.metaDataAction(lo.schema),
      DeltaLake.addAction("lo.parquet"), DeltaLake.addAction("hi.parquet")))
    // condition is NULL for k=11 (s is null): ANSI DELETE keeps that row
    val n = DeltaLake.delete(spark, dir.getPath, col("s") === "x")
    assert(n == 1L)
    val out = DeltaLake.read(spark, dir.getPath).orderBy("k")
      .collect().map(_.getLong(0))
    assert(out.toSeq == Seq(1L, 2L, 11L))
    // the untouched file survives VERBATIM (never rewritten): its add
    // action still names lo.parquet
    assert(new File(dir, "lo.parquet").isFile)
    val log1 = new String(java.nio.file.Files.readAllBytes(
      new File(dir, "_delta_log/00000000000000000001.json").toPath))
    assert(log1.contains(""""remove":{"path":"hi.parquet"""), log1)
    assert(!log1.contains("lo.parquet"), log1)
  }

  test("UPDATE evaluates SET against the pre-update row; partition col rejected") {
    val dir = freshDir("upd")
    val full = new org.apache.spark.sql.types.StructType()
      .add("k", "long").add("v", "long").add("p", "integer")
    DeltaLake.writeDataFile(Seq((1L, 10L), (2L, 20L)).toDF("k", "v"),
      dir, "f0.parquet")
    DeltaLake.commit(dir, 0, Seq(DeltaLake.protocolAction,
      DeltaLake.metaDataAction(full, Seq("p")),
      DeltaLake.addAction("f0.parquet", Map("p" -> "1"))))
    // SET k = v, v = k must swap (both read the PRE-update row)
    val n = DeltaLake.update(spark, dir.getPath, col("k") === 1L,
      Map("k" -> col("v"), "v" -> col("k")))
    assert(n == 1L)
    val out = DeltaLake.read(spark, dir.getPath).orderBy("v")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(out.toSeq == Seq((10L, 1L, 1), (2L, 20L, 1)))
    intercept[IllegalArgumentException] {
      DeltaLake.update(spark, dir.getPath, col("k") === 2L,
        Map("p" -> lit(9)))
    }
  }

  test("fully-removed table reads as empty with the declared schema") {
    val dir = freshDir("empty")
    val df = Seq((1L, "a")).toDF("k", "s")
    DeltaLake.writeDataFile(df, dir, "f0.parquet")
    DeltaLake.commit(dir, 0, Seq(DeltaLake.protocolAction,
      DeltaLake.metaDataAction(df.schema), DeltaLake.addAction("f0.parquet")))
    DeltaLake.commit(dir, 1, Seq(DeltaLake.removeAction("f0.parquet")))
    val out = DeltaLake.read(spark, dir.getPath)
    assert(out.schema.fieldNames.toSeq == Seq("k", "s"))
    assert(out.count() == 0)
  }

  test("merge: clause precedence, untouched files stay verbatim") {
    val dir = freshDir("mrg")
    val df = Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))
      .toDF("k", "s", "v")
    DeltaLake.writeDataFile(df.filter($"k" <= 1), dir, "f0.parquet")
    DeltaLake.writeDataFile(df.filter($"k" > 1), dir, "f1.parquet")
    DeltaLake.commit(dir, 0, Seq(DeltaLake.protocolAction,
      DeltaLake.metaDataAction(df.schema),
      DeltaLake.addAction("f0.parquet"), DeltaLake.addAction("f1.parquet")))
    val src = Seq((2L, 20.0), (3L, 30.0), (4L, 40.0)).toDF("mk", "mv")
    val st = DeltaLake.merge(spark, dir.getPath, src, "t.k = s.mk",
      matchedUpdate = Map("v" -> "s.mv"),
      matchedDelete = Some("s.mk = 3"),
      notMatchedInsert = Some(Map("k" -> "s.mk", "s" -> "'n'",
        "v" -> "s.mv")))
    assert(st == graft.ops.MergeStats(updated = 1, deleted = 1,
      inserted = 1))
    val out = DeltaLake.read(spark, dir.getPath).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(out.toSeq ==
      Seq((1L, "a", 1.0), (2L, "b", 20.0), (4L, "n", 40.0)))
    // f0 held no matched rows: it must not have been rewritten
    val log1 = new String(java.nio.file.Files.readAllBytes(
      new File(dir, "_delta_log/00000000000000000001.json").toPath))
    assert(!log1.contains("f0.parquet"))
    assert(log1.contains("\"remove\":{\"path\":\"f1.parquet\""))
  }

  test("merge raises when a target row matches multiple source rows") {
    val dir = freshDir("mrgdup")
    val df = Seq((1L, 1.0)).toDF("k", "v")
    DeltaLake.writeDataFile(df, dir, "f0.parquet")
    DeltaLake.commit(dir, 0, Seq(DeltaLake.protocolAction,
      DeltaLake.metaDataAction(df.schema), DeltaLake.addAction("f0.parquet")))
    val src = Seq((1L, 10.0), (1L, 11.0)).toDF("mk", "mv")
    intercept[IllegalArgumentException] {
      DeltaLake.merge(spark, dir.getPath, src, "t.k = s.mk",
        matchedUpdate = Map("v" -> "s.mv"))
    }
  }

  test("merge on a partitioned table routes inserts to their partitions") {
    val dir = freshDir("mrgpart")
    val full = new org.apache.spark.sql.types.StructType()
      .add("k", "long").add("v", "double").add("p", "integer")
    DeltaLake.writeDataFile(Seq((1L, 1.0)).toDF("k", "v"), dir, "a.parquet")
    DeltaLake.commit(dir, 0, Seq(DeltaLake.protocolAction,
      DeltaLake.metaDataAction(full, Seq("p")),
      DeltaLake.addAction("a.parquet", Map("p" -> "10"))))
    val src = Seq((1L, 100.0, 10), (2L, 200.0, 20)).toDF("mk", "mv", "mp")
    val st = DeltaLake.merge(spark, dir.getPath, src, "t.k = s.mk",
      matchedUpdate = Map("v" -> "s.mv"),
      notMatchedInsert = Some(Map("k" -> "s.mk", "v" -> "s.mv",
        "p" -> "s.mp")))
    assert(st == graft.ops.MergeStats(1, 0, 1))
    val out = DeltaLake.read(spark, dir.getPath).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
    assert(out.toSeq == Seq((1L, 100.0, 10), (2L, 200.0, 20)))
    // updating a partition column is rejected
    intercept[IllegalArgumentException] {
      DeltaLake.merge(spark, dir.getPath, src, "t.k = s.mk",
        matchedUpdate = Map("p" -> "s.mp"))
    }
  }

  test("optimize compacts file groups without changing rows; vacuum " +
      "reclaims the tombstoned originals") {
    val dir = freshDir("opt")
    val df = (1L to 100L).map(i => (i, i * 1.5)).toDF("k", "v")
    (0 until 4).foreach { j =>
      DeltaLake.writeDataFile(
        df.filter($"k" % 4 === j), dir, s"f$j.parquet")
    }
    DeltaLake.commit(dir, 0, Seq(DeltaLake.protocolAction,
      DeltaLake.metaDataAction(df.schema)) ++
      (0 until 4).map(j => DeltaLake.addAction(s"f$j.parquet")))
    val removed = DeltaLake.optimize(spark, dir.getPath)
    assert(removed == 4L)
    // rows identical, and the compacted snapshot is a single file
    val out = DeltaLake.read(spark, dir.getPath)
    assert(out.count() == 100L)
    assert(out.select(sum($"k")).collect()(0).getLong(0) == 5050L)
    assert(out.select(col("_metadata.file_path")).distinct().count() == 1L)
    // the log records the compaction as dataChange=false
    val log1 = new String(java.nio.file.Files.readAllBytes(
      new File(dir, "_delta_log/00000000000000000001.json").toPath))
    assert(log1.contains("\"dataChange\":false"))
    // originals still on disk (time travel to v0 works) until VACUUM
    assert(new File(dir, "f0.parquet").exists())
    assert(DeltaLake.readVersion(spark, dir.getPath, 0).count() == 100L)
    assert(DeltaLake.vacuum(spark, dir.getPath,
      retentionMs = 7L * 24 * 3600 * 1000) == 0L) // inside retention: kept
    assert(DeltaLake.vacuum(spark, dir.getPath, retentionMs = -1L) == 4L)
    assert(!new File(dir, "f0.parquet").exists())
    assert(DeltaLake.read(spark, dir.getPath).count() == 100L)
  }

  test("optimize zorderBy clusters the compacted files on the z-key") {
    val dir = freshDir("optz")
    val df = (0L until 400L).map(i => (i % 20, i / 20, i.toDouble))
      .toDF("x", "y", "v")
    (0 until 4).foreach { j =>
      DeltaLake.writeDataFile(
        df.filter($"v" % 4 === j), dir, s"f$j.parquet")
    }
    DeltaLake.commit(dir, 0, Seq(DeltaLake.protocolAction,
      DeltaLake.metaDataAction(df.schema)) ++
      (0 until 4).map(j => DeltaLake.addAction(s"f$j.parquet")))
    DeltaLake.optimize(spark, dir.getPath, targetBytes = 2048,
      zorderBy = Seq("x", "y"))
    val out = DeltaLake.read(spark, dir.getPath)
    assert(out.count() == 400L)
    val nFiles = out.select(col("_metadata.file_path")).distinct().count()
    assert(nFiles > 1, s"z-order fixture expected a multi-file layout")
    // a box predicate must not need every file: per-file x-ranges are
    // disjoint-ish after z-clustering, so the box touches a strict subset
    val touched = out.filter($"x" < 5 && $"y" < 5)
      .select(col("_metadata.file_path")).distinct().count()
    assert(touched < nFiles,
      s"box touched all $nFiles files — z-clustering had no effect")
  }

  test("CALL system.optimize / vacuum work through SQL text") {
    val dir = freshDir("proc")
    val ses = graft.api.SqlSession.wrap(spark)
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "s")
    DeltaLake.writeDataFile(df.filter($"k" === 1), dir, "f0.parquet")
    DeltaLake.writeDataFile(df.filter($"k" === 2), dir, "f1.parquet")
    DeltaLake.commit(dir, 0, Seq(DeltaLake.protocolAction,
      DeltaLake.metaDataAction(df.schema),
      DeltaLake.addAction("f0.parquet"), DeltaLake.addAction("f1.parquet")))
    assert(ses.sql(s"CALL system.optimize('${dir.getPath}')")
      .collect()(0).getLong(0) == 2L)
    assert(DeltaLake.read(spark, dir.getPath).count() == 2L)
    assert(ses.sql(s"CALL system.vacuum('${dir.getPath}', 0)")
      .collect()(0).getLong(0) == 2L) // both tombstoned originals go
    assert(!new File(dir, "f0.parquet").exists())
    assert(DeltaLake.read(spark, dir.getPath).count() == 2L)
    // the zorder directive routes through the same CALL
    assert(ses.sql(s"CALL system.optimize('${dir.getPath}', 'zorder:k')")
      .collect()(0).getLong(0) == 1L)
    assert(DeltaLake.read(spark, dir.getPath).count() == 2L)
  }

  test("tableChanges: unchanged rewritten rows cancel; update = del+ins") {
    val dir = freshDir("cdf")
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "s")
    DeltaLake.commit(dir, 0, Seq(DeltaLake.protocolAction,
      DeltaLake.metaDataAction(df.schema)))
    DeltaLake.insert(spark, dir.getPath, df) // v1
    DeltaLake.update(spark, dir.getPath, $"k" === 2L,
      Map("s" -> lit("B"))) // v2: rewrites the whole (single) file
    DeltaLake.optimize(spark, dir.getPath) // v3: must emit NOTHING
    val ch = DeltaLake.tableChanges(spark, dir.getPath, 0L, 99L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3))).sortBy(x => (x._4, x._3, x._1))
    assert(ch.toSeq == Seq(
      (1L, "a", "insert", 1L), (2L, "b", "insert", 1L),
      (3L, "c", "insert", 1L),
      // v2: only the updated row appears, as delete(old)+insert(new) —
      // rows 1 and 3 were rewritten byte-identical and cancel out
      (2L, "b", "delete", 2L), (2L, "B", "insert", 2L)))
  }

  test("describeHistory reports writer operations newest-first") {
    val dir = freshDir("hist")
    val df = Seq((1L, "a")).toDF("k", "s")
    DeltaLake.commit(dir, 0, Seq(DeltaLake.protocolAction,
      DeltaLake.metaDataAction(df.schema)))
    DeltaLake.insert(spark, dir.getPath, df)
    DeltaLake.insert(spark, dir.getPath, Seq((2L, "b")).toDF("k", "s"))
    DeltaLake.delete(spark, dir.getPath, $"k" === 2L)
    val h = DeltaLake.describeHistory(spark, dir.getPath).collect()
    assert(h.map(_.getLong(0)).toSeq == Seq(3L, 2L, 1L, 0L))
    assert(h.map(r => Option(r.getString(2)).orNull).toSeq ==
      Seq("DELETE", "WRITE", "WRITE", null)) // fixture commit 0: no info
    assert(!h(0).isNullAt(1)) // engine commits carry timestamps
    // SQL surface
    val ses = graft.api.SqlSession.wrap(spark)
    assert(ses.sql(s"SELECT count(*) AS n FROM delta_scan(" +
      s"'${dir.getPath}#history') WHERE operation = 'WRITE'")
      .collect()(0).getLong(0) == 2L)
  }

  test("convertToDelta imports a partitioned parquet dir in place") {
    val dir = freshDir("conv")
    val df = Seq((1L, 1.5, 10), (2L, 2.5, 20)).toDF("k", "v", "p")
    df.write.partitionBy("p").parquet(dir.getPath + "/t")
    val n = DeltaLake.convertToDelta(spark, dir.getPath + "/t",
      partitionSchema = Map("p" ->
        org.apache.spark.sql.types.IntegerType))
    assert(n == 2L)
    val out = DeltaLake.read(spark, dir.getPath + "/t").orderBy("k")
    assert(out.schema("p").dataType ==
      org.apache.spark.sql.types.IntegerType)
    assert(out.collect().map(r =>
      (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq ==
      Seq((1L, 1.5, 10), (2L, 2.5, 20)))
    // converting twice raises
    intercept[IllegalArgumentException] {
      DeltaLake.convertToDelta(spark, dir.getPath + "/t")
    }
    assert(DeltaLake.describeHistory(spark, dir.getPath + "/t")
      .collect()(0).getString(2) == "CONVERT")
  }

  test("shallow clone: zero-copy fork that evolves independently") {
    val root = freshDir("clone")
    val src = new File(root, "src")
    val tgt = new File(root, "tgt")
    src.mkdirs()
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "s")
    DeltaLake.writeDataFile(df, src, "f0.parquet")
    DeltaLake.commit(src, 0, Seq(DeltaLake.protocolAction,
      DeltaLake.metaDataAction(df.schema), DeltaLake.addAction("f0.parquet")))
    val ses = graft.api.SqlSession.wrap(spark)
    assert(ses.sql(s"CALL system.shallow_clone('${src.getPath}', " +
      s"'${tgt.getPath}')").collect()(0).getLong(0) == 1L)
    // no data was copied: the clone dir holds only its log
    assert(!new File(tgt, "f0.parquet").exists())
    assert(DeltaLake.read(spark, tgt.getPath).count() == 2L)
    // the clone evolves independently of the source
    DeltaLake.delete(spark, tgt.getPath, $"k" === 1L)
    DeltaLake.insert(spark, tgt.getPath, Seq((9L, "z")).toDF("k", "s"))
    assert(DeltaLake.read(spark, tgt.getPath).orderBy("k").collect()
      .map(_.getLong(0)).toSeq == Seq(2L, 9L))
    assert(DeltaLake.read(spark, src.getPath).count() == 2L) // untouched
    // VACUUM on the clone sweeps only clone-rooted files: the shared
    // source file survives even though the clone tombstoned it
    DeltaLake.vacuum(spark, tgt.getPath, retentionMs = -1L)
    assert(new File(src, "f0.parquet").exists())
    assert(DeltaLake.read(spark, src.getPath).count() == 2L)
  }

  test("RESTORE re-points the table at a past version as a new commit") {
    val dir = freshDir("restore")
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "s")
    DeltaLake.commit(dir, 0, Seq(DeltaLake.protocolAction,
      DeltaLake.metaDataAction(df.schema)))
    DeltaLake.insert(spark, dir.getPath, df) // v1
    DeltaLake.delete(spark, dir.getPath, $"k" === 2L) // v2
    DeltaLake.insert(spark, dir.getPath,
      Seq((3L, "c")).toDF("k", "s")) // v3
    assert(DeltaLake.read(spark, dir.getPath).count() == 2L) // 1, 3
    val ses = graft.api.SqlSession.wrap(spark)
    val n = ses.sql(s"CALL system.restore('${dir.getPath}', 1)")
      .collect()(0).getLong(0)
    assert(n > 0)
    assert(DeltaLake.read(spark, dir.getPath).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq(1L -> "a", 2L -> "b"))
    // history preserved: the restore is itself a commit, so the
    // pre-restore state is still reachable
    assert(DeltaLake.readVersion(spark, dir.getPath, 3L).count() == 2L)
    assert(DeltaLake.describeHistory(spark, dir.getPath)
      .collect()(0).getString(2) == "RESTORE")
    // restoring to the current state is a no-op
    val cur = DeltaLake.currentVersion(dir.getPath)
    assert(DeltaLake.restore(spark, dir.getPath, cur) == 0L)
  }

  test("insertTxn dedups replayed batches by appId watermark") {
    val dir = freshDir("txn")
    val df = Seq((1L, "a")).toDF("k", "s")
    DeltaLake.commit(dir, 0, Seq(DeltaLake.protocolAction,
      DeltaLake.metaDataAction(df.schema)))
    assert(DeltaLake.insertTxn(spark, dir.getPath, df,
      Some(("app", 0L))).contains(1L))
    // crash-replay of batch 0: skipped, no commit, no rows
    assert(DeltaLake.insertTxn(spark, dir.getPath, df,
      Some(("app", 0L))).isEmpty)
    // a DIFFERENT app's batch 0 is independent state
    assert(DeltaLake.insertTxn(spark, dir.getPath,
      Seq((2L, "b")).toDF("k", "s"), Some(("other", 0L))).contains(2L))
    assert(DeltaLake.txnVersion(spark, dir.getPath, "app").contains(0L))
    assert(DeltaLake.txnVersion(spark, dir.getPath, "none").isEmpty)
    assert(DeltaLake.read(spark, dir.getPath).count() == 2)
  }

  test("txn watermarks survive checkpoint compaction + log retention") {
    val dir = freshDir("txnckpt")
    val df = Seq((1L, "a")).toDF("k", "s")
    DeltaLake.commit(dir, 0, Seq(DeltaLake.protocolAction,
      DeltaLake.metaDataAction(df.schema)))
    DeltaLake.insertTxn(spark, dir.getPath, df, Some(("app", 7L)))
    DeltaLake.writeCheckpoint(spark, dir)
    // retention deletes the JSON commits the checkpoint covers; the
    // watermark must now come from the checkpoint's txn rows — otherwise
    // the replayed batch below would be applied twice
    new File(dir, "_delta_log").listFiles()
      .filter(_.getName.endsWith(".json")).foreach(f => assert(f.delete()))
    assert(DeltaLake.txnVersion(spark, dir.getPath, "app").contains(7L))
    assert(DeltaLake.insertTxn(spark, dir.getPath, df,
      Some(("app", 7L))).isEmpty)
    assert(DeltaLake.read(spark, dir.getPath).count() == 1)
  }
}
