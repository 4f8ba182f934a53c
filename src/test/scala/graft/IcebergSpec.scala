package graft

import java.io.File
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.IcebergTable
import graft.ops.IcebergTable.Entry

/** Minimal Iceberg v1 snapshot reader (ops/IcebergTable.scala; reference
  * presto-iceberg/): version-hint → metadata.json → manifest-list avro →
  * manifest avro → data files, with DELETED (status 2) entries skipped
  * and older snapshots invisible. */
class IcebergSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def freshDir(tag: String): File = {
    val f = new File(sys.props("java.io.tmpdir"),
      s"graft_iceberg_spec_${tag}_${System.nanoTime()}")
    f.mkdirs()
    f
  }

  test("current snapshot resolves through the avro manifest chain") {
    val dir = freshDir("chain")
    val a = IcebergTable.writeDataFile(
      Seq((1L, "a"), (2L, "b")).toDF("k", "s"), dir, "a.parquet")
    IcebergTable.commitSnapshot(dir, 1, 10L, Seq(Entry(1, a)))
    val out = IcebergTable.read(spark, dir.getPath).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSeq == Seq(1L -> "a", 2L -> "b"))
  }

  test("DELETED manifest entries are tombstones; new snapshot wins") {
    val dir = freshDir("del")
    val a = IcebergTable.writeDataFile(
      Seq((1L, "old"), (2L, "old")).toDF("k", "s"), dir, "a.parquet")
    IcebergTable.commitSnapshot(dir, 1, 10L, Seq(Entry(1, a)))
    // snapshot 2: a replaced by b (rewrite), c appended; a's tombstone
    // rides in the same manifest, as a real Iceberg commit writes it
    val b = IcebergTable.writeDataFile(
      Seq((1L, "new"), (2L, "new")).toDF("k", "s"), dir, "b.parquet")
    val c = IcebergTable.writeDataFile(
      Seq((3L, "c")).toDF("k", "s"), dir, "c.parquet")
    IcebergTable.commitSnapshot(dir, 2, 20L,
      Seq(Entry(2, a), Entry(1, b), Entry(1, c)))
    val out = IcebergTable.read(spark, dir.getPath).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSeq == Seq(1L -> "new", 2L -> "new", 3L -> "c"))
  }

  test("v2 positional deletes anti-join rows out by (file, row_index)") {
    val dir = freshDir("v2del")
    val a = IcebergTable.writeDataFile(
      (0L to 9L).map(i => (i, s"r$i")).toDF("k", "s")
        .orderBy("k"), dir, "a.parquet")
    val b = IcebergTable.writeDataFile(
      Seq((100L, "other")).toDF("k", "s"), dir, "b.parquet")
    // delete rows 1, 3, 8 of a.parquet only — b stays whole
    val d = IcebergTable.writeDeleteFile(spark, dir, "d.parquet",
      Seq((a, 1L), (a, 3L), (a, 8L)))
    IcebergTable.commitSnapshot(dir, 1, 10L, Seq(Entry(1, a), Entry(1, b),
      Entry(1, d, content = 1)))
    val out = IcebergTable.read(spark, dir.getPath).orderBy("k")
      .collect().map(_.getLong(0))
    assert(out.toSeq == Seq(0L, 2L, 4L, 5L, 6L, 7L, 9L, 100L))
  }

  test("time travel: readAt sees an old snapshot; metadata tables answer") {
    val dir = freshDir("tt")
    val a = IcebergTable.writeDataFile(
      Seq((1L, "v1")).toDF("k", "s"), dir, "a.parquet")
    IcebergTable.commitSnapshot(dir, 1, 10L, Seq(Entry(1, a)))
    val b = IcebergTable.writeDataFile(
      Seq((1L, "v2"), (2L, "v2")).toDF("k", "s"), dir, "b.parquet")
    IcebergTable.commitSnapshot(dir, 2, 20L, Seq(Entry(2, a), Entry(1, b)))
    // current = snapshot 20; snapshot 10 still reads via time travel
    assert(IcebergTable.read(spark, dir.getPath).count() == 2)
    val old = IcebergTable.readAt(spark, dir.getPath, 10L)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(old.toSeq == Seq(1L -> "v1"))
    val snaps = IcebergTable.snapshots(spark, dir.getPath)
      .orderBy("snapshot_id")
      .collect().map(r => (r.getLong(0), r.getBoolean(2)))
    assert(snaps.toSeq == Seq(10L -> false, 20L -> true))
    val files = IcebergTable.files(spark, dir.getPath)
      .collect().map(r => (r.getInt(0), r.getString(1)))
    assert(files.toSeq == Seq(0 -> "data/b.parquet"))
  }

  test("v2 equality deletes anti-join on the delete file's columns") {
    val dir = freshDir("eqdel")
    val a = IcebergTable.writeDataFile(
      Seq((1L, "us"), (2L, "eu"), (3L, "us"), (4L, "ap"))
        .toDF("k", "region"), dir, "a.parquet")
    IcebergTable.commitSnapshot(dir, 1, 10L, Seq(Entry(1, a)))
    // equality fields = (region): every 'us' row is deleted. The delete
    // commits AFTER the data (spec: equality deletes apply only to data
    // files with a strictly smaller sequence number).
    val d = IcebergTable.writeDataFile(
      Seq("us").toDF("region"), dir, "d.parquet")
    IcebergTable.commitSnapshot(dir, 2, 20L,
      Seq(Entry(0, a, addedSnapshotId = 10L), Entry(1, d, content = 2)))
    val out = IcebergTable.read(spark, dir.getPath).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSeq == Seq(2L -> "eu", 4L -> "ap"))
  }

  test("deletes scope by sequence: a row re-inserted later survives") {
    val dir = freshDir("seqscope")
    val a = IcebergTable.writeDataFile(
      Seq((1L, "us"), (2L, "eu")).toDF("k", "region"), dir, "a.parquet")
    IcebergTable.commitSnapshot(dir, 1, 10L, Seq(Entry(1, a)))
    val d = IcebergTable.writeDataFile(
      Seq("us").toDF("region"), dir, "d.parquet")
    IcebergTable.commitSnapshot(dir, 2, 20L,
      Seq(Entry(0, a, addedSnapshotId = 10L), Entry(1, d, content = 2)))
    // snapshot 3 re-inserts a 'us' row: the older equality delete must
    // NOT reach it (its sequence is higher than the delete's)
    val b = IcebergTable.writeDataFile(
      Seq((3L, "us")).toDF("k", "region"), dir, "b.parquet")
    IcebergTable.commitSnapshot(dir, 3, 30L,
      Seq(Entry(0, a, addedSnapshotId = 10L),
        Entry(0, d, content = 2, addedSnapshotId = 20L), Entry(1, b)))
    val out = IcebergTable.read(spark, dir.getPath).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSeq == Seq(2L -> "eu", 3L -> "us"))
  }

  test("positional deletes stop at their sequence: a re-added path reads whole") {
    val dir = freshDir("posseq")
    val a = IcebergTable.writeDataFile(
      (0L to 4L).map(i => (i, s"r$i")).toDF("k", "s").orderBy("k"),
      dir, "a.parquet")
    val d = IcebergTable.writeDeleteFile(spark, dir, "d.parquet",
      Seq((a, 0L)))
    // same-snapshot positional delete applies (seq <= rule)
    IcebergTable.commitSnapshot(dir, 1, 10L,
      Seq(Entry(1, a), Entry(1, d, content = 1)))
    assert(IcebergTable.read(spark, dir.getPath).count() == 4)
    // snapshot 2 rewrites the SAME path with new content; the old delete
    // (smaller sequence) must not tombstone row 0 of the new file
    IcebergTable.writeDataFile(
      (10L to 14L).map(i => (i, s"n$i")).toDF("k", "s").orderBy("k"),
      dir, "a.parquet")
    IcebergTable.commitSnapshot(dir, 2, 20L,
      Seq(Entry(1, a), Entry(0, d, content = 1, addedSnapshotId = 10L)))
    val out = IcebergTable.read(spark, dir.getPath).orderBy("k")
      .collect().map(_.getLong(0))
    assert(out.toSeq == (10L to 14L).toSeq)
  }

  test("partition transforms: truncate[100] prunes range + equality") {
    val dir = freshDir("trunc")
    val entries = (0 until 10).map { b =>
      val lo = b * 100
      val rows = (lo until lo + 100).map(i => (i.toLong, s"r$i"))
      val p = IcebergTable.writeDataFile(rows.toDF("k", "s"), dir,
        s"t$b.parquet")
      IcebergTable.PartEntry(1, p, Seq("k_trunc" -> (b * 100).toLong))
    }
    IcebergTable.commitPartitionedSnapshot(dir, 1, 10L,
      Seq("k" -> "long", "s" -> "string"),
      Seq(("k_trunc", "truncate[100]", "k")), entries)
    val (sel, total) = IcebergTable.plannedDataFiles(dir.getPath,
      Seq(("k", "<=", 250L)))
    assert(sel == 3 && total == 10)
    assert(IcebergTable.readPruned(spark, dir.getPath,
      Seq(("k", "<=", 250L))).count() == 251)
    val (sel2, _) = IcebergTable.plannedDataFiles(dir.getPath,
      Seq(("k", "=", 555L)))
    assert(sel2 == 1)
    assert(IcebergTable.readPruned(spark, dir.getPath,
      Seq(("k", "=", 555L))).collect().map(_.getLong(0)).toSeq == Seq(555L))
  }

  test("partition transforms: bucket[4] prunes equality via the spec hash") {
    val dir = freshDir("bucket")
    val byBucket = (1L to 40L)
      .groupBy(k => graft.ops.IcebergTransforms("bucket[4]", k))
    val entries = byBucket.toSeq
      .sortBy(_._1.asInstanceOf[Int]).map { case (b, ks) =>
        val p = IcebergTable.writeDataFile(
          ks.map(k => (k, s"v$k")).toDF("k", "s"), dir, s"b$b.parquet")
        IcebergTable.PartEntry(1, p, Seq("k_bucket" -> b))
      }
    IcebergTable.commitPartitionedSnapshot(dir, 1, 10L,
      Seq("k" -> "long", "s" -> "string"),
      Seq(("k_bucket", "bucket[4]", "k")), entries)
    val (sel, total) = IcebergTable.plannedDataFiles(dir.getPath,
      Seq(("k", "=", 7L)))
    assert(sel == 1 && total == byBucket.size && total > 1)
    assert(IcebergTable.readPruned(spark, dir.getPath,
      Seq(("k", "=", 7L))).collect().map(_.getLong(0)).toSeq == Seq(7L))
  }

  test("partition evolution: changed transform disables pruning, stays correct") {
    val dir = freshDir("evolve")
    val byBucket = (1L to 40L)
      .groupBy(k => graft.ops.IcebergTransforms("bucket[4]", k))
    val entries = byBucket.toSeq
      .sortBy(_._1.asInstanceOf[Int]).map { case (b, ks) =>
        val p = IcebergTable.writeDataFile(
          ks.map(k => (k, s"v$k")).toDF("k", "s"), dir, s"b$b.parquet")
        IcebergTable.PartEntry(1, p, Seq("k_bucket" -> b))
      }
    IcebergTable.commitPartitionedSnapshot(dir, 1, 10L,
      Seq("k" -> "long", "s" -> "string"),
      Seq(("k_bucket", "bucket[4]", "k")), entries)
    val metaFile = new java.io.File(dir, "metadata/v1.metadata.json")
    val txt = new String(java.nio.file.Files.readAllBytes(metaFile.toPath),
      java.nio.charset.StandardCharsets.UTF_8)
    // simulate evolution history: an RETIRED spec with the SAME field name
    // but a different transform (bucket[8]) — files written under it carry
    // incompatible tuple values, so pruning must turn itself off
    val evolved = txt.replace("\"partition-specs\":[{\"spec-id\":0,",
      "\"partition-specs\":[{\"spec-id\":9,\"fields\":[{\"name\":\"k_bucket\"," +
        "\"transform\":\"bucket[8]\",\"source-id\":1,\"field-id\":1000}]}," +
        "{\"spec-id\":0,")
    assert(evolved != txt)
    java.nio.file.Files.write(metaFile.toPath,
      evolved.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val (sel, total) = IcebergTable.plannedDataFiles(dir.getPath,
      Seq(("k", "=", 7L)))
    assert(sel == total, "conflicting specs must disable pruning")
    // the residual filter keeps the answer exact
    assert(IcebergTable.readPruned(spark, dir.getPath,
      Seq(("k", "=", 7L))).collect().map(_.getLong(0)).toSeq == Seq(7L))
    // an evolution that did NOT touch the field (identical duplicate
    // spec) keeps pruning active
    val harmless = txt.replace("\"partition-specs\":[{\"spec-id\":0,",
      "\"partition-specs\":[{\"spec-id\":9,\"fields\":[{\"name\":\"k_bucket\"," +
        "\"transform\":\"bucket[4]\",\"source-id\":1,\"field-id\":1000}]}," +
        "{\"spec-id\":0,")
    java.nio.file.Files.write(metaFile.toPath,
      harmless.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val (sel2, total2) = IcebergTable.plannedDataFiles(dir.getPath,
      Seq(("k", "=", 7L)))
    assert(sel2 == 1 && total2 == total)
  }

  test("v2 metadata spelling: schemas[] + current-schema-id resolve source ids") {
    val dir = freshDir("schemas_v2")
    val entries = (0 until 4).map { b =>
      val lo = b * 100
      val p = IcebergTable.writeDataFile(
        (lo until lo + 100).map(i => (i.toLong, s"r$i")).toDF("k", "s"),
        dir, s"t$b.parquet")
      IcebergTable.PartEntry(1, p, Seq("k_trunc" -> (b * 100).toLong))
    }
    IcebergTable.commitPartitionedSnapshot(dir, 1, 10L,
      Seq("k" -> "long", "s" -> "string"),
      Seq(("k_trunc", "truncate[100]", "k")), entries)
    // rewrite the fixture's v1 "schema" into the v2 schemas-array spelling
    val metaFile = new java.io.File(dir, "metadata/v1.metadata.json")
    val txt = new String(java.nio.file.Files.readAllBytes(metaFile.toPath),
      java.nio.charset.StandardCharsets.UTF_8)
    val v2 = txt
      .replace("\"schema\":{",
        "\"current-schema-id\":5,\"schemas\":[{\"schema-id\":5,")
      .replace("]},\"partition-specs\"", "]}],\"partition-specs\"")
    assert(v2 != txt)
    java.nio.file.Files.write(metaFile.toPath,
      v2.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val (sel, total) = IcebergTable.plannedDataFiles(dir.getPath,
      Seq(("k", "=", 155L)))
    assert(sel == 1 && total == 4)
  }

  test("partition transforms: month() prunes date ranges") {
    val dir = freshDir("month")
    def d(s: String) = java.sql.Date.valueOf(s)
    val files = Seq(
      ("2024-01", Seq(d("2024-01-05"), d("2024-01-20"))),
      ("2024-02", Seq(d("2024-02-10"))),
      ("2024-03", Seq(d("2024-03-01"), d("2024-03-30"))))
    val entries = files.map { case (tag, dates) =>
      val p = IcebergTable.writeDataFile(
        dates.map(dt => (dt, tag)).toDF("day", "tag"), dir, s"m$tag.parquet")
      IcebergTable.PartEntry(1, p,
        Seq("day_month" -> graft.ops.IcebergTransforms("month", dates.head)))
    }
    IcebergTable.commitPartitionedSnapshot(dir, 1, 10L,
      Seq("day" -> "date", "tag" -> "string"),
      Seq(("day_month", "month", "day")), entries)
    val (sel, total) = IcebergTable.plannedDataFiles(dir.getPath,
      Seq(("day", ">=", d("2024-03-01"))))
    assert(sel == 1 && total == 3)
    assert(IcebergTable.readPruned(spark, dir.getPath,
      Seq(("day", ">=", d("2024-03-01")))).count() == 2)
  }

  test("insertAppend commits a new snapshot; the old one still time-travels") {
    val dir = freshDir("ins")
    val a = IcebergTable.writeDataFile(
      Seq((1L, "base")).toDF("k", "s"), dir, "a.parquet")
    IcebergTable.commitSnapshot(dir, 1, 10L, Seq(Entry(1, a)))
    val snap = IcebergTable.insertAppend(spark, dir.getPath,
      Seq((2L, "ins"), (3L, "ins")).toDF("k", "s"))
    assert(snap == 11L)
    val out = IcebergTable.read(spark, dir.getPath).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSeq == Seq(1L -> "base", 2L -> "ins", 3L -> "ins"))
    // prior snapshot untouched (the append carried its manifest forward)
    assert(IcebergTable.readAt(spark, dir.getPath, 10L).count() == 1)
    // schema mismatch is rejected before anything commits
    intercept[IllegalArgumentException] {
      IcebergTable.insertAppend(spark, dir.getPath,
        Seq((9, 1.5)).toDF("k", "x"))
    }
    assert(IcebergTable.read(spark, dir.getPath).count() == 3)
  }

  test("metadata versions are put-if-absent: a stale writer raises") {
    val dir = freshDir("put_if_absent")
    val a = IcebergTable.writeDataFile(Seq((1L, "a")).toDF("k", "s"), dir,
      "a.parquet")
    IcebergTable.commitSnapshot(dir, 1, 1L, Seq(IcebergTable.Entry(1, a)))
    IcebergTable.insertAppend(spark, dir.getPath,
      Seq((2L, "b")).toDF("k", "s"))
    val v2 = new File(dir, "metadata/v2.metadata.json")
    val before = java.nio.file.Files.readAllBytes(v2.toPath)
    // a writer that read v1 and commits v2 lost the race: it raises and
    // the winner's metadata stays byte-identical
    val b = IcebergTable.writeDataFile(Seq((3L, "c")).toDF("k", "s"), dir,
      "b.parquet")
    intercept[java.util.ConcurrentModificationException] {
      IcebergTable.appendSnapshot(dir, 2, 9L, Seq(IcebergTable.Entry(1, b)))
    }
    assert(java.nio.file.Files.readAllBytes(v2.toPath).sameElements(before))
    assert(IcebergTable.read(spark, dir.getPath).orderBy("k").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(new String(java.nio.file.Files.readAllBytes(
      new File(dir, "metadata/version-hint.text").toPath)) == "2")
  }

  test("insertAppend into a transform-partitioned table keeps pruning exact") {
    val dir = freshDir("ins_part")
    val entries = (0 until 3).map { b =>
      val lo = b * 100
      val p = IcebergTable.writeDataFile(
        (lo until lo + 100).map(i => (i.toLong, s"r$i")).toDF("k", "s"),
        dir, s"t$b.parquet")
      IcebergTable.PartEntry(1, p, Seq("k_trunc" -> (b * 100).toLong))
    }
    IcebergTable.commitPartitionedSnapshot(dir, 1, 10L,
      Seq("k" -> "long", "s" -> "string"),
      Seq(("k_trunc", "truncate[100]", "k")), entries)
    // append keys 300..499: two NEW partitions (300, 400) via the engine
    val snap = IcebergTable.insertAppend(spark, dir.getPath,
      (300L until 500L).map(i => (i, s"n$i")).toDF("k", "s"))
    assert(snap == 11L)
    assert(IcebergTable.read(spark, dir.getPath).count() == 500)
    // the appended files carry partition tuples: pruning selects exactly
    // the one inserted partition for an equality in its range
    val (sel, total) = IcebergTable.plannedDataFiles(dir.getPath,
      Seq(("k", "=", 455L)))
    assert(total >= 5 && sel < total, s"$sel/$total")
    assert(IcebergTable.readPruned(spark, dir.getPath,
      Seq(("k", "=", 455L))).collect().map(_.getLong(0)).toSeq == Seq(455L))
    // the pre-insert snapshot is intact AND kept its pruning metadata
    assert(IcebergTable.readAt(spark, dir.getPath, 10L).count() == 300)
    val (sel0, total0) = IcebergTable.plannedDataFiles(dir.getPath,
      Seq(("k", "<=", 50L)))
    assert(sel0 == 1 && total0 == total)
  }

  test("IcebergBucket expression matches the spec hash, codegen'd (r13)") {
    import org.apache.spark.sql.functions.{col, datediff, lit, to_date}
    import graft.functions.IcebergBucket
    import graft.ops.IcebergTransforms
    // longs (incl. negatives), strings, dates — expression output must
    // equal the interpreted IcebergTransforms spec hash row for row
    val longs = Seq(-7L, -1L, 0L, 1L, 7L, 42L, 1234567890123L)
    val longDf = longs.toDF("k")
      .select(col("k"), IcebergBucket.column(col("k"), 16).as("b"))
    assert(longDf.collect().map(r => (r.getLong(0), r.getInt(1))).toMap ==
      longs.map(l => l -> IcebergTransforms("bucket[16]", l)).toMap)
    val strs = Seq("", "a", "iceberg", "ünïcode ✓")
    val strDf = strs.toDF("s")
      .select(col("s"), IcebergBucket.column(col("s"), 7).as("b"))
    assert(strDf.collect().map(r => (r.getString(0), r.getInt(1))).toMap ==
      strs.map(s => s -> IcebergTransforms("bucket[7]", s)).toMap)
    val dates = Seq("1969-12-31", "1970-01-01", "2024-02-29")
    val dateDf = dates.toDF("d")
      .select(col("d"), IcebergBucket.column(
        datediff(to_date(col("d")), to_date(lit("1970-01-01"))).cast("long"),
        4).as("b"))
    assert(dateDf.collect().map(r => (r.getString(0), r.getInt(1))).toMap ==
      dates.map(d =>
        d -> IcebergTransforms("bucket[4]", java.time.LocalDate.parse(d))).toMap)
    // null in, null out; and the write path carries no ScalaUDF node
    val nullDf = Seq[Option[Long]](None).toDF("k")
      .select(IcebergBucket.column(col("k"), 4).as("b"))
    assert(nullDf.collect().head.isNullAt(0))
    assert(!longDf.queryExecution.executedPlan.toString.contains("ScalaUDF"))
  }

  test("insertAppend into a bucket-partitioned table hashes like the spec") {
    val dir = freshDir("ins_bucket")
    val p = IcebergTable.writeDataFile(
      Seq((1L, "seed")).toDF("k", "s"), dir, "seed.parquet")
    IcebergTable.commitPartitionedSnapshot(dir, 1, 10L,
      Seq("k" -> "long", "s" -> "string"),
      Seq(("k_bucket", "bucket[4]", "k")),
      Seq(IcebergTable.PartEntry(1, p,
        Seq("k_bucket" -> graft.ops.IcebergTransforms("bucket[4]", 1L)))))
    IcebergTable.insertAppend(spark, dir.getPath,
      (2L to 40L).map(i => (i, s"v$i")).toDF("k", "s"))
    assert(IcebergTable.read(spark, dir.getPath).count() == 40)
    // equality pruning through the bucket hash finds exactly the one row
    val (sel, total) = IcebergTable.plannedDataFiles(dir.getPath,
      Seq(("k", "=", 7L)))
    assert(sel < total, s"$sel/$total")
    assert(IcebergTable.readPruned(spark, dir.getPath,
      Seq(("k", "=", 7L))).collect().map(_.getLong(0)).toSeq == Seq(7L))
  }

  test("DELETE FROM writes a positional-delete snapshot, no rewrite") {
    val dir = freshDir("delw")
    val df = (1L to 20L).map(i => (i, s"v$i")).toDF("k", "s")
    val a = IcebergTable.writeDataFile(df, dir, "a.parquet")
    IcebergTable.commitSnapshot(dir, 1, 1L, Seq(Entry(1, a)))
    assert(IcebergTable.delete(spark, dir.getPath, $"k" % 2 === 0) == 10L)
    val out = IcebergTable.read(spark, dir.getPath)
      .collect().map(_.getLong(0)).sorted
    assert(out.toSeq == (1L to 19L by 2).toSeq)
    // the data file was NOT rewritten (merge-on-read, not copy-on-write)
    assert(new java.io.File(dir, "data/a.parquet").exists())
    // time travel: the pre-delete snapshot still sees all 20 rows
    assert(IcebergTable.readAt(spark, dir.getPath, 1L).count() == 20L)
    // a second delete must not re-record already-dead rows: count is
    // exact, and stacking both delete files still reads correctly
    assert(IcebergTable.delete(spark, dir.getPath, $"k" <= 5) == 3L)
    assert(IcebergTable.read(spark, dir.getPath)
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(7L, 9L, 11L, 13L,
      15L, 17L, 19L))
    // NULL condition keeps rows (ANSI): nothing matches, no snapshot
    assert(IcebergTable.delete(spark, dir.getPath,
      org.apache.spark.sql.functions.lit(null).cast("boolean")) == 0L)
  }

  test("DELETE does not touch rows inserted after it (sequence scoping)") {
    val dir = freshDir("delseq")
    val a = IcebergTable.writeDataFile(
      Seq((1L, "x"), (2L, "y")).toDF("k", "s"), dir, "a.parquet")
    IcebergTable.commitSnapshot(dir, 1, 1L, Seq(Entry(1, a)))
    assert(IcebergTable.delete(spark, dir.getPath, $"k" === 2) == 1L)
    // re-insert k=2 AFTER the delete: it must survive
    IcebergTable.insertAppend(spark, dir.getPath,
      Seq((2L, "reborn")).toDF("k", "s"))
    val out = IcebergTable.read(spark, dir.getPath).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSeq == Seq(1L -> "x", 2L -> "reborn"))
  }

  test("UPDATE commits delete + replacement rows in one snapshot") {
    val dir = freshDir("updw")
    val df = (1L to 10L).map(i => (i, i * 1.0)).toDF("k", "v")
    val a = IcebergTable.writeDataFile(df, dir, "a.parquet")
    IcebergTable.commitSnapshot(dir, 1, 1L, Seq(Entry(1, a)))
    assert(IcebergTable.update(spark, dir.getPath, $"k" > 7,
      Map("v" -> ($"v" * 100))) == 3L)
    val out = IcebergTable.read(spark, dir.getPath).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(out.toSeq == ((1L to 7L).map(i => (i, i * 1.0)) ++
      (8L to 10L).map(i => (i, i * 100.0))))
    // no rewrite: the original data file is still the only base file
    assert(new java.io.File(dir, "data/a.parquet").exists())
    // pre-update snapshot still time-travels
    assert(IcebergTable.readAt(spark, dir.getPath, 1L)
      .filter($"v" > 50).count() == 0L)
    // a second update stacks (applies on the post-update view)
    assert(IcebergTable.update(spark, dir.getPath, $"v" === 800.0,
      Map("v" -> org.apache.spark.sql.functions.lit(0.0))) == 1L)
    assert(IcebergTable.read(spark, dir.getPath)
      .filter($"k" === 8).collect()(0).getDouble(1) == 0.0)
  }

  test("merge: MoR clause precedence, dup-match raise, SQL text surface") {
    val dir = freshDir("mrg")
    val df = Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))
      .toDF("k", "s", "v")
    val a = IcebergTable.writeDataFile(df, dir, "a.parquet")
    IcebergTable.commitSnapshot(dir, 1, 1L, Seq(Entry(1, a)))
    val src = Seq((2L, 20.0), (3L, 30.0), (4L, 40.0)).toDF("mk", "mv")
    val st = IcebergTable.merge(spark, dir.getPath, src, "t.k = s.mk",
      matchedUpdate = Map("v" -> "s.mv"),
      matchedDelete = Some("s.mk = 3"),
      notMatchedInsert = Some(Map("k" -> "s.mk", "s" -> "'n'",
        "v" -> "s.mv")))
    assert(st == graft.ops.MergeStats(updated = 1, deleted = 1,
      inserted = 1))
    val out = IcebergTable.read(spark, dir.getPath).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(out.toSeq ==
      Seq((1L, "a", 1.0), (2L, "b", 20.0), (4L, "n", 40.0)))
    // merge-on-read: the base file was never rewritten
    assert(new java.io.File(dir, "data/a.parquet").exists())
    // dup matches raise
    intercept[IllegalArgumentException] {
      IcebergTable.merge(spark, dir.getPath,
        Seq((2L, 1.0), (2L, 2.0)).toDF("mk", "mv"), "t.k = s.mk",
        matchedUpdate = Map("v" -> "s.mv"))
    }
    // SQL text: MERGE INTO iceberg_scan(...)
    val ses = graft.api.SqlSession.wrap(spark)
    val r = ses.sql(
      s"""MERGE INTO iceberg_scan('${dir.getPath}') AS t
         |USING (SELECT * FROM (VALUES (4, 0.5), (9, 9.0)) AS x(mk, mv))
         |  AS s
         |ON t.k = s.mk
         |WHEN MATCHED THEN UPDATE SET v = CASE WHEN 'x,y' <> '' THEN s.mv END
         |WHEN NOT MATCHED THEN INSERT (k, s, v) VALUES (s.mk, 'i,j', s.mv)
         |""".stripMargin).collect()
    assert(r(0).getLong(0) == 2L)
    assert(IcebergTable.read(spark, dir.getPath).orderBy("k").collect()
      .map(x => (x.getLong(0), x.getDouble(2))).toSeq ==
      Seq((1L, 1.0), (2L, 20.0), (4L, 0.5), (9L, 9.0)))
    assert(IcebergTable.read(spark, dir.getPath).where("k = 9")
      .select("s").collect()(0).getString(0) == "i,j")
  }

  test("metadata tables: history/manifests/refs/partitions/properties") {
    val dir = freshDir("metatables")
    val a = IcebergTable.writeDataFile(
      Seq((1L, "x")).toDF("k", "s"), dir, "a.parquet")
    IcebergTable.commitSnapshot(dir, 1, 1L, Seq(Entry(1, a)))
    IcebergTable.insertAppend(spark, dir.getPath,
      Seq((2L, "y")).toDF("k", "s"))
    IcebergTable.delete(spark, dir.getPath, $"k" === 1L)
    // history: 3 snapshots, all current ancestors, parents chain 1→2→3
    val h = IcebergTable.history(spark, dir.getPath)
      .orderBy("snapshot_id").collect()
    assert(h.map(_.getLong(1)).toSeq == Seq(1L, 2L, 3L))
    assert(h.forall(_.getBoolean(3)))
    assert(h(0).isNullAt(2) && h(1).getLong(2) == 1L &&
      h(2).getLong(2) == 2L)
    // inserts/deletes stamp timestamps (the fixture base commit may not)
    assert(!h(1).isNullAt(0) && !h(2).isNullAt(0))
    // manifests: 3 manifests live in the current snapshot (base + insert
    // + delete), each with one added entry
    val m = IcebergTable.manifests(spark, dir.getPath).collect()
    assert(m.length == 3)
    assert(m.map(_.getInt(4)).sum == 3) // added_data_files_count
    // refs: implicit main branch at the current snapshot
    val r = IcebergTable.refs(spark, dir.getPath).collect()
    assert(r.map(x => (x.getString(0), x.getString(1), x.getLong(2)))
      .toSeq == Seq(("main", "branch", 3L)))
    // partitions: unpartitioned table = one empty tuple over 2 data files
    val p = IcebergTable.partitions(spark, dir.getPath).collect()
    assert(p.map(x => (x.getString(0), x.getLong(1))).toSeq ==
      Seq(("", 2L)))
    // properties: none declared on the fixture
    assert(IcebergTable.properties(spark, dir.getPath).count() == 0L)
    // SQL surface: '#' suffix on iceberg_scan
    val ses = graft.api.SqlSession.wrap(spark)
    assert(ses.sql(s"SELECT count(*) AS n FROM iceberg_scan(" +
      s"'${dir.getPath}#history')").collect()(0).getLong(0) == 3L)
    assert(ses.sql(s"SELECT name FROM iceberg_scan(" +
      s"'${dir.getPath}#refs')").collect()(0).getString(0) == "main")
  }

  test("CALL procedures: rollback, expire_snapshots, remove_orphan_files") {
    val dir = freshDir("proc")
    val ses = graft.api.SqlSession.wrap(spark)
    val a = IcebergTable.writeDataFile(
      Seq((1L, "x")).toDF("k", "s"), dir, "a.parquet")
    IcebergTable.commitSnapshot(dir, 1, 1L, Seq(Entry(1, a)))
    IcebergTable.insertAppend(spark, dir.getPath,
      Seq((2L, "y")).toDF("k", "s"))
    assert(IcebergTable.read(spark, dir.getPath).count() == 2L)
    // rollback: current points back at snapshot 1, list intact
    ses.sql(s"CALL system.rollback_to_snapshot('${dir.getPath}', 1)")
    assert(IcebergTable.read(spark, dir.getPath).count() == 1L)
    assert(IcebergTable.snapshots(spark, dir.getPath).count() == 2L)
    // roll forward again — the snapshot list was preserved
    ses.sql(s"CALL system.rollback_to_snapshot('${dir.getPath}', 2)")
    assert(IcebergTable.read(spark, dir.getPath).count() == 2L)
    // expire all but the last snapshot: time travel to 1 stops resolving
    val exp = ses.sql(
      s"CALL system.expire_snapshots('${dir.getPath}', 1)").collect()
    assert(exp(0).getLong(0) == 1L)
    intercept[IllegalArgumentException] {
      IcebergTable.readAt(spark, dir.getPath, 1L).collect()
    }
    // snapshot 1's manifest is now orphaned; its data file is NOT (the
    // fast-append carried it into snapshot 2's manifest list)
    val removed = ses.sql(
      s"CALL system.remove_orphan_files('${dir.getPath}')").collect()
    assert(removed(0).getLong(0) >= 1L)
    assert(IcebergTable.read(spark, dir.getPath).orderBy("k").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 2L))
    intercept[IllegalArgumentException] {
      ses.sql("CALL system.no_such_proc('/x')")
    }
  }

  test("timestamp and ref time travel resolve through iceberg_scan") {
    val dir = freshDir("tsref")
    val a = IcebergTable.writeDataFile(
      Seq((1L, "x")).toDF("k", "s"), dir, "a.parquet")
    IcebergTable.commitSnapshot(dir, 1, 1L, Seq(Entry(1, a)))
    IcebergTable.insertAppend(spark, dir.getPath,
      Seq((2L, "y")).toDF("k", "s"))
    val h = IcebergTable.history(spark, dir.getPath)
      .orderBy("snapshot_id").collect()
    val t2 = h(1).getTimestamp(0) // snapshot 2's commit time
    assert(IcebergTable.readAtTimestamp(spark, dir.getPath,
      t2.getTime).count() == 2L)
    intercept[IllegalArgumentException] {
      IcebergTable.readAtTimestamp(spark, dir.getPath, 1L) // before all
    }
    assert(IcebergTable.readRef(spark, dir.getPath, "main").count() == 2L)
    intercept[IllegalArgumentException] {
      IcebergTable.readRef(spark, dir.getPath, "nope")
    }
    val ses = graft.api.SqlSession.wrap(spark)
    assert(ses.sql(s"SELECT count(*) AS n FROM iceberg_scan(" +
      s"'${dir.getPath}', '${t2.toString}')").collect()(0).getLong(0) == 2L)
    assert(ses.sql(s"SELECT count(*) AS n FROM iceberg_scan(" +
      s"'${dir.getPath}', 'main')").collect()(0).getLong(0) == 2L)
  }

  test("rewrite_data_files materializes delete layers into one file") {
    val dir = freshDir("rdf")
    val df = (1L to 20L).map(i => (i, i * 1.0)).toDF("k", "v")
    val a = IcebergTable.writeDataFile(df, dir, "a.parquet")
    IcebergTable.commitSnapshot(dir, 1, 1L, Seq(Entry(1, a)))
    IcebergTable.delete(spark, dir.getPath, $"k" > 15)
    IcebergTable.update(spark, dir.getPath, $"k" === 1L,
      Map("v" -> org.apache.spark.sql.functions.lit(0.0)))
    val ses = graft.api.SqlSession.wrap(spark)
    assert(ses.sql(s"CALL system.rewrite_data_files('${dir.getPath}')")
      .collect()(0).getLong(0) == 1L)
    val out = IcebergTable.read(spark, dir.getPath).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(out.toSeq == ((1L, 0.0) +: (2L to 15L).map(i => (i, i * 1.0))))
    // the compacted snapshot has exactly one live file and no deletes
    val files = IcebergTable.files(spark, dir.getPath).collect()
    assert(files.length == 1 && files(0).getInt(0) == 0)
    // pre-compaction snapshots still time-travel
    assert(IcebergTable.readAt(spark, dir.getPath, 1L).count() == 20L)
  }

  test("insertAppendTxn dedups replayed batches via snapshot summaries") {
    val dir = freshDir("txn")
    val df = Seq((1L, "a")).toDF("k", "s")
    val a = IcebergTable.writeDataFile(df, dir, "a.parquet")
    IcebergTable.commitSnapshot(dir, 1, 1L, Seq(Entry(1, a)))
    assert(IcebergTable.insertAppendTxn(spark, dir.getPath,
      Seq((2L, "b")).toDF("k", "s"), Some(("app", 0L))).isDefined)
    // crash-replay of batch 0: skipped
    assert(IcebergTable.insertAppendTxn(spark, dir.getPath,
      Seq((2L, "b")).toDF("k", "s"), Some(("app", 0L))).isEmpty)
    // a different app's batch 0 is independent
    assert(IcebergTable.insertAppendTxn(spark, dir.getPath,
      Seq((3L, "c")).toDF("k", "s"), Some(("other", 0L))).isDefined)
    assert(IcebergTable.txnVersion(spark, dir.getPath, "app")
      .contains(0L))
    assert(IcebergTable.txnVersion(spark, dir.getPath, "none").isEmpty)
    assert(IcebergTable.read(spark, dir.getPath).count() == 3L)
  }

  test("register_table clones zero-copy; clone evolves independently") {
    val root = freshDir("clone")
    val src = new java.io.File(root, "src")
    val tgt = new java.io.File(root, "tgt")
    src.mkdirs()
    val a = IcebergTable.writeDataFile(
      Seq((1L, "a"), (2L, "b")).toDF("k", "s"), src, "a.parquet")
    IcebergTable.commitSnapshot(src, 1, 1L, Seq(Entry(1, a)))
    val ses = graft.api.SqlSession.wrap(spark)
    assert(ses.sql(s"CALL system.register_table('${src.getPath}', " +
      s"'${tgt.getPath}')").collect()(0).getLong(0) == 1L)
    assert(!new java.io.File(tgt, "data/a.parquet").exists()) // no copy
    assert(IcebergTable.read(spark, tgt.getPath).count() == 2L)
    // independent evolution: MoR delete + append on the clone only
    IcebergTable.delete(spark, tgt.getPath, $"k" === 1L)
    IcebergTable.insertAppend(spark, tgt.getPath,
      Seq((9L, "z")).toDF("k", "s"))
    assert(IcebergTable.read(spark, tgt.getPath).orderBy("k").collect()
      .map(_.getLong(0)).toSeq == Seq(2L, 9L))
    assert(IcebergTable.read(spark, src.getPath).count() == 2L)
    // a source with live delete layers refuses to clone
    IcebergTable.delete(spark, src.getPath, $"k" === 2L)
    intercept[IllegalArgumentException] {
      IcebergTable.cloneTable(spark, src.getPath,
        new java.io.File(root, "tgt2").getPath)
    }
  }

  test("EXISTING entries (status 0) keep carried-forward files visible") {
    val dir = freshDir("exist")
    val a = IcebergTable.writeDataFile(
      Seq((1L, "keep")).toDF("k", "s"), dir, "a.parquet")
    IcebergTable.commitSnapshot(dir, 1, 10L, Seq(Entry(1, a)))
    val b = IcebergTable.writeDataFile(
      Seq((2L, "add")).toDF("k", "s"), dir, "b.parquet")
    IcebergTable.commitSnapshot(dir, 2, 20L,
      Seq(Entry(0, a), Entry(1, b)))
    val out = IcebergTable.read(spark, dir.getPath).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSeq == Seq(1L -> "keep", 2L -> "add"))
  }
}
