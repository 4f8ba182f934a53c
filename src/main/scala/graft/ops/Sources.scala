package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Source/sink format coverage (SURVEY.md §2.2: connector SPI +
  * presto-orc/OrcReader.java:64, presto-parquet/ParquetReader.java:101,
  * hive text/CSV serdes). Each query is a write→read round-trip through a
  * non-parquet format; the oracle reads the ORIGINAL parquet, so a pass
  * proves the format preserved values exactly.
  *
  * The partitioned variant writes `partitionBy(key)` and reads back with a
  * key predicate — at scale this is the partition-pruning path (only
  * matching directories are listed/scanned; `.explain` shows
  * PartitionFilters). */
object Sources {

  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables(s, dir, n)

  private def tmp(name: String): String = s"/tmp/graft_sources/$name"

  private def rmRec(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(rmRec)
    f.delete()
  }

  /** One root per JVM for the table fixtures the gates build, so a JVM
    * never reuses a fixture an older build left in the temp directory.
    * Removed when the JVM exits. */
  private lazy val fixtureRoot: java.io.File = {
    val root = java.nio.file.Files.createTempDirectory("graft_fixtures_")
      .toFile
    sys.addShutdownHook(rmRec(root))
    root
  }

  /** The fixture directory `<kind>_<hash of dir>` under the JVM's fixture
    * root. `build` runs unless the fixture's done marker exists, after
    * wiping whatever an earlier, failed build left there — the writers'
    * put-if-absent commits would refuse to overwrite it. */
  private[graft] def fixture(kind: String, dir: String)
      (build: java.io.File => Unit): java.io.File = synchronized {
    val name = s"${kind}_${Integer.toHexString(dir.hashCode)}"
    val base = new java.io.File(fixtureRoot, name)
    val done = new java.io.File(fixtureRoot, s"$name.done")
    if (!done.exists()) {
      rmRec(base)
      build(base)
      require(done.createNewFile(), s"fixture $name built twice")
    }
    base
  }

  def csvRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = tmp("nation_csv")
    val src = t(s, dir, "nation")
    src.write.mode("overwrite").option("header", "true").csv(out)
    s.read.option("header", "true").schema(src.schema).csv(out)
      .orderBy("n_nationkey")
  }

  def jsonRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = tmp("supplier_json")
    val src = t(s, dir, "supplier")
    src.write.mode("overwrite").json(out)
    s.read.schema(src.schema).json(out)
      .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      .orderBy("s_suppkey")
  }

  def orcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = tmp("region_orc")
    val src = t(s, dir, "region")
    src.write.mode("overwrite").orc(out)
    s.read.orc(out).orderBy("r_regionkey")
  }

  /** Hive-style partitioned parquet sink + pruned scan: only the
    * o_orderstatus=F directory is read back (PartitionFilters in the plan,
    * the DSv2 analogue of PickTableLayout.java:77's TupleDomain pushdown). */
  def partitionedPruned(s: SparkSession, dir: String): DataFrame = {
    val out = tmp("orders_part")
    t(s, dir, "orders")
      .write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
    s.read.parquet(out)
      .filter(col("o_orderstatus") === "F")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        Tables.dsum(col("o_totalprice"), "total"))
      .orderBy("o_orderpriority")
  }

  /** DYNAMIC partition pruning — the reference's dynamic filtering
    * (MAIN/operator/DynamicFilterSourceOperator.java:49: build-side
    * values become a runtime filter on the probe scan). Spark's DPP is
    * the same mechanism: the dim side's filter result is injected into
    * the fact scan's PartitionFilters as a `dynamicpruning` subquery at
    * RUNTIME, so only matching partition directories are read — the
    * filter is NOT statically derivable here (the status set comes from
    * a predicate on a different column). SourcesSpec pins the
    * dynamicpruning expression in the plan. */
  def dynamicPruned(s: SparkSession, dir: String): DataFrame = {
    val out = tmp("orders_dpp")
    t(s, dir, "orders")
      .write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
    dynamicPrunedQuery(s, dir, out)
  }

  private[graft] def dynamicPrunedQuery(s: SparkSession, dir: String,
      out: String): DataFrame = {
    val fact = s.read.parquet(out)
    val dim = t(s, dir, "orders")
      .where(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderstatus").as("st")).distinct()
    fact.join(dim, col("o_orderstatus") === col("st"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), Tables.dsum(col("o_totalprice"), "total"))
      .orderBy("o_orderstatus")
  }

  /** DELETE as copy-on-write rewrite (reference DeleteNode /
    * MetadataDeleteOperator.java:145): parquet has no row-level delete, so
    * the surviving rows are rewritten — the same mechanism Delta/Iceberg COW
    * uses; the readback aggregate proves only the survivors remain. */
  def dmlDeleteRewrite(s: SparkSession, dir: String): DataFrame = {
    val out = tmp("lineitem_deleted")
    t(s, dir, "lineitem")
      .filter(!(col("l_discount") > 0.06))
      .write.mode("overwrite").parquet(out)
    s.read.parquet(out)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), Tables.dsum(col("l_extendedprice"), "total"))
      .orderBy("l_returnflag")
  }

  /** UPDATE as copy-on-write rewrite (reference UpdateNode /
    * MergeWriterOperator): SET is a CASE projection over the full table,
    * rewritten and read back. */
  def dmlUpdateRewrite(s: SparkSession, dir: String): DataFrame = {
    val out = tmp("orders_updated")
    t(s, dir, "orders")
      .withColumn("o_totalprice",
        when(col("o_orderstatus") === "F", col("o_totalprice") * 0.9)
          .otherwise(col("o_totalprice")))
      .write.mode("overwrite").parquet(out)
    s.read.parquet(out)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), Tables.dsum(col("o_totalprice"), "total"))
      .orderBy("o_orderstatus")
  }

  /** MERGE INTO as copy-on-write rewrite (reference MergeWriterNode /
    * DeleteAndInsertMergeProcessor): WHEN MATCHED THEN UPDATE = left join +
    * coalesce; WHEN NOT MATCHED THEN INSERT = union of the source-only rows.
    * One pass over the target, rewritten and read back. */
  def dmlMergeRewrite(s: SparkSession, dir: String): DataFrame = {
    val out = tmp("orders_merged")
    val o = t(s, dir, "orders")
    val updates = o.filter(col("o_orderkey") % 7 === 0)
      .select(col("o_orderkey").as("u_key"),
        (col("o_totalprice") * 1.1).as("u_price"))
    val inserts = o.filter(col("o_orderkey") % 997 === 0)
      .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
        col("o_custkey"), lit("N").as("o_orderstatus"), col("o_totalprice"),
        col("o_orderdate"), lit("9-NEW").as("o_orderpriority"))
    o.join(updates, col("o_orderkey") === col("u_key"), "left")
      .withColumn("o_totalprice", coalesce(col("u_price"), col("o_totalprice")))
      .drop("u_key", "u_price")
      .unionByName(inserts)
      .write.mode("overwrite").parquet(out)
    s.read.parquet(out)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), Tables.dsum(col("o_totalprice"), "total"))
      .orderBy("o_orderstatus")
  }

  /** MERGE into a MANAGED snapshot table (SnapshotTable.scala): the same
    * matched-update / not-matched-insert semantics as dml_merge_rewrite,
    * but against a versioned table with the reference's table-finish
    * commit contract (TableFinishOperator.java:68) — the new snapshot
    * becomes visible in one atomic pointer flip, old-or-new for any
    * concurrent reader (atomicity itself is pinned in SourcesSpec). */
  def dmlMergeManaged(s: SparkSession, dir: String): DataFrame = {
    val base = new java.io.File(tmp("orders_snapshot"))
    SnapshotTable.drop(base) // idempotent gate: fresh table each run
    SnapshotTable.write(s, base, t(s, dir, "orders"))
    SnapshotTable.merge(s, base) { o =>
      val updates = o.filter(col("o_orderkey") % 7 === 0)
        .select(col("o_orderkey").as("u_key"),
          (col("o_totalprice") * 1.1).as("u_price"))
      val inserts = o.filter(col("o_orderkey") % 997 === 0)
        .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
          col("o_custkey"), lit("N").as("o_orderstatus"), col("o_totalprice"),
          col("o_orderdate"), lit("9-NEW").as("o_orderpriority"))
      o.join(updates, col("o_orderkey") === col("u_key"), "left")
        .withColumn("o_totalprice", coalesce(col("u_price"), col("o_totalprice")))
        .drop("u_key", "u_price")
        .unionByName(inserts)
    }
    SnapshotTable.read(s, base)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), Tables.dsum(col("o_totalprice"), "total"))
      .orderBy("o_orderstatus")
  }

  /** DELETE on a MANAGED snapshot table — the reference's DELETE verb
    * (SPI/plan/DeleteNode.java, LocalExecutionPlanner.java:3124) carried
    * by the same table-finish commit contract as MERGE: copy-on-write
    * into a new version, one atomic pointer flip, old-or-new for
    * concurrent readers. */
  def dmlDeleteManaged(s: SparkSession, dir: String): DataFrame = {
    val base = new java.io.File(tmp("lineitem_snapshot_del"))
    SnapshotTable.drop(base) // idempotent gate: fresh table each run
    SnapshotTable.write(s, base, t(s, dir, "lineitem"))
    SnapshotTable.delete(s, base, col("l_discount") > 0.06)
    SnapshotTable.read(s, base)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), Tables.dsum(col("l_extendedprice"), "total"))
      .orderBy("l_returnflag")
  }

  /** UPDATE on a MANAGED snapshot table (reference UpdateNode,
    * LocalExecutionPlanner.java:3157): two SET assignments evaluated
    * against the pre-update row, committed copy-on-write. */
  def dmlUpdateManaged(s: SparkSession, dir: String): DataFrame = {
    val base = new java.io.File(tmp("orders_snapshot_upd"))
    SnapshotTable.drop(base) // idempotent gate: fresh table each run
    SnapshotTable.write(s, base, t(s, dir, "orders"))
    SnapshotTable.update(s, base,
      Seq("o_totalprice" -> (col("o_totalprice") * 0.9),
        "o_orderpriority" -> lit("0-DISCOUNTED")),
      col("o_orderstatus") === "F")
    SnapshotTable.read(s, base)
      .groupBy("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"), Tables.dsum(col("o_totalprice"), "total"))
      .orderBy("o_orderstatus", "o_orderpriority")
  }

  /** Bucketed write + co-located join (reference grouped/bucketed execution,
    * MAIN/sql/planner/GroupedExecutionTagger.java): both sides bucketed on
    * the join key so the join plans with zero Exchange on either side — the
    * storage-partitioned-join path that makes repeated big×big joins cheap
    * at 100 TB (bucket count would be thousands there, 8 here). */
  def bucketedJoin(s: SparkSession, dir: String): DataFrame = {
    s.sql("DROP TABLE IF EXISTS graft_lineitem_b")
    s.sql("DROP TABLE IF EXISTS graft_orders_b")
    t(s, dir, "lineitem").write.mode("overwrite")
      .option("path", tmp("bucketed_lineitem"))
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("graft_lineitem_b")
    t(s, dir, "orders").write.mode("overwrite")
      .option("path", tmp("bucketed_orders"))
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("graft_orders_b")
    s.table("graft_lineitem_b")
      .join(s.table("graft_orders_b"), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), Tables.dsum(col("l_extendedprice"), "total"))
      .orderBy("o_orderstatus")
  }

  /** JDBC source/sink round-trip (the reference's base-jdbc connector
    * family — presto-base-jdbc; SURVEY §2.2): write supplier to an
    * embedded Derby database via spark.write.jdbc, read it back via
    * spark.read.jdbc, verify against the original parquet. On a cluster
    * the same code paths partition reads by `partitionColumn` bounds;
    * Derby here stands in for any JDBC endpoint (the driver is in Spark's
    * own jars). Doubles survive exactly (Derby DOUBLE is IEEE binary64). */
  def jdbcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val url = s"jdbc:derby:${tmp("derby_db")};create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    t(s, dir, "supplier")
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
        col("s_acctbal"))
      .write.mode("overwrite").jdbc(url, "SUPPLIER_RT", props)
    s.read.jdbc(url, "SUPPLIER_RT", props)
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
        col("s_acctbal"))
      .orderBy("s_suppkey")
  }

  /** Kafka topic-as-table scan semantics (reference presto-kafka/…/
    * KafkaRecordSet.java:52: each Kafka record surfaces as a row with
    * binary key/value plus topic/partition/offset metadata columns, value
    * decoded by a row decoder). The spark-sql-kafka connector jar is not
    * in this environment (zero egress), so the BROKER is stood in by a
    * file-backed topic in Spark's own Kafka batch-source schema — key/
    * value binary, topic, partition, offset, timestamp — written once,
    * scanned as a table, keys/values decoded and offset-bounded exactly
    * like the reference's record set; the identical DataFrame also runs
    * under readStream in SourcesSpec. On a real cluster only the
    * `format("parquet")` → `format("kafka")` line changes. */
  def kafkaBatch(s: SparkSession, dir: String): DataFrame = {
    val topicDir = tmp("kafka_topic_events")
    // produce: events → 4-partition topic keyed by user, offsets
    // monotone per partition (the broker contract the scan relies on)
    t(s, dir, "events").filter(col("event_id") <= 2000)
      .select(
        col("user_id").cast("string").cast("binary").as("key"),
        to_json(struct(col("event_id"), col("user_id"), col("event_type"),
          col("value"))).cast("binary").as("value"),
        lit("events").as("topic"),
        (col("user_id") % 4).cast("int").as("partition"),
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id") % 4).orderBy("event_id"))
          .cast("long").as("offset"),
        col("ts").cast("timestamp").as("timestamp"))
      .write.mode("overwrite").parquet(topicDir)
    // consume: offset-bounded scan (start-offset predicate pushes to the
    // scan like the reference's OFFSET_TIMESTAMP filtering), decode the
    // value payload, aggregate per event type
    val payload = new org.apache.spark.sql.types.StructType()
      .add("event_id", "long").add("user_id", "long")
      .add("event_type", "string").add("value", "double")
    s.read.parquet(topicDir)
      .filter(col("topic") === "events" && col("offset") >= 1)
      .select(col("key").cast("string").cast("long").as("key_user"),
        from_json(col("value").cast("string"), payload).as("v"))
      .filter(col("key_user") === col("v.user_id")) // key/value coherence
      .groupBy(col("v.event_type").as("event_type"))
      .agg(count(lit(1)).as("n"), Tables.dsum(col("v.value"), "total"),
        countDistinct(col("key_user")).as("n_users"))
      .orderBy("event_type")
  }

  /** Delta-log table scan (reference presto-delta/; ops/DeltaLake.scala):
    * the gate BUILDS a protocol-conformant `_delta_log` fixture — v0 adds
    * one file covering o_orderkey <= 1000, v1 compacts it away (remove)
    * and adds two files covering <= 500 and (500, 1500] — then reads the
    * snapshot back through the JSON-action replay. If tombstones were
    * ignored the <= 1000 rows would double and the hash would differ; the
    * oracle is the plain predicate over the base table. */
  def deltaRead(s: SparkSession, dir: String): DataFrame = {
    val base = fixture("delta", dir) { base =>
      base.mkdirs()
      val o = t(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      DeltaLake.writeDataFile(
        o.filter(col("o_orderkey") <= 1000), base, "f0.parquet")
      DeltaLake.commit(base, 0, Seq(
        DeltaLake.protocolAction,
        DeltaLake.metaDataAction(o.schema),
        DeltaLake.addAction("f0.parquet")))
      DeltaLake.writeDataFile(
        o.filter(col("o_orderkey") <= 500), base, "f1.parquet")
      DeltaLake.writeDataFile(
        o.filter(col("o_orderkey") > 500 && col("o_orderkey") <= 1500),
        base, "f2.parquet")
      DeltaLake.commit(base, 1, Seq(
        DeltaLake.removeAction("f0.parquet"),
        DeltaLake.addAction("f1.parquet"),
        DeltaLake.addAction("f2.parquet")))
    }
    DeltaLake.read(s, base.getPath).orderBy("o_orderkey")
  }

  /** Hudi CoW snapshot scan (reference presto-hudi/; ops/HudiCow.scala):
    * the fixture writes file group g1 at instant 001 covering <= 1000,
    * REWRITES it at instant 002 down to <= 500 (copy-on-write slice), adds
    * group g2 covering (500, 1500], and leaves an INFLIGHT instant 003
    * with extra rows. Correct replay shows exactly <= 1500 rows once: a
    * visible stale slice duplicates, a visible inflight file adds rows —
    * either breaks the hash. */
  def hudiRead(s: SparkSession, dir: String): DataFrame = {
    val base = fixture("hudi", dir) { base =>
      base.mkdirs()
      val o = t(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      HudiCow.writeBaseFile(
        o.filter(col("o_orderkey") <= 1000), base, "", "g1", "001")
      HudiCow.completeCommit(base, "001")
      HudiCow.writeBaseFile(
        o.filter(col("o_orderkey") <= 500), base, "", "g1", "002")
      HudiCow.writeBaseFile(
        o.filter(col("o_orderkey") > 500 && col("o_orderkey") <= 1500),
        base, "", "g2", "002")
      HudiCow.writeBaseFile(
        o.filter(col("o_orderkey") > 1500 && col("o_orderkey") <= 2000),
        base, "", "g3", "003")
      HudiCow.inflightCommit(base, "003")
      HudiCow.completeCommit(base, "002")
    }
    HudiCow.read(s, base.getPath).orderBy("o_orderkey")
  }

  /** Hudi MERGE_ON_READ snapshot scan (reference presto-hudi/ HudiSplit
    * .java:39 logFiles; ops/HudiMor.scala): the fixture writes base group
    * g1@001 covering <= 1000, then a log file on that slice with an
    * upsert block @002 (statuses of keys <= 100 flip to 'X') and a delete
    * block @003 (keys in (950, 1000] tombstoned). A reader that silently
    * ignored the logs — the CoW path — would keep the stale statuses and
    * the deleted rows, and the hash would differ. */
  def hudiMorRead(s: SparkSession, dir: String): DataFrame = {
    val base = fixture("hudi_mor", dir) { base =>
      base.mkdirs()
      HudiCow.writeProperties(base, "MERGE_ON_READ", "o_orderkey")
      val o = t(s, dir, "orders").select("o_orderkey", "o_orderstatus")
      HudiCow.writeBaseFile(
        o.filter(col("o_orderkey") <= 1000), base, "", "g1", "001")
      HudiCow.completeCommit(base, "001")
      val logSchema = new org.apache.spark.sql.types.StructType()
        .add("o_orderkey", "long").add("o_orderstatus", "string")
      val upserts = o.filter(col("o_orderkey") <= 100).collect()
        .map(r => org.apache.spark.sql.Row(r.getLong(0), "X")).toSeq
      val delKeys = o
        .filter(col("o_orderkey") > 950 && col("o_orderkey") <= 1000)
        .collect().map(_.getLong(0).toString).toSeq
      HudiMor.writeLogFile(base, "", "g1", "001", 1, Seq(
        HudiMor.DataBlock("002", upserts, logSchema),
        HudiMor.DeleteBlock("003", delKeys)))
      HudiCow.completeDeltaCommit(base, "002")
      HudiCow.completeDeltaCommit(base, "003")
    }
    HudiCow.read(s, base.getPath).orderBy("o_orderkey")
  }

  /** Iceberg v1 snapshot scan (reference presto-iceberg/;
    * ops/IcebergTable.scala): snapshot 1 adds a file covering <= 1000;
    * snapshot 2's manifest marks it DELETED (status 2) and adds files for
    * <= 500 and (500, 1500]. Reading the current snapshot must skip the
    * tombstoned entry or rows <= 1000 double and the hash breaks. */
  def icebergRead(s: SparkSession, dir: String): DataFrame = {
    val base = fixture("iceberg", dir) { base =>
      base.mkdirs()
      val o = t(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val a = IcebergTable.writeDataFile(
        o.filter(col("o_orderkey") <= 1000), base, "a.parquet")
      IcebergTable.commitSnapshot(base, 1, 1L,
        Seq(IcebergTable.Entry(1, a)))
      val b = IcebergTable.writeDataFile(
        o.filter(col("o_orderkey") <= 500), base, "b.parquet")
      val c = IcebergTable.writeDataFile(
        o.filter(col("o_orderkey") > 500 && col("o_orderkey") <= 1500),
        base, "c.parquet")
      IcebergTable.commitSnapshot(base, 2, 2L, Seq(
        IcebergTable.Entry(2, a), // DELETED tombstone carried forward
        IcebergTable.Entry(1, b), IcebergTable.Entry(1, c)))
    }
    IcebergTable.read(s, base.getPath).orderBy("o_orderkey")
  }

  /** Iceberg non-identity partition transforms (reference presto-iceberg/
    * PartitionTransforms.java:60-63; ops/IcebergTransforms.scala): the
    * fixture lays orders with o_orderkey < 1000 into 5 files partitioned
    * by truncate[200](o_orderkey), then reads back WITH pruning on
    * o_orderkey <= 450 — the reader must (a) select only the 3 files
    * whose transformed tuple can match (asserted via require, so a
    * non-pruning reader fails the gate loudly) and (b) apply the
    * residual filter for exact rows. */
  def icebergTransformsRead(s: SparkSession, dir: String): DataFrame = {
    val base = fixture("iceberg_tr", dir) { base =>
      base.mkdirs()
      val o = t(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .filter(col("o_orderkey") < 1000)
      val entries = (0 until 5).map { b =>
        val lo = b * 200L
        val f = IcebergTable.writeDataFile(
          o.filter(col("o_orderkey") >= lo && col("o_orderkey") < lo + 200),
          base, s"t$b.parquet")
        IcebergTable.PartEntry(1, f, Seq("o_orderkey_trunc" -> lo))
      }
      IcebergTable.commitPartitionedSnapshot(base, 1, 1L,
        Seq("o_orderkey" -> "long", "o_orderstatus" -> "string",
          "o_totalprice" -> "decimal(12,2)"),
        Seq(("o_orderkey_trunc", "truncate[200]", "o_orderkey")), entries)
    }
    val preds = Seq(("o_orderkey", "<=", 450L: Any))
    val (sel, total) = IcebergTable.plannedDataFiles(base.getPath, preds)
    require(sel == 3 && total == 5,
      s"transform pruning expected 3/5 files, planned $sel/$total")
    IcebergTable.readPruned(s, base.getPath, preds).orderBy("o_orderkey")
  }

  /** Iceberg v2 positional deletes: the data file holds the 1000 smallest
    * orders SORTED, a delete file tombstones positions 0-4 (the 5
    * smallest keys), and the scan must anti-join them out via
    * _metadata.row_index — ignored deletes leave 5 extra rows and break
    * the hash. */
  def icebergV2Deletes(s: SparkSession, dir: String): DataFrame = {
    val base = fixture("iceberg_v2", dir) { base =>
      base.mkdirs()
      val o = t(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .filter(col("o_orderkey") <= 1000)
        .orderBy("o_orderkey")
      val a = IcebergTable.writeDataFile(o, base, "a.parquet")
      val d = IcebergTable.writeDeleteFile(s, base, "d.parquet",
        (0L to 4L).map(p => (a, p)))
      IcebergTable.commitSnapshot(base, 1, 1L, Seq(
        IcebergTable.Entry(1, a), IcebergTable.Entry(1, d, content = 1)))
    }
    IcebergTable.read(s, base.getPath).orderBy("o_orderkey")
  }

  /** INSERT INTO a Delta table through the engine's own commit path
    * (ops/DeltaLake.insert): the fixture creates the table with orders
    * <= 500, the engine APPENDS (500, 1000] as new parquet + one atomic
    * add-actions commit, and the gate re-reads the table through the log
    * replay. A broken commit (missing adds, wrong partitionValues, or a
    * non-atomic half-write) changes the hash. */
  def dmlInsertDelta(s: SparkSession, dir: String): DataFrame = {
    val base = fixture("delta_ins", dir) { base =>
      base.mkdirs()
      val o = t(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      DeltaLake.writeDataFile(
        o.filter(col("o_orderkey") <= 500), base, "f0.parquet")
      DeltaLake.commit(base, 0, Seq(
        DeltaLake.protocolAction,
        DeltaLake.metaDataAction(o.schema),
        DeltaLake.addAction("f0.parquet")))
      val v = DeltaLake.insert(s, base.getPath,
        o.filter(col("o_orderkey") > 500 && col("o_orderkey") <= 1000))
      require(v == 1L, s"insert committed version $v, expected 1")
    }
    DeltaLake.read(s, base.getPath).orderBy("o_orderkey")
  }

  /** DELETE + UPDATE on a Delta table through the engine's copy-on-write
    * rewrite (ops/DeltaLake.delete/update): the fixture builds orders
    * <= 1000 split across two files, the engine DELETEs keys > 900 and
    * UPDATEs statuses of keys <= 100 to 'X', and the gate re-reads the
    * table. A rewrite that dropped unaffected files, resurrected removed
    * rows, or evaluated SET against post-update rows changes the hash. */
  def dmlDeltaCow(s: SparkSession, dir: String): DataFrame = {
    val base = fixture("delta_cow", dir) { base =>
      base.mkdirs()
      val o = t(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      DeltaLake.writeDataFile(
        o.filter(col("o_orderkey") <= 500), base, "f0.parquet")
      DeltaLake.writeDataFile(
        o.filter(col("o_orderkey") > 500 && col("o_orderkey") <= 1000),
        base, "f1.parquet")
      DeltaLake.commit(base, 0, Seq(
        DeltaLake.protocolAction,
        DeltaLake.metaDataAction(o.schema),
        DeltaLake.addAction("f0.parquet"),
        DeltaLake.addAction("f1.parquet")))
      DeltaLake.delete(s, base.getPath, col("o_orderkey") > 900)
      DeltaLake.update(s, base.getPath, col("o_orderkey") <= 100,
        Map("o_orderstatus" -> lit("X")))
    }
    DeltaLake.read(s, base.getPath).orderBy("o_orderkey")
  }

  /** DELETE FROM an Iceberg table (ops/IcebergTable.delete — v2
    * positional merge-on-read): base snapshot holds orders <= 1000, the
    * engine DELETEs keys divisible by 7 (a new delete-file snapshot, no
    * data file rewritten), then APPENDS (1000, 1100] — the insert lands
    * after the delete and must be untouched by it. The gate re-reads the
    * final snapshot through the sequence-scoped reader. */
  def dmlDeleteIceberg(s: SparkSession, dir: String): DataFrame = {
    val base = fixture("iceberg_del", dir) { base =>
      base.mkdirs()
      val o = t(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val a = IcebergTable.writeDataFile(
        o.filter(col("o_orderkey") <= 1000), base, "a.parquet")
      IcebergTable.commitSnapshot(base, 1, 1L,
        Seq(IcebergTable.Entry(1, a)))
      val n = IcebergTable.delete(s, base.getPath,
        col("o_orderkey") % 7 === 0)
      require(n > 0, "delete fixture matched no rows")
      IcebergTable.insertAppend(s, base.getPath,
        o.filter(col("o_orderkey") > 1000 && col("o_orderkey") <= 1100))
    }
    IcebergTable.read(s, base.getPath).orderBy("o_orderkey")
  }

  /** Iceberg changelog (ops/IcebergTable.tableChanges): snapshot 2
    * appends (1000, 1100], snapshot 3 DELETEs keys divisible by 7 — the
    * change feed must show exactly the appended rows as inserts at
    * ordinal 2 and the deleted rows' IMAGES (resolved from the
    * positional-delete tuples against the pre-snapshot scan) at 3. */
  def srcIcebergCdf(s: SparkSession, dir: String): DataFrame = {
    val base = fixture("iceberg_cdf", dir) { base =>
      base.mkdirs()
      val o = t(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val a = IcebergTable.writeDataFile(
        o.filter(col("o_orderkey") <= 1000), base, "a.parquet")
      IcebergTable.commitSnapshot(base, 1, 1L,
        Seq(IcebergTable.Entry(1, a)))
      IcebergTable.insertAppend(s, base.getPath,
        o.filter(col("o_orderkey") > 1000 && col("o_orderkey") <= 1100))
      IcebergTable.delete(s, base.getPath, col("o_orderkey") % 7 === 0)
    }
    graft.api.SqlSession.wrap(s).sql(
      s"""SELECT o_orderkey, o_orderstatus, o_totalprice, _change_type,
         | _snapshot_ordinal
         |FROM iceberg_changes('${base.getPath}', 2, 3)
         |ORDER BY _snapshot_ordinal, _change_type, o_orderkey"""
        .stripMargin)
  }

  /** CONVERT TO DELTA (ops/DeltaLake.convertToDelta): a plain
    * Hive-partitioned parquet directory becomes a Delta table IN PLACE
    * (no data movement — commit 0 lists the discovered files with their
    * partition tuples), then the engine APPENDS through the normal
    * commit path to prove the imported table is writable. */
  def dmlConvertDelta(s: SparkSession, dir: String): DataFrame = {
    val base = fixture("delta_conv", dir) { base =>
      val o = t(s, dir, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
      o.filter(col("o_orderkey") <= 500)
        .write.partitionBy("o_orderstatus").parquet(base.getPath)
      val n = DeltaLake.convertToDelta(s, base.getPath)
      require(n > 0, "conversion discovered no files")
      DeltaLake.insert(s, base.getPath,
        o.filter(col("o_orderkey") > 500 && col("o_orderkey") <= 1000))
    }
    DeltaLake.read(s, base.getPath)
      .select("o_orderkey", "o_totalprice", "o_orderstatus")
      .orderBy("o_orderkey")
  }

  /** Deletion-vector read (ops/DeletionVectors + DeltaLake reader v3):
    * the fixture writes orders <= 1000 as ONE sorted file and a
    * protocol-3 log whose add carries a u-addressed DV deleting row
    * positions 0..4 — the 5 smallest keys. A reader that ignored the
    * vector (the pre-guard failure mode) resurrects them → hash break. */
  def srcDeltaDv(s: SparkSession, dir: String): DataFrame = {
    val base = fixture("delta_dv", dir) { base =>
      base.mkdirs()
      val o = t(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .filter(col("o_orderkey") <= 1000)
        .orderBy("o_orderkey")
      DeltaLake.writeDataFile(o, base, "f0.parquet")
      val d = graft.ops.DeletionVectors.writeDvFile(base,
        Seq(0L, 1L, 2L, 3L, 4L))
      DeltaLake.commit(base, 0, Seq(
        """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
          """"readerFeatures":["deletionVectors"],""" +
          """"writerFeatures":["deletionVectors"]}}""",
        DeltaLake.metaDataAction(o.schema),
        DeltaLake.addActionWithDv("f0.parquet", d)))
    }
    DeltaLake.read(s, base.getPath).orderBy("o_orderkey")
  }

  /** CDF-style change extraction (ops/DeltaLake.tableChanges): v1 appends
    * orders <= 1000 (insert rows), v2 copy-on-write DELETEs keys > 900 —
    * the change feed must show exactly the appended rows at v1 and the
    * deleted rows at v2 (the unchanged rewritten rows cancel out in the
    * multiset diff). Read back through the SQL delta_changes() spelling. */
  def srcDeltaCdf(s: SparkSession, dir: String): DataFrame = {
    val base = fixture("delta_cdf", dir) { base =>
      base.mkdirs()
      val o = t(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      DeltaLake.commit(base, 0, Seq(
        DeltaLake.protocolAction, DeltaLake.metaDataAction(o.schema)))
      DeltaLake.insert(s, base.getPath,
        o.filter(col("o_orderkey") <= 1000))
      DeltaLake.delete(s, base.getPath, col("o_orderkey") > 900)
    }
    graft.api.SqlSession.wrap(s).sql(
      s"""SELECT o_orderkey, o_orderstatus, o_totalprice, _change_type,
         | _commit_version
         |FROM delta_changes('${base.getPath}', 1, 2)
         |ORDER BY _commit_version, _change_type, o_orderkey""".stripMargin)
  }

  /** MERGE INTO an Iceberg table (ops/IcebergTable.merge — merge-on-read:
    * one snapshot carrying the positional delete of dying matched rows
    * plus the replacement/insert data file). Same clause fixture as the
    * Delta merge gate so the two formats share oracle semantics. */
  def dmlMergeIceberg(s: SparkSession, dir: String): DataFrame = {
    val base = fixture("iceberg_mrg", dir) { base =>
      base.mkdirs()
      val o = t(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val a = IcebergTable.writeDataFile(
        o.filter(col("o_orderkey") <= 1000), base, "a.parquet")
      IcebergTable.commitSnapshot(base, 1, 1L,
        Seq(IcebergTable.Entry(1, a)))
      val src = t(s, dir, "orders")
        .filter(col("o_orderkey") > 800 && col("o_orderkey") <= 1200)
        .select(col("o_orderkey").as("k"), lit("M").as("status"),
          (col("o_totalprice") + 1.0).as("price"))
      val st = IcebergTable.merge(s, base.getPath, src,
        on = "t.o_orderkey = s.k",
        matchedUpdate = Map("o_orderstatus" -> "s.status",
          "o_totalprice" -> "s.price"),
        matchedDelete = Some("s.k > 950"),
        notMatchedInsert = Some(Map("o_orderkey" -> "s.k",
          "o_orderstatus" -> "'N'", "o_totalprice" -> "s.price")))
      require(st.deleted > 0 && st.updated > 0 && st.inserted > 0,
        s"merge stats $st: fixture expected all three clause kinds to fire")
    }
    IcebergTable.read(s, base.getPath).orderBy("o_orderkey")
  }

  /** UPDATE an Iceberg table (ops/IcebergTable.update — one snapshot
    * carrying a positional delete of the old row versions plus a
    * replacement data file; no rewrite of the base file). The engine
    * sets status 'X' on keys <= 100 and then DELETEs keys > 950 — the
    * stacked merge-on-read layers must compose. */
  def dmlUpdateIceberg(s: SparkSession, dir: String): DataFrame = {
    val base = fixture("iceberg_upd", dir) { base =>
      base.mkdirs()
      val o = t(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val a = IcebergTable.writeDataFile(
        o.filter(col("o_orderkey") <= 1000), base, "a.parquet")
      IcebergTable.commitSnapshot(base, 1, 1L,
        Seq(IcebergTable.Entry(1, a)))
      val n = IcebergTable.update(s, base.getPath,
        col("o_orderkey") <= 100, Map("o_orderstatus" -> lit("X")))
      require(n > 0, "update fixture matched no rows")
      IcebergTable.delete(s, base.getPath, col("o_orderkey") > 950)
    }
    IcebergTable.read(s, base.getPath).orderBy("o_orderkey")
  }

  /** MERGE INTO a Delta table (ops/DeltaLake.merge): base table holds
    * orders <= 1000 in two files; the source carries keys (800, 1200]
    * with status 'M' and price+1. Matched keys > 950 DELETE, the rest
    * UPDATE to the source values, unmatched source keys INSERT with
    * status 'N' — all in one atomic commit. Files with no matched rows
    * stay byte-identical (pinned in DeltaSpec); the oracle rebuilds the
    * merged table from plain SELECTs, so wrong clause precedence, a
    * double-matched rewrite, or inserts leaking matched keys all change
    * the hash. */
  def dmlMergeDelta(s: SparkSession, dir: String): DataFrame = {
    val base = fixture("delta_mrg", dir) { base =>
      base.mkdirs()
      val o = t(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      DeltaLake.writeDataFile(
        o.filter(col("o_orderkey") <= 500), base, "f0.parquet")
      DeltaLake.writeDataFile(
        o.filter(col("o_orderkey") > 500 && col("o_orderkey") <= 1000),
        base, "f1.parquet")
      DeltaLake.commit(base, 0, Seq(
        DeltaLake.protocolAction,
        DeltaLake.metaDataAction(o.schema),
        DeltaLake.addAction("f0.parquet"),
        DeltaLake.addAction("f1.parquet")))
      val src = t(s, dir, "orders")
        .filter(col("o_orderkey") > 800 && col("o_orderkey") <= 1200)
        .select(col("o_orderkey").as("k"), lit("M").as("status"),
          (col("o_totalprice") + 1.0).as("price"))
      val st = DeltaLake.merge(s, base.getPath, src,
        on = "t.o_orderkey = s.k",
        matchedUpdate = Map("o_orderstatus" -> "s.status",
          "o_totalprice" -> "s.price"),
        matchedDelete = Some("s.k > 950"),
        notMatchedInsert = Some(Map("o_orderkey" -> "s.k",
          "o_orderstatus" -> "'N'", "o_totalprice" -> "s.price")))
      require(st.deleted > 0 && st.updated > 0 && st.inserted > 0,
        s"merge stats $st: fixture expected all three clause kinds to fire")
    }
    DeltaLake.read(s, base.getPath).orderBy("o_orderkey")
  }

  /** INSERT INTO an Iceberg table (ops/IcebergTable.insertAppend — the
    * reference's finishInsert snapshot commit): base snapshot holds
    * orders <= 500, the engine appends (500, 1000] as a NEW snapshot
    * carrying the old manifest forward, and the gate re-reads the
    * current snapshot. Time travel to the pre-insert snapshot is pinned
    * in IcebergSpec. */
  def dmlInsertIceberg(s: SparkSession, dir: String): DataFrame = {
    val base = fixture("iceberg_ins", dir) { base =>
      base.mkdirs()
      val o = t(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val a = IcebergTable.writeDataFile(
        o.filter(col("o_orderkey") <= 500), base, "a.parquet")
      IcebergTable.commitSnapshot(base, 1, 1L,
        Seq(IcebergTable.Entry(1, a)))
      val snap = IcebergTable.insertAppend(s, base.getPath,
        o.filter(col("o_orderkey") > 500 && col("o_orderkey") <= 1000))
      require(snap == 2L, s"insert committed snapshot $snap, expected 2")
    }
    IcebergTable.read(s, base.getPath).orderBy("o_orderkey")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "src_delta_read" -> deltaRead,
    "dml_insert_delta" -> dmlInsertDelta,
    "dml_insert_iceberg" -> dmlInsertIceberg,
    "dml_delta_cow" -> dmlDeltaCow,
    "src_hudi_read" -> hudiRead,
    "src_hudi_mor" -> hudiMorRead,
    "src_iceberg_read" -> icebergRead,
    "src_iceberg_v2_deletes" -> icebergV2Deletes,
    "src_iceberg_transforms" -> icebergTransformsRead,
    "src_kafka_batch" -> kafkaBatch,
    "src_jdbc_roundtrip" -> jdbcRoundtrip,
    "src_csv_roundtrip" -> csvRoundtrip,
    "src_json_roundtrip" -> jsonRoundtrip,
    "src_orc_roundtrip" -> orcRoundtrip,
    "src_partitioned_pruned" -> partitionedPruned,
    "src_dynamic_pruned" -> dynamicPruned,
    "dml_delete_rewrite" -> dmlDeleteRewrite,
    "dml_update_rewrite" -> dmlUpdateRewrite,
    "dml_merge_rewrite" -> dmlMergeRewrite,
    "dml_merge_managed" -> dmlMergeManaged,
    "dml_delete_managed" -> dmlDeleteManaged,
    "dml_update_managed" -> dmlUpdateManaged,
    "dml_merge_delta" -> dmlMergeDelta,
    "dml_delete_iceberg" -> dmlDeleteIceberg,
    "dml_update_iceberg" -> dmlUpdateIceberg,
    "dml_merge_iceberg" -> dmlMergeIceberg,
    "src_delta_cdf" -> srcDeltaCdf,
    "src_delta_dv" -> srcDeltaDv,
    "dml_convert_delta" -> dmlConvertDelta,
    "src_iceberg_cdf" -> srcIcebergCdf,
    "src_bucketed_join" -> bucketedJoin)

  val oracle: Map[String, String] = Map(
    "src_iceberg_cdf" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice,
        | 'insert' AS _change_type, CAST(2 AS BIGINT) AS _snapshot_ordinal
        |FROM orders WHERE o_orderkey > 1000 AND o_orderkey <= 1100
        |UNION ALL
        |SELECT o_orderkey, o_orderstatus, o_totalprice,
        | 'delete' AS _change_type, CAST(3 AS BIGINT) AS _snapshot_ordinal
        |FROM orders WHERE o_orderkey <= 1100 AND o_orderkey % 7 = 0
        |ORDER BY _snapshot_ordinal, _change_type, o_orderkey""".stripMargin,
    "dml_convert_delta" ->
      """SELECT o_orderkey, o_totalprice, o_orderstatus
        |FROM orders WHERE o_orderkey <= 1000
        |ORDER BY o_orderkey""".stripMargin,
    "src_delta_dv" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice
        |FROM orders WHERE o_orderkey <= 1000 AND o_orderkey NOT IN (
        |  SELECT o_orderkey FROM orders WHERE o_orderkey <= 1000
        |  ORDER BY o_orderkey LIMIT 5)
        |ORDER BY o_orderkey""".stripMargin,
    "src_delta_cdf" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice,
        | 'insert' AS _change_type, CAST(1 AS BIGINT) AS _commit_version
        |FROM orders WHERE o_orderkey <= 1000
        |UNION ALL
        |SELECT o_orderkey, o_orderstatus, o_totalprice,
        | 'delete' AS _change_type, CAST(2 AS BIGINT) AS _commit_version
        |FROM orders WHERE o_orderkey > 900 AND o_orderkey <= 1000
        |ORDER BY _commit_version, _change_type, o_orderkey""".stripMargin,
    "dml_merge_iceberg" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice
        |FROM orders WHERE o_orderkey <= 800
        |UNION ALL
        |SELECT o_orderkey, 'M' AS o_orderstatus,
        | o_totalprice + 1.0 AS o_totalprice
        |FROM orders WHERE o_orderkey > 800 AND o_orderkey <= 950
        |UNION ALL
        |SELECT o_orderkey, 'N' AS o_orderstatus,
        | o_totalprice + 1.0 AS o_totalprice
        |FROM orders WHERE o_orderkey > 1000 AND o_orderkey <= 1200
        |ORDER BY o_orderkey""".stripMargin,
    "dml_update_iceberg" ->
      """SELECT o_orderkey,
        | CASE WHEN o_orderkey <= 100 THEN 'X' ELSE o_orderstatus END
        |   AS o_orderstatus,
        | o_totalprice
        |FROM orders WHERE o_orderkey <= 950
        |ORDER BY o_orderkey""".stripMargin,
    "dml_delete_iceberg" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice
        |FROM orders
        |WHERE (o_orderkey <= 1000 AND o_orderkey % 7 <> 0)
        |   OR (o_orderkey > 1000 AND o_orderkey <= 1100)
        |ORDER BY o_orderkey""".stripMargin,
    "dml_merge_delta" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice
        |FROM orders WHERE o_orderkey <= 800
        |UNION ALL
        |SELECT o_orderkey, 'M' AS o_orderstatus,
        | o_totalprice + 1.0 AS o_totalprice
        |FROM orders WHERE o_orderkey > 800 AND o_orderkey <= 950
        |UNION ALL
        |SELECT o_orderkey, 'N' AS o_orderstatus,
        | o_totalprice + 1.0 AS o_totalprice
        |FROM orders WHERE o_orderkey > 1000 AND o_orderkey <= 1200
        |ORDER BY o_orderkey""".stripMargin,
    "dml_insert_delta" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice
        |FROM orders WHERE o_orderkey <= 1000
        |ORDER BY o_orderkey""".stripMargin,
    "dml_insert_iceberg" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice
        |FROM orders WHERE o_orderkey <= 1000
        |ORDER BY o_orderkey""".stripMargin,
    "dml_delta_cow" ->
      """SELECT o_orderkey,
        | CASE WHEN o_orderkey <= 100 THEN 'X' ELSE o_orderstatus END
        |   AS o_orderstatus,
        | o_totalprice
        |FROM orders WHERE o_orderkey <= 900
        |ORDER BY o_orderkey""".stripMargin,
    "src_delta_read" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice
        |FROM orders WHERE o_orderkey <= 1500
        |ORDER BY o_orderkey""".stripMargin,
    "src_hudi_read" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice
        |FROM orders WHERE o_orderkey <= 1500
        |ORDER BY o_orderkey""".stripMargin,
    "src_hudi_mor" ->
      """SELECT o_orderkey,
        | CASE WHEN o_orderkey <= 100 THEN 'X' ELSE o_orderstatus END
        |   AS o_orderstatus
        |FROM orders WHERE o_orderkey <= 950
        |ORDER BY o_orderkey""".stripMargin,
    "src_iceberg_read" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice
        |FROM orders WHERE o_orderkey <= 1500
        |ORDER BY o_orderkey""".stripMargin,
    "src_iceberg_v2_deletes" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice
        |FROM orders WHERE o_orderkey <= 1000 AND o_orderkey NOT IN (
        |  SELECT o_orderkey FROM orders WHERE o_orderkey <= 1000
        |  ORDER BY o_orderkey LIMIT 5)
        |ORDER BY o_orderkey""".stripMargin,
    "src_iceberg_transforms" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice
        |FROM orders WHERE o_orderkey <= 450
        |ORDER BY o_orderkey""".stripMargin,
    "src_kafka_batch" ->
      """SELECT event_type, count(*) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total,
        | count(DISTINCT user_id) AS n_users
        |FROM events WHERE event_id <= 2000
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "src_jdbc_roundtrip" ->
      """SELECT s_suppkey, s_name, s_nationkey, s_acctbal
        |FROM supplier ORDER BY s_suppkey""".stripMargin,
    "src_csv_roundtrip" ->
      "SELECT * FROM nation ORDER BY n_nationkey",
    "src_json_roundtrip" ->
      """SELECT s_suppkey, s_name, s_nationkey, s_acctbal
        |FROM supplier ORDER BY s_suppkey""".stripMargin,
    "src_orc_roundtrip" ->
      "SELECT * FROM region ORDER BY r_regionkey",
    "src_partitioned_pruned" ->
      """SELECT o_orderpriority, count(*) AS n,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM orders WHERE o_orderstatus = 'F'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "src_dynamic_pruned" ->
      """WITH dim AS (SELECT DISTINCT o_orderstatus AS st FROM orders
        |             WHERE o_orderpriority = '1-URGENT')
        |SELECT o_orderstatus, count(*) AS n,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM orders JOIN dim ON o_orderstatus = st
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "dml_delete_rewrite" ->
      """SELECT l_returnflag, count(*) AS n,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM lineitem WHERE NOT (l_discount > 0.06)
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "dml_update_rewrite" ->
      """SELECT o_orderstatus, count(*) AS n,
        | CAST(SUM(CAST(CASE WHEN o_orderstatus = 'F'
        |                    THEN o_totalprice * 0.9
        |                    ELSE o_totalprice END AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "dml_merge_rewrite" ->
      """WITH merged AS (
        | SELECT o_orderstatus,
        |  CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 1.1
        |       ELSE o_totalprice END AS p
        | FROM orders
        | UNION ALL
        | SELECT 'N' AS o_orderstatus, o_totalprice AS p
        | FROM orders WHERE o_orderkey % 997 = 0)
        |SELECT o_orderstatus, count(*) AS n,
        | CAST(SUM(CAST(p AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "dml_delete_managed" ->
      """SELECT l_returnflag, count(*) AS n,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM lineitem WHERE NOT (l_discount > 0.06)
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "dml_update_managed" ->
      """WITH updated AS (
        | SELECT o_orderstatus,
        |  CASE WHEN o_orderstatus = 'F' THEN '0-DISCOUNTED'
        |       ELSE o_orderpriority END AS o_orderpriority,
        |  CASE WHEN o_orderstatus = 'F' THEN o_totalprice * 0.9
        |       ELSE o_totalprice END AS o_totalprice
        | FROM orders)
        |SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM updated GROUP BY o_orderstatus, o_orderpriority
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin,
    "dml_merge_managed" ->
      """WITH merged AS (
        | SELECT o_orderstatus,
        |  CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 1.1
        |       ELSE o_totalprice END AS p
        | FROM orders
        | UNION ALL
        | SELECT 'N' AS o_orderstatus, o_totalprice AS p
        | FROM orders WHERE o_orderkey % 997 = 0)
        |SELECT o_orderstatus, count(*) AS n,
        | CAST(SUM(CAST(p AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "src_bucketed_join" ->
      """SELECT o_orderstatus, count(*) AS n,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
}
