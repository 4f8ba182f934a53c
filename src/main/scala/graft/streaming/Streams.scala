package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}
import graft.Tables

/** Streaming-shaped operators over the `events` fixture. The reference has no
  * native streaming (Kafka topics are scanned as tables —
  * presto-kafka/.../KafkaRecordSet.java:52); Structured Streaming is our
  * additive capability (SURVEY.md §2.6). The transforms below are written
  * against plain DataFrames so the SAME code runs in batch (verified against
  * the DuckDB oracle here) and under `readStream` (exercised with watermarks
  * in StreamingSpec) — the core Structured Streaming contract.
  *
  * `events.ts` has shipped in two parquet encodings across fixture
  * generations: TIMESTAMP(NANOS) read as a ns-long (under
  * spark.sql.legacy.parquet.nanosAsLong) and native TIMESTAMP_MICROS read as
  * TimestampType. All event-time access goes through the dtype-adaptive
  * helpers below so every query runs against either encoding.
  */
object Streams {

  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables(s, dir, n)

  /** Event-time as TimestampType regardless of fixture encoding. */
  def eventTime(df: DataFrame, c: String = "ts"): Column =
    df.schema(c).dataType match {
      case LongType => timestamp_micros((col(c) / 1000).cast("long"))
      case _        => col(c)
    }

  /** Event-time as epoch-MICROSECOND long — the unit-stable form for
    * interval arithmetic across both fixture encodings. */
  def eventMicros(df: DataFrame, c: String = "ts"): Column =
    df.schema(c).dataType match {
      case LongType => (col(c) / 1000).cast("long")
      // fixtures may type ts as TIMESTAMP_NTZ; the NTZ→LTZ cast is the same
      // instant under the UTC session zone, matching DuckDB's epoch_us
      case _        => unix_micros(col(c).cast("timestamp"))
    }

  private val MIN_US = 60L * 1000000L

  private def dsum(c: Column): Column = sum(c.cast(DecimalType(18, 6))).cast(DoubleType)

  /** Tumbling 1-hour window per event type — the canonical windowed
    * aggregation; under readStream this is an append-mode watermark query.
    * Output keys on the epoch-hour bucket id (engine-portable). */
  def tumbling(df: DataFrame): DataFrame =
    df.withColumn("w", window(eventTime(df), "1 hour"))
      .groupBy(col("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
      .select(
        (unix_timestamp(col("w.start")) / 3600).cast("long").as("bucket"),
        col("event_type"), col("n"), col("total"))
      .orderBy("bucket", "event_type")

  /** Sliding 1-hour window every 30 minutes: each event lands in 2 windows. */
  def sliding(df: DataFrame): DataFrame =
    df.withColumn("w", window(eventTime(df), "1 hour", "30 minutes"))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
      .select(
        (unix_timestamp(col("w.start")) / 60).cast("long").as("bucket_min"),
        col("n"), col("total"))
      .orderBy("bucket_min")

  /** Per-user sessionization with a 30-minute inactivity gap: batch variant
    * via the lag/cumulative-sum rewrite (the reference-era SQL idiom); the
    * streaming variant is session_window() in StreamingSpec. Emits per-user
    * session stats. */
  def sessions(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy("tus", "event_id")
    val newSession = when(
      col("tus") - lag("tus", 1).over(byUser) > lit(30L * MIN_US), 1L)
      .otherwise(lit(0L))
    df.select(col("user_id"), eventMicros(df).as("tus"), col("event_id"),
        col("value"))
      .withColumn("session_id",
        sum(newSession).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("total"),
        min("tus").as("start_us"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"),
        max("n_events").as("max_session_events"),
        sum("n_events").as("n_events"))
      .orderBy("user_id")
  }

  /** Stateful stream dedup: dropDuplicates over (user, event_type) keeps the
    * first arrival per key — under readStream this is the state-store dedup
    * operator (bounded by a watermark in StreamingSpec). The per-user count
    * of distinct types is arrival-order independent, so batch and streaming
    * agree and the oracle is plain COUNT(DISTINCT). */
  def dedup(df: DataFrame): DataFrame =
    df.dropDuplicates("user_id", "event_type")
      .groupBy("user_id").agg(count(lit(1)).as("n_types"))
      .orderBy("user_id")

  /** Interval stream-stream join: each click joined to the same user's
    * purchases within the following 15 minutes. Under readStream both sides
    * carry watermarks and the time-range predicate bounds the join state
    * (the stream-stream inner join contract); in batch it is the identical
    * equi-join on user_id + interval filter, shuffling each side once on
    * the join key. Aggregated per user so the oracle is order-independent. */
  def intervalJoin(df: DataFrame): DataFrame = {
    val clicks = df.filter(col("event_type") === "click")
      .select(col("user_id"), eventMicros(df).as("c_ts"),
        col("event_id").as("c_id"))
    val buys = df.filter(col("event_type") === "purchase")
      .select(col("user_id").as("b_user"), eventMicros(df).as("b_ts"),
        col("value").as("b_value"))
    clicks.join(buys,
      col("user_id") === col("b_user") &&
        col("b_ts") >= col("c_ts") &&
        col("b_ts") < col("c_ts") + lit(15L * MIN_US))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("c_id")).as("n_clicks_converted"),
        dsum(col("b_value")).as("attributed_value"))
      .orderBy("user_id")
  }

  /** LEFT OUTER interval stream-stream join: every click emits, matched
    * or not — under readStream the unmatched side is held in state and
    * released with nulls once BOTH watermarks pass the join window (the
    * outer stream-stream contract, exercised with watermarks in
    * StreamingSpec); in batch it is the identical left join + interval
    * predicate. Aggregated per user: distinct clicks, matched pairs,
    * clicks that never converted, value attributed (0 for no match). */
  def outerIntervalJoin(df: DataFrame): DataFrame = {
    val clicks = df.filter(col("event_type") === "click")
      .select(col("user_id"), eventMicros(df).as("c_ts"),
        col("event_id").as("c_id"))
    val buys = df.filter(col("event_type") === "purchase")
      .select(col("user_id").as("b_user"), eventMicros(df).as("b_ts"),
        col("value").as("b_value"))
    clicks.join(buys,
      col("user_id") === col("b_user") &&
        col("b_ts") >= col("c_ts") &&
        col("b_ts") < col("c_ts") + lit(15L * MIN_US), "left")
      .groupBy("user_id")
      .agg(countDistinct(col("c_id")).as("n_clicks"),
        count(col("b_user")).as("n_pairs"),
        countDistinct(when(col("b_user").isNull, col("c_id")))
          .as("n_unconverted"),
        dsum(coalesce(col("b_value"), lit(0.0))).as("attributed_value"))
      .orderBy("user_id")
  }

  /** Stream-static enrichment join: the unbounded event stream against a
    * small static dimension. Under readStream the static side needs no
    * watermark and no state store — it is broadcast into every micro-batch
    * (Spark re-plans the static side per batch, so dimension updates are
    * picked up); in batch it is the identical broadcast join. The one
    * shuffle is the final aggregation on the 25-value key. */
  def staticEnrich(s: SparkSession, dir: String): DataFrame = {
    val dim = broadcast(
      t(s, dir, "nation").select(col("n_nationkey"), col("n_name")))
    t(s, dir, "events")
      .withColumn("n_nationkey", col("user_id") % 25)
      .join(dim, "n_nationkey")
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        dsum(col("value")).as("total"))
      .orderBy("n_name")
  }

  /** Windowed approximate distinct users via the mergeable HLL sketch —
    * the sketch state is what a streaming aggregation keeps per window
    * (KB-bounded, mergeable across partials and across late batches), in
    * place of an exact distinct whose state grows with cardinality. The
    * gate emits the exact count next to a bound check; StreamingSpec runs
    * the same aggregate under readStream with a watermark. */
  def approxDistinctWindow(df: DataFrame): DataFrame =
    df.withColumn("w", window(eventTime(df), "1 hour"))
      .groupBy(col("w"), col("event_type"))
      .agg(graft.functions.GraftFunctions.approxSet(col("user_id")).as("sk"),
        countDistinct(col("user_id")).as("exact_users"))
      .select(
        (unix_timestamp(col("w.start")) / 3600).cast("long").as("bucket"),
        col("event_type"), col("exact_users"),
        // ±max(1, 5%): tiny windows may be off by one register collision
        (abs(graft.functions.GraftFunctions.hllCardinality(col("sk"))
          .cast("double") - col("exact_users")) <=
          greatest(lit(1.0), col("exact_users") * 0.05)).as("ok"))
      .orderBy("bucket", "event_type")

  /** End-to-end exactly-once Delta sink: events are split across 3 input
    * files and streamed (file source, maxFilesPerTrigger=1 → 3 real
    * micro-batches) through [[DeltaSink.exactlyOnce]] into a Delta table,
    * then an already-committed batchId is re-delivered (the crash-replay
    * case) and must be a no-op. The gate reads the table back row-level:
    * a sink that lost a batch, applied one twice, or let the replay
    * through changes the hash. */
  def deltaSinkE2e(s: SparkSession, dir: String): DataFrame = {
    val root = graft.ops.Sources.fixture("delta_sink", dir) { root =>
      val table = new java.io.File(root, "table")
      val ev = t(s, dir, "events")
        .select("event_id", "user_id", "event_type", "value")
      val in = new java.io.File(root, "in")
      ev.repartition(3).write.parquet(in.getPath)
      table.mkdirs()
      graft.ops.DeltaLake.commit(table, 0, Seq(
        graft.ops.DeltaLake.protocolAction,
        graft.ops.DeltaLake.metaDataAction(ev.schema)))
      val sink = DeltaSink.exactlyOnce(table.getPath, "stream_delta_sink")
      val q = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1).parquet(in.getPath)
        .writeStream
        .option("checkpointLocation", new java.io.File(root, "ckpt").getPath)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch(sink)
        .start()
      q.awaitTermination()
      sink(ev, 1L) // replayed batch: watermark is 2, must be skipped
      val wm = graft.ops.DeltaLake.txnVersion(
        s, table.getPath, "stream_delta_sink")
      require(wm.contains(2L), s"txn watermark $wm, expected Some(2)")
    }
    graft.ops.DeltaLake.read(s, new java.io.File(root, "table").getPath)
      .orderBy("event_id")
  }

  /** End-to-end Delta SOURCE → Delta SINK incremental pipeline: table A
    * starts with events <= 5000, one AvailableNow run snapshots it into
    * B; then (5000, ∞) is appended to A and the stream RESTARTS from its
    * checkpoint — only the new commit's rows flow (version offsets).
    * A source that re-emits the snapshot, misses the increment, or a
    * sink that double-applies changes the row-level hash. */
  def deltaSourceE2e(s: SparkSession, dir: String): DataFrame = {
    val root = graft.ops.Sources.fixture("delta_src", dir) { root =>
      val a = new java.io.File(root, "a")
      val b = new java.io.File(root, "b")
      a.mkdirs(); b.mkdirs()
      val ev = t(s, dir, "events")
        .select("event_id", "user_id", "event_type", "value")
      graft.ops.DeltaLake.writeDataFile(
        ev.filter(col("event_id") <= 5000), a, "f0.parquet")
      graft.ops.DeltaLake.commit(a, 0, Seq(
        graft.ops.DeltaLake.protocolAction,
        graft.ops.DeltaLake.metaDataAction(ev.schema),
        graft.ops.DeltaLake.addAction("f0.parquet")))
      graft.ops.DeltaLake.commit(b, 0, Seq(
        graft.ops.DeltaLake.protocolAction,
        graft.ops.DeltaLake.metaDataAction(ev.schema)))
      def runOnce(): Unit = {
        val q = s.readStream
          .format("graft.streaming.DeltaSourceProvider")
          .option("path", a.getPath).load()
          .writeStream
          .option("checkpointLocation", new java.io.File(root, "ckpt").getPath)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .foreachBatch(DeltaSink.exactlyOnce(b.getPath, "stream_delta_source"))
          .start()
        q.awaitTermination()
      }
      runOnce() // initial snapshot
      graft.ops.DeltaLake.insert(s, a.getPath,
        ev.filter(col("event_id") > 5000))
      runOnce() // restart: only the appended commit flows
    }
    graft.ops.DeltaLake.read(s, new java.io.File(root, "b").getPath)
      .orderBy("event_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_delta_source" -> deltaSourceE2e,
    "stream_delta_sink" -> deltaSinkE2e,
    "stream_approx_distinct" -> ((s, dir) =>
      approxDistinctWindow(t(s, dir, "events"))),
    "stream_static_join" -> staticEnrich,
    "stream_interval_join" -> ((s, dir) => intervalJoin(t(s, dir, "events"))),
    "stream_outer_join" -> ((s, dir) => outerIntervalJoin(t(s, dir, "events"))),
    "stream_tumbling" -> ((s, dir) => tumbling(t(s, dir, "events"))),
    "stream_sliding" -> ((s, dir) => sliding(t(s, dir, "events"))),
    "stream_sessions" -> ((s, dir) => sessions(t(s, dir, "events"))),
    "stream_dedup" -> ((s, dir) => dedup(t(s, dir, "events"))))

  // Oracles use epoch_us(ts): DuckDB reads both TIMESTAMP_NANOS and
  // TIMESTAMP_MICROS parquet as timestamps, and epoch_us is unit-stable on
  // either — matching the Spark-side eventMicros helper.
  val oracle: Map[String, String] = Map(
    "stream_delta_source" ->
      """SELECT event_id, user_id, event_type, value
        |FROM events ORDER BY event_id""".stripMargin,
    "stream_delta_sink" ->
      """SELECT event_id, user_id, event_type, value
        |FROM events ORDER BY event_id""".stripMargin,
    "stream_approx_distinct" ->
      """SELECT CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS bucket,
        | event_type, count(DISTINCT user_id) AS exact_users, true AS ok
        |FROM events GROUP BY 1, 2 ORDER BY bucket, event_type""".stripMargin,
    "stream_static_join" ->
      """SELECT n_name, count(*) AS n_events,
        | count(DISTINCT user_id) AS n_users,
        | CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM events e JOIN nation n ON e.user_id % 25 = n.n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "stream_interval_join" ->
      """WITH c AS (SELECT user_id, epoch_us(ts) AS c_ts, event_id AS c_id
        |           FROM events WHERE event_type = 'click'),
        |b AS (SELECT user_id AS b_user, epoch_us(ts) AS b_ts, value AS b_value
        |      FROM events WHERE event_type = 'purchase')
        |SELECT user_id, count(*) AS n_pairs,
        | count(DISTINCT c_id) AS n_clicks_converted,
        | CAST(SUM(CAST(b_value AS DECIMAL(18,6))) AS DOUBLE) AS attributed_value
        |FROM c JOIN b ON user_id = b_user
        | AND b_ts >= c_ts AND b_ts < c_ts + 900000000
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "stream_outer_join" ->
      """WITH c AS (SELECT user_id, epoch_us(ts) AS c_ts, event_id AS c_id
        |           FROM events WHERE event_type = 'click'),
        |b AS (SELECT user_id AS b_user, epoch_us(ts) AS b_ts, value AS b_value
        |      FROM events WHERE event_type = 'purchase')
        |SELECT user_id, count(DISTINCT c_id) AS n_clicks,
        | count(b_user) AS n_pairs,
        | count(DISTINCT CASE WHEN b_user IS NULL THEN c_id END)
        |   AS n_unconverted,
        | CAST(SUM(CAST(COALESCE(b_value, 0) AS DECIMAL(18,6))) AS DOUBLE)
        |   AS attributed_value
        |FROM c LEFT JOIN b ON user_id = b_user
        | AND b_ts >= c_ts AND b_ts < c_ts + 900000000
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "stream_dedup" ->
      """SELECT user_id, count(DISTINCT event_type) AS n_types
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "stream_tumbling" ->
      """SELECT CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS bucket,
        | event_type, count(*) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM events GROUP BY 1, 2 ORDER BY bucket, event_type""".stripMargin,
    "stream_sliding" ->
      """WITH e AS (SELECT epoch_us(ts) // 60000000 AS m, value FROM events),
        |w AS (SELECT (m // 30 - o) * 30 AS bucket_min, value
        |      FROM e CROSS JOIN (SELECT unnest([0, 1]) o)
        |      WHERE m - (m // 30 - o) * 30 < 60)
        |SELECT CAST(bucket_min AS BIGINT) AS bucket_min, count(*) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM w GROUP BY 1 ORDER BY bucket_min""".stripMargin,
    "stream_sessions" ->
      """WITH x AS (SELECT user_id, epoch_us(ts) AS tus, event_id, value,
        |        CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
        |          (PARTITION BY user_id ORDER BY ts, event_id)
        |          > 1800000000 THEN 1 ELSE 0 END AS ns
        |       FROM events),
        |sess AS (SELECT user_id, event_id, value,
        |          SUM(ns) OVER (PARTITION BY user_id ORDER BY tus, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) sid
        |         FROM x),
        |per AS (SELECT user_id, sid, count(*) n_events,
        |         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) total
        |        FROM sess GROUP BY 1, 2)
        |SELECT user_id, count(*) AS n_sessions,
        | max(n_events) AS max_session_events,
        | CAST(SUM(n_events) AS BIGINT) AS n_events
        |FROM per GROUP BY user_id ORDER BY user_id""".stripMargin)
}
