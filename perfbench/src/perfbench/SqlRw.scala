package perfbench

import java.io.File
import java.util.concurrent.{Executors, TimeUnit}

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.api.{StatementClient, StatementServer}

/** Closed-loop clients sending Presto-dialect statements through
  * `POST /v1/statement` and following `nextUri` to the last page. */
object SqlRw {

  /** The Delta table the writes go to: keys [0, rows), owner -1 for the
    * read-only prefix and c for client c's range, v = k * 37 mod 1000.
    * Keys of a client range start present only when even, leaving room
    * for inserts. */
  def buildTable(spark: SparkSession, dir: File, spec: JsonNode): Unit = {
    val static = spec.get("static_rows").asLong
    val range = spec.get("range_rows").asLong
    val clients = spec.get("clients").asInt
    val k = col("id")
    spark.range(static + range * clients)
      .filter(k < static || k % 2 === 0)
      .select(k.as("k"),
        when(k < static, lit(-1)).otherwise(((k - static) / range).cast("int"))
          .as("client"),
        (k * 37 % 1000).as("v"), lit("seed").as("note"))
      .repartitionByRange(spec.get("files").asInt, col("k"))
      .write.parquet(dir.getPath)
    graft.ops.DeltaLake.convertToDelta(spark, dir.getPath)
  }

  def run(c: Ctx): Unit = {
    val spark = c.spark
    val spec = c.cfg.get("sql")
    val table = c.fixture("delta")(d => buildTable(spark, d, spec))
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem").foreach(n =>
      graft.Tables(spark, c.dataDir, n).createOrReplaceTempView(n))
    val base = StatementServer.ensureStarted(spark, spec.get("page_size").asInt)
    val path = table.getAbsolutePath
    def statements(node: JsonNode): Seq[(String, String)] = {
      val b = Seq.newBuilder[(String, String)]
      node.forEach(s => b += (s.get("kind").asText ->
        s.get("sql").asText.replace("{table}", path)))
      b.result()
    }
    try {
      // prewarm: one pass over every template, writes included, untimed
      val prewarmOut = c.out.putArray("prewarm")
      statements(spec.get("prewarm")).foreach { case (kind, sql) =>
        execute(c, base, kind, sql, prewarmOut.addObject(), "prewarm")
        c.dropCaches()
      }
      val version0 = graft.ops.DeltaLake.currentVersion(path)
      val clients = Seq.newBuilder[Seq[(String, String)]]
      spec.get("clients_script").forEach(cl => clients += statements(cl))
      val script = clients.result()
      val results = script.map(s => Array.fill(s.size)(
        Main.mapper.createObjectNode()))
      // the clients meet at a barrier after each round; its action stamps
      // the end of the round
      val rounds = spec.get("rounds").asInt
      val ends = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
      val barrier = new java.util.concurrent.CyclicBarrier(script.size,
        () => ends.add(System.nanoTime()))
      val pool = Executors.newFixedThreadPool(script.size)
      val start = System.nanoTime()
      c.pass {
        script.zipWithIndex.foreach { case (stmts, ci) =>
          pool.execute { () =>
            stmts.grouped(stmts.size / rounds).zipWithIndex.foreach {
              case (round, r) =>
                round.zipWithIndex.foreach { case ((kind, sql), i) =>
                  val si = r * round.size + i
                  execute(c, base, kind, sql, results(ci)(si), s"c$ci-s$si")
                  c.dropCaches()
                }
                barrier.await(120, TimeUnit.SECONDS)
            }
          }
        }
        pool.shutdown()
        require(pool.awaitTermination(150, TimeUnit.SECONDS), "clients timed out")
      }
      val roundS = c.out.putArray("round_s")
      import scala.jdk.CollectionConverters._
      (start +: ends.asScala.toSeq.map(_.longValue)).sliding(2)
        .foreach { case Seq(a, b) => roundS.add((b - a) / 1e9) }
      val arr = c.out.putArray("clients")
      results.foreach { rs => val a = arr.addArray(); rs.foreach(a.add) }
      c.out.put("lake_commits",
        graft.ops.DeltaLake.currentVersion(path) - version0)
      val fin = graft.ops.DeltaLake.read(spark, path)
      c.out.put("lake_data_files", fin.inputFiles.length)
      val state = c.out.putArray("final_state")
      fin.select("k", "client", "v", "note").orderBy("k").collect()
        .foreach(Main.rowJson(state, _))
    } finally StatementServer.stop()
  }

  /** One statement through the protocol, recording its latency, the
    * client-side protocol counters and a result summary. The leftover
    * check and cache release bracket it like every other operation. */
  private def execute(c: Ctx, base: String, kind: String, sql: String,
      rec: ObjectNode, request: String): Unit = {
    val tr = c.tracer
    rec.put("kind", kind)
    val leftover = c.leftoverRdds
    rec.put("leftover_rdds", leftover)
    if (leftover != 0) {
      rec.put("ok", false).put("error", s"$leftover persisted RDDs before start")
      return
    }
    if (tr.enabled) {
      // the server translates internally; the bench times the same call
      val (_, ms) = Main.time(tr.withRequest(request)(
        tr.span("api.translate")(graft.api.Dialect.translate(sql))))
      rec.put("translate_ms", ms)
    }
    var polls, empty, pages, bytes = 0L
    var pageMs = 0.0
    var queuedMs, firstPageMs = -1.0
    val t0 = System.nanoTime()
    def since: Double = (System.nanoTime() - t0) / 1e6
    try {
      tr.withRequest(request)(tr.span("statement") {
        val (code, body, _) = tr.span("api.submit")(StatementClient.httpFull(
          "POST", s"$base/v1/statement", Some(sql), Map.empty))
        require(code == 200, s"POST /v1/statement -> $code: $body")
        rec.put("submit_ms", since)
        bytes += body.length
        var r = StatementClient.parse(body)
        rec.put("query_id", r.id)
        var rowsSeen = 0L
        val sums = new Array[Long](2)
        val kept = Main.mapper.createArrayNode()
        def take(resp: StatementClient.Response): Unit = {
          if (queuedMs < 0 && resp.state != "QUEUED") queuedMs = since
          if (resp.data.nonEmpty) {
            pages += 1
            if (firstPageMs < 0) firstPageMs = since
          }
          resp.data.foreach { row =>
            rowsSeen += 1
            if (kind == "read_pages") {
              sums(0) += row.getLong(0)
              sums(1) += row.getLong(1)
            } else Main.rowJson(kept, row)
          }
        }
        take(r)
        while (r.nextUri.isDefined) {
          val p0 = System.nanoTime()
          val (code2, body2) = tr.span("api.poll")(
            StatementClient.http("GET", r.nextUri.get, None))
          pageMs += (System.nanoTime() - p0) / 1e6
          require(code2 == 200, s"GET -> $code2: $body2")
          polls += 1
          bytes += body2.length
          r = StatementClient.parse(body2)
          // the server answers a poll at once, without waiting for
          // progress; a short pause keeps four polling clients from
          // taking the cores the statements run on
          if (r.data.isEmpty) {
            empty += 1
            Thread.sleep(2)
          }
          take(r)
        }
        r.error.foreach(e => throw new RuntimeException(
          s"${e.errorName}: ${e.message}"))
        rec.put("rows", rowsSeen)
        if (kind == "read_pages") rec.put("sum_k", sums(0)).put("sum_v", sums(1))
        else rec.set[JsonNode]("data", kept)
      })
      rec.put("ok", true).put("ms", since)
    } catch {
      case e: Throwable => rec.put("ok", false).put("error", Main.errorText(e))
    }
    rec.put("polls", polls).put("empty_polls", empty).put("pages", pages)
      .put("page_ms", pageMs).put("response_bytes", bytes)
      .put("queued_ms", queuedMs).put("first_page_ms", firstPageMs)
    if (tr.enabled) {
      if (kind.startsWith("write")) {
        val (_, ms) = Main.time(tr.withRequest(request)(tr.span("lake.snapshot")(
          graft.ops.DeltaLake.read(c.spark, extractPath(sql)))))
        rec.put("snapshot_ms", ms)
      }
      Option(rec.get("query_id")).foreach { id =>
        org.apache.spark.perfbench.Bridge.drainListeners(c.spark.sparkContext)
        val g = c.listener.get.groupSnapshot(id.asText)
        rec.put("jobs", g.getOrElse("exec.jobs", 0L))
          .put("task_cpu_ms", g.getOrElse("exec.task_cpu_ms", 0L))
      }
    }
  }

  private val PathPat = """delta_scan\s*\(\s*'([^']+)'""".r
  private def extractPath(sql: String): String =
    PathPat.findFirstMatchIn(sql).map(_.group(1)).get
}
