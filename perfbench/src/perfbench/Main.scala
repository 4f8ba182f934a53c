package perfbench

import java.io.File

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.{Row, SparkSession}

/** Everything a workload needs: the session, its parsed inputs, the tracer
  * and listener, a scratch directory and the result document. */
final case class Ctx(spark: SparkSession, cfg: JsonNode, tracer: Tracer,
    listener: Option[BenchListener], work: File, out: ObjectNode) {
  def dataDir: String = cfg.get("data_dir").asText
  def setupReps: Int = cfg.get("setup_reps").asInt

  /** Wait for listener delivery (traced runs only) and read the counters. */
  def counters(): Map[String, Long] = listener match {
    case Some(l) =>
      org.apache.spark.perfbench.Bridge.drainListeners(spark.sparkContext)
      l.total.snapshot
    case None => Map.empty
  }

  /** Persisted RDDs still registered with the context. */
  def leftoverRdds: Int = spark.sparkContext.getPersistentRDDs.size

  /** Release every cached frame, as after each operation. Returns the
    * number of frames `CacheBook` still held. */
  def dropCaches(): Int = {
    val n = graft.ops.CacheBook.drain()
    spark.catalog.clearCache()
    n
  }

  /** Run the measured work, recording its wall and process CPU seconds. */
  def pass[A](f: => A): A = {
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val (c0, t0) = (os.getProcessCpuTime, System.nanoTime())
    val a = f
    out.put("pass_s", (System.nanoTime() - t0) / 1e9)
    out.put("pass_cpu_s", (os.getProcessCpuTime - c0) / 1e9)
    a
  }

  /** Build a fixture `setupReps` times, each into a fresh directory, and
    * record each build's seconds; returns the last directory. */
  def fixture(name: String)(build: File => Unit): File = {
    val secs = out.putArray("fixture_s")
    var last: File = null
    (1 to setupReps).foreach { i =>
      val dir = new File(work, s"$name$i")
      val t0 = System.nanoTime()
      build(dir)
      secs.add((System.nanoTime() - t0) / 1e9)
      last = dir
    }
    last
  }
}

object Main {
  val mapper = new ObjectMapper()

  def session(cfg: JsonNode, work: File): SparkSession = {
    val cpus = cfg.get("cpus").asInt
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.shuffle.compress", "false")
      .config("spark.shuffle.spill.compress", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.hadoop.hadoop.tmp.dir", new File(work, "hadoop").getPath)
    val extra = cfg.get("spark_conf")
    if (extra != null) extra.fields().forEachRemaining(e =>
      b.config(e.getKey, e.getValue.asText))
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val cfg = mapper.readTree(new File(args(0)))
    val work = new File(cfg.get("work_dir").asText)
    val out = mapper.createObjectNode()
    val spark = session(cfg, work)
    out.put("session_ready_epoch_ms", System.currentTimeMillis())
    out.put("spark_version", spark.version)
    out.put("java_version", System.getProperty("java.version"))
    out.put("heap_max_mib", Runtime.getRuntime.maxMemory() / 1048576L)
    out.put("cpus", cfg.get("cpus").asInt)
    val tracer = new Tracer(cfg.get("trace").asBoolean)
    val listener = if (tracer.enabled) {
      val l = new BenchListener
      spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None
    val ctx = Ctx(spark, cfg, tracer, listener, work, out)
    try {
      cfg.get("workload").asText match {
        case "olap_cold" => OlapCold.run(ctx)
        case "sql_rw" => SqlRw.run(ctx)
        case "corpus_curation" => Corpus.run(ctx)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      val spans = out.putArray("spans")
      tracer.spans.foreach { s =>
        val n = spans.addObject()
        n.put("id", s.id).put("parent", s.parent).put("name", s.name)
          .put("request", s.request).put("start_ns", s.startNs)
          .put("end_ns", s.endNs)
      }
      if (listener.isDefined) {
        val c = out.putObject("listener_totals")
        ctx.counters().foreach { case (k, v) => c.put(k, v) }
      }
      mapper.writeValue(new File(cfg.get("out").asText), out)
    } finally spark.stop()
  }

  /** One result row as JSON: numbers stay numbers (non-finite doubles
    * become strings), structs and arrays become arrays, anything else
    * (strings, dates, decimals) its text. */
  def rowJson(arr: ArrayNode, r: Row): Unit = {
    def put(a: ArrayNode, v: Any): Unit = v match {
      case null => a.addNull()
      case b: Boolean => a.add(b)
      case i: Int => a.add(i)
      case l: Long => a.add(l)
      case s: Short => a.add(s.toInt)
      case b: Byte => a.add(b.toInt)
      case d: Double =>
        if (d.isNaN || d.isInfinite) a.add(d.toString) else a.add(d)
      case f: Float =>
        if (f.isNaN || f.isInfinite) a.add(f.toString) else a.add(f.toDouble)
      case d: java.math.BigDecimal => a.add(d.toPlainString)
      case d: scala.math.BigDecimal => a.add(d.bigDecimal.toPlainString)
      case r: Row => val sub = a.addArray(); r.toSeq.foreach(put(sub, _))
      case s: scala.collection.Seq[_] => val sub = a.addArray(); s.foreach(put(sub, _))
      case other => a.add(other.toString)
    }
    val row = arr.addArray()
    r.toSeq.foreach(put(row, _))
  }

  def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e6)
  }

  def errorText(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage))
      .linesIterator.take(3).mkString(" ").take(400)
}
