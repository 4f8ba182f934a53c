package perfbench

import java.io.File

import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.functions.col

/** TPC-H q01-q22 and the TPC-DS builders over an 8-file key-range
  * re-layout of the fixture, one closed-loop client, every query cold. */
object OlapCold {
  private val big = Seq("lineitem" -> "l_orderkey", "orders" -> "o_orderkey",
    "customer" -> "c_custkey", "part" -> "p_partkey",
    "supplier" -> "s_suppkey")
  private val small = Seq("nation", "region")

  /** The fixture a run queries: the big tables range-partitioned into 8
    * files, the small ones as one file, then the derived TPC-DS facts. */
  def buildFixture(spark: SparkSession, src: String, dest: File): Unit = {
    big.foreach { case (t, key) =>
      spark.read.parquet(s"$src/$t.parquet").repartitionByRange(8, col(key))
        .write.parquet(s"$dest/$t.parquet")
    }
    small.foreach { t =>
      spark.read.parquet(s"$src/$t.parquet").coalesce(1)
        .write.parquet(s"$dest/$t.parquet")
    }
    graft.tpcds.Tpcds.materializeFacts(spark, dest.getPath)
  }

  val builders: Map[String, (SparkSession, String) => DataFrame] =
    graft.tpch.Tpch.queries ++ graft.tpcds.Tpcds.queries

  def run(c: Ctx): Unit = {
    val spark = c.spark
    val dir = c.fixture("olap")(d => buildFixture(spark, c.dataDir, d)).getPath
    c.dropCaches()
    val olap = c.cfg.get("olap")
    def names(field: String): Seq[String] = {
      val b = Seq.newBuilder[String]
      olap.get(field).forEach(n => b += n.asText)
      b.result()
    }
    // prewarm: loads classes and JIT-compiles the common operators; it
    // runs through the same measure path and is cold like the rest
    val ops = c.out.putArray("ops")
    val prewarm = c.out.putArray("prewarm")
    names("prewarm").foreach(q => measure(c, dir, q, prewarm, s"prewarm/$q"))
    val results = c.pass(names("order").flatMap(q => measure(c, dir, q, ops, q)))
    // results go into the document after the pass, outside its time
    results.foreach { case (rec, cols, rows) =>
      val cs = rec.putArray("columns")
      cols.foreach(cs.add)
      val data = rec.putArray("data")
      rows.foreach(Main.rowJson(data, _))
    }
  }

  /** One cold query; returns its record with the result columns and rows
    * when it succeeded. */
  private def measure(c: Ctx, dir: String, name: String,
      into: com.fasterxml.jackson.databind.node.ArrayNode, request: String)
      : Option[(ObjectNode, Array[String], Array[Row])] = {
    val spark = c.spark
    val tr = c.tracer
    val rec = into.addObject()
    rec.put("name", name)
    val leftover = c.leftoverRdds
    rec.put("leftover_rdds", leftover)
    if (leftover != 0) {
      rec.put("ok", false).put("error", s"$leftover persisted RDDs before start")
      c.dropCaches()
      return None
    }
    val suite = if (name.startsWith("ds_")) "tpcds" else "tpch"
    val before = c.counters()
    RuleExecutor.resetMetrics()
    try {
      var buildSpan, execSpan = 0L
      val (rows, ms) = tr.withRequest(request) {
        Main.time {
          tr.span("query") {
            val df = tr.span(s"$suite.build") {
              buildSpan = tr.current
              builders(name)(spark, dir)
            }
            val rows = tr.span("exec") {
              execSpan = tr.current
              df.collect()
            }
            if (tr.enabled) {
              val phases = df.queryExecution.tracker.phases
              Seq("analysis" -> buildSpan, "optimization" -> execSpan,
                "planning" -> execSpan).foreach { case (p, parent) =>
                phases.get(p).foreach(s => tr.record(s"catalyst.$p",
                  s.startTimeMs * 1000000L + tr.epochToNanoOffset,
                  s.endTimeMs * 1000000L + tr.epochToNanoOffset, parent))
              }
              val l = rec.putObject("layers")
              val rules = RuleExecutor.getCurrentMetrics()
              l.put("rules.runs", rules.numRuns)
              l.put("rules.effective_runs", rules.numEffectiveRuns)
              PlanCounts(df.queryExecution.executedPlan)
                .foreach { case (k, v) => l.put(k, v) }
            }
            (df.schema.fieldNames, rows)
          }
        }
      }
      rec.put("ok", true).put("ms", ms).put("rows", rows._2.length)
      Some((rec, rows._1, rows._2))
    } catch {
      case e: Throwable =>
        rec.put("ok", false).put("error", Main.errorText(e))
        None
    } finally {
      val frames = c.dropCaches()
      if (c.tracer.enabled) {
        val l = Option(rec.get("layers")).map(_.asInstanceOf[ObjectNode])
          .getOrElse(rec.putObject("layers"))
        l.put("cache.persisted_frames", frames)
        Counters.diff(c.counters(), before).foreach { case (k, v) => l.put(k, v) }
      }
    }
  }
}
