package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.SortMergeJoinExec

/** Task and job counters, summed overall and per job group. */
final class Counters {
  val names: Seq[String] = Seq("exec.jobs", "exec.stages", "exec.tasks",
    "exec.task_cpu_ms", "exec.task_run_ms", "exec.gc_ms",
    "shuffle.write_records", "shuffle.write_bytes", "shuffle.read_bytes",
    "shuffle.fetch_wait_ms", "spill.memory_bytes", "spill.disk_bytes")
  private val adders = names.map(n => n -> new LongAdder).toMap
  def add(name: String, v: Long): Unit = adders(name).add(v)
  def snapshot: Map[String, Long] = adders.map { case (k, a) => k -> a.sum() }
}

object Counters {
  def diff(after: Map[String, Long], before: Map[String, Long])
      : Map[String, Long] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0L)) }
}

/** One listener for every workload: sums task metrics overall and by the
  * job group that submitted them (the statement server sets job group =
  * query id). */
final class BenchListener extends SparkListener {
  val total = new Counters
  private val byGroup = new ConcurrentHashMap[String, Counters]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()

  private def group(g: String): Counters =
    byGroup.computeIfAbsent(g, _ => new Counters)

  def groupSnapshot(g: String): Map[String, Long] =
    Option(byGroup.get(g)).map(_.snapshot).getOrElse(Map.empty)

  private def both(g: Option[String])(f: Counters => Unit): Unit = {
    f(total)
    g.foreach(x => f(group(x)))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach(x => e.stageIds.foreach(s => stageGroup.put(s, x)))
    both(g)(_.add("exec.jobs", 1))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    both(Option(stageGroup.get(e.stageInfo.stageId)))(_.add("exec.stages", 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    both(Option(stageGroup.get(e.stageId))) { c =>
      c.add("exec.tasks", 1)
      if (m != null) {
        c.add("exec.task_cpu_ms", m.executorCpuTime / 1000000L)
        c.add("exec.task_run_ms", m.executorRunTime)
        c.add("exec.gc_ms", m.jvmGCTime)
        c.add("shuffle.write_records", m.shuffleWriteMetrics.recordsWritten)
        c.add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten)
        c.add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead)
        c.add("shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
        c.add("spill.memory_bytes", m.memoryBytesSpilled)
        c.add("spill.disk_bytes", m.diskBytesSpilled)
      }
    }
  }
}

/** Node counts of a final (adaptive) physical plan, subqueries included. */
object PlanCounts {
  val names: Seq[String] = Seq("plan.exchanges", "plan.reused_exchanges",
    "plan.broadcasts", "plan.sort_merge_joins", "plan.sorts",
    "plan.cache_scans")

  def apply(plan: SparkPlan): Map[String, Long] = {
    val c = scala.collection.mutable.Map(names.map(_ -> 0L): _*)
    def bump(k: String): Unit = c(k) += 1
    def walk(p: SparkPlan): Unit = {
      p match {
        case _: ShuffleExchangeExec => bump("plan.exchanges")
        case _: BroadcastExchangeExec =>
          bump("plan.exchanges"); bump("plan.broadcasts")
        case _: ReusedExchangeExec => bump("plan.reused_exchanges")
        case _: SortMergeJoinExec => bump("plan.sort_merge_joins")
        case _: SortExec => bump("plan.sorts")
        case _: InMemoryTableScanExec => bump("plan.cache_scans")
        case _ =>
      }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      kids.foreach(walk)
      p.expressions.foreach(_.foreach {
        case s: ExecSubqueryExpression => walk(s.plan)
        case _ =>
      })
    }
    walk(plan)
    c.toMap
  }
}
