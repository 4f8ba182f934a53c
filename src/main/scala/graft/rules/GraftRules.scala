package graft.rules

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** One-stop idempotent registration of the always-safe graft optimizer
  * rules on a session. The reference installs its optimizer list once per
  * server (presto-main-base `PlanOptimizers.java`); Spark's analogue is
  * per-session `extraOptimizations`, which only the wrapped SQL session
  * used to set — leaving DataFrame twins and the bench sessions
  * un-optimized (r12 verdict finding #2). Every session entry point
  * (`Tables.apply`/`registerAll`, `SqlSession.wrap`) now funnels through
  * here, and config-time `GraftExtensions` injects the same [[rules]], so
  * a fact-sized ROLLUP gets two-phased whether it arrives as SQL text or a
  * DataFrame.
  *
  * "Always-safe" is MEASURED, not assumed: a rule joins this list only
  * after an A/B shows it never regresses the bench suites. Opt-in rules
  * with registration side-state (MaterializedViewRewrite,
  * ArrayContainsJoin, HistoryBasedStats) stay at their call sites.
  */
object GraftRules {
  // MergeSumsToVectorSum is NOT here: the vector-sum rewrite swaps k
  // codegen'd decimal sums for one imperative aggregate, a win for the
  // wide (10+ column) vector shapes it was built for but measured 1.4-2.4x
  // SLOWER on ordinary 2-4-sum aggregates (sf1 ds_q17/q18/q20/q21 A/B,
  // r13) — it stays opt-in by explicit install, like
  // MaterializedViewRewrite.
  val rules: Seq[Rule[LogicalPlan]] = Seq(
    CombineApproxPercentiles,
    PreAggregateRollup)

  def install(spark: SparkSession): Unit = synchronized {
    val cur = spark.experimental.extraOptimizations
    val missing = rules.filterNot(cur.contains)
    if (missing.nonEmpty)
      spark.experimental.extraOptimizations = cur ++ missing
  }
}
