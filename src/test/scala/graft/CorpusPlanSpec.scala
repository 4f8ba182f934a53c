package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Dedup, TextAnalysis}

/** Plan pins for the r13 shuffle-diet rewrites of the corpus operators.
  * The oracle gates prove the RESULTS are unchanged; these pin the plan
  * shapes that were the point of the rewrite, so a regression back to
  * the expensive formulation fails loudly:
  *
  *  - hashed classifier: tokens flow straight into the broadcast model
  *    join — no (doc_id, bucket) intermediate aggregate (it exchanged
  *    194 M records at the 5 M-doc corpus bench) and no fact-sized
  *    doc⋈score join;
  *  - substring-dup profile (r14 shape): duplicated-gram hits come from
  *    a per-gram hash aggregate + shuffled-hash join sharing ONE
  *    repartition-by-gram exchange — no full-stream gram window (its
  *    sort spilled 28 GiB at the 5 M-doc starved-memory bench) and no
  *    sort-merge join;
  *  - span removal (r14 shape): first-occurrence election is a per-gram
  *    min() HASH aggregate over the packed (doc_id, pos) long + the same
  *    reused-exchange hash join — no row_number() window (85 GiB
  *    mem-spill at 5 M docs), no SortAggregate sneaking the sort back,
  *    and no distinct before the per-doc collect_set;
  *  - lmScore: bigram pairs come off each row's word array — no
  *    lead()-window (a full exchange + sort of the token stream). */
class CorpusPlanSpec extends AnyFunSuite {
  import TestSpark._

  // sparkPlan, not executedPlan: the AQE wrapper (AdaptiveSparkPlanExec)
  // hides its subtree from collect(), and AQE never changes the
  // aggregate/window structure pinned here — only runtime exchanges
  private def plan(df: DataFrame): SparkPlan = df.queryExecution.sparkPlan

  private def aggKeyNames(p: SparkPlan): Seq[Seq[String]] =
    p.collectWithSubqueries {
      case a: HashAggregateExec => a.groupingExpressions.map(_.name)
      case a: ObjectHashAggregateExec => a.groupingExpressions.map(_.name)
      case a: SortAggregateExec => a.groupingExpressions.map(_.name)
    }

  private def windows(p: SparkPlan): Seq[WindowExec] =
    p.collectWithSubqueries { case w: WindowExec => w }

  test("hashed classifier scores without a (doc_id, bucket) aggregate or a doc-keyed join") {
    val df = TextAnalysis.hashedClassifier(spark, sf)
    val keys = aggKeyNames(plan(df))
    assert(!keys.exists(k => k.contains("doc_id") && k.contains("bucket")),
      s"classifier regressed to the (doc_id, bucket) pre-aggregate: $keys")
    // token stream → broadcast model join → one doc-grained aggregate:
    // no sort-merge join anywhere (the old shape joined docs back on)
    val smj = plan(df).collectWithSubqueries {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    assert(smj.isEmpty, s"classifier regressed to a fact-sized join: $smj")
  }

  private def shuffledHashJoins(p: SparkPlan) = p.collectWithSubqueries {
    case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
  }
  private def sortMergeJoins(p: SparkPlan) = p.collectWithSubqueries {
    case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
  }
  private def sortAggs(p: SparkPlan) = p.collectWithSubqueries {
    case a: SortAggregateExec => a
  }

  test("substring-dup: gram hits via hash agg + shuffled-hash join, no gram window, no SMJ") {
    val df = Dedup.substringDup(spark, sf)
    val p = plan(df)
    // only the two per-doc island windows remain — the former
    // count-over-gram window (a full-stream sort) must stay gone
    assert(windows(p).size == 2, s"expected 2 island windows: ${windows(p)}")
    assert(shuffledHashJoins(p).nonEmpty,
      "duplicated-gram probe regressed from the shuffled-hash join")
    assert(sortMergeJoins(p).isEmpty,
      "substringDup regressed to a sort-merge join (full-stream sorts)")
  }

  test("span removal: min-election hash agg + shuffled-hash join, no gram window, no sort agg") {
    val df = Dedup.spanDedup(spark, sf)
    val p = plan(df)
    // only the two DOC-keyed removal-interval island windows may remain;
    // a gram-keyed window is the row_number-election regression (the
    // full-stream sort)
    assert(windows(p).size == 2 && windows(p).forall(
        _.partitionSpec.forall(_.references.map(_.name).forall(_ == "doc_id"))),
      s"expected 2 doc-keyed island windows: ${windows(p)}")
    assert(shuffledHashJoins(p).nonEmpty,
      "later-occurrence probe regressed from the shuffled-hash join")
    assert(sortMergeJoins(p).isEmpty,
      "spanDedup regressed to a sort-merge join (full-stream sorts)")
    // min() must stay over the packed LONG — min over a struct would
    // silently plan a SortAggregate and bring the full-stream sort back
    assert(sortAggs(p).isEmpty,
      s"the first-occurrence election planned a SortAggregate: ${sortAggs(p)}")
    // the removal-position stream must reach collect_set without an
    // intermediate distinct aggregate keyed (doc_id, rp)
    assert(!aggKeyNames(p).exists(k => k.sorted == Seq("doc_id", "rp")),
      "spanDedup regressed to distinct-before-collect_set")
  }

  test("pipeline3's span stage carries the same no-gram-window shape") {
    val df = TextAnalysis.pipeline3(spark, sf)
    val p = plan(df)
    // gram-keyed windows are the row_number-election regression; the
    // only allowed windows are doc-keyed removal islands + the
    // source-keyed packing window
    assert(windows(p).forall(_.partitionSpec.forall(
        _.references.map(_.name).forall(n => n == "doc_id" || n == "source"))),
      s"pipeline3 regressed to a gram-keyed window: ${windows(p)}")
    assert(sortAggs(p).isEmpty,
      s"pipeline3's election planned a SortAggregate: ${sortAggs(p)}")
  }

  test("lmScore builds bigrams without any window") {
    val df = TextAnalysis.lmScore(
      Tables(spark, sf, "documents"), "doc_id", "text")
    assert(windows(plan(df)).isEmpty,
      "lmScore regressed to the lead()-window bigram formulation")
  }

  test("rewritten operators still produce their exact fixture results") {
    // belt and braces alongside the oracle gates: pin a few concrete
    // numbers so a pure-Scala refactor can't silently change semantics
    val nDocs = Tables(spark, sf, "documents").count()
    val sub = Dedup.substringDup(spark, sf).collect()
    assert(sub.length == nDocs)
    val span = Dedup.spanDedup(spark, sf).collect()
    assert(span.length == nDocs)
    // removal only ever shrinks documents, and flagged docs report
    // consistent word accounting
    for (r <- span) {
      val (nw, rm) = (r.getLong(1), r.getLong(2))
      assert(rm >= 0 && rm <= nw)
    }
    val cls = TextAnalysis.hashedClassifier(spark, sf).collect()
    assert(cls.length == nDocs && cls.forall(_.getLong(3) > 0L))
    spark.catalog.clearCache()
  }
}
