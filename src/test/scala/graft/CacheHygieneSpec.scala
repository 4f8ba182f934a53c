package graft

import org.scalatest.funsuite.AnyFunSuite

/** Cache hygiene: query builders persist nothing. A subplan that feeds
  * two consumers is shared by exchange reuse where the plan allows it and
  * computed once per consumer otherwise, so running a query leaves no
  * cached frame behind for anyone to release — not in a 99-query suite in
  * one long-lived session, and not across concurrent statement-server
  * queries that share one SparkContext. Every builder here used to
  * persist a shared subplan. */
class CacheHygieneSpec extends AnyFunSuite {
  import TestSpark._

  private val formerPersisters = Seq("ds_q01", "ds_q04", "ds_q11", "ds_q14",
    "ds_q23", "ds_q24", "ds_q30", "ds_q32", "ds_q39", "ds_q44", "ds_q49",
    "ds_q64", "ds_q74", "ds_q75", "ds_q81", "ds_q92", "cte_reuse",
    "text_hashed_classifier", "text_lm_score")

  test("query builders leave no persistent RDDs behind") {
    for (name <- formerPersisters) {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      // consume fully (some queries are legitimately empty at sf0.001)
      SparkEntry.queries(name)(spark, sf).collect()
      val added = spark.sparkContext.getPersistentRDDs.keySet.diff(before)
      assert(added.isEmpty, s"$name persisted RDDs $added")
    }
  }
}
