package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{ExecSubqueryExpression, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, Exchange, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.functions._

/** TPC-DS slice sanity: derivation invariants + canonical plan shapes.
  * Full value correctness is the per-round DuckDB oracle gate (ds_q* keys);
  * these specs pin what the oracle can't see — derived-dimension contracts,
  * rollup grand totals, and broadcast-join planning. */
class TpcdsSpec extends AnyFunSuite {
  import TestSpark._
  import tpcds.Tpcds

  test("derived dimensions have the contracted cardinalities and key ranges") {
    assert(Tpcds.dateDim(spark).count() == 2557)
    assert(Tpcds.store(spark).count() == 10)
    assert(Tpcds.customerDemographics(spark).count() == 100)
    assert(Tpcds.householdDemographics(spark).count() == 50)
    assert(Tpcds.promotion(spark).count() == 20)
    val ss = Tpcds.storeSales(spark, sf)
    val rng = ss.agg(min("ss_sold_date_sk"), max("ss_sold_date_sk"),
      min("ss_store_sk"), max("ss_store_sk")).collect()(0)
    assert(rng.getLong(0) >= 0 && rng.getLong(1) < 2557, "date_sk within calendar")
    assert(rng.getLong(2) >= 0 && rng.getLong(3) <= 9, "store_sk within stores")
  }

  test("q27 rollup emits per-state, per-item-subtotal and grand-total rows") {
    val rows = Tpcds.q27(spark, sf).collect()
    if (rows.nonEmpty) { // sf0.001 slice can be empty for this demographic
      val grand = rows.filter(r => r.getString(0) == "ALL" && r.getString(1) == "ALL")
      assert(grand.length == 1, "exactly one grand-total row")
      val subtotals = rows.filter(r => r.getString(0) != "ALL" && r.getString(1) == "ALL")
      assert(subtotals.nonEmpty, "per-item subtotal rows present")
      val grandCnt = grand(0).getLong(2)
      assert(subtotals.map(_.getLong(2)).sum == grandCnt,
        "item subtotals add up to the grand total")
    }
  }

  test("q98 revenue ratios sum to ~100 within each class") {
    val rows = Tpcds.q98(spark, sf).collect()
    rows.groupBy(_.getString(2)).foreach { case (_, rs) =>
      val total = rs.map(_.getDouble(5)).sum
      assert(math.abs(total - 100.0) < 1e-6, s"class ratios sum to $total")
    }
  }

  test("star-join plans broadcast every dimension (no shuffle on dims)") {
    for (q <- Seq(Tpcds.q3 _, Tpcds.q42 _, Tpcds.q55 _)) {
      val plan = q(spark, sf).queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"), "dims broadcast")
    }
  }

  test("multi-channel q60 unions three channel aggregates") {
    val plan = Tpcds.q60(spark, sf).queryExecution.optimizedPlan.toString
    assert(plan.contains("Union"), "union of channels survives optimization")
  }

  test("q36 rollup hierarchy: one grand total at lochierarchy 2, ranks restart per parent") {
    val rows = Tpcds.q36(spark, sf).collect()
    if (rows.nonEmpty) {
      val grand = rows.filter(_.getLong(3) == 2L)
      assert(grand.length == 1, "exactly one grand-total row")
      assert(grand(0).getString(1) == "ALL" && grand(0).getString(2) == "ALL")
      // every (lochierarchy, parent) rank sequence starts at 1
      rows.groupBy(r => (r.getLong(3), if (r.getLong(3) == 0) r.getString(1) else ""))
        .foreach { case (_, rs) => assert(rs.map(_.getLong(4)).min == 1L) }
    }
  }

  test("q97 full-outer counts are consistent with the channel pair sets") {
    val r = Tpcds.q97(spark, sf).collect()(0)
    val dd = Tpcds.dateDim(spark).filter(col("d_year") === 1999)
    val storePairs = Tpcds.storeSales(spark, sf)
      .join(dd, col("ss_sold_date_sk") === col("d_date_sk"))
      .select("ss_customer_sk", "ss_item_sk").distinct().count()
    assert(r.getLong(0) + r.getLong(2) == storePairs,
      "store_only + both = distinct store pairs")
  }

  test("q62 lag buckets partition every lineitem exactly once") {
    val rows = Tpcds.q62(spark, sf).collect()
    val total = rows.map(r => r.getLong(2) + r.getLong(3) + r.getLong(4) +
      r.getLong(5) + r.getLong(6)).sum
    assert(total == Tables(spark, sf, "lineitem").count(), "buckets exhaustive")
  }

  test("q51 cumulative columns are non-decreasing per item") {
    val rows = Tpcds.q51(spark, sf).collect()
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val cums = rs.sortBy(_.getDate(1).toString).map(_.getDouble(2))
      assert(cums.zip(cums.drop(1)).forall { case (a, b) => b >= a },
        "web cumulative never decreases")
    }
  }

  test("the COMPLETE 99-query suite is registered, each with an oracle") {
    val keys = (1 to 99).map(i => f"ds_q$i%02d")
    val missingQ = keys.filterNot(Tpcds.queries.contains)
    val missingO = keys.filterNot(Tpcds.oracle.contains)
    assert(missingQ.isEmpty, s"queries missing: $missingQ")
    assert(missingO.isEmpty, s"oracles missing: $missingO")
    assert(Tpcds.queries.size == 99 && Tpcds.oracle.size == 99,
      "no stray keys beyond the suite")
  }

  test("materialized facts are bit-equivalent to the derivation they replace") {
    // link the fixture tables into a writable dir, materialize _tpcds there,
    // and check a query reads the parquet path and returns identical rows
    val work = java.nio.file.Files.createTempDirectory("tpcds_mat").toFile
    graft.Tables.names.foreach { n =>
      java.nio.file.Files.createSymbolicLink(
        new java.io.File(work, s"$n.parquet").toPath,
        new java.io.File(s"$sf/$n.parquet").toPath)
    }
    val derived = Tpcds.q3(spark, sf).collect()
    Tpcds.materializeFacts(spark, work.getAbsolutePath)
    assert(new java.io.File(work, "_tpcds/store_sales").isDirectory)
    val viaMat = Tpcds.q3(spark, work.getAbsolutePath)
    assert(viaMat.queryExecution.executedPlan.toString.contains("_tpcds"),
      "bench path scans the materialized parquet")
    assert(viaMat.collect().toSeq == derived.toSeq,
      "materialized facts answer identically to the derivation")
  }

  test("q23's cutoff is a mergeable max, not an exact percentile") {
    val plan = Tpcds.q23(spark, sf).queryExecution.optimizedPlan.toString
    assert(!plan.contains("percentile"),
      "no exact-percentile single-buffer merge in the plan")
    assert(plan.contains("max(spend"), "max-derived scalar cutoff")
  }

  /** Every node of the final adaptive plan (stages and subqueries
    * included), read after the query has run. */
  private def finalPlan(df: DataFrame): Seq[SparkPlan] = {
    df.collect()
    def walk(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      p +: (kids ++ p.expressions.flatMap(_.collect {
        case e: ExecSubqueryExpression => e.plan
      })).flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
  }

  /** The query reads no cache; returns the exchanges its final plan
    * reads a second time through a ReusedExchange. */
  private def reusedExchanges(df: DataFrame): Seq[Exchange] = {
    val nodes = finalPlan(df)
    assert(!nodes.exists(_.isInstanceOf[InMemoryTableScanExec]),
      "a subtree is read from a cache, not shared by the plan")
    nodes.collect { case r: ReusedExchangeExec => r.child }
  }

  // the formerly persisted aggregate is one subtree for both consumers,
  // so the second reads its shuffle again instead of recomputing it
  for (name <- Seq("ds_q24", "ds_q30", "ds_q44", "ds_q49", "ds_q64",
      "ds_q81", "cte_reuse"))
    test(s"$name shares its twice-consumed aggregate through a reused shuffle") {
      val reused = reusedExchanges(SparkEntry.queries(name)(spark, sf))
      assert(reused.exists(_.isInstanceOf[ShuffleExchangeExec]),
        s"the shared aggregate is computed twice; reused only $reused")
    }

  // here the consumers of the formerly persisted subtree differ (an
  // inferred not-null filter, a filter pushed below the aggregate, or
  // column pruning), so only the dimension broadcasts are shared; q14,
  // q32 and q92 filter to nothing at sf0.001, where AQE prunes the plan
  for ((name, dir) <- Seq("ds_q01", "ds_q04", "ds_q11", "ds_q74").map(_ -> sf) ++
      Seq("ds_q14", "ds_q32", "ds_q92").map(_ -> sf01))
    test(s"$name reads no cache and reuses its dimension broadcasts") {
      val reused = reusedExchanges(SparkEntry.queries(name)(spark, dir))
      assert(reused.exists(_.isInstanceOf[BroadcastExchangeExec]),
        s"no broadcast is reused: $reused")
    }

  test("rollup 'ALL' labels come from grouping(), not NULL-coalescing (r13)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // a genuine NULL dimension value must stay distinct from the rollup
    // subtotal row — coalesce(col,'ALL') conflated them (r12 verdict #4)
    val df = Seq((Some("s1"), "c1", 10L), (None: Option[String], "c1", 5L),
      (Some("s1"), "c2", 2L)).toDF("state", "county", "profit")
      .rollup(col("state"), col("county"))
      .agg(sum(col("profit")).as("p"),
        grouping(col("state")).as("_g0"), grouping(col("county")).as("_g1"))
      .select(
        when(col("_g0") === 1, lit("ALL")).otherwise(col("state")).as("state"),
        when(col("_g1") === 1, lit("ALL")).otherwise(col("county")).as("county"),
        col("p"))
    val rows = df.collect().map(r =>
      (Option(r.getString(0)).getOrElse("<null>"),
        Option(r.getString(1)).getOrElse("<null>"), r.getLong(2))).toSet
    // the NULL-state data row survives as NULL, the subtotal row as ALL
    assert(rows.contains(("<null>", "c1", 5L)), rows.toString)
    assert(rows.contains(("<null>", "ALL", 5L)), rows.toString)
    assert(rows.contains(("ALL", "ALL", 17L)), rows.toString)
    assert(rows.contains(("s1", "ALL", 12L)), rows.toString)
    // and no query in the suite still uses the conflating pattern
    val src = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/main/scala/graft/tpcds/Tpcds.scala")),
      java.nio.charset.StandardCharsets.UTF_8)
    assert(!src.contains("coalesce(col(\"i_category\"), lit(\"ALL\"))"))
    assert(!src.contains("COALESCE(i_category, 'ALL')"))
  }
}
