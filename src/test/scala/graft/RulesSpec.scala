package graft

import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, ApproximatePercentile}
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape + value tests for graft's extra optimizer rules (the
  * reference's plan-assertion pattern, presto-main-base/src/test/.../sql/
  * planner/TestWindowFilterPushDown.java style). */
class RulesSpec extends AnyFunSuite {
  import TestSpark._

  private def distinctAggFns(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.optimizedPlan.collect { case a: Aggregate => a }
      .flatMap(_.aggregateExpressions.flatMap(_.collect {
        case ae: AggregateExpression => ae.canonicalized
      }))
      .distinct

  test("approx-percentile fusion: N calls collapse to one digest") {
    spark.experimental.extraOptimizations =
      Seq(graft.rules.CombineApproxPercentiles)
    val l = Tables(spark, sf, "lineitem")
    val fused = l.groupBy("l_returnflag").agg(
      expr("approx_percentile(l_quantity, 0.25)").as("q25"),
      expr("approx_percentile(l_quantity, 0.5)").as("q50"),
      expr("approx_percentile(l_quantity, 0.75)").as("q75"))
    val aggs = distinctAggFns(fused)
    assert(aggs.size == 1, s"expected 1 fused aggregate, got:\n${aggs.mkString("\n")}")
    assert(aggs.head.collectFirst {
      case ap: ApproximatePercentile => ap
    }.get.percentageExpression.dataType.typeName.startsWith("array"))

    // value-identical to the unfused plan (digest is deterministic in input)
    spark.experimental.extraOptimizations = Nil
    val plain = l.groupBy("l_returnflag").agg(
      expr("approx_percentile(l_quantity, 0.25)").as("q25"),
      expr("approx_percentile(l_quantity, 0.5)").as("q50"),
      expr("approx_percentile(l_quantity, 0.75)").as("q75"))
    assert(fused.orderBy("l_returnflag").collect().toSeq ==
      plain.orderBy("l_returnflag").collect().toSeq)
  }

  test("fusion leaves mixed inputs, DISTINCT, and FILTER untouched") {
    spark.experimental.extraOptimizations =
      Seq(graft.rules.CombineApproxPercentiles)
    val l = Tables(spark, sf, "lineitem")
    // different children → no fusion group
    val mixed = l.groupBy("l_returnflag").agg(
      expr("approx_percentile(l_quantity, 0.5)").as("a"),
      expr("approx_percentile(l_extendedprice, 0.5)").as("b"))
    assert(distinctAggFns(mixed).size == 2)
    // FILTER clause disqualifies
    val filtered = l.groupBy("l_returnflag").agg(
      expr("approx_percentile(l_quantity, 0.25) FILTER (WHERE l_quantity > 10)").as("a"),
      expr("approx_percentile(l_quantity, 0.75)").as("b"))
    assert(distinctAggFns(filtered).size == 2)
    spark.experimental.extraOptimizations = Nil
  }

  test("merge-sums-to-vector-sum: N double sums fuse into one vector state") {
    import graft.functions.VectorSumNullableAgg
    spark.experimental.extraOptimizations = Seq(graft.rules.MergeSumsToVectorSum)
    try {
      val l = Tables(spark, sf, "lineitem")
      def sums(df: org.apache.spark.sql.DataFrame) =
        df.queryExecution.optimizedPlan.collect { case a: Aggregate => a }
          .flatMap(_.aggregateExpressions.flatMap(_.collect {
            case ae: AggregateExpression => ae.aggregateFunction
          }))
      // 4 double sums + a count: sums fuse, count stays
      val q = l.groupBy("l_returnflag").agg(
        sum(col("l_quantity")).as("s_qty"),
        sum(col("l_extendedprice")).as("s_price"),
        sum(col("l_discount")).as("s_disc"),
        sum(col("l_tax")).as("s_tax"),
        count(lit(1)).as("cnt"))
      val fns = sums(q)
      assert(fns.count(_.isInstanceOf[VectorSumNullableAgg]) == 1,
        s"expected one fused vector_sum, got:\n${fns.mkString("\n")}")
      assert(!fns.exists(_.isInstanceOf[org.apache.spark.sql.catalyst
        .expressions.aggregate.Sum]), "no scalar Sum should remain")
      // values identical to the unfused plan
      spark.experimental.extraOptimizations = Nil
      val plain = l.groupBy("l_returnflag").agg(
        sum(col("l_quantity")).as("s_qty"),
        sum(col("l_extendedprice")).as("s_price"),
        sum(col("l_discount")).as("s_disc"),
        sum(col("l_tax")).as("s_tax"),
        count(lit(1)).as("cnt"))
      spark.experimental.extraOptimizations = Seq(graft.rules.MergeSumsToVectorSum)
      val a = q.orderBy("l_returnflag").collect().toSeq.map(_.toSeq)
      val b = plain.orderBy("l_returnflag").collect().toSeq.map(_.toSeq)
      assert(a.zip(b).forall { case (x, y) =>
        x.zip(y).forall {
          case (xd: Double, yd: Double) => math.abs(xd - yd) < 1e-6
          case (xv, yv) => xv == yv
        }
      }, s"fused $a != plain $b")
      // null preservation: a column with no non-null values stays NULL
      import spark.implicits._
      val n = Seq((1, Some(1.0), Option.empty[Double], 2.0),
        (1, Some(3.0), Option.empty[Double], 4.0),
        (1, Some(5.0), Option.empty[Double], 6.0))
        .toDF("g", "x", "y", "z")
        .groupBy("g")
        .agg(sum("x").as("sx"), sum("y").as("sy"), sum("z").as("sz"))
        .collect()(0)
      assert(n.getDouble(1) == 9.0)
      assert(n.isNullAt(2), "all-null column must stay NULL after fusion")
      assert(n.getDouble(3) == 12.0)
      // below threshold: 2 sums stay scalar
      val small = l.groupBy("l_returnflag").agg(
        sum(col("l_quantity")).as("a"), sum(col("l_tax")).as("b"))
      assert(!sums(small).exists(_.isInstanceOf[VectorSumNullableAgg]))
    } finally {
      spark.experimental.extraOptimizations = Nil
    }
  }

  test("materialized-view rewrite answers derivable rollups from the MV") {
    import graft.rules.MaterializedViewRewrite
    val base = Tables(spark, sf, "lineitem")
    val mvPath = new java.io.File(sys.props("java.io.tmpdir"),
      "graft_spec_mv").getPath
    base.groupBy("l_returnflag", "l_linestatus")
      .agg(sum("l_quantity").as("s_qty"), count(lit(1)).as("cnt"),
        min("l_quantity").as("mn_qty"), max("l_quantity").as("mx_qty"))
      .write.mode("overwrite").parquet(mvPath)
    MaterializedViewRewrite.clear()
    MaterializedViewRewrite.register("li_rollup",
      spark.read.parquet(mvPath), base,
      Seq("l_returnflag", "l_linestatus"),
      Seq(("sum", "l_quantity", "s_qty"), ("count", "*", "cnt"),
        ("min", "l_quantity", "mn_qty"), ("max", "l_quantity", "mx_qty")))
    spark.experimental.extraOptimizations = Seq(MaterializedViewRewrite)
    try {
      val q = Tables(spark, sf, "lineitem") // a FRESH read — path matching
        .filter(col("l_returnflag") =!= "N")
        .groupBy("l_returnflag")
        .agg(sum("l_quantity").as("q"), count(lit(1)).as("c"),
          min("l_quantity").as("mn"), avg("l_quantity").as("a"))
      // the MV relation surfaces via its partial columns (s_qty/cnt)
      assert(q.queryExecution.optimizedPlan.toString.contains("s_qty"),
        "rollup query scans the MV")
      spark.experimental.extraOptimizations = Nil
      val direct = Tables(spark, sf, "lineitem")
        .filter(col("l_returnflag") =!= "N")
        .groupBy("l_returnflag")
        .agg(sum("l_quantity").as("q"), count(lit(1)).as("c"),
          min("l_quantity").as("mn"), avg("l_quantity").as("a"))
        .collect().map(r => r.getString(0) -> r).toMap
      spark.experimental.extraOptimizations = Seq(MaterializedViewRewrite)
      q.collect().foreach { r =>
        val d = direct(r.getString(0))
        // quantities are integral-valued doubles: sums are exact, so the
        // MV re-aggregation is value-identical, not merely close
        assert(r.getDouble(1) == d.getDouble(1) && r.getLong(2) == d.getLong(2))
        assert(r.getDouble(3) == d.getDouble(3) && r.getDouble(4) == d.getDouble(4))
      }
      // non-derivable aggregate (sum of a non-covered column) stays on base
      val miss = Tables(spark, sf, "lineitem").groupBy("l_returnflag")
        .agg(sum("l_extendedprice").as("p"))
      assert(!miss.queryExecution.optimizedPlan.toString.contains("s_qty"))
      // filter over a non-group column stays on base
      val badFilter = Tables(spark, sf, "lineitem")
        .filter(col("l_quantity") > 10).groupBy("l_returnflag")
        .agg(sum("l_quantity").as("q"))
      assert(!badFilter.queryExecution.optimizedPlan.toString.contains("s_qty"))
    } finally {
      spark.experimental.extraOptimizations = Nil
      MaterializedViewRewrite.clear()
    }
  }

  private def expandAggShape(df: org.apache.spark.sql.DataFrame): (Int, Boolean) = {
    import org.apache.spark.sql.catalyst.plans.logical.Expand
    val plan = df.queryExecution.optimizedPlan
    val aggs = plan.collect { case a: Aggregate => a }
    val preAggBelowExpand = plan.collectFirst {
      case Aggregate(_, _, e: Expand, _) => e.child.exists {
        case _: Aggregate => true; case _ => false
      }
    }.getOrElse(false)
    (aggs.size, preAggBelowExpand)
  }

  test("pre-aggregate below Expand: exact rollup collapses before the 3x expand") {
    try {
      spark.experimental.extraOptimizations = Seq(graft.rules.PreAggregateRollup)
      val l = Tables(spark, sf, "lineitem")
      val rolled = l.rollup("l_returnflag", "l_linestatus")
        .agg(sum(col("l_quantity").cast("decimal(18,6)")).as("s"),
          count(lit(1)).as("c"),
          min(col("l_quantity")).as("mn"),
          max(col("l_quantity")).as("mx"))
      val (nAggs, preAgg) = expandAggShape(rolled)
      assert(preAgg, "expected a pre-aggregate below Expand")
      assert(nAggs >= 2)
      val withRule = rolled.collect().map(_.toString).sorted
      spark.experimental.extraOptimizations = Nil
      val plain = l.rollup("l_returnflag", "l_linestatus")
        .agg(sum(col("l_quantity").cast("decimal(18,6)")).as("s"),
          count(lit(1)).as("c"),
          min(col("l_quantity")).as("mn"),
          max(col("l_quantity")).as("mx"))
      assert(withRule.toSeq == plain.collect().map(_.toString).sorted.toSeq,
        "pre-aggregated rollup changed results")
    } finally spark.experimental.extraOptimizations = Nil
  }

  test("pre-aggregate below Expand: float sums and grouping-col aggs bail out") {
    try {
      spark.experimental.extraOptimizations = Seq(graft.rules.PreAggregateRollup)
      val l = Tables(spark, sf, "lineitem")
      // double sum: re-association would change low bits — must not apply
      val dbl = l.rollup("l_returnflag")
        .agg(sum(col("l_extendedprice")).as("s"))
      assert(!expandAggShape(dbl)._2, "double-sum rollup must not pre-aggregate")
      // count over a grouping SOURCE column: the aggregate reads the
      // child (un-nulled) attribute, so pre-aggregation is valid — pin
      // value equality with the un-rewritten plan
      val gcol = l.rollup("l_returnflag")
        .agg(count(col("l_returnflag")).as("c"))
      val gcolRows = gcol.collect().map(_.toString).sorted.toSeq
      spark.experimental.extraOptimizations = Nil
      val gcolPlain = l.rollup("l_returnflag")
        .agg(count(col("l_returnflag")).as("c"))
        .collect().map(_.toString).sorted.toSeq
      assert(gcolRows == gcolPlain)
      spark.experimental.extraOptimizations = Seq(graft.rules.PreAggregateRollup)
      // count(distinct) — must not apply
      val dist = l.rollup("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("c"))
      assert(!expandAggShape(dist)._2, "distinct agg must not pre-aggregate")
    } finally spark.experimental.extraOptimizations = Nil
  }

  test("pre-aggregate below Expand: installed on every session via Tables (r13)") {
    try {
      // no manual extraOptimizations — Tables.apply installs GraftRules,
      // so the DataFrame twins and the bench session get two-phased
      // rollups without SqlSession.wrap (r12 verdict finding #2)
      spark.experimental.extraOptimizations = Nil
      val l = Tables(spark, sf, "lineitem")
      assert(spark.experimental.extraOptimizations
        .contains(graft.rules.PreAggregateRollup))
      val rolled = l.rollup("l_returnflag", "l_linestatus")
        .agg(sum(col("l_quantity").cast("decimal(18,6)")).as("s"))
      assert(expandAggShape(rolled)._2,
        "global install must two-phase DataFrame rollups")
    } finally spark.experimental.extraOptimizations = Nil
  }

  test("GraftExtensions injects exactly the rules GraftRules.install adds") {
    import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
    import org.apache.spark.sql.graftbridge.ExtensionsBridge
    val ext = new SparkSessionExtensions
    new graft.functions.GraftExtensions().apply(ext)
    try {
      spark.experimental.extraOptimizations = Nil
      graft.rules.GraftRules.install(spark)
      assert(ExtensionsBridge.optimizerRules(ext, spark) ==
        spark.experimental.extraOptimizations)
    } finally spark.experimental.extraOptimizations = Nil
    // a session that gets the rules only through the extension (nothing
    // installs extraOptimizations on it) still two-phases a DataFrame rollup
    val viaExt = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions).create()
    try {
      assert(viaExt.experimental.extraOptimizations.isEmpty)
      val rolled = viaExt.read.parquet(s"$sf/lineitem.parquet")
        .rollup("l_returnflag", "l_linestatus")
        .agg(sum(col("l_quantity").cast("decimal(18,6)")).as("s"))
      assert(expandAggShape(rolled)._2,
        "extension-injected rules must two-phase DataFrame rollups")
    } finally SparkSession.setActiveSession(spark) // create() may claim it
  }

  test("pre-aggregate below Expand: decimal partials carry an overflow " +
      "guard; all-null groups stay exact (r13)") {
    try {
      spark.experimental.extraOptimizations = Seq(graft.rules.PreAggregateRollup)
      import spark.implicits._
      val df = Seq(
        ("a", "x", Some(BigDecimal(10))), ("a", "x", Some(BigDecimal(5))),
        ("a", "y", None: Option[BigDecimal]), ("a", "y", None: Option[BigDecimal]),
        ("b", "x", Some(BigDecimal(7))), ("b", "y", None: Option[BigDecimal]))
        .toDF("k1", "k2", "v")
        .withColumn("v", col("v").cast("decimal(18,2)"))
      val rolled = df.rollup("k1", "k2")
        .agg(sum("v").as("s"), count(lit(1)).as("c"))
      assert(expandAggShape(rolled)._2)
      // the overflow-detector count partial must survive into the plan
      // (it feeds the null-propagation If around the re-sum)
      assert(rolled.queryExecution.optimizedPlan.toString
        .contains("_preagg_cnt_"),
        "decimal sum partial must carry an overflow-detector count")
      val withRule = rolled.collect().map(_.toString).sorted.toSeq
      spark.experimental.extraOptimizations = Nil
      val plain = df.rollup("k1", "k2")
        .agg(sum("v").as("s"), count(lit(1)).as("c"))
        .collect().map(_.toString).sorted.toSeq
      assert(withRule == plain,
        "all-null finest groups must not be nulled by the overflow guard")
    } finally spark.experimental.extraOptimizations = Nil
  }

  test("pre-aggregate below Expand: stats guard skips near-distinct keys (r13)") {
    val prevCbo = spark.conf.get("spark.sql.cbo.enabled")
    try {
      spark.conf.set("spark.sql.cbo.enabled", "true")
      spark.experimental.extraOptimizations = Seq(graft.rules.PreAggregateRollup)
      spark.sql("DROP TABLE IF EXISTS pre_agg_guard")
      spark.range(0, 1000).selectExpr("id AS k", "id % 7 AS v")
        .write.saveAsTable("pre_agg_guard")
      spark.sql("ANALYZE TABLE pre_agg_guard COMPUTE STATISTICS FOR ALL COLUMNS")
      // k is unique: estimated groups == rows → the pre-agg would shuffle
      // the input once more for nothing (the measured ds_q18/q27 shape)
      val near = spark.table("pre_agg_guard").rollup("k")
        .agg(sum(col("v").cast("decimal(18,2)")).as("s"))
      assert(!expandAggShape(near)._2,
        "near-distinct grouping keys must not pre-aggregate")
      // v has 7 distinct values: estimated 143x reduction → rewrite
      val few = spark.table("pre_agg_guard").rollup("v")
        .agg(sum(col("k").cast("decimal(18,2)")).as("s"))
      assert(expandAggShape(few)._2,
        "low-cardinality grouping keys must pre-aggregate")
    } finally {
      spark.conf.set("spark.sql.cbo.enabled", prevCbo)
      spark.sql("DROP TABLE IF EXISTS pre_agg_guard")
      spark.experimental.extraOptimizations = Nil
    }
  }

  test("pre-aggregate below Expand: rebuilt Sum keeps the original eval mode (r13)") {
    import org.apache.spark.sql.catalyst.expressions.EvalMode
    import org.apache.spark.sql.catalyst.expressions.aggregate.Sum
    val prevAnsi = spark.conf.get("spark.sql.ansi.enabled")
    try {
      spark.experimental.extraOptimizations = Seq(graft.rules.PreAggregateRollup)
      spark.conf.set("spark.sql.ansi.enabled", "false")
      import spark.implicits._
      val df = Seq(("a", BigDecimal(1)), ("b", BigDecimal(2)))
        .toDF("k", "v").withColumn("v", col("v").cast("decimal(18,2)"))
      val rolled = df.rollup("k").agg(sum("v").as("s"))
      rolled.schema // force analysis under legacy mode
      // flip the conf BEFORE optimization: without evalContext propagation
      // the rebuilt Sum would re-read the conf and come out ANSI
      spark.conf.set("spark.sql.ansi.enabled", "true")
      val sums = rolled.queryExecution.optimizedPlan.collect {
        case a: Aggregate =>
          a.aggregateExpressions.flatMap(_.collect { case s: Sum => s })
      }.flatten
      assert(sums.nonEmpty)
      assert(sums.forall(_.evalContext.evalMode == EvalMode.LEGACY),
        s"rebuilt Sum lost the original eval mode: $sums")
    } finally {
      spark.conf.set("spark.sql.ansi.enabled", prevAnsi)
      spark.experimental.extraOptimizations = Nil
    }
  }

  test("pre-aggregate below Expand: GROUPING SETS + grouping_id stay correct") {
    try {
      spark.experimental.extraOptimizations = Seq(graft.rules.PreAggregateRollup)
      Tables(spark, sf, "lineitem").createOrReplaceTempView("li_par")
      val q =
        """SELECT l_returnflag, l_linestatus, grouping(l_returnflag) AS gf,
          |  sum(CAST(l_quantity AS DECIMAL(18,6))) AS s, count(*) AS c
          |FROM li_par
          |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
          |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST, gf""".stripMargin
      val withRule = spark.sql(q).collect().map(_.toString)
      spark.experimental.extraOptimizations = Nil
      val plain = spark.sql(q).collect().map(_.toString)
      assert(withRule.toSeq == plain.toSeq)
    } finally spark.experimental.extraOptimizations = Nil
  }
}
