package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.Tables.dsum

/** Core relational operator coverage (SURVEY.md §2.1/§2.2): every logical
  * plan shape the reference supports that is not already exercised by a
  * TPC-H query — scans/projections, all join types, set operations (ALL +
  * DISTINCT), grouping sets / rollup / cube, distinct variants, offset,
  * values, unnest with ordinality.
  *
  * Determinism rules (oracle hash-match): ORDER BY with unique tie-breaks;
  * ascending NULLS FIRST spelled out in the oracle SQL (Spark's asc
  * default); outer-join key columns coalesced or ordered null-aware.
  */
object Relational {

  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables(s, dir, n)

  /** Scan + projection + filter — the fused scan/filter/project pipeline
    * (reference ScanFilterAndProjectOperator.java:67); Catalyst pushes both
    * the predicate and the 3-column ReadSchema into the parquet scan. */
  def scanProject(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part")
      .filter(col("p_size") >= 40 && col("p_type") === "STANDARD")
      .select("p_partkey", "p_name", "p_size")
      .orderBy("p_partkey")

  def joinInner(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "nation")
      .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .join(t(s, dir, "supplier"), col("s_nationkey") === col("n_nationkey"))
      .groupBy("r_name").agg(count(lit(1)).as("n_suppliers"))
      .orderBy("r_name")

  def joinLeft(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(t(s, dir, "orders").filter(col("o_totalprice") > 400000),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_mktsegment")
      .agg(count(col("o_orderkey")).as("big_orders"), count(lit(1)).as("n_rows"))
      .orderBy("c_mktsegment")

  def joinRight(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").filter(col("o_totalprice") > 400000)
      .join(t(s, dir, "customer"), col("c_custkey") === col("o_custkey"), "right")
      .groupBy("c_mktsegment")
      .agg(count(col("o_orderkey")).as("big_orders"), count(lit(1)).as("n_rows"))
      .orderBy("c_mktsegment")

  /** Full outer join of two aggregates; keys coalesced so output is
    * null-free and order-stable. */
  def joinFull(s: SparkSession, dir: String): DataFrame = {
    val sup = t(s, dir, "supplier").filter(col("s_acctbal") > 3000)
      .groupBy(col("s_nationkey").as("sk")).agg(count(lit(1)).as("rich_suppliers"))
    val cust = t(s, dir, "customer").filter(col("c_acctbal") > 3000)
      .groupBy(col("c_nationkey").as("ck")).agg(count(lit(1)).as("rich_customers"))
    sup.join(cust, col("sk") === col("ck"), "full")
      .select(coalesce(col("sk"), col("ck")).as("nationkey"),
        coalesce(col("rich_suppliers"), lit(0L)).as("rich_suppliers"),
        coalesce(col("rich_customers"), lit(0L)).as("rich_customers"))
      .orderBy("nationkey")
  }

  def joinSemi(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy("c_mktsegment").agg(count(lit(1)).as("n_with_urgent"))
      .orderBy("c_mktsegment")

  def joinAnti(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_mktsegment").agg(count(lit(1)).as("n_without_urgent"))
      .orderBy("c_mktsegment")

  def joinCross(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "region").crossJoin(t(s, dir, "nation"))
      .select(col("r_name"), col("n_name"))
      .orderBy("r_name", "n_name")

  /** Non-equi (range) join, planned as broadcast nested loop on the small
    * side: parts priced inside a bracket around each region multiplier. */
  def joinNonEqui(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part").filter(col("p_partkey") < 100)
      .crossJoin(broadcast(t(s, dir, "region")))
      .filter(col("p_retailprice") > col("r_regionkey") * 400 &&
              col("p_retailprice") <= (col("r_regionkey") + 1) * 400)
      .groupBy("r_name").agg(count(lit(1)).as("n_parts"))
      .orderBy("r_name")

  def distinctRows(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").select("c_mktsegment", "c_nationkey").distinct()
      .orderBy("c_mktsegment", "c_nationkey")

  /** DistinctLimit (reference DistinctLimitOperator.java:40) — made
    * deterministic with a full sort before the limit. */
  def distinctLimit(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").select("o_orderstatus", "o_orderpriority").distinct()
      .orderBy("o_orderstatus", "o_orderpriority").limit(5)

  def topN(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part").orderBy(desc("p_retailprice"), asc("p_partkey"))
      .select("p_partkey", "p_name", "p_retailprice").limit(15)

  def limitOffset(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "supplier").orderBy(asc("s_suppkey"))
      .select("s_suppkey", "s_name").offset(10).limit(5)

  def unionAll(s: SparkSession, dir: String): DataFrame = {
    val a = t(s, dir, "customer").filter(col("c_acctbal") > 9000)
      .select(col("c_name").as("name"), col("c_acctbal").as("bal"))
    val b = t(s, dir, "supplier").filter(col("s_acctbal") > 9000)
      .select(col("s_name").as("name"), col("s_acctbal").as("bal"))
    a.unionAll(b).orderBy("name", "bal")
  }

  def unionDistinct(s: SparkSession, dir: String): DataFrame = {
    val a = t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
    val b = t(s, dir, "supplier").select(col("s_nationkey").as("nationkey"))
    a.union(b).distinct().orderBy("nationkey")
  }

  def intersectDistinct(s: SparkSession, dir: String): DataFrame = {
    val a = t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey").as("custkey"))
    val b = t(s, dir, "orders").filter(col("o_orderpriority") === "5-LOW")
      .select(col("o_custkey").as("custkey"))
    a.intersect(b).orderBy("custkey")
  }

  def intersectAll(s: SparkSession, dir: String): DataFrame = {
    val a = t(s, dir, "orders").filter(col("o_totalprice") > 300000)
      .select(col("o_custkey").as("custkey"))
    val b = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
      .select(col("o_custkey").as("custkey"))
    a.intersectAll(b).groupBy("custkey").agg(count(lit(1)).as("multiplicity"))
      .orderBy("custkey")
  }

  def exceptDistinct(s: SparkSession, dir: String): DataFrame = {
    val a = t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
    val b = t(s, dir, "supplier").select(col("s_nationkey").as("nationkey"))
    a.except(b).orderBy("nationkey")
  }

  def exceptAll(s: SparkSession, dir: String): DataFrame = {
    val a = t(s, dir, "orders").select(col("o_custkey").as("custkey"))
    val b = t(s, dir, "orders").filter(col("o_orderstatus") === "O")
      .select(col("o_custkey").as("custkey"))
    a.exceptAll(b).groupBy("custkey").agg(count(lit(1)).as("multiplicity"))
      .orderBy("custkey").limit(50)
  }

  /** GROUPING SETS with grouping() marker (reference GroupIdNode.java:44 →
    * Catalyst Expand). */
  def groupingSets(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")), Seq(col("l_returnflag")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity"), "qty"),
        grouping(col("l_returnflag")).cast("bigint").as("g_rf"),
        grouping(col("l_linestatus")).cast("bigint").as("g_ls"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))

  def rollupAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice"), "total"))
      .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))

  def cubeAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .cube(col("c_mktsegment"), col("c_nationkey"))
      .agg(count(lit(1)).as("n"))
      .orderBy(asc_nulls_first("c_mktsegment"), asc_nulls_first("c_nationkey"))

  /** Inline VALUES (reference ValuesNode.java:34 → LocalRelation). */
  def valuesInline(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Seq((1L, "ASIA"), (2L, "EUROPE"), (3L, "AMERICA"))
      .toDF("rank_id", "r_name")
      .join(broadcast(t(s, dir, "region")), Seq("r_name"), "inner")
      .select("rank_id", "r_name", "r_regionkey")
      .orderBy("rank_id")
  }

  /** UNNEST WITH ORDINALITY (reference UnnestNode.java:37) via posexplode;
    * ordinality aligned to DuckDB's 1-based generate_subscripts. */
  def unnestOrdinality(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").filter(col("doc_id") < 5)
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .select(col("doc_id"), (col("pos") + 1).cast("bigint").as("ord"), col("col").as("word"))
      .orderBy("doc_id", "ord")

  /** WITH RECURSIVE (reference grammar SqlBase.g4:189,905): iterative
    * fixpoint over a UNION ALL step — here each nation walks its synthetic
    * binary ancestry chain k → k/2 → … → 0. Spark 4 executes this as a
    * loop of materialized steps (UnionLoop), each step a normal
    * distributed plan, so depth scales with the longest chain while every
    * iteration stays a full-cluster job. */
  def cteRecursive(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "nation").createOrReplaceTempView("nation_rec")
    s.sql(
      """WITH RECURSIVE anc(nk, a, d) AS (
        |  SELECT CAST(n_nationkey AS BIGINT), CAST(n_nationkey AS BIGINT),
        |         CAST(0 AS BIGINT) FROM nation_rec
        |  UNION ALL
        |  SELECT nk, a DIV 2, CAST(d + 1 AS BIGINT) FROM anc WHERE a > 0)
        |SELECT nk, count(*) AS n_anc, CAST(max(d) AS BIGINT) AS depth,
        |  CAST(sum(a) AS BIGINT) AS key_path_sum
        |FROM anc GROUP BY nk ORDER BY nk""".stripMargin)
  }

  /** Multi-array UNNEST (reference UnnestNode zips parallel arrays —
    * UNNEST(a, b) WITH ORDINALITY pads the shorter array with NULLs):
    * arrays_zip + posexplode reproduces the exact zip/padding contract. */
  def unnestMulti(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").filter(col("doc_id") < 5)
      .withColumn("words", slice(split(col("text"), " "), 1, 6))
      .withColumn("lens", transform(
        slice(split(col("text"), " "), 1, 4), w => length(w).cast("long")))
      .select(col("doc_id"),
        posexplode(arrays_zip(col("words"), col("lens"))).as(Seq("pos", "z")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("ord"),
        col("z.words").as("word"), col("z.lens").as("word_len"))
      .orderBy("doc_id", "ord")

  /** Bernoulli TABLESAMPLE (reference ImplementBernoulliSampleAsFilter.java)
    * — inherently seeded/engine-specific, so rows-only checked (no oracle). */
  def sampleBernoulli(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").sample(withReplacement = false, 0.1, seed = 42)
      .agg(count(lit(1)).as("n_sampled"))

  /** SYSTEM TABLESAMPLE (reference SqlBase.g4:355-361 SYSTEM variant):
    * whole splits are kept or dropped, never individual rows — the cheap
    * sampling mode because skipped splits are never read. The fixture is a
    * single row group, so splits are simulated by repartitioning to 16 and
    * keeping every 4th partition; the aggregate proves the all-or-nothing
    * property (kept partitions contribute complete contents). Rows-only
    * checked: partition assignment is engine-specific, like Bernoulli's
    * RNG. */
  def sampleSystem(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .repartition(16)
      .withColumn("pid", spark_partition_id())
      .filter(pmod(col("pid"), lit(4)) === 0)
      .agg(count(lit(1)).as("n_sampled"),
        countDistinct(col("pid")).as("n_splits_kept"))

  /** Deterministic hash sampling — the reproducible-subset pattern a
    * training-data pipeline uses for held-out splits, and the
    * oracle-verifiable complement to the RNG TABLESAMPLE modes above:
    * keep a row iff the first 4 hex chars of md5(key) sort below the
    * rate threshold (0x2000/0x10000 = 12.5 %). md5 is bit-identical
    * across engines, the sample is stable under re-runs/repartitioning,
    * and at 100 TB it costs one codegen'd hash per row, no shuffle. */
  def sampleHash(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(substring(md5(concat_ws(":",
        col("l_orderkey").cast("string"),
        col("l_linenumber").cast("string"))), 1, 4) < "2000")
      .agg(count(lit(1)).as("n_sampled"),
        Tables.dsum(col("l_quantity"), "qty_sum"))

  /** Materialized-CTE reuse (reference CteProducerNode/CteConsumerNode +
    * LogicalCteOptimizer): one aggregate subplan consumed twice — as the
    * per-customer rows and as the scalar threshold. The CacheBook-
    * registered persist marks the shared subplan the way
    * REMOTE_MATERIALIZED exchanges persist it (and the harness drains it
    * after consumption); AQE shuffle reuse would kick in even without
    * it. */
  def cteReuse(s: SparkSession, dir: String): DataFrame = {
    val spend = t(s, dir, "orders").groupBy("o_custkey")
      .agg(dsum(col("o_totalprice"), "spend")).transform(CacheBook.persisted)
    val top = spend.agg(max("spend").as("max_spend"))
    val out = spend.crossJoin(broadcast(top))
      .filter(col("spend") >= col("max_spend") * 0.5)
      .select("o_custkey", "spend")
      .orderBy("o_custkey")
    out
  }

  /** AssignUniqueIdOperator.java:29 → monotonically_increasing_id: the ids
    * are partition-local counters | partition id, so the check is global
    * uniqueness, not specific values. */
  def uniqueId(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .withColumn("uid", monotonically_increasing_id())
      .agg(count(lit(1)).as("n"), countDistinct(col("uid")).as("n_unique"))

  /** sequence()/range table function (reference SequenceFunction.java +
    * UNNEST): per-nation 1..k+1 sequence exploded with ordinality. */
  def tvfSequence(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "nation")
      .select(col("n_nationkey"),
        posexplode(sequence(lit(1L), col("n_nationkey").cast("long") + 1))
          .as(Seq("ord", "v")))
      .groupBy("n_nationkey")
      .agg(count(lit(1)).as("n"), sum("v").as("total"),
        max("ord").cast("long").as("max_ord"))
      .orderBy("n_nationkey")

  /** Reference-grammar `CROSS JOIN UNNEST(…) WITH ORDINALITY AS t(c…)`
    * accepted as SQL TEXT through the dialect layer (SqlBase.g4:355-361 —
    * the most common Presto idiom Spark spells differently); the dialect
    * rewrites it to a LATERAL posexplode subquery. */
  def sqlUnnestRel(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "part").createOrReplaceTempView("part_sqlu")
    graft.api.SqlSession.wrap(s).sql(
      """SELECT p_partkey AS k, t.word AS word, t.ord AS ord
        |FROM part_sqlu
        |CROSS JOIN UNNEST(split(p_type, ' ')) WITH ORDINALITY AS t(word, ord)
        |WHERE p_partkey <= 100
        |ORDER BY k, ord""".stripMargin)
  }

  /** split_to_table(str, delim) TVF as SQL text — a second polymorphic
    * table function through the TVF registration path next to sequence()
    * (reference table-function framework, TableFunctionOperator.java:44).
    * The generator runs inside the scan's whole-stage pipeline; the
    * FROM-position registration is covered in SqlSessionSpec. */
  def tvfSplit(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "part").createOrReplaceTempView("part_tvfs")
    graft.api.SqlSession.wrap(s).sql(
      """SELECT p_partkey AS k, t.ord AS ord, t.word AS word
        |FROM part_tvfs
        |LATERAL VIEW split_to_table(p_type, ' ') t AS ord, word
        |WHERE p_partkey <= 100
        |ORDER BY k, ord""".stripMargin)
  }

  /** The generic TVF registry seam (GraftFunctions.tableFunctions —
    * reference TableFunctionOperator.java:44): the reference's built-in
    * Sequence TVF (operator/table/Sequence.java:73, FROM position,
    * `sequential_number` output, inclusive bounds + step) crossed with
    * exclude_columns (operator/table/ExcludeColumns.java:66, table
    * argument + DESCRIPTOR → star-except projection). */
  def tvfRegistry(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "nation").createOrReplaceTempView("nation_tvfr")
    graft.api.SqlSession.wrap(s).sql(
      """SELECT x.sequential_number AS n, e.n_nationkey, e.n_regionkey
        |FROM sequence(1, 7, 3) x
        |CROSS JOIN exclude_columns(input => TABLE(nation_tvfr),
        |                           columns => DESCRIPTOR(n_name)) e
        |WHERE e.n_nationkey < 10
        |ORDER BY n, n_nationkey""".stripMargin)
  }

  /** Multi-array zip UNNEST as SQL text: parallel arrays pad with NULL to
    * the longest (UnnestNode zip contract), ordinality 1-based BIGINT. */
  def sqlUnnestZip(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "part").createOrReplaceTempView("part_sqlu")
    graft.api.SqlSession.wrap(s).sql(
      """SELECT p_partkey AS k, t.word AS word, t.tag AS tag, t.ord AS ord
        |FROM part_sqlu
        |CROSS JOIN UNNEST(split(p_type, ' '), sequence(1, 2))
        |  WITH ORDINALITY AS t(word, tag, ord)
        |WHERE p_partkey <= 100
        |ORDER BY k, ord""".stripMargin)
  }

  /** Sort-merge join distribution (reference MergeJoinNode +
    * SortMergeJoinOptimizer.java): the hint forces SMJ — the shape every
    * big×big join takes at 100 TB where neither side broadcasts. */
  def joinMergeSorted(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").hint("merge")
      .join(t(s, dir, "orders").hint("merge"), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"), dsum(col("l_extendedprice"), "total"))
      .orderBy("o_orderpriority")

  /** Salted equi-join for skewed keys (SURVEY §2.2 scale notes; the manual
    * counterpart of AQE's skew-join split): the big/skewed side gets a
    * deterministic salt in [0, buckets) from its row content, the smaller
    * side is replicated once per salt value, and the join key becomes
    * (key, salt) — a hot key spreads over `buckets` reducers instead of
    * one. Row-content hashing keeps it deterministic (no rand()), so
    * retried tasks salt identically. Result set is exactly the plain join's. */
  def saltedJoin(big: DataFrame, small: DataFrame, bigKey: String,
      smallKey: String, buckets: Int): DataFrame = {
    val salted = big.withColumn("__salt",
      pmod(xxhash64(struct(big.columns.map(col).toIndexedSeq: _*)), lit(buckets)))
    val replicated = small.withColumn("__salt",
      explode(sequence(lit(0L), lit(buckets.toLong - 1))))
    salted.join(replicated,
      salted(bigKey) === replicated(smallKey) &&
        salted("__salt") === replicated("__salt"))
      .drop("__salt")
  }

  /** Per-(key, salt) row counts under saltedJoin's exact bucketing — the
    * partition-size histogram a skew audit reads (SkewSpec):
    * a hot key is healthy when its rows spread over all `buckets` salts
    * with no bucket far above rows/buckets. */
  def saltedShuffleHistogram(big: DataFrame, bigKey: String,
      buckets: Int): DataFrame =
    big.withColumn("__salt",
        pmod(xxhash64(struct(big.columns.map(col).toIndexedSeq: _*)),
          lit(buckets)))
      .groupBy(col(bigKey), col("__salt"))
      .agg(count(lit(1)).as("rows"))

  /** Gate query: skew-salted join equals the plain join (aggregated). */
  def joinSalted(s: SparkSession, dir: String): DataFrame =
    saltedJoin(t(s, dir, "lineitem"), t(s, dir, "orders"),
      "l_orderkey", "o_orderkey", 8)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"), dsum(col("l_extendedprice"), "total"))
      .orderBy("o_orderpriority")

  /** Materialized-view rewrite end-to-end (reference SPI/plan/
    * MaterializedViewScanNode + MaterializedViewOptimizer): materialize a
    * (returnflag, linestatus) rollup of lineitem, register it, and answer
    * a coarser-grain aggregate through the rewrite rule. The gate output
    * carries `used_mv`, asserted from the optimized plan, so the oracle
    * verifies BOTH the values (against the base table) and that the MV
    * scan actually happened. Quantities are integral-valued doubles, so
    * the re-aggregated sums are exact — value-identical, not just close. */
  def mvRewrite(s: SparkSession, dir: String): DataFrame = {
    import graft.rules.MaterializedViewRewrite
    val base = t(s, dir, "lineitem")
    val mvPath = new java.io.File(sys.props("java.io.tmpdir"),
      "graft_mv_" + Integer.toHexString(dir.hashCode)).getPath
    base.groupBy("l_returnflag", "l_linestatus")
      .agg(sum("l_quantity").as("s_qty"), count(lit(1)).as("cnt"),
        min("l_quantity").as("mn_qty"), max("l_quantity").as("mx_qty"))
      .write.mode("overwrite").parquet(mvPath)
    MaterializedViewRewrite.register("gate_li_rollup",
      s.read.parquet(mvPath), base,
      Seq("l_returnflag", "l_linestatus"),
      Seq(("sum", "l_quantity", "s_qty"), ("count", "*", "cnt"),
        ("min", "l_quantity", "mn_qty"), ("max", "l_quantity", "mx_qty")))
    val prev = s.experimental.extraOptimizations
    if (!prev.contains(MaterializedViewRewrite))
      s.experimental.extraOptimizations = prev :+ MaterializedViewRewrite
    val q = t(s, dir, "lineitem")
      .filter(col("l_returnflag") =!= "N")
      .groupBy("l_returnflag")
      .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("cnt"),
        min("l_quantity").as("min_qty"), max("l_quantity").as("max_qty"),
        (sum("l_quantity") / count(lit(1))).as("avg_qty"))
    val usedMv = q.queryExecution.optimizedPlan.toString.contains("s_qty")
    q.withColumn("used_mv", lit(usedMv)).orderBy("l_returnflag")
  }

  /** contains(arr, key) cross-join predicate rewritten to an equi-join
    * (rules/ArrayContainsJoin.scala — reference
    * CrossJoinWithArrayContainsToInnerJoin.java): without the rule Spark
    * can only nested-loop this join. The gate output carries
    * `equi_planned`, asserted from the executed plan (no nested-loop, no
    * cartesian), so the oracle verifies both the values and that the
    * rewrite removed the O(|L|·|R|) join. */
  def joinArrayContains(s: SparkSession, dir: String): DataFrame = {
    import graft.rules.ArrayContainsJoin
    val prev = s.experimental.extraOptimizations
    if (!prev.contains(ArrayContainsJoin))
      s.experimental.extraOptimizations = prev :+ ArrayContainsJoin
    val custs = t(s, dir, "customer").filter(col("c_custkey") <= 500)
      .select(col("c_custkey"),
        array(col("c_nationkey"), col("c_nationkey") + lit(1)).as("nats"))
    val nat = t(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
    val q = custs.crossJoin(nat)
      .filter(array_contains(col("nats"), col("n_nationkey")))
      .select(col("c_custkey"), col("n_nationkey"), col("n_name"))
    val plan = q.queryExecution.executedPlan.toString
    val equi = !plan.contains("NestedLoop") && !plan.contains("Cartesian")
    q.withColumn("equi_planned", lit(equi)).orderBy("c_custkey", "n_nationkey")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mv_rewrite" -> mvRewrite,
    "join_array_contains" -> joinArrayContains,
    "join_salted" -> joinSalted,
    "cte_reuse" -> cteReuse,
    "assign_unique_id" -> uniqueId,
    "tvf_sequence" -> tvfSequence,
    "join_merge_sorted" -> joinMergeSorted,
    "scan_project" -> scanProject,
    "join_inner" -> joinInner, "join_left" -> joinLeft, "join_right" -> joinRight,
    "join_full" -> joinFull, "join_semi" -> joinSemi, "join_anti" -> joinAnti,
    "join_cross" -> joinCross, "join_non_equi" -> joinNonEqui,
    "distinct" -> distinctRows, "distinct_limit" -> distinctLimit,
    "topn" -> topN, "limit_offset" -> limitOffset,
    "union_all" -> unionAll, "union_distinct" -> unionDistinct,
    "intersect" -> intersectDistinct, "intersect_all" -> intersectAll,
    "except" -> exceptDistinct, "except_all" -> exceptAll,
    "grouping_sets" -> groupingSets, "rollup" -> rollupAgg, "cube" -> cubeAgg,
    "values_inline" -> valuesInline, "unnest_ordinality" -> unnestOrdinality,
    "unnest_multi" -> unnestMulti, "cte_recursive" -> cteRecursive,
    "sample_bernoulli" -> sampleBernoulli, "sample_system" -> sampleSystem,
    "sample_hash" -> sampleHash,
    "sql_unnest_rel" -> sqlUnnestRel, "sql_unnest_zip" -> sqlUnnestZip,
    "tvf_split" -> tvfSplit, "tvf_registry" -> tvfRegistry,
    "sql_prepared" -> sqlPrepared, "sql_geo" -> sqlGeo,
    "sql_create_function" -> sqlCreateFunction,
    "sql_enum_types" -> sqlEnumTypes)

  /** Enum types end-to-end through SQL text (reference CreateTypeTask +
    * EnumCasts + LongEnumOperators/VarcharEnumOperators enum_key; dialect
    * module api/EnumTypes.scala): CREATE TYPE registers a varchar AND a
    * bigint enum, casts validate every scanned value, enum_key reverse-maps
    * to the symbolic key, and an inline BigintEnum(sig{...}) cast rides
    * along — all DuckDB-replayable because the enum maps are small
    * deterministic CASE tables. */
  def sqlEnumTypes(s: SparkSession, dir: String): DataFrame = {
    val ses = graft.api.SqlSession.wrap(s)
    t(s, dir, "orders").createOrReplaceTempView("orders_enum")
    ses.sql("""CREATE TYPE order_status AS VarcharEnum(order_status{"OPEN":"O", "FULL":"F", "PART":"P"})""")
    ses.sql("""CREATE TYPE prio_code AS BigintEnum(prio_code{"URGENT":1, "HIGH":2, "NORMAL":3, "LOW":4, "NONE":5})""")
    ses.sql(
      """SELECT enum_key('order_status', CAST(o_orderstatus AS order_status)) AS status_key,
        |  enum_key('prio_code', CAST(CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS prio_code)) AS prio_key,
        |  CAST(CAST(substr(o_orderpriority, 1, 1) AS BIGINT)
        |    AS BigintEnum(inline_prio{"P1":1, "P2":2, "P3":3, "P4":4, "P5":5})) AS prio_value,
        |  count(*) AS n
        |FROM orders_enum
        |GROUP BY 1, 2, 3
        |ORDER BY 1, 2, 3""".stripMargin)
  }

  /** PREPARE / EXECUTE USING through the session-statement layer
    * (reference PrepareTask.java + the ? parameter rewrite,
    * ParameterRewriter.java): the prepared text carries two positional
    * parameters bound at EXECUTE time; DESCRIBE INPUT/OUTPUT and
    * SET/SHOW SESSION on the same surface are pinned in SqlSessionSpec. */
  /** The geometry surface through SQL TEXT (GeoSqlNames.scala): WKT
    * construction, holed-polygon area/contains, line×polygon intersects,
    * point distance, centroid WKT rendering, line referencing, bing
    * quadkeys — all composed in one reference-dialect query through
    * SqlSession.sql(), the way the reference's users call them
    * (geospatial/GeoFunctions.java:144 registers each as a SQL function).
    * Every value is arithmetic the DuckDB oracle replays exactly: integer
    * side lengths, dyadic hole coordinates, correctly-rounded divisions. */
  def sqlGeo(s: SparkSession, dir: String): DataFrame = {
    val ses = graft.api.SqlSession.wrap(s)
    t(s, dir, "supplier").createOrReplaceTempView("supplier")
    def poly = "ST_GeometryFromText('POLYGON ((0 0, ' || CAST(side AS VARCHAR) ||" +
      " ' 0, ' || CAST(side AS VARCHAR) || ' ' || CAST(side AS VARCHAR) ||" +
      " ', 0 ' || CAST(side AS VARCHAR) ||" +
      " ', 0 0), (0.25 0.25, 0.75 0.25, 0.75 0.75, 0.25 0.75, 0.25 0.25))')"
    ses.sql(s"""WITH g AS (SELECT s_suppkey AS k, s_suppkey % 7 + 1 AS side,
      |    s_suppkey % 11 AS frac10, s_suppkey % 8 AS m
      |  FROM supplier)
      |SELECT k,
      |  ST_Area($poly) AS area,
      |  ST_Contains($poly, ST_Point(2.5, 2.5)) AS inside,
      |  ST_Intersects($poly, ST_GeometryFromText(
      |    'LINESTRING (-1 2.5, ' || CAST(side + 1 AS VARCHAR) || ' 2.5)')) AS crossed,
      |  round(ST_Distance(ST_Point(0, 0), ST_Point(side, side)), 6) AS dist,
      |  round(ST_X(ST_Centroid($poly)), 6) AS cx,
      |  round(ST_Y(ST_Centroid($poly)), 6) AS cy,
      |  round(line_locate_point(ST_GeometryFromText('LINESTRING (0 0, 10 0)'),
      |    ST_Point(frac10, 5)), 6) AS locate,
      |  bing_tile_quadkey(bing_tile(CAST(m AS INT), CAST(m AS INT), 3)) AS quad
      |FROM g ORDER BY k""".stripMargin)
  }

  /** CREATE FUNCTION / SQL-invoked function DDL through the session
    * (api/SqlFunctions.scala — the reference's SQL-language routines,
    * InlineSqlFunctions.java): defines one scalar function, a second that
    * calls the first (nested inlining), uses both in a query, and proves
    * DROP by recreating under OR REPLACE. Decimal-cast sums keep the
    * aggregation order-independent (round-7 determinism convention). */
  def sqlCreateFunction(s: SparkSession, dir: String): DataFrame = {
    val ses = graft.api.SqlSession.wrap(s)
    t(s, dir, "lineitem").createOrReplaceTempView("lineitem")
    ses.sql("DROP FUNCTION IF EXISTS disc_price")
    ses.sql("DROP FUNCTION IF EXISTS charge")
    ses.sql("""CREATE FUNCTION disc_price(p DOUBLE, d DOUBLE)
      |RETURNS DOUBLE
      |LANGUAGE SQL DETERMINISTIC RETURNS NULL ON NULL INPUT
      |RETURN p * (1 - d)""".stripMargin)
    ses.sql("""CREATE OR REPLACE FUNCTION charge(p DOUBLE, d DOUBLE, t DOUBLE)
      |RETURNS DOUBLE
      |RETURN disc_price(p, d) * (1 + t)""".stripMargin)
    ses.sql("""SELECT l_returnflag AS flag, count(*) AS n,
      |  CAST(SUM(CAST(disc_price(l_extendedprice, l_discount)
      |    AS DECIMAL(18,6))) AS DOUBLE) AS disc_sum,
      |  CAST(SUM(CAST(charge(l_extendedprice, l_discount, l_tax)
      |    AS DECIMAL(18,6))) AS DOUBLE) AS charge_sum
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
  }

  def sqlPrepared(s: SparkSession, dir: String): DataFrame = {
    val ses = graft.api.SqlSession.wrap(s)
    t(s, dir, "lineitem").createOrReplaceTempView("lineitem")
    ses.sql("""PREPARE ps_gate FROM
      |SELECT l_returnflag AS flag, count(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS qty
      |FROM lineitem WHERE l_quantity < ? AND l_shipdate <= ?
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    ses.sql("EXECUTE ps_gate USING 25, DATE '1997-01-01'")
  }

  val oracle: Map[String, String] = Map(
    "sql_geo" ->
      """WITH g AS (SELECT s_suppkey AS k, s_suppkey % 7 + 1 AS side,
        |    s_suppkey % 11 AS frac10, s_suppkey % 8 AS m
        |  FROM supplier)
        |SELECT k,
        |  CAST(side * side AS DOUBLE) - 0.25 AS area,
        |  side > 2.5 AS inside,
        |  side > 2.5 AS crossed,
        |  round(sqrt(CAST(side * side + side * side AS DOUBLE)), 6) AS dist,
        |  round((CAST(side AS DOUBLE) * side * side / 2 - 0.125)
        |    / (CAST(side AS DOUBLE) * side - 0.25), 6) AS cx,
        |  round((CAST(side AS DOUBLE) * side * side / 2 - 0.125)
        |    / (CAST(side AS DOUBLE) * side - 0.25), 6) AS cy,
        |  round(CAST(frac10 AS DOUBLE) / 10, 6) AS locate,
        |  (CASE WHEN m >= 4 THEN '3' ELSE '0' END)
        |    || (CASE WHEN m % 4 >= 2 THEN '3' ELSE '0' END)
        |    || (CASE WHEN m % 2 = 1 THEN '3' ELSE '0' END) AS quad
        |FROM g ORDER BY k""".stripMargin,
    "sql_create_function" ->
      """SELECT l_returnflag AS flag, count(*) AS n,
        | CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
        |   AS DECIMAL(18,6))) AS DOUBLE) AS disc_sum,
        | CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
        |   AS DECIMAL(18,6))) AS DOUBLE) AS charge_sum
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "sql_prepared" ->
      """SELECT l_returnflag AS flag, count(*) AS n,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS qty
        |FROM lineitem WHERE l_quantity < 25 AND l_shipdate <= DATE '1997-01-01'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "sql_enum_types" ->
      """SELECT CASE o_orderstatus WHEN 'O' THEN 'OPEN' WHEN 'F' THEN 'FULL'
        |    WHEN 'P' THEN 'PART' END AS status_key,
        |  CASE CAST(substr(o_orderpriority, 1, 1) AS BIGINT)
        |    WHEN 1 THEN 'URGENT' WHEN 2 THEN 'HIGH' WHEN 3 THEN 'NORMAL'
        |    WHEN 4 THEN 'LOW' WHEN 5 THEN 'NONE' END AS prio_key,
        |  CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS prio_value,
        |  count(*) AS n
        |FROM orders GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "mv_rewrite" ->
      """SELECT l_returnflag,
        | CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty,
        | count(*) AS cnt,
        | CAST(MIN(l_quantity) AS DOUBLE) AS min_qty,
        | CAST(MAX(l_quantity) AS DOUBLE) AS max_qty,
        | CAST(SUM(l_quantity) AS DOUBLE) / count(*) AS avg_qty,
        | TRUE AS used_mv
        |FROM lineitem WHERE l_returnflag <> 'N'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "join_array_contains" ->
      """SELECT c_custkey, n_nationkey, n_name, TRUE AS equi_planned
        |FROM customer, nation
        |WHERE c_custkey <= 500 AND n_nationkey IN (c_nationkey, c_nationkey + 1)
        |ORDER BY c_custkey, n_nationkey""".stripMargin,
    "join_salted" ->
      """SELECT o_orderpriority, count(*) AS n_items,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "cte_reuse" ->
      """WITH spend AS (
        | SELECT o_custkey, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
        |   AS spend
        | FROM orders GROUP BY o_custkey)
        |SELECT o_custkey, spend FROM spend
        |WHERE spend >= (SELECT max(spend) FROM spend) * 0.5
        |ORDER BY o_custkey""".stripMargin,
    "assign_unique_id" ->
      "SELECT count(*) AS n, count(*) AS n_unique FROM lineitem",
    "tvf_sequence" ->
      """SELECT n_nationkey, count(*) AS n, CAST(SUM(v) AS BIGINT) AS total,
        | CAST(count(*) - 1 AS BIGINT) AS max_ord
        |FROM nation, unnest(range(1, CAST(n_nationkey AS BIGINT) + 2)) AS u(v)
        |GROUP BY n_nationkey ORDER BY n_nationkey""".stripMargin,
    "join_merge_sorted" ->
      """SELECT o_orderpriority, count(*) AS n_items,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "scan_project" ->
      """SELECT p_partkey, p_name, p_size FROM part
        |WHERE p_size >= 40 AND p_type = 'STANDARD' ORDER BY p_partkey""".stripMargin,
    "join_inner" ->
      """SELECT r_name, count(*) AS n_suppliers
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        | JOIN supplier ON s_nationkey = n_nationkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,
    "join_left" ->
      """SELECT c_mktsegment, count(o_orderkey) AS big_orders, count(*) AS n_rows
        |FROM customer LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 400000) o
        | ON c_custkey = o_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "join_right" ->
      """SELECT c_mktsegment, count(o_orderkey) AS big_orders, count(*) AS n_rows
        |FROM (SELECT * FROM orders WHERE o_totalprice > 400000) o
        | RIGHT JOIN customer ON c_custkey = o_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "join_full" ->
      """SELECT coalesce(sk, ck) AS nationkey,
        | coalesce(rich_suppliers, 0) AS rich_suppliers,
        | coalesce(rich_customers, 0) AS rich_customers
        |FROM (SELECT s_nationkey AS sk, count(*) AS rich_suppliers FROM supplier
        |      WHERE s_acctbal > 3000 GROUP BY 1) s
        |FULL JOIN (SELECT c_nationkey AS ck, count(*) AS rich_customers FROM customer
        |           WHERE c_acctbal > 3000 GROUP BY 1) c
        | ON sk = ck
        |ORDER BY nationkey""".stripMargin,
    "join_semi" ->
      """SELECT c_mktsegment, count(*) AS n_with_urgent FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |              AND o_orderpriority = '1-URGENT')
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "join_anti" ->
      """SELECT c_mktsegment, count(*) AS n_without_urgent FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_orderpriority = '1-URGENT')
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "join_cross" ->
      """SELECT r_name, n_name FROM region CROSS JOIN nation
        |ORDER BY r_name, n_name""".stripMargin,
    "join_non_equi" ->
      """SELECT r_name, count(*) AS n_parts
        |FROM part CROSS JOIN region
        |WHERE p_partkey < 100
        | AND p_retailprice > r_regionkey * 400
        | AND p_retailprice <= (r_regionkey + 1) * 400
        |GROUP BY r_name ORDER BY r_name""".stripMargin,
    "distinct" ->
      """SELECT DISTINCT c_mktsegment, c_nationkey FROM customer
        |ORDER BY c_mktsegment, c_nationkey""".stripMargin,
    "distinct_limit" ->
      """SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
        |ORDER BY o_orderstatus, o_orderpriority LIMIT 5""".stripMargin,
    "topn" ->
      """SELECT p_partkey, p_name, p_retailprice FROM part
        |ORDER BY p_retailprice DESC, p_partkey LIMIT 15""".stripMargin,
    "limit_offset" ->
      """SELECT s_suppkey, s_name FROM supplier
        |ORDER BY s_suppkey LIMIT 5 OFFSET 10""".stripMargin,
    "union_all" ->
      """SELECT c_name AS name, c_acctbal AS bal FROM customer WHERE c_acctbal > 9000
        |UNION ALL
        |SELECT s_name AS name, s_acctbal AS bal FROM supplier WHERE s_acctbal > 9000
        |ORDER BY name, bal""".stripMargin,
    "union_distinct" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |UNION
        |SELECT s_nationkey AS nationkey FROM supplier
        |ORDER BY nationkey""".stripMargin,
    "intersect" ->
      """SELECT custkey FROM (
        | SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        | INTERSECT
        | SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '5-LOW')
        |ORDER BY custkey""".stripMargin,
    "intersect_all" ->
      """SELECT custkey, count(*) AS multiplicity FROM (
        | SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 300000
        | INTERSECT ALL
        | SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F')
        |GROUP BY custkey ORDER BY custkey""".stripMargin,
    "except" ->
      """SELECT nationkey FROM (
        | SELECT c_nationkey AS nationkey FROM customer
        | EXCEPT
        | SELECT s_nationkey AS nationkey FROM supplier)
        |ORDER BY nationkey""".stripMargin,
    "except_all" ->
      """SELECT custkey, count(*) AS multiplicity FROM (
        | SELECT o_custkey AS custkey FROM orders
        | EXCEPT ALL
        | SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O')
        |GROUP BY custkey ORDER BY custkey LIMIT 50""".stripMargin,
    "grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS qty,
        | CAST(GROUPING(l_returnflag) AS BIGINT) AS g_rf,
        | CAST(GROUPING(l_linestatus) AS BIGINT) AS g_ls
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,
    "rollup" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,
    "cube" ->
      """SELECT c_mktsegment, c_nationkey, count(*) AS n
        |FROM customer GROUP BY CUBE (c_mktsegment, c_nationkey)
        |ORDER BY c_mktsegment ASC NULLS FIRST, c_nationkey ASC NULLS FIRST""".stripMargin,
    "values_inline" ->
      """SELECT CAST(rank_id AS BIGINT) AS rank_id, v.r_name, r_regionkey
        |FROM (VALUES (1, 'ASIA'), (2, 'EUROPE'), (3, 'AMERICA')) AS v(rank_id, r_name)
        |JOIN region ON region.r_name = v.r_name
        |ORDER BY rank_id""".stripMargin,
    "unnest_ordinality" ->
      """SELECT doc_id, generate_subscripts(ws, 1) AS ord, unnest(ws) AS word
        |FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |      WHERE doc_id < 5)
        |ORDER BY doc_id, ord""".stripMargin,
    // sample_bernoulli / sample_system: engine-specific RNG / split
    // assignment → rows-only checks; sample_hash is their deterministic,
    // fully oracle-verified complement
    "sample_hash" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_sampled,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS qty_sum
        |FROM lineitem
        |WHERE substr(md5(l_orderkey::VARCHAR || ':' || l_linenumber::VARCHAR),
        |  1, 4) < '2000'""".stripMargin,
    "cte_recursive" ->
      """WITH RECURSIVE anc(nk, a, d) AS (
        |  SELECT CAST(n_nationkey AS BIGINT), CAST(n_nationkey AS BIGINT),
        |         CAST(0 AS BIGINT) FROM nation
        |  UNION ALL
        |  SELECT nk, a // 2, d + 1 FROM anc WHERE a > 0)
        |SELECT nk, count(*) AS n_anc, CAST(max(d) AS BIGINT) AS depth,
        |  CAST(sum(a) AS BIGINT) AS key_path_sum
        |FROM anc GROUP BY nk ORDER BY nk""".stripMargin,
    "unnest_multi" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') ws
        |           FROM documents WHERE doc_id < 5),
        |a AS (SELECT doc_id, ws[1:6] words,
        |       list_transform(ws[1:4], w -> CAST(len(w) AS BIGINT)) lens
        |      FROM d),
        |u AS (SELECT doc_id, words, lens,
        |       unnest(range(greatest(len(words), len(lens)))) i
        |      FROM a)
        |SELECT doc_id, CAST(i + 1 AS BIGINT) AS ord,
        | words[CAST(i AS INT) + 1] AS word,
        | lens[CAST(i AS INT) + 1] AS word_len
        |FROM u ORDER BY doc_id, ord""".stripMargin,
    "sql_unnest_rel" ->
      """SELECT p_partkey AS k, unnest(ws) AS word,
        | generate_subscripts(ws, 1) AS ord
        |FROM (SELECT p_partkey, string_split(p_type, ' ') ws FROM part
        |      WHERE p_partkey <= 100)
        |ORDER BY k, ord""".stripMargin,
    "tvf_registry" ->
      """SELECT x.n, e.n_nationkey, e.n_regionkey
        |FROM (SELECT generate_series AS n FROM generate_series(1, 7, 3)) x
        |CROSS JOIN (SELECT n_nationkey, n_regionkey FROM nation) e
        |WHERE e.n_nationkey < 10
        |ORDER BY n, n_nationkey""".stripMargin,
    "tvf_split" ->
      """SELECT p_partkey AS k, generate_subscripts(ws, 1) AS ord,
        | unnest(ws) AS word
        |FROM (SELECT p_partkey, string_split(p_type, ' ') ws FROM part
        |      WHERE p_partkey <= 100)
        |ORDER BY k, ord""".stripMargin,
    "sql_unnest_zip" ->
      """WITH b AS (SELECT p_partkey k, string_split(p_type, ' ') ws
        |           FROM part WHERE p_partkey <= 100),
        |u AS (SELECT k, ws, unnest(range(greatest(len(ws), 2))) i FROM b)
        |SELECT k, ws[CAST(i AS INT) + 1] AS word,
        | CASE WHEN i < 2 THEN CAST(i + 1 AS INT) END AS tag,
        | CAST(i + 1 AS BIGINT) AS ord
        |FROM u ORDER BY k, ord""".stripMargin
  )
}
