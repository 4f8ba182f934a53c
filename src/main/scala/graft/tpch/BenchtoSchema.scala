package graft.tpch

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The benchto TPC-H schema adapter: temp views `tpch_<table>` with the
  * tpch connector's UNPREFIXED column names, so the 22 reference texts
  * (the resources `benchto/tpch/qNN.sql`, read by BenchtoTexts) run after
  * nothing but benchto's own `${database}.${schema}.${prefix}` template
  * substitution.
  *
  * The fixture star schema carries the value-bearing columns; the
  * remaining TPC-H columns (commit/receipt dates, ship modes, phones,
  * containers, comments, and the whole `partsupp` table) are derived
  * DETERMINISTICALLY from the keys — same convention as the TPC-DS
  * derivation layer (tpcds/Tpcds.scala), so every text parses, plans and
  * returns stable rows. Value-level correctness of each query SHAPE is
  * oracle-gated by the adapted q01–q22 (tpch/Tpch.scala); this layer's
  * job is the reference-dialect TEXT surface.
  */
object BenchtoSchema {

  /** Register all eight views (idempotent). */
  def register(s: SparkSession, dir: String): Unit = {
    def t(n: String) = graft.Tables(s, dir, n)

    t("region").select(
      col("r_regionkey").as("regionkey"), col("r_name").as("name"),
      concat(lit("region comment "), col("r_regionkey")).as("comment"))
      .createOrReplaceTempView("tpch_region")

    t("nation").select(
      col("n_nationkey").as("nationkey"), col("n_name").as("name"),
      col("n_regionkey").as("regionkey"),
      concat(lit("nation comment "), col("n_nationkey")).as("comment"))
      .createOrReplaceTempView("tpch_nation")

    t("part").select(
      col("p_partkey").as("partkey"), col("p_name").as("name"),
      concat(lit("Manufacturer#"), col("p_partkey") % 5 + 1).as("mfgr"),
      col("p_brand").as("brand"), col("p_type").as("type"),
      col("p_size").as("size"),
      element_at(lit(Array("SM CASE", "MED BOX", "JUMBO PKG", "LG BAG",
        "WRAP CASE", "SM PACK", "MED BAG", "LG BOX")),
        (col("p_partkey") % 8 + 1).cast("int")).as("container"),
      col("p_retailprice").as("retailprice"),
      concat(lit("part comment "), col("p_partkey") % 97).as("comment"))
      .createOrReplaceTempView("tpch_part")

    t("supplier").select(
      col("s_suppkey").as("suppkey"), col("s_name").as("name"),
      concat(lit("addr_"), col("s_suppkey")).as("address"),
      col("s_nationkey").as("nationkey"),
      // phone country code = nationkey + 10, the TPC-H convention q22 keys on
      concat((col("s_nationkey") + 10).cast("string"), lit("-"),
        lpad((col("s_suppkey") * 31 % 10000).cast("string"), 4, "0")).as("phone"),
      col("s_acctbal").as("acctbal"),
      // q16 excludes suppliers with '%Customer%Complaints%'
      when(col("s_suppkey") % 20 === 0, "sluggish Customer service Complaints filed")
        .otherwise(concat(lit("supplier comment "), col("s_suppkey"))).as("comment"))
      .createOrReplaceTempView("tpch_supplier")

    // partsupp: 2 deterministic suppliers per part (key-modulo spread, no
    // shuffle — a generate over the part scan)
    val supCount = t("supplier").count()
    t("part").select(col("p_partkey"), explode(array(lit(0), lit(1))).as("i"))
      .select(
        col("p_partkey").as("partkey"),
        ((col("p_partkey") + col("i") * 7919) % supCount).as("suppkey"), // s_suppkey is 0-based
        ((col("p_partkey") * 37 + col("i") * 13) % 9999 + 1).as("availqty"),
        (((col("p_partkey") * 31 + col("i") * 17) % 10000) / 100.0 + 1.0)
          .as("supplycost"),
        concat(lit("partsupp comment "), col("p_partkey") % 89).as("comment"))
      .createOrReplaceTempView("tpch_partsupp")

    t("customer").select(
      col("c_custkey").as("custkey"), col("c_name").as("name"),
      concat(lit("addr_"), col("c_custkey")).as("address"),
      col("c_nationkey").as("nationkey"),
      concat((col("c_nationkey") + 10).cast("string"), lit("-"),
        lpad((col("c_custkey") * 17 % 10000).cast("string"), 4, "0")).as("phone"),
      col("c_acctbal").as("acctbal"),
      col("c_mktsegment").as("mktsegment"),
      concat(lit("customer comment "), col("c_custkey") % 83).as("comment"))
      .createOrReplaceTempView("tpch_customer")

    t("orders").select(
      col("o_orderkey").as("orderkey"), col("o_custkey").as("custkey"),
      col("o_orderstatus").as("orderstatus"),
      col("o_totalprice").as("totalprice"),
      col("o_orderdate").as("orderdate"),
      col("o_orderpriority").as("orderpriority"),
      concat(lit("Clerk#"),
        lpad((col("o_orderkey") % 1000).cast("string"), 9, "0")).as("clerk"),
      lit(0).as("shippriority"),
      // q13 excludes '%special%requests%'
      when(col("o_orderkey") % 23 === 0, "special requests pending")
        .otherwise(concat(lit("order comment "), col("o_orderkey") % 79))
        .as("comment"))
      .createOrReplaceTempView("tpch_orders")

    t("lineitem").select(
      col("l_orderkey").as("orderkey"), col("l_partkey").as("partkey"),
      col("l_suppkey").as("suppkey"), col("l_linenumber").as("linenumber"),
      col("l_quantity").as("quantity"),
      col("l_extendedprice").as("extendedprice"),
      col("l_discount").as("discount"), col("l_tax").as("tax"),
      col("l_returnflag").as("returnflag"),
      col("l_linestatus").as("linestatus"),
      col("l_shipdate").cast("date").as("shipdate"),
      // commit around ship (±15d), receipt 1-7d after ship — preserves the
      // q04/q12 "receipt late vs commit" selectivity
      date_add(col("l_shipdate").cast("date"),
        (col("l_orderkey") % 31 - 15).cast("int")).as("commitdate"),
      date_add(col("l_shipdate").cast("date"),
        (col("l_linenumber") % 7 + 1).cast("int")).as("receiptdate"),
      element_at(lit(Array("MAIL", "SHIP", "AIR", "TRUCK", "RAIL", "REG AIR",
        "FOB")), ((col("l_orderkey") + col("l_linenumber")) % 7 + 1).cast("int"))
        .as("shipmode"),
      element_at(lit(Array("DELIVER IN PERSON", "COLLECT COD", "NONE",
        "TAKE BACK RETURN")),
        ((col("l_orderkey") * 3 + col("l_linenumber")) % 4 + 1).cast("int"))
        .as("shipinstruct"),
      concat(lit("line comment "), col("l_orderkey") % 71).as("comment"))
      .createOrReplaceTempView("tpch_lineitem")
  }
}
