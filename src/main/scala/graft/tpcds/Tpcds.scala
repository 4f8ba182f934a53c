package graft.tpcds

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.Tables.{dsum, davg}

/** TPC-DS first slice — the reference treats TPC-DS as a first-class macro
  * benchmark (presto-benchto-benchmarks/src/main/resources/benchmarks/presto/
  * tpcds.yaml:1-20, query texts at …/sql/presto/tpcds/q0*.sql). The driver
  * fixtures only carry the TPC-H-ish star schema, so the TPC-DS tables are
  * DERIVED deterministically from them — identically on the Spark side (the
  * DataFrames below) and the DuckDB-oracle side (the WITH-prelude in
  * `prelude`) — and each query keeps its canonical TPC-DS operator shape:
  * star joins through date_dim/item/store/demographics, ROLLUP (q27),
  * per-ticket HAVING counts (q34/q73), multi-channel UNION re-aggregation
  * (q60), city-mismatch self-star (q68), windowed revenue ratio (q98).
  *
  * Scale notes (100 TB discipline): every dimension here is O(1)–O(|part|)
  * and broadcast; store_sales is the single fact and each query shuffles it
  * at most once (for its final aggregation). The lineitem⋈orders derivation
  * join is on l_orderkey — the natural co-partition key at scale.
  *
  * Determinism: all double aggregates go through Tables.dsum/davg (exact
  * decimal accumulation), every ORDER BY carries a unique tie-break, all
  * integer outputs are BIGINT on both engines.
  */
object Tpcds {

  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables(s, dir, n)

  /** ROLLUP/CUBE subtotal label: 'ALL' only where the grouping flag says
    * the column is rolled up, so a genuine NULL dimension value stays
    * NULL instead of silently merging with the subtotal row (the
    * fixtures carry no NULL dims, but real data would — r12 verdict).
    * `flag` is the matching grouping(col) emitted by the final agg. */
  private def allLabel(src: Column, flag: Column): Column =
    when(flag === 1, lit("ALL")).otherwise(src)

  private val Base = "1995-01-01" // fixture shipdates span 1995-01-02..2001-11-04

  /** Derived-fact access with an optional materialized layout: when the
    * bench has written the derived TPC-DS facts under `dir/_tpcds/<name>`
    * ([[materializeFacts]], once, outside the timed region — the role of the
    * reference's tpcds connector generating tables before benchto runs,
    * presto-tpcds/.../TpcdsConnectorFactory.java), read the parquet;
    * otherwise derive from the TPC-H fixtures. Correctness runs never
    * materialize, so the oracle prelude and the Spark derivation stay the
    * compared pair. Only a complete write (Hadoop's `_SUCCESS` marker) is
    * read; [[materializeFacts]] never rewrites one, so a scan can't be
    * stale. Tables.scan memoizes the DataFrame per (session, path): each
    * spark.read.parquet costs a file listing, a footer read and an
    * analysis pass, measured at 0.1-0.3 s per query call across the
    * 99-query bench. */
  private def mat(s: SparkSession, dir: String, name: String)
      (derive: => DataFrame): DataFrame = {
    val p = new java.io.File(dir, s"_tpcds/$name")
    if (new java.io.File(p, "_SUCCESS").isFile) graft.Tables.scan(s, p.getAbsolutePath)
    else derive
  }

  /** The derived facts a bench run materializes (big enough to matter —
    * dimensions stay cheap in-memory builders). */
  val materializableFacts: Seq[String] = Seq(
    "store_sales", "store_returns", "catalog_sales", "catalog_returns",
    "web_sales", "web_returns", "inventory")

  /** Write the derived facts under `dir/_tpcds`, once: raises if
    * `dir/_tpcds` already exists, so facts written by an older derivation
    * can never be served. Order matters: the channel splits derive from
    * store_sales/store_returns, so those materialize first and the splits
    * then scan the written parquet instead of re-joining lineitem⋈orders. */
  def materializeFacts(s: SparkSession, dir: String): Unit = {
    val root = new java.io.File(dir, "_tpcds")
    if (root.exists) throw new IllegalStateException(
      s"$root already exists: materialize the TPC-DS facts into a fresh directory")
    materializableFacts.foreach { n =>
      val derived = n match {
        case "store_sales" => deriveStoreSales(s, dir)
        case "store_returns" => deriveStoreReturns(s, dir)
        case "inventory" => deriveInventory(s, dir)
        case "catalog_sales" => catalogSales(s, dir)
        case "catalog_returns" => catalogReturns(s, dir)
        case "web_sales" => webSales(s, dir)
        case "web_returns" => webReturns(s, dir)
      }
      derived.write.parquet(new java.io.File(root, n).getAbsolutePath)
    }
  }

  // ---- derived dimensions -------------------------------------------------
  // Dimensions stay IN-MEMORY derivations on purpose (facts materialize,
  // dims don't): materializing them to parquet was tried in r9 and MEASURED
  // as a net loss — per-query plan-build time goes UP (q96 0.38s vs 0.14s:
  // per-call spark.read.parquet footer/schema work beats re-analyzing the
  // range-based Projects) and exec gains nothing (tiny scans add task
  // scheduling). A/B over {q03 q42 q96 q14 q64 q72 q23}:
  // in-memory 8.35s total vs materialized 9.65s.

  /** Per-(session, dir) memo of dimension DataFrames: Spark's analyzer
    * skips already-analyzed subtrees (AnalysisHelper's analyzed flag), so
    * reusing the SAME DataFrame object across queries removes the
    * re-analysis of these wide derived Projects from every query build —
    * measured 0.1-0.4s of driver time per TPC-DS query at sf0.1. Dims are
    * pure derivations (never materialized, see above), so the memo can
    * never serve a stale plan; facts stay un-memoized because mat() flips
    * them between derivation and scan. Self-join dedup of the shared
    * ExprIds is the analyzer's normal DeduplicateRelations job, same as
    * reusing a val within one query. */
  private val dimMemo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), DataFrame]()

  private def dimCached(s: SparkSession, dir: String, key: String)
      (build: => DataFrame): DataFrame =
    dimMemo.computeIfAbsent((s, dir, key), _ => build)

  /** 1995-01-01..2001-12-31 calendar, d_date_sk = days since Base. */
  def dateDim(s: SparkSession): DataFrame =
    dimCached(s, "", "date_dim") {
    s.range(0, 2557).select(
        col("id").as("d_date_sk"),
        date_add(to_date(lit(Base)), col("id").cast("int")).as("d_date"))
      .select(col("d_date_sk"), col("d_date"),
        year(col("d_date")).cast("long").as("d_year"),
        month(col("d_date")).cast("long").as("d_moy"),
        dayofmonth(col("d_date")).cast("long").as("d_dom"),
        quarter(col("d_date")).cast("long").as("d_qoy"),
        (col("d_date_sk") % 7).as("d_dow"),
        floor(col("d_date_sk") / 7).cast("long").as("d_week_seq"),
        (year(col("d_date")) * 12 + month(col("d_date")) - 1).cast("long")
          .as("d_month_seq"),
        concat(year(col("d_date")), lit("Q"), quarter(col("d_date")))
          .as("d_quarter_name"),
        expr("""CASE d_date_sk % 7 WHEN 0 THEN 'Sunday' WHEN 1 THEN 'Monday'
          WHEN 2 THEN 'Tuesday' WHEN 3 THEN 'Wednesday' WHEN 4 THEN 'Thursday'
          WHEN 5 THEN 'Friday' ELSE 'Saturday' END""").as("d_day_name"))
    }

  def item(s: SparkSession, dir: String): DataFrame =
    dimCached(s, dir, "item") {
    t(s, dir, "part").select(
      col("p_partkey").as("i_item_sk"),
      concat(lit("ITEM_"), lpad(col("p_partkey").cast("string"), 8, "0")).as("i_item_id"),
      col("p_brand").as("i_brand"),
      expr("cast(substring(p_brand, 7) as bigint)").as("i_brand_id"),
      col("p_type").as("i_category"),
      (col("p_partkey") % 10).as("i_category_id"),
      concat(lit("CLASS_"), (col("p_partkey") % 8)).as("i_class"),
      (col("p_partkey") % 100).as("i_manufact_id"),
      concat(lit("MFG_"), col("p_partkey") % 100).as("i_manufact"),
      concat(lit("DESC_"), col("p_partkey")).as("i_item_desc"),
      col("p_name").as("i_product_name"),
      // q41's attribute quad: color = the part name's leading color word;
      // units/sizes cycle through the reference q41 vocabulary
      split(col("p_name"), " ").getItem(0).as("i_color"),
      element_at(typedLit(Seq("Ounce", "Oz", "Bunch", "Ton", "N/A", "Dozen",
        "Box", "Pound")), (col("p_partkey") % 8 + 1).cast("int")).as("i_units"),
      element_at(typedLit(Seq("medium", "extra large", "small", "N/A",
        "petite", "large")), (col("p_partkey") % 6 + 1).cast("int")).as("i_size"),
      (col("p_partkey") % 50).as("i_manager_id"),
      col("p_retailprice").as("i_current_price"),
      (col("p_retailprice") * 0.8).as("i_wholesale_cost"),
      // numeric twin of i_class (CLASS_%8) for the q14 class-id joins
      (col("p_partkey") % 8).as("i_class_id"))
    }

  def store(s: SparkSession): DataFrame =
    dimCached(s, "", "store") {
    s.range(0, 10).select(
      col("id").as("s_store_sk"),
      concat(lit("Store_"), col("id")).as("s_store_name"),
      concat(lit("SID_"), col("id")).as("s_store_id"),
      concat(lit("Company_"), col("id") % 2).as("s_company_name"),
      concat(lit("S"), col("id") % 4).as("s_state"),
      concat(lit("City_"), col("id") % 5).as("s_city"),
      concat(lit("County_"), col("id") % 3).as("s_county"),
      when(col("id") % 2 === 0, -5L).otherwise(-6L).as("s_gmt_offset"),
      (col("id") * 10 + 200).as("s_number_employees"),
      (col("id") % 2).as("s_company_id"),
      (col("id") * 100 + 1).cast("string").as("s_street_number"),
      concat(lit("Street_"), col("id") % 4).as("s_street_name"),
      lit("Blvd").as("s_street_type"),
      concat(lit("Suite_"), col("id") % 3).as("s_suite_number"),
      // *13 keeps store zips on the ca_zip lattice (custkey*13), so the
      // q24-family s_zip = ca_zip join is populated (store id ↔ custkey id)
      lpad(((col("id") * 13) % 100000).cast("string"), 5, "0").as("s_zip"),
      (col("id") % 6).as("s_market_id"))
    }

  def customerDim(s: SparkSession, dir: String): DataFrame =
    dimCached(s, dir, "customer_dim") {
    t(s, dir, "customer").select(
      col("c_custkey").as("c_customer_sk"),
      col("c_name").as("c_customer_id"),
      concat(lit("FN_"), col("c_custkey") % 50).as("c_first_name"),
      expr("substring(c_name, 10)").as("c_last_name"),
      col("c_custkey").as("c_current_addr_sk"),
      (col("c_custkey") % 100).as("c_current_cdemo_sk"),
      (col("c_custkey") % 50).as("c_current_hdemo_sk"),
      expr("CASE c_custkey % 4 WHEN 0 THEN 'Mr.' WHEN 1 THEN 'Mrs.' " +
        "WHEN 2 THEN 'Ms.' ELSE 'Dr.' END").as("c_salutation"),
      when(col("c_custkey") % 3 === 0, "Y").otherwise("N")
        .as("c_preferred_cust_flag"),
      // q30/q64/q84-family demographics: birth fields, contact fields and
      // first-purchase calendar keys, all deterministic in the custkey
      (lit(1930) + col("c_custkey") % 60).as("c_birth_year"),
      (lit(1) + col("c_custkey") % 12).as("c_birth_month"),
      (lit(1) + col("c_custkey") % 28).as("c_birth_day"),
      when(col("c_custkey") % 7 === 0, "UNITED STATES")
        .otherwise(concat(lit("COUNTRY_"), col("c_custkey") % 7))
        .as("c_birth_country"),
      concat(lit("login_"), col("c_custkey") % 1000).as("c_login"),
      concat(lit("EMAIL_"), col("c_custkey"), lit("@example.com"))
        .as("c_email_address"),
      (col("c_custkey") % 2557).as("c_last_review_date_sk"),
      (col("c_custkey") % 2000).as("c_first_sales_date_sk"),
      (col("c_custkey") % 2000 + 30).as("c_first_shipto_date_sk"))
    }

  def customerAddress(s: SparkSession, dir: String): DataFrame =
    dimCached(s, dir, "customer_address") {
    t(s, dir, "customer").select(
      col("c_custkey").as("ca_address_sk"),
      concat(lit("City_"), col("c_custkey") % 40).as("ca_city"),
      concat(lit("County_"), col("c_custkey") % 15).as("ca_county"),
      concat(lit("S"), col("c_custkey") % 4).as("ca_state"),
      lpad(((col("c_custkey") * 13) % 100000).cast("string"), 5, "0").as("ca_zip"),
      lit("United States").as("ca_country"),
      when(col("c_custkey") % 2 === 0, -5L).otherwise(-6L).as("ca_gmt_offset"),
      ((col("c_custkey") * 7) % 1000).cast("string").as("ca_street_number"),
      concat(lit("Street_"), col("c_custkey") % 12).as("ca_street_name"),
      expr("CASE c_custkey % 4 WHEN 0 THEN 'Blvd' WHEN 1 THEN 'Ave' " +
        "WHEN 2 THEN 'St' ELSE 'Way' END").as("ca_street_type"),
      concat(lit("Suite_"), col("c_custkey") % 10).as("ca_suite_number"),
      expr("CASE c_custkey % 3 WHEN 0 THEN 'apartment' WHEN 1 THEN 'condo' " +
        "ELSE 'single family' END").as("ca_location_type"))
    }

  def customerDemographics(s: SparkSession): DataFrame =
    dimCached(s, "", "customer_demographics") {
    s.range(0, 100).select(
      col("id").as("cd_demo_sk"),
      when(col("id") % 2 === 0, "M").otherwise("F").as("cd_gender"),
      expr("CASE (id div 2) % 5 WHEN 0 THEN 'M' WHEN 1 THEN 'S' WHEN 2 THEN 'D' WHEN 3 THEN 'W' ELSE 'U' END")
        .as("cd_marital_status"),
      expr("CASE (id div 10) % 5 WHEN 0 THEN 'Primary' WHEN 1 THEN 'Secondary' WHEN 2 THEN 'College' WHEN 3 THEN '4 yr Degree' ELSE 'Advanced Degree' END")
        .as("cd_education_status"),
      ((col("id") % 20) * 500 + 500).as("cd_purchase_estimate"),
      expr("CASE id % 4 WHEN 0 THEN 'Low Risk' WHEN 1 THEN 'Good' " +
        "WHEN 2 THEN 'High Risk' ELSE 'Unknown' END").as("cd_credit_rating"),
      (col("id") % 7).as("cd_dep_count"),
      (col("id") % 5).as("cd_dep_employed_count"),
      (col("id") % 3).as("cd_dep_college_count"))
    }

  def householdDemographics(s: SparkSession): DataFrame =
    dimCached(s, "", "household_demographics") {
    s.range(0, 50).select(
      col("id").as("hd_demo_sk"),
      (col("id") % 10).as("hd_dep_count"),
      (col("id") % 5).as("hd_vehicle_count"),
      expr("CASE id % 3 WHEN 0 THEN '>10000' WHEN 1 THEN '5001-10000' ELSE '0-500' END")
        .as("hd_buy_potential"),
      (col("id") % 20).as("hd_income_band_sk"))
    }

  def incomeBand(s: SparkSession): DataFrame =
    dimCached(s, "", "income_band") {
    s.range(0, 20).select(
      col("id").as("ib_income_band_sk"),
      (col("id") * 10000).as("ib_lower_bound"),
      ((col("id") + 1) * 10000 - 1).as("ib_upper_bound"))
    }

  def promotion(s: SparkSession): DataFrame =
    dimCached(s, "", "promotion") {
    s.range(0, 20).select(
      col("id").as("p_promo_sk"),
      concat(lit("promo_"), col("id")).as("p_promo_name"),
      when(col("id") % 2 === 0, "N").otherwise("Y").as("p_channel_email"),
      when(col("id") % 3 === 0, "N").otherwise("Y").as("p_channel_event"),
      when(col("id") % 5 === 0, "Y").otherwise("N").as("p_channel_dmail"),
      when(col("id") % 7 === 0, "Y").otherwise("N").as("p_channel_tv"))
    }

  def warehouse(s: SparkSession): DataFrame =
    dimCached(s, "", "warehouse") {
    s.range(0, 5).select(
      col("id").as("w_warehouse_sk"),
      concat(lit("Warehouse_"), col("id")).as("w_warehouse_name"),
      concat(lit("S"), col("id") % 4).as("w_state"),
      (col("id") * 1000 + 500).as("w_warehouse_sq_ft"),
      concat(lit("City_"), col("id") % 5).as("w_city"),
      concat(lit("County_"), col("id") % 3).as("w_county"),
      lit("United States").as("w_country"))
    }

  /** Seconds-of-day dimension (86 400 rows — broadcastable like the
    * reference's tpcds time_dim). */
  def timeDim(s: SparkSession): DataFrame =
    dimCached(s, "", "time_dim") {
    s.range(0, 86400).select(
      col("id").as("t_time_sk"),
      col("id").as("t_time"),
      (col("id") / 3600).cast("long").as("t_hour"),
      ((col("id") / 60) % 60).cast("long").as("t_minute"),
      // the kit's meal-time bands (tpcds time dimension convention)
      when((col("id") / 3600).between(6, 8), "breakfast")
        .when((col("id") / 3600).between(11, 13), "lunch")
        .when((col("id") / 3600).between(17, 19), "dinner")
        .otherwise(lit(null).cast("string")).as("t_meal_time"))
    }

  def reason(s: SparkSession): DataFrame =
    dimCached(s, "", "reason") {
    s.range(0, 10).select(
      col("id").as("r_reason_sk"),
      concat(lit("reason_"), col("id")).as("r_reason_desc"))
    }

  def callCenter(s: SparkSession): DataFrame =
    dimCached(s, "", "call_center") {
    s.range(0, 4).select(
      col("id").as("cc_call_center_sk"),
      concat(lit("CC_"), col("id")).as("cc_name"),
      concat(lit("Manager_"), col("id") % 3).as("cc_manager"),
      concat(lit("CCID_"), col("id")).as("cc_call_center_id"),
      concat(lit("County_"), col("id") % 3).as("cc_county"))
    }

  def webSite(s: SparkSession): DataFrame =
    dimCached(s, "", "web_site") {
    s.range(0, 4).select(
      col("id").as("web_site_sk"),
      concat(lit("site_"), col("id")).as("web_name"),
      concat(lit("Company_"), col("id") % 2).as("web_company_name"),
      concat(lit("WSID_"), col("id")).as("web_site_id"))
    }

  def webPage(s: SparkSession): DataFrame =
    dimCached(s, "", "web_page") {
    s.range(0, 20).select(
      col("id").as("wp_web_page_sk"),
      (col("id") * 100 + 4000).as("wp_char_count"))
    }

  def shipMode(s: SparkSession): DataFrame =
    dimCached(s, "", "ship_mode") {
    s.range(0, 4).select(
      col("id").as("sm_ship_mode_sk"),
      expr("CASE id WHEN 0 THEN 'EXPRESS' WHEN 1 THEN 'AIR' " +
        "WHEN 2 THEN 'SURFACE' ELSE 'SEA' END").as("sm_type"),
      expr("CASE id WHEN 0 THEN 'UPS' WHEN 1 THEN 'FEDEX' " +
        "WHEN 2 THEN 'DHL' ELSE 'USPS' END").as("sm_carrier"))
    }

  /** Catalog-page dimension (q05/q80 page-level report keys). */
  def catalogPage(s: SparkSession): DataFrame =
    dimCached(s, "", "catalog_page") {
    s.range(0, 20).select(
      col("id").as("cp_catalog_page_sk"),
      concat(lit("CPID_"), col("id")).as("cp_catalog_page_id"))
    }

  /** Weekly inventory snapshots: item × 366 week-grid, deterministic
    * on-hand quantity. inv_date_sk lands on the d_date_sk weekly grid
    * (multiples of 7), so date_dim filters prune whole snapshot weeks. */
  def inventory(s: SparkSession, dir: String): DataFrame =
    mat(s, dir, "inventory") { deriveInventory(s, dir) }

  private def deriveInventory(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part").select(col("p_partkey").as("inv_item_sk"))
      .crossJoin(broadcast(s.range(0, 366).select(col("id").as("w"))))
      .select(col("inv_item_sk"), (col("w") * 7).as("inv_date_sk"),
        (col("inv_item_sk") % 5).as("inv_warehouse_sk"),
        ((col("inv_item_sk") * 31 + col("w") * 17) % 1000)
          .as("inv_quantity_on_hand"))

  // ---- derived facts ------------------------------------------------------

  /** The store_sales fact: lineitem enriched with the order's customer (the
    * l_orderkey join is co-partitioned at scale). ss_addr_sk intentionally
    * shifts to the neighbouring custkey on odd suppkeys so q68's
    * bought-city ≠ home-city predicate has matches (inner joins drop the
    * out-of-range tail key identically on both engines). */
  def storeSales(s: SparkSession, dir: String): DataFrame =
    mat(s, dir, "store_sales") { deriveStoreSales(s, dir) }

  private def deriveStoreSales(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .join(t(s, dir, "orders").select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .select(
        datediff(col("l_shipdate").cast("date"), to_date(lit(Base))).cast("long")
          .as("ss_sold_date_sk"),
        col("l_partkey").as("ss_item_sk"),
        (col("l_suppkey") % 10).as("ss_store_sk"),
        col("o_custkey").as("ss_customer_sk"),
        ((col("l_orderkey") * 7 + col("l_linenumber")) % 100).as("ss_cdemo_sk"),
        ((col("l_orderkey") * 3 + col("l_linenumber")) % 50).as("ss_hdemo_sk"),
        // ~1% NULL address keys: TPC-DS fact FKs are genuinely nullable and
        // q44/q76-style shapes filter on IS NULL (orderkey-based so the
        // slice is populated at every SF)
        when((col("l_orderkey") + col("l_suppkey")) % 97 === 0,
            lit(null).cast("long"))
          .otherwise(col("o_custkey") + col("l_suppkey") % 2).as("ss_addr_sk"),
        (col("l_partkey") % 20).as("ss_promo_sk"),
        ((col("l_orderkey") * 2063 + col("l_linenumber") * 7919) % 86400)
          .as("ss_sold_time_sk"),
        col("l_orderkey").as("ss_ticket_number"),
        col("l_quantity").as("ss_quantity"),
        col("l_extendedprice").as("ss_ext_sales_price"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("ss_sales_price"),
        (col("l_extendedprice") * col("l_discount")).as("ss_coupon_amt"),
        (col("l_extendedprice") * (lit(1) + col("l_tax"))).as("ss_list_price"),
        (col("l_extendedprice") * lit(0.8)).as("ss_wholesale_cost"),
        (col("l_extendedprice") * lit(0.8)).as("ss_ext_wholesale_cost"),
        (col("l_quantity") * col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("ss_net_paid"),
        (col("l_extendedprice") * col("l_discount")).as("ss_ext_discount_amt"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))
          - col("l_extendedprice") * lit(0.8)).as("ss_net_profit"),
        // l_extendedprice is already quantity-extended, so the ext_list
        // twin shares ss_list_price's formula; ext_tax is the tax delta
        (col("l_extendedprice") * (lit(1) + col("l_tax"))).as("ss_ext_list_price"),
        (col("l_extendedprice") * col("l_tax")).as("ss_ext_tax"))

  /** Catalog / web channels: deterministic line-number split of the fact. */
  def catalogSales(s: SparkSession, dir: String): DataFrame =
    mat(s, dir, "catalog_sales") {
      storeSales(s, dir).filter(col("ss_ticket_number") % 3 === 1)
      .select(col("ss_sold_date_sk").as("cs_sold_date_sk"),
        col("ss_item_sk").as("cs_item_sk"),
        col("ss_customer_sk").as("cs_bill_customer_sk"),
        col("ss_ext_sales_price").as("cs_ext_sales_price"),
        col("ss_quantity").as("cs_quantity"),
        col("ss_coupon_amt").as("cs_ext_discount_amt"),
        (col("ss_store_sk") % 5).as("cs_warehouse_sk"),
        col("ss_ticket_number").as("cs_order_number"),
        col("ss_sales_price").as("cs_sales_price"),
        col("ss_cdemo_sk").as("cs_bill_cdemo_sk"),
        col("ss_addr_sk").as("cs_bill_addr_sk"),
        col("ss_coupon_amt").as("cs_coupon_amt"),
        col("ss_promo_sk").as("cs_promo_sk"),
        col("ss_sold_time_sk").as("cs_sold_time_sk"),
        (col("ss_ticket_number") % 4).as("cs_ship_mode_sk"),
        ((col("ss_ticket_number") + 1) % 4).as("cs_call_center_sk"),
        col("ss_list_price").as("cs_list_price"),
        (col("ss_sold_date_sk") + col("ss_ticket_number") % 120)
          .as("cs_ship_date_sk"),
        col("ss_hdemo_sk").as("cs_bill_hdemo_sk"),
        (col("ss_ticket_number") % 20).as("cs_catalog_page_sk"),
        col("ss_ext_list_price").as("cs_ext_list_price"),
        (col("ss_ext_sales_price") * 0.05).as("cs_ext_ship_cost"),
        col("ss_ext_wholesale_cost").as("cs_ext_wholesale_cost"),
        col("ss_wholesale_cost").as("cs_wholesale_cost"),
        col("ss_net_paid").as("cs_net_paid"),
        (col("ss_net_paid") + col("ss_ext_tax")).as("cs_net_paid_inc_tax"),
        col("ss_net_profit").as("cs_net_profit"),
        col("ss_addr_sk").as("cs_ship_addr_sk"),
        col("ss_customer_sk").as("cs_ship_customer_sk"))
    }

  def webSales(s: SparkSession, dir: String): DataFrame =
    mat(s, dir, "web_sales") {
      storeSales(s, dir).filter(col("ss_ticket_number") % 3 === 2)
      .select(col("ss_sold_date_sk").as("ws_sold_date_sk"),
        col("ss_item_sk").as("ws_item_sk"),
        col("ss_customer_sk").as("ws_bill_customer_sk"),
        col("ss_ext_sales_price").as("ws_ext_sales_price"),
        col("ss_quantity").as("ws_quantity"),
        col("ss_sales_price").as("ws_sales_price"),
        col("ss_addr_sk").as("ws_bill_addr_sk"),
        col("ss_sold_time_sk").as("ws_sold_time_sk"),
        col("ss_hdemo_sk").as("ws_ship_hdemo_sk"),
        (col("ss_store_sk") % 5).as("ws_warehouse_sk"),
        (col("ss_ticket_number") % 4).as("ws_ship_mode_sk"),
        col("ss_ticket_number").as("ws_order_number"),
        col("ss_coupon_amt").as("ws_ext_discount_amt"),
        col("ss_net_profit").as("ws_net_profit"),
        col("ss_promo_sk").as("ws_promo_sk"),
        (col("ss_sold_date_sk") + col("ss_ticket_number") % 150)
          .as("ws_ship_date_sk"),
        (col("ss_ticket_number") % 4).as("ws_web_site_sk"),
        (col("ss_ticket_number") % 20).as("ws_web_page_sk"),
        col("ss_net_paid").as("ws_net_paid"),
        col("ss_addr_sk").as("ws_ship_addr_sk"),
        (col("ss_ext_sales_price") * 0.05).as("ws_ext_ship_cost"),
        col("ss_ext_list_price").as("ws_ext_list_price"),
        col("ss_ext_wholesale_cost").as("ws_ext_wholesale_cost"),
        col("ss_list_price").as("ws_list_price"),
        col("ss_wholesale_cost").as("ws_wholesale_cost"))
    }

  /** Returns channel: returned lineitems (l_returnflag = 'R') as
    * store_returns — lets the returns-joining report shapes (q5 family)
    * run without a generated returns table. */
  def storeReturns(s: SparkSession, dir: String): DataFrame =
    mat(s, dir, "store_returns") { deriveStoreReturns(s, dir) }

  private def deriveStoreReturns(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
      .join(t(s, dir, "orders").select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .select(
        datediff(col("l_shipdate").cast("date"), to_date(lit(Base))).cast("long")
          .as("sr_returned_date_sk"),
        col("l_partkey").as("sr_item_sk"),
        (col("l_suppkey") % 10).as("sr_store_sk"),
        col("o_custkey").as("sr_customer_sk"),
        col("l_orderkey").as("sr_ticket_number"),
        (col("l_orderkey") % 10).as("sr_reason_sk"),
        col("l_quantity").as("sr_return_quantity"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sr_return_amt"),
        (col("l_extendedprice") * lit(0.1)).as("sr_net_loss"),
        // settlement lags the return by a deterministic 0..119-day spread so
        // latency-bucket shapes (q50) have non-degenerate buckets
        (datediff(col("l_shipdate").cast("date"), to_date(lit(Base))).cast("long")
          + col("l_orderkey") % 120).as("sr_settled_date_sk"),
        (col("o_custkey") % 100).as("sr_cdemo_sk"))

  /** Catalog returns channel: the ticket-split of store_returns aligned with
    * catalog_sales' split, cr-prefixed. */
  def catalogReturns(s: SparkSession, dir: String): DataFrame =
    mat(s, dir, "catalog_returns") {
      storeReturns(s, dir).filter(col("sr_ticket_number") % 3 === 1)
      .select(col("sr_returned_date_sk").as("cr_returned_date_sk"),
        col("sr_item_sk").as("cr_item_sk"),
        col("sr_ticket_number").as("cr_order_number"),
        col("sr_customer_sk").as("cr_returning_customer_sk"),
        col("sr_return_quantity").as("cr_return_quantity"),
        col("sr_return_amt").as("cr_return_amount"),
        col("sr_net_loss").as("cr_net_loss"),
        (col("sr_return_amt") * 0.9).as("cr_refunded_cash"),
        ((col("sr_ticket_number") * 7) % 4).as("cr_call_center_sk"),
        (col("sr_ticket_number") % 20).as("cr_catalog_page_sk"),
        (col("sr_return_amt") * 1.08).as("cr_return_amt_inc_tax"),
        col("sr_customer_sk").as("cr_returning_addr_sk"),
        (col("sr_return_amt") * 0.3).as("cr_reversed_charge"),
        (col("sr_return_amt") * 0.2).as("cr_store_credit"))
    }

  /** Web returns channel: the %3=2 ticket-split, wr-prefixed. */
  def webReturns(s: SparkSession, dir: String): DataFrame =
    mat(s, dir, "web_returns") {
      storeReturns(s, dir).filter(col("sr_ticket_number") % 3 === 2)
      .select(col("sr_returned_date_sk").as("wr_returned_date_sk"),
        col("sr_item_sk").as("wr_item_sk"),
        col("sr_ticket_number").as("wr_order_number"),
        col("sr_customer_sk").as("wr_returning_customer_sk"),
        col("sr_return_quantity").as("wr_return_quantity"),
        col("sr_return_amt").as("wr_return_amt"),
        col("sr_net_loss").as("wr_net_loss"),
        (col("sr_store_sk") % 5).as("wr_warehouse_sk"),
        ((col("sr_ticket_number") * 11) % 10).as("wr_reason_sk"),
        (col("sr_customer_sk") % 100).as("wr_refunded_cdemo_sk"),
        (col("sr_return_amt") * 0.02).as("wr_fee"),
        col("sr_customer_sk").as("wr_refunded_addr_sk"),
        (col("sr_return_amt") * 0.9).as("wr_refunded_cash"),
        col("sr_customer_sk").as("wr_returning_addr_sk"),
        // same demo key as the refunded side: ×3 would never land the
        // returning demo in the same marital/education class, deadening the
        // q85-family cd1=cd2 equality joins
        (col("sr_customer_sk") % 100).as("wr_returning_cdemo_sk"),
        (col("sr_ticket_number") % 20).as("wr_web_page_sk"))
    }

  // ---- queries ------------------------------------------------------------

  /** q3: year × brand revenue for one manufacturer in November
    * (…/sql/presto/tpcds/q03.sql shape). */
  def q3(s: SparkSession, dir: String): DataFrame =
    storeSales(s, dir)
      .join(broadcast(dateDim(s).filter(col("d_moy") === 11)),
        col("ss_sold_date_sk") === col("d_date_sk"))
      .join(broadcast(item(s, dir).filter(col("i_manufact_id") === 28)),
        col("ss_item_sk") === col("i_item_sk"))
      .groupBy("d_year", "i_brand_id", "i_brand")
      .agg(dsum(col("ss_ext_sales_price"), "sum_agg"))
      .orderBy(asc("d_year"), desc("sum_agg"), asc("i_brand_id"))

  /** q7: demographic + promotion star with four averages (q07.sql shape). */
  def q7(s: SparkSession, dir: String): DataFrame =
    storeSales(s, dir)
      .join(broadcast(customerDemographics(s).filter(
          col("cd_gender") === "M" && col("cd_marital_status") === "S" &&
            col("cd_education_status") === "College")),
        col("ss_cdemo_sk") === col("cd_demo_sk"))
      .join(broadcast(dateDim(s).filter(col("d_year") === 1998)),
        col("ss_sold_date_sk") === col("d_date_sk"))
      .join(broadcast(promotion(s).filter(
          col("p_channel_email") === "N" || col("p_channel_event") === "N")),
        col("ss_promo_sk") === col("p_promo_sk"))
      .join(broadcast(item(s, dir)), col("ss_item_sk") === col("i_item_sk"))
      .groupBy("i_item_id")
      .agg(davg(col("ss_quantity"), "agg1"), davg(col("ss_list_price"), "agg2"),
        davg(col("ss_coupon_amt"), "agg3"), davg(col("ss_sales_price"), "agg4"))
      .orderBy("i_item_id")
      .limit(100)

  /** q19: brand revenue where the customer's zip prefix differs from the
    * store's (q19.sql shape). */
  def q19(s: SparkSession, dir: String): DataFrame =
    storeSales(s, dir)
      .join(broadcast(dateDim(s).filter(col("d_moy") === 11 && col("d_year") === 1999)),
        col("ss_sold_date_sk") === col("d_date_sk"))
      .join(broadcast(item(s, dir).filter(col("i_manager_id") === 7)),
        col("ss_item_sk") === col("i_item_sk"))
      .join(customerDim(s, dir), col("ss_customer_sk") === col("c_customer_sk"))
      .join(customerAddress(s, dir), col("c_current_addr_sk") === col("ca_address_sk"))
      .join(broadcast(store(s)), col("ss_store_sk") === col("s_store_sk"))
      .filter(substring(col("ca_zip"), 1, 3) =!= substring(col("s_zip"), 1, 3))
      .groupBy("i_brand_id", "i_brand", "i_manufact_id")
      .agg(dsum(col("ss_ext_sales_price"), "ext_price"))
      .orderBy(desc("ext_price"), asc("i_brand_id"), asc("i_manufact_id"))

  /** q27: ROLLUP(i_item_id, s_state) over a demographic slice (q27.sql).
    * Subtotal NULLs are COALESCEd to 'ALL' on both engines so the sort is
    * NULL-ordering-independent. */
  def q27(s: SparkSession, dir: String): DataFrame =
    storeSales(s, dir)
      .join(broadcast(customerDemographics(s).filter(
          col("cd_gender") === "F" && col("cd_marital_status") === "M" &&
            col("cd_education_status") === "Secondary")),
        col("ss_cdemo_sk") === col("cd_demo_sk"))
      .join(broadcast(dateDim(s).filter(col("d_year") === 1998)),
        col("ss_sold_date_sk") === col("d_date_sk"))
      .join(broadcast(store(s)), col("ss_store_sk") === col("s_store_sk"))
      .join(broadcast(item(s, dir)), col("ss_item_sk") === col("i_item_sk"))
      .rollup(col("i_item_id"), col("s_state"))
      .agg(count(lit(1)).as("cnt"),
        davg(col("ss_quantity"), "agg1"), davg(col("ss_list_price"), "agg2"),
        davg(col("ss_coupon_amt"), "agg3"), davg(col("ss_sales_price"), "agg4"),
        // grouping() must reference the un-aliased rollup expression
        grouping(col("i_item_id")).as("_g0"), grouping(col("s_state")).as("_g1"))
      .select(allLabel(col("i_item_id"), col("_g0")).as("i_item_id"),
        allLabel(col("s_state"), col("_g1")).as("s_state"),
        col("cnt"), col("agg1"), col("agg2"), col("agg3"), col("agg4"))
      .orderBy("i_item_id", "s_state")

  private def ticketCounts(s: SparkSession, dir: String, domLo: Int, domHi: Int,
      hdFilter: Column): DataFrame =
    storeSales(s, dir)
      .join(broadcast(dateDim(s).filter(
          col("d_dom").between(domLo, domHi) &&
            col("d_year").isin(1998, 1999, 2000))),
        col("ss_sold_date_sk") === col("d_date_sk"))
      .join(broadcast(householdDemographics(s).filter(hdFilter)),
        col("ss_hdemo_sk") === col("hd_demo_sk"))

  /** q34: customers with per-ticket item counts in a band (q34.sql shape;
    * band shrunk to the fixture's ≤7 lines per ticket). */
  def q34(s: SparkSession, dir: String): DataFrame =
    ticketCounts(s, dir, 1, 3,
      col("hd_buy_potential") === ">10000" && col("hd_vehicle_count") > 0)
      .join(broadcast(store(s).filter(col("s_county").isin("County_0", "County_1"))),
        col("ss_store_sk") === col("s_store_sk"))
      .groupBy("ss_ticket_number", "ss_customer_sk")
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt").between(2, 7))
      .join(customerDim(s, dir), col("ss_customer_sk") === col("c_customer_sk"))
      .select("c_last_name", "c_first_name", "ss_ticket_number", "cnt")
      .orderBy("c_last_name", "c_first_name", "ss_ticket_number")

  private def brandAgg(s: SparkSession, dir: String, manager: Int, moy: Int,
      yr: Int): DataFrame =
    storeSales(s, dir)
      .join(broadcast(dateDim(s).filter(col("d_moy") === moy && col("d_year") === yr)),
        col("ss_sold_date_sk") === col("d_date_sk"))
      .join(broadcast(item(s, dir).filter(col("i_manager_id") === manager)),
        col("ss_item_sk") === col("i_item_sk"))

  /** q42: category revenue for one manager-month (q42.sql shape). */
  def q42(s: SparkSession, dir: String): DataFrame =
    brandAgg(s, dir, 8, 12, 1998)
      .groupBy("d_year", "i_category_id", "i_category")
      .agg(dsum(col("ss_ext_sales_price"), "total_sales"))
      .orderBy(desc("total_sales"), asc("d_year"), asc("i_category_id"), asc("i_category"))

  /** q52: brand revenue for one manager-month, year kept (q52.sql shape). */
  def q52(s: SparkSession, dir: String): DataFrame =
    brandAgg(s, dir, 13, 11, 2000)
      .groupBy("d_year", "i_brand_id", "i_brand")
      .agg(dsum(col("ss_ext_sales_price"), "ext_price"))
      .orderBy(asc("d_year"), desc("ext_price"), asc("i_brand_id"))

  /** q55: brand revenue for one manager-month (q55.sql shape). */
  def q55(s: SparkSession, dir: String): DataFrame =
    brandAgg(s, dir, 33, 12, 1999)
      .groupBy("i_brand_id", "i_brand")
      .agg(dsum(col("ss_ext_sales_price"), "ext_price"))
      .orderBy(desc("ext_price"), asc("i_brand_id"))

  /** q60: per-item quantity totals re-aggregated across the three sales
    * channels (q60.sql shape: UNION ALL of channel aggregates, then a
    * second aggregation). Quantity sums keep every addition exact. */
  def q60(s: SparkSession, dir: String): DataFrame = {
    val dd = broadcast(dateDim(s).filter(col("d_year") === 1999 && col("d_moy") === 9))
    val it = broadcast(item(s, dir).filter(col("i_category") === "ECONOMY"))
    def channel(f: DataFrame, dateK: String, itemK: String, qty: String) =
      f.join(dd, col(dateK) === col("d_date_sk"))
        .join(it, col(itemK) === col("i_item_sk"))
        .groupBy("i_item_id").agg(dsum(col(qty), "total"))
    channel(storeSales(s, dir), "ss_sold_date_sk", "ss_item_sk", "ss_quantity")
      .unionAll(channel(catalogSales(s, dir), "cs_sold_date_sk", "cs_item_sk", "cs_quantity"))
      .unionAll(channel(webSales(s, dir), "ws_sold_date_sk", "ws_item_sk", "ws_quantity"))
      .groupBy("i_item_id").agg(dsum(col("total"), "total_sales"))
      .orderBy("i_item_id")
  }

  /** q68: per-ticket coupon/profit sums where the bought city differs from
    * the customer's home city (q68.sql shape). */
  def q68(s: SparkSession, dir: String): DataFrame = {
    val dn = storeSales(s, dir)
      .join(broadcast(dateDim(s).filter(
          col("d_dom").between(1, 2) && col("d_year").isin(1998, 1999, 2000))),
        col("ss_sold_date_sk") === col("d_date_sk"))
      .join(broadcast(store(s).filter(col("s_city").isin("City_0", "City_1"))),
        col("ss_store_sk") === col("s_store_sk"))
      .join(broadcast(householdDemographics(s).filter(
          col("hd_dep_count") === 4 || col("hd_vehicle_count") === 3)),
        col("ss_hdemo_sk") === col("hd_demo_sk"))
      .join(customerAddress(s, dir), col("ss_addr_sk") === col("ca_address_sk"))
      .groupBy(col("ss_ticket_number"), col("ss_customer_sk"),
        col("ca_city").as("bought_city"))
      .agg(dsum(col("ss_coupon_amt"), "amt"), dsum(col("ss_net_profit"), "profit"))
    dn.join(customerDim(s, dir), col("ss_customer_sk") === col("c_customer_sk"))
      .join(customerAddress(s, dir).withColumnRenamed("ca_city", "home_city"),
        col("c_current_addr_sk") === col("ca_address_sk"))
      .filter(col("home_city") =!= col("bought_city"))
      .select("c_last_name", "c_first_name", "home_city", "bought_city",
        "ss_ticket_number", "amt", "profit")
      .orderBy("c_last_name", "ss_ticket_number")
  }

  /** q73: per-ticket counts 1..5 with a buy-potential slice (q73.sql). */
  def q73(s: SparkSession, dir: String): DataFrame =
    ticketCounts(s, dir, 1, 2,
      col("hd_buy_potential").isin(">10000", "5001-10000") &&
        col("hd_dep_count") > 2)
      .join(broadcast(store(s).filter(col("s_county").isin("County_0", "County_2"))),
        col("ss_store_sk") === col("s_store_sk"))
      .groupBy("ss_ticket_number", "ss_customer_sk")
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt").between(1, 5))
      .join(customerDim(s, dir), col("ss_customer_sk") === col("c_customer_sk"))
      .select("c_last_name", "c_first_name", "ss_ticket_number", "cnt")
      .orderBy(desc("cnt"), asc("c_last_name"), asc("ss_ticket_number"))

  /** q98: item revenue with its share of the class total via an unordered
    * window sum (q98.sql shape); decimal-accumulated on both engines. */
  def q98(s: SparkSession, dir: String): DataFrame = {
    val grouped = storeSales(s, dir)
      .join(broadcast(dateDim(s).filter(
          col("d_date") >= lit("1999-02-01").cast("date") &&
            col("d_date") <= lit("1999-03-01").cast("date"))),
        col("ss_sold_date_sk") === col("d_date_sk"))
      .join(broadcast(item(s, dir).filter(
          col("i_category").isin("SMALL", "LARGE", "MEDIUM"))),
        col("ss_item_sk") === col("i_item_sk"))
      .groupBy("i_item_id", "i_category", "i_class", "i_current_price")
      .agg(dsum(col("ss_ext_sales_price"), "itemrevenue"))
    val byClass = Window.partitionBy("i_class")
    grouped.select(col("i_item_id"), col("i_category"), col("i_class"),
        col("i_current_price"), col("itemrevenue"),
        (col("itemrevenue") * 100 /
          sum(col("itemrevenue").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
            .over(byClass).cast("double")).as("revenueratio"))
      .orderBy("i_category", "i_class", "i_item_id")
  }

  /** q5-lite: per-store sales vs returns profit report with ROLLUP over
    * store (q5's channel-report shape on the store channel; returns from
    * the derived store_returns). */
  def q5(s: SparkSession, dir: String): DataFrame = {
    val dd = broadcast(dateDim(s).filter(col("d_year") === 1998))
    val sales = storeSales(s, dir)
      .join(dd, col("ss_sold_date_sk") === col("d_date_sk"))
      .groupBy(col("ss_store_sk").as("store_sk"))
      .agg(dsum(col("ss_ext_sales_price"), "sales"),
        dsum(col("ss_net_profit"), "profit"))
    val returns = storeReturns(s, dir)
      .join(dd, col("sr_returned_date_sk") === col("d_date_sk"))
      .groupBy(col("sr_store_sk").as("r_store_sk"))
      .agg(dsum(col("sr_return_amt"), "returns"),
        dsum(col("sr_net_loss"), "profit_loss"))
    sales.join(returns, col("store_sk") === col("r_store_sk"), "left")
      .join(broadcast(store(s)), col("store_sk") === col("s_store_sk"))
      .rollup(col("s_state"), col("s_store_name"))
      .agg(dsum(col("sales"), "total_sales"),
        dsum(coalesce(col("returns"), lit(0.0)), "total_returns"),
        dsum(col("profit") - coalesce(col("profit_loss"), lit(0.0)), "total_profit"),
        // grouping() must reference the un-aliased rollup expression
        grouping(col("s_state")).as("_g0"), grouping(col("s_store_name")).as("_g1"))
      .select(allLabel(col("s_state"), col("_g0")).as("s_state"),
        allLabel(col("s_store_name"), col("_g1")).as("s_store_name"),
        col("total_sales"), col("total_returns"), col("total_profit"))
      .orderBy("s_state", "s_store_name")
  }

  /** q15: per-zip catalog revenue for qualifying customers (zip prefix OR
    * state OR big ticket — q15.sql's OR-of-predicates shape). */
  def q15(s: SparkSession, dir: String): DataFrame =
    catalogSales(s, dir)
      .join(broadcast(dateDim(s).filter(col("d_qoy") === 1 && col("d_year") === 1999)),
        col("cs_sold_date_sk") === col("d_date_sk"))
      .join(customerDim(s, dir), col("cs_bill_customer_sk") === col("c_customer_sk"))
      .join(customerAddress(s, dir), col("c_current_addr_sk") === col("ca_address_sk"))
      .filter(substring(col("ca_zip"), 1, 2).isin("85", "86", "88") ||
        col("ca_state").isin("S0", "S3") || col("cs_ext_sales_price") > 40000)
      .groupBy("ca_zip")
      .agg(dsum(col("cs_ext_sales_price"), "total_sales"))
      .orderBy("ca_zip")

  /** q23-lite: frequent items (bought in ≥4 distinct months) × best
    * customers (spend ≥ half the max spend — the text's max-derived scalar
    * cutoff shape) → cross-channel revenue. Keeps q23's two-CTE IN-filter
    * shape at fixture scale. */
  def q23(s: SparkSession, dir: String): DataFrame = {
    val dd = broadcast(dateDim(s))
    val frequent = storeSales(s, dir)
      .join(dd, col("ss_sold_date_sk") === col("d_date_sk"))
      .groupBy(col("ss_item_sk").as("f_item"))
      .agg(countDistinct(col("d_year") * 12 + col("d_moy")).as("months"))
      .filter(col("months") >= 4).select("f_item")
    // the customer-grain spend aggregate feeds TWO consumers (the max
    // cutoff and the best-customer filter). The filter side carries a
    // not-null filter on the customer key, inferred from the semi-join,
    // that the cutoff side lacks, so the two subtrees differ, exchange
    // reuse cannot unify them, and the aggregate runs once per consumer.
    // The frequent-items leg stays an independent, concurrently-scheduled
    // pass (a shared grouping-sets single pass was measured SLOWER at
    // sf0.1 and flat at sf1: it serializes the legs behind a fact-wide
    // Expand — see OPTIMIZATION_r14.md).
    val spend = storeSales(s, dir)
      .groupBy(col("ss_customer_sk").as("b_cust"))
      .agg(dsum(col("ss_sales_price"), "spend"))
    // Best-customer cutoff as a max-derived scalar (the reference q23 text's
    // own shape: `> 95/100.0 * (select max(csales) ...)`, q23.sql:20). An
    // exact percentile here would merge a value→count map into ONE final
    // buffer — a multi-GB single-task hazard at 100× customers; max() has
    // constant mergeable state.
    val cutoff = spend.agg((max(col("spend")) * 0.5).as("c"))
    val best = spend.join(broadcast(cutoff)).filter(col("spend") >= col("c"))
      .select("b_cust")
    // the frequent-items side is bounded by the item dimension, so it is
    // broadcast; the best-customer side grows with the customers, so AQE
    // picks its join strategy from the observed size
    catalogSales(s, dir)
      .join(broadcast(frequent), col("cs_item_sk") === col("f_item"), "left_semi")
      .join(best, col("cs_bill_customer_sk") === col("b_cust"), "left_semi")
      .agg(dsum(col("cs_ext_sales_price"), "total_sales"),
        count(lit(1)).as("n_sales"))
  }

  /** q79: each customer's single most profitable ticket (q79.sql shape:
    * per-ticket aggregate, then per-customer max via a window). */
  def q79(s: SparkSession, dir: String): DataFrame = {
    val perTicket = storeSales(s, dir)
      .join(broadcast(dateDim(s).filter(col("d_dom").between(1, 5) &&
          col("d_year").isin(1998, 1999))),
        col("ss_sold_date_sk") === col("d_date_sk"))
      .join(broadcast(householdDemographics(s).filter(
          col("hd_dep_count") === 6 || col("hd_vehicle_count") > 2)),
        col("ss_hdemo_sk") === col("hd_demo_sk"))
      .groupBy("ss_ticket_number", "ss_customer_sk")
      .agg(dsum(col("ss_coupon_amt"), "amt"), dsum(col("ss_net_profit"), "profit"))
    val byCust = Window.partitionBy("ss_customer_sk")
    perTicket
      .withColumn("max_profit", max("profit").over(byCust))
      .filter(col("profit") === col("max_profit"))
      .join(customerDim(s, dir), col("ss_customer_sk") === col("c_customer_sk"))
      .select("c_last_name", "c_first_name", "ss_ticket_number", "amt", "profit")
      .orderBy("c_last_name", "ss_ticket_number")
  }

  /** q88: eight band counts in one row (q88.sql's 8-scalar-subquery
    * shape, bands on day-of-month). Computed as ONE conditional-
    * aggregation pass — the collapse of the text's eight scalar
    * subqueries into a single scan (8× less fact I/O; the literal
    * broadcast-scalar crossJoin plan shape stays covered by q24/q66). */
  def q88(s: SparkSession, dir: String): DataFrame = {
    val base = storeSales(s, dir)
      .join(broadcast(dateDim(s).filter(col("d_year") === 1998)),
        col("ss_sold_date_sk") === col("d_date_sk"))
      .join(broadcast(store(s).filter(col("s_county") === "County_0")),
        col("ss_store_sk") === col("s_store_sk"))
    val bands = (0 until 8).map(i =>
      count(when(col("d_dom").between(i * 4 + 1, i * 4 + 4), lit(1)))
        .as(s"h$i"))
    base.agg(bands.head, bands.tail: _*)
  }

  /** q89: rolling 3-month average vs monthly sales per (category, store),
    * keeping months that deviate ≥10% (q89.sql's windowed-avg shape). */
  def q89(s: SparkSession, dir: String): DataFrame = {
    val monthly = storeSales(s, dir)
      .join(broadcast(dateDim(s).filter(col("d_year") === 1998)),
        col("ss_sold_date_sk") === col("d_date_sk"))
      .join(broadcast(item(s, dir)), col("ss_item_sk") === col("i_item_sk"))
      .join(broadcast(store(s)), col("ss_store_sk") === col("s_store_sk"))
      .groupBy("i_category", "s_store_name", "d_moy")
      .agg(dsum(col("ss_ext_sales_price"), "sum_sales"))
    val w = Window.partitionBy("i_category", "s_store_name")
      .orderBy("d_moy").rowsBetween(-2, 0)
    monthly
      .withColumn("avg_monthly",
        (sum(col("sum_sales").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
          .over(w).cast("double") / count(lit(1)).over(w)))
      .filter(abs(col("sum_sales") - col("avg_monthly")) > col("avg_monthly") * 0.1)
      .select(col("i_category"), col("s_store_name"), col("d_moy"),
        col("sum_sales"), round(col("avg_monthly"), 4).as("avg_monthly"))
      .orderBy("i_category", "s_store_name", "d_moy")
  }

  /** q96: plain qualifying count through the demographic star (q96.sql). */
  def q96(s: SparkSession, dir: String): DataFrame =
    storeSales(s, dir)
      .join(broadcast(householdDemographics(s).filter(col("hd_dep_count") === 5)),
        col("ss_hdemo_sk") === col("hd_demo_sk"))
      .join(broadcast(dateDim(s).filter(col("d_dow") === 2)),
        col("ss_sold_date_sk") === col("d_date_sk"))
      .join(broadcast(store(s).filter(col("s_city") === "City_2")),
        col("ss_store_sk") === col("s_store_sk"))
      .agg(count(lit(1)).as("cnt"))

  /** q61: promoted vs total revenue ratio as two cross-joined scalar
    * aggregates (q61.sql shape). */
  def q61(s: SparkSession, dir: String): DataFrame = {
    val base = storeSales(s, dir)
      .join(broadcast(dateDim(s).filter(col("d_year") === 1999 && col("d_moy") === 11)),
        col("ss_sold_date_sk") === col("d_date_sk"))
      .join(broadcast(item(s, dir).filter(col("i_category") === "STANDARD")),
        col("ss_item_sk") === col("i_item_sk"))
    val promoted = base
      .join(broadcast(promotion(s).filter(
          col("p_channel_email") === "Y" || col("p_channel_event") === "Y")),
        col("ss_promo_sk") === col("p_promo_sk"))
      .agg(dsum(col("ss_ext_sales_price"), "promotions"))
    val total = base.agg(dsum(col("ss_ext_sales_price"), "total"))
    promoted.crossJoin(total)
      .select(col("promotions"), col("total"),
        round(col("promotions") / col("total") * 100, 6).as("promo_pct"))
  }

  /** q6: states where ≥10 customers bought items priced above 1.02× their
    * category's average price (q06.sql shape: correlated scalar subquery
    * decorrelated into a category-average broadcast; the canonical 1.2×
    * threshold is unreachable against the fixture's 900–1000 uniform
    * retail prices, so the multiplier is scaled to keep the filter live). */
  def q6(s: SparkSession, dir: String): DataFrame = {
    val catAvg = item(s, dir).groupBy(col("i_category").as("j_category"))
      .agg(davg(col("i_current_price"), "cat_avg"))
    val pricey = item(s, dir)
      .join(broadcast(catAvg), col("i_category") === col("j_category"))
      .filter(col("i_current_price") > col("cat_avg") * 1.02)
    storeSales(s, dir)
      .join(broadcast(dateDim(s).filter(col("d_year") === 1999)),
        col("ss_sold_date_sk") === col("d_date_sk"))
      .join(broadcast(pricey.select("i_item_sk")),
        col("ss_item_sk") === col("i_item_sk"))
      .join(customerDim(s, dir), col("ss_customer_sk") === col("c_customer_sk"))
      .join(customerAddress(s, dir), col("c_current_addr_sk") === col("ca_address_sk"))
      .groupBy(col("ca_state").as("state"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 10)
      .orderBy("cnt", "state")
  }

  /** q36: gross-margin ROLLUP(category, class) with the reference's
    * lochierarchy = grouping(cat)+grouping(class) and RANK within the
    * parent grouping level (q36.sql shape). Margin is a division of two
    * decimal-exact sums, so rank keys are bit-identical across engines;
    * the rank ORDER BY carries the category/class tie-break. */
  def q36(s: SparkSession, dir: String): DataFrame = {
    val base = storeSales(s, dir)
      .join(broadcast(dateDim(s).filter(col("d_year") === 1998)),
        col("ss_sold_date_sk") === col("d_date_sk"))
      .join(broadcast(item(s, dir)), col("ss_item_sk") === col("i_item_sk"))
      .join(broadcast(store(s).filter(col("s_state").isin("S0", "S1"))),
        col("ss_store_sk") === col("s_store_sk"))
      .rollup(col("i_category"), col("i_class"))
      .agg((dsum(col("ss_net_profit")) /
          dsum(col("ss_ext_sales_price"))).as("gross_margin"),
        (grouping(col("i_category")) + grouping(col("i_class"))).cast("long")
          .as("lochierarchy"),
        grouping(col("i_category")).as("g_cat"),
        grouping(col("i_class")).as("g_class"))
    val w = Window.partitionBy(col("lochierarchy"),
        when(col("g_class") === 0, col("i_category")))
      .orderBy(asc("gross_margin"), asc_nulls_first("i_category"),
        asc_nulls_first("i_class"))
    base.select(
        round(col("gross_margin"), 8).as("gross_margin"),
        allLabel(col("i_category"), col("g_cat")).as("i_category"),
        allLabel(col("i_class"), col("g_class")).as("i_class"),
        col("lochierarchy"),
        rank().over(w).cast("long").as("rank_within_parent"))
      .orderBy(desc("lochierarchy"), asc("i_category"), asc("i_class"))
  }

  /** q38: customers active in all three channels in a quarter —
    * INTERSECT of the per-channel distinct (name, date) sets (q38.sql). */
  def q38(s: SparkSession, dir: String): DataFrame = {
    val dd = broadcast(dateDim(s).filter(col("d_year") === 1999 && col("d_qoy") === 2))
    val cd = customerDim(s, dir)
    def channel(f: DataFrame, dateK: String, custK: String): DataFrame =
      f.join(dd, col(dateK) === col("d_date_sk"))
        .join(cd, col(custK) === col("c_customer_sk"))
        .select("c_last_name", "c_first_name", "d_date").distinct()
    channel(storeSales(s, dir), "ss_sold_date_sk", "ss_customer_sk")
      .intersect(channel(catalogSales(s, dir), "cs_sold_date_sk", "cs_bill_customer_sk"))
      .intersect(channel(webSales(s, dir), "ws_sold_date_sk", "ws_bill_customer_sk"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** q44: best vs worst items by average net profit at one store — an
    * ascending and a descending rank joined on rank position (q44.sql
    * shape; item_sk tie-breaks both rank orders so the pairing is total). */
  def q44(s: SparkSession, dir: String): DataFrame = {
    val perItem = storeSales(s, dir).filter(col("ss_store_sk") === 2)
      .groupBy(col("ss_item_sk").as("item_sk"))
      .agg(davg(col("ss_net_profit"), "rank_col"))
    // consumed by both the asc and desc rankings: the second reads this
    // aggregate's exchange as a ReusedExchange
    val asc10 = perItem.select(col("item_sk").as("b_item"),
      rank().over(Window.orderBy(asc("rank_col"), asc("item_sk"))).as("rnk"))
      .filter(col("rnk") <= 10)
    val desc10 = perItem.select(col("item_sk").as("w_item"),
      rank().over(Window.orderBy(desc("rank_col"), asc("item_sk"))).as("rnk"))
      .filter(col("rnk") <= 10)
    val it = item(s, dir)
    asc10.join(desc10, "rnk")
      .join(broadcast(it.select(col("i_item_sk"), col("i_item_id").as("best_performing"))),
        col("b_item") === col("i_item_sk"))
      .join(broadcast(it.select(col("i_item_sk").as("i2"), col("i_item_id").as("worst_performing"))),
        col("w_item") === col("i2"))
      .select(col("rnk").cast("long").as("rnk"),
        col("best_performing"), col("worst_performing"))
      .orderBy("rnk")
  }

  /** q48: one quantity total under OR-of-band predicates (demographics ×
    * price band, state set × profit band — q48.sql shape). */
  def q48(s: SparkSession, dir: String): DataFrame =
    storeSales(s, dir)
      .join(broadcast(dateDim(s).filter(col("d_year") === 1999)),
        col("ss_sold_date_sk") === col("d_date_sk"))
      .join(broadcast(customerDemographics(s)),
        col("ss_cdemo_sk") === col("cd_demo_sk"))
      .join(customerDim(s, dir), col("ss_customer_sk") === col("c_customer_sk"))
      .join(customerAddress(s, dir), col("c_current_addr_sk") === col("ca_address_sk"))
      .filter(
        (col("cd_marital_status") === "M" &&
          col("cd_education_status") === "4 yr Degree" &&
          col("ss_sales_price").between(10000, 40000)) ||
        (col("cd_marital_status") === "D" &&
          col("cd_education_status") === "Secondary" &&
          col("ss_sales_price").between(40000, 70000)) ||
        (col("cd_marital_status") === "S" &&
          col("cd_education_status") === "College" &&
          col("ss_sales_price").between(70000, 100000)))
      .filter(
        (col("ca_state").isin("S0", "S1") && col("ss_net_profit").between(0, 2000)) ||
        (col("ca_state") === "S2" && col("ss_net_profit").between(2000, 10000)) ||
        (col("ca_state") === "S3" && col("ss_net_profit").between(10000, 20000)))
      .agg(dsum(col("ss_quantity"), "total_quantity"), count(lit(1)).as("cnt"))

  /** q51: cumulative channel revenue per item over days, FULL OUTER
    * joined, keeping days where one cumulative overtakes the other
    * (q51.sql shape; web vs catalog rather than web vs store so the two
    * ticket-number-split channels are of comparable size and the overtake
    * set is non-trivial). Cumulations stay decimal-exact until the final
    * cast. */
  def q51(s: SparkSession, dir: String): DataFrame = {
    val dd = broadcast(dateDim(s).filter(col("d_year") === 2000 && col("d_moy") <= 2))
    val dec = org.apache.spark.sql.types.DecimalType(18, 6)
    def cumulate(f: DataFrame, dateK: String, itemK: String, rev: String,
        item: String, d: String, cum: String): DataFrame = {
      val daily = f.join(dd, col(dateK) === col("d_date_sk"))
        .filter(col(itemK) % 5 === 0)
        .groupBy(col(itemK).as(item), col("d_date").as(d))
        .agg(sum(col(rev).cast(dec)).as("rev"))
      daily.select(col(item), col(d),
        sum(col("rev")).over(Window.partitionBy(item).orderBy(d)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double").as(cum))
    }
    val web = cumulate(webSales(s, dir), "ws_sold_date_sk", "ws_item_sk",
      "ws_ext_sales_price", "w_item", "w_date", "web_cumulative")
    val cat = cumulate(catalogSales(s, dir), "cs_sold_date_sk", "cs_item_sk",
      "cs_ext_sales_price", "s_item", "s_date", "catalog_cumulative")
    web.join(cat, col("w_item") === col("s_item") && col("w_date") === col("s_date"),
        "full_outer")
      .select(coalesce(col("w_item"), col("s_item")).as("item_sk"),
        coalesce(col("w_date"), col("s_date")).as("d_date"),
        coalesce(col("web_cumulative"), lit(0.0)).as("web_cumulative"),
        coalesce(col("catalog_cumulative"), lit(0.0)).as("catalog_cumulative"))
      .filter(col("web_cumulative") > col("catalog_cumulative"))
      .orderBy("item_sk", "d_date")
  }

  /** q62: days-to-ship buckets by return flag and year (q62.sql's
    * CASE-bucket lag-report shape; the fixture has no l_receiptdate, so
    * the lag is order date → ship date over the co-partitioned
    * lineitem⋈orders join). */
  def q62(s: SparkSession, dir: String): DataFrame = {
    val lag = datediff(col("l_shipdate").cast("date"),
      col("o_orderdate").cast("date"))
    def bucket(c: Column, a: String): Column =
      sum(when(c, 1).otherwise(0)).cast("long").as(a)
    t(s, dir, "lineitem")
      .join(t(s, dir, "orders").select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_returnflag"),
        year(col("l_shipdate").cast("date")).cast("long").as("ship_year"),
        lag.as("lag"))
      .groupBy("l_returnflag", "ship_year")
      .agg(bucket(col("lag") <= 30, "d30"),
        bucket(col("lag") > 30 && col("lag") <= 60, "d60"),
        bucket(col("lag") > 60 && col("lag") <= 90, "d90"),
        bucket(col("lag") > 90 && col("lag") <= 120, "d120"),
        bucket(col("lag") > 120, "dmore"))
      .orderBy("l_returnflag", "ship_year")
  }

  /** q65: store-item pairs whose revenue is at most 10% of that store's
    * average per-item revenue (q65.sql shape: re-aggregated average
    * broadcast back against the per-pair aggregate). */
  def q65(s: SparkSession, dir: String): DataFrame = {
    val dd = broadcast(dateDim(s).filter(col("d_year") === 1998 && col("d_moy") <= 6))
    val perPair = storeSales(s, dir)
      .join(dd, col("ss_sold_date_sk") === col("d_date_sk"))
      .groupBy(col("ss_store_sk").as("store_sk"), col("ss_item_sk").as("item_sk"))
      .agg(dsum(col("ss_sales_price"), "revenue"))
    val perStore = perPair.groupBy(col("store_sk").as("a_store"))
      .agg(davg(col("revenue"), "ave"))
    perPair.join(broadcast(perStore), col("store_sk") === col("a_store"))
      .filter(col("revenue") <= col("ave") * 0.1)
      .join(broadcast(store(s)), col("store_sk") === col("s_store_sk"))
      .join(broadcast(item(s, dir)), col("item_sk") === col("i_item_sk"))
      .select(col("s_store_name"), col("i_item_id"), col("revenue"),
        round(col("ave"), 6).as("store_avg"))
      .orderBy("s_store_name", "i_item_id")
  }

  /** q74: customers whose store-channel year-over-year spend growth beats
    * their web-channel growth (q74/q11 four-way self-join shape on the
    * per-(customer, year, channel) totals). */
  def q74(s: SparkSession, dir: String): DataFrame = {
    val ssy = yearTotals(s, (1999, 2000), storeSales(s, dir),
      "ss_sold_date_sk", "ss_customer_sk", col("ss_net_profit"))
    val wsy = yearTotals(s, (1999, 2000), webSales(s, dir),
      "ws_sold_date_sk", "ws_bill_customer_sk", col("ws_ext_sales_price"))
    val s1 = slice(ssy, 1999, "s1", positive = true)
    val s2 = slice(ssy, 2000, "s2", positive = false)
    val w1 = slice(wsy, 1999, "w1", positive = true)
    val w2 = slice(wsy, 2000, "w2", positive = false)
    s1.join(s2, col("s1_cust") === col("s2_cust"))
      .join(w1, col("s1_cust") === col("w1_cust"))
      .join(w2, col("s1_cust") === col("w2_cust"))
      .filter(col("s2_tot") / col("s1_tot") > col("w2_tot") / col("w1_tot"))
      .join(customerDim(s, dir), col("s1_cust") === col("c_customer_sk"))
      .select(col("c_customer_id").as("customer_id"),
        col("c_first_name"), col("c_last_name"))
      .orderBy("customer_id")
  }

  /** q97: store/catalog (customer, item) pair overlap via FULL OUTER JOIN
    * — counts of store-only, catalog-only, and both (q97.sql shape). */
  def q97(s: SparkSession, dir: String): DataFrame = {
    val dd = broadcast(dateDim(s).filter(col("d_year") === 1999))
    val ssci = storeSales(s, dir)
      .join(dd, col("ss_sold_date_sk") === col("d_date_sk"))
      .select(col("ss_customer_sk").as("s_cust"), col("ss_item_sk").as("s_item"))
      .distinct()
    val csci = catalogSales(s, dir)
      .join(dd, col("cs_sold_date_sk") === col("d_date_sk"))
      .select(col("cs_bill_customer_sk").as("c_cust"), col("cs_item_sk").as("c_item"))
      .distinct()
    ssci.join(csci, col("s_cust") === col("c_cust") && col("s_item") === col("c_item"),
        "full_outer")
      .agg(
        sum(when(col("s_cust").isNotNull && col("c_cust").isNull, 1).otherwise(0))
          .cast("long").as("store_only"),
        sum(when(col("s_cust").isNull && col("c_cust").isNotNull, 1).otherwise(0))
          .cast("long").as("catalog_only"),
        sum(when(col("s_cust").isNotNull && col("c_cust").isNotNull, 1).otherwise(0))
          .cast("long").as("store_and_catalog"))
  }

  /** q31: county-level quarter-over-quarter revenue growth, store channel
    * vs web channel (q31.sql's six-aggregate self-join shape). The two
    * base aggregates shuffle once each; the six quarter slices are then
    * small-broadcast joins on county. Growth ratios divide decimal-exact
    * sums, so the cross-engine comparison is bit-stable. */
  def q31(s: SparkSession, dir: String): DataFrame = {
    val dd = broadcast(dateDim(s).filter(col("d_year") === 1999 &&
      col("d_qoy").between(1, 3)))
    val ca = customerAddress(s, dir)
    val cd = customerDim(s, dir)
    def channel(f: DataFrame, dateK: String, custK: String, rev: String) =
      f.join(dd, col(dateK) === col("d_date_sk"))
        .join(cd, col(custK) === col("c_customer_sk"))
        .join(ca, col("c_current_addr_sk") === col("ca_address_sk"))
        .groupBy(col("ca_county").as("county"), col("d_qoy").as("qoy"))
        .agg(dsum(col(rev), "rev"))
    // each channel aggregate feeds three quarter slices, but the slices
    // filter ABOVE the identical groupBy subtree, so Spark's exchange
    // reuse already computes each channel once (persist() was measured
    // at par and only adds a cache barrier)
    val ss = channel(storeSales(s, dir), "ss_sold_date_sk", "ss_customer_sk",
      "ss_ext_sales_price")
    val ws = channel(webSales(s, dir), "ws_sold_date_sk", "ws_bill_customer_sk",
      "ws_ext_sales_price")
    def slice(base: DataFrame, q: Int, c: String, r: String) =
      base.filter(col("qoy") === q)
        .select(col("county").as(c), col("rev").as(r))
    slice(ss, 1, "county", "ss1")
      .join(slice(ss, 2, "c2", "ss2"), col("county") === col("c2"))
      .join(slice(ss, 3, "c3", "ss3"), col("county") === col("c3"))
      .join(slice(ws, 1, "c4", "ws1"), col("county") === col("c4"))
      .join(slice(ws, 2, "c5", "ws2"), col("county") === col("c5"))
      .join(slice(ws, 3, "c6", "ws3"), col("county") === col("c6"))
      .filter(col("ss1") > 0 && col("ss2") > 0 && col("ws1") > 0 && col("ws2") > 0)
      .filter(col("ws2") / col("ws1") > col("ss2") / col("ss1"))
      .select(col("county"),
        round(col("ss2") / col("ss1"), 6).as("store_q1_q2_increase"),
        round(col("ws2") / col("ws1"), 6).as("web_q1_q2_increase"),
        round(col("ss3") / col("ss2"), 6).as("store_q2_q3_increase"),
        round(col("ws3") / col("ws2"), 6).as("web_q2_q3_increase"))
      .orderBy("county")
  }

  /** q45: web revenue by zip where the zip prefix is in a fixed list OR
    * the item is in a key subquery (q45.sql's OR-of-IN-subquery shape —
    * the semi-join becomes a left join + flag so it can disjoin with the
    * local predicate). */
  def q45(s: SparkSession, dir: String): DataFrame = {
    val hot = item(s, dir).filter(col("i_item_sk") % 97 === 0)
      .select(col("i_item_sk").as("hot_item"), lit(true).as("is_hot"))
    webSales(s, dir)
      .join(broadcast(dateDim(s).filter(col("d_year") === 1999 && col("d_qoy") === 1)),
        col("ws_sold_date_sk") === col("d_date_sk"))
      .join(customerDim(s, dir), col("ws_bill_customer_sk") === col("c_customer_sk"))
      .join(customerAddress(s, dir), col("c_current_addr_sk") === col("ca_address_sk"))
      .join(broadcast(hot), col("ws_item_sk") === col("hot_item"), "left")
      .filter(substring(col("ca_zip"), 1, 2).isin("80", "81", "85") ||
        coalesce(col("is_hot"), lit(false)))
      .groupBy("ca_zip")
      .agg(dsum(col("ws_ext_sales_price"), "total_sales"))
      .orderBy("ca_zip")
  }

  /** q93: per-customer revenue net of returns — store_sales LEFT JOIN
    * store_returns on (ticket, item), paid quantity = sold − returned
    * (q93.sql shape). The join key is the ticket number both facts derive
    * from l_orderkey, so it co-partitions at scale. */
  def q93(s: SparkSession, dir: String): DataFrame =
    // canonical q93.sql: LEFT JOIN returns then WHERE sr_reason_sk =
    // r_reason_sk AND r_reason_desc = '<one reason>' — the reason
    // predicate forces matched-return rows only, so the effective shape
    // is an INNER join against the reason-filtered returns (~1/10 of the
    // returns fact here), which BROADCASTS; the prior twin skipped the
    // reason leg and paid a full fact×fact sort-merge join
    storeSales(s, dir)
      .join(storeReturns(s, dir)
          .join(broadcast(reason(s)
              .filter(col("r_reason_desc") === "reason_7")),
            col("sr_reason_sk") === col("r_reason_sk"))
          .select(col("sr_ticket_number"), col("sr_item_sk"),
            col("sr_return_quantity")),
        col("ss_ticket_number") === col("sr_ticket_number") &&
          col("ss_item_sk") === col("sr_item_sk"))
      .select(col("ss_customer_sk"),
        ((col("ss_quantity") - coalesce(col("sr_return_quantity"), lit(0.0))) *
          col("ss_sales_price")).as("act_sales"))
      .groupBy("ss_customer_sk")
      .agg(dsum(col("act_sales"), "sumsales"))
      .orderBy(asc("sumsales"), asc("ss_customer_sk"))
      .limit(100)

  /** q16: tickets spanning ≥2 stores with no return — EXISTS (another
    * line, different store) + NOT EXISTS (return) + COUNT(DISTINCT)
    * (q16.sql's order-count shape on the store fact). */
  def q16(s: SparkSession, dir: String): DataFrame = {
    val base = storeSales(s, dir)
      .join(broadcast(dateDim(s).filter(col("d_year") === 1999 && col("d_qoy") === 1)),
        col("ss_sold_date_sk") === col("d_date_sk"))
    // EXISTS(other line, different store) is date-unconstrained in the
    // canonical text — computed over the full fact, not the date slice
    val multiStore = storeSales(s, dir)
      .groupBy(col("ss_ticket_number").as("t"))
      .agg(countDistinct(col("ss_store_sk")).as("nstores"))
      .filter(col("nstores") >= 2).select("t")
    val returned = storeReturns(s, dir)
      .select(col("sr_ticket_number").as("rt")).distinct()
    base
      .join(multiStore, col("ss_ticket_number") === col("t"), "left_semi")
      .join(returned, col("ss_ticket_number") === col("rt"), "left_anti")
      .agg(countDistinct(col("ss_ticket_number")).as("order_count"),
        dsum(col("ss_ext_sales_price"), "total_shipping_cost"),
        dsum(col("ss_net_profit"), "total_net_profit"))
  }

  /** q25: bought, returned, then re-bought by the same customer through
    * the catalog channel — the ss ⋈ sr ⋈ cs three-fact chain (q25.sql).
    * sr joins ss on (ticket, item) — the co-partitioned derivation key —
    * and cs joins on (customer, item). */
  def q25(s: SparkSession, dir: String): DataFrame = {
    val dd = broadcast(dateDim(s).filter(col("d_year") === 1998))
    val ss = storeSales(s, dir)
      .join(dd.select(col("d_date_sk").as("d1")), col("ss_sold_date_sk") === col("d1"))
    val sr = storeReturns(s, dir)
      .join(dd.select(col("d_date_sk").as("d2")),
        col("sr_returned_date_sk") === col("d2"))
      .select("sr_ticket_number", "sr_item_sk", "sr_customer_sk", "sr_net_loss")
    val cs = catalogSales(s, dir)
      .join(dd.select(col("d_date_sk").as("d3")), col("cs_sold_date_sk") === col("d3"))
      .select("cs_bill_customer_sk", "cs_item_sk", "cs_ext_sales_price")
    ss.join(sr, col("ss_ticket_number") === col("sr_ticket_number") &&
        col("ss_item_sk") === col("sr_item_sk"))
      .join(cs, col("sr_customer_sk") === col("cs_bill_customer_sk") &&
        col("sr_item_sk") === col("cs_item_sk"))
      .join(broadcast(item(s, dir)), col("ss_item_sk") === col("i_item_sk"))
      .join(broadcast(store(s)), col("ss_store_sk") === col("s_store_sk"))
      .groupBy("i_item_id", "s_store_name")
      .agg(dsum(col("ss_net_profit"), "store_sales_profit"),
        dsum(col("sr_net_loss"), "store_returns_loss"),
        dsum(col("cs_ext_sales_price"), "catalog_sales_rev"))
      .orderBy("i_item_id", "s_store_name")
  }

  /** q28: six independent quantity-band aggregates (avg price, row count,
    * distinct price count) cross-joined into one row (q28.sql). */
  def q28(s: SparkSession, dir: String): DataFrame = {
    val base = storeSales(s, dir)
    def band(i: Int, lo: Int, hi: Int): DataFrame =
      base.filter(col("ss_quantity").between(lo, hi))
        .agg(davg(col("ss_list_price"), s"b${i}_lp"),
          count(lit(1)).as(s"b${i}_cnt"),
          countDistinct(col("ss_list_price")).as(s"b${i}_cntd"))
    band(1, 0, 5).crossJoin(band(2, 6, 10)).crossJoin(band(3, 11, 15))
      .crossJoin(band(4, 16, 20)).crossJoin(band(5, 21, 25))
      .crossJoin(band(6, 26, 30))
  }

  /** q35: customers active in store AND (web OR catalog), grouped by
    * gender × marital status with dependent-count stats (q35.sql's
    * EXISTS AND (EXISTS OR EXISTS) shape as semi-joins over distinct
    * customer sets). */
  def q35(s: SparkSession, dir: String): DataFrame = {
    val dd = broadcast(dateDim(s).filter(col("d_year") === 1999))
    def buyers(f: DataFrame, dateK: String, custK: String): DataFrame =
      f.join(dd, col(dateK) === col("d_date_sk"))
        .select(col(custK).as("b_cust")).distinct()
    val storeB = buyers(storeSales(s, dir), "ss_sold_date_sk", "ss_customer_sk")
    val otherB = buyers(webSales(s, dir), "ws_sold_date_sk", "ws_bill_customer_sk")
      .union(buyers(catalogSales(s, dir), "cs_sold_date_sk", "cs_bill_customer_sk"))
      .distinct()
    customerDim(s, dir)
      .join(storeB, col("c_customer_sk") === storeB("b_cust"), "left_semi")
      .join(otherB, col("c_customer_sk") === otherB("b_cust"), "left_semi")
      .join(broadcast(customerDemographics(s)),
        col("c_current_cdemo_sk") === col("cd_demo_sk"))
      .join(broadcast(householdDemographics(s)),
        col("c_current_hdemo_sk") === col("hd_demo_sk"))
      .groupBy("cd_gender", "cd_marital_status")
      .agg(count(lit(1)).as("cnt"),
        min(col("hd_dep_count")).as("min_dep"),
        max(col("hd_dep_count")).as("max_dep"),
        davg(col("hd_dep_count"), "avg_dep"))
      .orderBy("cd_gender", "cd_marital_status")
  }

  /** q49: worst items by return ratio OR by returned-amount ratio — two
    * rank orders over the ss ⋈ sr per-item aggregate, top-10 of either,
    * tagged and unioned (q49.sql's dual-rank union shape on the store
    * channel; ranks tie-break on item for a total order). */
  def q49(s: SparkSession, dir: String): DataFrame = {
    val dd = broadcast(dateDim(s).filter(col("d_year") === 1998))
    val perItem = storeSales(s, dir)
      .join(dd, col("ss_sold_date_sk") === col("d_date_sk"))
      .join(storeReturns(s, dir)
          .select("sr_ticket_number", "sr_item_sk", "sr_return_quantity",
            "sr_return_amt"),
        col("ss_ticket_number") === col("sr_ticket_number") &&
          col("ss_item_sk") === col("sr_item_sk"), "left")
      .groupBy(col("ss_item_sk").as("item"))
      .agg(dsum(coalesce(col("sr_return_quantity"), lit(0.0)), "ret_qty"),
        dsum(col("ss_quantity"), "sold_qty"),
        dsum(coalesce(col("sr_return_amt"), lit(0.0)), "ret_amt"),
        dsum(col("ss_ext_sales_price"), "sold_amt"))
      .filter(col("sold_qty") > 0 && col("sold_amt") > 0)
      .withColumn("qty_ratio", col("ret_qty") / col("sold_qty"))
      .withColumn("amt_ratio", col("ret_amt") / col("sold_amt"))
    // consumed by both rankings: the second reads this aggregate's
    // exchange as a ReusedExchange
    val byQty = perItem.withColumn("rnk",
      rank().over(Window.orderBy(desc("qty_ratio"), asc("item"))))
      .filter(col("rnk") <= 10).withColumn("which", lit("quantity"))
    val byAmt = perItem.withColumn("rnk",
      rank().over(Window.orderBy(desc("amt_ratio"), asc("item"))))
      .filter(col("rnk") <= 10).withColumn("which", lit("amount"))
    byQty.unionAll(byAmt)
      .select(col("which"), col("rnk").cast("long").as("rnk"), col("item"),
        round(col("qty_ratio"), 6).as("qty_ratio"),
        round(col("amt_ratio"), 6).as("amt_ratio"))
      .orderBy("which", "rnk", "item")
  }

  /** q54-lite: count of customers per revenue segment — an aggregate of
    * an aggregate (per-customer revenue → floor(rev/5000) histogram,
    * q54.sql's segment-count tail shape). */
  def q54(s: SparkSession, dir: String): DataFrame =
    storeSales(s, dir)
      .join(broadcast(dateDim(s).filter(col("d_year") === 1999)),
        col("ss_sold_date_sk") === col("d_date_sk"))
      .groupBy(col("ss_customer_sk").as("cust"))
      .agg(dsum(col("ss_ext_sales_price"), "revenue"))
      .select(floor(col("revenue") / 5000).cast("long").as("segment"))
      .groupBy("segment")
      .agg(count(lit(1)).as("num_customers"))
      .withColumn("segment_base", col("segment") * 5000)
      .orderBy("segment")

  // ---- second slice (round-7): returns, inventory, time-dim, set-op shapes

  private def decSum(c: Column): Column =
    sum(c.cast(org.apache.spark.sql.types.DecimalType(18, 6)))

  /** Day-name pivot cell: decimal-exact conditional sum emitted as double. */
  private def dayPivot(day: String, c: String, a: String): Column =
    decSum(when(col("d_day_name") === day, col(c))).cast("double").as(a)

  /** q1: customers whose store returns exceed 1.2× their store's average —
    * CTE reuse + per-store correlated scalar average (q01.sql shape). The
    * correlated subquery becomes one extra aggregation over the SAME
    * customer_total_return frame, joined back broadcast (store-count
    * rows). */
  def q1(s: SparkSession, dir: String): DataFrame = {
    // the (customer, store) return totals feed TWO consumers (the
    // per-store threshold and the filtered rows). The filtered side
    // carries a not-null filter on the customer key, inferred from the
    // customer join, that the threshold side lacks, so exchange reuse
    // cannot unify them and the aggregate runs once per consumer (the
    // final plan reuses only the date broadcast)
    val ctr = storeReturns(s, dir)
      .join(broadcast(dateDim(s).filter(col("d_year") === 1998)),
        col("sr_returned_date_sk") === col("d_date_sk"))
      .groupBy(col("sr_customer_sk"), col("sr_store_sk"))
      .agg(dsum(col("sr_return_amt"), "ctr_total_return"))
      .select(col("sr_customer_sk").as("ctr_customer_sk"),
        col("sr_store_sk").as("ctr_store_sk"), col("ctr_total_return"))
    val perStore = ctr.groupBy(col("ctr_store_sk").as("a_store_sk"))
      .agg((davg(col("ctr_total_return")) * 1.2).as("return_threshold"))
    ctr.join(broadcast(perStore), col("ctr_store_sk") === col("a_store_sk"))
      .filter(col("ctr_total_return") > col("return_threshold"))
      .join(broadcast(store(s).filter(col("s_state") === "S0")),
        col("ctr_store_sk") === col("s_store_sk"))
      .join(customerDim(s, dir),
        col("ctr_customer_sk") === col("c_customer_sk"))
      .select(col("c_customer_id"))
      .orderBy("c_customer_id").limit(100)
  }

  /** q13: single-row averages under OR-of-AND demographic/address/price
    * bands (q13.sql shape) — the disjunction can't push below the joins, so
    * the planner keeps the star broadcast and filters post-join. */
  def q13(s: SparkSession, dir: String): DataFrame =
    storeSales(s, dir)
      .join(broadcast(dateDim(s).filter(col("d_year") === 1998)),
        col("ss_sold_date_sk") === col("d_date_sk"))
      .join(broadcast(store(s)), col("ss_store_sk") === col("s_store_sk"))
      .join(broadcast(customerDemographics(s)),
        col("ss_cdemo_sk") === col("cd_demo_sk"))
      .join(broadcast(householdDemographics(s)),
        col("ss_hdemo_sk") === col("hd_demo_sk"))
      .join(customerAddress(s, dir), col("ss_addr_sk") === col("ca_address_sk"))
      .filter(
        ((col("cd_marital_status") === "M" &&
            col("cd_education_status") === "4 yr Degree" &&
            col("ss_sales_price").between(1000, 30000) &&
            col("hd_dep_count") === 3) ||
          (col("cd_marital_status") === "S" &&
            col("cd_education_status") === "College" &&
            col("ss_sales_price").between(30000, 60000) &&
            col("hd_dep_count") === 1) ||
          (col("cd_marital_status") === "W" &&
            col("cd_education_status") === "Primary" &&
            col("ss_sales_price").between(60000, 90000) &&
            col("hd_dep_count") === 5)) &&
        ((col("ca_state").isin("S0", "S1") &&
            col("ss_net_profit").between(-5000, 10000)) ||
          (col("ca_state") === "S2" &&
            col("ss_net_profit").between(0, 20000))))
      .agg(davg(col("ss_quantity"), "avg_qty"),
        davg(col("ss_ext_sales_price"), "avg_sales"),
        davg(col("ss_wholesale_cost"), "avg_cost"),
        dsum(col("ss_wholesale_cost"), "sum_cost"))

  /** q32: excess catalog discount — rows whose discount beats 1.3× the
    * per-item window average (q32.sql correlated-avg shape); the correlated
    * average is one aggregation of the shared date-filtered frame. */
  def q32(s: SparkSession, dir: String): DataFrame = {
    // the item filter moves BELOW both consumers (r14): the per-item
    // average is grouped by item, so averaging only the filtered
    // manufacturer's items over the same date slice is value-identical,
    // and the twice-consumed stream shrinks from the whole date slice to
    // ~1/|manufacturers| of it. One consumer aggregates that stream and
    // the other joins its rows, so they share no exchange: the stream is
    // computed once per consumer (the final plan reuses only the
    // dimension broadcasts).
    val cs = catalogSales(s, dir)
      .join(broadcast(dateDim(s).filter(col("d_date")
          .between(Tables.d("1998-03-01"), Tables.d("1998-05-30")))),
        col("cs_sold_date_sk") === col("d_date_sk"))
      .join(broadcast(item(s, dir).filter(col("i_manufact_id") === 7)),
        col("cs_item_sk") === col("i_item_sk"))
      .select("cs_item_sk", "cs_ext_discount_amt")
    val perItem = cs.groupBy(col("cs_item_sk").as("a_item_sk"))
      .agg((davg(col("cs_ext_discount_amt")) * 1.3).as("discount_threshold"))
    cs.join(perItem, col("cs_item_sk") === col("a_item_sk"))
      .filter(col("cs_ext_discount_amt") > col("discount_threshold"))
      .agg(dsum(col("cs_ext_discount_amt"), "excess_discount_amount"))
  }

  /** q43: per-store day-of-week pivot over a year of sales (q43.sql). */
  def q43(s: SparkSession, dir: String): DataFrame =
    storeSales(s, dir)
      .join(broadcast(dateDim(s).filter(col("d_year") === 1998)),
        col("ss_sold_date_sk") === col("d_date_sk"))
      .join(broadcast(store(s)), col("ss_store_sk") === col("s_store_sk"))
      .groupBy("s_store_name", "s_store_sk")
      .agg(dayPivot("Sunday", "ss_sales_price", "sun_sales"),
        dayPivot("Monday", "ss_sales_price", "mon_sales"),
        dayPivot("Tuesday", "ss_sales_price", "tue_sales"),
        dayPivot("Wednesday", "ss_sales_price", "wed_sales"),
        dayPivot("Thursday", "ss_sales_price", "thu_sales"),
        dayPivot("Friday", "ss_sales_price", "fri_sales"),
        dayPivot("Saturday", "ss_sales_price", "sat_sales"))
      .orderBy("s_store_name")

  /** q87: customers who bought in-store but never by catalog or web in the
    * quarter — a three-way EXCEPT DISTINCT at fact scale (q87.sql). */
  def q87(s: SparkSession, dir: String): DataFrame = {
    val d = broadcast(dateDim(s)
      .filter(col("d_year") === 1998 && col("d_moy").between(4, 6)))
    def chan(df: DataFrame, dateCol: String, custCol: String): DataFrame =
      df.join(d, col(dateCol) === col("d_date_sk"))
        .join(customerDim(s, dir), col(custCol) === col("c_customer_sk"))
        .select(col("c_last_name"), col("c_first_name"), col("d_date"))
        .distinct()
    chan(storeSales(s, dir), "ss_sold_date_sk", "ss_customer_sk")
      .except(chan(catalogSales(s, dir), "cs_sold_date_sk", "cs_bill_customer_sk"))
      .except(chan(webSales(s, dir), "ws_sold_date_sk", "ws_bill_customer_sk"))
      .agg(count(lit(1)).as("num_cool"))
  }

  /** q90: morning/evening web-sales ratio through the time dimension
    * (q90.sql). One scan with conditional counts instead of the text's two
    * scalar subqueries — same values, half the fact reads. */
  def q90(s: SparkSession, dir: String): DataFrame =
    webSales(s, dir)
      .join(broadcast(timeDim(s)), col("ws_sold_time_sk") === col("t_time_sk"))
      .join(broadcast(householdDemographics(s).filter(col("hd_dep_count") === 3)),
        col("ws_ship_hdemo_sk") === col("hd_demo_sk"))
      .agg(sum(when(col("t_hour").between(8, 9), 1L).otherwise(0L)).as("amc"),
        sum(when(col("t_hour").between(19, 20), 1L).otherwise(0L)).as("pmc"))
      .select(when(col("pmc") === 0, lit(null))
        .otherwise(col("amc").cast("double") / col("pmc").cast("double"))
        .as("am_pm_ratio"))

  /** q2: catalog+web weekly day-name pivot, this-year vs next-year ratio —
    * the union-then-self-join-on-shifted-week shape (q02.sql). Weeks are
    * keyed by their starting Sunday's year so the boundary week lands in
    * exactly one side. */
  def q2(s: SparkSession, dir: String): DataFrame = {
    val wscs = webSales(s, dir)
      .select(col("ws_sold_date_sk").as("sold_date_sk"),
        col("ws_ext_sales_price").as("sales_price"))
      .unionAll(catalogSales(s, dir)
        .select(col("cs_sold_date_sk"), col("cs_ext_sales_price")))
    val weekly = wscs
      .join(broadcast(dateDim(s)), col("sold_date_sk") === col("d_date_sk"))
      .groupBy("d_week_seq")
      .agg(dayPivot("Sunday", "sales_price", "sun_sales"),
        dayPivot("Monday", "sales_price", "mon_sales"),
        dayPivot("Tuesday", "sales_price", "tue_sales"),
        dayPivot("Wednesday", "sales_price", "wed_sales"),
        dayPivot("Thursday", "sales_price", "thu_sales"),
        dayPivot("Friday", "sales_price", "fri_sales"),
        dayPivot("Saturday", "sales_price", "sat_sales"))
    def weeksOf(yr: Int) = broadcast(dateDim(s)
      .filter(col("d_year") === yr && col("d_date_sk") % 7 === 0)
      .select("d_week_seq"))
    val names = Seq("sun", "mon", "tue", "wed", "thu", "fri", "sat")
    val y = weekly.join(weeksOf(1998), "d_week_seq")
    val z = weekly.join(weeksOf(1999), "d_week_seq").select(
      col("d_week_seq").as("z_week_seq") +:
        names.map(n => col(s"${n}_sales").as(s"${n}_sales2")): _*)
    y.join(z, col("d_week_seq") + 52 === col("z_week_seq"))
      .select(col("d_week_seq") +: names.map { n =>
        val (a, b) = (col(s"${n}_sales"), col(s"${n}_sales2"))
        when(b.isNull || b === 0, lit(null)).otherwise(a / b)
          .as(s"${n}_ratio")
      }: _*)
      .orderBy("d_week_seq")
  }

  /** q8: store profit restricted to zip prefixes that are BOTH in a literal
    * zip list and dense in preferred customers — INTERSECT + HAVING + IN
    * pushed into a broadcast semi-join (q08.sql). */
  def q8(s: SparkSession, dir: String): DataFrame = {
    val ca = customerAddress(s, dir)
    val a1 = ca.filter(col("ca_zip").isin("00013", "00026", "00039", "00052",
        "00065", "00078", "00091", "01300", "02600", "03900"))
      .select(substring(col("ca_zip"), 1, 2).as("zip2")).distinct()
    val a2 = ca
      .join(customerDim(s, dir).filter(col("c_preferred_cust_flag") === "Y"),
        col("ca_address_sk") === col("c_current_addr_sk"))
      .groupBy(substring(col("ca_zip"), 1, 2).as("zip2"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 5).select("zip2")
    storeSales(s, dir)
      .join(broadcast(dateDim(s)
          .filter(col("d_qoy") === 2 && col("d_year") === 1998)),
        col("ss_sold_date_sk") === col("d_date_sk"))
      .join(broadcast(store(s)), col("ss_store_sk") === col("s_store_sk"))
      .join(broadcast(a1.intersect(a2)),
        substring(col("s_zip"), 1, 2) === col("zip2"), "leftsemi")
      .groupBy("s_store_name")
      .agg(dsum(col("ss_net_profit"), "net_profit"))
      .orderBy("s_store_name")
  }

  /** q9: five quantity-band buckets choosing avg(sales) vs avg(profit) by
    * band row count (q09.sql). The text's 15 scalar subqueries (15 fact
    * scans) fold into ONE conditional-aggregate scan — same values. */
  def q9(s: SparkSession, dir: String): DataFrame = {
    val bands = Seq((1, 10), (21, 30), (41, 50), (11, 20), (31, 40))
      .sortBy(_._1)
    val thresholds = Seq(10000L, 12000L, 14000L, 16000L, 18000L)
    val aggs = bands.zipWithIndex.flatMap { case ((lo, hi), i) =>
      val inB = col("ss_quantity").between(lo, hi)
      Seq(sum(when(inB, 1L).otherwise(0L)).as(s"cnt${i + 1}"),
        decSum(when(inB, col("ss_ext_sales_price"))).cast("double").as(s"sp${i + 1}"),
        decSum(when(inB, col("ss_net_profit"))).cast("double").as(s"np${i + 1}"))
    }
    val g = storeSales(s, dir).agg(aggs.head, aggs.tail: _*)
    broadcast(reason(s).filter(col("r_reason_sk") === 1).select("r_reason_sk"))
      .crossJoin(g)
      .select(col("r_reason_sk") +: bands.indices.map { i =>
        when(col(s"cnt${i + 1}") > thresholds(i),
          col(s"sp${i + 1}") / col(s"cnt${i + 1}"))
          .otherwise(col(s"np${i + 1}") / col(s"cnt${i + 1}"))
          .as(s"bucket${i + 1}")
      }: _*)
  }

  /** q21: warehouse inventory before/after a cutover date with a bounded
    * drift ratio (q21.sql) — conditional sums over the weekly snapshots. */
  def q21(s: SparkSession, dir: String): DataFrame =
    inventory(s, dir)
      .join(broadcast(dateDim(s).filter(col("d_date")
          .between(Tables.d("1998-05-01"), Tables.d("1998-07-01")))),
        col("inv_date_sk") === col("d_date_sk"))
      .join(broadcast(warehouse(s)),
        col("inv_warehouse_sk") === col("w_warehouse_sk"))
      .join(broadcast(item(s, dir)
          .filter(col("i_current_price").between(900, 1500))),
        col("inv_item_sk") === col("i_item_sk"))
      .groupBy("w_warehouse_name", "i_item_id")
      .agg(sum(when(col("d_date") < Tables.d("1998-06-01"),
          col("inv_quantity_on_hand")).otherwise(0L)).as("inv_before"),
        sum(when(col("d_date") >= Tables.d("1998-06-01"),
          col("inv_quantity_on_hand")).otherwise(0L)).as("inv_after"))
      .filter(col("inv_before") > 0 &&
        (col("inv_after").cast("double") / col("inv_before").cast("double"))
          .between(lit(2.0) / 3.0, lit(3.0) / 2.0))
      .orderBy("w_warehouse_name", "i_item_id")
      .limit(100)

  /** q37: items in a price/manufacturer band with mid-range on-hand stock
    * that actually sold by catalog — inventory × item with an IN-subquery
    * semi-join on the sales channel (q37.sql). */
  def q37(s: SparkSession, dir: String): DataFrame =
    item(s, dir)
      .filter(col("i_current_price").between(920, 980) &&
        col("i_manufact_id").isin(10, 20, 30, 40))
      .join(inventory(s, dir), col("i_item_sk") === col("inv_item_sk"))
      .join(broadcast(dateDim(s).filter(col("d_date")
          .between(Tables.d("1998-06-01"), Tables.d("1998-07-30")))),
        col("inv_date_sk") === col("d_date_sk"))
      .filter(col("inv_quantity_on_hand").between(100, 500))
      .join(catalogSales(s, dir).select("cs_item_sk"),
        col("i_item_sk") === col("cs_item_sk"), "leftsemi")
      .select("i_item_id", "i_current_price").distinct()
      .orderBy("i_item_id")
      .limit(100)

  /** q39: month-over-month inventory demand variability — per item ×
    * warehouse coefficient of variation for two adjacent months, self-joined
    * (q39.sql). The stdev comes from exact integer sums
    * (sqrt((n·Σx²−(Σx)²)/(n(n−1)))), so both engines emit bit-identical
    * doubles — no floating accumulation order anywhere. */
  def q39(s: SparkSession, dir: String): DataFrame = {
    val monthly = inventory(s, dir)
      .join(broadcast(dateDim(s)
          .filter(col("d_year") === 1998 && col("d_moy").isin(3, 4))),
        col("inv_date_sk") === col("d_date_sk"))
      .groupBy("inv_warehouse_sk", "inv_item_sk", "d_moy")
      .agg(count(lit(1)).as("n"), sum("inv_quantity_on_hand").as("s"),
        sum(col("inv_quantity_on_hand") * col("inv_quantity_on_hand")).as("ssq"))
      .filter(col("n") > 1)
      .withColumn("mean", col("s").cast("double") / col("n").cast("double"))
      .withColumn("cov",
        sqrt((col("n") * col("ssq") - col("s") * col("s")).cast("double") /
          (col("n") * (col("n") - 1)).cast("double")) / col("mean"))
      .filter(col("cov") > 0.5)
    // the March and April sides each push their month filter below this
    // aggregate, so each side aggregates only its own month
    val m1 = monthly.filter(col("d_moy") === 3).select(
      col("inv_warehouse_sk").as("w_warehouse_sk"),
      col("inv_item_sk").as("i_item_sk"),
      col("mean").as("mean1"), col("cov").as("cov1"))
    val m2 = monthly.filter(col("d_moy") === 4).select(
      col("inv_warehouse_sk").as("w2"), col("inv_item_sk").as("i2"),
      col("mean").as("mean2"), col("cov").as("cov2"))
    m1.join(m2, col("w_warehouse_sk") === col("w2") && col("i_item_sk") === col("i2"))
      .select("w_warehouse_sk", "i_item_sk", "mean1", "cov1", "mean2", "cov2")
      .orderBy("w_warehouse_sk", "i_item_sk")
  }

  /** q40: catalog sales net of returns, split before/after a cutover date
    * per warehouse state (q40.sql). Returns pre-aggregate per (order, item)
    * so the LEFT JOIN cannot fan out sales rows. */
  def q40(s: SparkSession, dir: String): DataFrame = {
    val cr = catalogReturns(s, dir)
      .groupBy("cr_order_number", "cr_item_sk")
      .agg(dsum(col("cr_return_amount"), "cr_amt"))
    val net = when(col("d_date") < Tables.d("1998-06-01"),
        col("cs_sales_price") - coalesce(col("cr_amt"), lit(0.0)))
    val netAfter = when(col("d_date") >= Tables.d("1998-06-01"),
        col("cs_sales_price") - coalesce(col("cr_amt"), lit(0.0)))
    catalogSales(s, dir)
      .join(cr, col("cs_order_number") === col("cr_order_number") &&
        col("cs_item_sk") === col("cr_item_sk"), "left")
      .join(broadcast(warehouse(s)),
        col("cs_warehouse_sk") === col("w_warehouse_sk"))
      .join(broadcast(item(s, dir)
          .filter(col("i_current_price").between(920, 980))),
        col("cs_item_sk") === col("i_item_sk"))
      .join(broadcast(dateDim(s).filter(col("d_date")
          .between(Tables.d("1998-05-01"), Tables.d("1998-07-01")))),
        col("cs_sold_date_sk") === col("d_date_sk"))
      .groupBy("w_state", "i_item_id")
      .agg(decSum(net).cast("double").as("sales_before"),
        decSum(netAfter).cast("double").as("sales_after"))
      .orderBy("w_state", "i_item_id")
      .limit(100)
  }

  /** q47: monthly brand×store sales deviating >10% from the yearly average,
    * with previous/next month alongside (q47.sql). The text's two extra
    * self-joins on a rank column become lag/lead over the same sort — one
    * window pass, no re-shuffle, same values. */
  def q47(s: SparkSession, dir: String): DataFrame = {
    val monthly = storeSales(s, dir)
      .join(broadcast(dateDim(s).filter(col("d_year").isin(1998, 1999, 2000))),
        col("ss_sold_date_sk") === col("d_date_sk"))
      .join(broadcast(item(s, dir)), col("ss_item_sk") === col("i_item_sk"))
      .join(broadcast(store(s)), col("ss_store_sk") === col("s_store_sk"))
      .groupBy("i_category", "i_brand", "s_store_name", "d_year", "d_moy")
      .agg(dsum(col("ss_sales_price"), "sum_sales"))
    val byYear = Window.partitionBy("i_category", "i_brand", "s_store_name", "d_year")
    val bySeq = Window.partitionBy("i_category", "i_brand", "s_store_name")
      .orderBy("d_year", "d_moy")
    monthly
      .withColumn("avg_monthly_sales",
        decSum(col("sum_sales")).over(byYear).cast("double") /
          count(lit(1)).over(byYear))
      .withColumn("psum", lag("sum_sales", 1).over(bySeq))
      .withColumn("nsum", lead("sum_sales", 1).over(bySeq))
      .filter(col("d_year") === 1999 && col("avg_monthly_sales") > 0 &&
        abs(col("sum_sales") - col("avg_monthly_sales")) /
          col("avg_monthly_sales") > 0.1)
      .select("i_category", "i_brand", "s_store_name", "d_year", "d_moy",
        "sum_sales", "avg_monthly_sales", "psum", "nsum")
      .orderBy("i_category", "i_brand", "s_store_name", "d_moy")
  }

  /** q50: return-settlement latency buckets per store — sales joined to
    * their returns on the (ticket, item, customer) compound key, counting
    * 30/60/90/120-day settlement bands (q50.sql shape over the derived
    * sr_settled_date_sk). */
  def q50(s: SparkSession, dir: String): DataFrame = {
    val lat = col("sr_settled_date_sk") - col("ss_sold_date_sk")
    def band(c: Column, a: String) =
      sum(when(c, 1L).otherwise(0L)).as(a)
    storeSales(s, dir)
      .join(storeReturns(s, dir),
        col("ss_ticket_number") === col("sr_ticket_number") &&
          col("ss_item_sk") === col("sr_item_sk") &&
          col("ss_customer_sk") === col("sr_customer_sk"))
      .join(broadcast(store(s)), col("ss_store_sk") === col("s_store_sk"))
      .join(broadcast(dateDim(s)
          .filter(col("d_year") === 1998 && col("d_moy") === 8)
          .select(col("d_date_sk").as("d2_sk"))),
        col("sr_settled_date_sk") === col("d2_sk"))
      .groupBy("s_store_name", "s_state")
      .agg(band(lat <= 30, "d30"),
        band(lat > 30 && lat <= 60, "d31_60"),
        band(lat > 60 && lat <= 90, "d61_90"),
        band(lat > 90 && lat <= 120, "d91_120"),
        band(lat > 120, "dgt120"))
      .orderBy("s_store_name", "s_state")
  }

  /** q67: six-level ROLLUP over category/class/brand/item/quarter/month
    * ranked within category, top 10 per category (q67.sql). The rank's
    * ORDER BY carries the full dim chain (NULLS FIRST) so ties at equal
    * sumsales stay deterministic across engines. */
  def q67(s: SparkSession, dir: String): DataFrame = {
    // two-phase rollup (same move as q22): collapse the fact to the
    // finest (item, qoy, moy) grain first — decimal partial sums
    // re-aggregate exactly — so the 7× grouping-set expand runs over the
    // ~|items|×months pre-aggregate instead of store_sales
    val results = storeSales(s, dir)
      .join(broadcast(dateDim(s).filter(col("d_year") === 1998)),
        col("ss_sold_date_sk") === col("d_date_sk"))
      .join(broadcast(item(s, dir)), col("ss_item_sk") === col("i_item_sk"))
      .groupBy(col("i_category"), col("i_class"), col("i_brand"),
        col("i_item_id"), col("d_qoy"), col("d_moy"))
      .agg(decSum(col("ss_sales_price") * col("ss_quantity")).as("pre_s"))
      .rollup(col("i_category"), col("i_class"), col("i_brand"),
        col("i_item_id"), col("d_qoy"), col("d_moy"))
      .agg(sum(col("pre_s")).cast("double").as("sumsales"),
        grouping(col("i_category")).as("_g0"),
        grouping(col("i_class")).as("_g1"),
        grouping(col("i_brand")).as("_g2"),
        grouping(col("i_item_id")).as("_g3"))
    val w = Window.partitionBy("i_category")
      .orderBy(desc("sumsales"), asc_nulls_first("i_class"),
        asc_nulls_first("i_brand"), asc_nulls_first("i_item_id"),
        asc_nulls_first("d_qoy"), asc_nulls_first("d_moy"))
    results.withColumn("rk", rank().over(w).cast("long"))
      .filter(col("rk") <= 10)
      .select(allLabel(col("i_category"), col("_g0")).as("i_category"),
        allLabel(col("i_class"), col("_g1")).as("i_class"),
        allLabel(col("i_brand"), col("_g2")).as("i_brand"),
        allLabel(col("i_item_id"), col("_g3")).as("i_item_id"),
        col("d_qoy"), col("d_moy"), col("sumsales"), col("rk"))
      .orderBy(asc("i_category"), asc("rk"), asc("i_class"), asc("i_brand"),
        asc("i_item_id"), asc_nulls_first("d_qoy"), asc_nulls_first("d_moy"))
  }

  /** q26: catalog demographic + promotion star with four averages —
    * the catalog-channel analogue of q7 (q26.sql). */
  def q26(s: SparkSession, dir: String): DataFrame =
    catalogSales(s, dir)
      .join(broadcast(customerDemographics(s).filter(
          col("cd_gender") === "F" && col("cd_marital_status") === "D" &&
            col("cd_education_status") === "Secondary")),
        col("cs_bill_cdemo_sk") === col("cd_demo_sk"))
      .join(broadcast(dateDim(s).filter(col("d_year") === 1999)),
        col("cs_sold_date_sk") === col("d_date_sk"))
      .join(broadcast(promotion(s).filter(
          col("p_channel_email") === "N" || col("p_channel_event") === "N")),
        col("cs_promo_sk") === col("p_promo_sk"))
      .join(broadcast(item(s, dir)), col("cs_item_sk") === col("i_item_sk"))
      .groupBy("i_item_id")
      .agg(davg(col("cs_quantity"), "agg1"),
        davg(col("cs_list_price"), "agg2"),
        davg(col("cs_ext_discount_amt"), "agg3"),
        davg(col("cs_sales_price"), "agg4"))
      .orderBy("i_item_id")
      .limit(100)

  /** q53: quarterly manufacturer sales deviating from the manufacturer's
    * average (q53.sql) — window average over the quarterly aggregate. */
  def q53(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("i_manufact_id")
    storeSales(s, dir)
      .join(broadcast(dateDim(s).filter(col("d_year") === 1998)),
        col("ss_sold_date_sk") === col("d_date_sk"))
      .join(broadcast(item(s, dir)), col("ss_item_sk") === col("i_item_sk"))
      .groupBy("i_manufact_id", "d_qoy")
      .agg(dsum(col("ss_sales_price"), "sum_sales"))
      .withColumn("avg_quarterly_sales",
        decSum(col("sum_sales")).over(w).cast("double") /
          count(lit(1)).over(w))
      .filter(col("avg_quarterly_sales") > 0 &&
        abs(col("sum_sales") - col("avg_quarterly_sales")) /
          col("avg_quarterly_sales") > 0.1)
      .select("i_manufact_id", "d_qoy", "sum_sales", "avg_quarterly_sales")
      .orderBy("i_manufact_id", "d_qoy")
  }

  /** q58: items whose 1998 revenue is within ±20% across all three
    * channels — three per-item aggregates pairwise band-joined (q58.sql).
    * The store side takes the ticket%3=0 slice so all three channels are
    * same-scale disjoint partitions of the derived fact (our catalog/web
    * are the %3=1/2 slices — against the FULL store fact every ratio
    * would sit near 3 and the band would be vacuous). */
  def q58(s: SparkSession, dir: String): DataFrame = {
    val d = broadcast(dateDim(s).filter(col("d_year") === 1998))
    def rev(df: DataFrame, dateCol: String, itemCol: String, a: String) =
      df.join(d, col(dateCol) === col("d_date_sk"))
        .join(broadcast(item(s, dir)), col(itemCol) === col("i_item_sk"))
        .groupBy(col("i_item_id").as(s"${a}_item_id"))
        .agg(dsum(col(df.columns.find(_.endsWith("ext_sales_price")).get),
          s"${a}_rev"))
    val ss = rev(storeSales(s, dir).filter(col("ss_ticket_number") % 3 === 0),
      "ss_sold_date_sk", "ss_item_sk", "ss")
    val cs = rev(catalogSales(s, dir), "cs_sold_date_sk", "cs_item_sk", "cs")
    val ws = rev(webSales(s, dir), "ws_sold_date_sk", "ws_item_sk", "ws")
    ss.join(cs, col("ss_item_id") === col("cs_item_id"))
      .join(ws, col("ss_item_id") === col("ws_item_id"))
      .filter(
        col("ss_rev").between(col("cs_rev") * 0.8, col("cs_rev") * 1.2) &&
        col("ss_rev").between(col("ws_rev") * 0.8, col("ws_rev") * 1.2) &&
        col("cs_rev").between(col("ss_rev") * 0.8, col("ss_rev") * 1.2) &&
        col("cs_rev").between(col("ws_rev") * 0.8, col("ws_rev") * 1.2) &&
        col("ws_rev").between(col("ss_rev") * 0.8, col("ss_rev") * 1.2) &&
        col("ws_rev").between(col("cs_rev") * 0.8, col("cs_rev") * 1.2))
      .select(col("ss_item_id").as("item_id"), col("ss_rev"), col("cs_rev"),
        col("ws_rev"),
        ((col("ss_rev") + col("cs_rev") + col("ws_rev")) / 3.0).as("average"))
      .orderBy("item_id")
      .limit(100)
  }

  /** q59: week-over-year store revenue ratios — the per-store version of
    * q2's shifted-week self-join, through the store dimension (q59.sql). */
  def q59(s: SparkSession, dir: String): DataFrame = {
    val names = Seq("sun", "mon", "tue", "wed", "thu", "fri", "sat")
    val weekly = storeSales(s, dir)
      .join(broadcast(dateDim(s)), col("ss_sold_date_sk") === col("d_date_sk"))
      .groupBy("ss_store_sk", "d_week_seq")
      .agg(dayPivot("Sunday", "ss_sales_price", "sun_sales"),
        dayPivot("Monday", "ss_sales_price", "mon_sales"),
        dayPivot("Tuesday", "ss_sales_price", "tue_sales"),
        dayPivot("Wednesday", "ss_sales_price", "wed_sales"),
        dayPivot("Thursday", "ss_sales_price", "thu_sales"),
        dayPivot("Friday", "ss_sales_price", "fri_sales"),
        dayPivot("Saturday", "ss_sales_price", "sat_sales"))
    def weeksOf(yr: Int) = broadcast(dateDim(s)
      .filter(col("d_year") === yr && col("d_date_sk") % 7 === 0)
      .select("d_week_seq"))
    val y = weekly.join(weeksOf(1998), "d_week_seq")
    val z = weekly.join(weeksOf(1999), "d_week_seq").select(
      Seq(col("d_week_seq").as("z_week_seq"),
        col("ss_store_sk").as("z_store_sk")) ++
        names.map(n => col(s"${n}_sales").as(s"${n}_sales2")): _*)
    y.join(z, col("d_week_seq") + 52 === col("z_week_seq") &&
        col("ss_store_sk") === col("z_store_sk"))
      .join(broadcast(store(s)), col("ss_store_sk") === col("s_store_sk"))
      .select(Seq(col("s_store_name"), col("d_week_seq")) ++ names.map { n =>
        val (a, b) = (col(s"${n}_sales"), col(s"${n}_sales2"))
        when(b.isNull || b === 0, lit(null)).otherwise(a / b).as(s"${n}_ratio")
      }: _*)
      .orderBy("s_store_name", "d_week_seq")
  }

  /** q66: warehouse-level monthly sales pivot over the web+catalog union,
    * restricted to a time-of-day band and two ship modes (q66.sql). */
  def q66(s: SparkSession, dir: String): DataFrame = {
    val web = webSales(s, dir).select(
      col("ws_warehouse_sk").as("wsk"), col("ws_sold_date_sk").as("dsk"),
      col("ws_sold_time_sk").as("tsk"), col("ws_ship_mode_sk").as("smk"),
      (col("ws_ext_sales_price") * col("ws_quantity")).as("sales"))
    val cat = catalogSales(s, dir).select(
      col("cs_warehouse_sk"), col("cs_sold_date_sk"),
      col("cs_sold_time_sk"), col("cs_ship_mode_sk"),
      (col("cs_ext_sales_price") * col("cs_quantity")).as("sales"))
    def month(m: Int): Column =
      decSum(when(col("d_moy") === m, col("sales"))).cast("double")
        .as(s"m${m}_sales")
    web.unionAll(cat)
      .join(broadcast(dateDim(s).filter(col("d_year") === 1998)),
        col("dsk") === col("d_date_sk"))
      .join(broadcast(timeDim(s)
          .filter(col("t_hour") >= 7 && col("t_hour") <= 13)),
        col("tsk") === col("t_time_sk"))
      .join(broadcast(shipMode(s).filter(col("sm_type").isin("EXPRESS", "SEA"))),
        col("smk") === col("sm_ship_mode_sk"))
      .join(broadcast(warehouse(s)), col("wsk") === col("w_warehouse_sk"))
      .groupBy("w_warehouse_name", "w_warehouse_sq_ft")
      .agg(month(1), month(2), month(3), month(4), month(5), month(6),
        month(7), month(8), month(9), month(10), month(11), month(12))
      .orderBy("w_warehouse_name")
  }

  /** q70: profit ROLLUP over state/county restricted to the top-profit
    * states, rank within hierarchy level (q70.sql) — the top-states
    * pre-selection is itself a windowed aggregate semi-join. */
  def q70(s: SparkSession, dir: String): DataFrame = {
    val topStates = storeSales(s, dir)
      .join(broadcast(dateDim(s).filter(col("d_year") === 1998)),
        col("ss_sold_date_sk") === col("d_date_sk"))
      .join(broadcast(store(s)), col("ss_store_sk") === col("s_store_sk"))
      .groupBy(col("s_state").as("top_state"))
      .agg(dsum(col("ss_net_profit"), "state_profit"))
      .withColumn("rk", rank().over(
        Window.orderBy(desc("state_profit"), asc("top_state"))))
      .filter(col("rk") <= 2).select("top_state")
    val base = storeSales(s, dir)
      .join(broadcast(dateDim(s).filter(col("d_year") === 1998)),
        col("ss_sold_date_sk") === col("d_date_sk"))
      .join(broadcast(store(s)), col("ss_store_sk") === col("s_store_sk"))
      .join(broadcast(topStates), col("s_state") === col("top_state"), "leftsemi")
      .rollup(col("s_state"), col("s_county"))
      .agg(dsum(col("ss_net_profit"), "total_sum"),
        (grouping(col("s_state")) + grouping(col("s_county"))).cast("long")
          .as("lochierarchy"),
        grouping(col("s_state")).as("g_state"),
        grouping(col("s_county")).as("g_county"))
    val w = Window.partitionBy(col("lochierarchy"),
        when(col("g_county") === 0, col("s_state")))
      .orderBy(desc("total_sum"), asc_nulls_first("s_state"),
        asc_nulls_first("s_county"))
    base.select(col("total_sum"),
        allLabel(col("s_state"), col("g_state")).as("s_state"),
        allLabel(col("s_county"), col("g_county")).as("s_county"),
        col("lochierarchy"),
        rank().over(w).cast("long").as("rank_within_parent"))
      .orderBy(desc("lochierarchy"), asc("s_state"), asc("s_county"))
  }

  /** q22: average on-hand inventory over a 4-level item ROLLUP (q22.sql).
    * TWO-PHASE rollup: Spark's ROLLUP expands every input row once per
    * grouping set (5× the INVENTORY fact — the largest DS table); since
    * avg re-aggregates as sum-of-decimal-sums / sum-of-counts exactly,
    * phase 1 collapses the fact to one row per finest-level item group
    * and only that ~items-sized pre-aggregate expands. At 100 TB this is
    * the difference between shuffling 5× the fact and 5× the item
    * dimension. */
  def q22(s: SparkSession, dir: String): DataFrame =
    inventory(s, dir)
      .join(broadcast(dateDim(s).filter(col("d_year") === 1998)),
        col("inv_date_sk") === col("d_date_sk"))
      .join(broadcast(item(s, dir)), col("inv_item_sk") === col("i_item_sk"))
      .groupBy(col("i_item_id"), col("i_brand"), col("i_class"), col("i_category"))
      .agg(sum(col("inv_quantity_on_hand")
          .cast(org.apache.spark.sql.types.DecimalType(18, 6))).as("pre_s"),
        count(col("inv_quantity_on_hand")).as("pre_c"))
      .rollup(col("i_item_id"), col("i_brand"), col("i_class"), col("i_category"))
      .agg((sum(col("pre_s")).cast(org.apache.spark.sql.types.DoubleType) /
        sum(col("pre_c"))).as("qoh"),
        grouping(col("i_item_id")).as("_g0"), grouping(col("i_brand")).as("_g1"),
        grouping(col("i_class")).as("_g2"), grouping(col("i_category")).as("_g3"))
      .select(allLabel(col("i_item_id"), col("_g0")).as("i_item_id"),
        allLabel(col("i_brand"), col("_g1")).as("i_brand"),
        allLabel(col("i_class"), col("_g2")).as("i_class"),
        allLabel(col("i_category"), col("_g3")).as("i_category"), col("qoh"))
      .orderBy("qoh", "i_item_id", "i_brand", "i_class", "i_category")
      .limit(100)

  /** q72: catalog orders short on same-week inventory, split by promotion
    * presence (q72.sql). The inventory side joins on (item, week) as ONE
    * equi-join — item-only first would cross every order with 366 snapshot
    * weeks before the week filter could run. */
  def q72(s: SparkSession, dir: String): DataFrame = {
    val d1998 = dateDim(s).filter(col("d_year") === 1998)
    // prune the inventory fact to the queried year's snapshot weeks BEFORE
    // the (item, week) fact⋈fact join — a broadcast semi-filter on the
    // week grid cuts ~7/8 of the snapshots at the scan, the same move a
    // 100 TB plan needs (inventory carries every historical week)
    val inv = inventory(s, dir)
      .withColumn("inv_week", floor(col("inv_date_sk") / 7).cast("long"))
      .join(broadcast(d1998.select(col("d_week_seq").as("wk")).distinct()),
        col("inv_week") === col("wk"), "leftsemi")
    catalogSales(s, dir)
      .join(broadcast(d1998
          .select(col("d_date_sk").as("d1_sk"), col("d_week_seq"))),
        col("cs_sold_date_sk") === col("d1_sk"))
      .join(inv, col("cs_item_sk") === col("inv_item_sk") &&
        col("d_week_seq") === col("inv_week"))
      .filter(col("inv_quantity_on_hand") < col("cs_quantity"))
      .join(broadcast(warehouse(s)),
        col("inv_warehouse_sk") === col("w_warehouse_sk"))
      .join(broadcast(promotion(s)
          .select(col("p_promo_sk"), col("p_channel_email"))),
        col("cs_promo_sk") === col("p_promo_sk") &&
          col("p_channel_email") === "N", "left")
      .join(broadcast(item(s, dir)), col("cs_item_sk") === col("i_item_sk"))
      .groupBy("i_item_id", "w_warehouse_name", "d_week_seq")
      .agg(sum(when(col("p_promo_sk").isNull, 1L).otherwise(0L)).as("no_promo"),
        sum(when(col("p_promo_sk").isNotNull, 1L).otherwise(0L)).as("promo"),
        count(lit(1)).as("total_cnt"))
      .orderBy("i_item_id", "w_warehouse_name", "d_week_seq")
      .limit(100)
  }

  /** q75: brands whose net sold quantity (sales minus returns, all three
    * channels) dropped below 90% of the prior year (q75.sql). */
  def q75(s: SparkSession, dir: String): DataFrame = {
    val it = broadcast(item(s, dir).filter(col("i_category") === "PROMO")
      .select("i_item_sk", "i_brand_id"))
    val dd = broadcast(dateDim(s).select("d_date_sk", "d_year"))
    def chan(sales: DataFrame, ret: DataFrame, dCol: String, iCol: String,
        qCol: String, oCol: String, rO: String, rI: String, rQ: String) =
      sales.join(
          ret.groupBy(col(rO).as("r_o"), col(rI).as("r_i"))
            .agg(decSum(col(rQ)).cast("double").as("r_qty")),
          col(oCol) === col("r_o") && col(iCol) === col("r_i"), "left")
        .join(dd, col(dCol) === col("d_date_sk"))
        .join(it, col(iCol) === col("i_item_sk"))
        .select(col("d_year"), col("i_brand_id"),
          (col(qCol) - coalesce(col("r_qty"), lit(0.0))).as("net_qty"))
    val all =
      chan(storeSales(s, dir), storeReturns(s, dir), "ss_sold_date_sk",
        "ss_item_sk", "ss_quantity", "ss_ticket_number",
        "sr_ticket_number", "sr_item_sk", "sr_return_quantity")
      .unionAll(chan(catalogSales(s, dir), catalogReturns(s, dir),
        "cs_sold_date_sk", "cs_item_sk", "cs_quantity", "cs_order_number",
        "cr_order_number", "cr_item_sk", "cr_return_quantity"))
      .unionAll(chan(webSales(s, dir), webReturns(s, dir),
        "ws_sold_date_sk", "ws_item_sk", "ws_quantity", "ws_order_number",
        "wr_order_number", "wr_item_sk", "wr_return_quantity"))
    // the current and prior-year sides each push their year filter below
    // this aggregate, so each aggregates only its own year of the union
    val tot = all.groupBy("d_year", "i_brand_id")
      .agg(decSum(col("net_qty")).cast("double").as("sales_cnt"))
    val curr = tot.filter(col("d_year") === 1999)
      .select(col("i_brand_id").as("b"), col("sales_cnt").as("curr_cnt"))
    val prev = tot.filter(col("d_year") === 1998)
      .select(col("i_brand_id").as("pb"), col("sales_cnt").as("prev_cnt"))
    curr.join(prev, col("b") === col("pb"))
      .filter(col("prev_cnt") > 0 &&
        col("curr_cnt") / col("prev_cnt") < 0.9)
      .select(lit(1998L).as("prev_year"), lit(1999L).as("curr_year"),
        col("b").as("i_brand_id"), col("prev_cnt"), col("curr_cnt"),
        (col("curr_cnt") / col("prev_cnt")).as("sales_ratio"))
      .orderBy("i_brand_id")
  }

  /** q78: store-vs-web per-item yearly quantities over UNRETURNED sales —
    * anti-join each channel against its returns, then ratio (q78.sql). */
  def q78(s: SparkSession, dir: String): DataFrame = {
    val dd = broadcast(dateDim(s).select("d_date_sk", "d_year"))
    val ss = storeSales(s, dir)
      .join(storeReturns(s, dir)
          .select(col("sr_ticket_number").as("r_t"), col("sr_item_sk").as("r_i")),
        col("ss_ticket_number") === col("r_t") &&
          col("ss_item_sk") === col("r_i"), "leftanti")
      .join(dd, col("ss_sold_date_sk") === col("d_date_sk"))
      .groupBy(col("d_year").as("ss_year"), col("ss_item_sk"))
      .agg(decSum(col("ss_quantity")).cast("double").as("ss_qty"),
        dsum(col("ss_ext_sales_price"), "ss_amt"))
    val ws = webSales(s, dir)
      .join(webReturns(s, dir)
          .select(col("wr_order_number").as("r_o"), col("wr_item_sk").as("r_i")),
        col("ws_order_number") === col("r_o") &&
          col("ws_item_sk") === col("r_i"), "leftanti")
      .join(dd, col("ws_sold_date_sk") === col("d_date_sk"))
      .groupBy(col("d_year").as("ws_year"), col("ws_item_sk"))
      .agg(decSum(col("ws_quantity")).cast("double").as("ws_qty"),
        dsum(col("ws_ext_sales_price"), "ws_amt"))
    ss.join(ws, col("ss_year") === col("ws_year") &&
        col("ss_item_sk") === col("ws_item_sk"))
      .filter(col("ws_qty") > 0)
      .select(col("ss_year").as("d_year"), col("ss_item_sk").as("i_item_sk"),
        (col("ss_qty") / col("ws_qty")).as("ratio"),
        col("ss_qty"), col("ws_qty"), col("ss_amt"), col("ws_amt"))
      .orderBy("d_year", "i_item_sk")
      .limit(100)
  }

  /** q84: customers in one city within an income band who returned in
    * store — the customer→address→household→income_band dimension chain
    * closed by a returns semi-join (q84.sql). */
  def q84(s: SparkSession, dir: String): DataFrame =
    customerDim(s, dir)
      .join(customerAddress(s, dir).filter(col("ca_city") === "City_5"),
        col("c_current_addr_sk") === col("ca_address_sk"))
      .join(broadcast(householdDemographics(s)),
        col("c_current_hdemo_sk") === col("hd_demo_sk"))
      .join(broadcast(incomeBand(s).filter(
          col("ib_lower_bound") >= 30000 && col("ib_upper_bound") <= 80000)),
        col("hd_income_band_sk") === col("ib_income_band_sk"))
      .join(storeReturns(s, dir).select(col("sr_customer_sk")),
        col("c_customer_sk") === col("sr_customer_sk"), "leftsemi")
      .select(col("c_customer_id").as("customer_id"),
        concat(col("c_last_name"), lit(", "), col("c_first_name"))
          .as("customername"))
      .orderBy("customer_id")
      .limit(100)

  /** q17: store sale → its return → catalog re-purchase, with count/avg/
    * coefficient-of-variation per leg (q17.sql). Stats come from exact
    * decimal sums of x and x² so both engines emit identical doubles. */
  def q17(s: SparkSession, dir: String): DataFrame = {
    def leg(c: Column, p: String): Seq[Column] = {
      val n = count(c)
      val sm = decSum(c).cast("double")
      val sq = decSum(c * c).cast("double")
      val mean = sm / n.cast("double")
      val cov = when(n > 1,
        sqrt((n.cast("double") * sq - sm * sm) /
          (n.cast("double") * (n.cast("double") - 1.0))) / mean)
      Seq(n.cast("long").as(s"${p}_count"), mean.as(s"${p}_avg"),
        cov.as(s"${p}_cov"))
    }
    storeSales(s, dir)
      .join(storeReturns(s, dir),
        col("ss_ticket_number") === col("sr_ticket_number") &&
          col("ss_item_sk") === col("sr_item_sk") &&
          col("ss_customer_sk") === col("sr_customer_sk"))
      .join(catalogSales(s, dir),
        col("sr_customer_sk") === col("cs_bill_customer_sk") &&
          col("sr_item_sk") === col("cs_item_sk"))
      .join(broadcast(dateDim(s)
          .filter(col("d_year") === 1998 && col("d_qoy") === 1)
          .select(col("d_date_sk").as("d1_sk"))),
        col("ss_sold_date_sk") === col("d1_sk"))
      .join(broadcast(dateDim(s)
          .filter(col("d_year") === 1998 && col("d_qoy").between(1, 3))
          .select(col("d_date_sk").as("d2_sk"))),
        col("sr_returned_date_sk") === col("d2_sk"))
      .join(broadcast(dateDim(s)
          .filter(col("d_year") === 1998 && col("d_qoy").between(1, 3))
          .select(col("d_date_sk").as("d3_sk"))),
        col("cs_sold_date_sk") === col("d3_sk"))
      .join(broadcast(store(s)), col("ss_store_sk") === col("s_store_sk"))
      .join(broadcast(item(s, dir)), col("ss_item_sk") === col("i_item_sk"))
      .groupBy("i_item_id", "s_state")
      .agg(leg(col("ss_quantity"), "ss").head,
        (leg(col("ss_quantity"), "ss").tail ++
          leg(col("sr_return_quantity"), "sr") ++
          leg(col("cs_quantity"), "cs")): _*)
      .orderBy("i_item_id", "s_state")
      .limit(100)
  }

  /** q41: distinct items of manufacturers that carry at least one item in
    * the given category/class combinations (q41.sql) — the correlated
    * count > 0 becomes a semi-join on the qualifying manufacturer set. */
  def q41(s: SparkSession, dir: String): DataFrame = {
    val qual = item(s, dir).filter(
        (col("i_category") === "SMALL" &&
          col("i_class").isin("CLASS_1", "CLASS_3")) ||
        (col("i_category") === "LARGE" &&
          col("i_class").isin("CLASS_2", "CLASS_5")) ||
        (col("i_category") === "PROMO" &&
          col("i_class").isin("CLASS_0", "CLASS_7")))
      .select(col("i_manufact_id").as("qm")).distinct()
    item(s, dir).filter(col("i_manufact_id").between(20, 60))
      .join(broadcast(qual), col("i_manufact_id") === col("qm"), "leftsemi")
      .select("i_item_id").distinct()
      .orderBy("i_item_id").limit(100)
  }

  /** q71: brand revenue in the breakfast/dinner hours across all three
    * channels — union through item, date and time dimensions (q71.sql). */
  def q71(s: SparkSession, dir: String): DataFrame = {
    val union = webSales(s, dir).select(
        col("ws_ext_sales_price").as("ext_price"),
        col("ws_item_sk").as("sold_item_sk"),
        col("ws_sold_time_sk").as("time_sk"),
        col("ws_sold_date_sk").as("sold_date_sk"))
      .unionAll(catalogSales(s, dir).select(col("cs_ext_sales_price"),
        col("cs_item_sk"), col("cs_sold_time_sk"), col("cs_sold_date_sk")))
      .unionAll(storeSales(s, dir).select(col("ss_ext_sales_price"),
        col("ss_item_sk"), col("ss_sold_time_sk"), col("ss_sold_date_sk")))
    union
      .join(broadcast(dateDim(s)
          .filter(col("d_moy") === 11 && col("d_year") === 1998)),
        col("sold_date_sk") === col("d_date_sk"))
      .join(broadcast(item(s, dir).filter(col("i_manager_id") === 7)),
        col("sold_item_sk") === col("i_item_sk"))
      .join(broadcast(timeDim(s).filter(
          col("t_hour").between(8, 9) || col("t_hour").between(19, 20))),
        col("time_sk") === col("t_time_sk"))
      .groupBy("i_brand_id", "i_brand", "t_hour", "t_minute")
      .agg(dsum(col("ext_price"), "ext_price"))
      .orderBy(desc("ext_price"), asc("i_brand_id"), asc("t_hour"),
        asc("t_minute"))
  }

  /** q77: per-channel sales vs returns profit report — sales and returns
    * aggregated per channel key, joined (left for keyed returns, cross for
    * the catalog totals), unioned, then a channel ROLLUP (q77.sql). */
  def q77(s: SparkSession, dir: String): DataFrame = {
    val d = broadcast(dateDim(s).filter(col("d_date")
        .between(Tables.d("1998-08-01"), Tables.d("1998-09-30")))
      .select("d_date_sk"))
    val ssP = storeSales(s, dir).join(d, col("ss_sold_date_sk") === col("d_date_sk"))
      .groupBy(col("ss_store_sk").as("id"))
      .agg(dsum(col("ss_ext_sales_price"), "sales"),
        dsum(col("ss_net_profit"), "gross_profit"))
    val srP = storeReturns(s, dir).join(d, col("sr_returned_date_sk") === col("d_date_sk"))
      .groupBy(col("sr_store_sk").as("rid"))
      .agg(dsum(col("sr_return_amt"), "returns_"),
        dsum(col("sr_net_loss"), "loss"))
    val storeCh = ssP.join(srP, col("id") === col("rid"), "left")
      .select(lit("store channel").as("channel"), col("id"), col("sales"),
        coalesce(col("returns_"), lit(0.0)).as("returns_"),
        (col("gross_profit") - coalesce(col("loss"), lit(0.0))).as("profit"))
    val csP = catalogSales(s, dir).join(d, col("cs_sold_date_sk") === col("d_date_sk"))
      .groupBy(col("cs_warehouse_sk").as("id"))
      .agg(dsum(col("cs_ext_sales_price"), "sales"),
        dsum(col("cs_sales_price"), "gross_profit"))
    val crT = catalogReturns(s, dir).join(d, col("cr_returned_date_sk") === col("d_date_sk"))
      .agg(dsum(col("cr_return_amount"), "returns_"),
        dsum(col("cr_return_amount"), "loss"))
    val catalogCh = csP.crossJoin(broadcast(crT))
      .select(lit("catalog channel").as("channel"), col("id"), col("sales"),
        coalesce(col("returns_"), lit(0.0)).as("returns_"),
        (col("gross_profit") - coalesce(col("loss"), lit(0.0))).as("profit"))
    val wsP = webSales(s, dir).join(d, col("ws_sold_date_sk") === col("d_date_sk"))
      .groupBy(col("ws_warehouse_sk").as("id"))
      .agg(dsum(col("ws_ext_sales_price"), "sales"),
        dsum(col("ws_ext_sales_price"), "gross_profit"))
    val wrP = webReturns(s, dir).join(d, col("wr_returned_date_sk") === col("d_date_sk"))
      .groupBy(col("wr_warehouse_sk").as("rid"))
      .agg(dsum(col("wr_return_amt"), "returns_"),
        dsum(col("wr_net_loss"), "loss"))
    val webCh = wsP.join(wrP, col("id") === col("rid"), "left")
      .select(lit("web channel").as("channel"), col("id"), col("sales"),
        coalesce(col("returns_"), lit(0.0)).as("returns_"),
        (col("gross_profit") - coalesce(col("loss"), lit(0.0))).as("profit"))
    storeCh.unionAll(catalogCh).unionAll(webCh)
      .rollup(col("channel"), col("id"))
      .agg(decSum(col("sales")).cast("double").as("sales"),
        decSum(col("returns_")).cast("double").as("returns_"),
        decSum(col("profit")).cast("double").as("profit"),
        grouping(col("channel")).as("_g0"))
      .select(allLabel(col("channel"), col("_g0")).as("channel"), col("id"),
        col("sales"), col("returns_"), col("profit"))
      .orderBy(asc("channel"), asc_nulls_first("id"))
      .limit(100)
  }

  /** q85: web returns through reason and refunding-demographic bands —
    * quantity-band OR predicates over the returns join, averaged per
    * return reason (q85.sql). */
  def q85(s: SparkSession, dir: String): DataFrame =
    webSales(s, dir)
      .join(webReturns(s, dir),
        col("ws_order_number") === col("wr_order_number") &&
          col("ws_item_sk") === col("wr_item_sk"))
      .join(broadcast(reason(s)), col("wr_reason_sk") === col("r_reason_sk"))
      .join(broadcast(customerDemographics(s)),
        col("wr_refunded_cdemo_sk") === col("cd_demo_sk"))
      .filter(
        (col("cd_marital_status") === "M" &&
          col("cd_education_status") === "4 yr Degree" &&
          col("ws_quantity").between(1, 20)) ||
        (col("cd_marital_status") === "S" &&
          col("cd_education_status") === "College" &&
          col("ws_quantity").between(21, 35)) ||
        (col("cd_marital_status") === "W" &&
          col("cd_education_status") === "Primary" &&
          col("ws_quantity").between(36, 50)))
      .groupBy("r_reason_desc")
      .agg(davg(col("ws_quantity"), "avg_qty"),
        davg(col("wr_return_amt"), "avg_refund"))
      .orderBy("r_reason_desc")

  /** q95: returned web orders that shipped from more than one warehouse —
    * a self-join multi-warehouse set, a returns semi-join, and distinct
    * order counting (q95.sql). */
  def q95(s: SparkSession, dir: String): DataFrame = {
    val ws = webSales(s, dir)
    val multiWh = ws.select(col("ws_order_number").as("o1"),
        col("ws_warehouse_sk").as("w1"))
      .join(ws.select(col("ws_order_number").as("o2"),
          col("ws_warehouse_sk").as("w2")),
        col("o1") === col("o2") && col("w1") =!= col("w2"))
      .select(col("o1").as("mw_order")).distinct()
    ws.join(broadcast(dateDim(s).filter(col("d_date")
          .between(Tables.d("1998-02-01"), Tables.d("1998-03-31")))),
        col("ws_sold_date_sk") === col("d_date_sk"))
      .join(multiWh, col("ws_order_number") === col("mw_order"), "leftsemi")
      .join(webReturns(s, dir).select("wr_order_number"),
        col("ws_order_number") === col("wr_order_number"), "leftsemi")
      .agg(countDistinct(col("ws_order_number")).as("order_count"),
        dsum(col("ws_ext_sales_price"), "total_price"))
  }

  // ---- channel-analog completions: the reference suite repeats several
  // templates once per channel (q12/q20/q98, q32/q92, q37/q82, q53/q63,
  // q47/q57, q36/q86, q33/q56/q60, q1/q30/q81, q62/q99, q68/q46, q94/q95,
  // q35/q69). The shared template is ONE parameterized builder here; each
  // qNN entry instantiates it with its channel's fact/keys/filters.

  /** q12/q20 template: class-partitioned revenue ratio (q98's shape). */
  private def revenueRatio(s: SparkSession, dir: String, f: DataFrame,
      dateK: String, itemK: String, priceC: String): DataFrame = {
    val grouped = f
      .join(broadcast(dateDim(s).filter(
          col("d_date") >= Tables.d("1999-02-01") &&
            col("d_date") <= Tables.d("1999-03-01"))),
        col(dateK) === col("d_date_sk"))
      .join(broadcast(item(s, dir).filter(
          col("i_category").isin("SMALL", "LARGE", "MEDIUM"))),
        col(itemK) === col("i_item_sk"))
      .groupBy("i_item_id", "i_category", "i_class", "i_current_price")
      .agg(dsum(col(priceC), "itemrevenue"))
    grouped.select(col("i_item_id"), col("i_category"), col("i_class"),
        col("i_current_price"), col("itemrevenue"),
        (col("itemrevenue") * 100 /
          decSum(col("itemrevenue")).over(Window.partitionBy("i_class"))
            .cast("double")).as("revenueratio"))
      .orderBy("i_category", "i_class", "i_item_id")
  }

  def q12(s: SparkSession, dir: String): DataFrame =
    revenueRatio(s, dir, webSales(s, dir), "ws_sold_date_sk", "ws_item_sk",
      "ws_ext_sales_price")

  def q20(s: SparkSession, dir: String): DataFrame =
    revenueRatio(s, dir, catalogSales(s, dir), "cs_sold_date_sk",
      "cs_item_sk", "cs_ext_sales_price")

  /** q63: q53's deviation template on the store-manager rollout months. */
  def q63(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("i_manager_id")
    storeSales(s, dir)
      .join(broadcast(dateDim(s).filter(col("d_year") === 1998)),
        col("ss_sold_date_sk") === col("d_date_sk"))
      .join(broadcast(item(s, dir)), col("ss_item_sk") === col("i_item_sk"))
      .groupBy("i_manager_id", "d_moy")
      .agg(dsum(col("ss_sales_price"), "sum_sales"))
      .withColumn("avg_monthly_sales",
        decSum(col("sum_sales")).over(w).cast("double") /
          count(lit(1)).over(w))
      .filter(col("avg_monthly_sales") > 0 &&
        abs(col("sum_sales") - col("avg_monthly_sales")) /
          col("avg_monthly_sales") > 0.1)
      .select("i_manager_id", "d_moy", "sum_sales", "avg_monthly_sales")
      .orderBy("i_manager_id", "d_moy")
  }

  /** q82: q37's stock/price-band template on the store channel. */
  def q82(s: SparkSession, dir: String): DataFrame =
    item(s, dir)
      .filter(col("i_current_price").between(920, 980) &&
        col("i_manufact_id").isin(15, 25, 35, 45))
      .join(inventory(s, dir), col("i_item_sk") === col("inv_item_sk"))
      .join(broadcast(dateDim(s).filter(col("d_date")
          .between(Tables.d("1998-06-01"), Tables.d("1998-07-30")))),
        col("inv_date_sk") === col("d_date_sk"))
      .filter(col("inv_quantity_on_hand").between(100, 500))
      .join(storeSales(s, dir).select("ss_item_sk"),
        col("i_item_sk") === col("ss_item_sk"), "leftsemi")
      .select("i_item_id", "i_current_price").distinct()
      .orderBy("i_item_id")
      .limit(100)

  /** q92: q32's excess-discount template on the web channel. */
  def q92(s: SparkSession, dir: String): DataFrame = {
    // same item-filter pushdown as q32
    val ws = webSales(s, dir)
      .join(broadcast(dateDim(s).filter(col("d_date")
          .between(Tables.d("1998-03-01"), Tables.d("1998-05-30")))),
        col("ws_sold_date_sk") === col("d_date_sk"))
      .join(broadcast(item(s, dir).filter(col("i_manufact_id") === 9)),
        col("ws_item_sk") === col("i_item_sk"))
      .select("ws_item_sk", "ws_ext_discount_amt")
    val perItem = ws.groupBy(col("ws_item_sk").as("a_item_sk"))
      .agg((davg(col("ws_ext_discount_amt")) * 1.3).as("discount_threshold"))
    ws.join(perItem, col("ws_item_sk") === col("a_item_sk"))
      .filter(col("ws_ext_discount_amt") > col("discount_threshold"))
      .agg(dsum(col("ws_ext_discount_amt"), "excess_discount_amount"))
  }

  /** q99: q62's latency-bucket template on catalog, keyed by warehouse and
    * ship mode over the derived cs_ship_date_sk. */
  def q99(s: SparkSession, dir: String): DataFrame = {
    val lag = col("cs_ship_date_sk") - col("cs_sold_date_sk")
    def bucket(c: Column, a: String): Column =
      sum(when(c, 1L).otherwise(0L)).as(a)
    catalogSales(s, dir)
      .join(broadcast(dateDim(s).filter(col("d_year") === 1998)),
        col("cs_sold_date_sk") === col("d_date_sk"))
      .join(broadcast(warehouse(s)),
        col("cs_warehouse_sk") === col("w_warehouse_sk"))
      .join(broadcast(shipMode(s)),
        col("cs_ship_mode_sk") === col("sm_ship_mode_sk"))
      .groupBy("w_warehouse_name", "sm_type")
      .agg(bucket(lag <= 30, "d30"),
        bucket(lag > 30 && lag <= 60, "d60"),
        bucket(lag > 60 && lag <= 90, "d90"),
        bucket(lag > 90 && lag <= 120, "d120"),
        bucket(lag > 120, "dmore"))
      .orderBy("w_warehouse_name", "sm_type")
  }

  /** q86: q36's gross-margin ROLLUP rank on the web channel. */
  def q86(s: SparkSession, dir: String): DataFrame = {
    val base = webSales(s, dir)
      .join(broadcast(dateDim(s).filter(col("d_year") === 1998)),
        col("ws_sold_date_sk") === col("d_date_sk"))
      .join(broadcast(item(s, dir)), col("ws_item_sk") === col("i_item_sk"))
      .rollup(col("i_category"), col("i_class"))
      .agg((dsum(col("ws_net_profit")) /
          dsum(col("ws_ext_sales_price"))).as("gross_margin"),
        (grouping(col("i_category")) + grouping(col("i_class"))).cast("long")
          .as("lochierarchy"),
        grouping(col("i_category")).as("g_cat"),
        grouping(col("i_class")).as("g_class"))
    val w = Window.partitionBy(col("lochierarchy"),
        when(col("g_class") === 0, col("i_category")))
      .orderBy(asc("gross_margin"), asc_nulls_first("i_category"),
        asc_nulls_first("i_class"))
    base.select(round(col("gross_margin"), 8).as("gross_margin"),
        allLabel(col("i_category"), col("g_cat")).as("i_category"),
        allLabel(col("i_class"), col("g_class")).as("i_class"),
        col("lochierarchy"),
        rank().over(w).cast("long").as("rank_within_parent"))
      .orderBy(desc("lochierarchy"), asc("i_category"), asc("i_class"))
  }

  /** q33/q56 template: three-channel union re-aggregated on an item
    * attribute (q60's shape on a different key). */
  private def unionByItemAttr(s: SparkSession, dir: String, attr: String,
      itemFilter: Column): DataFrame = {
    val dd = broadcast(dateDim(s)
      .filter(col("d_year") === 1999 && col("d_moy") === 9))
    val it = broadcast(item(s, dir).filter(itemFilter))
    def channel(f: DataFrame, dateK: String, itemK: String, price: String) =
      f.join(dd, col(dateK) === col("d_date_sk"))
        .join(it, col(itemK) === col("i_item_sk"))
        .groupBy(attr).agg(dsum(col(price), "total"))
    channel(storeSales(s, dir), "ss_sold_date_sk", "ss_item_sk",
        "ss_ext_sales_price")
      .unionAll(channel(catalogSales(s, dir), "cs_sold_date_sk", "cs_item_sk",
        "cs_ext_sales_price"))
      .unionAll(channel(webSales(s, dir), "ws_sold_date_sk", "ws_item_sk",
        "ws_ext_sales_price"))
      .groupBy(attr).agg(decSum(col("total")).cast("double").as("total_sales"))
      .orderBy(attr)
  }

  def q33(s: SparkSession, dir: String): DataFrame =
    unionByItemAttr(s, dir, "i_manufact_id", col("i_category") === "ECONOMY")

  def q56(s: SparkSession, dir: String): DataFrame =
    unionByItemAttr(s, dir, "i_class",
      col("i_category").isin("SMALL", "PROMO"))

  /** q30/q81 template: customers returning over 1.2× their state's average
    * (q1's correlated-average shape keyed by the customer's state). */
  private def stateReturners(s: SparkSession, dir: String, ret: DataFrame,
      custK: String, amtK: String): DataFrame = {
    // two consumers of one aggregate, as in q1's ctr; here the customer
    // join sits inside the shared subtree, so both consumers are the same
    // subtree and the second reads the first's aggregate exchange as a
    // ReusedExchange: the returns⋈customer⋈address aggregation runs once
    val ctr = ret
      .join(customerDim(s, dir), col(custK) === col("c_customer_sk"))
      .join(customerAddress(s, dir),
        col("c_current_addr_sk") === col("ca_address_sk"))
      .groupBy(col(custK), col("ca_state"))
      .agg(dsum(col(amtK), "ctr_total_return"))
      .select(col(custK).as("ctr_customer_sk"),
        col("ca_state").as("ctr_state"), col("ctr_total_return"))
    val perState = ctr.groupBy(col("ctr_state").as("a_state"))
      .agg((davg(col("ctr_total_return")) * 1.2).as("return_threshold"))
    ctr.join(broadcast(perState), col("ctr_state") === col("a_state"))
      .filter(col("ctr_total_return") > col("return_threshold"))
      .join(customerDim(s, dir),
        col("ctr_customer_sk") === col("c_customer_sk"))
      .select(col("c_customer_id"), col("c_last_name"), col("c_first_name"),
        col("ctr_state"), col("ctr_total_return"))
      .orderBy("c_customer_id", "ctr_state")
      .limit(100)
  }

  def q81(s: SparkSession, dir: String): DataFrame =
    stateReturners(s, dir, catalogReturns(s, dir),
      "cr_returning_customer_sk", "cr_return_amount")

  def q30(s: SparkSession, dir: String): DataFrame =
    stateReturners(s, dir, webReturns(s, dir),
      "wr_returning_customer_sk", "wr_return_amt")

  /** q46: q68's bought-city/home-city template on weekend tickets. */
  def q46(s: SparkSession, dir: String): DataFrame = {
    val dn = storeSales(s, dir)
      .join(broadcast(dateDim(s).filter(
          col("d_dow").isin(0, 6) && col("d_year").isin(1998, 1999, 2000))),
        col("ss_sold_date_sk") === col("d_date_sk"))
      .join(broadcast(store(s).filter(col("s_city").isin("City_2", "City_3"))),
        col("ss_store_sk") === col("s_store_sk"))
      .join(broadcast(householdDemographics(s).filter(
          col("hd_dep_count") === 5 || col("hd_vehicle_count") === 2)),
        col("ss_hdemo_sk") === col("hd_demo_sk"))
      .join(customerAddress(s, dir), col("ss_addr_sk") === col("ca_address_sk"))
      .groupBy(col("ss_ticket_number"), col("ss_customer_sk"),
        col("ca_city").as("bought_city"))
      .agg(dsum(col("ss_coupon_amt"), "amt"),
        dsum(col("ss_net_profit"), "profit"))
    dn.join(customerDim(s, dir), col("ss_customer_sk") === col("c_customer_sk"))
      .join(customerAddress(s, dir).withColumnRenamed("ca_city", "home_city"),
        col("c_current_addr_sk") === col("ca_address_sk"))
      .filter(col("home_city") =!= col("bought_city"))
      .select("c_last_name", "c_first_name", "home_city", "bought_city",
        "ss_ticket_number", "amt", "profit")
      .orderBy("c_last_name", "ss_ticket_number")
  }

  /** q57: q47's lag/lead deviation template on the catalog channel keyed
    * by warehouse. */
  def q57(s: SparkSession, dir: String): DataFrame = {
    val monthly = catalogSales(s, dir)
      .join(broadcast(dateDim(s).filter(col("d_year").isin(1998, 1999, 2000))),
        col("cs_sold_date_sk") === col("d_date_sk"))
      .join(broadcast(item(s, dir)), col("cs_item_sk") === col("i_item_sk"))
      .join(broadcast(warehouse(s)),
        col("cs_warehouse_sk") === col("w_warehouse_sk"))
      .groupBy("i_category", "i_brand", "w_warehouse_name", "d_year", "d_moy")
      .agg(dsum(col("cs_sales_price"), "sum_sales"))
    val byYear = Window.partitionBy("i_category", "i_brand",
      "w_warehouse_name", "d_year")
    val bySeq = Window.partitionBy("i_category", "i_brand", "w_warehouse_name")
      .orderBy("d_year", "d_moy")
    monthly
      .withColumn("avg_monthly_sales",
        decSum(col("sum_sales")).over(byYear).cast("double") /
          count(lit(1)).over(byYear))
      .withColumn("psum", lag("sum_sales", 1).over(bySeq))
      .withColumn("nsum", lead("sum_sales", 1).over(bySeq))
      .filter(col("d_year") === 1999 && col("avg_monthly_sales") > 0 &&
        abs(col("sum_sales") - col("avg_monthly_sales")) /
          col("avg_monthly_sales") > 0.1)
      .select("i_category", "i_brand", "w_warehouse_name", "d_year", "d_moy",
        "sum_sales", "avg_monthly_sales", "psum", "nsum")
      .orderBy("i_category", "i_brand", "w_warehouse_name", "d_moy")
  }

  /** q94: q95's multi-warehouse template with the returns side NEGATED —
    * shipped orders never returned. */
  def q94(s: SparkSession, dir: String): DataFrame = {
    val ws = webSales(s, dir)
    val multiWh = ws.select(col("ws_order_number").as("o1"),
        col("ws_warehouse_sk").as("w1"))
      .join(ws.select(col("ws_order_number").as("o2"),
          col("ws_warehouse_sk").as("w2")),
        col("o1") === col("o2") && col("w1") =!= col("w2"))
      .select(col("o1").as("mw_order")).distinct()
    ws.join(broadcast(dateDim(s).filter(col("d_date")
          .between(Tables.d("1998-02-01"), Tables.d("1998-03-31")))),
        col("ws_sold_date_sk") === col("d_date_sk"))
      .join(multiWh, col("ws_order_number") === col("mw_order"), "leftsemi")
      .join(webReturns(s, dir).select("wr_order_number"),
        col("ws_order_number") === col("wr_order_number"), "leftanti")
      .agg(countDistinct(col("ws_order_number")).as("order_count"),
        dsum(col("ws_ext_sales_price"), "total_price"))
  }

  /** q18: catalog averages over a 3-level geography ROLLUP through the
    * bill-customer demographic slice (q18.sql). */
  def q18(s: SparkSession, dir: String): DataFrame =
    catalogSales(s, dir)
      .join(broadcast(customerDemographics(s).filter(
          col("cd_gender") === "M" && col("cd_education_status") === "College")),
        col("cs_bill_cdemo_sk") === col("cd_demo_sk"))
      .join(broadcast(dateDim(s).filter(col("d_year") === 1998)),
        col("cs_sold_date_sk") === col("d_date_sk"))
      .join(customerDim(s, dir),
        col("cs_bill_customer_sk") === col("c_customer_sk"))
      .join(customerAddress(s, dir),
        col("c_current_addr_sk") === col("ca_address_sk"))
      .join(broadcast(item(s, dir)), col("cs_item_sk") === col("i_item_sk"))
      .rollup(col("ca_state"), col("ca_county"), col("i_item_id"))
      .agg(davg(col("cs_quantity"), "agg1"),
        davg(col("cs_list_price"), "agg2"),
        davg(col("cs_ext_discount_amt"), "agg3"),
        davg(col("cs_sales_price"), "agg4"),
        grouping(col("ca_state")).as("_g0"),
        grouping(col("ca_county")).as("_g1"),
        grouping(col("i_item_id")).as("_g2"))
      .select(allLabel(col("ca_state"), col("_g0")).as("ca_state"),
        allLabel(col("ca_county"), col("_g1")).as("ca_county"),
        allLabel(col("i_item_id"), col("_g2")).as("i_item_id"),
        col("agg1"), col("agg2"), col("agg3"), col("agg4"))
      .orderBy("ca_state", "ca_county", "i_item_id")
      .limit(100)

  /** q69: q35's demographic census with the other channels NEGATED —
    * store buyers with no web or catalog purchase in the year. */
  def q69(s: SparkSession, dir: String): DataFrame = {
    val dd = broadcast(dateDim(s).filter(col("d_year") === 1999))
    def buyers(f: DataFrame, dateK: String, custK: String): DataFrame =
      f.join(dd, col(dateK) === col("d_date_sk"))
        .select(col(custK).as("b_cust")).distinct()
    val storeB = buyers(storeSales(s, dir), "ss_sold_date_sk", "ss_customer_sk")
    val otherB = buyers(webSales(s, dir), "ws_sold_date_sk", "ws_bill_customer_sk")
      .union(buyers(catalogSales(s, dir), "cs_sold_date_sk", "cs_bill_customer_sk"))
      .distinct()
    customerDim(s, dir)
      .join(storeB, col("c_customer_sk") === storeB("b_cust"), "left_semi")
      .join(otherB, col("c_customer_sk") === otherB("b_cust"), "left_anti")
      .join(broadcast(customerDemographics(s)),
        col("c_current_cdemo_sk") === col("cd_demo_sk"))
      .groupBy("cd_gender", "cd_marital_status", "cd_education_status")
      .agg(count(lit(1)).as("cnt"))
      .orderBy("cd_gender", "cd_marital_status", "cd_education_status")
  }

  /** q4/q11/q74 template: per-customer per-channel totals for the two
    * `years`; `slice` then carves the year views out of them. Each
    * slice's year filter is pushed below this aggregate, so each slice
    * aggregates only its own year of the fact. */
  private def yearTotals(s: SparkSession, years: (Int, Int), f: DataFrame,
      dateK: String, custK: String, rev: Column): DataFrame =
    f.join(broadcast(dateDim(s).filter(col("d_year").isin(years._1, years._2))
        .select("d_date_sk", "d_year")),
        col(dateK) === col("d_date_sk"))
      .groupBy(col(custK).as("cust"), col("d_year"))
      .agg(dsum(rev, "tot"))

  private def slice(yt: DataFrame, yr: Int, p: String,
      positive: Boolean): DataFrame = {
    val base = yt.filter(col("d_year") === yr)
    (if (positive) base.filter(col("tot") > 0) else base)
      .select(col("cust").as(s"${p}_cust"), col("tot").as(s"${p}_tot"))
  }

  /** q4: customers whose catalog growth outpaces BOTH store and web growth
    * — six per-channel year totals joined on the customer (q04.sql). */
  def q4(s: SparkSession, dir: String): DataFrame = {
    val ssy = yearTotals(s, (1998, 1999), storeSales(s, dir),
      "ss_sold_date_sk", "ss_customer_sk", col("ss_ext_sales_price"))
    val csy = yearTotals(s, (1998, 1999), catalogSales(s, dir),
      "cs_sold_date_sk", "cs_bill_customer_sk", col("cs_ext_sales_price"))
    val wsy = yearTotals(s, (1998, 1999), webSales(s, dir),
      "ws_sold_date_sk", "ws_bill_customer_sk", col("ws_ext_sales_price"))
    val ss1 = slice(ssy, 1998, "ss1", positive = true)
    val ss2 = slice(ssy, 1999, "ss2", positive = false)
    val cs1 = slice(csy, 1998, "cs1", positive = true)
    val cs2 = slice(csy, 1999, "cs2", positive = false)
    val ws1 = slice(wsy, 1998, "ws1", positive = true)
    val ws2 = slice(wsy, 1999, "ws2", positive = false)
    ss1.join(ss2, col("ss1_cust") === col("ss2_cust"))
      .join(cs1, col("ss1_cust") === col("cs1_cust"))
      .join(cs2, col("ss1_cust") === col("cs2_cust"))
      .join(ws1, col("ss1_cust") === col("ws1_cust"))
      .join(ws2, col("ss1_cust") === col("ws2_cust"))
      .filter(col("cs2_tot") / col("cs1_tot") > col("ss2_tot") / col("ss1_tot") &&
        col("cs2_tot") / col("cs1_tot") > col("ws2_tot") / col("ws1_tot"))
      .join(customerDim(s, dir), col("ss1_cust") === col("c_customer_sk"))
      .select(col("c_customer_id").as("customer_id"), col("c_first_name"),
        col("c_last_name"))
      .orderBy("customer_id")
  }

  /** q11: q74's store-vs-web growth on the list-minus-discount metric. */
  def q11(s: SparkSession, dir: String): DataFrame = {
    val ssy = yearTotals(s, (1998, 1999), storeSales(s, dir),
      "ss_sold_date_sk", "ss_customer_sk",
      col("ss_list_price") - col("ss_coupon_amt"))
    val wsy = yearTotals(s, (1998, 1999), webSales(s, dir),
      "ws_sold_date_sk", "ws_bill_customer_sk", col("ws_ext_sales_price"))
    val s1 = slice(ssy, 1998, "s1", positive = true)
    val s2 = slice(ssy, 1999, "s2", positive = false)
    val w1 = slice(wsy, 1998, "w1", positive = true)
    val w2 = slice(wsy, 1999, "w2", positive = false)
    s1.join(s2, col("s1_cust") === col("s2_cust"))
      .join(w1, col("s1_cust") === col("w1_cust"))
      .join(w2, col("s1_cust") === col("w2_cust"))
      .filter(col("w2_tot") / col("w1_tot") > col("s2_tot") / col("s1_tot"))
      .join(customerDim(s, dir), col("s1_cust") === col("c_customer_sk"))
      .select(col("c_customer_id").as("customer_id"), col("c_first_name"),
        col("c_last_name"))
      .orderBy("customer_id")
  }

  /** q10: demographic census of county residents who bought in store AND
    * in at least one of web/catalog (q10.sql — q35 with an OR side). */
  def q10(s: SparkSession, dir: String): DataFrame = {
    val dd = broadcast(dateDim(s).filter(col("d_year") === 1999))
    def buyers(f: DataFrame, dateK: String, custK: String): DataFrame =
      f.join(dd, col(dateK) === col("d_date_sk"))
        .select(col(custK).as("b_cust")).distinct()
    val storeB = buyers(storeSales(s, dir), "ss_sold_date_sk", "ss_customer_sk")
    val otherB = buyers(webSales(s, dir), "ws_sold_date_sk", "ws_bill_customer_sk")
      .union(buyers(catalogSales(s, dir), "cs_sold_date_sk",
        "cs_bill_customer_sk")).distinct()
    customerDim(s, dir)
      .join(customerAddress(s, dir)
          .filter(col("ca_county").isin("County_1", "County_4", "County_7")),
        col("c_current_addr_sk") === col("ca_address_sk"))
      .join(storeB, col("c_customer_sk") === storeB("b_cust"), "left_semi")
      .join(otherB, col("c_customer_sk") === otherB("b_cust"), "left_semi")
      .join(broadcast(customerDemographics(s)),
        col("c_current_cdemo_sk") === col("cd_demo_sk"))
      .groupBy("cd_gender", "cd_marital_status", "cd_education_status")
      .agg(count(lit(1)).as("cnt"))
      .orderBy("cd_gender", "cd_marital_status", "cd_education_status")
  }

  /** q14: items sold through ALL three channels (INTERSECT), channel
    * sales over that cross-item set against the global per-item-year
    * average, re-aggregated by ROLLUP (q14.sql's cross_items + avg_sales
    * skeleton). */
  def q14(s: SparkSession, dir: String): DataFrame = {
    val dd = broadcast(dateDim(s).filter(col("d_year").between(1998, 2000))
      .select("d_date_sk", "d_year", "d_moy"))
    def tagged(f: DataFrame, dateK: String, itemK: String, price: String,
        qty: String, name: String): DataFrame =
      f.join(dd, col(dateK) === col("d_date_sk"))
        .select(lit(name).as("channel"), col(itemK).as("i"), col("d_year"),
          col("d_moy"), (col(price) * col(qty)).as("v"))
    // a small per-(channel, item, YEAR) DECIMAL pre-aggregate over the
    // three channel facts, with December-report companion columns, feeds
    // all three consumers (cross-items, global average, December report).
    // Each consumer prunes it to the columns it reads, so the final plan
    // computes three pruned copies of it (exchange reuse shares only the
    // dimension broadcasts). The former r12 shape kept a (channel, item,
    // year, month) grain, which is 12× more groups than any consumer needs —
    // the December report reads conditional partials (svd_dec/cnt_dec)
    // instead of month rows. Decimal partials re-sum exactly and a
    // cnt_dec null (no December rows) is excluded exactly like the
    // absent month-row was, so every downstream number is unchanged
    // (r13; guide §2.3 — aggregate before you shuffle, shuffle fewer
    // rows).
    val g = tagged(storeSales(s, dir), "ss_sold_date_sk", "ss_item_sk",
        "ss_list_price", "ss_quantity", "store")
      .unionAll(tagged(catalogSales(s, dir), "cs_sold_date_sk", "cs_item_sk",
        "cs_list_price", "cs_quantity", "catalog"))
      .unionAll(tagged(webSales(s, dir), "ws_sold_date_sk", "ws_item_sk",
        "ws_ext_sales_price", "ws_quantity", "web"))
      .groupBy("channel", "i", "d_year")
      .agg(decSum(col("v")).as("svd"),
        decSum(when(col("d_moy") === 12, col("v"))).as("svd_dec"),
        sum(when(col("d_moy") === 12, 1L)).as("cnt_dec"))
    val cross = g.groupBy("i")
      .agg(countDistinct(col("channel")).as("nch"))
      .filter(col("nch") === 3).select(col("i").as("cross_item"))
    val avgS = g.groupBy("i", "d_year")
      .agg(sum(col("svd")).cast("double").as("sv"))
      .agg(davg(col("sv")).as("avg_sales"))
    val chans = g.filter(col("d_year") === 1999 && col("cnt_dec") > 0)
      .join(cross, col("i") === col("cross_item"), "leftsemi")
      .join(broadcast(item(s, dir)), col("i") === col("i_item_sk"))
      .groupBy("channel", "i_brand_id")
      .agg(sum(col("svd_dec")).cast("double").as("sales"),
        sum(col("cnt_dec")).as("number_sales"))
    chans.crossJoin(broadcast(avgS))
      .filter(col("sales") > col("avg_sales"))
      .rollup(col("channel"), col("i_brand_id"))
      .agg(decSum(col("sales")).cast("double").as("sum_sales"),
        sum(col("number_sales")).as("sum_number_sales"),
        grouping(col("channel")).as("_g0"))
      .select(allLabel(col("channel"), col("_g0")).as("channel"),
        col("i_brand_id"), col("sum_sales"), col("sum_number_sales"))
      .orderBy(asc("channel"), asc_nulls_first("i_brand_id"))
      .limit(100)
  }

  /** q24: customer/store returns-linked sales exceeding 5% of the global
    * average (q24.sql's ssales + scalar-threshold shape). */
  def q24(s: SparkSession, dir: String): DataFrame = {
    val ssales = storeSales(s, dir)
      .join(storeReturns(s, dir)
          .select("sr_ticket_number", "sr_item_sk").distinct(),
        col("ss_ticket_number") === col("sr_ticket_number") &&
          col("ss_item_sk") === col("sr_item_sk"), "leftsemi")
      .join(broadcast(store(s).filter(col("s_state") === "S0")),
        col("ss_store_sk") === col("s_store_sk"))
      .join(broadcast(item(s, dir)), col("ss_item_sk") === col("i_item_sk"))
      .join(customerDim(s, dir), col("ss_customer_sk") === col("c_customer_sk"))
      .groupBy("c_last_name", "c_first_name", "s_store_name", "i_category")
      .agg(dsum(col("ss_sales_price"), "netpaid"))
    // consumed twice — as the per-customer rows and as the scalar
    // threshold: the second reads this aggregate's exchange as a
    // ReusedExchange
    val thr = ssales.agg((davg(col("netpaid")) * 0.05).as("thr"))
    ssales.crossJoin(broadcast(thr))
      .filter(col("netpaid") > col("thr"))
      .select("c_last_name", "c_first_name", "s_store_name", "i_category",
        "netpaid")
      .orderBy("c_last_name", "c_first_name", "s_store_name", "i_category")
      .limit(100)
  }

  /** q29: the q17 chain with plain quantity sums and month windows. */
  def q29(s: SparkSession, dir: String): DataFrame =
    storeSales(s, dir)
      .join(storeReturns(s, dir),
        col("ss_ticket_number") === col("sr_ticket_number") &&
          col("ss_item_sk") === col("sr_item_sk") &&
          col("ss_customer_sk") === col("sr_customer_sk"))
      .join(catalogSales(s, dir),
        col("sr_customer_sk") === col("cs_bill_customer_sk") &&
          col("sr_item_sk") === col("cs_item_sk"))
      .join(broadcast(dateDim(s)
          .filter(col("d_year") === 1998 && col("d_moy") === 4)
          .select(col("d_date_sk").as("d1_sk"))),
        col("ss_sold_date_sk") === col("d1_sk"))
      .join(broadcast(dateDim(s)
          .filter(col("d_year") === 1998 && col("d_moy").between(4, 7))
          .select(col("d_date_sk").as("d2_sk"))),
        col("sr_returned_date_sk") === col("d2_sk"))
      .join(broadcast(dateDim(s)
          .filter(col("d_year").isin(1998, 1999, 2000))
          .select(col("d_date_sk").as("d3_sk"))),
        col("cs_sold_date_sk") === col("d3_sk"))
      .join(broadcast(store(s)), col("ss_store_sk") === col("s_store_sk"))
      .join(broadcast(item(s, dir)), col("ss_item_sk") === col("i_item_sk"))
      .groupBy("i_item_id", "s_store_name")
      .agg(dsum(col("ss_quantity"), "store_sales_quantity"),
        dsum(col("sr_return_quantity"), "store_returns_quantity"),
        dsum(col("cs_quantity"), "catalog_sales_quantity"))
      .orderBy("i_item_id", "s_store_name")
      .limit(100)

  /** q64: returned store items of excess-refund catalog products, compared
    * across two years on the same (item, store) — the monster query's
    * cs_ui + cross_sales self-join skeleton (q64.sql). */
  def q64(s: SparkSession, dir: String): DataFrame = {
    val refunds = catalogReturns(s, dir)
      .groupBy(col("cr_item_sk"))
      .agg(dsum(col("cr_return_amount"), "refund"))
    // both year-branches semi-filter through the same two derived sets;
    // the second branch reads their exchanges as ReusedExchanges
    val csUi = catalogSales(s, dir)
      .groupBy(col("cs_item_sk").as("u_item"))
      .agg(dsum(col("cs_ext_sales_price"), "sale"))
      .join(refunds, col("u_item") === col("cr_item_sk"))
      .filter(col("sale") > col("refund") * 2)
      .select("u_item")
    val srKeys = storeReturns(s, dir)
      .select("sr_ticket_number", "sr_item_sk").distinct()
    def crossSales(yr: Int, p: String): DataFrame =
      storeSales(s, dir)
        .join(srKeys,
          col("ss_ticket_number") === col("sr_ticket_number") &&
            col("ss_item_sk") === col("sr_item_sk"), "leftsemi")
        .join(csUi, col("ss_item_sk") === col("u_item"), "leftsemi")
        .join(broadcast(dateDim(s).filter(col("d_year") === yr)),
          col("ss_sold_date_sk") === col("d_date_sk"))
        .join(broadcast(store(s)), col("ss_store_sk") === col("s_store_sk"))
        .groupBy(col("ss_item_sk").as(s"${p}_item"),
          col("s_store_name").as(s"${p}_store"))
        .agg(count(lit(1)).as(s"${p}_cnt"),
          dsum(col("ss_sales_price"), s"${p}_price"))
    crossSales(1998, "y1")
      .join(crossSales(1999, "y2"),
        col("y1_item") === col("y2_item") && col("y1_store") === col("y2_store"))
      .filter(col("y2_cnt") <= col("y1_cnt"))
      .join(broadcast(item(s, dir)), col("y1_item") === col("i_item_sk"))
      .select(col("i_item_id"), col("y1_store").as("store_name"),
        col("y1_cnt"), col("y1_price"), col("y2_cnt"), col("y2_price"))
      .orderBy("i_item_id", "store_name")
      .limit(100)
  }

  /** q76: per-channel counts of fact rows with a missing dimension key —
    * the derived facts are dense, so a deterministic slice plays the NULL
    * role via the same CASE on both engines (q76.sql shape). */
  def q76(s: SparkSession, dir: String): DataFrame = {
    def chan(f: DataFrame, dateK: String, itemK: String, priceC: String,
        nullK: String, name: String, colName: String): DataFrame =
      f.withColumn("nk",
          when(col(nullK) % 13 === 0, lit(null)).otherwise(col(nullK)))
        .filter(col("nk").isNull)
        .join(broadcast(dateDim(s)), col(dateK) === col("d_date_sk"))
        .join(broadcast(item(s, dir)), col(itemK) === col("i_item_sk"))
        .select(lit(name).as("channel"), lit(colName).as("col_name"),
          col("d_year"), col("d_qoy"), col("i_category"),
          col(priceC).as("ext_sales_price"))
    chan(storeSales(s, dir), "ss_sold_date_sk", "ss_item_sk",
        "ss_ext_sales_price", "ss_hdemo_sk", "store", "ss_hdemo_sk")
      .unionAll(chan(webSales(s, dir), "ws_sold_date_sk", "ws_item_sk",
        "ws_ext_sales_price", "ws_ship_hdemo_sk", "web", "ws_ship_hdemo_sk"))
      .unionAll(chan(catalogSales(s, dir), "cs_sold_date_sk", "cs_item_sk",
        "cs_ext_sales_price", "cs_bill_cdemo_sk", "catalog", "cs_bill_cdemo_sk"))
      .groupBy("channel", "col_name", "d_year", "d_qoy", "i_category")
      .agg(count(lit(1)).as("sales_cnt"),
        dsum(col("ext_sales_price"), "sales_amt"))
      .orderBy("channel", "col_name", "d_year", "d_qoy", "i_category")
      .limit(100)
  }

  /** q80: q77's channel report with item/promotion slices and per-
    * transaction returns joins, ROLLUP over (channel, id) (q80.sql). */
  def q80(s: SparkSession, dir: String): DataFrame = {
    val dd = broadcast(dateDim(s).filter(col("d_date")
        .between(Tables.d("1998-08-01"), Tables.d("1998-09-30")))
      .select("d_date_sk"))
    val it = broadcast(item(s, dir).filter(col("i_current_price") > 950)
      .select("i_item_sk"))
    val pr = broadcast(promotion(s).filter(col("p_channel_event") === "N")
      .select("p_promo_sk"))
    def chan(f: DataFrame, dateK: String, itemK: String, promoK: String,
        idC: String, price: String, profit: String, ret: DataFrame,
        rO: String, rI: String, rAmt: String, rLoss: String, oC: String,
        name: String): DataFrame = {
      // prune the returns BEFORE their pre-aggregate shuffle: a return can
      // only match a fact row that survives the item semi-join (join key
      // includes the item), so the broadcast item filter applies here too —
      // at 100× scale this cuts the full-returns shuffle by item selectivity
      val r = ret.join(it, col(rI) === col("i_item_sk"), "leftsemi")
        .groupBy(col(rO).as("r_o"), col(rI).as("r_i"))
        .agg(dsum(col(rAmt), "r_amt"), dsum(col(rLoss), "r_loss"))
      f.join(dd, col(dateK) === col("d_date_sk"))
        .join(it, col(itemK) === col("i_item_sk"), "leftsemi")
        .join(pr, col(promoK) === col("p_promo_sk"), "leftsemi")
        .join(r, col(oC) === col("r_o") && col(itemK) === col("r_i"), "left")
        .groupBy(col(idC).as("id"))
        .agg(dsum(col(price), "sales"),
          decSum(coalesce(col("r_amt"), lit(0.0))).cast("double").as("returns_"),
          decSum(col(profit) - coalesce(col("r_loss"), lit(0.0)))
            .cast("double").as("profit"))
        .select(lit(name).as("channel"), col("id"), col("sales"),
          col("returns_"), col("profit"))
    }
    chan(storeSales(s, dir), "ss_sold_date_sk", "ss_item_sk", "ss_promo_sk",
        "ss_store_sk", "ss_ext_sales_price", "ss_net_profit",
        storeReturns(s, dir), "sr_ticket_number", "sr_item_sk",
        "sr_return_amt", "sr_net_loss", "ss_ticket_number", "store channel")
      .unionAll(chan(catalogSales(s, dir), "cs_sold_date_sk", "cs_item_sk",
        "cs_promo_sk", "cs_warehouse_sk", "cs_ext_sales_price",
        "cs_sales_price", catalogReturns(s, dir), "cr_order_number",
        "cr_item_sk", "cr_return_amount", "cr_net_loss", "cs_order_number",
        "catalog channel"))
      .unionAll(chan(webSales(s, dir), "ws_sold_date_sk", "ws_item_sk",
        "ws_promo_sk", "ws_warehouse_sk", "ws_ext_sales_price",
        "ws_net_profit", webReturns(s, dir), "wr_order_number",
        "wr_item_sk", "wr_return_amt", "wr_net_loss", "ws_order_number",
        "web channel"))
      .rollup(col("channel"), col("id"))
      .agg(decSum(col("sales")).cast("double").as("sales"),
        decSum(col("returns_")).cast("double").as("returns_"),
        decSum(col("profit")).cast("double").as("profit"),
        grouping(col("channel")).as("_g0"))
      .select(allLabel(col("channel"), col("_g0")).as("channel"), col("id"),
        col("sales"), col("returns_"), col("profit"))
      .orderBy(asc("channel"), asc_nulls_first("id"))
      .limit(100)
  }

  /** q83: per-item returned quantities balanced across the three channels
    * (q83.sql's three-CTE deviation join). */
  def q83(s: SparkSession, dir: String): DataFrame = {
    val dd = broadcast(dateDim(s)
      .filter(col("d_year") === 1998 && col("d_moy") === 6))
    def rqty(ret: DataFrame, dateK: String, itemK: String, qty: String,
        p: String): DataFrame =
      ret.join(dd, col(dateK) === col("d_date_sk"))
        .join(broadcast(item(s, dir)), col(itemK) === col("i_item_sk"))
        .groupBy(col("i_item_id").as(s"${p}_item_id"))
        .agg(dsum(col(qty), s"${p}_qty"))
    val sr = rqty(storeReturns(s, dir), "sr_returned_date_sk", "sr_item_sk",
      "sr_return_quantity", "sr")
    val cr = rqty(catalogReturns(s, dir), "cr_returned_date_sk", "cr_item_sk",
      "cr_return_quantity", "cr")
    val wr = rqty(webReturns(s, dir), "wr_returned_date_sk", "wr_item_sk",
      "wr_return_quantity", "wr")
    sr.join(cr, col("sr_item_id") === col("cr_item_id"))
      .join(wr, col("sr_item_id") === col("wr_item_id"))
      .withColumn("average",
        (col("sr_qty") + col("cr_qty") + col("wr_qty")) / 3.0)
      .select(col("sr_item_id").as("item_id"), col("sr_qty"),
        (col("sr_qty") / col("average") * 100).as("sr_dev"),
        col("cr_qty"), (col("cr_qty") / col("average") * 100).as("cr_dev"),
        col("wr_qty"), (col("wr_qty") / col("average") * 100).as("wr_dev"),
        col("average"))
      .orderBy("item_id")
      .limit(100)
  }

  /** q91: call-center catalog-return losses for a demographic slice
    * (q91.sql) through the new call_center dimension. */
  def q91(s: SparkSession, dir: String): DataFrame =
    catalogReturns(s, dir)
      .join(broadcast(callCenter(s)),
        col("cr_call_center_sk") === col("cc_call_center_sk"))
      .join(broadcast(dateDim(s).filter(col("d_year") === 1998)),
        col("cr_returned_date_sk") === col("d_date_sk"))
      .join(customerDim(s, dir),
        col("cr_returning_customer_sk") === col("c_customer_sk"))
      .join(broadcast(customerDemographics(s).filter(
          col("cd_marital_status") === "W" &&
            col("cd_education_status") === "Primary")),
        col("c_current_cdemo_sk") === col("cd_demo_sk"))
      .join(broadcast(householdDemographics(s)
          .filter(col("hd_buy_potential") === ">10000")),
        col("c_current_hdemo_sk") === col("hd_demo_sk"))
      .groupBy("cc_name", "cc_manager")
      .agg(dsum(col("cr_net_loss"), "returns_loss"))
      .orderBy("cc_name", "cc_manager")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ds_q16" -> q16, "ds_q25" -> q25, "ds_q28" -> q28, "ds_q35" -> q35,
    "ds_q49" -> q49, "ds_q54" -> q54,
    "ds_q31" -> q31, "ds_q45" -> q45, "ds_q93" -> q93,
    "ds_q06" -> q6, "ds_q36" -> q36, "ds_q38" -> q38, "ds_q44" -> q44,
    "ds_q48" -> q48, "ds_q51" -> q51, "ds_q62" -> q62, "ds_q65" -> q65,
    "ds_q74" -> q74, "ds_q97" -> q97,
    "ds_q05" -> q5, "ds_q15" -> q15, "ds_q23" -> q23, "ds_q61" -> q61,
    "ds_q79" -> q79, "ds_q88" -> q88, "ds_q89" -> q89, "ds_q96" -> q96,
    "ds_q03" -> q3, "ds_q07" -> q7, "ds_q19" -> q19, "ds_q27" -> q27,
    "ds_q34" -> q34, "ds_q42" -> q42, "ds_q52" -> q52, "ds_q55" -> q55,
    "ds_q60" -> q60, "ds_q68" -> q68, "ds_q73" -> q73, "ds_q98" -> q98,
    "ds_q01" -> q1, "ds_q13" -> q13, "ds_q32" -> q32, "ds_q43" -> q43,
    "ds_q87" -> q87, "ds_q90" -> q90,
    "ds_q02" -> q2, "ds_q08" -> q8, "ds_q09" -> q9, "ds_q21" -> q21,
    "ds_q37" -> q37, "ds_q39" -> q39,
    "ds_q40" -> q40, "ds_q47" -> q47, "ds_q50" -> q50, "ds_q67" -> q67,
    "ds_q26" -> q26, "ds_q53" -> q53, "ds_q58" -> q58, "ds_q59" -> q59,
    "ds_q66" -> q66, "ds_q70" -> q70,
    "ds_q22" -> q22, "ds_q72" -> q72, "ds_q75" -> q75, "ds_q78" -> q78,
    "ds_q84" -> q84,
    "ds_q17" -> q17, "ds_q41" -> q41, "ds_q71" -> q71, "ds_q77" -> q77,
    "ds_q85" -> q85, "ds_q95" -> q95,
    "ds_q12" -> q12, "ds_q18" -> q18, "ds_q20" -> q20, "ds_q30" -> q30,
    "ds_q33" -> q33, "ds_q46" -> q46, "ds_q56" -> q56, "ds_q57" -> q57,
    "ds_q63" -> q63, "ds_q69" -> q69, "ds_q81" -> q81, "ds_q82" -> q82,
    "ds_q86" -> q86, "ds_q92" -> q92, "ds_q94" -> q94, "ds_q99" -> q99,
    "ds_q04" -> q4, "ds_q10" -> q10, "ds_q11" -> q11, "ds_q14" -> q14,
    "ds_q24" -> q24, "ds_q29" -> q29, "ds_q64" -> q64, "ds_q76" -> q76,
    "ds_q80" -> q80, "ds_q83" -> q83, "ds_q91" -> q91)

  // ---- oracle -------------------------------------------------------------

  /** The same derivations in DuckDB SQL, prepended to every oracle. */
  private val prelude: String =
    """date_dim AS (
      |  SELECT CAST(range AS BIGINT) AS d_date_sk,
      |         DATE '1995-01-01' + CAST(range AS INT) AS d_date,
      |         CAST(year(DATE '1995-01-01' + CAST(range AS INT)) AS BIGINT) AS d_year,
      |         CAST(month(DATE '1995-01-01' + CAST(range AS INT)) AS BIGINT) AS d_moy,
      |         CAST(day(DATE '1995-01-01' + CAST(range AS INT)) AS BIGINT) AS d_dom,
      |         CAST(quarter(DATE '1995-01-01' + CAST(range AS INT)) AS BIGINT) AS d_qoy,
      |         CAST(range % 7 AS BIGINT) AS d_dow,
      |         CAST(range // 7 AS BIGINT) AS d_week_seq,
      |         CASE range % 7 WHEN 0 THEN 'Sunday' WHEN 1 THEN 'Monday'
      |           WHEN 2 THEN 'Tuesday' WHEN 3 THEN 'Wednesday' WHEN 4 THEN 'Thursday'
      |           WHEN 5 THEN 'Friday' ELSE 'Saturday' END AS d_day_name
      |  FROM range(0, 2557)),
      |item AS (
      |  SELECT p_partkey AS i_item_sk,
      |         'ITEM_' || lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS i_item_id,
      |         p_brand AS i_brand,
      |         CAST(substr(p_brand, 7) AS BIGINT) AS i_brand_id,
      |         p_type AS i_category,
      |         p_partkey % 10 AS i_category_id,
      |         'CLASS_' || CAST(p_partkey % 8 AS VARCHAR) AS i_class,
      |         p_partkey % 100 AS i_manufact_id,
      |         p_partkey % 50 AS i_manager_id,
      |         p_retailprice AS i_current_price
      |  FROM part),
      |store AS (
      |  SELECT CAST(range AS BIGINT) AS s_store_sk,
      |         'Store_' || CAST(range AS VARCHAR) AS s_store_name,
      |         'S' || CAST(range % 4 AS VARCHAR) AS s_state,
      |         'City_' || CAST(range % 5 AS VARCHAR) AS s_city,
      |         'County_' || CAST(range % 3 AS VARCHAR) AS s_county,
      |         lpad(CAST((range * 13) % 100000 AS VARCHAR), 5, '0') AS s_zip
      |  FROM range(0, 10)),
      |customer_dim AS (
      |  SELECT c_custkey AS c_customer_sk, c_name AS c_customer_id,
      |         'FN_' || CAST(c_custkey % 50 AS VARCHAR) AS c_first_name,
      |         substr(c_name, 10) AS c_last_name,
      |         c_custkey AS c_current_addr_sk,
      |         c_custkey % 100 AS c_current_cdemo_sk,
      |         c_custkey % 50 AS c_current_hdemo_sk,
      |         CASE WHEN c_custkey % 3 = 0 THEN 'Y' ELSE 'N' END AS c_preferred_cust_flag
      |  FROM customer),
      |customer_address AS (
      |  SELECT c_custkey AS ca_address_sk,
      |         'City_' || CAST(c_custkey % 40 AS VARCHAR) AS ca_city,
      |         'County_' || CAST(c_custkey % 15 AS VARCHAR) AS ca_county,
      |         'S' || CAST(c_custkey % 4 AS VARCHAR) AS ca_state,
      |         lpad(CAST((c_custkey * 13) % 100000 AS VARCHAR), 5, '0') AS ca_zip
      |  FROM customer),
      |customer_demographics AS (
      |  SELECT CAST(range AS BIGINT) AS cd_demo_sk,
      |         CASE WHEN range % 2 = 0 THEN 'M' ELSE 'F' END AS cd_gender,
      |         CASE (range // 2) % 5 WHEN 0 THEN 'M' WHEN 1 THEN 'S' WHEN 2 THEN 'D' WHEN 3 THEN 'W' ELSE 'U' END AS cd_marital_status,
      |         CASE (range // 10) % 5 WHEN 0 THEN 'Primary' WHEN 1 THEN 'Secondary' WHEN 2 THEN 'College' WHEN 3 THEN '4 yr Degree' ELSE 'Advanced Degree' END AS cd_education_status
      |  FROM range(0, 100)),
      |household_demographics AS (
      |  SELECT CAST(range AS BIGINT) AS hd_demo_sk,
      |         range % 10 AS hd_dep_count, range % 5 AS hd_vehicle_count,
      |         CASE range % 3 WHEN 0 THEN '>10000' WHEN 1 THEN '5001-10000' ELSE '0-500' END AS hd_buy_potential,
      |         range % 20 AS hd_income_band_sk
      |  FROM range(0, 50)),
      |income_band AS (
      |  SELECT CAST(range AS BIGINT) AS ib_income_band_sk,
      |         range * 10000 AS ib_lower_bound,
      |         (range + 1) * 10000 - 1 AS ib_upper_bound
      |  FROM range(0, 20)),
      |promotion AS (
      |  SELECT CAST(range AS BIGINT) AS p_promo_sk,
      |         'promo_' || CAST(range AS VARCHAR) AS p_promo_name,
      |         CASE WHEN range % 2 = 0 THEN 'N' ELSE 'Y' END AS p_channel_email,
      |         CASE WHEN range % 3 = 0 THEN 'N' ELSE 'Y' END AS p_channel_event
      |  FROM range(0, 20)),
      |warehouse AS (
      |  SELECT CAST(range AS BIGINT) AS w_warehouse_sk,
      |         'Warehouse_' || CAST(range AS VARCHAR) AS w_warehouse_name,
      |         'S' || CAST(range % 4 AS VARCHAR) AS w_state,
      |         range * 1000 + 500 AS w_warehouse_sq_ft
      |  FROM range(0, 5)),
      |time_dim AS (
      |  SELECT CAST(range AS BIGINT) AS t_time_sk,
      |         CAST(range // 3600 AS BIGINT) AS t_hour,
      |         CAST((range // 60) % 60 AS BIGINT) AS t_minute
      |  FROM range(0, 86400)),
      |reason AS (
      |  SELECT CAST(range AS BIGINT) AS r_reason_sk,
      |         'reason_' || CAST(range AS VARCHAR) AS r_reason_desc
      |  FROM range(0, 10)),
      |call_center AS (
      |  SELECT CAST(range AS BIGINT) AS cc_call_center_sk,
      |         'CC_' || CAST(range AS VARCHAR) AS cc_name,
      |         'Manager_' || CAST(range % 3 AS VARCHAR) AS cc_manager
      |  FROM range(0, 4)),
      |ship_mode AS (
      |  SELECT CAST(range AS BIGINT) AS sm_ship_mode_sk,
      |         CASE range WHEN 0 THEN 'EXPRESS' WHEN 1 THEN 'AIR'
      |           WHEN 2 THEN 'SURFACE' ELSE 'SEA' END AS sm_type
      |  FROM range(0, 4)),
      |inventory AS (
      |  SELECT p_partkey AS inv_item_sk, CAST(w.range * 7 AS BIGINT) AS inv_date_sk,
      |         p_partkey % 5 AS inv_warehouse_sk,
      |         (p_partkey * 31 + w.range * 17) % 1000 AS inv_quantity_on_hand
      |  FROM part CROSS JOIN range(0, 366) w),
      |store_sales AS (
      |  SELECT CAST(datediff('day', DATE '1995-01-01', CAST(l_shipdate AS DATE)) AS BIGINT) AS ss_sold_date_sk,
      |         l_partkey AS ss_item_sk,
      |         l_suppkey % 10 AS ss_store_sk,
      |         o_custkey AS ss_customer_sk,
      |         (l_orderkey * 7 + l_linenumber) % 100 AS ss_cdemo_sk,
      |         (l_orderkey * 3 + l_linenumber) % 50 AS ss_hdemo_sk,
      |         CASE WHEN (l_orderkey + l_suppkey) % 97 = 0 THEN NULL
      |              ELSE o_custkey + l_suppkey % 2 END AS ss_addr_sk,
      |         l_partkey % 20 AS ss_promo_sk,
      |         (l_orderkey * 2063 + l_linenumber * 7919) % 86400 AS ss_sold_time_sk,
      |         l_orderkey AS ss_ticket_number,
      |         l_quantity AS ss_quantity,
      |         l_extendedprice AS ss_ext_sales_price,
      |         l_extendedprice * (1 - l_discount) AS ss_sales_price,
      |         l_extendedprice * l_discount AS ss_coupon_amt,
      |         l_extendedprice * (1 + l_tax) AS ss_list_price,
      |         l_extendedprice * 0.8 AS ss_wholesale_cost,
      |         l_extendedprice * (1 - l_discount) - l_extendedprice * 0.8 AS ss_net_profit
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |catalog_sales AS (
      |  SELECT ss_sold_date_sk AS cs_sold_date_sk, ss_item_sk AS cs_item_sk,
      |         ss_customer_sk AS cs_bill_customer_sk,
      |         ss_ext_sales_price AS cs_ext_sales_price, ss_quantity AS cs_quantity,
      |         ss_coupon_amt AS cs_ext_discount_amt,
      |         ss_store_sk % 5 AS cs_warehouse_sk,
      |         ss_ticket_number AS cs_order_number,
      |         ss_sales_price AS cs_sales_price,
      |         ss_cdemo_sk AS cs_bill_cdemo_sk,
      |         ss_promo_sk AS cs_promo_sk,
      |         ss_sold_time_sk AS cs_sold_time_sk,
      |         ss_ticket_number % 4 AS cs_ship_mode_sk,
      |         ss_list_price AS cs_list_price,
      |         ss_sold_date_sk + ss_ticket_number % 120 AS cs_ship_date_sk
      |  FROM store_sales WHERE ss_ticket_number % 3 = 1),
      |web_sales AS (
      |  SELECT ss_sold_date_sk AS ws_sold_date_sk, ss_item_sk AS ws_item_sk,
      |         ss_customer_sk AS ws_bill_customer_sk,
      |         ss_ext_sales_price AS ws_ext_sales_price, ss_quantity AS ws_quantity,
      |         ss_sold_time_sk AS ws_sold_time_sk, ss_hdemo_sk AS ws_ship_hdemo_sk,
      |         ss_store_sk % 5 AS ws_warehouse_sk,
      |         ss_ticket_number % 4 AS ws_ship_mode_sk,
      |         ss_ticket_number AS ws_order_number,
      |         ss_coupon_amt AS ws_ext_discount_amt,
      |         ss_net_profit AS ws_net_profit,
      |         ss_promo_sk AS ws_promo_sk
      |  FROM store_sales WHERE ss_ticket_number % 3 = 2),
      |store_returns AS (
      |  SELECT CAST(datediff('day', DATE '1995-01-01', CAST(l_shipdate AS DATE)) AS BIGINT) AS sr_returned_date_sk,
      |         l_partkey AS sr_item_sk, l_suppkey % 10 AS sr_store_sk,
      |         o_custkey AS sr_customer_sk, l_orderkey AS sr_ticket_number,
      |         l_orderkey % 10 AS sr_reason_sk,
      |         l_quantity AS sr_return_quantity,
      |         l_extendedprice * (1 - l_discount) AS sr_return_amt,
      |         l_extendedprice * 0.1 AS sr_net_loss,
      |         CAST(datediff('day', DATE '1995-01-01', CAST(l_shipdate AS DATE))
      |           + l_orderkey % 120 AS BIGINT) AS sr_settled_date_sk
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  WHERE l_returnflag = 'R'),
      |catalog_returns AS (
      |  SELECT sr_returned_date_sk AS cr_returned_date_sk,
      |         sr_item_sk AS cr_item_sk, sr_ticket_number AS cr_order_number,
      |         sr_customer_sk AS cr_returning_customer_sk,
      |         sr_return_quantity AS cr_return_quantity,
      |         sr_return_amt AS cr_return_amount,
      |         sr_net_loss AS cr_net_loss,
      |         (sr_ticket_number * 7) % 4 AS cr_call_center_sk
      |  FROM store_returns WHERE sr_ticket_number % 3 = 1),
      |web_returns AS (
      |  SELECT sr_returned_date_sk AS wr_returned_date_sk,
      |         sr_item_sk AS wr_item_sk, sr_ticket_number AS wr_order_number,
      |         sr_customer_sk AS wr_returning_customer_sk,
      |         sr_return_quantity AS wr_return_quantity,
      |         sr_return_amt AS wr_return_amt,
      |         sr_net_loss AS wr_net_loss,
      |         sr_store_sk % 5 AS wr_warehouse_sk,
      |         (sr_ticket_number * 11) % 10 AS wr_reason_sk,
      |         sr_customer_sk % 100 AS wr_refunded_cdemo_sk
      |  FROM store_returns WHERE sr_ticket_number % 3 = 2)""".stripMargin

  private def ds(body: String): String = s"WITH $prelude\n$body"

  private val dsumS = "CAST(SUM(CAST(%s AS DECIMAL(18,6))) AS DOUBLE)"
  private def ds_sum(c: String, a: String) = dsumS.format(c) + s" AS $a"
  /** q12/q20 oracle template (mirrors `revenueRatio`). */
  private def revenueRatioSql(fact: String, dateK: String, itemK: String,
      priceC: String): String =
    s"""
      |, grp AS (
      |  SELECT i_item_id, i_category, i_class, i_current_price,
      |    ${ds_sum(priceC, "itemrevenue")}
      |  FROM $fact, date_dim, item
      |  WHERE $dateK = d_date_sk AND $itemK = i_item_sk
      |    AND i_category IN ('SMALL', 'LARGE', 'MEDIUM')
      |    AND d_date BETWEEN DATE '1999-02-01' AND DATE '1999-03-01'
      |  GROUP BY i_item_id, i_category, i_class, i_current_price)
      |SELECT i_item_id, i_category, i_class, i_current_price, itemrevenue,
      |  itemrevenue * 100 / CAST(SUM(CAST(itemrevenue AS DECIMAL(18,6)))
      |    OVER (PARTITION BY i_class) AS DOUBLE) AS revenueratio
      |FROM grp
      |ORDER BY i_category, i_class, i_item_id""".stripMargin

  /** q33/q56 oracle template (mirrors `unionByItemAttr`). */
  private def unionByItemAttrSql(attr: String, itemPred: String): String =
    s"""
      |, it AS (SELECT i_item_sk, $attr AS k FROM item WHERE $itemPred),
      |chans AS (
      |  SELECT k, ${ds_sum("ss_ext_sales_price", "total")}
      |  FROM store_sales, date_dim, it
      |  WHERE ss_sold_date_sk = d_date_sk AND ss_item_sk = i_item_sk
      |    AND d_year = 1999 AND d_moy = 9 GROUP BY k
      |  UNION ALL
      |  SELECT k, ${ds_sum("cs_ext_sales_price", "total")}
      |  FROM catalog_sales, date_dim, it
      |  WHERE cs_sold_date_sk = d_date_sk AND cs_item_sk = i_item_sk
      |    AND d_year = 1999 AND d_moy = 9 GROUP BY k
      |  UNION ALL
      |  SELECT k, ${ds_sum("ws_ext_sales_price", "total")}
      |  FROM web_sales, date_dim, it
      |  WHERE ws_sold_date_sk = d_date_sk AND ws_item_sk = i_item_sk
      |    AND d_year = 1999 AND d_moy = 9 GROUP BY k)
      |SELECT k AS $attr, ${ds_sum("total", "total_sales")}
      |FROM chans GROUP BY k ORDER BY k""".stripMargin

  /** q30/q81 oracle template (mirrors `stateReturners`). */
  private def stateReturnersSql(ret: String, custK: String,
      amtK: String): String =
    s"""
      |, ctr AS (
      |  SELECT $custK AS ctr_customer_sk, ca_state AS ctr_state,
      |    ${ds_sum(amtK, "ctr_total_return")}
      |  FROM $ret
      |  JOIN customer_dim ON $custK = c_customer_sk
      |  JOIN customer_address ON c_current_addr_sk = ca_address_sk
      |  GROUP BY 1, 2)
      |SELECT c_customer_id, c_last_name, c_first_name, ctr_state,
      |  ctr_total_return
      |FROM ctr a JOIN customer_dim ON a.ctr_customer_sk = c_customer_sk
      |WHERE a.ctr_total_return > (
      |  SELECT ${dsumS.format("ctr_total_return")} / count(ctr_total_return) * 1.2
      |  FROM ctr b WHERE b.ctr_state = a.ctr_state)
      |ORDER BY c_customer_id, ctr_state LIMIT 100""".stripMargin

  /** q17's per-leg stats: count, exact-decimal mean, CoV from exact sums —
    * textually mirrors the Column expressions in q17. */
  private def q17leg(c: String, p: String): String = {
    val n = s"count($c)"
    val sm = s"CAST(SUM(CAST($c AS DECIMAL(18,6))) AS DOUBLE)"
    val sq = s"CAST(SUM(CAST($c * $c AS DECIMAL(18,6))) AS DOUBLE)"
    s"CAST($n AS BIGINT) AS ${p}_count, $sm / CAST($n AS DOUBLE) AS ${p}_avg, " +
      s"CASE WHEN $n > 1 THEN sqrt((CAST($n AS DOUBLE) * $sq - $sm * $sm) / " +
      s"(CAST($n AS DOUBLE) * (CAST($n AS DOUBLE) - 1.0))) / " +
      s"($sm / CAST($n AS DOUBLE)) END AS ${p}_cov"
  }

  private def ds_day(day: String, c: String, a: String) =
    s"CAST(SUM(CASE WHEN d_day_name = '$day' THEN CAST($c AS DECIMAL(18,6)) END) AS DOUBLE) AS $a"
  private def ds_avg(c: String, a: String) =
    dsumS.format(c) + s" / count($c) AS $a"

  val oracle: Map[String, String] = Map(
    "ds_q16" -> ds(s"""
      |SELECT CAST(count(DISTINCT ss_ticket_number) AS BIGINT) AS order_count,
      |  ${ds_sum("ss_ext_sales_price", "total_shipping_cost")},
      |  ${ds_sum("ss_net_profit", "total_net_profit")}
      |FROM store_sales ss1, date_dim
      |WHERE ss_sold_date_sk = d_date_sk AND d_year = 1999 AND d_qoy = 1
      |  AND EXISTS (SELECT 1 FROM store_sales ss2
      |    WHERE ss1.ss_ticket_number = ss2.ss_ticket_number
      |      AND ss1.ss_store_sk <> ss2.ss_store_sk)
      |  AND NOT EXISTS (SELECT 1 FROM store_returns sr
      |    WHERE ss1.ss_ticket_number = sr.sr_ticket_number)""".stripMargin),
    "ds_q25" -> ds(s"""
      |SELECT i_item_id, s_store_name,
      |  ${ds_sum("ss_net_profit", "store_sales_profit")},
      |  ${ds_sum("sr_net_loss", "store_returns_loss")},
      |  ${ds_sum("cs_ext_sales_price", "catalog_sales_rev")}
      |FROM store_sales, store_returns, catalog_sales, item, store,
      |  date_dim d1, date_dim d2, date_dim d3
      |WHERE ss_sold_date_sk = d1.d_date_sk AND d1.d_year = 1998
      |  AND sr_returned_date_sk = d2.d_date_sk AND d2.d_year = 1998
      |  AND cs_sold_date_sk = d3.d_date_sk AND d3.d_year = 1998
      |  AND ss_ticket_number = sr_ticket_number AND ss_item_sk = sr_item_sk
      |  AND sr_customer_sk = cs_bill_customer_sk AND sr_item_sk = cs_item_sk
      |  AND ss_item_sk = i_item_sk AND ss_store_sk = s_store_sk
      |GROUP BY i_item_id, s_store_name
      |ORDER BY i_item_id, s_store_name""".stripMargin),
    "ds_q28" -> ds(s"""
      |SELECT * FROM
      | (SELECT ${ds_avg("ss_list_price", "b1_lp")}, count(*) AS b1_cnt,
      |    CAST(count(DISTINCT ss_list_price) AS BIGINT) AS b1_cntd
      |  FROM store_sales WHERE ss_quantity BETWEEN 0 AND 5) b1,
      | (SELECT ${ds_avg("ss_list_price", "b2_lp")}, count(*) AS b2_cnt,
      |    CAST(count(DISTINCT ss_list_price) AS BIGINT) AS b2_cntd
      |  FROM store_sales WHERE ss_quantity BETWEEN 6 AND 10) b2,
      | (SELECT ${ds_avg("ss_list_price", "b3_lp")}, count(*) AS b3_cnt,
      |    CAST(count(DISTINCT ss_list_price) AS BIGINT) AS b3_cntd
      |  FROM store_sales WHERE ss_quantity BETWEEN 11 AND 15) b3,
      | (SELECT ${ds_avg("ss_list_price", "b4_lp")}, count(*) AS b4_cnt,
      |    CAST(count(DISTINCT ss_list_price) AS BIGINT) AS b4_cntd
      |  FROM store_sales WHERE ss_quantity BETWEEN 16 AND 20) b4,
      | (SELECT ${ds_avg("ss_list_price", "b5_lp")}, count(*) AS b5_cnt,
      |    CAST(count(DISTINCT ss_list_price) AS BIGINT) AS b5_cntd
      |  FROM store_sales WHERE ss_quantity BETWEEN 21 AND 25) b5,
      | (SELECT ${ds_avg("ss_list_price", "b6_lp")}, count(*) AS b6_cnt,
      |    CAST(count(DISTINCT ss_list_price) AS BIGINT) AS b6_cntd
      |  FROM store_sales WHERE ss_quantity BETWEEN 26 AND 30) b6""".stripMargin),
    "ds_q35" -> ds(s"""
      |SELECT cd_gender, cd_marital_status, count(*) AS cnt,
      |  min(hd_dep_count) AS min_dep, max(hd_dep_count) AS max_dep,
      |  ${ds_avg("hd_dep_count", "avg_dep")}
      |FROM customer_dim c, customer_demographics, household_demographics
      |WHERE c_current_cdemo_sk = cd_demo_sk
      |  AND c_current_hdemo_sk = hd_demo_sk
      |  AND EXISTS (SELECT 1 FROM store_sales, date_dim
      |    WHERE ss_sold_date_sk = d_date_sk AND d_year = 1999
      |      AND c.c_customer_sk = ss_customer_sk)
      |  AND (EXISTS (SELECT 1 FROM web_sales, date_dim
      |      WHERE ws_sold_date_sk = d_date_sk AND d_year = 1999
      |        AND c.c_customer_sk = ws_bill_customer_sk)
      |    OR EXISTS (SELECT 1 FROM catalog_sales, date_dim
      |      WHERE cs_sold_date_sk = d_date_sk AND d_year = 1999
      |        AND c.c_customer_sk = cs_bill_customer_sk))
      |GROUP BY cd_gender, cd_marital_status
      |ORDER BY cd_gender, cd_marital_status""".stripMargin),
    "ds_q49" -> ds(s"""
      |, per_item AS (
      |  SELECT ss_item_sk AS item,
      |    ${ds_sum("COALESCE(sr_return_quantity, 0.0)", "ret_qty")},
      |    ${ds_sum("ss_quantity", "sold_qty")},
      |    ${ds_sum("COALESCE(sr_return_amt, 0.0)", "ret_amt")},
      |    ${ds_sum("ss_ext_sales_price", "sold_amt")}
      |  FROM store_sales
      |  JOIN date_dim ON ss_sold_date_sk = d_date_sk AND d_year = 1998
      |  LEFT JOIN store_returns ON ss_ticket_number = sr_ticket_number
      |    AND ss_item_sk = sr_item_sk
      |  GROUP BY 1),
      |rated AS (SELECT item, ret_qty / sold_qty AS qty_ratio,
      |    ret_amt / sold_amt AS amt_ratio
      |  FROM per_item WHERE sold_qty > 0 AND sold_amt > 0),
      |by_qty AS (SELECT 'quantity' AS which,
      |    RANK() OVER (ORDER BY qty_ratio DESC, item ASC) AS rnk, item,
      |    qty_ratio, amt_ratio FROM rated),
      |by_amt AS (SELECT 'amount' AS which,
      |    RANK() OVER (ORDER BY amt_ratio DESC, item ASC) AS rnk, item,
      |    qty_ratio, amt_ratio FROM rated)
      |SELECT which, CAST(rnk AS BIGINT) AS rnk, item,
      |  round(qty_ratio, 6) AS qty_ratio, round(amt_ratio, 6) AS amt_ratio
      |FROM (SELECT * FROM by_qty WHERE rnk <= 10
      |      UNION ALL SELECT * FROM by_amt WHERE rnk <= 10) u
      |ORDER BY which, rnk, item""".stripMargin),
    "ds_q54" -> ds(s"""
      |SELECT segment, count(*) AS num_customers,
      |  segment * 5000 AS segment_base
      |FROM (SELECT CAST(FLOOR(rev / 5000) AS BIGINT) AS segment
      |  FROM (SELECT ss_customer_sk, ${ds_sum("ss_ext_sales_price", "rev")}
      |    FROM store_sales, date_dim
      |    WHERE ss_sold_date_sk = d_date_sk AND d_year = 1999
      |    GROUP BY 1) pc) seg
      |GROUP BY segment ORDER BY segment""".stripMargin),
    "ds_q31" -> ds(s"""
      |, ss31 AS (SELECT ca_county AS county, d_qoy AS qoy,
      |    ${ds_sum("ss_ext_sales_price", "rev")}
      |  FROM store_sales, date_dim, customer_dim, customer_address
      |  WHERE ss_sold_date_sk = d_date_sk AND d_year = 1999
      |    AND d_qoy BETWEEN 1 AND 3 AND ss_customer_sk = c_customer_sk
      |    AND c_current_addr_sk = ca_address_sk
      |  GROUP BY 1, 2),
      |ws31 AS (SELECT ca_county AS county, d_qoy AS qoy,
      |    ${ds_sum("ws_ext_sales_price", "rev")}
      |  FROM web_sales, date_dim, customer_dim, customer_address
      |  WHERE ws_sold_date_sk = d_date_sk AND d_year = 1999
      |    AND d_qoy BETWEEN 1 AND 3 AND ws_bill_customer_sk = c_customer_sk
      |    AND c_current_addr_sk = ca_address_sk
      |  GROUP BY 1, 2)
      |SELECT s1.county,
      |  round(s2.rev / s1.rev, 6) AS store_q1_q2_increase,
      |  round(w2.rev / w1.rev, 6) AS web_q1_q2_increase,
      |  round(s3.rev / s2.rev, 6) AS store_q2_q3_increase,
      |  round(w3.rev / w2.rev, 6) AS web_q2_q3_increase
      |FROM ss31 s1, ss31 s2, ss31 s3, ws31 w1, ws31 w2, ws31 w3
      |WHERE s1.qoy = 1 AND s2.qoy = 2 AND s3.qoy = 3
      |  AND w1.qoy = 1 AND w2.qoy = 2 AND w3.qoy = 3
      |  AND s1.county = s2.county AND s1.county = s3.county
      |  AND s1.county = w1.county AND s1.county = w2.county
      |  AND s1.county = w3.county
      |  AND s1.rev > 0 AND s2.rev > 0 AND w1.rev > 0 AND w2.rev > 0
      |  AND w2.rev / w1.rev > s2.rev / s1.rev
      |ORDER BY s1.county""".stripMargin),
    "ds_q45" -> ds(s"""
      |SELECT ca_zip, ${ds_sum("ws_ext_sales_price", "total_sales")}
      |FROM web_sales, date_dim, customer_dim, customer_address
      |WHERE ws_sold_date_sk = d_date_sk AND d_year = 1999 AND d_qoy = 1
      |  AND ws_bill_customer_sk = c_customer_sk
      |  AND c_current_addr_sk = ca_address_sk
      |  AND (substr(ca_zip, 1, 2) IN ('80', '81', '85')
      |    OR ws_item_sk IN (SELECT i_item_sk FROM item WHERE i_item_sk % 97 = 0))
      |GROUP BY ca_zip ORDER BY ca_zip""".stripMargin),
    "ds_q93" -> ds(s"""
      |SELECT ss_customer_sk, sumsales FROM (
      |  SELECT ss_customer_sk, ${ds_sum("act_sales", "sumsales")}
      |  FROM (SELECT ss_customer_sk,
      |      (ss_quantity - COALESCE(sr_return_quantity, 0.0)) * ss_sales_price
      |        AS act_sales
      |    FROM store_sales JOIN store_returns
      |      ON ss_ticket_number = sr_ticket_number AND ss_item_sk = sr_item_sk
      |    WHERE sr_reason_sk = 7) t
      |  GROUP BY ss_customer_sk) g
      |ORDER BY sumsales, ss_customer_sk LIMIT 100""".stripMargin),
    "ds_q06" -> ds(s"""
      |, cat_avg AS (SELECT i_category AS j_category,
      |    ${ds_avg("i_current_price", "cat_avg")}
      |  FROM item GROUP BY 1),
      |pricey AS (SELECT i_item_sk FROM item JOIN cat_avg
      |  ON i_category = j_category WHERE i_current_price > cat_avg * 1.02)
      |SELECT ca_state AS state, count(*) AS cnt
      |FROM store_sales, date_dim, pricey, customer_dim, customer_address
      |WHERE ss_sold_date_sk = d_date_sk AND d_year = 1999
      |  AND ss_item_sk = i_item_sk AND ss_customer_sk = c_customer_sk
      |  AND c_current_addr_sk = ca_address_sk
      |GROUP BY 1 HAVING count(*) >= 10 ORDER BY cnt, state""".stripMargin),
    "ds_q36" -> ds(s"""
      |, base36 AS (
      |  SELECT ${dsumS.format("ss_net_profit")} /
      |      ${dsumS.format("ss_ext_sales_price")} AS gross_margin,
      |    i_category, i_class,
      |    CAST(GROUPING(i_category) + GROUPING(i_class) AS BIGINT) AS lochierarchy,
      |    GROUPING(i_category) AS g_cat,
      |    GROUPING(i_class) AS g_class
      |  FROM store_sales, date_dim, item, store
      |  WHERE ss_sold_date_sk = d_date_sk AND d_year = 1998
      |    AND ss_item_sk = i_item_sk AND ss_store_sk = s_store_sk
      |    AND s_state IN ('S0', 'S1')
      |  GROUP BY ROLLUP(i_category, i_class))
      |SELECT round(gross_margin, 8) AS gross_margin,
      |  CASE WHEN g_cat = 1 THEN 'ALL' ELSE i_category END AS i_category,
      |  CASE WHEN g_class = 1 THEN 'ALL' ELSE i_class END AS i_class, lochierarchy,
      |  CAST(RANK() OVER (PARTITION BY lochierarchy,
      |      CASE WHEN g_class = 0 THEN i_category END
      |    ORDER BY gross_margin ASC, i_category ASC NULLS FIRST,
      |      i_class ASC NULLS FIRST) AS BIGINT) AS rank_within_parent
      |FROM base36 ORDER BY lochierarchy DESC, i_category, i_class""".stripMargin),
    "ds_q38" -> ds(s"""
      |SELECT count(*) AS cnt FROM (
      |  SELECT DISTINCT c_last_name, c_first_name, d_date
      |  FROM store_sales, date_dim, customer_dim
      |  WHERE ss_sold_date_sk = d_date_sk AND d_year = 1999 AND d_qoy = 2
      |    AND ss_customer_sk = c_customer_sk
      |  INTERSECT
      |  SELECT DISTINCT c_last_name, c_first_name, d_date
      |  FROM catalog_sales, date_dim, customer_dim
      |  WHERE cs_sold_date_sk = d_date_sk AND d_year = 1999 AND d_qoy = 2
      |    AND cs_bill_customer_sk = c_customer_sk
      |  INTERSECT
      |  SELECT DISTINCT c_last_name, c_first_name, d_date
      |  FROM web_sales, date_dim, customer_dim
      |  WHERE ws_sold_date_sk = d_date_sk AND d_year = 1999 AND d_qoy = 2
      |    AND ws_bill_customer_sk = c_customer_sk) hot""".stripMargin),
    "ds_q44" -> ds(s"""
      |, per_item AS (SELECT ss_item_sk AS item_sk,
      |    ${ds_avg("ss_net_profit", "rank_col")}
      |  FROM store_sales WHERE ss_store_sk = 2 GROUP BY 1),
      |asc10 AS (SELECT item_sk AS b_item,
      |    RANK() OVER (ORDER BY rank_col ASC, item_sk ASC) AS rnk FROM per_item),
      |desc10 AS (SELECT item_sk AS w_item,
      |    RANK() OVER (ORDER BY rank_col DESC, item_sk ASC) AS rnk FROM per_item)
      |SELECT CAST(a.rnk AS BIGINT) AS rnk,
      |  i1.i_item_id AS best_performing, i2.i_item_id AS worst_performing
      |FROM asc10 a JOIN desc10 d ON a.rnk = d.rnk
      |JOIN item i1 ON a.b_item = i1.i_item_sk
      |JOIN item i2 ON d.w_item = i2.i_item_sk
      |WHERE a.rnk <= 10 ORDER BY rnk""".stripMargin),
    "ds_q48" -> ds(s"""
      |SELECT ${ds_sum("ss_quantity", "total_quantity")}, count(*) AS cnt
      |FROM store_sales, date_dim, customer_demographics, customer_dim,
      |  customer_address
      |WHERE ss_sold_date_sk = d_date_sk AND d_year = 1999
      |  AND ss_cdemo_sk = cd_demo_sk AND ss_customer_sk = c_customer_sk
      |  AND c_current_addr_sk = ca_address_sk
      |  AND ((cd_marital_status = 'M' AND cd_education_status = '4 yr Degree'
      |        AND ss_sales_price BETWEEN 10000 AND 40000)
      |    OR (cd_marital_status = 'D' AND cd_education_status = 'Secondary'
      |        AND ss_sales_price BETWEEN 40000 AND 70000)
      |    OR (cd_marital_status = 'S' AND cd_education_status = 'College'
      |        AND ss_sales_price BETWEEN 70000 AND 100000))
      |  AND ((ca_state IN ('S0', 'S1') AND ss_net_profit BETWEEN 0 AND 2000)
      |    OR (ca_state = 'S2' AND ss_net_profit BETWEEN 2000 AND 10000)
      |    OR (ca_state = 'S3' AND ss_net_profit BETWEEN 10000 AND 20000))""".stripMargin),
    "ds_q51" -> ds(s"""
      |, web51 AS (
      |  SELECT ws_item_sk AS w_item, d_date AS w_date,
      |    CAST(SUM(SUM(CAST(ws_ext_sales_price AS DECIMAL(18,6))))
      |      OVER (PARTITION BY ws_item_sk ORDER BY d_date
      |        ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS web_cumulative
      |  FROM web_sales, date_dim
      |  WHERE ws_sold_date_sk = d_date_sk AND d_year = 2000 AND d_moy <= 2
      |    AND ws_item_sk % 5 = 0
      |  GROUP BY ws_item_sk, d_date),
      |cat51 AS (
      |  SELECT cs_item_sk AS s_item, d_date AS s_date,
      |    CAST(SUM(SUM(CAST(cs_ext_sales_price AS DECIMAL(18,6))))
      |      OVER (PARTITION BY cs_item_sk ORDER BY d_date
      |        ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS catalog_cumulative
      |  FROM catalog_sales, date_dim
      |  WHERE cs_sold_date_sk = d_date_sk AND d_year = 2000 AND d_moy <= 2
      |    AND cs_item_sk % 5 = 0
      |  GROUP BY cs_item_sk, d_date)
      |SELECT COALESCE(w_item, s_item) AS item_sk,
      |  COALESCE(w_date, s_date) AS d_date,
      |  COALESCE(web_cumulative, CAST(0 AS DOUBLE)) AS web_cumulative,
      |  COALESCE(catalog_cumulative, CAST(0 AS DOUBLE)) AS catalog_cumulative
      |FROM web51 FULL OUTER JOIN cat51 ON w_item = s_item AND w_date = s_date
      |WHERE COALESCE(web_cumulative, CAST(0 AS DOUBLE)) >
      |  COALESCE(catalog_cumulative, CAST(0 AS DOUBLE))
      |ORDER BY item_sk, d_date""".stripMargin),
    "ds_q62" -> s"""
      |SELECT l_returnflag,
      |  CAST(year(CAST(l_shipdate AS DATE)) AS BIGINT) AS ship_year,
      |  CAST(SUM(CASE WHEN lag <= 30 THEN 1 ELSE 0 END) AS BIGINT) AS d30,
      |  CAST(SUM(CASE WHEN lag > 30 AND lag <= 60 THEN 1 ELSE 0 END) AS BIGINT) AS d60,
      |  CAST(SUM(CASE WHEN lag > 60 AND lag <= 90 THEN 1 ELSE 0 END) AS BIGINT) AS d90,
      |  CAST(SUM(CASE WHEN lag > 90 AND lag <= 120 THEN 1 ELSE 0 END) AS BIGINT) AS d120,
      |  CAST(SUM(CASE WHEN lag > 120 THEN 1 ELSE 0 END) AS BIGINT) AS dmore
      |FROM (SELECT l_returnflag, l_shipdate,
      |    datediff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS lag
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey) x
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "ds_q65" -> ds(s"""
      |, per_pair AS (SELECT ss_store_sk AS store_sk, ss_item_sk AS item_sk,
      |    ${ds_sum("ss_sales_price", "revenue")}
      |  FROM store_sales, date_dim
      |  WHERE ss_sold_date_sk = d_date_sk AND d_year = 1998 AND d_moy <= 6
      |  GROUP BY 1, 2),
      |per_store AS (SELECT store_sk AS a_store, ${ds_avg("revenue", "ave")}
      |  FROM per_pair GROUP BY 1)
      |SELECT s_store_name, i_item_id, revenue, round(ave, 6) AS store_avg
      |FROM per_pair, per_store, store, item
      |WHERE store_sk = a_store AND store_sk = s_store_sk
      |  AND item_sk = i_item_sk AND revenue <= ave * 0.1
      |ORDER BY s_store_name, i_item_id""".stripMargin),
    "ds_q74" -> ds(s"""
      |, ss1 AS (SELECT ss_customer_sk AS c1, ${ds_sum("ss_net_profit", "t1")}
      |  FROM store_sales, date_dim
      |  WHERE ss_sold_date_sk = d_date_sk AND d_year = 1999 GROUP BY 1),
      |ss2 AS (SELECT ss_customer_sk AS c2, ${ds_sum("ss_net_profit", "t2")}
      |  FROM store_sales, date_dim
      |  WHERE ss_sold_date_sk = d_date_sk AND d_year = 2000 GROUP BY 1),
      |ww1 AS (SELECT ws_bill_customer_sk AS c3, ${ds_sum("ws_ext_sales_price", "t3")}
      |  FROM web_sales, date_dim
      |  WHERE ws_sold_date_sk = d_date_sk AND d_year = 1999 GROUP BY 1),
      |ww2 AS (SELECT ws_bill_customer_sk AS c4, ${ds_sum("ws_ext_sales_price", "t4")}
      |  FROM web_sales, date_dim
      |  WHERE ws_sold_date_sk = d_date_sk AND d_year = 2000 GROUP BY 1)
      |SELECT c_customer_id AS customer_id, c_first_name, c_last_name
      |FROM ss1, ss2, ww1, ww2, customer_dim
      |WHERE c1 = c2 AND c1 = c3 AND c1 = c4 AND c1 = c_customer_sk
      |  AND t1 > 0 AND t3 > 0 AND t2 / t1 > t4 / t3
      |ORDER BY customer_id""".stripMargin),
    "ds_q97" -> ds(s"""
      |, ssci AS (SELECT DISTINCT ss_customer_sk AS s_cust, ss_item_sk AS s_item
      |  FROM store_sales, date_dim
      |  WHERE ss_sold_date_sk = d_date_sk AND d_year = 1999),
      |csci AS (SELECT DISTINCT cs_bill_customer_sk AS c_cust, cs_item_sk AS c_item
      |  FROM catalog_sales, date_dim
      |  WHERE cs_sold_date_sk = d_date_sk AND d_year = 1999)
      |SELECT
      |  CAST(SUM(CASE WHEN s_cust IS NOT NULL AND c_cust IS NULL
      |    THEN 1 ELSE 0 END) AS BIGINT) AS store_only,
      |  CAST(SUM(CASE WHEN s_cust IS NULL AND c_cust IS NOT NULL
      |    THEN 1 ELSE 0 END) AS BIGINT) AS catalog_only,
      |  CAST(SUM(CASE WHEN s_cust IS NOT NULL AND c_cust IS NOT NULL
      |    THEN 1 ELSE 0 END) AS BIGINT) AS store_and_catalog
      |FROM ssci FULL OUTER JOIN csci
      |  ON s_cust = c_cust AND s_item = c_item""".stripMargin),
    "ds_q05" -> ds(s"""
      |SELECT CASE WHEN GROUPING(j.s_state) = 1 THEN 'ALL' ELSE s_state END AS s_state,
      |  CASE WHEN GROUPING(j.s_store_name) = 1 THEN 'ALL' ELSE s_store_name END AS s_store_name,
      |  ${ds_sum("sales", "total_sales")}, ${ds_sum("r_amt", "total_returns")},
      |  ${ds_sum("net", "total_profit")}
      |FROM (
      |  SELECT s_state, s_store_name, sales,
      |    COALESCE(r_amt, CAST(0 AS DOUBLE)) AS r_amt,
      |    profit - COALESCE(r_loss, CAST(0 AS DOUBLE)) AS net
      |  FROM (SELECT ss_store_sk AS store_sk,
      |          ${ds_sum("ss_ext_sales_price", "sales")},
      |          ${ds_sum("ss_net_profit", "profit")}
      |        FROM store_sales, date_dim
      |        WHERE ss_sold_date_sk = d_date_sk AND d_year = 1998
      |        GROUP BY 1) sl
      |  LEFT JOIN (SELECT sr_store_sk,
      |          ${ds_sum("sr_return_amt", "r_amt")},
      |          ${ds_sum("sr_net_loss", "r_loss")}
      |        FROM store_returns, date_dim
      |        WHERE sr_returned_date_sk = d_date_sk AND d_year = 1998
      |        GROUP BY 1) rt ON store_sk = sr_store_sk
      |  JOIN store ON store_sk = s_store_sk) j
      |GROUP BY ROLLUP(j.s_state, j.s_store_name)
      |ORDER BY s_state, s_store_name""".stripMargin),
    "ds_q15" -> ds(s"""
      |SELECT ca_zip, ${ds_sum("cs_ext_sales_price", "total_sales")}
      |FROM catalog_sales, date_dim, customer_dim, customer_address
      |WHERE cs_sold_date_sk = d_date_sk
      |  AND cs_bill_customer_sk = c_customer_sk
      |  AND c_current_addr_sk = ca_address_sk
      |  AND d_qoy = 1 AND d_year = 1999
      |  AND (substr(ca_zip, 1, 2) IN ('85', '86', '88')
      |       OR ca_state IN ('S0', 'S3') OR cs_ext_sales_price > 40000)
      |GROUP BY ca_zip ORDER BY ca_zip""".stripMargin),
    "ds_q23" -> ds(s"""
      |SELECT ${ds_sum("cs_ext_sales_price", "total_sales")},
      |  count(*) AS n_sales
      |FROM catalog_sales
      |WHERE cs_item_sk IN (
      |    SELECT ss_item_sk FROM store_sales, date_dim
      |    WHERE ss_sold_date_sk = d_date_sk GROUP BY ss_item_sk
      |    HAVING count(DISTINCT d_year * 12 + d_moy) >= 4)
      |  AND cs_bill_customer_sk IN (
      |    SELECT b_cust FROM
      |      (SELECT ss_customer_sk AS b_cust, ${ds_sum("ss_sales_price", "spend")}
      |       FROM store_sales GROUP BY 1) sp,
      |      (SELECT 0.5 * max(spend) AS c FROM
      |        (SELECT ss_customer_sk AS b_cust, ${ds_sum("ss_sales_price", "spend")}
      |         FROM store_sales GROUP BY 1) sp2) cut
      |    WHERE spend >= c)""".stripMargin),
    "ds_q61" -> ds(s"""
      |, base AS (SELECT ss_promo_sk, ss_ext_sales_price
      |  FROM store_sales, date_dim, item
      |  WHERE ss_sold_date_sk = d_date_sk AND ss_item_sk = i_item_sk
      |    AND d_year = 1999 AND d_moy = 11 AND i_category = 'STANDARD')
      |SELECT promotions, total,
      |  round(promotions / total * 100, 6) AS promo_pct
      |FROM (SELECT ${ds_sum("ss_ext_sales_price", "promotions")}
      |      FROM base, promotion WHERE ss_promo_sk = p_promo_sk
      |        AND (p_channel_email = 'Y' OR p_channel_event = 'Y')) p,
      |     (SELECT ${ds_sum("ss_ext_sales_price", "total")} FROM base) t""".stripMargin),
    "ds_q79" -> ds(s"""
      |SELECT c_last_name, c_first_name, ss_ticket_number, amt, profit
      |FROM (SELECT *, max(profit) OVER (PARTITION BY ss_customer_sk) AS mp
      |      FROM (SELECT ss_ticket_number, ss_customer_sk,
      |              ${ds_sum("ss_coupon_amt", "amt")},
      |              ${ds_sum("ss_net_profit", "profit")}
      |            FROM store_sales, date_dim, household_demographics
      |            WHERE ss_sold_date_sk = d_date_sk AND ss_hdemo_sk = hd_demo_sk
      |              AND d_dom BETWEEN 1 AND 5 AND d_year IN (1998, 1999)
      |              AND (hd_dep_count = 6 OR hd_vehicle_count > 2)
      |            GROUP BY 1, 2) pt) mx
      |JOIN customer_dim ON ss_customer_sk = c_customer_sk
      |WHERE profit = mp
      |ORDER BY c_last_name, ss_ticket_number""".stripMargin),
    "ds_q88" -> ds(s"""
      |SELECT * FROM
      | (SELECT count(*) AS h0 FROM (SELECT d_dom FROM store_sales, date_dim, store
      |   WHERE ss_sold_date_sk = d_date_sk AND ss_store_sk = s_store_sk
      |     AND d_year = 1998 AND s_county = 'County_0') b WHERE d_dom BETWEEN 1 AND 4) s0,
      | (SELECT count(*) AS h1 FROM (SELECT d_dom FROM store_sales, date_dim, store
      |   WHERE ss_sold_date_sk = d_date_sk AND ss_store_sk = s_store_sk
      |     AND d_year = 1998 AND s_county = 'County_0') b WHERE d_dom BETWEEN 5 AND 8) s1,
      | (SELECT count(*) AS h2 FROM (SELECT d_dom FROM store_sales, date_dim, store
      |   WHERE ss_sold_date_sk = d_date_sk AND ss_store_sk = s_store_sk
      |     AND d_year = 1998 AND s_county = 'County_0') b WHERE d_dom BETWEEN 9 AND 12) s2,
      | (SELECT count(*) AS h3 FROM (SELECT d_dom FROM store_sales, date_dim, store
      |   WHERE ss_sold_date_sk = d_date_sk AND ss_store_sk = s_store_sk
      |     AND d_year = 1998 AND s_county = 'County_0') b WHERE d_dom BETWEEN 13 AND 16) s3,
      | (SELECT count(*) AS h4 FROM (SELECT d_dom FROM store_sales, date_dim, store
      |   WHERE ss_sold_date_sk = d_date_sk AND ss_store_sk = s_store_sk
      |     AND d_year = 1998 AND s_county = 'County_0') b WHERE d_dom BETWEEN 17 AND 20) s4,
      | (SELECT count(*) AS h5 FROM (SELECT d_dom FROM store_sales, date_dim, store
      |   WHERE ss_sold_date_sk = d_date_sk AND ss_store_sk = s_store_sk
      |     AND d_year = 1998 AND s_county = 'County_0') b WHERE d_dom BETWEEN 21 AND 24) s5,
      | (SELECT count(*) AS h6 FROM (SELECT d_dom FROM store_sales, date_dim, store
      |   WHERE ss_sold_date_sk = d_date_sk AND ss_store_sk = s_store_sk
      |     AND d_year = 1998 AND s_county = 'County_0') b WHERE d_dom BETWEEN 25 AND 28) s6,
      | (SELECT count(*) AS h7 FROM (SELECT d_dom FROM store_sales, date_dim, store
      |   WHERE ss_sold_date_sk = d_date_sk AND ss_store_sk = s_store_sk
      |     AND d_year = 1998 AND s_county = 'County_0') b WHERE d_dom BETWEEN 29 AND 32) s7""".stripMargin),
    "ds_q89" -> ds(s"""
      |SELECT i_category, s_store_name, d_moy, sum_sales,
      |  round(avg_monthly, 4) AS avg_monthly
      |FROM (
      |  SELECT *, CAST(SUM(CAST(sum_sales AS DECIMAL(18,6))) OVER win AS DOUBLE)
      |         / count(*) OVER win AS avg_monthly
      |  FROM (SELECT i_category, s_store_name, d_moy,
      |          ${ds_sum("ss_ext_sales_price", "sum_sales")}
      |        FROM store_sales, date_dim, item, store
      |        WHERE ss_sold_date_sk = d_date_sk AND ss_item_sk = i_item_sk
      |          AND ss_store_sk = s_store_sk AND d_year = 1998
      |        GROUP BY 1, 2, 3) monthly
      |  WINDOW win AS (PARTITION BY i_category, s_store_name ORDER BY d_moy
      |                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)) w
      |WHERE abs(sum_sales - avg_monthly) > avg_monthly * 0.1
      |ORDER BY i_category, s_store_name, d_moy""".stripMargin),
    "ds_q96" -> ds(s"""
      |SELECT count(*) AS cnt
      |FROM store_sales, household_demographics, date_dim, store
      |WHERE ss_hdemo_sk = hd_demo_sk AND ss_sold_date_sk = d_date_sk
      |  AND ss_store_sk = s_store_sk AND hd_dep_count = 5
      |  AND d_dow = 2 AND s_city = 'City_2'""".stripMargin),
    "ds_q03" -> ds(s"""
      |SELECT d_year, i_brand_id, i_brand, ${ds_sum("ss_ext_sales_price", "sum_agg")}
      |FROM store_sales, date_dim, item
      |WHERE ss_sold_date_sk = d_date_sk AND ss_item_sk = i_item_sk
      |  AND d_moy = 11 AND i_manufact_id = 28
      |GROUP BY d_year, i_brand_id, i_brand
      |ORDER BY d_year, sum_agg DESC, i_brand_id""".stripMargin),
    "ds_q07" -> ds(s"""
      |SELECT i_item_id, ${ds_avg("ss_quantity", "agg1")},
      |  ${ds_avg("ss_list_price", "agg2")}, ${ds_avg("ss_coupon_amt", "agg3")},
      |  ${ds_avg("ss_sales_price", "agg4")}
      |FROM store_sales, customer_demographics, date_dim, item, promotion
      |WHERE ss_sold_date_sk = d_date_sk AND ss_item_sk = i_item_sk
      |  AND ss_cdemo_sk = cd_demo_sk AND ss_promo_sk = p_promo_sk
      |  AND cd_gender = 'M' AND cd_marital_status = 'S'
      |  AND cd_education_status = 'College'
      |  AND (p_channel_email = 'N' OR p_channel_event = 'N') AND d_year = 1998
      |GROUP BY i_item_id ORDER BY i_item_id LIMIT 100""".stripMargin),
    "ds_q19" -> ds(s"""
      |SELECT i_brand_id, i_brand, i_manufact_id, ${ds_sum("ss_ext_sales_price", "ext_price")}
      |FROM date_dim, store_sales, item, customer_dim, customer_address, store
      |WHERE d_date_sk = ss_sold_date_sk AND ss_item_sk = i_item_sk
      |  AND i_manager_id = 7 AND d_moy = 11 AND d_year = 1999
      |  AND ss_customer_sk = c_customer_sk AND c_current_addr_sk = ca_address_sk
      |  AND substr(ca_zip, 1, 3) <> substr(s_zip, 1, 3) AND ss_store_sk = s_store_sk
      |GROUP BY i_brand_id, i_brand, i_manufact_id
      |ORDER BY ext_price DESC, i_brand_id, i_manufact_id""".stripMargin),
    "ds_q27" -> ds(s"""
      |SELECT CASE WHEN GROUPING(item.i_item_id) = 1 THEN 'ALL' ELSE i_item_id END AS i_item_id,
      |  CASE WHEN GROUPING(store.s_state) = 1 THEN 'ALL' ELSE s_state END AS s_state, count(*) AS cnt,
      |  ${ds_avg("ss_quantity", "agg1")}, ${ds_avg("ss_list_price", "agg2")},
      |  ${ds_avg("ss_coupon_amt", "agg3")}, ${ds_avg("ss_sales_price", "agg4")}
      |FROM store_sales, customer_demographics, date_dim, store, item
      |WHERE ss_sold_date_sk = d_date_sk AND ss_item_sk = i_item_sk
      |  AND ss_store_sk = s_store_sk AND ss_cdemo_sk = cd_demo_sk
      |  AND cd_gender = 'F' AND cd_marital_status = 'M'
      |  AND cd_education_status = 'Secondary' AND d_year = 1998
      |GROUP BY ROLLUP(item.i_item_id, store.s_state)
      |ORDER BY i_item_id, s_state""".stripMargin),
    "ds_q34" -> ds(s"""
      |SELECT c_last_name, c_first_name, ss_ticket_number, cnt
      |FROM (SELECT ss_ticket_number, ss_customer_sk, count(*) AS cnt
      |      FROM store_sales, date_dim, store, household_demographics
      |      WHERE ss_sold_date_sk = d_date_sk AND ss_store_sk = s_store_sk
      |        AND ss_hdemo_sk = hd_demo_sk AND d_dom BETWEEN 1 AND 3
      |        AND d_year IN (1998, 1999, 2000)
      |        AND hd_buy_potential = '>10000' AND hd_vehicle_count > 0
      |        AND s_county IN ('County_0', 'County_1')
      |      GROUP BY ss_ticket_number, ss_customer_sk) dn
      |JOIN customer_dim ON ss_customer_sk = c_customer_sk
      |WHERE cnt BETWEEN 2 AND 7
      |ORDER BY c_last_name, c_first_name, ss_ticket_number""".stripMargin),
    "ds_q42" -> ds(s"""
      |SELECT d_year, i_category_id, i_category, ${ds_sum("ss_ext_sales_price", "total_sales")}
      |FROM date_dim, store_sales, item
      |WHERE ss_sold_date_sk = d_date_sk AND ss_item_sk = i_item_sk
      |  AND i_manager_id = 8 AND d_moy = 12 AND d_year = 1998
      |GROUP BY d_year, i_category_id, i_category
      |ORDER BY total_sales DESC, d_year, i_category_id, i_category""".stripMargin),
    "ds_q52" -> ds(s"""
      |SELECT d_year, i_brand_id, i_brand, ${ds_sum("ss_ext_sales_price", "ext_price")}
      |FROM date_dim, store_sales, item
      |WHERE ss_sold_date_sk = d_date_sk AND ss_item_sk = i_item_sk
      |  AND i_manager_id = 13 AND d_moy = 11 AND d_year = 2000
      |GROUP BY d_year, i_brand_id, i_brand
      |ORDER BY d_year, ext_price DESC, i_brand_id""".stripMargin),
    "ds_q55" -> ds(s"""
      |SELECT i_brand_id, i_brand, ${ds_sum("ss_ext_sales_price", "ext_price")}
      |FROM date_dim, store_sales, item
      |WHERE ss_sold_date_sk = d_date_sk AND ss_item_sk = i_item_sk
      |  AND i_manager_id = 33 AND d_moy = 12 AND d_year = 1999
      |GROUP BY i_brand_id, i_brand
      |ORDER BY ext_price DESC, i_brand_id""".stripMargin),
    "ds_q60" -> ds(s"""
      |SELECT i_item_id, ${ds_sum("total", "total_sales")}
      |FROM (
      |  SELECT i_item_id, ${ds_sum("ss_quantity", "total")}
      |  FROM store_sales, date_dim, item
      |  WHERE ss_sold_date_sk = d_date_sk AND ss_item_sk = i_item_sk
      |    AND d_year = 1999 AND d_moy = 9 AND i_category = 'ECONOMY'
      |  GROUP BY i_item_id
      |  UNION ALL
      |  SELECT i_item_id, ${ds_sum("cs_quantity", "total")}
      |  FROM catalog_sales, date_dim, item
      |  WHERE cs_sold_date_sk = d_date_sk AND cs_item_sk = i_item_sk
      |    AND d_year = 1999 AND d_moy = 9 AND i_category = 'ECONOMY'
      |  GROUP BY i_item_id
      |  UNION ALL
      |  SELECT i_item_id, ${ds_sum("ws_quantity", "total")}
      |  FROM web_sales, date_dim, item
      |  WHERE ws_sold_date_sk = d_date_sk AND ws_item_sk = i_item_sk
      |    AND d_year = 1999 AND d_moy = 9 AND i_category = 'ECONOMY'
      |  GROUP BY i_item_id) channels
      |GROUP BY i_item_id ORDER BY i_item_id""".stripMargin),
    "ds_q68" -> ds(s"""
      |SELECT c_last_name, c_first_name, ca2.ca_city AS home_city, bought_city,
      |  ss_ticket_number, amt, profit
      |FROM (SELECT ss_ticket_number, ss_customer_sk, ca_city AS bought_city,
      |        ${ds_sum("ss_coupon_amt", "amt")}, ${ds_sum("ss_net_profit", "profit")}
      |      FROM store_sales, date_dim, store, household_demographics, customer_address
      |      WHERE ss_sold_date_sk = d_date_sk AND ss_store_sk = s_store_sk
      |        AND ss_hdemo_sk = hd_demo_sk AND ss_addr_sk = ca_address_sk
      |        AND d_dom BETWEEN 1 AND 2 AND d_year IN (1998, 1999, 2000)
      |        AND s_city IN ('City_0', 'City_1')
      |        AND (hd_dep_count = 4 OR hd_vehicle_count = 3)
      |      GROUP BY ss_ticket_number, ss_customer_sk, ca_city) dn
      |JOIN customer_dim ON ss_customer_sk = c_customer_sk
      |JOIN customer_address ca2 ON c_current_addr_sk = ca2.ca_address_sk
      |WHERE ca2.ca_city <> bought_city
      |ORDER BY c_last_name, ss_ticket_number""".stripMargin),
    "ds_q73" -> ds(s"""
      |SELECT c_last_name, c_first_name, ss_ticket_number, cnt
      |FROM (SELECT ss_ticket_number, ss_customer_sk, count(*) AS cnt
      |      FROM store_sales, date_dim, store, household_demographics
      |      WHERE ss_sold_date_sk = d_date_sk AND ss_store_sk = s_store_sk
      |        AND ss_hdemo_sk = hd_demo_sk AND d_dom BETWEEN 1 AND 2
      |        AND d_year IN (1998, 1999, 2000)
      |        AND hd_buy_potential IN ('>10000', '5001-10000')
      |        AND hd_dep_count > 2
      |        AND s_county IN ('County_0', 'County_2')
      |      GROUP BY ss_ticket_number, ss_customer_sk) dj
      |JOIN customer_dim ON ss_customer_sk = c_customer_sk
      |WHERE cnt BETWEEN 1 AND 5
      |ORDER BY cnt DESC, c_last_name, ss_ticket_number""".stripMargin),
    "ds_q98" -> ds(s"""
      |SELECT i_item_id, i_category, i_class, i_current_price, itemrevenue,
      |  itemrevenue * 100 / CAST(SUM(CAST(itemrevenue AS DECIMAL(18,6)))
      |    OVER (PARTITION BY i_class) AS DOUBLE) AS revenueratio
      |FROM (SELECT i_item_id, i_category, i_class, i_current_price,
      |        ${ds_sum("ss_ext_sales_price", "itemrevenue")}
      |      FROM store_sales, item, date_dim
      |      WHERE ss_item_sk = i_item_sk AND ss_sold_date_sk = d_date_sk
      |        AND i_category IN ('SMALL', 'LARGE', 'MEDIUM')
      |        AND d_date BETWEEN DATE '1999-02-01' AND DATE '1999-03-01'
      |      GROUP BY i_item_id, i_category, i_class, i_current_price) g
      |ORDER BY i_category, i_class, i_item_id""".stripMargin),
    "ds_q01" -> ds(s"""
      |, ctr AS (
      |  SELECT sr_customer_sk AS ctr_customer_sk, sr_store_sk AS ctr_store_sk,
      |    ${ds_sum("sr_return_amt", "ctr_total_return")}
      |  FROM store_returns JOIN date_dim ON sr_returned_date_sk = d_date_sk
      |  WHERE d_year = 1998 GROUP BY 1, 2)
      |SELECT c_customer_id FROM ctr a
      |JOIN store ON s_store_sk = a.ctr_store_sk
      |JOIN customer_dim ON a.ctr_customer_sk = c_customer_sk
      |WHERE s_state = 'S0'
      |  AND a.ctr_total_return > (
      |    SELECT ${dsumS.format("ctr_total_return")} / count(ctr_total_return) * 1.2
      |    FROM ctr b WHERE b.ctr_store_sk = a.ctr_store_sk)
      |ORDER BY c_customer_id LIMIT 100""".stripMargin),
    "ds_q13" -> ds(s"""
      |SELECT ${ds_avg("ss_quantity", "avg_qty")},
      |  ${ds_avg("ss_ext_sales_price", "avg_sales")},
      |  ${ds_avg("ss_wholesale_cost", "avg_cost")},
      |  ${ds_sum("ss_wholesale_cost", "sum_cost")}
      |FROM store_sales, date_dim, store, customer_demographics,
      |  household_demographics, customer_address
      |WHERE ss_sold_date_sk = d_date_sk AND d_year = 1998
      |  AND ss_store_sk = s_store_sk AND ss_cdemo_sk = cd_demo_sk
      |  AND ss_hdemo_sk = hd_demo_sk AND ss_addr_sk = ca_address_sk
      |  AND ((cd_marital_status = 'M' AND cd_education_status = '4 yr Degree'
      |        AND ss_sales_price BETWEEN 1000 AND 30000 AND hd_dep_count = 3)
      |    OR (cd_marital_status = 'S' AND cd_education_status = 'College'
      |        AND ss_sales_price BETWEEN 30000 AND 60000 AND hd_dep_count = 1)
      |    OR (cd_marital_status = 'W' AND cd_education_status = 'Primary'
      |        AND ss_sales_price BETWEEN 60000 AND 90000 AND hd_dep_count = 5))
      |  AND ((ca_state IN ('S0', 'S1') AND ss_net_profit BETWEEN -5000 AND 10000)
      |    OR (ca_state = 'S2' AND ss_net_profit BETWEEN 0 AND 20000))""".stripMargin),
    "ds_q32" -> ds(s"""
      |, cs32 AS (
      |  SELECT cs_item_sk, cs_ext_discount_amt
      |  FROM catalog_sales JOIN date_dim ON cs_sold_date_sk = d_date_sk
      |  WHERE d_date BETWEEN DATE '1998-03-01' AND DATE '1998-05-30')
      |SELECT ${ds_sum("cs_ext_discount_amt", "excess_discount_amount")}
      |FROM cs32 a JOIN item ON a.cs_item_sk = i_item_sk
      |WHERE i_manufact_id = 7
      |  AND a.cs_ext_discount_amt > (
      |    SELECT ${dsumS.format("cs_ext_discount_amt")} / count(cs_ext_discount_amt) * 1.3
      |    FROM cs32 b WHERE b.cs_item_sk = a.cs_item_sk)""".stripMargin),
    "ds_q43" -> ds(s"""
      |SELECT s_store_name, s_store_sk,
      |  ${ds_day("Sunday", "ss_sales_price", "sun_sales")},
      |  ${ds_day("Monday", "ss_sales_price", "mon_sales")},
      |  ${ds_day("Tuesday", "ss_sales_price", "tue_sales")},
      |  ${ds_day("Wednesday", "ss_sales_price", "wed_sales")},
      |  ${ds_day("Thursday", "ss_sales_price", "thu_sales")},
      |  ${ds_day("Friday", "ss_sales_price", "fri_sales")},
      |  ${ds_day("Saturday", "ss_sales_price", "sat_sales")}
      |FROM store_sales, date_dim, store
      |WHERE ss_sold_date_sk = d_date_sk AND ss_store_sk = s_store_sk
      |  AND d_year = 1998
      |GROUP BY s_store_name, s_store_sk
      |ORDER BY s_store_name""".stripMargin),
    "ds_q87" -> ds(s"""
      |SELECT count(*) AS num_cool FROM (
      |  (SELECT DISTINCT c_last_name, c_first_name, d_date
      |   FROM store_sales, date_dim, customer_dim
      |   WHERE ss_sold_date_sk = d_date_sk AND ss_customer_sk = c_customer_sk
      |     AND d_year = 1998 AND d_moy BETWEEN 4 AND 6)
      |  EXCEPT
      |  (SELECT DISTINCT c_last_name, c_first_name, d_date
      |   FROM catalog_sales, date_dim, customer_dim
      |   WHERE cs_sold_date_sk = d_date_sk AND cs_bill_customer_sk = c_customer_sk
      |     AND d_year = 1998 AND d_moy BETWEEN 4 AND 6)
      |  EXCEPT
      |  (SELECT DISTINCT c_last_name, c_first_name, d_date
      |   FROM web_sales, date_dim, customer_dim
      |   WHERE ws_sold_date_sk = d_date_sk AND ws_bill_customer_sk = c_customer_sk
      |     AND d_year = 1998 AND d_moy BETWEEN 4 AND 6)) cool""".stripMargin),
    "ds_q90" -> ds(s"""
      |SELECT CASE WHEN pmc = 0 THEN NULL
      |  ELSE CAST(amc AS DOUBLE) / CAST(pmc AS DOUBLE) END AS am_pm_ratio
      |FROM (SELECT
      |    CAST(SUM(CASE WHEN t_hour BETWEEN 8 AND 9 THEN 1 ELSE 0 END) AS BIGINT) AS amc,
      |    CAST(SUM(CASE WHEN t_hour BETWEEN 19 AND 20 THEN 1 ELSE 0 END) AS BIGINT) AS pmc
      |  FROM web_sales
      |  JOIN time_dim ON ws_sold_time_sk = t_time_sk
      |  JOIN household_demographics ON ws_ship_hdemo_sk = hd_demo_sk
      |  WHERE hd_dep_count = 3) x""".stripMargin),
    "ds_q02" -> ds(s"""
      |, wscs AS (
      |  SELECT ws_sold_date_sk AS sold_date_sk, ws_ext_sales_price AS sales_price
      |  FROM web_sales
      |  UNION ALL
      |  SELECT cs_sold_date_sk, cs_ext_sales_price FROM catalog_sales),
      |wswscs AS (
      |  SELECT d_week_seq,
      |    ${ds_day("Sunday", "sales_price", "sun_sales")},
      |    ${ds_day("Monday", "sales_price", "mon_sales")},
      |    ${ds_day("Tuesday", "sales_price", "tue_sales")},
      |    ${ds_day("Wednesday", "sales_price", "wed_sales")},
      |    ${ds_day("Thursday", "sales_price", "thu_sales")},
      |    ${ds_day("Friday", "sales_price", "fri_sales")},
      |    ${ds_day("Saturday", "sales_price", "sat_sales")}
      |  FROM wscs JOIN date_dim ON sold_date_sk = d_date_sk
      |  GROUP BY d_week_seq)
      |SELECT y.d_week_seq AS d_week_seq,
      |  ${Seq("sun", "mon", "tue", "wed", "thu", "fri", "sat").map(n =>
            s"CASE WHEN z.${n}_sales IS NULL OR z.${n}_sales = 0 THEN NULL " +
            s"ELSE y.${n}_sales / z.${n}_sales END AS ${n}_ratio").mkString(",\n      |  ")}
      |FROM wswscs y JOIN wswscs z ON y.d_week_seq + 52 = z.d_week_seq
      |WHERE y.d_week_seq IN (SELECT d_week_seq FROM date_dim
      |    WHERE d_year = 1998 AND d_date_sk % 7 = 0)
      |  AND z.d_week_seq IN (SELECT d_week_seq FROM date_dim
      |    WHERE d_year = 1999 AND d_date_sk % 7 = 0)
      |ORDER BY d_week_seq""".stripMargin),
    "ds_q08" -> ds(s"""
      |SELECT s_store_name, ${ds_sum("ss_net_profit", "net_profit")}
      |FROM store_sales, date_dim, store
      |WHERE ss_sold_date_sk = d_date_sk AND ss_store_sk = s_store_sk
      |  AND d_qoy = 2 AND d_year = 1998
      |  AND substr(s_zip, 1, 2) IN (
      |    SELECT DISTINCT substr(ca_zip, 1, 2) FROM customer_address
      |    WHERE ca_zip IN ('00013', '00026', '00039', '00052', '00065',
      |                     '00078', '00091', '01300', '02600', '03900')
      |    INTERSECT
      |    SELECT zip2 FROM (
      |      SELECT substr(ca_zip, 1, 2) AS zip2, count(*) AS cnt
      |      FROM customer_address
      |      JOIN customer_dim ON ca_address_sk = c_current_addr_sk
      |      WHERE c_preferred_cust_flag = 'Y'
      |      GROUP BY 1 HAVING count(*) > 5) p)
      |GROUP BY s_store_name ORDER BY s_store_name""".stripMargin),
    "ds_q09" -> ds(s"""
      |SELECT r_reason_sk,
      |  ${Seq((1, 10, 10000L), (11, 20, 12000L), (21, 30, 14000L),
            (31, 40, 16000L), (41, 50, 18000L)).zipWithIndex.map {
            case ((lo, hi, thr), i) =>
              s"CASE WHEN (SELECT count(*) FROM store_sales WHERE ss_quantity BETWEEN $lo AND $hi) > $thr\n" +
              s"      | THEN (SELECT ${dsumS.format("ss_ext_sales_price")} / count(ss_ext_sales_price) FROM store_sales WHERE ss_quantity BETWEEN $lo AND $hi)\n" +
              s"      | ELSE (SELECT ${dsumS.format("ss_net_profit")} / count(ss_net_profit) FROM store_sales WHERE ss_quantity BETWEEN $lo AND $hi) END AS bucket${i + 1}"
          }.mkString(",\n      |  ")}
      |FROM reason WHERE r_reason_sk = 1""".stripMargin),
    "ds_q21" -> ds(s"""
      |SELECT w_warehouse_name, i_item_id,
      |  CAST(SUM(CASE WHEN d_date < DATE '1998-06-01'
      |    THEN inv_quantity_on_hand ELSE 0 END) AS BIGINT) AS inv_before,
      |  CAST(SUM(CASE WHEN d_date >= DATE '1998-06-01'
      |    THEN inv_quantity_on_hand ELSE 0 END) AS BIGINT) AS inv_after
      |FROM inventory, warehouse, item, date_dim
      |WHERE inv_date_sk = d_date_sk AND inv_warehouse_sk = w_warehouse_sk
      |  AND inv_item_sk = i_item_sk
      |  AND d_date BETWEEN DATE '1998-05-01' AND DATE '1998-07-01'
      |  AND i_current_price BETWEEN 900 AND 1500
      |GROUP BY w_warehouse_name, i_item_id
      |HAVING inv_before > 0
      |  AND CAST(inv_after AS DOUBLE) / CAST(inv_before AS DOUBLE)
      |    BETWEEN 2.0 / 3.0 AND 3.0 / 2.0
      |ORDER BY w_warehouse_name, i_item_id LIMIT 100""".stripMargin),
    "ds_q37" -> ds(s"""
      |SELECT i_item_id, i_current_price
      |FROM item, inventory, date_dim
      |WHERE i_current_price BETWEEN 920 AND 980
      |  AND inv_item_sk = i_item_sk AND d_date_sk = inv_date_sk
      |  AND d_date BETWEEN DATE '1998-06-01' AND DATE '1998-07-30'
      |  AND i_manufact_id IN (10, 20, 30, 40)
      |  AND inv_quantity_on_hand BETWEEN 100 AND 500
      |  AND i_item_sk IN (SELECT cs_item_sk FROM catalog_sales)
      |GROUP BY i_item_id, i_current_price
      |ORDER BY i_item_id LIMIT 100""".stripMargin),
    "ds_q39" -> ds(s"""
      |, inv39 AS (
      |  SELECT inv_warehouse_sk, inv_item_sk, d_moy, count(*) AS n,
      |    CAST(SUM(inv_quantity_on_hand) AS BIGINT) AS s,
      |    CAST(SUM(inv_quantity_on_hand * inv_quantity_on_hand) AS BIGINT) AS ssq
      |  FROM inventory JOIN date_dim ON inv_date_sk = d_date_sk
      |  WHERE d_year = 1998 AND d_moy IN (3, 4)
      |  GROUP BY 1, 2, 3 HAVING count(*) > 1),
      |m39 AS (
      |  SELECT inv_warehouse_sk, inv_item_sk, d_moy,
      |    CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
      |    sqrt(CAST(n * ssq - s * s AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE)) /
      |      (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) AS cov
      |  FROM inv39)
      |SELECT m1.inv_warehouse_sk AS w_warehouse_sk,
      |  m1.inv_item_sk AS i_item_sk,
      |  m1.mean AS mean1, m1.cov AS cov1, m2.mean AS mean2, m2.cov AS cov2
      |FROM m39 m1 JOIN m39 m2
      |  ON m1.inv_warehouse_sk = m2.inv_warehouse_sk
      | AND m1.inv_item_sk = m2.inv_item_sk
      |WHERE m1.d_moy = 3 AND m2.d_moy = 4
      |  AND m1.cov > 0.5 AND m2.cov > 0.5
      |ORDER BY w_warehouse_sk, i_item_sk""".stripMargin),
    "ds_q40" -> ds(s"""
      |, cr40 AS (
      |  SELECT cr_order_number, cr_item_sk,
      |    ${ds_sum("cr_return_amount", "cr_amt")}
      |  FROM catalog_returns GROUP BY 1, 2)
      |SELECT w_state, i_item_id,
      |  CAST(SUM(CASE WHEN d_date < DATE '1998-06-01'
      |    THEN CAST(cs_sales_price - COALESCE(cr_amt, 0.0) AS DECIMAL(18,6))
      |    END) AS DOUBLE) AS sales_before,
      |  CAST(SUM(CASE WHEN d_date >= DATE '1998-06-01'
      |    THEN CAST(cs_sales_price - COALESCE(cr_amt, 0.0) AS DECIMAL(18,6))
      |    END) AS DOUBLE) AS sales_after
      |FROM catalog_sales
      |LEFT JOIN cr40 ON cs_order_number = cr_order_number
      |  AND catalog_sales.cs_item_sk = cr40.cr_item_sk
      |JOIN warehouse ON cs_warehouse_sk = w_warehouse_sk
      |JOIN item ON cs_item_sk = i_item_sk
      |JOIN date_dim ON cs_sold_date_sk = d_date_sk
      |WHERE i_current_price BETWEEN 920 AND 980
      |  AND d_date BETWEEN DATE '1998-05-01' AND DATE '1998-07-01'
      |GROUP BY w_state, i_item_id
      |ORDER BY w_state, i_item_id LIMIT 100""".stripMargin),
    "ds_q47" -> ds(s"""
      |, v1 AS (
      |  SELECT i_category, i_brand, s_store_name, d_year, d_moy,
      |    ${ds_sum("ss_sales_price", "sum_sales")}
      |  FROM store_sales, date_dim, item, store
      |  WHERE ss_sold_date_sk = d_date_sk AND ss_item_sk = i_item_sk
      |    AND ss_store_sk = s_store_sk AND d_year IN (1998, 1999, 2000)
      |  GROUP BY 1, 2, 3, 4, 5),
      |v2 AS (
      |  SELECT i_category, i_brand, s_store_name, d_year, d_moy, sum_sales,
      |    CAST(SUM(CAST(sum_sales AS DECIMAL(18,6))) OVER wy AS DOUBLE)
      |      / COUNT(*) OVER wy AS avg_monthly_sales,
      |    LAG(sum_sales) OVER ws AS psum, LEAD(sum_sales) OVER ws AS nsum
      |  FROM v1
      |  WINDOW wy AS (PARTITION BY i_category, i_brand, s_store_name, d_year),
      |         ws AS (PARTITION BY i_category, i_brand, s_store_name
      |                ORDER BY d_year, d_moy))
      |SELECT i_category, i_brand, s_store_name, d_year, d_moy, sum_sales,
      |  avg_monthly_sales, psum, nsum
      |FROM v2
      |WHERE d_year = 1999 AND avg_monthly_sales > 0
      |  AND abs(sum_sales - avg_monthly_sales) / avg_monthly_sales > 0.1
      |ORDER BY i_category, i_brand, s_store_name, d_moy""".stripMargin),
    "ds_q50" -> ds(s"""
      |SELECT s_store_name, s_state,
      |  CAST(SUM(CASE WHEN sr_settled_date_sk - ss_sold_date_sk <= 30
      |    THEN 1 ELSE 0 END) AS BIGINT) AS d30,
      |  CAST(SUM(CASE WHEN sr_settled_date_sk - ss_sold_date_sk > 30
      |    AND sr_settled_date_sk - ss_sold_date_sk <= 60
      |    THEN 1 ELSE 0 END) AS BIGINT) AS d31_60,
      |  CAST(SUM(CASE WHEN sr_settled_date_sk - ss_sold_date_sk > 60
      |    AND sr_settled_date_sk - ss_sold_date_sk <= 90
      |    THEN 1 ELSE 0 END) AS BIGINT) AS d61_90,
      |  CAST(SUM(CASE WHEN sr_settled_date_sk - ss_sold_date_sk > 90
      |    AND sr_settled_date_sk - ss_sold_date_sk <= 120
      |    THEN 1 ELSE 0 END) AS BIGINT) AS d91_120,
      |  CAST(SUM(CASE WHEN sr_settled_date_sk - ss_sold_date_sk > 120
      |    THEN 1 ELSE 0 END) AS BIGINT) AS dgt120
      |FROM store_sales
      |JOIN store_returns ON ss_ticket_number = sr_ticket_number
      |  AND ss_item_sk = sr_item_sk AND ss_customer_sk = sr_customer_sk
      |JOIN store ON ss_store_sk = s_store_sk
      |JOIN date_dim d2 ON sr_settled_date_sk = d2.d_date_sk
      |WHERE d2.d_year = 1998 AND d2.d_moy = 8
      |GROUP BY s_store_name, s_state
      |ORDER BY s_store_name, s_state""".stripMargin),
    "ds_q67" -> ds(s"""
      |, res AS (
      |  SELECT i_category, i_class, i_brand, i_item_id, d_qoy, d_moy,
      |    CAST(SUM(CAST(ss_sales_price * ss_quantity AS DECIMAL(18,6)))
      |      AS DOUBLE) AS sumsales,
      |    GROUPING(i_category) AS g0, GROUPING(i_class) AS g1,
      |    GROUPING(i_brand) AS g2, GROUPING(i_item_id) AS g3
      |  FROM store_sales, date_dim, item
      |  WHERE ss_sold_date_sk = d_date_sk AND ss_item_sk = i_item_sk
      |    AND d_year = 1998
      |  GROUP BY ROLLUP(i_category, i_class, i_brand, i_item_id, d_qoy, d_moy)),
      |ranked AS (
      |  SELECT *, CAST(RANK() OVER (PARTITION BY i_category
      |    ORDER BY sumsales DESC, i_class ASC NULLS FIRST,
      |      i_brand ASC NULLS FIRST, i_item_id ASC NULLS FIRST,
      |      d_qoy ASC NULLS FIRST, d_moy ASC NULLS FIRST) AS BIGINT) AS rk
      |  FROM res)
      |SELECT CASE WHEN g0 = 1 THEN 'ALL' ELSE i_category END AS i_category,
      |  CASE WHEN g1 = 1 THEN 'ALL' ELSE i_class END AS i_class,
      |  CASE WHEN g2 = 1 THEN 'ALL' ELSE i_brand END AS i_brand,
      |  CASE WHEN g3 = 1 THEN 'ALL' ELSE i_item_id END AS i_item_id,
      |  d_qoy, d_moy, sumsales, rk
      |FROM ranked WHERE rk <= 10
      |ORDER BY i_category, rk, i_class, i_brand, i_item_id,
      |  d_qoy NULLS FIRST, d_moy NULLS FIRST""".stripMargin),
    "ds_q26" -> ds(s"""
      |SELECT i_item_id, ${ds_avg("cs_quantity", "agg1")},
      |  ${ds_avg("cs_list_price", "agg2")},
      |  ${ds_avg("cs_ext_discount_amt", "agg3")},
      |  ${ds_avg("cs_sales_price", "agg4")}
      |FROM catalog_sales, customer_demographics, date_dim, promotion, item
      |WHERE cs_sold_date_sk = d_date_sk AND cs_item_sk = i_item_sk
      |  AND cs_bill_cdemo_sk = cd_demo_sk AND cs_promo_sk = p_promo_sk
      |  AND cd_gender = 'F' AND cd_marital_status = 'D'
      |  AND cd_education_status = 'Secondary' AND d_year = 1999
      |  AND (p_channel_email = 'N' OR p_channel_event = 'N')
      |GROUP BY i_item_id ORDER BY i_item_id LIMIT 100""".stripMargin),
    "ds_q53" -> ds(s"""
      |, q53 AS (
      |  SELECT i_manufact_id, d_qoy, ${ds_sum("ss_sales_price", "sum_sales")}
      |  FROM store_sales, date_dim, item
      |  WHERE ss_sold_date_sk = d_date_sk AND ss_item_sk = i_item_sk
      |    AND d_year = 1998
      |  GROUP BY i_manufact_id, d_qoy),
      |w53 AS (
      |  SELECT i_manufact_id, d_qoy, sum_sales,
      |    CAST(SUM(CAST(sum_sales AS DECIMAL(18,6)))
      |        OVER (PARTITION BY i_manufact_id) AS DOUBLE)
      |      / COUNT(*) OVER (PARTITION BY i_manufact_id) AS avg_quarterly_sales
      |  FROM q53)
      |SELECT i_manufact_id, d_qoy, sum_sales, avg_quarterly_sales
      |FROM w53
      |WHERE avg_quarterly_sales > 0
      |  AND abs(sum_sales - avg_quarterly_sales) / avg_quarterly_sales > 0.1
      |ORDER BY i_manufact_id, d_qoy""".stripMargin),
    "ds_q58" -> ds(s"""
      |, ssr AS (
      |  SELECT i_item_id AS ss_item_id, ${ds_sum("ss_ext_sales_price", "ss_rev")}
      |  FROM store_sales, date_dim, item
      |  WHERE ss_ticket_number % 3 = 0 AND ss_sold_date_sk = d_date_sk
      |    AND ss_item_sk = i_item_sk AND d_year = 1998 GROUP BY 1),
      |csr AS (
      |  SELECT i_item_id AS cs_item_id, ${ds_sum("cs_ext_sales_price", "cs_rev")}
      |  FROM catalog_sales, date_dim, item
      |  WHERE cs_sold_date_sk = d_date_sk AND cs_item_sk = i_item_sk
      |    AND d_year = 1998 GROUP BY 1),
      |wsr AS (
      |  SELECT i_item_id AS ws_item_id, ${ds_sum("ws_ext_sales_price", "ws_rev")}
      |  FROM web_sales, date_dim, item
      |  WHERE ws_sold_date_sk = d_date_sk AND ws_item_sk = i_item_sk
      |    AND d_year = 1998 GROUP BY 1)
      |SELECT ss_item_id AS item_id, ss_rev, cs_rev, ws_rev,
      |  (ss_rev + cs_rev + ws_rev) / 3.0 AS average
      |FROM ssr JOIN csr ON ss_item_id = cs_item_id
      |JOIN wsr ON ss_item_id = ws_item_id
      |WHERE ss_rev BETWEEN cs_rev * 0.8 AND cs_rev * 1.2
      |  AND ss_rev BETWEEN ws_rev * 0.8 AND ws_rev * 1.2
      |  AND cs_rev BETWEEN ss_rev * 0.8 AND ss_rev * 1.2
      |  AND cs_rev BETWEEN ws_rev * 0.8 AND ws_rev * 1.2
      |  AND ws_rev BETWEEN ss_rev * 0.8 AND ss_rev * 1.2
      |  AND ws_rev BETWEEN cs_rev * 0.8 AND cs_rev * 1.2
      |ORDER BY item_id LIMIT 100""".stripMargin),
    "ds_q59" -> ds(s"""
      |, wss AS (
      |  SELECT ss_store_sk, d_week_seq,
      |    ${ds_day("Sunday", "ss_sales_price", "sun_sales")},
      |    ${ds_day("Monday", "ss_sales_price", "mon_sales")},
      |    ${ds_day("Tuesday", "ss_sales_price", "tue_sales")},
      |    ${ds_day("Wednesday", "ss_sales_price", "wed_sales")},
      |    ${ds_day("Thursday", "ss_sales_price", "thu_sales")},
      |    ${ds_day("Friday", "ss_sales_price", "fri_sales")},
      |    ${ds_day("Saturday", "ss_sales_price", "sat_sales")}
      |  FROM store_sales JOIN date_dim ON ss_sold_date_sk = d_date_sk
      |  GROUP BY ss_store_sk, d_week_seq)
      |SELECT s_store_name, y.d_week_seq AS d_week_seq,
      |  ${Seq("sun", "mon", "tue", "wed", "thu", "fri", "sat").map(n =>
            s"CASE WHEN z.${n}_sales IS NULL OR z.${n}_sales = 0 THEN NULL " +
            s"ELSE y.${n}_sales / z.${n}_sales END AS ${n}_ratio").mkString(",\n      |  ")}
      |FROM wss y
      |JOIN wss z ON y.d_week_seq + 52 = z.d_week_seq
      |  AND y.ss_store_sk = z.ss_store_sk
      |JOIN store ON y.ss_store_sk = s_store_sk
      |WHERE y.d_week_seq IN (SELECT d_week_seq FROM date_dim
      |    WHERE d_year = 1998 AND d_date_sk % 7 = 0)
      |  AND z.d_week_seq IN (SELECT d_week_seq FROM date_dim
      |    WHERE d_year = 1999 AND d_date_sk % 7 = 0)
      |ORDER BY s_store_name, d_week_seq""".stripMargin),
    "ds_q66" -> ds(s"""
      |, u66 AS (
      |  SELECT ws_warehouse_sk AS wsk, ws_sold_date_sk AS dsk,
      |    ws_sold_time_sk AS tsk, ws_ship_mode_sk AS smk,
      |    ws_ext_sales_price * ws_quantity AS sales
      |  FROM web_sales
      |  UNION ALL
      |  SELECT cs_warehouse_sk, cs_sold_date_sk, cs_sold_time_sk,
      |    cs_ship_mode_sk, cs_ext_sales_price * cs_quantity
      |  FROM catalog_sales)
      |SELECT w_warehouse_name, w_warehouse_sq_ft,
      |  ${(1 to 12).map(m =>
            s"CAST(SUM(CASE WHEN d_moy = $m THEN CAST(sales AS DECIMAL(18,6)) END) AS DOUBLE) AS m${m}_sales")
            .mkString(",\n      |  ")}
      |FROM u66, date_dim, time_dim, ship_mode, warehouse
      |WHERE dsk = d_date_sk AND tsk = t_time_sk AND smk = sm_ship_mode_sk
      |  AND wsk = w_warehouse_sk AND d_year = 1998
      |  AND t_hour BETWEEN 7 AND 13 AND sm_type IN ('EXPRESS', 'SEA')
      |GROUP BY w_warehouse_name, w_warehouse_sq_ft
      |ORDER BY w_warehouse_name""".stripMargin),
    "ds_q70" -> ds(s"""
      |, tops AS (
      |  SELECT top_state FROM (
      |    SELECT s_state AS top_state,
      |      ${ds_sum("ss_net_profit", "state_profit")},
      |      RANK() OVER (ORDER BY ${dsumS.format("ss_net_profit")} DESC,
      |        s_state ASC) AS rk
      |    FROM store_sales, date_dim, store
      |    WHERE ss_sold_date_sk = d_date_sk AND ss_store_sk = s_store_sk
      |      AND d_year = 1998
      |    GROUP BY s_state) r WHERE rk <= 2),
      |base70 AS (
      |  SELECT ${ds_sum("ss_net_profit", "total_sum")},
      |    s_state, s_county,
      |    CAST(GROUPING(s_state) + GROUPING(s_county) AS BIGINT) AS lochierarchy,
      |    GROUPING(s_state) AS g_state,
      |    GROUPING(s_county) AS g_county
      |  FROM store_sales, date_dim, store
      |  WHERE ss_sold_date_sk = d_date_sk AND ss_store_sk = s_store_sk
      |    AND d_year = 1998 AND s_state IN (SELECT top_state FROM tops)
      |  GROUP BY ROLLUP(s_state, s_county))
      |SELECT total_sum, CASE WHEN g_state = 1 THEN 'ALL' ELSE s_state END AS s_state,
      |  CASE WHEN g_county = 1 THEN 'ALL' ELSE s_county END AS s_county, lochierarchy,
      |  CAST(RANK() OVER (PARTITION BY lochierarchy,
      |      CASE WHEN g_county = 0 THEN s_state END
      |    ORDER BY total_sum DESC, s_state ASC NULLS FIRST,
      |      s_county ASC NULLS FIRST) AS BIGINT) AS rank_within_parent
      |FROM base70
      |ORDER BY lochierarchy DESC, s_state, s_county""".stripMargin),
    "ds_q22" -> ds(s"""
      |SELECT CASE WHEN GROUPING(i_item_id) = 1 THEN 'ALL' ELSE i_item_id END AS i_item_id,
      |  CASE WHEN GROUPING(i_brand) = 1 THEN 'ALL' ELSE i_brand END AS i_brand,
      |  CASE WHEN GROUPING(i_class) = 1 THEN 'ALL' ELSE i_class END AS i_class,
      |  CASE WHEN GROUPING(i_category) = 1 THEN 'ALL' ELSE i_category END AS i_category,
      |  ${ds_avg("inv_quantity_on_hand", "qoh")}
      |FROM inventory, date_dim, item
      |WHERE inv_date_sk = d_date_sk AND inv_item_sk = i_item_sk
      |  AND d_year = 1998
      |GROUP BY ROLLUP(i_item_id, i_brand, i_class, i_category)
      |ORDER BY qoh, i_item_id, i_brand, i_class, i_category
      |LIMIT 100""".stripMargin),
    "ds_q72" -> ds(s"""
      |SELECT i_item_id, w_warehouse_name, d1.d_week_seq AS d_week_seq,
      |  CAST(SUM(CASE WHEN p_promo_sk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS no_promo,
      |  CAST(SUM(CASE WHEN p_promo_sk IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS promo,
      |  count(*) AS total_cnt
      |FROM catalog_sales
      |JOIN date_dim d1 ON cs_sold_date_sk = d1.d_date_sk
      |JOIN inventory ON cs_item_sk = inv_item_sk
      |JOIN date_dim d2 ON inv_date_sk = d2.d_date_sk
      |  AND d1.d_week_seq = d2.d_week_seq
      |JOIN warehouse ON inv_warehouse_sk = w_warehouse_sk
      |LEFT JOIN promotion ON cs_promo_sk = p_promo_sk
      |  AND p_channel_email = 'N'
      |JOIN item ON cs_item_sk = i_item_sk
      |WHERE d1.d_year = 1998 AND inv_quantity_on_hand < cs_quantity
      |GROUP BY i_item_id, w_warehouse_name, d1.d_week_seq
      |ORDER BY i_item_id, w_warehouse_name, d_week_seq LIMIT 100""".stripMargin),
    "ds_q75" -> ds(s"""
      |, prom_items AS (
      |  SELECT i_item_sk, i_brand_id FROM item WHERE i_category = 'PROMO'),
      |nets AS (
      |  SELECT d_year, i_brand_id,
      |    ss_quantity - COALESCE(r_qty, 0.0) AS net_qty
      |  FROM store_sales
      |  LEFT JOIN (SELECT sr_ticket_number AS r_o, sr_item_sk AS r_i,
      |      ${ds_sum("sr_return_quantity", "r_qty")}
      |    FROM store_returns GROUP BY 1, 2) r
      |    ON ss_ticket_number = r_o AND ss_item_sk = r_i
      |  JOIN date_dim ON ss_sold_date_sk = d_date_sk
      |  JOIN prom_items ON ss_item_sk = i_item_sk
      |  UNION ALL
      |  SELECT d_year, i_brand_id, cs_quantity - COALESCE(r_qty, 0.0)
      |  FROM catalog_sales
      |  LEFT JOIN (SELECT cr_order_number AS r_o, cr_item_sk AS r_i,
      |      ${ds_sum("cr_return_quantity", "r_qty")}
      |    FROM catalog_returns GROUP BY 1, 2) r
      |    ON cs_order_number = r_o AND cs_item_sk = r_i
      |  JOIN date_dim ON cs_sold_date_sk = d_date_sk
      |  JOIN prom_items ON cs_item_sk = i_item_sk
      |  UNION ALL
      |  SELECT d_year, i_brand_id, ws_quantity - COALESCE(r_qty, 0.0)
      |  FROM web_sales
      |  LEFT JOIN (SELECT wr_order_number AS r_o, wr_item_sk AS r_i,
      |      ${ds_sum("wr_return_quantity", "r_qty")}
      |    FROM web_returns GROUP BY 1, 2) r
      |    ON ws_order_number = r_o AND ws_item_sk = r_i
      |  JOIN date_dim ON ws_sold_date_sk = d_date_sk
      |  JOIN prom_items ON ws_item_sk = i_item_sk),
      |tot AS (
      |  SELECT d_year, i_brand_id, ${ds_sum("net_qty", "sales_cnt")}
      |  FROM nets GROUP BY 1, 2)
      |SELECT CAST(1998 AS BIGINT) AS prev_year, CAST(1999 AS BIGINT) AS curr_year,
      |  c.i_brand_id, p.sales_cnt AS prev_cnt, c.sales_cnt AS curr_cnt,
      |  c.sales_cnt / p.sales_cnt AS sales_ratio
      |FROM tot c JOIN tot p ON c.i_brand_id = p.i_brand_id
      |WHERE c.d_year = 1999 AND p.d_year = 1998
      |  AND p.sales_cnt > 0 AND c.sales_cnt / p.sales_cnt < 0.9
      |ORDER BY c.i_brand_id""".stripMargin),
    "ds_q78" -> ds(s"""
      |, ss78 AS (
      |  SELECT d_year AS ss_year, ss_item_sk,
      |    ${ds_sum("ss_quantity", "ss_qty")},
      |    ${ds_sum("ss_ext_sales_price", "ss_amt")}
      |  FROM store_sales
      |  JOIN date_dim ON ss_sold_date_sk = d_date_sk
      |  WHERE NOT EXISTS (SELECT 1 FROM store_returns
      |    WHERE sr_ticket_number = ss_ticket_number AND sr_item_sk = ss_item_sk)
      |  GROUP BY 1, 2),
      |ws78 AS (
      |  SELECT d_year AS ws_year, ws_item_sk,
      |    ${ds_sum("ws_quantity", "ws_qty")},
      |    ${ds_sum("ws_ext_sales_price", "ws_amt")}
      |  FROM web_sales
      |  JOIN date_dim ON ws_sold_date_sk = d_date_sk
      |  WHERE NOT EXISTS (SELECT 1 FROM web_returns
      |    WHERE wr_order_number = ws_order_number AND wr_item_sk = ws_item_sk)
      |  GROUP BY 1, 2)
      |SELECT ss_year AS d_year, ss_item_sk AS i_item_sk,
      |  ss_qty / ws_qty AS ratio, ss_qty, ws_qty, ss_amt, ws_amt
      |FROM ss78 JOIN ws78 ON ss_year = ws_year AND ss_item_sk = ws_item_sk
      |WHERE ws_qty > 0
      |ORDER BY d_year, i_item_sk LIMIT 100""".stripMargin),
    "ds_q84" -> ds(s"""
      |SELECT c_customer_id AS customer_id,
      |  c_last_name || ', ' || c_first_name AS customername
      |FROM customer_dim
      |JOIN customer_address ON c_current_addr_sk = ca_address_sk
      |JOIN household_demographics ON c_current_hdemo_sk = hd_demo_sk
      |JOIN income_band ON hd_income_band_sk = ib_income_band_sk
      |WHERE ca_city = 'City_5'
      |  AND ib_lower_bound >= 30000 AND ib_upper_bound <= 80000
      |  AND c_customer_sk IN (SELECT sr_customer_sk FROM store_returns)
      |ORDER BY customer_id LIMIT 100""".stripMargin),
    "ds_q17" -> ds(s"""
      |SELECT i_item_id, s_state,
      |  ${q17leg("ss_quantity", "ss")},
      |  ${q17leg("sr_return_quantity", "sr")},
      |  ${q17leg("cs_quantity", "cs")}
      |FROM store_sales
      |JOIN store_returns ON ss_ticket_number = sr_ticket_number
      |  AND ss_item_sk = sr_item_sk AND ss_customer_sk = sr_customer_sk
      |JOIN catalog_sales ON sr_customer_sk = cs_bill_customer_sk
      |  AND sr_item_sk = cs_item_sk
      |JOIN date_dim d1 ON ss_sold_date_sk = d1.d_date_sk
      |JOIN date_dim d2 ON sr_returned_date_sk = d2.d_date_sk
      |JOIN date_dim d3 ON cs_sold_date_sk = d3.d_date_sk
      |JOIN store ON ss_store_sk = s_store_sk
      |JOIN item ON ss_item_sk = i_item_sk
      |WHERE d1.d_year = 1998 AND d1.d_qoy = 1
      |  AND d2.d_year = 1998 AND d2.d_qoy BETWEEN 1 AND 3
      |  AND d3.d_year = 1998 AND d3.d_qoy BETWEEN 1 AND 3
      |GROUP BY i_item_id, s_state
      |ORDER BY i_item_id, s_state LIMIT 100""".stripMargin),
    "ds_q41" -> ds(s"""
      |SELECT DISTINCT i_item_id FROM item i1
      |WHERE i_manufact_id BETWEEN 20 AND 60
      |  AND (SELECT count(*) FROM item i2
      |    WHERE i2.i_manufact_id = i1.i_manufact_id
      |      AND ((i2.i_category = 'SMALL' AND i2.i_class IN ('CLASS_1', 'CLASS_3'))
      |        OR (i2.i_category = 'LARGE' AND i2.i_class IN ('CLASS_2', 'CLASS_5'))
      |        OR (i2.i_category = 'PROMO' AND i2.i_class IN ('CLASS_0', 'CLASS_7')))) > 0
      |ORDER BY i_item_id LIMIT 100""".stripMargin),
    "ds_q71" -> ds(s"""
      |, u71 AS (
      |  SELECT ws_ext_sales_price AS ext_price, ws_item_sk AS sold_item_sk,
      |    ws_sold_time_sk AS time_sk, ws_sold_date_sk AS sold_date_sk
      |  FROM web_sales
      |  UNION ALL
      |  SELECT cs_ext_sales_price, cs_item_sk, cs_sold_time_sk, cs_sold_date_sk
      |  FROM catalog_sales
      |  UNION ALL
      |  SELECT ss_ext_sales_price, ss_item_sk, ss_sold_time_sk, ss_sold_date_sk
      |  FROM store_sales)
      |SELECT i_brand_id, i_brand, t_hour, t_minute,
      |  ${ds_sum("ext_price", "ext_price")}
      |FROM u71, date_dim, item, time_dim
      |WHERE sold_date_sk = d_date_sk AND sold_item_sk = i_item_sk
      |  AND time_sk = t_time_sk AND d_moy = 11 AND d_year = 1998
      |  AND i_manager_id = 7
      |  AND (t_hour BETWEEN 8 AND 9 OR t_hour BETWEEN 19 AND 20)
      |GROUP BY i_brand_id, i_brand, t_hour, t_minute
      |ORDER BY ext_price DESC, i_brand_id, t_hour, t_minute""".stripMargin),
    "ds_q77" -> ds(s"""
      |, dr AS (SELECT d_date_sk FROM date_dim
      |    WHERE d_date BETWEEN DATE '1998-08-01' AND DATE '1998-09-30'),
      |ssp AS (SELECT ss_store_sk AS id, ${ds_sum("ss_ext_sales_price", "sales")},
      |    ${ds_sum("ss_net_profit", "gross_profit")}
      |  FROM store_sales JOIN dr ON ss_sold_date_sk = d_date_sk GROUP BY 1),
      |srp AS (SELECT sr_store_sk AS rid, ${ds_sum("sr_return_amt", "returns_")},
      |    ${ds_sum("sr_net_loss", "loss")}
      |  FROM store_returns JOIN dr ON sr_returned_date_sk = d_date_sk GROUP BY 1),
      |csp AS (SELECT cs_warehouse_sk AS id, ${ds_sum("cs_ext_sales_price", "sales")},
      |    ${ds_sum("cs_sales_price", "gross_profit")}
      |  FROM catalog_sales JOIN dr ON cs_sold_date_sk = d_date_sk GROUP BY 1),
      |crt AS (SELECT ${ds_sum("cr_return_amount", "returns_")},
      |    ${ds_sum("cr_return_amount", "loss")}
      |  FROM catalog_returns JOIN dr ON cr_returned_date_sk = d_date_sk),
      |wsp AS (SELECT ws_warehouse_sk AS id, ${ds_sum("ws_ext_sales_price", "sales")},
      |    ${ds_sum("ws_ext_sales_price", "gross_profit")}
      |  FROM web_sales JOIN dr ON ws_sold_date_sk = d_date_sk GROUP BY 1),
      |wrp AS (SELECT wr_warehouse_sk AS rid, ${ds_sum("wr_return_amt", "returns_")},
      |    ${ds_sum("wr_net_loss", "loss")}
      |  FROM web_returns JOIN dr ON wr_returned_date_sk = d_date_sk GROUP BY 1),
      |chans AS (
      |  SELECT 'store channel' AS channel, id, sales,
      |    COALESCE(returns_, 0.0) AS returns_,
      |    gross_profit - COALESCE(loss, 0.0) AS profit
      |  FROM ssp LEFT JOIN srp ON id = rid
      |  UNION ALL
      |  SELECT 'catalog channel', id, sales, COALESCE(returns_, 0.0),
      |    gross_profit - COALESCE(loss, 0.0)
      |  FROM csp CROSS JOIN crt
      |  UNION ALL
      |  SELECT 'web channel', id, sales, COALESCE(returns_, 0.0),
      |    gross_profit - COALESCE(loss, 0.0)
      |  FROM wsp LEFT JOIN wrp ON id = rid)
      |SELECT CASE WHEN GROUPING(channel) = 1 THEN 'ALL' ELSE channel END AS channel, id,
      |  ${ds_sum("sales", "sales")}, ${ds_sum("returns_", "returns_")},
      |  ${ds_sum("profit", "profit")}
      |FROM chans GROUP BY ROLLUP(channel, id)
      |HAVING COUNT(*) > 0
      |ORDER BY channel, id NULLS FIRST LIMIT 100""".stripMargin),
    "ds_q85" -> ds(s"""
      |SELECT r_reason_desc, ${ds_avg("ws_quantity", "avg_qty")},
      |  ${ds_avg("wr_return_amt", "avg_refund")}
      |FROM web_sales
      |JOIN web_returns ON ws_order_number = wr_order_number
      |  AND ws_item_sk = wr_item_sk
      |JOIN reason ON wr_reason_sk = r_reason_sk
      |JOIN customer_demographics ON wr_refunded_cdemo_sk = cd_demo_sk
      |WHERE (cd_marital_status = 'M' AND cd_education_status = '4 yr Degree'
      |    AND ws_quantity BETWEEN 1 AND 20)
      |  OR (cd_marital_status = 'S' AND cd_education_status = 'College'
      |    AND ws_quantity BETWEEN 21 AND 35)
      |  OR (cd_marital_status = 'W' AND cd_education_status = 'Primary'
      |    AND ws_quantity BETWEEN 36 AND 50)
      |GROUP BY r_reason_desc ORDER BY r_reason_desc""".stripMargin),
    "ds_q95" -> ds(s"""
      |, ws_wh AS (
      |  SELECT DISTINCT ws1.ws_order_number AS o FROM web_sales ws1
      |  JOIN web_sales ws2 ON ws1.ws_order_number = ws2.ws_order_number
      |    AND ws1.ws_warehouse_sk <> ws2.ws_warehouse_sk)
      |SELECT CAST(count(DISTINCT ws_order_number) AS BIGINT) AS order_count,
      |  ${ds_sum("ws_ext_sales_price", "total_price")}
      |FROM web_sales JOIN date_dim ON ws_sold_date_sk = d_date_sk
      |WHERE d_date BETWEEN DATE '1998-02-01' AND DATE '1998-03-31'
      |  AND ws_order_number IN (SELECT o FROM ws_wh)
      |  AND ws_order_number IN (SELECT wr_order_number FROM web_returns)""".stripMargin),
    "ds_q12" -> ds(revenueRatioSql("web_sales", "ws_sold_date_sk",
      "ws_item_sk", "ws_ext_sales_price")),
    "ds_q20" -> ds(revenueRatioSql("catalog_sales", "cs_sold_date_sk",
      "cs_item_sk", "cs_ext_sales_price")),
    "ds_q63" -> ds(s"""
      |, q63 AS (
      |  SELECT i_manager_id, d_moy, ${ds_sum("ss_sales_price", "sum_sales")}
      |  FROM store_sales, date_dim, item
      |  WHERE ss_sold_date_sk = d_date_sk AND ss_item_sk = i_item_sk
      |    AND d_year = 1998
      |  GROUP BY i_manager_id, d_moy),
      |w63 AS (
      |  SELECT i_manager_id, d_moy, sum_sales,
      |    CAST(SUM(CAST(sum_sales AS DECIMAL(18,6)))
      |        OVER (PARTITION BY i_manager_id) AS DOUBLE)
      |      / COUNT(*) OVER (PARTITION BY i_manager_id) AS avg_monthly_sales
      |  FROM q63)
      |SELECT i_manager_id, d_moy, sum_sales, avg_monthly_sales
      |FROM w63
      |WHERE avg_monthly_sales > 0
      |  AND abs(sum_sales - avg_monthly_sales) / avg_monthly_sales > 0.1
      |ORDER BY i_manager_id, d_moy""".stripMargin),
    "ds_q82" -> ds(s"""
      |SELECT i_item_id, i_current_price
      |FROM item, inventory, date_dim
      |WHERE i_current_price BETWEEN 920 AND 980
      |  AND inv_item_sk = i_item_sk AND d_date_sk = inv_date_sk
      |  AND d_date BETWEEN DATE '1998-06-01' AND DATE '1998-07-30'
      |  AND i_manufact_id IN (15, 25, 35, 45)
      |  AND inv_quantity_on_hand BETWEEN 100 AND 500
      |  AND i_item_sk IN (SELECT ss_item_sk FROM store_sales)
      |GROUP BY i_item_id, i_current_price
      |ORDER BY i_item_id LIMIT 100""".stripMargin),
    "ds_q92" -> ds(s"""
      |, ws92 AS (
      |  SELECT ws_item_sk, ws_ext_discount_amt
      |  FROM web_sales JOIN date_dim ON ws_sold_date_sk = d_date_sk
      |  WHERE d_date BETWEEN DATE '1998-03-01' AND DATE '1998-05-30')
      |SELECT ${ds_sum("ws_ext_discount_amt", "excess_discount_amount")}
      |FROM ws92 a JOIN item ON a.ws_item_sk = i_item_sk
      |WHERE i_manufact_id = 9
      |  AND a.ws_ext_discount_amt > (
      |    SELECT ${dsumS.format("ws_ext_discount_amt")} / count(ws_ext_discount_amt) * 1.3
      |    FROM ws92 b WHERE b.ws_item_sk = a.ws_item_sk)""".stripMargin),
    "ds_q99" -> ds(s"""
      |SELECT w_warehouse_name, sm_type,
      |  CAST(SUM(CASE WHEN cs_ship_date_sk - cs_sold_date_sk <= 30
      |    THEN 1 ELSE 0 END) AS BIGINT) AS d30,
      |  CAST(SUM(CASE WHEN cs_ship_date_sk - cs_sold_date_sk > 30
      |    AND cs_ship_date_sk - cs_sold_date_sk <= 60 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS d60,
      |  CAST(SUM(CASE WHEN cs_ship_date_sk - cs_sold_date_sk > 60
      |    AND cs_ship_date_sk - cs_sold_date_sk <= 90 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS d90,
      |  CAST(SUM(CASE WHEN cs_ship_date_sk - cs_sold_date_sk > 90
      |    AND cs_ship_date_sk - cs_sold_date_sk <= 120 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS d120,
      |  CAST(SUM(CASE WHEN cs_ship_date_sk - cs_sold_date_sk > 120
      |    THEN 1 ELSE 0 END) AS BIGINT) AS dmore
      |FROM catalog_sales, date_dim, warehouse, ship_mode
      |WHERE cs_sold_date_sk = d_date_sk AND d_year = 1998
      |  AND cs_warehouse_sk = w_warehouse_sk
      |  AND cs_ship_mode_sk = sm_ship_mode_sk
      |GROUP BY w_warehouse_name, sm_type
      |ORDER BY w_warehouse_name, sm_type""".stripMargin),
    "ds_q86" -> ds(s"""
      |, base86 AS (
      |  SELECT ${dsumS.format("ws_net_profit")} /
      |      ${dsumS.format("ws_ext_sales_price")} AS gross_margin,
      |    i_category, i_class,
      |    CAST(GROUPING(i_category) + GROUPING(i_class) AS BIGINT) AS lochierarchy,
      |    GROUPING(i_category) AS g_cat,
      |    GROUPING(i_class) AS g_class
      |  FROM web_sales, date_dim, item
      |  WHERE ws_sold_date_sk = d_date_sk AND d_year = 1998
      |    AND ws_item_sk = i_item_sk
      |  GROUP BY ROLLUP(i_category, i_class))
      |SELECT round(gross_margin, 8) AS gross_margin,
      |  CASE WHEN g_cat = 1 THEN 'ALL' ELSE i_category END AS i_category,
      |  CASE WHEN g_class = 1 THEN 'ALL' ELSE i_class END AS i_class, lochierarchy,
      |  CAST(RANK() OVER (PARTITION BY lochierarchy,
      |      CASE WHEN g_class = 0 THEN i_category END
      |    ORDER BY gross_margin ASC, i_category ASC NULLS FIRST,
      |      i_class ASC NULLS FIRST) AS BIGINT) AS rank_within_parent
      |FROM base86
      |ORDER BY lochierarchy DESC, i_category, i_class""".stripMargin),
    "ds_q33" -> ds(unionByItemAttrSql("i_manufact_id",
      "i_category = 'ECONOMY'")),
    "ds_q56" -> ds(unionByItemAttrSql("i_class",
      "i_category IN ('SMALL', 'PROMO')")),
    "ds_q81" -> ds(stateReturnersSql("catalog_returns",
      "cr_returning_customer_sk", "cr_return_amount")),
    "ds_q30" -> ds(stateReturnersSql("web_returns",
      "wr_returning_customer_sk", "wr_return_amt")),
    "ds_q46" -> ds(s"""
      |SELECT c_last_name, c_first_name, ca2.ca_city AS home_city,
      |  bought_city, ss_ticket_number, amt, profit
      |FROM (SELECT ss_ticket_number, ss_customer_sk, ca_city AS bought_city,
      |        ${ds_sum("ss_coupon_amt", "amt")},
      |        ${ds_sum("ss_net_profit", "profit")}
      |      FROM store_sales, date_dim, store, household_demographics,
      |        customer_address
      |      WHERE ss_sold_date_sk = d_date_sk AND ss_store_sk = s_store_sk
      |        AND ss_hdemo_sk = hd_demo_sk AND ss_addr_sk = ca_address_sk
      |        AND d_dow IN (0, 6) AND d_year IN (1998, 1999, 2000)
      |        AND s_city IN ('City_2', 'City_3')
      |        AND (hd_dep_count = 5 OR hd_vehicle_count = 2)
      |      GROUP BY ss_ticket_number, ss_customer_sk, ca_city) dn
      |JOIN customer_dim ON ss_customer_sk = c_customer_sk
      |JOIN customer_address ca2 ON c_current_addr_sk = ca2.ca_address_sk
      |WHERE ca2.ca_city <> bought_city
      |ORDER BY c_last_name, ss_ticket_number""".stripMargin),
    "ds_q57" -> ds(s"""
      |, v1 AS (
      |  SELECT i_category, i_brand, w_warehouse_name, d_year, d_moy,
      |    ${ds_sum("cs_sales_price", "sum_sales")}
      |  FROM catalog_sales, date_dim, item, warehouse
      |  WHERE cs_sold_date_sk = d_date_sk AND cs_item_sk = i_item_sk
      |    AND cs_warehouse_sk = w_warehouse_sk
      |    AND d_year IN (1998, 1999, 2000)
      |  GROUP BY 1, 2, 3, 4, 5),
      |v2 AS (
      |  SELECT i_category, i_brand, w_warehouse_name, d_year, d_moy, sum_sales,
      |    CAST(SUM(CAST(sum_sales AS DECIMAL(18,6))) OVER wy AS DOUBLE)
      |      / COUNT(*) OVER wy AS avg_monthly_sales,
      |    LAG(sum_sales) OVER ws AS psum, LEAD(sum_sales) OVER ws AS nsum
      |  FROM v1
      |  WINDOW wy AS (PARTITION BY i_category, i_brand, w_warehouse_name, d_year),
      |         ws AS (PARTITION BY i_category, i_brand, w_warehouse_name
      |                ORDER BY d_year, d_moy))
      |SELECT i_category, i_brand, w_warehouse_name, d_year, d_moy, sum_sales,
      |  avg_monthly_sales, psum, nsum
      |FROM v2
      |WHERE d_year = 1999 AND avg_monthly_sales > 0
      |  AND abs(sum_sales - avg_monthly_sales) / avg_monthly_sales > 0.1
      |ORDER BY i_category, i_brand, w_warehouse_name, d_moy""".stripMargin),
    "ds_q94" -> ds(s"""
      |, ws_wh AS (
      |  SELECT DISTINCT ws1.ws_order_number AS o FROM web_sales ws1
      |  JOIN web_sales ws2 ON ws1.ws_order_number = ws2.ws_order_number
      |    AND ws1.ws_warehouse_sk <> ws2.ws_warehouse_sk)
      |SELECT CAST(count(DISTINCT ws_order_number) AS BIGINT) AS order_count,
      |  ${ds_sum("ws_ext_sales_price", "total_price")}
      |FROM web_sales JOIN date_dim ON ws_sold_date_sk = d_date_sk
      |WHERE d_date BETWEEN DATE '1998-02-01' AND DATE '1998-03-31'
      |  AND ws_order_number IN (SELECT o FROM ws_wh)
      |  AND ws_order_number NOT IN (SELECT wr_order_number FROM web_returns)""".stripMargin),
    "ds_q18" -> ds(s"""
      |SELECT CASE WHEN GROUPING(ca_state) = 1 THEN 'ALL' ELSE ca_state END AS ca_state,
      |  CASE WHEN GROUPING(ca_county) = 1 THEN 'ALL' ELSE ca_county END AS ca_county,
      |  CASE WHEN GROUPING(i_item_id) = 1 THEN 'ALL' ELSE i_item_id END AS i_item_id,
      |  ${ds_avg("cs_quantity", "agg1")}, ${ds_avg("cs_list_price", "agg2")},
      |  ${ds_avg("cs_ext_discount_amt", "agg3")},
      |  ${ds_avg("cs_sales_price", "agg4")}
      |FROM catalog_sales, customer_demographics, date_dim, customer_dim,
      |  customer_address, item
      |WHERE cs_sold_date_sk = d_date_sk AND cs_item_sk = i_item_sk
      |  AND cs_bill_cdemo_sk = cd_demo_sk
      |  AND cs_bill_customer_sk = c_customer_sk
      |  AND c_current_addr_sk = ca_address_sk
      |  AND cd_gender = 'M' AND cd_education_status = 'College'
      |  AND d_year = 1998
      |GROUP BY ROLLUP(ca_state, ca_county, i_item_id)
      |ORDER BY ca_state, ca_county, i_item_id LIMIT 100""".stripMargin),
    "ds_q69" -> ds(s"""
      |SELECT cd_gender, cd_marital_status, cd_education_status,
      |  count(*) AS cnt
      |FROM customer_dim
      |JOIN customer_demographics ON c_current_cdemo_sk = cd_demo_sk
      |WHERE c_customer_sk IN (
      |    SELECT ss_customer_sk FROM store_sales, date_dim
      |    WHERE ss_sold_date_sk = d_date_sk AND d_year = 1999)
      |  AND c_customer_sk NOT IN (
      |    SELECT ws_bill_customer_sk FROM web_sales, date_dim
      |    WHERE ws_sold_date_sk = d_date_sk AND d_year = 1999)
      |  AND c_customer_sk NOT IN (
      |    SELECT cs_bill_customer_sk FROM catalog_sales, date_dim
      |    WHERE cs_sold_date_sk = d_date_sk AND d_year = 1999)
      |GROUP BY cd_gender, cd_marital_status, cd_education_status
      |ORDER BY cd_gender, cd_marital_status, cd_education_status""".stripMargin),
    "ds_q04" -> ds(s"""
      |, ssy AS (SELECT ss_customer_sk AS cust, d_year,
      |    ${ds_sum("ss_ext_sales_price", "tot")}
      |  FROM store_sales, date_dim WHERE ss_sold_date_sk = d_date_sk
      |    AND d_year IN (1998, 1999) GROUP BY 1, 2),
      |csy AS (SELECT cs_bill_customer_sk AS cust, d_year,
      |    ${ds_sum("cs_ext_sales_price", "tot")}
      |  FROM catalog_sales, date_dim WHERE cs_sold_date_sk = d_date_sk
      |    AND d_year IN (1998, 1999) GROUP BY 1, 2),
      |wsy AS (SELECT ws_bill_customer_sk AS cust, d_year,
      |    ${ds_sum("ws_ext_sales_price", "tot")}
      |  FROM web_sales, date_dim WHERE ws_sold_date_sk = d_date_sk
      |    AND d_year IN (1998, 1999) GROUP BY 1, 2)
      |SELECT c_customer_id AS customer_id, c_first_name, c_last_name
      |FROM (SELECT cust, tot FROM ssy WHERE d_year = 1998 AND tot > 0) s1
      |JOIN (SELECT cust, tot FROM ssy WHERE d_year = 1999) s2 ON s1.cust = s2.cust
      |JOIN (SELECT cust, tot FROM csy WHERE d_year = 1998 AND tot > 0) c1 ON s1.cust = c1.cust
      |JOIN (SELECT cust, tot FROM csy WHERE d_year = 1999) c2 ON s1.cust = c2.cust
      |JOIN (SELECT cust, tot FROM wsy WHERE d_year = 1998 AND tot > 0) w1 ON s1.cust = w1.cust
      |JOIN (SELECT cust, tot FROM wsy WHERE d_year = 1999) w2 ON s1.cust = w2.cust
      |JOIN customer_dim ON s1.cust = c_customer_sk
      |WHERE c2.tot / c1.tot > s2.tot / s1.tot
      |  AND c2.tot / c1.tot > w2.tot / w1.tot
      |ORDER BY customer_id""".stripMargin),
    "ds_q11" -> ds(s"""
      |, ssy AS (SELECT ss_customer_sk AS cust, d_year,
      |    ${ds_sum("ss_list_price - ss_coupon_amt", "tot")}
      |  FROM store_sales, date_dim WHERE ss_sold_date_sk = d_date_sk
      |    AND d_year IN (1998, 1999) GROUP BY 1, 2),
      |wsy AS (SELECT ws_bill_customer_sk AS cust, d_year,
      |    ${ds_sum("ws_ext_sales_price", "tot")}
      |  FROM web_sales, date_dim WHERE ws_sold_date_sk = d_date_sk
      |    AND d_year IN (1998, 1999) GROUP BY 1, 2)
      |SELECT c_customer_id AS customer_id, c_first_name, c_last_name
      |FROM (SELECT cust, tot FROM ssy WHERE d_year = 1998 AND tot > 0) s1
      |JOIN (SELECT cust, tot FROM ssy WHERE d_year = 1999) s2 ON s1.cust = s2.cust
      |JOIN (SELECT cust, tot FROM wsy WHERE d_year = 1998 AND tot > 0) w1 ON s1.cust = w1.cust
      |JOIN (SELECT cust, tot FROM wsy WHERE d_year = 1999) w2 ON s1.cust = w2.cust
      |JOIN customer_dim ON s1.cust = c_customer_sk
      |WHERE w2.tot / w1.tot > s2.tot / s1.tot
      |ORDER BY customer_id""".stripMargin),
    "ds_q10" -> ds(s"""
      |SELECT cd_gender, cd_marital_status, cd_education_status,
      |  count(*) AS cnt
      |FROM customer_dim
      |JOIN customer_address ON c_current_addr_sk = ca_address_sk
      |JOIN customer_demographics ON c_current_cdemo_sk = cd_demo_sk
      |WHERE ca_county IN ('County_1', 'County_4', 'County_7')
      |  AND c_customer_sk IN (
      |    SELECT ss_customer_sk FROM store_sales, date_dim
      |    WHERE ss_sold_date_sk = d_date_sk AND d_year = 1999)
      |  AND c_customer_sk IN (
      |    SELECT ws_bill_customer_sk FROM web_sales, date_dim
      |    WHERE ws_sold_date_sk = d_date_sk AND d_year = 1999
      |    UNION
      |    SELECT cs_bill_customer_sk FROM catalog_sales, date_dim
      |    WHERE cs_sold_date_sk = d_date_sk AND d_year = 1999)
      |GROUP BY cd_gender, cd_marital_status, cd_education_status
      |ORDER BY cd_gender, cd_marital_status, cd_education_status""".stripMargin),
    "ds_q14" -> ds(s"""
      |, dd14 AS (SELECT d_date_sk, d_year FROM date_dim
      |    WHERE d_year BETWEEN 1998 AND 2000),
      |cross_items AS (
      |  SELECT ss_item_sk AS cross_item FROM store_sales
      |    JOIN dd14 ON ss_sold_date_sk = d_date_sk
      |  INTERSECT
      |  SELECT cs_item_sk FROM catalog_sales JOIN dd14 ON cs_sold_date_sk = d_date_sk
      |  INTERSECT
      |  SELECT ws_item_sk FROM web_sales JOIN dd14 ON ws_sold_date_sk = d_date_sk),
      |avg_sales AS (
      |  SELECT ${dsumS.format("sv")} / count(sv) AS avg_sales FROM (
      |    SELECT i, d_year, ${ds_sum("v", "sv")} FROM (
      |      SELECT ss_item_sk AS i, d_year, ss_list_price * ss_quantity AS v
      |      FROM store_sales JOIN dd14 ON ss_sold_date_sk = d_date_sk
      |      UNION ALL
      |      SELECT cs_item_sk, d_year, cs_list_price * cs_quantity
      |      FROM catalog_sales JOIN dd14 ON cs_sold_date_sk = d_date_sk
      |      UNION ALL
      |      SELECT ws_item_sk, d_year, ws_ext_sales_price * ws_quantity
      |      FROM web_sales JOIN dd14 ON ws_sold_date_sk = d_date_sk) r
      |    GROUP BY i, d_year) g),
      |chans AS (
      |  SELECT 'store' AS channel, i_brand_id,
      |    CAST(SUM(CAST(ss_list_price * ss_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sales,
      |    count(*) AS number_sales
      |  FROM store_sales, date_dim, item
      |  WHERE ss_sold_date_sk = d_date_sk AND ss_item_sk = i_item_sk
      |    AND d_year = 1999 AND d_moy = 12
      |    AND ss_item_sk IN (SELECT cross_item FROM cross_items)
      |  GROUP BY 2
      |  UNION ALL
      |  SELECT 'catalog', i_brand_id,
      |    CAST(SUM(CAST(cs_list_price * cs_quantity AS DECIMAL(18,6))) AS DOUBLE),
      |    count(*)
      |  FROM catalog_sales, date_dim, item
      |  WHERE cs_sold_date_sk = d_date_sk AND cs_item_sk = i_item_sk
      |    AND d_year = 1999 AND d_moy = 12
      |    AND cs_item_sk IN (SELECT cross_item FROM cross_items)
      |  GROUP BY 2
      |  UNION ALL
      |  SELECT 'web', i_brand_id,
      |    CAST(SUM(CAST(ws_ext_sales_price * ws_quantity AS DECIMAL(18,6))) AS DOUBLE),
      |    count(*)
      |  FROM web_sales, date_dim, item
      |  WHERE ws_sold_date_sk = d_date_sk AND ws_item_sk = i_item_sk
      |    AND d_year = 1999 AND d_moy = 12
      |    AND ws_item_sk IN (SELECT cross_item FROM cross_items)
      |  GROUP BY 2)
      |SELECT CASE WHEN GROUPING(channel) = 1 THEN 'ALL' ELSE channel END AS channel, i_brand_id,
      |  ${ds_sum("sales", "sum_sales")},
      |  CAST(SUM(number_sales) AS BIGINT) AS sum_number_sales
      |FROM chans, avg_sales WHERE sales > avg_sales
      |GROUP BY ROLLUP(channel, i_brand_id)
      |HAVING COUNT(*) > 0
      |ORDER BY channel, i_brand_id NULLS FIRST LIMIT 100""".stripMargin),
    "ds_q24" -> ds(s"""
      |, ssales AS (
      |  SELECT c_last_name, c_first_name, s_store_name, i_category,
      |    ${ds_sum("ss_sales_price", "netpaid")}
      |  FROM store_sales, store, item, customer_dim
      |  WHERE ss_store_sk = s_store_sk AND s_state = 'S0'
      |    AND ss_item_sk = i_item_sk AND ss_customer_sk = c_customer_sk
      |    AND EXISTS (SELECT 1 FROM store_returns
      |      WHERE sr_ticket_number = ss_ticket_number AND sr_item_sk = ss_item_sk)
      |  GROUP BY 1, 2, 3, 4)
      |SELECT c_last_name, c_first_name, s_store_name, i_category, netpaid
      |FROM ssales,
      |  (SELECT ${dsumS.format("netpaid")} / count(netpaid) * 0.05 AS thr
      |   FROM ssales) t
      |WHERE netpaid > thr
      |ORDER BY c_last_name, c_first_name, s_store_name, i_category
      |LIMIT 100""".stripMargin),
    "ds_q29" -> ds(s"""
      |SELECT i_item_id, s_store_name,
      |  ${ds_sum("ss_quantity", "store_sales_quantity")},
      |  ${ds_sum("sr_return_quantity", "store_returns_quantity")},
      |  ${ds_sum("cs_quantity", "catalog_sales_quantity")}
      |FROM store_sales
      |JOIN store_returns ON ss_ticket_number = sr_ticket_number
      |  AND ss_item_sk = sr_item_sk AND ss_customer_sk = sr_customer_sk
      |JOIN catalog_sales ON sr_customer_sk = cs_bill_customer_sk
      |  AND sr_item_sk = cs_item_sk
      |JOIN date_dim d1 ON ss_sold_date_sk = d1.d_date_sk
      |JOIN date_dim d2 ON sr_returned_date_sk = d2.d_date_sk
      |JOIN date_dim d3 ON cs_sold_date_sk = d3.d_date_sk
      |JOIN store ON ss_store_sk = s_store_sk
      |JOIN item ON ss_item_sk = i_item_sk
      |WHERE d1.d_year = 1998 AND d1.d_moy = 4
      |  AND d2.d_year = 1998 AND d2.d_moy BETWEEN 4 AND 7
      |  AND d3.d_year IN (1998, 1999, 2000)
      |GROUP BY i_item_id, s_store_name
      |ORDER BY i_item_id, s_store_name LIMIT 100""".stripMargin),
    "ds_q64" -> ds(s"""
      |, refunds AS (SELECT cr_item_sk, ${ds_sum("cr_return_amount", "refund")}
      |  FROM catalog_returns GROUP BY 1),
      |cs_ui AS (
      |  SELECT u_item FROM (
      |    SELECT cs_item_sk AS u_item, ${ds_sum("cs_ext_sales_price", "sale")}
      |    FROM catalog_sales GROUP BY 1) sls
      |  JOIN refunds ON u_item = cr_item_sk
      |  WHERE sale > refund * 2),
      |cross_y AS (
      |  SELECT d_year, ss_item_sk AS itm, s_store_name AS store,
      |    count(*) AS cnt, ${ds_sum("ss_sales_price", "price")}
      |  FROM store_sales, date_dim, store
      |  WHERE ss_sold_date_sk = d_date_sk AND ss_store_sk = s_store_sk
      |    AND d_year IN (1998, 1999)
      |    AND EXISTS (SELECT 1 FROM store_returns
      |      WHERE sr_ticket_number = ss_ticket_number AND sr_item_sk = ss_item_sk)
      |    AND ss_item_sk IN (SELECT u_item FROM cs_ui)
      |  GROUP BY 1, 2, 3)
      |SELECT i_item_id, y1.store AS store_name,
      |  CAST(y1.cnt AS BIGINT) AS y1_cnt, y1.price AS y1_price,
      |  CAST(y2.cnt AS BIGINT) AS y2_cnt, y2.price AS y2_price
      |FROM cross_y y1
      |JOIN cross_y y2 ON y1.itm = y2.itm AND y1.store = y2.store
      |JOIN item ON y1.itm = i_item_sk
      |WHERE y1.d_year = 1998 AND y2.d_year = 1999 AND y2.cnt <= y1.cnt
      |ORDER BY i_item_id, store_name LIMIT 100""".stripMargin),
    "ds_q76" -> ds(s"""
      |, u76 AS (
      |  SELECT 'store' AS channel, 'ss_hdemo_sk' AS col_name, d_year, d_qoy,
      |    i_category, ss_ext_sales_price AS ext_sales_price
      |  FROM store_sales, date_dim, item
      |  WHERE ss_sold_date_sk = d_date_sk AND ss_item_sk = i_item_sk
      |    AND (CASE WHEN ss_hdemo_sk % 13 = 0 THEN NULL ELSE ss_hdemo_sk END) IS NULL
      |  UNION ALL
      |  SELECT 'web', 'ws_ship_hdemo_sk', d_year, d_qoy, i_category,
      |    ws_ext_sales_price
      |  FROM web_sales, date_dim, item
      |  WHERE ws_sold_date_sk = d_date_sk AND ws_item_sk = i_item_sk
      |    AND (CASE WHEN ws_ship_hdemo_sk % 13 = 0 THEN NULL ELSE ws_ship_hdemo_sk END) IS NULL
      |  UNION ALL
      |  SELECT 'catalog', 'cs_bill_cdemo_sk', d_year, d_qoy, i_category,
      |    cs_ext_sales_price
      |  FROM catalog_sales, date_dim, item
      |  WHERE cs_sold_date_sk = d_date_sk AND cs_item_sk = i_item_sk
      |    AND (CASE WHEN cs_bill_cdemo_sk % 13 = 0 THEN NULL ELSE cs_bill_cdemo_sk END) IS NULL)
      |SELECT channel, col_name, d_year, d_qoy, i_category,
      |  count(*) AS sales_cnt, ${ds_sum("ext_sales_price", "sales_amt")}
      |FROM u76 GROUP BY 1, 2, 3, 4, 5
      |ORDER BY 1, 2, 3, 4, 5 LIMIT 100""".stripMargin),
    "ds_q80" -> ds(s"""
      |, dd80 AS (SELECT d_date_sk FROM date_dim
      |    WHERE d_date BETWEEN DATE '1998-08-01' AND DATE '1998-09-30'),
      |it80 AS (SELECT i_item_sk FROM item WHERE i_current_price > 950),
      |pr80 AS (SELECT p_promo_sk FROM promotion WHERE p_channel_event = 'N'),
      |sr80 AS (SELECT sr_ticket_number AS r_o, sr_item_sk AS r_i,
      |    ${ds_sum("sr_return_amt", "r_amt")}, ${ds_sum("sr_net_loss", "r_loss")}
      |  FROM store_returns GROUP BY 1, 2),
      |cr80 AS (SELECT cr_order_number AS r_o, cr_item_sk AS r_i,
      |    ${ds_sum("cr_return_amount", "r_amt")}, ${ds_sum("cr_net_loss", "r_loss")}
      |  FROM catalog_returns GROUP BY 1, 2),
      |wr80 AS (SELECT wr_order_number AS r_o, wr_item_sk AS r_i,
      |    ${ds_sum("wr_return_amt", "r_amt")}, ${ds_sum("wr_net_loss", "r_loss")}
      |  FROM web_returns GROUP BY 1, 2),
      |chans AS (
      |  SELECT 'store channel' AS channel, ss_store_sk AS id,
      |    ${ds_sum("ss_ext_sales_price", "sales")},
      |    CAST(SUM(CAST(COALESCE(r_amt, 0.0) AS DECIMAL(18,6))) AS DOUBLE) AS returns_,
      |    CAST(SUM(CAST(ss_net_profit - COALESCE(r_loss, 0.0) AS DECIMAL(18,6))) AS DOUBLE) AS profit
      |  FROM store_sales JOIN dd80 ON ss_sold_date_sk = d_date_sk
      |  LEFT JOIN sr80 ON ss_ticket_number = r_o AND ss_item_sk = r_i
      |  WHERE ss_item_sk IN (SELECT i_item_sk FROM it80)
      |    AND ss_promo_sk IN (SELECT p_promo_sk FROM pr80)
      |  GROUP BY 2
      |  UNION ALL
      |  SELECT 'catalog channel', cs_warehouse_sk,
      |    ${ds_sum("cs_ext_sales_price", "sales")},
      |    CAST(SUM(CAST(COALESCE(r_amt, 0.0) AS DECIMAL(18,6))) AS DOUBLE),
      |    CAST(SUM(CAST(cs_sales_price - COALESCE(r_loss, 0.0) AS DECIMAL(18,6))) AS DOUBLE)
      |  FROM catalog_sales JOIN dd80 ON cs_sold_date_sk = d_date_sk
      |  LEFT JOIN cr80 ON cs_order_number = r_o AND cs_item_sk = r_i
      |  WHERE cs_item_sk IN (SELECT i_item_sk FROM it80)
      |    AND cs_promo_sk IN (SELECT p_promo_sk FROM pr80)
      |  GROUP BY 2
      |  UNION ALL
      |  SELECT 'web channel', ws_warehouse_sk,
      |    ${ds_sum("ws_ext_sales_price", "sales")},
      |    CAST(SUM(CAST(COALESCE(r_amt, 0.0) AS DECIMAL(18,6))) AS DOUBLE),
      |    CAST(SUM(CAST(ws_net_profit - COALESCE(r_loss, 0.0) AS DECIMAL(18,6))) AS DOUBLE)
      |  FROM web_sales JOIN dd80 ON ws_sold_date_sk = d_date_sk
      |  LEFT JOIN wr80 ON ws_order_number = r_o AND ws_item_sk = r_i
      |  WHERE ws_item_sk IN (SELECT i_item_sk FROM it80)
      |    AND ws_promo_sk IN (SELECT p_promo_sk FROM pr80)
      |  GROUP BY 2)
      |SELECT CASE WHEN GROUPING(channel) = 1 THEN 'ALL' ELSE channel END AS channel, id,
      |  ${ds_sum("sales", "sales")}, ${ds_sum("returns_", "returns_")},
      |  ${ds_sum("profit", "profit")}
      |FROM chans GROUP BY ROLLUP(channel, id)
      |HAVING COUNT(*) > 0
      |ORDER BY channel, id NULLS FIRST LIMIT 100""".stripMargin),
    "ds_q83" -> ds(s"""
      |, dd83 AS (SELECT d_date_sk FROM date_dim
      |    WHERE d_year = 1998 AND d_moy = 6),
      |sri AS (SELECT i_item_id AS sr_item_id, ${ds_sum("sr_return_quantity", "sr_qty")}
      |  FROM store_returns JOIN dd83 ON sr_returned_date_sk = d_date_sk
      |  JOIN item ON sr_item_sk = i_item_sk GROUP BY 1),
      |cri AS (SELECT i_item_id AS cr_item_id, ${ds_sum("cr_return_quantity", "cr_qty")}
      |  FROM catalog_returns JOIN dd83 ON cr_returned_date_sk = d_date_sk
      |  JOIN item ON cr_item_sk = i_item_sk GROUP BY 1),
      |wri AS (SELECT i_item_id AS wr_item_id, ${ds_sum("wr_return_quantity", "wr_qty")}
      |  FROM web_returns JOIN dd83 ON wr_returned_date_sk = d_date_sk
      |  JOIN item ON wr_item_sk = i_item_sk GROUP BY 1)
      |SELECT sr_item_id AS item_id, sr_qty,
      |  sr_qty / ((sr_qty + cr_qty + wr_qty) / 3.0) * 100 AS sr_dev,
      |  cr_qty, cr_qty / ((sr_qty + cr_qty + wr_qty) / 3.0) * 100 AS cr_dev,
      |  wr_qty, wr_qty / ((sr_qty + cr_qty + wr_qty) / 3.0) * 100 AS wr_dev,
      |  (sr_qty + cr_qty + wr_qty) / 3.0 AS average
      |FROM sri JOIN cri ON sr_item_id = cr_item_id
      |JOIN wri ON sr_item_id = wr_item_id
      |ORDER BY item_id LIMIT 100""".stripMargin),
    "ds_q91" -> ds(s"""
      |SELECT cc_name, cc_manager, ${ds_sum("cr_net_loss", "returns_loss")}
      |FROM catalog_returns, call_center, date_dim, customer_dim,
      |  customer_demographics, household_demographics
      |WHERE cr_call_center_sk = cc_call_center_sk
      |  AND cr_returned_date_sk = d_date_sk
      |  AND cr_returning_customer_sk = c_customer_sk
      |  AND c_current_cdemo_sk = cd_demo_sk
      |  AND c_current_hdemo_sk = hd_demo_sk
      |  AND cd_marital_status = 'W' AND cd_education_status = 'Primary'
      |  AND hd_buy_potential = '>10000'
      |  AND d_year = 1998
      |GROUP BY cc_name, cc_manager
      |ORDER BY cc_name, cc_manager""".stripMargin))
}
