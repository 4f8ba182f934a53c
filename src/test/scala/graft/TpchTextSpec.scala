package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.api.SqlSession

/** Value-gates ALL 22 benchto TPC-H reference texts (the kit's
  * `sql/presto/tpch/qNN.sql`, kept in-repo as the resources
  * `benchto/tpch/qNN.sql`) through `SqlSession.sql()`: each text is
  * compared row-for-row (float tolerance) against an independent
  * DataFrame replica built over the same BenchtoSchema views — a
  * rowcount smoke run would pass a dialect bug that silently changed join
  * semantics.
  *
  * Global parameter substitutions re-aim the kit's 1992-1998 calendar and
  * literal domains at the fixture (calendar 1995-2001, single-word part
  * types, NATION_<k> names); per-query substitutions pick populated
  * fixture slices (same role as benchto's own template parameters). */
object TpchText {
  import TestSpark._

  lazy val session: SqlSession = {
    val ses = SqlSession.wrap(spark).loadTables(sf)
    ses.sql("SELECT 1") // force table registration before the adapter views
    tpch.BenchtoSchema.register(spark, sf)
    ses
  }

  /** Text loading + fixture-domain substitutions live in main scope
    * (tpch.BenchtoTexts), next to the resources they read. */
  def text(q: String, subs: (String, String)*): String =
    tpch.BenchtoTexts.text(q, subs: _*)

  val stripLimit: (String, String) = tpch.BenchtoTexts.stripLimit

  def tv(n: String): DataFrame = { session; TestSpark.spark.table(s"tpch_$n") }
}

class TpchTextSpec extends AnyFunSuite {
  import TpchText._
  import TpcdsText.assertClose

  private def rev: org.apache.spark.sql.Column =
    col("extendedprice") * (lit(1) - col("discount"))

  test("q01: pricing summary report") {
    val sql = text("q01")
    val replica = tv("lineitem")
      .filter(col("shipdate") <= date_sub(to_date(lit("1998-12-01")), 90))
      .groupBy("returnflag", "linestatus")
      .agg(sum("quantity").as("sum_qty"), sum("extendedprice").as("sum_base"),
        sum(rev).as("sum_disc_price"),
        sum(rev * (lit(1) + col("tax"))).as("sum_charge"),
        avg("quantity").as("avg_qty"), avg("extendedprice").as("avg_price"),
        avg("discount").as("avg_disc"), count(lit(1)).as("count_order"))
      .select(col("returnflag"), col("linestatus"), col("sum_qty"),
        col("sum_base"), col("sum_disc_price"), col("sum_charge"),
        col("avg_qty"), col("avg_price"), col("avg_disc"), col("count_order"))
    assertClose(session.sql(sql), replica)
  }

  test("q02: minimum-cost supplier (correlated scalar subquery)") {
    // fixture: the only size-15 %PROMO part has no EUROPE supplier; size 2
    // has European-supplied PROMO parts
    val sql = text("q02", ("p\\.size = 15", "p.size = 2"), stripLimit)
    val eur = tv("nation")
      .join(tv("region").filter(col("name") === "EUROPE")
        .select(col("regionkey").as("rk")), col("regionkey") === col("rk"))
      .select(col("nationkey").as("eu_nk"), col("name").as("n_name"))
    val sup = tv("supplier").select(col("suppkey").as("s_sk"),
        col("name").as("s_name"), col("address").as("s_address"),
        col("nationkey").as("s_nk"), col("phone").as("s_phone"),
        col("acctbal").as("s_acctbal"), col("comment").as("s_comment"))
      .join(eur, col("s_nk") === col("eu_nk"))
    val eps = tv("partsupp").select(col("partkey").as("ps_pk"),
        col("suppkey").as("ps_sk"), col("supplycost").as("ps_cost"))
      .join(sup, col("ps_sk") === col("s_sk"))
    val minCost = eps.groupBy(col("ps_pk").as("m_pk"))
      .agg(min("ps_cost").as("min_cost"))
    val replica = tv("part")
      .filter(col("size") === 2 && col("type").like("%PROMO"))
      .select(col("partkey").as("p_pk"), col("mfgr"))
      .join(eps, col("p_pk") === col("ps_pk"))
      .join(minCost, col("p_pk") === col("m_pk") &&
        col("ps_cost") === col("min_cost"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"), col("p_pk"),
        col("mfgr"), col("s_address"), col("s_phone"), col("s_comment"))
    assertClose(session.sql(sql), replica)
  }

  test("q03: shipping priority") {
    val sql = text("q03", stripLimit)
    val replica = tv("customer").filter(col("mktsegment") === "BUILDING")
      .select(col("custkey").as("c_ck"))
      .join(tv("orders").filter(col("orderdate") < to_date(lit("1995-03-15")))
        .select(col("orderkey").as("o_ok"), col("custkey").as("o_ck"),
          col("orderdate"), col("shippriority")),
        col("c_ck") === col("o_ck"))
      .join(tv("lineitem").filter(col("shipdate") > to_date(lit("1995-03-15")))
        .select(col("orderkey").as("l_ok"), rev.as("r")),
        col("o_ok") === col("l_ok"))
      .groupBy("l_ok", "orderdate", "shippriority")
      .agg(sum("r").as("revenue"))
      .select(col("l_ok"), col("revenue"), col("orderdate"), col("shippriority"))
    assertClose(session.sql(sql), replica)
  }

  test("q04: order priority checking (EXISTS)") {
    val sql = text("q04")
    val late = tv("lineitem").filter(col("commitdate") < col("receiptdate"))
      .select(col("orderkey").as("l_ok"))
    val replica = tv("orders")
      .filter(col("orderdate") >= to_date(lit("1996-07-01")) &&
        col("orderdate") < to_date(lit("1996-10-01")))
      .join(late, col("orderkey") === col("l_ok"), "leftsemi")
      .groupBy("orderpriority").agg(count(lit(1)).as("order_count"))
    assertClose(session.sql(sql), replica)
  }

  test("q05: local supplier volume") {
    val sql = text("q05")
    val asia = tv("nation")
      .join(tv("region").filter(col("name") === "ASIA")
        .select(col("regionkey").as("rk")), col("regionkey") === col("rk"))
      .select(col("nationkey").as("a_nk"), col("name").as("n_name"))
    val replica = tv("customer").select(col("custkey").as("c_ck"),
        col("nationkey").as("c_nk"))
      .join(tv("orders").filter(col("orderdate") >= to_date(lit("1997-01-01")) &&
          col("orderdate") < to_date(lit("1998-01-01")))
        .select(col("orderkey").as("o_ok"), col("custkey").as("o_ck")),
        col("c_ck") === col("o_ck"))
      .join(tv("lineitem").select(col("orderkey").as("l_ok"),
          col("suppkey").as("l_sk"), rev.as("r")),
        col("o_ok") === col("l_ok"))
      .join(tv("supplier").select(col("suppkey").as("s_sk"),
        col("nationkey").as("s_nk")),
        col("l_sk") === col("s_sk") && col("c_nk") === col("s_nk"))
      .join(asia, col("s_nk") === col("a_nk"))
      .groupBy("n_name").agg(sum("r").as("revenue"))
    assertClose(session.sql(sql), replica)
  }

  test("q06: forecasting revenue change") {
    val sql = text("q06")
    val replica = tv("lineitem")
      .filter(col("shipdate") >= to_date(lit("1997-01-01")) &&
        col("shipdate") < to_date(lit("1998-01-01")) &&
        col("discount").between(0.05, 0.07) && col("quantity") < 24)
      .agg(sum(col("extendedprice") * col("discount")).as("revenue"))
    assertClose(session.sql(sql), replica)
  }

  test("q07: volume shipping between two nations") {
    val sql = text("q07")
    val replica = tv("lineitem")
      .filter(col("shipdate").between(to_date(lit("1995-01-01")),
        to_date(lit("1996-12-31"))))
      .select(col("orderkey").as("l_ok"), col("suppkey").as("l_sk"),
        year(col("shipdate")).as("l_year"), rev.as("volume"))
      .join(tv("supplier").select(col("suppkey").as("s_sk"),
        col("nationkey").as("s_nk")), col("l_sk") === col("s_sk"))
      .join(tv("orders").select(col("orderkey").as("o_ok"),
        col("custkey").as("o_ck")), col("l_ok") === col("o_ok"))
      .join(tv("customer").select(col("custkey").as("c_ck"),
        col("nationkey").as("c_nk")), col("o_ck") === col("c_ck"))
      .join(tv("nation").select(col("nationkey").as("n1k"),
        col("name").as("supp_nation")), col("s_nk") === col("n1k"))
      .join(tv("nation").select(col("nationkey").as("n2k"),
        col("name").as("cust_nation")), col("c_nk") === col("n2k"))
      .filter((col("supp_nation") === "NATION_19" && col("cust_nation") === "NATION_20") ||
        (col("supp_nation") === "NATION_20" && col("cust_nation") === "NATION_19"))
      .groupBy("supp_nation", "cust_nation", "l_year")
      .agg(sum("volume").as("revenue"))
    assertClose(session.sql(sql), replica)
  }

  test("q08: national market share") {
    val sql = text("q08")
    val america = tv("nation")
      .join(tv("region").filter(col("name") === "AMERICA")
        .select(col("regionkey").as("rk")), col("regionkey") === col("rk"))
      .select(col("nationkey").as("am_nk"))
    val replica = tv("lineitem")
      .select(col("orderkey").as("l_ok"), col("partkey").as("l_pk"),
        col("suppkey").as("l_sk"), rev.as("volume"))
      .join(tv("part").filter(col("type") === "ECONOMY")
        .select(col("partkey").as("p_pk")), col("l_pk") === col("p_pk"))
      .join(tv("orders").filter(col("orderdate").between(
          to_date(lit("1995-01-01")), to_date(lit("1996-12-31"))))
        .select(col("orderkey").as("o_ok"), col("custkey").as("o_ck"),
          year(col("orderdate")).as("o_year")), col("l_ok") === col("o_ok"))
      .join(tv("customer").select(col("custkey").as("c_ck"),
        col("nationkey").as("c_nk")), col("o_ck") === col("c_ck"))
      .join(america, col("c_nk") === col("am_nk"))
      .join(tv("supplier").select(col("suppkey").as("s_sk"),
        col("nationkey").as("s_nk")), col("l_sk") === col("s_sk"))
      .join(tv("nation").select(col("nationkey").as("n2k"),
        col("name").as("nation")), col("s_nk") === col("n2k"))
      .groupBy("o_year")
      .agg((sum(when(col("nation") === "NATION_19", col("volume")).otherwise(0)) /
        sum("volume")).as("mkt_share"))
    assertClose(session.sql(sql), replica)
  }

  test("q09: product type profit measure") {
    val sql = text("q09")
    val replica = tv("lineitem")
      .select(col("orderkey").as("l_ok"), col("partkey").as("l_pk"),
        col("suppkey").as("l_sk"), col("quantity").as("l_qty"), rev.as("r"))
      .join(tv("part").filter(col("name").like("%widget%"))
        .select(col("partkey").as("p_pk")), col("l_pk") === col("p_pk"))
      .join(tv("partsupp").select(col("partkey").as("ps_pk"),
        col("suppkey").as("ps_sk"), col("supplycost").as("ps_cost")),
        col("l_pk") === col("ps_pk") && col("l_sk") === col("ps_sk"))
      .join(tv("supplier").select(col("suppkey").as("s_sk"),
        col("nationkey").as("s_nk")), col("l_sk") === col("s_sk"))
      .join(tv("nation").select(col("nationkey").as("n_nk"),
        col("name").as("nation")), col("s_nk") === col("n_nk"))
      .join(tv("orders").select(col("orderkey").as("o_ok"),
        year(col("orderdate")).as("o_year")), col("l_ok") === col("o_ok"))
      .groupBy("nation", "o_year")
      .agg(sum(col("r") - col("ps_cost") * col("l_qty")).as("sum_profit"))
    assertClose(session.sql(sql), replica)
  }

  test("q10: returned item reporting") {
    val sql = text("q10", stripLimit)
    val replica = tv("lineitem").filter(col("returnflag") === "R")
      .select(col("orderkey").as("l_ok"), rev.as("r"))
      .join(tv("orders").filter(col("orderdate") >= to_date(lit("1996-10-01")) &&
          col("orderdate") < to_date(lit("1997-01-01")))
        .select(col("orderkey").as("o_ok"), col("custkey").as("o_ck")),
        col("l_ok") === col("o_ok"))
      .join(tv("customer").select(col("custkey").as("c_ck"), col("name").as("c_name"),
        col("acctbal"), col("phone"), col("nationkey").as("c_nk"),
        col("address"), col("comment")), col("o_ck") === col("c_ck"))
      .join(tv("nation").select(col("nationkey").as("n_nk"),
        col("name").as("n_name")), col("c_nk") === col("n_nk"))
      .groupBy("c_ck", "c_name", "acctbal", "phone", "n_name", "address", "comment")
      .agg(sum("r").as("revenue"))
      .select(col("c_ck"), col("c_name"), col("revenue"), col("acctbal"),
        col("n_name"), col("address"), col("phone"), col("comment"))
    assertClose(session.sql(sql), replica)
  }

  test("q11: important stock identification") {
    val sql = text("q11")
    val de = tv("partsupp").select(col("partkey").as("ps_pk"),
        col("suppkey").as("ps_sk"),
        (col("supplycost") * col("availqty")).as("v"))
      .join(tv("supplier").select(col("suppkey").as("s_sk"),
        col("nationkey").as("s_nk")), col("ps_sk") === col("s_sk"))
      .join(tv("nation").filter(col("name") === "NATION_20")
        .select(col("nationkey").as("n_nk")), col("s_nk") === col("n_nk"))
    val cut = de.agg((sum("v") * 0.0001).as("cut"))
    val replica = de.groupBy("ps_pk").agg(sum("v").as("value"))
      .join(broadcast(cut)).filter(col("value") > col("cut"))
      .select(col("ps_pk"), col("value"))
    assertClose(session.sql(sql), replica)
  }

  test("q12: shipping modes and order priority") {
    val sql = text("q12")
    val hi = col("orderpriority") === "1-URGENT" || col("orderpriority") === "2-HIGH"
    val replica = tv("lineitem")
      .filter(col("shipmode").isin("MAIL", "SHIP") &&
        col("commitdate") < col("receiptdate") &&
        col("shipdate") < col("commitdate") &&
        col("receiptdate") >= to_date(lit("1997-01-01")) &&
        col("receiptdate") < to_date(lit("1998-01-01")))
      .select(col("orderkey").as("l_ok"), col("shipmode"))
      .join(tv("orders").select(col("orderkey").as("o_ok"), col("orderpriority")),
        col("l_ok") === col("o_ok"))
      .groupBy("shipmode")
      .agg(sum(when(hi, 1).otherwise(0)).as("high_line_count"),
        sum(when(!hi, 1).otherwise(0)).as("low_line_count"))
    assertClose(session.sql(sql), replica)
  }

  test("q13: customer distribution") {
    val sql = text("q13")
    val replica = tv("customer").select(col("custkey").as("c_ck"))
      .join(tv("orders").filter(!col("comment").like("%special%requests%"))
        .select(col("orderkey").as("o_ok"), col("custkey").as("o_ck")),
        col("c_ck") === col("o_ck"), "left")
      .groupBy("c_ck").agg(count(col("o_ok")).as("c_count"))
      .groupBy("c_count").agg(count(lit(1)).as("custdist"))
    assertClose(session.sql(sql), replica)
  }

  test("q14: promotion effect") {
    val sql = text("q14")
    val replica = tv("lineitem")
      .filter(col("shipdate") >= to_date(lit("1995-09-01")) &&
        col("shipdate") < to_date(lit("1995-10-01")))
      .select(col("partkey").as("l_pk"), rev.as("r"))
      .join(tv("part").select(col("partkey").as("p_pk"), col("type")),
        col("l_pk") === col("p_pk"))
      .agg((lit(100.0) * sum(when(col("type").like("PROMO%"), col("r"))
        .otherwise(0)) / sum("r")).as("promo_revenue"))
    assertClose(session.sql(sql), replica)
  }

  test("q15: top supplier") {
    val sql = text("q15")
    val rev0 = tv("lineitem")
      .filter(col("shipdate") >= to_date(lit("1996-01-01")) &&
        col("shipdate") < to_date(lit("1996-04-01")))
      .groupBy(col("suppkey").as("supplier_no"))
      .agg(sum(rev).as("total_revenue"))
    val mx = rev0.agg(max("total_revenue").as("mx"))
    val replica = tv("supplier").select(col("suppkey").as("s_sk"),
        col("name").as("s_name"), col("address"), col("phone"))
      .join(rev0, col("s_sk") === col("supplier_no"))
      .join(broadcast(mx)).filter(col("total_revenue") === col("mx"))
      .select(col("s_sk"), col("s_name"), col("address"), col("phone"),
        col("total_revenue"))
    assertClose(session.sql(sql), replica)
  }

  test("q16: parts/supplier relationship") {
    val sql = text("q16")
    val bad = tv("supplier").filter(col("comment").like("%Customer%Complaints%"))
      .select(col("suppkey").as("bad_sk"))
    val replica = tv("partsupp").select(col("partkey").as("ps_pk"),
        col("suppkey").as("ps_sk"))
      .join(bad, col("ps_sk") === col("bad_sk"), "left_anti")
      .join(tv("part").filter(col("brand") =!= "Brand#45" &&
          !col("type").like("MEDIUM%") &&
          col("size").isin(49, 14, 23, 45, 19, 3, 36, 9))
        .select(col("partkey").as("p_pk"), col("brand"), col("type"),
          col("size")), col("ps_pk") === col("p_pk"))
      .groupBy("brand", "type", "size")
      .agg(countDistinct("ps_sk").as("supplier_cnt"))
      .select(col("brand"), col("type"), col("size"), col("supplier_cnt"))
    assertClose(session.sql(sql), replica)
  }

  test("q17: small-quantity-order revenue (correlated avg)") {
    // fixture: Brand#23 x MED BOX is unpopulated; Brand#16 x MED BOX has
    // below-one-fifth-of-average quantities
    val sql = text("q17", ("Brand#23", "Brand#16"))
    val avgQ = tv("lineitem").groupBy(col("partkey").as("a_pk"))
      .agg((avg("quantity") * 0.2).as("q_cut"))
    val replica = tv("lineitem").select(col("partkey").as("l_pk"),
        col("quantity").as("l_qty"), col("extendedprice").as("l_ep"))
      .join(tv("part").filter(col("brand") === "Brand#16" &&
          col("container") === "MED BOX")
        .select(col("partkey").as("p_pk")), col("l_pk") === col("p_pk"))
      .join(avgQ, col("l_pk") === col("a_pk"))
      .filter(col("l_qty") < col("q_cut"))
      .agg((sum("l_ep") / 7.0).as("avg_yearly"))
    assertClose(session.sql(sql), replica)
  }

  test("q18: large volume customer") {
    val sql = text("q18", stripLimit)
    val big = tv("lineitem").groupBy(col("orderkey").as("b_ok"))
      .agg(sum("quantity").as("bq")).filter(col("bq") > 300).select("b_ok")
    val replica = tv("orders")
      .join(big, col("orderkey") === col("b_ok"), "leftsemi")
      .select(col("orderkey").as("o_ok"), col("custkey").as("o_ck"),
        col("orderdate"), col("totalprice"))
      .join(tv("customer").select(col("custkey").as("c_ck"),
        col("name").as("c_name")), col("o_ck") === col("c_ck"))
      .join(tv("lineitem").select(col("orderkey").as("l_ok"), col("quantity")),
        col("o_ok") === col("l_ok"))
      .groupBy("c_name", "c_ck", "o_ok", "orderdate", "totalprice")
      .agg(sum("quantity").as("sq"))
    assertClose(session.sql(sql), replica)
  }

  test("q19: discounted revenue (three-branch OR)") {
    // fixture re-aims: brands to populated brand x container combos, the
    // quantity windows and size caps widened to the fixture's uniform 1-50
    // domains (the kit's 10-wide windows select ~0 of 6k lines)
    val sql = text("q19", ("Brand#12", "Brand#16"), ("Brand#23", "Brand#13"),
      ("Brand#34", "Brand#22"),
      ("BETWEEN 1 AND 15", "BETWEEN 1 AND 50"),
      ("BETWEEN 1 AND 10", "BETWEEN 1 AND 50"),
      ("BETWEEN 1 AND 5\\b", "BETWEEN 1 AND 50"),
      ("10 \\+ 10", "10 + 40"), ("20 \\+ 10", "20 + 30"),
      ("1 \\+ 10", "1 + 49"))
    val li = tv("lineitem").select(col("partkey").as("l_pk"),
      col("quantity").as("q"), col("shipmode"), col("shipinstruct"), rev.as("r"))
    val pt = tv("part").select(col("partkey").as("p_pk"), col("brand"),
      col("container"), col("size"))
    val base = li.join(pt, col("l_pk") === col("p_pk"))
      .filter(col("shipmode").isin("AIR", "AIR REG") &&
        col("shipinstruct") === "DELIVER IN PERSON")
    val b1 = col("brand") === "Brand#16" &&
      col("container").isin("SM CASE", "SM BOX", "SM PACK", "SM PKG") &&
      col("q").between(1, 50) && col("size").between(1, 50)
    val b2 = col("brand") === "Brand#13" &&
      col("container").isin("MED BAG", "MED BOX", "MED PKG", "MED PACK") &&
      col("q").between(10, 50) && col("size").between(1, 50)
    val b3 = col("brand") === "Brand#22" &&
      col("container").isin("LG CASE", "LG BOX", "LG PACK", "LG PKG") &&
      col("q").between(20, 50) && col("size").between(1, 50)
    val replica = base.filter(b1 || b2 || b3).agg(sum("r").as("revenue"))
    assertClose(session.sql(sql), replica)
  }

  test("q20: potential part promotion (nested correlated IN)") {
    val sql = text("q20")
    val blueParts = tv("part").filter(col("name").like("blue%"))
      .select(col("partkey").as("bp_pk"))
    val halfQty = tv("lineitem")
      .filter(col("shipdate") >= to_date(lit("1997-01-01")) &&
        col("shipdate") < to_date(lit("1998-01-01")))
      .groupBy(col("partkey").as("h_pk"), col("suppkey").as("h_sk"))
      .agg((sum("quantity") * 0.5).as("half"))
    val passing = tv("partsupp").select(col("partkey").as("ps_pk"),
        col("suppkey").as("ps_sk"), col("availqty"))
      .join(blueParts, col("ps_pk") === col("bp_pk"), "leftsemi")
      .join(halfQty, col("ps_pk") === col("h_pk") && col("ps_sk") === col("h_sk"))
      .filter(col("availqty") > col("half"))
      .select(col("ps_sk")).distinct()
    val replica = tv("supplier").select(col("suppkey").as("s_sk"),
        col("name").as("s_name"), col("address"), col("nationkey").as("s_nk"))
      .join(passing, col("s_sk") === col("ps_sk"), "leftsemi")
      .join(tv("nation").filter(col("name") === "NATION_3")
        .select(col("nationkey").as("n_nk")), col("s_nk") === col("n_nk"))
      .select(col("s_name"), col("address"))
    assertClose(session.sql(sql), replica)
  }

  test("q21: suppliers who kept orders waiting (EXISTS + NOT EXISTS)") {
    val sql = text("q21", stripLimit)
    val l1 = tv("lineitem").filter(col("receiptdate") > col("commitdate"))
      .select(col("orderkey").as("l1_ok"), col("suppkey").as("l1_sk"))
    val others = tv("lineitem").select(col("orderkey").as("l2_ok"),
      col("suppkey").as("l2_sk"))
    val othersLate = tv("lineitem")
      .filter(col("receiptdate") > col("commitdate"))
      .select(col("orderkey").as("l3_ok"), col("suppkey").as("l3_sk"))
    val replica = l1
      .join(tv("orders").filter(col("orderstatus") === "F")
        .select(col("orderkey").as("o_ok")), col("l1_ok") === col("o_ok"), "leftsemi")
      .join(others, col("l2_ok") === col("l1_ok") &&
        col("l2_sk") =!= col("l1_sk"), "leftsemi")
      .join(othersLate, col("l3_ok") === col("l1_ok") &&
        col("l3_sk") =!= col("l1_sk"), "left_anti")
      .join(tv("supplier").select(col("suppkey").as("s_sk"),
        col("name").as("s_name"), col("nationkey").as("s_nk")),
        col("l1_sk") === col("s_sk"))
      .join(tv("nation").filter(col("name") === "NATION_20")
        .select(col("nationkey").as("n_nk")), col("s_nk") === col("n_nk"))
      .groupBy("s_name").agg(count(lit(1)).as("numwait"))
    assertClose(session.sql(sql), replica)
  }

  /** Every fixture customer has orders at every SF, so q22's NOT EXISTS is
    * structurally empty here. The exact text pins that empty result; a
    * second variant restricts the correlated orders (totalprice > 400000)
    * so the anti-join selects rows and the aggregate values are exercised. */
  private def q22Replica(ordersFilter: DataFrame => DataFrame): DataFrame = {
    val codes = Seq("13", "31", "23", "29", "30", "18", "17")
    val base = tv("customer")
      .select(substring(col("phone"), 1, 2).as("cntrycode"), col("acctbal"),
        col("custkey").as("c_ck"))
      .filter(col("cntrycode").isin(codes: _*))
    val cut = base.filter(col("acctbal") > 0.0).agg(avg("acctbal").as("cut"))
    base
      .join(broadcast(cut)).filter(col("acctbal") > col("cut"))
      .join(ordersFilter(tv("orders")).select(col("custkey").as("o_ck")),
        col("c_ck") === col("o_ck"), "left_anti")
      .groupBy("cntrycode")
      .agg(count(lit(1)).as("numcust"), sum("acctbal").as("totacctbal"))
  }

  test("q22: global sales opportunity (exact text, pinned empty)") {
    assertClose(session.sql(text("q22")), q22Replica(identity),
      allowEmpty = true)
  }

  test("a per-query substitution that matches nothing fails the text load") {
    val e = intercept[IllegalArgumentException](text("q17", ("Brand#99", "Brand#16")))
    assert(e.getMessage.contains("/Brand#99/"), e.getMessage)
    assert(text("q01", stripLimit) == text("q01"), "stripLimit is optional")
  }

  test("q22: non-empty variant (selective NOT EXISTS)") {
    val sql = text("q22",
      ("o\\.custkey = c\\.custkey",
       "o.custkey = c.custkey AND o.totalprice > 400000"))
    assertClose(session.sql(sql),
      q22Replica(_.filter(col("totalprice") > 400000)))
  }
}
