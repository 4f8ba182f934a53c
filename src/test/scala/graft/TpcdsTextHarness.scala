package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.api.SqlSession

/** Shared harness for the benchto TPC-DS reference texts (the kit's
  * `sql/presto/tpcds/<q>.sql`, kept in-repo as the test resources
  * `benchto/tpcds/<q>.sql`): view registration over the derived ds tables,
  * template substitution, and the canonical value-comparison helpers used
  * by TpcdsSqlSpec/TpcdsSqlSpec2.
  */
object TpcdsText {
  import TestSpark._
  import tpcds.Tpcds

  /** (Re-)register the derived ds views. Other suites sharing the
    * SparkSession register raw fixture views under the SAME names
    * (loadTables puts the 5-column tpch `customer` over our derived one),
    * so registration must be re-applied per test, not once — it's
    * metadata-only (plan swap, no execution), so per-call cost is nil. */
  def registerViews(): Unit = {
    Tpcds.dateDim(spark).createOrReplaceTempView("date_dim")
    Tpcds.timeDim(spark).createOrReplaceTempView("time_dim")
    Tpcds.item(spark, sf).createOrReplaceTempView("item")
    Tpcds.storeSales(spark, sf).createOrReplaceTempView("store_sales")
    Tpcds.catalogSales(spark, sf).createOrReplaceTempView("catalog_sales")
    Tpcds.webSales(spark, sf).createOrReplaceTempView("web_sales")
    Tpcds.storeReturns(spark, sf).createOrReplaceTempView("store_returns")
    Tpcds.store(spark).createOrReplaceTempView("store")
    Tpcds.customerDim(spark, sf).createOrReplaceTempView("customer")
    Tpcds.customerAddress(spark, sf).createOrReplaceTempView("customer_address")
    Tpcds.customerDemographics(spark).createOrReplaceTempView("customer_demographics")
    Tpcds.householdDemographics(spark).createOrReplaceTempView("household_demographics")
    Tpcds.promotion(spark).createOrReplaceTempView("promotion")
    Tpcds.reason(spark).createOrReplaceTempView("reason")
    Tpcds.warehouse(spark).createOrReplaceTempView("warehouse")
    Tpcds.shipMode(spark).createOrReplaceTempView("ship_mode")
    Tpcds.webSite(spark).createOrReplaceTempView("web_site")
    Tpcds.webPage(spark).createOrReplaceTempView("web_page")
    Tpcds.inventory(spark, sf).createOrReplaceTempView("inventory")
    Tpcds.webReturns(spark, sf).createOrReplaceTempView("web_returns")
    Tpcds.callCenter(spark).createOrReplaceTempView("call_center")
    Tpcds.catalogReturns(spark, sf).createOrReplaceTempView("catalog_returns")
    Tpcds.incomeBand(spark).createOrReplaceTempView("income_band")
    Tpcds.catalogPage(spark).createOrReplaceTempView("catalog_page")
  }

  lazy val session: SqlSession = {
    registerViews()
    SqlSession.wrap(spark)
  }

  /** Read a reference text, substitute the benchto template refs and the
    * per-query parameters. `subs` are regex → replacement pairs, each of
    * which must match (tpch.BenchtoTexts.substitute). Every test calls
    * text() first, so view re-registration rides here. */
  def text(q: String, subs: (String, String)*): String = {
    session; registerViews()
    val raw = tpch.BenchtoTexts.resource(s"/benchto/tpcds/$q.sql")
    // collapse whitespace so parameter substitutions are line-break-proof
    val t0 = raw.replaceAll("\\$\\{database\\}\\.\\$\\{schema\\}\\.", "")
      .replaceAll("\\s+", " ").trim.stripSuffix(";")
    tpch.BenchtoTexts.substitute(q, t0, subs)
  }

  val stripLimit: (String, String) = tpch.BenchtoTexts.stripLimit

  /** Canonical compare: text columns renamed positionally to the gate's
    * (aliases differ, semantics don't), doubles rounded to 2 dp, rows
    * sorted. Arity mismatch is an explicit failure — tests must `.drop`
    * extra columns deliberately, never silently narrow. */
  def assertSame(textDf: DataFrame, gateDf: DataFrame): Unit = {
    assert(textDf.columns.length == gateDf.columns.length,
      s"column arity ${textDf.columns.toSeq} vs ${gateDf.columns.toSeq} — " +
        "drop the extras explicitly in the test")
    val aligned = textDf.toDF(gateDf.columns.toIndexedSeq: _*)
    val cols = gateDf.columns.toSeq
    def canon(df: DataFrame): Array[String] =
      df.select(cols.map(col): _*).collect().map(_.toSeq.map {
        case d: java.lang.Double =>
          BigDecimal(d).setScale(2, BigDecimal.RoundingMode.HALF_UP).toString
        case d: java.math.BigDecimal =>
          BigDecimal(d).setScale(2, BigDecimal.RoundingMode.HALF_UP).toString
        case x => String.valueOf(x)
      }.mkString("|")).sorted
    val t = canon(aligned); val g = canon(gateDf)
    assert(g.nonEmpty, "gate returned no rows — vacuous compare")
    assert(t.length == g.length, s"rowcount ${t.length} vs ${g.length}")
    t.zip(g).zipWithIndex.foreach { case ((a, b), i) =>
      assert(a == b, s"row $i: text[$a] vs gate[$b]")
    }
  }

  /** Tolerance compare for the replica tests: the text path sums raw
    * doubles whose partial order differs from the replica plan's, so
    * large aggregates can drift past a fixed 2-dp rounding. Rows pair up
    * sorted by their non-floating key columns; floating cells must agree
    * within max(0.05, 1e-8·|v|). */
  def assertClose(textDf: DataFrame, replicaDf: DataFrame,
      allowEmpty: Boolean = false): Unit = {
    assert(textDf.columns.length == replicaDf.columns.length,
      s"column arity ${textDf.columns.toSeq} vs ${replicaDf.columns.toSeq} — " +
        "drop the extras explicitly in the test")
    val aligned = textDf.toDF(replicaDf.columns.toIndexedSeq: _*)
    val cols = replicaDf.columns.toSeq
    def rows(df: DataFrame): Array[Seq[Any]] =
      df.select(cols.map(col): _*).collect().map(_.toSeq)
        .sortBy(_.map {
          // floats join the sort key ROUNDED so duplicate-keyed rows pair
          // deterministically while sub-tolerance drift cannot reorder
          case d: java.lang.Double => f"${math.rint(d * 100) / 100}%.2f"
          case d: java.math.BigDecimal => f"${math.rint(d.doubleValue * 100) / 100}%.2f"
          case x => String.valueOf(x)
        }.mkString("|"))
    val t = rows(aligned); val g = rows(replicaDf)
    if (!allowEmpty) assert(g.nonEmpty, "replica returned no rows — vacuous compare")
    assert(t.length == g.length, s"rowcount ${t.length} vs ${g.length}")
    t.zip(g).zipWithIndex.foreach { case ((ra, rb), i) =>
      ra.zip(rb).foreach { case (a, b) =>
        (a, b) match {
          case (x: Number, y: Number)
            if a.isInstanceOf[java.lang.Double] || b.isInstanceOf[java.lang.Double] ||
              a.isInstanceOf[java.math.BigDecimal] || b.isInstanceOf[java.math.BigDecimal] =>
            val (dx, dy) = (x.doubleValue(), y.doubleValue())
            assert(math.abs(dx - dy) <= math.max(0.05, 1e-8 * math.abs(dy)),
              s"row $i: $dx vs $dy (cols $cols)\ntext=$ra\nreplica=$rb")
          case _ => assert(String.valueOf(a) == String.valueOf(b),
            s"row $i: $a vs $b\ntext=$ra\nreplica=$rb")
        }
      }
    }
  }
}
