package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    // managed tables (StatsSpec's stats_nation) land in target/, not in
    // the repo root
    .config("spark.sql.warehouse.dir",
      new java.io.File("target/spark-warehouse").getAbsolutePath)
    .getOrCreate()
  val sf: String = "/root/testdata/sf0.001"
  /** The next fixture scale, beside `sf`. */
  val sf01: String = new java.io.File(sf).getParent + "/sf0.01"
}

class TpchSpec extends AnyFunSuite {
  import TestSpark._

  test("all TPC-H queries execute and declare matching oracle SQL") {
    assert(SparkEntry.queries.nonEmpty)
    for ((name, _) <- SparkEntry.oracleSql)
      assert(SparkEntry.queries.contains(name), s"oracle $name has no query")
  }

  test("q01 returns the 6 returnflag/linestatus groups with stable schema") {
    val df = tpch.Tpch.q01(spark, sf)
    assert(df.columns.toSeq == Seq("l_returnflag", "l_linestatus", "sum_qty",
      "sum_base_price", "sum_disc_price", "sum_charge", "avg_qty", "avg_price",
      "avg_disc", "count_order"))
    assert(df.count() == 6)
  }

  test("q06 single-row revenue is positive") {
    val r = tpch.Tpch.q06(spark, sf).collect()
    assert(r.length == 1 && r(0).getDouble(0) > 0)
  }

  test("every TPC-H query runs end-to-end at sf0.001") {
    // tiny SF can legitimately produce no survivors for highly selective
    // nation-pair / anti-join queries (all are non-empty at sf0.01, where
    // the oracle gate runs)
    val emptyOk = Set("q07", "q21", "q22")
    for ((name, fn) <- tpch.Tpch.queries) {
      val n = fn(spark, sf).count()
      assert(emptyOk(name) || n > 0, s"$name returned no rows")
    }
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
