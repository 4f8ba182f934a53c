package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}
import org.apache.spark.sql.Column

/** Fixture loaders + determinism helpers shared by every query.
  *
  * The correctness gate hash-compares our parquet output against a DuckDB
  * oracle (mirror of the reference's H2-oracle pattern,
  * presto-tests/src/main/java/com/facebook/presto/tests/H2QueryRunner.java:105).
  * Floating-point SUM/AVG is order-dependent under parallel execution, so
  * every double aggregate goes through an exact decimal accumulation
  * (order-independent) and is converted back to double at the end — both
  * engines then produce bit-identical IEEE-754 values.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Per-(session, dir, table) memo of the scan DataFrames. Every
    * `spark.read.parquet` call pays a fresh driver-side file listing +
    * footer schema read + analysis; across a 121-query bench each query
    * re-reads 3-6 fixture tables, so this was 0.1-0.4 s of pure driver
    * time per query (measured, r13). The fixture
    * parquet under a dir never changes within a session (testdata is
    * read-only; bench corpora write once to a fresh temp dir before the
    * first read), so reusing the SAME DataFrame object is safe — the
    * analyzer also skips already-analyzed subtrees, the same reasoning
    * as Tpcds.dimMemo. Self-joins dedup ExprIds via the analyzer's
    * normal DeduplicateRelations pass. */
  private val scanMemo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    graft.rules.GraftRules.install(spark)
    scan(spark, s"$dir/$name.parquet")
  }

  /** Memoized parquet scan of an arbitrary stable path (also used for the
    * materialized TPC-DS facts — same staleness argument as above: the
    * materializer writes each fact once, before its first read).
    *
    * Callers self-joining a table get the SAME DataFrame instance twice;
    * disambiguate with df("col") via explicit aliases (`df.as("l")`), not
    * by re-reading — the analyzer's DeduplicateRelations pass handles the
    * shared ExprIds, exactly as for a reused `val` within one query.
    *
    * Entries of STOPPED sessions evict lazily whenever a miss adds an
    * entry (a long-lived multi-session host would otherwise pin every
    * dead session's DataFrames for the JVM lifetime); a hit costs one
    * lookup. */
  def scan(spark: SparkSession, path: String): DataFrame = {
    val hit = scanMemo.get((spark, path))
    if (hit != null) return hit
    val it = scanMemo.keySet().iterator()
    while (it.hasNext) if (it.next()._1.sparkContext.isStopped) it.remove()
    scanMemo.computeIfAbsent((spark, path), k => spark.read.parquet(k._2))
  }

  /** Drop memoized scans at or under `dir` (for the rare caller that
    * rewrites a fixture path mid-session). Matches on path-separator
    * boundaries, so invalidate("/x/t1") leaves "/x/t10" alone. */
  def invalidate(dir: String): Unit = {
    val it = scanMemo.keySet().iterator()
    while (it.hasNext) {
      val p = it.next()._2
      if (p == dir || p.startsWith(dir + "/")) it.remove()
    }
  }

  /** Register all fixture tables as temp views (for spark.sql entry points). */
  def registerAll(spark: SparkSession, dir: String): Unit = {
    graft.rules.GraftRules.install(spark)
    names.foreach(n => apply(spark, dir, n).createOrReplaceTempView(n))
  }

  /** Exact, order-independent sum of a double expression: accumulate as
    * decimal(18,6), emit double. Matches the oracle convention
    * `CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE)`. */
  def dsum(c: Column): Column = sum(c.cast(DecimalType(18, 6))).cast(DoubleType)
  def dsum(c: Column, alias: String): Column = dsum(c).as(alias)

  /** Deterministic average: exact decimal sum divided by count (double/long
    * division is identical across engines). */
  def davg(c: Column): Column = dsum(c) / count(c)
  def davg(c: Column, alias: String): Column = davg(c).as(alias)

  /** A date literal column (compares fine against timestamp columns). */
  def d(s: String): Column = lit(s).cast("date")
}
