package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Skew-hardening pins behind the 100 TB claim (BENCH_skew_r10.json holds
  * the at-volume figures; these are the deterministic small-scale
  * contracts):
  * the salted join's partition-size histogram spreads a hot key over every
  * salt bucket, and the salted SemDeDup pair stage emits the identical
  * answer as the unsalted gate. */
class SkewSpec extends AnyFunSuite {
  import TestSpark._

  test("salted join histogram: hot key spreads over all salt buckets") {
    // 2000 rows, key 0 holds 30% (600 rows), 8 salt buckets
    // v is row-unique: saltedJoin salts on xxhash64 of the WHOLE row, so
    // salt diversity comes from the payload (at scale rows are distinct)
    val fact = spark.range(2000).select(
      when(pmod(col("id"), lit(10)) < 3, 0L)
        .otherwise(pmod(col("id"), lit(97)) + 1).as("k"),
      col("id").cast("double").as("v"))
    val hist = ops.Relational.saltedShuffleHistogram(fact, "k", 8)
      .filter(col("k") === 0L)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(hist.length == 8, s"hot key used ${hist.length}/8 salt buckets")
    assert(hist.map(_._2).sum == 600L)
    val mean = 600.0 / 8
    val maxBucket = hist.map(_._2).max
    assert(maxBucket <= 2 * mean,
      s"hot-key max salt bucket $maxBucket > 2x mean $mean")
    // and the salted join still equals the plain join
    val dim = spark.range(100).select(col("id").as("dk"),
      (col("id") % 7).as("attr"))
    val viaSalt = ops.Relational.saltedJoin(fact, dim, "k", "dk", 8)
      .groupBy("attr").agg(count(lit(1)).as("n"), sum("v").as("s"))
      .orderBy("attr").collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val viaPlain = fact.join(dim, col("k") === col("dk"))
      .groupBy("attr").agg(count(lit(1)).as("n"), sum("v").as("s"))
      .orderBy("attr").collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(viaSalt.toSeq == viaPlain.toSeq)
  }

  test("salted SemDeDup pair stage equals the unsalted gate exactly") {
    val salted = ops.Dedup.semanticDedupSalted(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getBoolean(2), if (r.isNullAt(3)) -1L else r.getLong(3)))
    val plain = ops.Dedup.semanticDedup(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getBoolean(2), if (r.isNullAt(3)) -1L else r.getLong(3)))
    assert(salted.nonEmpty)
    assert(salted.toSeq == plain.toSeq)
  }

  test("salting caps per-task pair work: hot cell splits by (cell, salt)") {
    // 400 vectors, cell 0 holds 30%: unsalted the hot cell is ONE join
    // bucket with c*(c-1)/2 pairs; salted-by-4 no (cell,salt) bucket on
    // the probe side holds more than ~c/4 probe rows
    val vecs = spark.range(400).select(
      col("id").as("vec_id"),
      when(pmod(col("id"), lit(10)) < 3, 0L)
        .otherwise(pmod(col("id"), lit(7)) + 1).as("cell"))
      .withColumn("embedding", transform(sequence(lit(0), lit(7)),
        i => when(i === col("cell").cast("int"), lit(1.0)).otherwise(lit(0.01))
          .cast("float")))
    val salts = 4
    val probeBuckets = vecs
      .withColumn("__salt", pmod(xxhash64(col("vec_id")), lit(salts.toLong)))
      .filter(col("cell") === 0L)
      .groupBy("__salt").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(1))
    assert(probeBuckets.length == salts)
    val hot = 120.0 // 30% of 400
    assert(probeBuckets.max <= 2 * hot / salts,
      s"probe bucket ${probeBuckets.max} > 2x ${hot / salts}")
    // identical keepers both ways on the synthetic corpus too
    val k1 = ops.Dedup.semanticDupKeepers(vecs, 0.45, 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val k4 = ops.Dedup.semanticDupKeepers(vecs, 0.45, salts)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(k1.nonEmpty && k1.toSeq == k4.toSeq)
  }
}
