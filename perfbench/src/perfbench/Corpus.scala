package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.{Dedup, Similarity, TextAnalysis}

/** The five corpus-curation operators over a replicated corpus, each
  * forced through its full physical plan. */
object Corpus {
  val ops: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "substring_dup" -> Dedup.substringDup,
    "span_removal" -> Dedup.spanDedup,
    "gopher_quality" -> TextAnalysis.gopherQuality,
    "hashed_classifier" -> TextAnalysis.hashedClassifier,
    "cluster_balance" -> Similarity.clusterBalance)

  /** Replica r of row d gets id d * factor + r, so ids stay unique. The
    * seeded `salt` only decides which of the `files` output files each row
    * lands in and in what order, never the rows themselves. */
  def buildFixture(spark: SparkSession, src: String, dest: File,
      factor: Int, salt: Long, files: Int): Unit = {
    def replicate(table: String, id: String, cols: Seq[String]): Unit =
      spark.read.parquet(s"$src/$table.parquet")
        .crossJoin(spark.range(factor.toLong).toDF("r"))
        .select(((col(id) * factor + col("r")).as(id) +: cols.map(col)): _*)
        .withColumn("_o", xxhash64(col(id), lit(salt)))
        .repartitionByRange(files, col("_o")).sortWithinPartitions("_o")
        .drop("_o")
        .write.parquet(s"$dest/$table.parquet")
    replicate("documents", "doc_id", Seq("text", "lang", "source"))
    replicate("embeddings", "vec_id", Seq("embedding"))
  }

  /** Order-independent checksum of one value: doubles are rounded to six
    * decimals first, so a last-bit difference in a merge order cannot
    * change it. */
  private def hashValue(v: Any, dt: DataType): Long = if (v == null) 0x9e37L
    else dt match {
      case DoubleType => java.lang.Double.hashCode(
        math.rint(v.asInstanceOf[Double] * 1e6) / 1e6).toLong
      case FloatType => java.lang.Double.hashCode(
        math.rint(v.asInstanceOf[Float].toDouble * 1e6) / 1e6).toLong
      case ArrayType(et, _) =>
        val a = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        (0 until a.numElements()).foldLeft(17L) { (h, i) =>
          h * 31 + hashValue(if (a.isNullAt(i)) null else a.get(i, et), et)
        }
      case st: StructType =>
        val r = v.asInstanceOf[InternalRow]
        st.fields.indices.foldLeft(19L) { (h, i) =>
          h * 31 + hashValue(
            if (r.isNullAt(i)) null else r.get(i, st(i).dataType), st(i).dataType)
        }
      case _ => Murmur3HashFunction.hash(v, dt, 42L)
    }

  /** Run the full physical plan once; returns (rows, checksum). */
  def force(df: DataFrame): (Long, Long) = {
    val schema = df.schema
    df.queryExecution.toRdd.mapPartitions { it =>
      var n = 0L
      var sum = 0L
      it.foreach { r =>
        n += 1
        sum += hashValue(r, schema)
      }
      Iterator((n, sum))
    }.collect().foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
  }

  def run(c: Ctx): Unit = {
    val spark = c.spark
    val spec = c.cfg.get("corpus")
    val dir = c.fixture("corpus")(d => buildFixture(spark, c.dataDir, d,
      spec.get("factor").asInt, spec.get("salt").asLong,
      spec.get("files").asInt)).getPath
    c.dropCaches()
    val docs = spark.read.parquet(s"$dir/documents.parquet").count()
    c.out.put("docs", docs)
    val out = c.out.putArray("ops")
    c.pass(ops.foreach { case (name, op) =>
      val rec = out.addObject()
      rec.put("name", name)
      val leftover = c.leftoverRdds
      rec.put("leftover_rdds", leftover)
      if (leftover != 0) {
        rec.put("ok", false).put("error", s"$leftover persisted RDDs before start")
        c.dropCaches()
      } else {
        val before = c.counters()
        var plan = Map.empty[String, Long]
        try {
          val ((rows, sum), ms) = c.tracer.withRequest(name) {
            Main.time(c.tracer.span(s"ops.$name") {
              val df = op(spark, dir)
              val r = force(df)
              if (c.tracer.enabled)
                plan = PlanCounts(df.queryExecution.executedPlan)
              r
            })
          }
          rec.put("ok", true).put("ms", ms).put("rows", rows)
            .put("checksum", java.lang.Long.toHexString(sum))
        } catch {
          case e: Throwable => rec.put("ok", false).put("error", Main.errorText(e))
        } finally {
          val frames = c.dropCaches()
          if (c.tracer.enabled) {
            val l = rec.putObject("layers")
            l.put("cache.persisted_frames", frames)
            plan.foreach { case (k, v) => l.put(k, v) }
            Counters.diff(c.counters(), before).foreach { case (k, v) => l.put(k, v) }
          }
        }
      }
    })
  }
}
