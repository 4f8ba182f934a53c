package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Dedup, Multimodal, Similarity, TextAnalysis}

/** Semantic tests for the LLM-pipeline operators (beyond the oracle gate):
  * recall/consistency properties that SQL hash-compare can't express. */
class LlmOpsSpec extends AnyFunSuite {
  import TestSpark._

  test("minhash LSH finds the high-jaccard pairs the exact verifier confirms") {
    val pairs = Dedup.minhashLsh(spark, sf).collect()
    // every emitted pair really is >= the 0.8 threshold
    assert(pairs.forall(_.getDouble(2) >= 0.8))
    // pairs are canonical (a < b) and unique
    assert(pairs.forall(r => r.getLong(0) < r.getLong(1)))
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).distinct.length == pairs.length)
  }

  test("simhash pairs overlap minhash pairs (both find the near-dup cluster)") {
    val mh = Dedup.minhashLsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sh = Dedup.simhash(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    if (mh.nonEmpty && sh.nonEmpty)
      assert((mh intersect sh).nonEmpty, s"no overlap: minhash=$mh simhash=$sh")
  }

  test("LSH ANN results are a subset-quality approximation of brute force") {
    val brute = Similarity.bruteTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val ann = Similarity.lshAnn(spark, sf).collect()
    // every ANN neighbor must score <= the brute-force best for that query
    val bruteBest = Similarity.bruteTopK(spark, sf).collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getDouble(3)).max }
    for (r <- ann) {
      val q = r.getLong(0)
      assert(r.getDouble(3) <= bruteBest(q) + 1e-9,
        s"ANN returned a better-than-exact score for query $q")
    }
    // and buckets should recover at least one true neighbor overall
    val annPairs = ann.map(r => (r.getLong(0), r.getLong(2))).toSet
    assert((annPairs intersect brute).nonEmpty || annPairs.isEmpty)
  }

  test("prefix filtering: candidate pairs << all-pairs, output unchanged") {
    import graft.Tables
    // replicate the candidate stage of Dedup.ngramJaccard to count pairs
    val docs = Tables(spark, sf, "documents")
      .withColumn("words", split(col("text"), " "))
      .filter(size(col("words")) >= 2)
      .withColumn("shingles", array_distinct(transform(
        sequence(lit(0), size(col("words")) - 2),
        i => concat_ws(" ", slice(col("words"), i + lit(1), lit(2))))))
      .select(col("lang"), col("doc_id"), col("shingles"))
    val ex0 = docs.select(col("lang"), col("doc_id"), explode(col("shingles")).as("g"))
    val dfreq = ex0.groupBy("lang", "g").agg(count(lit(1)).as("df"))
    val ordered = ex0.join(dfreq, Seq("lang", "g"))
      .groupBy("lang", "doc_id")
      .agg(sort_array(collect_list(struct(col("df"), col("g")))).as("sg"),
        count(lit(1)).as("n"))
    val prefLen = (col("n") - ceil(col("n") * 0.6) + 1).cast("int")
    val pref = ordered.select(col("lang"), col("doc_id"), col("n"),
      explode(slice(col("sg"), lit(1), prefLen)).as("pg"))
      .select(col("lang"), col("doc_id"), col("n"), col("pg.g").as("g"))
    val nCand = pref.as("a")
      .join(pref.as("b"),
        col("a.lang") === col("b.lang") && col("a.g") === col("b.g") &&
          col("a.doc_id") < col("b.doc_id") &&
          col("b.n") >= col("a.n") * 0.6 && col("a.n") >= col("b.n") * 0.6)
      .select(col("a.doc_id"), col("b.doc_id")).distinct().count()
    val perLang = docs.groupBy("lang").count().collect()
      .map(r => r.getLong(1) * (r.getLong(1) - 1) / 2).sum
    // sf0.001 docs are short, so the t-prefix is a big slice of each gram set
    // and pruning is modest (~3x); on long documents the prefix fraction
    // (1-t) shrinks the candidate space much harder.
    assert(nCand < perLang / 2,
      s"prefix filter pruned too little: $nCand candidates vs $perLang naive pairs")
    // and the emitted near-dup pairs still clear the threshold
    val out = Dedup.ngramJaccard(spark, sf).collect()
    assert(out.forall(_.getDouble(2) >= 0.6))
  }

  test("k-means refinement: Lloyd steps never increase the cosine objective") {
    import graft.Tables
    val e = Tables(spark, sf, "embeddings").select(col("vec_id"), col("embedding"))
    val seeds = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cvec"))
    val obj0 = Similarity.kmeansObjective(e, seeds)
    val r1 = Similarity.kmeansRefine(e, seeds)
    val obj1 = Similarity.kmeansObjective(e, r1)
    val r2 = Similarity.kmeansRefine(e, r1)
    val obj2 = Similarity.kmeansObjective(e, r2)
    // Lloyd monotonicity holds for squared-euclidean; on unit-ish cosine
    // cells the refined centroids must still beat the raw seed vectors
    assert(obj1 < obj0, s"refinement worsened objective: $obj0 -> $obj1")
    assert(obj2 <= obj1 + 1e-9, s"second step worsened objective: $obj1 -> $obj2")
    // refined centroids keep the full dimension and at most K cells
    val cents = r1.collect()
    assert(cents.length <= 8 &&
      cents.forall(_.getSeq[Double](1).length == 64))
  }

  test("persisted IVF index: same answers as inline IVF, build runs once") {
    import graft.ops.SnapshotTable
    val suffix = Integer.toHexString(sf.hashCode)
    val cellsBase = new java.io.File(
      sys.props("java.io.tmpdir"), s"graft_ivf_cells_$suffix")
    val centsBase = new java.io.File(
      sys.props("java.io.tmpdir"), s"graft_ivf_cents_$suffix")
    SnapshotTable.drop(cellsBase); SnapshotTable.drop(centsBase)
    val first = Similarity.ivfIndexReuse(spark, sf).collect()
    val vCells = SnapshotTable.currentVersion(cellsBase)
    assert(vCells.nonEmpty, "index build must commit a snapshot")
    // second query: read-only — the committed index version must not move
    val second = Similarity.ivfIndexReuse(spark, sf).collect()
    assert(SnapshotTable.currentVersion(cellsBase) == vCells,
      "repeat queries must reuse the committed index, not rebuild")
    val inline = Similarity.ivfAnn(spark, sf).collect()
    def canon(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(_.toSeq.mkString("|")).sorted.toSeq
    assert(canon(first) == canon(inline) && canon(second) == canon(inline),
      "index-read path must return the inline IVF answers")
  }

  test("keep-best keeps a member with the cluster-max quality") {
    val clusters = Dedup.nearDupClusters(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val q = TextAnalysis.quality(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(5)).toMap
    val best = Dedup.keepBest(spark, sf).collect()
    assert(best.map(_.getLong(0)).toSet == clusters.keySet)
    best.foreach { r =>
      val (cid, n, keepId, keepQ) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(n == clusters(cid), s"member count drifted for $cid")
      assert(q(keepId) == keepQ, s"keeper quality is not the doc's own: $r")
    }
    // at least one cluster's keeper differs from min-id (quality decided)
    val minKeepers = Dedup.nearDupClusters(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(best.exists(r => minKeepers(r.getLong(0)) != r.getLong(2)) ||
      best.length <= 2, "keep-best never disagreed with min-id on this corpus")
  }

  test("near-dup clusters are transitive closures of the pair graph") {
    val pairs = Dedup.minhashLsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val clusters = Dedup.nearDupClusters(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // every cluster id is its own min member (canonical keeper)
    assert(clusters.forall { case (cid, _, keep) => cid == keep })
    // total members equals distinct endpoints of the pair graph
    val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    assert(clusters.map(_._2).sum == nodes.length)
    // union-find ground truth on the driver agrees with the distributed result
    val parent = scala.collection.mutable.Map(nodes.map(n => n -> n): _*)
    def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val truth = nodes.groupBy(find).map { case (_, ms) => (ms.min, ms.length) }.toSet
    assert(clusters.map(c => (c._1, c._2.toInt)).toSet == truth)
  }

  test("embedding LSH near-dup pairs are a subset of the brute-force pairs") {
    val brute = Dedup.embeddingNearDup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.embeddingLshNearDup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(brute), s"LSH emitted non-brute pairs: ${lsh -- brute}")
  }

  test("exact dedup summary is consistent with raw counts") {
    val r = Dedup.exact(spark, sf).collect()(0)
    val total = Tables(spark, sf, "documents").count()
    assert(r.getLong(1) == total) // n_docs
    assert(r.getLong(0) + r.getLong(3) == total) // unique + redundant = total
  }

  test("language id prefers en for en-stopword-bearing text, deterministic") {
    val a = TextAnalysis.langId(spark, sf).collect()
    val b = TextAnalysis.langId(spark, sf).collect()
    assert(a.sameElements(b))
    assert(a.forall(r => Set("en", "de", "es", "fr", "zh")(r.getString(1))))
  }

  test("substring dedup: spans are merged, bounded, and imply flaggedness") {
    val rows = Dedup.substringDup(spark, sf).collect()
    rows.foreach { r =>
      val (nw, nSpans, dupWords, dupFrac, flagged) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getLong(5))
      assert(dupWords <= nw, s"dup span exceeds doc: $r")
      assert(nSpans <= dupWords || dupWords == 0)
      assert(dupFrac >= 0.0 && dupFrac <= 1.0)
      // merged islands of k=3 grams each cover >= k words
      if (nSpans > 0) assert(dupWords >= 3 * nSpans || dupWords >= 3)
      assert((flagged == 1) == (dupWords.toDouble / nw >= 0.5))
    }
    // a 3-gram shared by two docs in a 50-word vocab corpus MUST exist
    assert(rows.exists(_.getLong(3) > 0), "no duplicated spans found at all")
  }

  test("span removal: word accounting exact, first occurrences survive") {
    val rows = Dedup.spanDedup(spark, sf).collect()
    rows.foreach { r =>
      val (nw, nRemoved, newText) = (r.getLong(1), r.getLong(2), r.getString(3))
      val keptWords =
        if (newText.isEmpty) 0 else newText.split(" ").length
      assert(keptWords == nw - nRemoved, s"word accounting off: $r")
    }
    // the fixture's 50-word vocab guarantees duplicated 3-grams exist
    assert(rows.exists(_.getLong(2) > 0), "no spans were removed at all")
    // and removal must never delete a whole corpus: most words survive
    val total = rows.map(_.getLong(1)).sum.toDouble
    val removed = rows.map(_.getLong(2)).sum.toDouble
    assert(removed / total < 0.9, s"removed ${removed / total} of all words")
  }

  test("span removal fails loudly on a doc_id too wide for the packed election") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_wide_ids").toFile
    try {
      // (2^32 + 1) << 32 wraps to 2^32, below doc 2's packed 2^33: an
      // unguarded election would keep the wide doc's copy of the shared
      // gram and drop doc 2's, the earlier occurrence
      Seq((2L, "a b c"), ((1L << 32) + 1, "a b c")).toDF("doc_id", "text")
        .write.parquet(s"$dir/documents.parquet")
      val e = intercept[Exception](Dedup.spanDedup(spark, dir.getPath).collect())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(c => String.valueOf(c.getMessage).contains(
          s"doc_id ${(1L << 32) + 1} does not fit")), e)
    } finally {
      graft.Tables.invalidate(dir.getPath)
      org.apache.commons.io.FileUtils.deleteDirectory(dir)
    }
  }

  test("cluster balance: over-represented cells shrink, small cells survive") {
    import graft.Tables
    val e = Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val cents = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cvec"))
    val full = Similarity.centRank(e, cents).filter(col("crk") === 1)
      .groupBy(col("cent_id").as("cell")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val total = full.values.sum.toDouble
    val budget = total * 0.5 / 8.0
    val kept = Similarity.clusterBalance(spark, sf).collect()
      .groupBy(_.getLong(1)).map { case (c, rs) => c -> rs.length.toLong }
    kept.foreach { case (cell, k) =>
      assert(k <= full(cell))
      if (full(cell) <= budget)
        assert(k == full(cell), s"under-budget cell $cell lost rows")
    }
    // at least one over-budget cell actually shrank
    assert(full.exists { case (c, n) =>
      n > budget && kept.getOrElse(c, 0L) < n })
  }

  test("gopher battery: features bounded, keep is the conjunction of rules") {
    val rows = TextAnalysis.gopherQuality(spark, sf).collect()
    rows.foreach { r =>
      val nWords = r.getLong(1)
      val mwl = r.getDouble(2)
      val keep = r.getLong(8)
      Seq(3, 4, 5, 6).foreach { i =>
        assert(r.getDouble(i) >= 0.0 && r.getDouble(i) <= 1.0 + 1e-9) }
      val expect = nWords >= 50 && nWords <= 100000 &&
        mwl >= 3.0 && mwl <= 10.0 &&
        r.getDouble(3) < 0.1 && r.getDouble(4) <= 0.9 &&
        r.getDouble(5) <= 0.3 && r.getDouble(6) >= 0.8 && r.getLong(7) >= 2
      // rounded features can sit exactly on a threshold; only assert the
      // direction that rounding cannot flip (off-threshold rows)
      if (math.abs(mwl - 3.0) > 1e-3 && math.abs(mwl - 10.0) > 1e-3)
        assert((keep == 1) == expect, s"keep mismatch: $r")
    }
  }

  test("hashed classifier: one prediction per doc, scores deterministic") {
    val a = TextAnalysis.hashedClassifier(spark, sf).collect()
    val b = TextAnalysis.hashedClassifier(spark, sf).collect()
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq)
    assert(a.map(_.getLong(0)).distinct.length == a.length)
    // every predicted label is a real class from the training corpus
    val langs = a.map(_.getString(1)).toSet
    assert(a.forall(r => langs.contains(r.getString(2))))
  }

  test("quality score is bounded [0,1]") {
    val q = TextAnalysis.quality(spark, sf).collect()
    assert(q.forall(r => r.getDouble(5) >= 0.0 && r.getDouble(5) <= 1.0))
  }

  test("batched inference is invariant to partitioning and batch seams") {
    val a = Multimodal.batchInfer(spark, sf).collect()
    // repartitioned inputs hit different batch seams; outputs must not
    // change (per-row model contract)
    val b = Multimodal
      .batchInferOn(Multimodal.assets(spark, sf).repartition(13))
      .collect()
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq)
    assert(a.forall(r => r.getLong(1) >= 0 && r.getLong(1) < 1000003L))
  }

  test("resize preserves aspect ratio within integer floor error") {
    val rows = Multimodal.resize(spark, sf).collect()
    rows.foreach { r =>
      val (w, h, ow, oh) = (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(math.max(ow, oh) == 224, s"long side must hit the box: $r")
      // floor division: out ratio never exceeds the input ratio
      if (w >= h) assert(oh == h * 224 / w) else assert(ow == w * 224 / h)
      assert(r.getString(6).length == 16)
    }
  }

  test("multimodal decode is deterministic, partition-count invariant") {
    val f1 = Multimodal.features(spark, sf).collect()
    val f8 = Multimodal.decodeFeatures(
      Multimodal.assets(spark, sf).repartition(8)).toDF()
      .orderBy("doc_id").collect()
    assert(f1.map(_.toString).sameElements(f8.map(_.toString)))
    // checksum is content-derived: distinct payloads → mostly distinct sums
    assert(f1.map(_.getLong(3)).distinct.length > f1.length / 2)
  }

  test("cosine is symmetric and self-similarity is 1") {
    import spark.implicits._
    val e = Tables(spark, sf, "embeddings").limit(10)
    val self = e.select(Dedup.cosine(col("embedding"), col("embedding")).as("c"))
      .collect()
    assert(self.forall(r => math.abs(r.getDouble(0) - 1.0) < 1e-9))
  }

  test("incremental dedup: batch-only output, legs consistent, subset of full LSH") {
    val rows = Dedup.incrementalDedup(spark, sf).collect()
    val docs = Tables(spark, sf, "documents")
    val newIds = docs.filter(col("doc_id") % 5 === 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // one row per NEW doc, never an old one
    assert(rows.map(_.getLong(0)).toSet == newIds)
    // admitted is exactly the complement of (exact ∪ near)
    assert(rows.forall(r =>
      r.getBoolean(3) == (!r.getBoolean(1) && !r.getBoolean(2))))
    // exact leg agrees with a direct fingerprint probe
    val oldFps = docs.filter(col("doc_id") % 5 =!= 0)
      .select(md5(col("text"))).collect().map(_.getString(0)).toSet
    val newFp = docs.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), md5(col("text")).as("fp")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.foreach { r =>
      assert(r.getBoolean(1) == oldFps.contains(newFp(r.getLong(0))),
        s"exact_dup mismatch for doc ${r.getLong(0)}")
    }
    // near leg never exceeds what the full-corpus LSH finds: every
    // near-dup new doc appears in some cross-batch full-LSH pair
    val lshDocs = Dedup.minhashLsh(spark, sf).collect()
      .flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    rows.filter(_.getBoolean(2)).foreach { r =>
      assert(lshDocs.contains(r.getLong(0)),
        s"near_dup doc ${r.getLong(0)} not in any full-LSH pair")
    }
  }
}
