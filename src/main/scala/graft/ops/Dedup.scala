package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Document deduplication operators — the LLM-training-data-pipeline surface
  * the reference only seeds (SetDigest minhash: MAIN/operator/aggregation/state
  * /SetDigest, approx_set + arbitrary() group-collapse, ngrams:
  * MAIN/operator/scalar/ArrayNgramsFunction.java), generalized here into
  * first-class Spark operators over the `documents` fixture.
  *
  * 100 TB design notes (each method documents its own shuffle budget):
  *  - Signature computation (minhash, simhash, fingerprints) is ALWAYS a
  *    narrow per-row map over codegen'd higher-order functions — zero shuffle,
  *    no UDFs, no driver collection.
  *  - Candidate generation shuffles only tiny (doc_id, bucket-key) tuples,
  *    never text: LSH banding (minhash), chunk pigeonhole (simhash), or an
  *    attribute block key (n-gram jaccard). The quadratic verify step runs
  *    per-bucket, which is the whole point of LSH — global pairwise compare
  *    never happens.
  *  - Verification joins explode only the candidate set (expected to be a
  *    vanishing fraction of the corpus).
  */
object Dedup {

  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables(s, dir, n)

  /** doc_id + distinct word n-gram shingles (codegen'd HOFs, no shuffle). */
  private def shingled(df: DataFrame, n: Int): DataFrame =
    df.withColumn("words", split(col("text"), " "))
      .filter(size(col("words")) >= n)
      .withColumn("shingles", array_distinct(transform(
        sequence(lit(0), size(col("words")) - n),
        i => concat_ws(" ", slice(col("words"), i + lit(1), lit(n))))))

  /** Exact dedup: group by content hash, keep min doc_id per group
    * (hash-groupBy with map-side partial aggregation; only 16-byte digests
    * shuffle, never document text). Emits a corpus-level summary row. */
  def exact(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(md5(col("text")).as("h"), col("doc_id"))
      .groupBy("h")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .agg(
        count(lit(1)).as("n_unique"),
        sum("n_copies").as("n_docs"),
        sum(when(col("n_copies") > 1, lit(1L)).otherwise(lit(0L))).as("n_dup_groups"),
        sum(when(col("n_copies") > 1, col("n_copies") - 1).otherwise(lit(0L)))
          .as("n_redundant_docs"))

  /** MinHash + LSH near-dup detection: word-3-gram shingles → 16 md5-seeded
    * minhashes (one narrow map, HOFs only) → 4 bands of 4 → band-bucket
    * self-join emits candidate pairs → exact Jaccard verification on
    * candidates only. Mirrors the shingle→minhash→band→bucket-join pipeline
    * used for web-scale corpus dedup; band/row counts trade recall for
    * bucket size. */
  def minhashLsh(s: SparkSession, dir: String): DataFrame = {
    val docs = shingled(t(s, dir, "documents"), 3).select("doc_id", "shingles")
    val sig = docs.withColumn("sig", transform(
      sequence(lit(0), lit(15)),
      sd => array_min(transform(col("shingles"),
        g => md5(concat(sd.cast("string"), lit(":"), g))))))
    val bands = sig.select(
      col("doc_id"),
      posexplode(transform(sequence(lit(0), lit(3)),
        b => md5(concat_ws(",", slice(col("sig"), b * lit(4) + lit(1), lit(4))))))
        .as(Seq("band", "bsig")))
    val cand = bands.as("x")
      .join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bsig") === col("y.bsig") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    val ex = docs.select(col("doc_id"), explode(col("shingles")).as("g"))
    val card = docs.select(col("doc_id"), size(col("shingles")).cast("long").as("n"))
    val inter = cand
      .join(ex.as("ea"), col("doc_a") === col("ea.doc_id"))
      .join(ex.as("eb"), col("doc_b") === col("eb.doc_id") && col("ea.g") === col("eb.g"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    val j = col("inter").cast("double") /
      (col("ca.n") + col("cb.n") - col("inter")).cast("double")
    inter
      .join(card.as("ca"), col("doc_a") === col("ca.doc_id"))
      .join(card.as("cb"), col("doc_b") === col("cb.doc_id"))
      .filter(j >= 0.8)
      .select(col("doc_a"), col("doc_b"), round(j, 4).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** SimHash near-dup detection: 60-bit signature from md5 word hashes
    * (bit b gets +1/-1 per word, sign → bit). The signature is computed
    * RELATIONALLY — explode words, then 60 conditional sums in one hash
    * aggregation — instead of nested higher-order lambdas: HOFs are
    * CodegenFallback (interpreted), while explode + sum(CASE…) stays
    * inside whole-stage codegen and partial-aggregates map-side, so the
    * per-doc signature costs one combinable pass at any scale. Pairs
    * within Hamming distance 3 are found by the pigeonhole trick — split
    * the signature into 4×15-bit chunks; any pair at distance ≤3 shares
    * at least one exact chunk — so the self-join key is a 15-bit chunk,
    * never a full scan. */
  def simhash(s: SparkSession, dir: String): DataFrame = {
    val words = t(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .withColumn("h",
        expr("cast(conv(substring(md5(w), 1, 15), 16, 10) AS BIGINT)"))
    val bitCols = (0 until 60).map(b =>
      sum(when(expr(s"(h >> $b) & 1") === 1, 1L).otherwise(-1L)).as(s"b$b"))
    val docs = words.groupBy("doc_id")
      .agg(bitCols.head, bitCols.tail: _*)
      .withColumn("simhash", (0 until 60).map(b =>
        when(col(s"b$b") > 0, lit(1L << b)).otherwise(lit(0L)))
        .reduce(_ + _))
      .select(col("doc_id"), col("simhash"))
    val chunks = docs.select(
      col("doc_id"), col("simhash"),
      posexplode(expr(
        "transform(sequence(0, 3), c -> (simhash >> (c * 15)) & 32767)"))
        .as(Seq("c", "chunk")))
    chunks.as("x")
      .join(chunks.as("y"),
        col("x.c") === col("y.c") && col("x.chunk") === col("y.chunk") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.simhash").as("sa"), col("y.simhash").as("sb"))
      .distinct()
      .withColumn("hamming", expr("CAST(bit_count(sa ^ sb) AS BIGINT)"))
      .filter(col("hamming") <= 3)
      .select("doc_a", "doc_b", "hamming")
      .orderBy("doc_a", "doc_b")
  }

  /** N-gram Jaccard near-dup with PREFIX-FILTERED candidate generation
    * (PPJoin/AllPairs): for Jaccard ≥ t, two gram sets sorted by one global
    * order must share a gram within their first |s| − ⌈t·|s|⌉ + 1 grams, so
    * the candidate join explodes only that prefix — candidates are bounded
    * by prefix-gram co-occurrence, never the per-block n². Length pruning
    * (t·|a| ≤ |b| ≤ |a|/t) and the lang block key cut further. The pruning
    * is LOSSLESS — output equals the naive all-pairs join, which is exactly
    * what the oracle computes. Verification joins full gram sets for
    * candidates only (same shape as minhashLsh). */
  def ngramJaccard(s: SparkSession, dir: String): DataFrame = {
    val tj = 0.6
    val docs = shingled(t(s, dir, "documents"), 2)
      .select(col("lang"), col("doc_id"), col("shingles"))
    val ex0 = docs.select(col("lang"), col("doc_id"), explode(col("shingles")).as("g"))
    // AllPairs preprocessing: order grams RAREST-FIRST (document frequency,
    // then gram) so prefixes hold the discriminative grams — prefix-gram
    // collisions then scale with df², which is tiny for rare grams. One
    // extra (lang, gram) shuffle of ids, never text.
    val dfreq = ex0.groupBy("lang", "g").agg(count(lit(1)).as("df"))
    val ordered = ex0.join(dfreq, Seq("lang", "g"))
      .groupBy("lang", "doc_id")
      .agg(sort_array(collect_list(struct(col("df"), col("g")))).as("sg"),
        count(lit(1)).as("n"))
    val prefLen = (col("n") - ceil(col("n") * tj) + 1).cast("int")
    val pref = ordered.select(col("lang"), col("doc_id"), col("n"),
      explode(slice(col("sg"), lit(1), prefLen)).as("pg"))
      .select(col("lang"), col("doc_id"), col("n"), col("pg.g").as("g"))
    val cand = pref.as("a")
      .join(pref.as("b"),
        col("a.lang") === col("b.lang") && col("a.g") === col("b.g") &&
          col("a.doc_id") < col("b.doc_id") &&
          col("b.n") >= col("a.n") * tj && col("a.n") >= col("b.n") * tj)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val ex = docs.select(col("doc_id"), explode(col("shingles")).as("g"))
    val card = docs.select(col("doc_id"), size(col("shingles")).cast("long").as("n"))
    val inter = cand
      .join(ex.as("ea"), col("doc_a") === col("ea.doc_id"))
      .join(ex.as("eb"), col("doc_b") === col("eb.doc_id") && col("ea.g") === col("eb.g"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    val j = col("inter").cast("double") /
      (col("ca.n") + col("cb.n") - col("inter")).cast("double")
    inter
      .join(card.as("ca"), col("doc_a") === col("ca.doc_id"))
      .join(card.as("cb"), col("doc_b") === col("cb.doc_id"))
      .filter(j >= tj)
      .select(col("doc_a"), col("doc_b"), round(j, 4).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** Embedding cosine near-dup: all pairs above a cosine threshold. Dot and
    * norms are double-precision sequential folds over the float vectors
    * (bit-identical to the oracle's unnest+sum). This brute-force variant is
    * the correctness baseline; the scale path is Similarity.lshAnn's
    * random-hyperplane bucketing, which turns the O(n²) compare into
    * per-bucket joins. */
  def embeddingNearDup(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val pairs = e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
    val cos = cosine(col("a.embedding"), col("b.embedding"))
    pairs
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"), cos.as("c"))
      .filter(col("c") >= 0.45)
      .select(col("vec_a"), col("vec_b"), round(col("c"), 4).as("cosine"))
      .orderBy("vec_a", "vec_b")
  }

  /** LSH-bucketed embedding near-dup — the oracle-gated SCALE path next to
    * the all-pairs baseline above: candidate pairs come from the
    * deterministic random-hyperplane buckets (Similarity.bucketOf, md5
    * planes an oracle can replay), so the compare fan-out is per-bucket
    * (corpus/2^planes), never n². Recall < 1 by construction — pairs split
    * across buckets are the LSH trade; the oracle applies the identical
    * bucketing so the gate hash-verifies the real semantics. */
  def embeddingLshNearDup(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"),
        Similarity.bucketOf(col("embedding")).as("bucket"))
    val pairs = e.as("a").join(e.as("b"),
      col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
    val cos = cosine(col("a.embedding"), col("b.embedding"))
    pairs
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"), cos.as("c"))
      .filter(col("c") >= 0.45)
      .select(col("vec_a"), col("vec_b"), round(col("c"), 4).as("cosine"))
      .orderBy("vec_a", "vec_b")
  }

  /** SemDeDup-style SEMANTIC dedup (Abbas et al. 2023 — cluster the
    * embedding space, then drop within-cluster semantic duplicates; the
    * reference's embedding stack stops at cosine_similarity, this is the
    * pipeline composition a training corpus needs): vectors are assigned
    * to their nearest centroid (the IVF assignment — broadcast centroids,
    * one pass), and a vector is a duplicate when an EARLIER (lower-id)
    * vector in the SAME cell has cosine >= tau; the keeper is the smallest
    * such id. Pairwise comparison happens only WITHIN cells — O(Σ cᵢ²)
    * with cᵢ ≈ corpus/K, never global n², and `cell` is the shuffle key,
    * the shape that holds at 100 TB (K grows with the corpus; the
    * committed-index variant would read SnapshotTable cells like
    * sim_ivf_index_reuse). Deterministic seed centroids (vec_id < 8, as
    * in sim_ivf_ann) let the DuckDB oracle replay the assignment. */
  def semanticDedup(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val cents = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cvec"))
    val cells = Similarity.centRank(e, cents).filter(col("crk") === 1)
      .select(col("vec_id"), col("embedding"), col("cent_id").as("cell"))
    val dup = semanticDupKeepers(cells, 0.45, salts = 1)
    cells.join(dup, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        col("keeper").isNotNull.as("is_dup"), col("keeper"))
      .orderBy("vec_id")
  }

  /** The within-cell duplicate-pair stage of semanticDedupSalted (pinned
    * by SkewSpec): for each vector, the smallest
    * earlier vec_id in the SAME cell with cosine >= tau. With salts > 1
    * the probe (a) side is split into `salts` deterministic sub-buckets
    * and the build (b) side replicated to each, so the shuffle key becomes
    * (cell, salt): a HOT cell (one cell holding 30 % of the corpus — the
    * worst case an IVF layout meets at 100 TB) spreads across `salts`
    * tasks instead of one, cutting per-task pair work from c² to c²/salts
    * while emitting the identical pair set. */
  private[graft] def semanticDupKeepers(cells: DataFrame, tau: Double,
      salts: Int): DataFrame = {
    val (a, b) =
      if (salts <= 1) (cells, cells)
      else (cells.withColumn("__salt",
              pmod(xxhash64(col("vec_id")), lit(salts.toLong))),
            cells.withColumn("__salt",
              explode(sequence(lit(0L), lit(salts.toLong - 1)))))
    val cond = col("a.cell") === col("b.cell") &&
      col("b.vec_id") < col("a.vec_id") &&
      (if (salts <= 1) lit(true) else col("a.__salt") === col("b.__salt"))
    a.as("a").join(b.as("b"), cond)
      .select(col("a.vec_id").as("vec_id"), col("b.vec_id").as("other"),
        cosine(col("a.embedding"), col("b.embedding")).as("c"))
      .filter(col("c") >= tau)
      .groupBy("vec_id").agg(min(col("other")).as("keeper"))
  }

  /** Skew-hardened SemDeDup: identical semantics (and oracle) to
    * semanticDedup, but the within-cell self-join runs through the salted
    * pair stage above — the variant you run when cell sizes are skewed. */
  def semanticDedupSalted(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val cents = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cvec"))
    val cells = Similarity.centRank(e, cents).filter(col("crk") === 1)
      .select(col("vec_id"), col("embedding"), col("cent_id").as("cell"))
    val dup = semanticDupKeepers(cells, 0.45, salts = 4)
    cells.join(dup, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        col("keeper").isNotNull.as("is_dup"), col("keeper"))
      .orderBy("vec_id")
  }

  /** Near-dup CLUSTERS: connected components over the MinHash-LSH pair
    * graph, the step a real dedup pipeline runs after candidate pairs —
    * transitive chains (A~B, B~C) must collapse to one cluster with one
    * canonical keeper even when A~C was never emitted. Iterative min-label
    * propagation: each round is one distributed join + aggregate (the
    * Pregel/HashToMin pattern), converging in O(component diameter)
    * rounds — near-dup components are shallow, so a handful of rounds at
    * any corpus size; lineage is cut per round with localCheckpoint. The
    * oracle replays components with a recursive CTE over the same pairs. */
  def nearDupClusters(s: SparkSession, dir: String): DataFrame =
    propagateLabels(minhashLsh(s, dir).select(col("doc_a"), col("doc_b")))
      .groupBy(col("label").as("cluster_id"))
      .agg(count(lit(1)).as("n_members"), min(col("node")).as("keep_id"))
      .select(col("cluster_id"), col("n_members"), col("keep_id"))
      .orderBy("cluster_id")

  /** Iterative min-label propagation over an undirected pair graph →
    * (node, label) with label = component minimum. Lineage is cut with
    * localCheckpoint per round (near-dup components are shallow, so a
    * handful of rounds at any corpus size). Shared by [[nearDupClusters]]
    * and [[keepBest]]. */
  private def propagateLabels(pairs: DataFrame): DataFrame = {
    val edges = pairs.unionAll(
      pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .localCheckpoint()
    var labels = edges.select(col("doc_a").as("node")).distinct()
      .withColumn("label", col("node"))
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < 20) {
      val nbrMin = edges.join(labels, edges("doc_b") === labels("node"))
        .groupBy(col("doc_a").as("n2")).agg(min(col("label")).as("nbl"))
      val updated = labels.join(nbrMin, col("node") === col("n2"), "left")
        .select(col("node"), col("label"),
          least(col("label"), coalesce(col("nbl"), col("label"))).as("nl"))
        .localCheckpoint()
      changed = updated.filter(col("nl") < col("label")).count()
      labels = updated.select(col("node"), col("nl").as("label"))
      iter += 1
    }
    labels
  }

  /** Keep-best near-dup resolution — what a production pipeline actually
    * keeps per near-duplicate cluster is its HIGHEST-QUALITY copy, not
    * the smallest id (the C4/RefinedWeb convention of arbitrary keepers
    * loses the best-written variant): clusters = the minhash-LSH pair
    * graph's components ([[propagateLabels]]), keeper = argmax of the
    * gated quality score (ties to the smaller doc_id). Composition of
    * two already-gated kernels; one extra broadcastable join. */
  def keepBest(s: SparkSession, dir: String): DataFrame = {
    val labels = propagateLabels(
      minhashLsh(s, dir).select(col("doc_a"), col("doc_b")))
    val q = TextAnalysis.quality(s, dir).select(col("doc_id"), col("quality"))
    labels.join(q, labels("node") === q("doc_id"))
      .groupBy(col("label").as("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("quality"), (-col("doc_id")).as("nid"))).as("m"))
      .select(col("cluster_id"), col("n_members"),
        (-col("m.nid")).as("keep_id"), col("m.quality").as("keep_quality"))
      .orderBy("cluster_id")
  }

  /** Exact-substring duplication profile (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better" — the ExactSubstr pass;
    * the paper builds a monolithic suffix array, here the same duplicated
    * spans fall out of a distributed k-word shingle inverted index): every
    * k-gram occurring >= 2 times anywhere in the corpus (cross-doc or
    * self-repetition alike) marks its word span; per-document overlapping
    * spans merge into islands (classic gaps-and-islands over one
    * doc-keyed window); the report is merged-span count, duplicated-word
    * count, and duplicated fraction per document.
    *
    * Scale shape: one shingle explode (linear in corpus tokens), one
    * hash-partitioned groupBy on the gram key, one window per document —
    * never a global suffix array and never all-pairs. k=3 here so the
    * 50-word fixture vocabulary collides meaningfully; a crawl run uses
    * k≈50 tokens as in the paper. */
  def substringDup(s: SparkSession, dir: String): DataFrame = {
    val k = 3
    val d = t(s, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .withColumn("nw", size(col("w")).cast("long"))
    // duplicated-gram hits off ONE exchange and NO sort (r14, guide
    // §2.4/§5): the r13 count-over-partition window got the hits off one
    // exchange but its sort buffered the full gram stream (28 GiB
    // mem-spill at the 5 M-doc starved-memory bench). Explicitly
    // repartition by g ONCE — the per-gram count aggregate and the
    // hits join both consume that same exchange (ReusedExchange) — and
    // build the duplicated-gram table as a hash aggregate (per-distinct-
    // gram state, not per-row) probed by a shuffled-hash join (build
    // side = duplicated grams only, a subset of distinct grams). The
    // full-stream sort is gone entirely.
    val parted = grams(d, k).repartition(col("g"))
    val dup = parted.groupBy("g").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2).select("g")
    val hits = parted.join(dup.hint("shuffle_hash"), "g")
      .select(col("doc_id"), col("pos"))
    val per = islands(hits, k).groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum((col("en") - col("st")).cast("long")).as("dup_words"))
    // shuffled-hash (build = the small per-doc profile): SMJ would sort
    // the document side for no reason
    d.select("doc_id", "nw").join(per.hint("shuffle_hash"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("nw").as("n_words"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_words"), lit(0L)).as("dup_words"),
        round(coalesce(col("dup_words"), lit(0L)).cast("double") / col("nw"), 4)
          .as("dup_frac"),
        (coalesce(col("dup_words"), lit(0L)).cast("double") / col("nw") >= 0.5)
          .cast("long").as("flagged"))
      .orderBy("doc_id")
  }

  /** C4-style duplicate-span REMOVAL (Raffel et al. 2020 §2.2 — "discard
    * all but one of any three-sentence span occurring more than once";
    * spans here are k-word windows since the fixture corpus has no
    * sentence punctuation): the globally FIRST occurrence of a duplicated
    * k-gram (min (doc_id, pos)) survives, every later occurrence's word
    * span is deleted, and each document is reassembled from its surviving
    * words. Complements [[substringDup]] (which only reports) with the
    * rewrite C4 actually applies.
    *
    * Scale shape: shingle explode + ONE gram-keyed exchange shared by a
    * per-gram min() hash aggregate (the first-occurrence election —
    * per-gram, never global) and the hash join that yields the later
    * occurrences; removed positions collapse back per doc, reassembly is
    * a per-row projection. No sort and no all-pairs stage anywhere. */
  def spanDedup(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .withColumn("nw", size(col("w")).cast("long"))
    withRemovedSpans(d, 3)
      .select(col("doc_id"), col("nw").as("n_words"),
        coalesce(col("n_rm"), lit(0L)).as("n_removed"),
        survivingText.as("new_text"))
      .orderBy("doc_id")
  }

  /** The k-word gram stream of `d` (doc_id, w, nw): one (doc_id, pos, g)
    * row per gram of every document with at least k words.
    *
    * Grams reduce to 64-bit fingerprints BEFORE any shuffle (C4 itself
    * dedups on hashed spans, Raffel et al. 2020 §2.2) — the gram-keyed
    * exchanges move 8-byte longs instead of ~20-byte strings (measured
    * at 1M docs: 1.5 GiB of gram strings shuffled without this).
    * Collision bound (accepted trade-off, r12 ADVICE): a 64-bit xxhash
    * collision merges two unrelated grams and flags a false duplicate; by
    * the birthday bound, at 10^10 distinct grams (≈100 TB of text)
    * P(any collision) ≈ n²/2^65 ≈ 0.3 %, and each collision perturbs ONE
    * gram group — acceptable for a dedup heuristic (C4 hashes spans too).
    * The DuckDB oracle groups on the exact gram STRINGS, so the gate would
    * catch a collision at fixture scale (none exist there); at corpus
    * scale the two definitions diverge by that ~0.3 % event. A 128-bit
    * fingerprint (md5 prefix pair) is the swap-in if exactness must hold
    * at scale. The k word values hash DIRECTLY (multi-arg xxhash64 chains
    * each value into the running hash, so word boundaries stay distinct)
    * — no slice() array and no concat'd gram string is ever allocated in
    * the explode stage (r14, guide §2.3: shuffle/compute narrower rows). */
  private def grams(d: DataFrame, k: Int): DataFrame = {
    val gramHash = (0 until k).map(j => s"w[i + $j]")
      .mkString("xxhash64(", ", ", ")")
    d.filter(col("nw") >= k)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, int(nw) - $k), i -> $gramHash)")))
      .toDF("doc_id", "pos", "g")
  }

  /** Gaps and islands over one doc-keyed window: the [pos, pos + k) word
    * spans of `hits` (doc_id, pos) merge per document into disjoint
    * islands (doc_id, isl, st, en). */
  private def islands(hits: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wOrd = Window.partitionBy("doc_id").orderBy("pos")
    val wPrev = wOrd.rowsBetween(Window.unboundedPreceding, -1)
    hits
      .withColumn("en", col("pos") + k)
      .withColumn("prev_max", max(col("en")).over(wPrev))
      .withColumn("new_isl",
        when(col("prev_max").isNull || col("pos") > col("prev_max"), 1).otherwise(0))
      .withColumn("isl", sum(col("new_isl")).over(wOrd))
      .groupBy(col("doc_id"), col("isl"))
      .agg(min("pos").as("st"), max("en").as("en"))
  }

  /** `d` (doc_id, w, nw, ...) left-joined with its C4 removal set: per
    * document, the sorted disjoint word intervals `ivs` (st, en) covered
    * by a LATER occurrence of a k-gram that occurs more than once, and
    * their width `n_rm` (both NULL when nothing is removed). Shared by
    * [[spanDedup]] and `TextAnalysis.pipeline3`; [[survivingText]]
    * reassembles the text. */
  private[ops] def withRemovedSpans(d: DataFrame, k: Int): DataFrame = {
    // First-occurrence election WITHOUT the full-stream sort (r14, guide
    // §2.3/§5): the r13 row_number() window sorted every (g, doc_id,
    // pos) row — 85 GiB mem-spill at the 5 M-doc starved-memory bench,
    // the corpus suite's dominant cost. Instead: (doc_id, pos) packs
    // into ONE order-preserving long (min over a struct would plan a
    // SortAggregate and bring the sort back), a per-gram hash aggregate
    // elects min = the first occurrence, and a shuffled-hash join back
    // against the SAME exchange (ReusedExchange, build side = duplicated
    // grams only) yields every LATER occurrence. Exactly the rows rk > 1
    // produced; no sort anywhere.
    //
    // The packing preserves order only while doc_id fits 32 signed bits
    // (pos, a word offset, always fits the low 32): a wider id would wrap
    // and elect wrong first occurrences, so it fails the job instead —
    // one check per document, before the explode.
    val ids = d.filter(
      when(!col("doc_id").between(-(1L << 31), (1L << 31) - 1),
        raise_error(concat(lit("doc_id "), col("doc_id").cast("string"),
          lit(" does not fit the 32-bit packed (doc_id, pos) span election"))))
        .otherwise(lit(true)))
    val parted = grams(ids, k)
      .withColumn("e", shiftleft(col("doc_id"), 32) + col("pos"))
      .repartition(col("g"))
    val firsts = parted.groupBy("g")
      .agg(min(col("e")).as("fe"), count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2).select("g", "fe")
    val dropped = parted.join(firsts.hint("shuffle_hash"), "g")
      .filter(col("e") =!= col("fe"))
      .select(col("doc_id"), col("pos"))
    // removed WORD SPANS, not removed word positions (r14, guide §2.3 +
    // §5): the former explode-to-positions + collect_set aggregated 3×
    // the dropped-gram stream and, past ObjectHashAggregate's 128-key
    // sort fallback, SORTED it — the operator's dominant residual spill.
    // Overlapping/adjacent dropped grams instead merge into disjoint
    // [st, en) islands per document (1/k-th the rows into the only
    // per-doc sort); distinct removed-position count = Σ island widths
    // exactly.
    val rm = islands(dropped, k).groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("st"), col("en")))).as("ivs"),
        sum((col("en") - col("st")).cast("long")).as("n_rm"))
    // shuffled-hash, build = the interval table: a sort-merge join here
    // would SORT the text-payload side — pure spill at corpus scale
    d.join(rm.hint("shuffle_hash"), Seq("doc_id"), "left")
  }

  /** The words of `w` outside every [[withRemovedSpans]] interval `ivs`
    * (NULL: nothing removed), rejoined with single spaces. */
  private[ops] val survivingText: Column = expr(
    "concat_ws(' ', transform(filter(" +
      "transform(w, (x, i) -> struct(i AS i, x AS x)), " +
      "s -> ivs IS NULL OR NOT exists(ivs, v -> s.i >= v.st AND s.i < v.en)), " +
      "s -> s.x))")

  /** Semantic decontamination — the embedding-space complement of the
    * n-gram collision rule (TextAnalysis.decontaminate): a corpus vector
    * is contaminated when it is near-identical to any held-out benchmark
    * vector (paraphrased eval questions that no exact n-gram ever
    * catches). Candidates come from the SAME deterministic hyperplane
    * buckets as dedup_embedding_lsh; the benchmark side is an eval set —
    * tiny relative to the corpus — so its bucketed signatures BROADCAST
    * and the corpus side stays one narrow map + bucket join, never
    * corpus × bench. */
  def semanticDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"),
        Similarity.bucketOf(col("embedding")).as("bucket"))
    val bench = e.filter(col("vec_id") % 13 === 0)
      .select(col("vec_id").as("bench_id"), col("embedding").as("bvec"),
        col("bucket"))
    val corpus = e.filter(col("vec_id") % 13 =!= 0)
    corpus.join(broadcast(bench), "bucket")
      .select(col("vec_id"), col("bench_id"),
        cosine(col("embedding"), col("bvec")).as("c"))
      .filter(col("c") >= 0.3)
      .groupBy("vec_id")
      .agg(count(lit(1)).as("n_hits"),
        round(max(col("c")), 4).as("max_cos"),
        min(col("bench_id")).as("first_bench"))
      .orderBy("vec_id")
  }

  /** Double-precision cosine similarity of two float vectors: sequential
    * fold in element order so any engine computing the same fold gets the
    * same IEEE-754 bits (reference cosine_similarity:
    * MAIN/operator/scalar/MathFunctions.java:1710). */
  def cosine(a: Column, b: Column): Column =
    // the codegen'd CosineSimilarity kernel — identical sequential fold
    // order to the previous aggregate(zip_with(...)) HOF formulation, so
    // every gate's IEEE-754 bits are unchanged, but the HOF was
    // interpreted (CodegenFallback) and measured 3-4× slower on the
    // 40k-vector corpus bench. Inputs must be array<float> (every
    // embedding column in the engine is; the kernel type-checks loudly).
    graft.functions.GraftFunctions.cosineSimilarity(a, b)

  /** The 16-hash / 4-band minhash bands of a documents slice — the same
    * scheme as dedup_minhash_lsh (deterministic md5 minhash, so a
    * persisted band snapshot and a recomputation are byte-identical). */
  private def minhashBands(docs: DataFrame): DataFrame =
    docs.withColumn("sig", transform(
      sequence(lit(0), lit(15)),
      sd => array_min(transform(col("shingles"),
        g => md5(concat(sd.cast("string"), lit(":"), g))))))
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), lit(3)),
          b => md5(concat_ws(",", slice(col("sig"), b * lit(4) + lit(1), lit(4))))))
          .as(Seq("band", "bsig")))

  /** INCREMENTAL dedup — admit a NEW ingest batch against the EXISTING
    * corpus without ever re-pairing the old corpus against itself (the
    * daily-ingest pattern; at 100 TB the historical side contributes only
    * its PRE-BUILT fingerprint + band snapshots — r13: genuinely
    * persisted via SnapshotTable and re-read, not recomputed inline, so
    * admission cost scales with the BATCH plus the candidate set, never
    * a corpus re-scan — compare GoogleDedup's incremental mode and the
    * snapshot-table ANN index here):
    *  - exact leg: md5 content fingerprints, new side probed LEFT SEMI
    *    against the persisted old fingerprint set;
    *  - near leg: the same 16-hash / 4-band minhash scheme as
    *    dedup_minhash_lsh, batch bands joined against the persisted old
    *    bands (new×old collisions only, never old×old), verified by
    *    exact shingle Jaccard ≥ 0.8 where the verify RE-SHINGLES ONLY
    *    the candidate docs (semi-join before the explode).
    * A new doc is admitted iff neither leg hits. Batch = doc_id % 5 = 0.
    * Deterministic md5 minhash means the persisted snapshots and the
    * DuckDB oracle's inline recomputation agree byte-for-byte. */
  def incrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val all = t(s, dir, "documents")
    val isNew = col("doc_id") % 5 === 0
    // historical snapshots: built once per corpus, read every admission
    val suffix = Integer.toHexString(dir.hashCode)
    val base = new java.io.File(
      sys.props("java.io.tmpdir"), s"graft_incdedup_v1_$suffix")
    val fpBase = new java.io.File(base, "fingerprints")
    val bandBase = new java.io.File(base, "bands")
    if (SnapshotTable.currentVersion(fpBase).isEmpty ||
        SnapshotTable.currentVersion(bandBase).isEmpty) {
      val old = all.filter(!isNew)
      SnapshotTable.write(s, fpBase,
        old.select(md5(col("text")).as("fp")).distinct())
      SnapshotTable.write(s, bandBase, minhashBands(
        shingled(old, 3).select(col("doc_id"), col("shingles"))))
    }
    val oldFp = SnapshotTable.read(s, fpBase)
    val oldBands = SnapshotTable.read(s, bandBase)
    val batch = all.filter(isNew)
    val exactDup = batch.select(col("doc_id"), md5(col("text")).as("fp"))
      .join(oldFp, Seq("fp"), "left_semi")
      .select(col("doc_id")).withColumn("x", lit(true))
    val newBands = minhashBands(
      shingled(batch, 3).select(col("doc_id"), col("shingles")))
    val cand = newBands.as("nb")
      .join(oldBands.as("ob"),
        col("nb.band") === col("ob.band") && col("nb.bsig") === col("ob.bsig"))
      .select(col("nb.doc_id").as("dn"), col("ob.doc_id").as("dob"))
      .distinct()
    // exact-Jaccard verify over the CANDIDATES only: semi-join before the
    // shingle explode, so the historical side re-reads candidate docs,
    // not the corpus
    val candDocs = cand.select(col("dn").as("doc_id"))
      .union(cand.select(col("dob").as("doc_id"))).distinct()
    val docsC = shingled(all.join(candDocs, Seq("doc_id"), "left_semi"), 3)
      .select(col("doc_id"), col("shingles"))
    val ex = docsC.select(col("doc_id"), explode(col("shingles")).as("g"))
    val card = docsC.select(col("doc_id"),
      size(col("shingles")).cast("long").as("n"))
    val j = col("inter").cast("double") /
      (col("ca.n") + col("cb.n") - col("inter")).cast("double")
    val nearDup = cand
      .join(ex.as("ea"), col("dn") === col("ea.doc_id"))
      .join(ex.as("eb"), col("dob") === col("eb.doc_id") && col("ea.g") === col("eb.g"))
      .groupBy("dn", "dob").agg(count(lit(1)).as("inter"))
      .join(card.as("ca"), col("dn") === col("ca.doc_id"))
      .join(card.as("cb"), col("dob") === col("cb.doc_id"))
      .filter(j >= 0.8)
      .select(col("dn").as("doc_id")).distinct().withColumn("nr", lit(true))
    batch.select("doc_id")
      .join(exactDup, Seq("doc_id"), "left")
      .join(nearDup, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("x"), lit(false)).as("exact_dup"),
        coalesce(col("nr"), lit(false)).as("near_dup"),
        (coalesce(col("x"), lit(false)) === false &&
          coalesce(col("nr"), lit(false)) === false).as("admitted"))
      .orderBy("doc_id")
  }

  /** Incremental SEMANTIC dedup — the embedding leg of the daily-ingest
    * story: admit a new batch (vec_id % 5 = 0) against the PERSISTED IVF
    * index of the historical corpus (the snapshot-table index of
    * ops/Similarity.scala) WITHOUT re-embedding or re-pairing old×old.
    * Build (once, idempotent): old vectors cell-assigned to deterministic
    * seed centroids (the 8 smallest OLD vec_ids — so the DuckDB oracle
    * replays the quantizer exactly, like dedup_semantic) and committed
    * cell-partitioned. Probe (per batch): each new vector ranks against
    * the broadcast centroids (O(batch × K)), reads its top-2 cells from
    * the committed index, and pairs ONLY new×old within those cells
    * (cosine >= 0.45, SemDeDup keep-smallest-id resolution). At 100 TB
    * the cost is |batch| × nprobe/K of the corpus — never the corpus
    * squared, never a re-cluster (r12 verdict "do this" #7). */
  def incrementalSemanticDedup(s: SparkSession, dir: String): DataFrame = {
    val suffix = Integer.toHexString(dir.hashCode)
    val base = new java.io.File(
      sys.props("java.io.tmpdir"), s"graft_incsem_v1_$suffix")
    val cellsBase = new java.io.File(base, "cells")
    val centsBase = new java.io.File(base, "centroids")
    val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val old = e.filter(col("vec_id") % 5 =!= 0)
    if (SnapshotTable.currentVersion(cellsBase).isEmpty ||
        SnapshotTable.currentVersion(centsBase).isEmpty) {
      val cents = old.orderBy("vec_id").limit(8)
        .select(col("vec_id").as("cent_id"), col("embedding").as("cvec"))
      SnapshotTable.write(s, centsBase, cents)
      SnapshotTable.write(s, cellsBase,
        Similarity.centRank(old, cents).filter(col("crk") === 1)
          .select(col("vec_id"), col("embedding"), col("cent_id").as("cell"))
          .repartition(col("cell"))) // cell-partitioned, the probe-prune key
    }
    // batch path: committed index only — the historical side contributes
    // its snapshot, not a recomputation
    val idxCells = SnapshotTable.read(s, cellsBase)
    val idxCents = SnapshotTable.read(s, centsBase)
    val batch = e.filter(col("vec_id") % 5 === 0)
    val probes = Similarity.centRank(batch, idxCents).filter(col("crk") <= 2)
      .select(col("vec_id"), col("embedding"), col("cent_id").as("probe"))
    val hits = probes.as("q")
      .join(idxCells.as("x"), col("q.probe") === col("x.cell"))
      .select(col("q.vec_id").as("vec_id"), col("x.vec_id").as("old_id"),
        cosine(col("q.embedding"), col("x.embedding")).as("c"))
      .filter(col("c") >= 0.45)
      .groupBy("vec_id").agg(min(col("old_id")).as("keeper"))
    batch.select("vec_id")
      .join(hits, Seq("vec_id"), "left")
      .select(col("vec_id"), col("keeper").isNotNull.as("is_dup"),
        col("keeper"), col("keeper").isNull.as("admitted"))
      .orderBy("vec_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_incremental" -> incrementalDedup,
    "dedup_incremental_semantic" -> incrementalSemanticDedup,
    "dedup_exact" -> exact,
    "dedup_minhash_lsh" -> minhashLsh,
    "dedup_simhash" -> simhash,
    "dedup_ngram_jaccard" -> ngramJaccard,
    "dedup_embedding" -> embeddingNearDup,
    "dedup_embedding_lsh" -> embeddingLshNearDup,
    "dedup_semantic" -> semanticDedup,
    "dedup_semantic_salted" -> semanticDedupSalted,
    "dedup_substring" -> substringDup,
    "dedup_span_removal" -> spanDedup,
    "dedup_semantic_decontaminate" -> semanticDecontaminate,
    "dedup_keep_best" -> keepBest,
    "dedup_clusters" -> nearDupClusters)

  private val oracleBase: Map[String, String] = Map(
    "dedup_incremental" ->
      """WITH base AS (SELECT doc_id, text, (doc_id % 5 = 0) AS is_new
        |              FROM documents),
        |fp AS (SELECT doc_id, md5(text) fp, is_new FROM base),
        |oldfp AS (SELECT DISTINCT fp FROM fp WHERE NOT is_new),
        |exd AS (SELECT DISTINCT f.doc_id FROM fp f JOIN oldfp o USING (fp)
        |        WHERE f.is_new),
        |w AS (SELECT doc_id, is_new, string_split(text, ' ') ws FROM base),
        |sh AS (SELECT doc_id, is_new,
        |        list_distinct(list_transform(range(1, len(ws) - 1),
        |          i -> array_to_string(ws[i:i+2], ' '))) s
        |       FROM w WHERE len(ws) >= 3),
        |mh AS (SELECT doc_id, seed, min(md5(seed::VARCHAR || ':' || g)) m
        |       FROM (SELECT doc_id, unnest(s) g FROM sh)
        |       CROSS JOIN (SELECT unnest(range(16)) seed) GROUP BY 1, 2),
        |band AS (SELECT doc_id, seed // 4 b,
        |          md5(string_agg(m, ',' ORDER BY seed)) sig
        |         FROM mh GROUP BY 1, 2),
        |nb AS (SELECT band.* FROM band JOIN base USING (doc_id) WHERE is_new),
        |ob AS (SELECT band.* FROM band JOIN base USING (doc_id) WHERE NOT is_new),
        |cand AS (SELECT DISTINCT nb.doc_id dn, ob.doc_id dob FROM nb
        |         JOIN ob ON nb.b = ob.b AND nb.sig = ob.sig),
        |e AS (SELECT doc_id, unnest(s) g FROM sh),
        |card AS (SELECT doc_id, len(s) n FROM sh),
        |ver AS (SELECT dn, dob, count(*) inter FROM cand
        |        JOIN e ea ON ea.doc_id = dn
        |        JOIN e eb ON eb.doc_id = dob AND ea.g = eb.g GROUP BY 1, 2),
        |near AS (SELECT DISTINCT dn AS doc_id FROM ver
        |         JOIN card ca ON ca.doc_id = dn
        |         JOIN card cb ON cb.doc_id = dob
        |         WHERE inter * 1.0 / (ca.n + cb.n - inter) >= 0.8)
        |SELECT b.doc_id, (exd.doc_id IS NOT NULL) AS exact_dup,
        |  (near.doc_id IS NOT NULL) AS near_dup,
        |  (exd.doc_id IS NULL AND near.doc_id IS NULL) AS admitted
        |FROM base b
        |LEFT JOIN exd ON exd.doc_id = b.doc_id
        |LEFT JOIN near ON near.doc_id = b.doc_id
        |WHERE b.is_new ORDER BY b.doc_id""".stripMargin,
    "dedup_span_removal" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w,
        |             CAST(len(string_split(text, ' ')) AS BIGINT) AS nw
        |           FROM documents),
        |sh AS (SELECT doc_id, CAST(i AS INT) AS pos,
        |         array_to_string(w[i + 1 : i + 3], ' ') AS g
        |       FROM d, unnest(range(0, nw - 2)) AS r(i) WHERE nw >= 3),
        |ranked AS (SELECT doc_id, pos,
        |    row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rk,
        |    count(*) OVER (PARTITION BY g) AS cnt
        |  FROM sh),
        |dropped AS (SELECT doc_id, pos FROM ranked WHERE cnt >= 2 AND rk > 1),
        |rm AS (SELECT DISTINCT doc_id, pos + CAST(off AS INT) AS rp
        |       FROM dropped, unnest(range(0, 3)) AS r(off)),
        |nrem AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_removed
        |         FROM rm GROUP BY 1),
        |words AS (SELECT doc_id, CAST(i AS INT) AS i, w[i + 1] AS x
        |          FROM d, unnest(range(0, nw)) AS r(i)),
        |kept AS (SELECT wd.doc_id, wd.i, wd.x FROM words wd
        |         LEFT JOIN rm ON rm.doc_id = wd.doc_id AND rm.rp = wd.i
        |         WHERE rm.doc_id IS NULL),
        |rebuilt AS (SELECT doc_id,
        |    COALESCE(string_agg(x, ' ' ORDER BY i), '') AS new_text
        |  FROM kept GROUP BY 1)
        |SELECT d.doc_id, d.nw AS n_words,
        |  COALESCE(nrem.n_removed, 0) AS n_removed,
        |  COALESCE(rebuilt.new_text, '') AS new_text
        |FROM d LEFT JOIN nrem USING (doc_id) LEFT JOIN rebuilt USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    "dedup_substring" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w,
        |             CAST(len(string_split(text, ' ')) AS BIGINT) AS nw
        |           FROM documents),
        |sh AS (SELECT doc_id, CAST(i AS INT) AS pos,
        |         array_to_string(w[i + 1 : i + 3], ' ') AS g
        |       FROM d, unnest(range(0, nw - 2)) AS r(i) WHERE nw >= 3),
        |dup AS (SELECT g FROM sh GROUP BY g HAVING count(*) >= 2),
        |hits AS (SELECT doc_id, pos FROM sh JOIN dup USING (g)),
        |pm AS (SELECT doc_id, pos, pos + 3 AS en,
        |         max(pos + 3) OVER (PARTITION BY doc_id ORDER BY pos
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
        |       FROM hits),
        |isl AS (SELECT doc_id, pos, en,
        |          sum(CASE WHEN prev_max IS NULL OR pos > prev_max
        |              THEN 1 ELSE 0 END)
        |            OVER (PARTITION BY doc_id ORDER BY pos) AS isl
        |        FROM pm),
        |spans AS (SELECT doc_id, isl, min(pos) AS st, max(en) AS en
        |          FROM isl GROUP BY 1, 2),
        |per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
        |          CAST(sum(en - st) AS BIGINT) AS dup_words
        |        FROM spans GROUP BY 1)
        |SELECT d.doc_id, d.nw AS n_words,
        |  COALESCE(per.n_spans, 0) AS n_spans,
        |  COALESCE(per.dup_words, 0) AS dup_words,
        |  round(CAST(COALESCE(per.dup_words, 0) AS DOUBLE) / d.nw, 4) AS dup_frac,
        |  CAST(CAST(COALESCE(per.dup_words, 0) AS DOUBLE) / d.nw >= 0.5
        |    AS BIGINT) AS flagged
        |FROM d LEFT JOIN per USING (doc_id) ORDER BY doc_id""".stripMargin,
    "dedup_exact" ->
      """SELECT count(*) AS n_unique,
        | CAST(SUM(n_copies) AS BIGINT) AS n_docs,
        | CAST(SUM(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_groups,
        | CAST(SUM(CASE WHEN n_copies > 1 THEN n_copies - 1 ELSE 0 END) AS BIGINT) AS n_redundant_docs
        |FROM (SELECT md5(text) h, min(doc_id) keep_id, count(*) n_copies
        |      FROM documents GROUP BY 1)""".stripMargin,
    "dedup_minhash_lsh" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') ws FROM documents),
        |sh AS (SELECT doc_id,
        |        list_distinct(list_transform(range(1, len(ws) - 1),
        |          i -> array_to_string(ws[i:i+2], ' '))) s
        |       FROM w WHERE len(ws) >= 3),
        |mh AS (SELECT doc_id, seed, min(md5(seed::VARCHAR || ':' || g)) m
        |       FROM (SELECT doc_id, unnest(s) g FROM sh)
        |       CROSS JOIN (SELECT unnest(range(16)) seed) GROUP BY 1, 2),
        |band AS (SELECT doc_id, seed // 4 b,
        |          md5(string_agg(m, ',' ORDER BY seed)) sig
        |         FROM mh GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT a.doc_id da, b2.doc_id db FROM band a
        |         JOIN band b2 ON a.b = b2.b AND a.sig = b2.sig
        |          AND a.doc_id < b2.doc_id),
        |e AS (SELECT doc_id, unnest(s) g FROM sh),
        |card AS (SELECT doc_id, len(s) n FROM sh),
        |ver AS (SELECT da, db, count(*) inter FROM cand
        |        JOIN e ea ON ea.doc_id = da
        |        JOIN e eb ON eb.doc_id = db AND ea.g = eb.g GROUP BY 1, 2)
        |SELECT da AS doc_a, db AS doc_b,
        | ROUND(inter * 1.0 / (ca.n + cb.n - inter), 4) AS jaccard
        |FROM ver JOIN card ca ON ca.doc_id = da JOIN card cb ON cb.doc_id = db
        |WHERE inter * 1.0 / (ca.n + cb.n - inter) >= 0.8
        |ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_clusters" ->
      """WITH RECURSIVE w AS (SELECT doc_id, string_split(text, ' ') ws FROM documents),
        |sh AS (SELECT doc_id,
        |        list_distinct(list_transform(range(1, len(ws) - 1),
        |          i -> array_to_string(ws[i:i+2], ' '))) s
        |       FROM w WHERE len(ws) >= 3),
        |mh AS (SELECT doc_id, seed, min(md5(seed::VARCHAR || ':' || g)) m
        |       FROM (SELECT doc_id, unnest(s) g FROM sh)
        |       CROSS JOIN (SELECT unnest(range(16)) seed) GROUP BY 1, 2),
        |band AS (SELECT doc_id, seed // 4 b,
        |          md5(string_agg(m, ',' ORDER BY seed)) sig
        |         FROM mh GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT a.doc_id da, b2.doc_id db FROM band a
        |         JOIN band b2 ON a.b = b2.b AND a.sig = b2.sig
        |          AND a.doc_id < b2.doc_id),
        |e AS (SELECT doc_id, unnest(s) g FROM sh),
        |card AS (SELECT doc_id, len(s) n FROM sh),
        |ver AS (SELECT da, db, count(*) inter FROM cand
        |        JOIN e ea ON ea.doc_id = da
        |        JOIN e eb ON eb.doc_id = db AND ea.g = eb.g GROUP BY 1, 2),
        |pairs AS (SELECT da, db FROM ver
        |          JOIN card ca ON ca.doc_id = da JOIN card cb ON cb.doc_id = db
        |          WHERE inter * 1.0 / (ca.n + cb.n - inter) >= 0.8),
        |edges AS (SELECT da a, db b FROM pairs
        |          UNION ALL SELECT db, da FROM pairs),
        |reach(node, root) AS (
        |  SELECT DISTINCT a, a FROM edges
        |  UNION
        |  SELECT e.b, r.root FROM reach r JOIN edges e ON e.a = r.node),
        |comp AS (SELECT node, min(root) cluster_id FROM reach GROUP BY node)
        |SELECT cluster_id, count(*) AS n_members, min(node) AS keep_id
        |FROM comp GROUP BY cluster_id ORDER BY cluster_id""".stripMargin,
    "dedup_keep_best" ->
      """WITH RECURSIVE w AS (SELECT doc_id, string_split(text, ' ') ws FROM documents),
        |sh AS (SELECT doc_id,
        |        list_distinct(list_transform(range(1, len(ws) - 1),
        |          i -> array_to_string(ws[i:i+2], ' '))) s
        |       FROM w WHERE len(ws) >= 3),
        |mh AS (SELECT doc_id, seed, min(md5(seed::VARCHAR || ':' || g)) m
        |       FROM (SELECT doc_id, unnest(s) g FROM sh)
        |       CROSS JOIN (SELECT unnest(range(16)) seed) GROUP BY 1, 2),
        |band AS (SELECT doc_id, seed // 4 b,
        |          md5(string_agg(m, ',' ORDER BY seed)) sig
        |         FROM mh GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT a.doc_id da, b2.doc_id db FROM band a
        |         JOIN band b2 ON a.b = b2.b AND a.sig = b2.sig
        |          AND a.doc_id < b2.doc_id),
        |e AS (SELECT doc_id, unnest(s) g FROM sh),
        |card AS (SELECT doc_id, len(s) n FROM sh),
        |ver AS (SELECT da, db, count(*) inter FROM cand
        |        JOIN e ea ON ea.doc_id = da
        |        JOIN e eb ON eb.doc_id = db AND ea.g = eb.g GROUP BY 1, 2),
        |pairs AS (SELECT da, db FROM ver
        |          JOIN card ca ON ca.doc_id = da JOIN card cb ON cb.doc_id = db
        |          WHERE inter * 1.0 / (ca.n + cb.n - inter) >= 0.8),
        |edges AS (SELECT da a, db b FROM pairs
        |          UNION ALL SELECT db, da FROM pairs),
        |reach(node, root) AS (
        |  SELECT DISTINCT a, a FROM edges
        |  UNION
        |  SELECT e.b, r.root FROM reach r JOIN edges e ON e.a = r.node),
        |comp AS (SELECT node, min(root) cluster_id FROM reach GROUP BY node),
        |qf AS (SELECT doc_id, string_split(text, ' ') qws, len(text) nc,
        |        len(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) * 1.0
        |          / len(text) punct
        |       FROM documents),
        |qg AS (SELECT doc_id, len(qws) nw, punct,
        |        len(list_filter(qws, x -> list_contains(
        |          ['the', 'a', 'of', 'and', 'to', 'in', 'is', 'it', 'that', 'for'],
        |          x))) * 1.0 / len(qws) stopr
        |       FROM qf),
        |q AS (SELECT doc_id,
        |       ROUND(least(1.0, nw / 120.0) * 0.4
        |         + least(1.0, stopr * 5.0) * 0.3
        |         + (1.0 - least(1.0, punct * 10.0)) * 0.3, 4) AS quality
        |      FROM qg),
        |ranked AS (SELECT comp.cluster_id, comp.node, q.quality,
        |    row_number() OVER (PARTITION BY comp.cluster_id
        |      ORDER BY q.quality DESC, comp.node) rk
        |  FROM comp JOIN q ON q.doc_id = comp.node),
        |cnt AS (SELECT cluster_id, CAST(count(*) AS BIGINT) n_members
        |        FROM comp GROUP BY 1)
        |SELECT r.cluster_id, cnt.n_members, r.node AS keep_id,
        |  r.quality AS keep_quality
        |FROM ranked r JOIN cnt USING (cluster_id)
        |WHERE r.rk = 1 ORDER BY cluster_id""".stripMargin,
    "dedup_simhash" ->
      """WITH h AS (SELECT doc_id,
        |        CAST('0x' || substr(md5(word), 1, 15) AS BIGINT) hv
        |       FROM (SELECT doc_id, unnest(string_split(text, ' ')) word
        |             FROM documents)),
        |bits AS (SELECT doc_id, b,
        |          SUM(CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE -1 END) s
        |         FROM h CROSS JOIN (SELECT unnest(range(60)) b) GROUP BY 1, 2),
        |sh AS (SELECT doc_id,
        |        SUM(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END) sim
        |       FROM bits GROUP BY 1),
        |ch AS (SELECT doc_id, sim, c, (sim >> (c * 15)) & 32767 chunk
        |       FROM sh CROSS JOIN (SELECT unnest(range(4)) c)),
        |cand AS (SELECT DISTINCT a.doc_id da, a.sim sa, b2.doc_id db, b2.sim sb
        |         FROM ch a JOIN ch b2 ON a.c = b2.c AND a.chunk = b2.chunk
        |          AND a.doc_id < b2.doc_id)
        |SELECT da AS doc_a, db AS doc_b,
        | CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
        |FROM cand WHERE bit_count(xor(sa, sb)) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_ngram_jaccard" ->
      """WITH w AS (SELECT lang, doc_id, string_split(text, ' ') ws FROM documents),
        |sh AS (SELECT lang, doc_id,
        |        list_distinct(list_transform(range(1, len(ws)),
        |          i -> array_to_string(ws[i:i+1], ' '))) s
        |       FROM w WHERE len(ws) >= 2),
        |e AS (SELECT lang, doc_id, unnest(s) g FROM sh),
        |card AS (SELECT doc_id, len(s) n FROM sh),
        |inter AS (SELECT a.doc_id da, b.doc_id db, count(*) inter FROM e a
        |          JOIN e b ON a.lang = b.lang AND a.g = b.g
        |           AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2)
        |SELECT da AS doc_a, db AS doc_b,
        | ROUND(inter * 1.0 / (ca.n + cb.n - inter), 4) AS jaccard
        |FROM inter JOIN card ca ON ca.doc_id = da JOIN card cb ON cb.doc_id = db
        |WHERE inter * 1.0 / (ca.n + cb.n - inter) >= 0.6
        |ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_semantic_decontaminate" ->
      """WITH comp AS (
        |  SELECT p, j + 1 AS j,
        |   CAST(CAST('0x' || substr(md5(p::VARCHAR || '_' || j::VARCHAR), 1, 15)
        |     AS BIGINT) % 2001 - 1000 AS DOUBLE) w
        |  FROM (SELECT unnest(range(4)) p) CROSS JOIN (SELECT unnest(range(64)) j)),
        |vx AS (SELECT vec_id, unnest(embedding) x,
        |        generate_subscripts(embedding, 1) j
        |       FROM embeddings),
        |dots AS (
        |  SELECT vx.vec_id, comp.p, SUM(CAST(vx.x AS DOUBLE) * comp.w) dp
        |  FROM vx JOIN comp ON vx.j = comp.j
        |  GROUP BY 1, 2),
        |bk AS (SELECT vec_id,
        |        SUM(CASE WHEN dp > 0 THEN CAST(2 ** p AS BIGINT) ELSE 0 END) bucket
        |       FROM dots GROUP BY 1),
        |p AS (SELECT c.vec_id, ec.embedding ev, b.vec_id bench_id,
        |        eb.embedding bv
        |      FROM bk c JOIN bk b ON c.bucket = b.bucket
        |        AND b.vec_id % 13 = 0 AND c.vec_id % 13 <> 0
        |      JOIN embeddings ec ON ec.vec_id = c.vec_id
        |      JOIN embeddings eb ON eb.vec_id = b.vec_id),
        |u AS (SELECT vec_id, bench_id, unnest(ev) x, unnest(bv) y FROM p),
        |d AS (SELECT vec_id, bench_id,
        |       SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) dot,
        |       sqrt(SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) na,
        |       sqrt(SUM(CAST(y AS DOUBLE) * CAST(y AS DOUBLE))) nb
        |      FROM u GROUP BY 1, 2)
        |SELECT vec_id, CAST(count(*) AS BIGINT) AS n_hits,
        |  ROUND(max(dot / (na * nb)), 4) AS max_cos,
        |  min(bench_id) AS first_bench
        |FROM d WHERE dot / (na * nb) >= 0.3
        |GROUP BY vec_id ORDER BY vec_id""".stripMargin,
    "dedup_embedding_lsh" ->
      """WITH comp AS (
        |  SELECT p, j + 1 AS j,
        |   CAST(CAST('0x' || substr(md5(p::VARCHAR || '_' || j::VARCHAR), 1, 15)
        |     AS BIGINT) % 2001 - 1000 AS DOUBLE) w
        |  FROM (SELECT unnest(range(4)) p) CROSS JOIN (SELECT unnest(range(64)) j)),
        |vx AS (SELECT vec_id, unnest(embedding) x,
        |        generate_subscripts(embedding, 1) j
        |       FROM embeddings),
        |dots AS (
        |  SELECT vx.vec_id, comp.p, SUM(CAST(vx.x AS DOUBLE) * comp.w) dp
        |  FROM vx JOIN comp ON vx.j = comp.j
        |  GROUP BY 1, 2),
        |bk AS (SELECT vec_id,
        |        SUM(CASE WHEN dp > 0 THEN CAST(2 ** p AS BIGINT) ELSE 0 END) bucket
        |       FROM dots GROUP BY 1),
        |p AS (SELECT a.vec_id va, ea.embedding ea, b.vec_id vb, eb.embedding eb
        |      FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        |      JOIN embeddings ea ON ea.vec_id = a.vec_id
        |      JOIN embeddings eb ON eb.vec_id = b.vec_id),
        |u AS (SELECT va, vb, unnest(ea) x, unnest(eb) y FROM p),
        |d AS (SELECT va, vb,
        |       SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) dot,
        |       sqrt(SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) na,
        |       sqrt(SUM(CAST(y AS DOUBLE) * CAST(y AS DOUBLE))) nb
        |      FROM u GROUP BY 1, 2)
        |SELECT va AS vec_a, vb AS vec_b, ROUND(dot / (na * nb), 4) AS cosine
        |FROM d WHERE dot / (na * nb) >= 0.45
        |ORDER BY vec_a, vec_b""".stripMargin,
    "dedup_embedding" ->
      """WITH p AS (SELECT a.vec_id va, a.embedding ea, b.vec_id vb, b.embedding eb
        |           FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id),
        |u AS (SELECT va, vb, unnest(ea) x, unnest(eb) y FROM p),
        |d AS (SELECT va, vb,
        |       SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) dot,
        |       sqrt(SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) na,
        |       sqrt(SUM(CAST(y AS DOUBLE) * CAST(y AS DOUBLE))) nb
        |      FROM u GROUP BY 1, 2)
        |SELECT va AS vec_a, vb AS vec_b, ROUND(dot / (na * nb), 4) AS cosine
        |FROM d WHERE dot / (na * nb) >= 0.45
        |ORDER BY vec_a, vec_b""".stripMargin,
    "dedup_incremental_semantic" ->
      """WITH cent AS (SELECT vec_id AS cent_id, embedding AS cvec
        |              FROM embeddings WHERE vec_id % 5 <> 0
        |              ORDER BY vec_id LIMIT 8),
        |old AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 <> 0),
        |newb AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 = 0),
        |pco AS (SELECT e.vec_id, c.cent_id, e.embedding ev, c.cvec
        |        FROM old e CROSS JOIN cent c),
        |puo AS (SELECT vec_id, cent_id, unnest(ev) x, unnest(cvec) y FROM pco),
        |pdo AS (SELECT vec_id, cent_id,
        |         SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) dot,
        |         sqrt(SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) na,
        |         sqrt(SUM(CAST(y AS DOUBLE) * CAST(y AS DOUBLE))) nb
        |        FROM puo GROUP BY 1, 2),
        |cells AS (SELECT vec_id, cent_id AS cell FROM (
        |           SELECT vec_id, cent_id, row_number() OVER (
        |             PARTITION BY vec_id ORDER BY dot / (na * nb) DESC,
        |             cent_id) crk FROM pdo) WHERE crk = 1),
        |pcn AS (SELECT e.vec_id, c.cent_id, e.embedding ev, c.cvec
        |        FROM newb e CROSS JOIN cent c),
        |pun AS (SELECT vec_id, cent_id, unnest(ev) x, unnest(cvec) y FROM pcn),
        |pdn AS (SELECT vec_id, cent_id,
        |         SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) dot,
        |         sqrt(SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) na,
        |         sqrt(SUM(CAST(y AS DOUBLE) * CAST(y AS DOUBLE))) nb
        |        FROM pun GROUP BY 1, 2),
        |probes AS (SELECT vec_id, cent_id AS probe FROM (
        |            SELECT vec_id, cent_id, row_number() OVER (
        |              PARTITION BY vec_id ORDER BY dot / (na * nb) DESC,
        |              cent_id) crk FROM pdn) WHERE crk <= 2),
        |pr AS (SELECT q.vec_id, x.vec_id old_id, qe.embedding ea,
        |              xe.embedding eb
        |       FROM probes q
        |       JOIN cells x ON q.probe = x.cell
        |       JOIN embeddings qe ON qe.vec_id = q.vec_id
        |       JOIN embeddings xe ON xe.vec_id = x.vec_id),
        |u2 AS (SELECT vec_id, old_id, unnest(ea) x, unnest(eb) y FROM pr),
        |d2 AS (SELECT vec_id, old_id,
        |        SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) dot,
        |        sqrt(SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) na,
        |        sqrt(SUM(CAST(y AS DOUBLE) * CAST(y AS DOUBLE))) nb
        |       FROM u2 GROUP BY 1, 2),
        |k AS (SELECT vec_id, MIN(old_id) keeper FROM d2
        |      WHERE dot / (na * nb) >= 0.45 GROUP BY 1)
        |SELECT n.vec_id, k.keeper IS NOT NULL AS is_dup, k.keeper,
        |  k.keeper IS NULL AS admitted
        |FROM newb n LEFT JOIN k ON k.vec_id = n.vec_id
        |ORDER BY n.vec_id""".stripMargin,
    "dedup_semantic" ->
      """WITH cent AS (SELECT vec_id AS cent_id, embedding AS cvec
        |              FROM embeddings WHERE vec_id < 8),
        |pc AS (SELECT e.vec_id, c.cent_id, e.embedding ev, c.cvec
        |       FROM embeddings e CROSS JOIN cent c),
        |pu AS (SELECT vec_id, cent_id, unnest(ev) x, unnest(cvec) y FROM pc),
        |pd AS (SELECT vec_id, cent_id,
        |        SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) dot,
        |        sqrt(SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) na,
        |        sqrt(SUM(CAST(y AS DOUBLE) * CAST(y AS DOUBLE))) nb
        |       FROM pu GROUP BY 1, 2),
        |rkd AS (SELECT vec_id, cent_id,
        |         row_number() OVER (PARTITION BY vec_id
        |           ORDER BY dot / (na * nb) DESC, cent_id) crk
        |        FROM pd),
        |cells AS (SELECT vec_id, cent_id AS cell FROM rkd WHERE crk = 1),
        |pr AS (SELECT a.vec_id, b.vec_id other, ae.embedding ea,
        |              be.embedding eb
        |       FROM cells a JOIN cells b
        |         ON a.cell = b.cell AND b.vec_id < a.vec_id
        |       JOIN embeddings ae ON ae.vec_id = a.vec_id
        |       JOIN embeddings be ON be.vec_id = b.vec_id),
        |u2 AS (SELECT vec_id, other, unnest(ea) x, unnest(eb) y FROM pr),
        |d2 AS (SELECT vec_id, other,
        |        SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) dot,
        |        sqrt(SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) na,
        |        sqrt(SUM(CAST(y AS DOUBLE) * CAST(y AS DOUBLE))) nb
        |       FROM u2 GROUP BY 1, 2),
        |k AS (SELECT vec_id, MIN(other) keeper FROM d2
        |      WHERE dot / (na * nb) >= 0.45 GROUP BY 1)
        |SELECT c.vec_id, c.cell, k.keeper IS NOT NULL AS is_dup, k.keeper
        |FROM cells c LEFT JOIN k ON k.vec_id = c.vec_id
        |ORDER BY c.vec_id""".stripMargin)

  // the salted variant emits the IDENTICAL pair set, so it shares the
  // dedup_semantic oracle verbatim — the driver hash-verifies that the
  // salting changed the distribution, never the answer
  val oracle: Map[String, String] =
    oracleBase + ("dedup_semantic_salted" -> oracleBase("dedup_semantic"))
}
