package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.Tables

/** Text-analysis operators for training-data pipelines (reference seeds:
  * word_stem WordStemFunction.java, levenshtein/jarowinkler
  * MAIN/operator/scalar/StringFunctions.java:760, ngrams
  * ArrayNgramsFunction.java — generalized to corpus-level column operators).
  *
  * Everything here is a narrow per-row projection over codegen'd built-ins
  * and higher-order functions: zero shuffles except the final deterministic
  * ORDER BY (and a lang-keyed groupBy for token totals). At 100 TB these run
  * at scan speed with full predicate/column pushdown into parquet.
  */
object TextAnalysis {

  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables(s, dir, n)

  private val stop: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it", "that", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "den"),
    "es" -> Seq("el", "la", "de", "los", "y", "que", "en", "un", "una", "por"),
    "fr" -> Seq("le", "la", "les", "et", "de", "un", "une", "est", "que", "pour"))

  private def hitRatio(words: Column, lang: String): Column = {
    val lst = array(stop(lang).map(lit): _*)
    size(filter(words, w => array_contains(lst, w))).cast("double") /
      size(words).cast("double")
  }

  /** Language identification: stopword-profile scores per candidate language
    * + a CJK charset ratio; argmax with deterministic ties (scored language
    * order). A real pipeline swaps the word lists for char-n-gram profiles —
    * the operator shape (per-row scoring, no shuffle) is identical. */
  def langId(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
      .withColumn("words", split(lower(col("text")), " "))
      .withColumn("s_en", hitRatio(col("words"), "en"))
      .withColumn("s_de", hitRatio(col("words"), "de"))
      .withColumn("s_es", hitRatio(col("words"), "es"))
      .withColumn("s_fr", hitRatio(col("words"), "fr"))
      .withColumn("cjk_ratio",
        length(regexp_replace(col("text"), "[\\x00-\\x7F]", "")).cast("double") /
          length(col("text")).cast("double"))
    d.select(
      col("doc_id"),
      when(col("cjk_ratio") > 0.3, lit("zh"))
        .when(col("s_en") >= col("s_de") && col("s_en") >= col("s_es") &&
          col("s_en") >= col("s_fr"), lit("en"))
        .when(col("s_de") >= col("s_es") && col("s_de") >= col("s_fr"), lit("de"))
        .when(col("s_es") >= col("s_fr"), lit("es"))
        .otherwise(lit("fr")).as("predicted_lang"),
      round(col("s_en"), 4).as("s_en"), round(col("s_de"), 4).as("s_de"),
      round(col("s_es"), 4).as("s_es"), round(col("s_fr"), 4).as("s_fr"),
      round(col("cjk_ratio"), 4).as("cjk_ratio"))
      .orderBy("doc_id")
  }

  /** Quality scoring: length / punctuation / stopword / word-length features
    * combined into a bounded [0,1] score — the standard pre-training corpus
    * filter shape (each feature and the blend are plain codegen'd math). */
  def quality(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
      .withColumn("words", split(col("text"), " "))
      .withColumn("n_words", size(col("words")).cast("long"))
      .withColumn("n_chars_c", length(col("text")).cast("long"))
      .withColumn("stop_ratio", hitRatio(col("words"), "en"))
      .withColumn("punct_ratio",
        length(regexp_replace(col("text"), "[A-Za-z0-9\\s]", "")).cast("double") /
          length(col("text")).cast("double"))
      .withColumn("avg_word_len",
        (col("n_chars_c") - col("n_words") + 1).cast("double") /
          col("n_words").cast("double"))
    d.select(
      col("doc_id"), col("n_words"), round(col("avg_word_len"), 4).as("avg_word_len"),
      round(col("stop_ratio"), 4).as("stop_ratio"),
      round(col("punct_ratio"), 4).as("punct_ratio"),
      round(
        least(lit(1.0), col("n_words").cast("double") / 120.0) * 0.4
          + least(lit(1.0), col("stop_ratio") * 5.0) * 0.3
          + (lit(1.0) - least(lit(1.0), col("punct_ratio") * 10.0)) * 0.3,
        4).as("quality"))
      .orderBy("doc_id")
  }

  /** Gopher quality-rule battery (Rae et al. 2021 appendix A1.1 — the
    * non-repetition document filters; the repetition family lives in
    * [[repetition]]): word-count bounds [50, 100k], mean word length
    * [3, 10], symbol-to-word ratio (# and ellipses) < 0.1, <=90 % of
    * lines starting with a bullet, <=30 % ending with an ellipsis,
    * >=80 % of words containing an alphabetic character, and >=2 of the
    * paper's required stop words present. Pure per-row codegen'd math —
    * scan speed at 100 TB, no shuffle except the deterministic output
    * sort. The fixture corpus is single-line so the line rules evaluate
    * over one line per doc; the expressions are written against '\n'
    * exactly as a crawl run needs. */
  def gopherQuality(s: SparkSession, dir: String): DataFrame = {
    val reqStops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val stopArr = reqStops.map(w => s"'$w'").mkString("array(", ", ", ")")
    val d = t(s, dir, "documents")
      .withColumn("w", split(col("text"), " "))
      .withColumn("lines", split(col("text"), "\n"))
      .withColumn("n_words", size(col("w")).cast("long"))
      .withColumn("mean_word_len",
        expr("aggregate(w, 0L, (a, x) -> a + length(x))").cast("double") /
          col("n_words"))
      .withColumn("symbol_ratio",
        ((length(col("text")) - length(expr("replace(text, '#', '')"))) +
          (length(col("text")) - length(expr("replace(text, '...', '')"))) / 3 +
          (length(col("text")) - length(expr("replace(text, '…', '')"))))
          .cast("double") / col("n_words"))
      .withColumn("bullet_frac",
        expr("size(filter(lines, l -> startswith(ltrim(l), '-') " +
          "OR startswith(ltrim(l), '*') OR startswith(ltrim(l), '•')))")
          .cast("double") / size(col("lines")))
      .withColumn("ellipsis_frac",
        expr("size(filter(lines, l -> endswith(rtrim(l), '...') " +
          "OR endswith(rtrim(l), '…')))")
          .cast("double") / size(col("lines")))
      .withColumn("alpha_frac",
        expr("size(filter(w, x -> x rlike '[A-Za-z]'))").cast("double") /
          col("n_words"))
      .withColumn("stop_hits",
        expr(s"size(filter($stopArr, st -> array_contains(w, st)))").cast("long"))
    d.select(
      col("doc_id"), col("n_words"),
      round(col("mean_word_len"), 4).as("mean_word_len"),
      round(col("symbol_ratio"), 4).as("symbol_ratio"),
      round(col("bullet_frac"), 4).as("bullet_frac"),
      round(col("ellipsis_frac"), 4).as("ellipsis_frac"),
      round(col("alpha_frac"), 4).as("alpha_frac"),
      col("stop_hits"),
      (col("n_words").between(50, 100000) &&
        col("mean_word_len").between(3.0, 10.0) &&
        col("symbol_ratio") < 0.1 &&
        col("bullet_frac") <= 0.9 &&
        col("ellipsis_frac") <= 0.3 &&
        col("alpha_frac") >= 0.8 &&
        col("stop_hits") >= 2).cast("long").as("keep"))
      .orderBy("doc_id")
  }

  /** Hashed bag-of-words text classifier (the fastText-shaped quality /
    * language classifier every corpus pipeline trains: features are
    * hash-bucketed unigrams, the model is one count table): TRAIN = two
    * count aggregates over the corpus — c(lang, bucket) and c(lang) with
    * 512 md5 buckets; APPLY = per-token add-one-smoothed scaled
    * likelihood (c_lb + 1) * 1e9 // (c_l + 512) summed per (doc, lang),
    * argmax with deterministic score-desc/lang-asc ties. Integer
    * arithmetic end-to-end (the [[lmScore]] trick) so any engine replays
    * the exact scores. Scale shape (r13 rewrite): train from ONE
    * collected (lang, bucket) count grid; the exploded token stream
    * joins straight against the 512-row broadcast pivoted term table and
    * collapses to one partial-agg row per (doc_id, lang) before the only
    * exchange — no (doc, bucket) intermediate aggregate, no doc-keyed
    * label join, no per-doc window, no driver-side training loop. */
  def hashedClassifier(s: SparkSession, dir: String): DataFrame =
    classifierScores(t(s, dir, "documents"), "text")

  /** Train-and-score over any (doc_id, lang, <textCol>) frame — the
    * reusable core of [[hashedClassifier]], also the language-consistency
    * filter stage of [[pipeline3]]. */
  def classifierScores(docs: DataFrame, textCol: String): DataFrame = {
    val B = 512
    val toks = docs
      .select(col("doc_id"), col("lang"),
        explode(split(col(textCol), " ")).as("word"))
      .filter(col("word") =!= "")
      .withColumn("bucket",
        expr(s"CAST(conv(substring(md5(word), 1, 6), 16, 10) AS BIGINT) % $B"))
    // ONE training pass: the (class, bucket) count grid IS the whole
    // model (≤ |classes| × B rows) — collect it and derive both the
    // per-class totals and the pivoted per-bucket term table from it on
    // the driver, instead of re-scanning the token stream once per
    // consumer (r13: was 2 corpus passes for training, now 1).
    val grid = toks.groupBy("lang", "bucket").agg(count(lit(1)).as("c_lb"))
      .orderBy("lang").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val langs = grid.map(_._1).distinct
    val total = grid.groupMapReduce(_._1)(_._3)(_ + _)
    val counts = grid.map { case (l, b, c) => (l, b) -> c }.toMap
    // model body PIVOTED: one row per bucket with the per-class add-one
    // smoothed term (c_lb + 1) * 1e9 DIV (c_l + B), so an unseen
    // (class, bucket) pair gets 1e9 DIV (c_l + B) — the scorer joins the
    // corpus ONCE against this B-row broadcast instead of fanning every
    // (doc, bucket) out by |classes| (the crossJoin formulation measured
    // 12 s at 100k docs; this shape 5× fewer rows, no per-doc window)
    val terms = (0L until B).map { b =>
      Row.fromSeq(b +: langs.map { l =>
        Math.multiplyExact(counts.getOrElse((l, b), 0L) + 1, 1000000000L) /
          (total(l) + B)
      }.toSeq)
    }
    val bucketTerms = docs.sparkSession.createDataFrame(
      java.util.Arrays.asList(terms: _*), StructType(
        StructField("bucket", LongType) +:
          langs.indices.map(i => StructField(s"t$i", LongType))))
    // scoring: tokens flow straight into the broadcast model join and
    // collapse to ONE partial-agg row per document before the only
    // exchange — Σ_tokens t_i ≡ Σ_buckets m·t_i exactly (integer terms),
    // so scores are bit-identical to the previous (doc, bucket) shape,
    // which exchanged every distinct (doc, bucket) pair (measured 194 M
    // records / 2.6 GiB at 5 M docs) and then joined docs back on for
    // the label (a second fact-sized sort-merge join). Grouping on
    // (doc_id, lang) — lang is functionally dependent on doc_id — keeps
    // the label in the aggregate and removes that join outright.
    val scoreCols = langs.indices.map(i => sum(col(s"t$i")).as(s"s$i"))
    val scored = toks.join(broadcast(bucketTerms), Seq("bucket"))
      .groupBy("doc_id", "lang").agg(scoreCols.head, scoreCols.tail: _*)
    // argmax, ties to the lexicographically first class (same contract as
    // the previous row_number(score DESC, lang ASC) formulation)
    val (predCol, bestCol) = langs.indices.tail.foldLeft(
      (lit(langs(0)), col("s0"))) { case ((p, b), i) =>
      (when(col(s"s$i") > b, lit(langs(i))).otherwise(p),
        when(col(s"s$i") > b, col(s"s$i")).otherwise(b))
    }
    scored.select(col("doc_id"), col("lang").as("actual_lang"),
        predCol.as("pred_lang"), bestCol.as("score"))
      .orderBy("doc_id")
  }

  /** Curation pipeline v3 — the round's NEW stages composed the way a
    * FineWeb-style corpus run chains them: Gopher-shape quality FILTER
    * (word-count / mean-word-length / alphabetic-ratio bounds + the en
    * stop list, since the paper's required-stop set is disjoint from the
    * fixture vocabulary) → C4 duplicate-SPAN REMOVAL among the survivors
    * (the gram universe legitimately changes with the filter — dedup
    * runs on what survived, not the raw corpus) → language-consistency
    * CLASSIFIER filter on the REWRITTEN text (train + score + keep
    * pred == label) → sequence PACKING of survivors into ~2048-token
    * shards per source. One DuckDB oracle replays all four stages,
    * verifying the inter-stage contracts. Shuffle shape: per-row filter,
    * one gram-keyed exchange (shared by the first-occurrence aggregate
    * and its join), one broadcastable model, one source-keyed window —
    * nothing quadratic, nothing driver-side but the model's
    * ≤ |classes| × 512-row count grid. */
  def pipeline3(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stopArr = stop("en").map(w => s"'$w'").mkString("array(", ", ", ")")
    val d0 = t(s, dir, "documents")
      .withColumn("w", split(col("text"), " "))
      .withColumn("nw", size(col("w")).cast("long"))
    val gf = d0.filter(
      col("nw").between(50, 100000) &&
        (expr("aggregate(w, 0L, (a, x) -> a + length(x))").cast("double") /
          col("nw")).between(3.0, 10.0) &&
        (expr("size(filter(w, x -> x rlike '[A-Za-z]'))").cast("double") /
          col("nw") >= 0.8) &&
        expr(s"size(filter($stopArr, st -> array_contains(w, st)))") >= 2)
      .select(col("doc_id"), col("lang"), col("source"), col("w"), col("nw"))
    // C4 span removal among the filter's survivors: the same removal
    // set and reassembly as Dedup.spanDedup
    val r2 = Dedup.withRemovedSpans(gf, 3)
      .select(col("doc_id"), col("lang"), col("source"),
        Dedup.survivingText.as("new_text"))
    val scored = classifierScores(r2, "new_text")
    val kept = r2.join(
      scored.filter(col("pred_lang") === col("actual_lang"))
        .select("doc_id"), "doc_id")
    val wsrc = Window.partitionBy("source").orderBy("doc_id")
    kept
      .withColumn("tok", size(split(col("new_text"), " ")).cast("long"))
      .withColumn("cum", sum(col("tok")).over(wsrc))
      .withColumn("shard",
        floor((col("cum") - col("tok")).cast("double") / 2048).cast("long"))
      .groupBy(col("source"), col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("tokens"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy("source", "shard")
  }

  /** Token counting per language: whitespace tokens, BPE-ish regex tokens
    * (letter runs / digit runs / single punctuation), and a chars/4 subword
    * estimate — the three standard budget estimators, aggregated per lang
    * (one shuffle on the 5-value lang key with map-side partials). */
  def tokenCount(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .withColumn("ws_tokens", size(split(trim(col("text")), "\\s+")).cast("long"))
      .withColumn("bpe_tokens",
        expr("CAST(size(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\\\s]', 0)) AS BIGINT)"))
      .withColumn("subword_est", ceil(length(col("text")).cast("double") / 4.0).cast("long"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("ws_tokens").as("ws_tokens"),
        sum("bpe_tokens").as("bpe_tokens"),
        sum("subword_est").as("subword_est"))
      .orderBy("lang")

  /** Document fingerprinting: polynomial rolling hash over the word stream,
    * fp = fold(acc*31 + md5₂₄(word)) mod 1e9+7 — order-sensitive (unlike the
    * minhash set signature) so reorderings fingerprint differently. Collision
    * groups would join on fp exactly like Dedup.exact's md5 groups. */
  def fingerprint(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .withColumn("words", split(col("text"), " "))
      .withColumn("fp", expr(
        """aggregate(words, 0L, (acc, w) ->
          |  (acc * 31 + cast(conv(substring(md5(w), 1, 6), 16, 10) AS BIGINT)
          |   % 1000000007) % 1000000007)""".stripMargin))
      .select(col("doc_id"), col("fp"))
      .orderBy("doc_id")

  /** Stem-frequency profile: Porter-stem every word (custom WordStem
    * expression — the reference's word_stem, WordStemFunction.java), top-5
    * stems per language. Rows-only gate (the oracle engine has no stemmer
    * offline); PorterStemmer itself is verified against the published
    * algorithm's sample vocabulary in FunctionsSpec. */
  def stems(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("lang").orderBy(desc("cnt"), asc("stem"))
    t(s, dir, "documents")
      .select(col("lang"), explode(split(lower(col("text")), "[^a-z]+")).as("word"))
      .filter(length(col("word")) > 3)
      .select(col("lang"), graft.functions.GraftFunctions.wordStem(col("word")).as("stem"))
      .groupBy("lang", "stem").agg(count(lit(1)).as("cnt"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("lang"), col("rk").cast("long").as("rk"), col("stem"), col("cnt"))
      .orderBy("lang", "rk")
  }

  /** The full pre-training corpus pipeline as ONE declarative query —
    * quality filter → language filter → exact dedup → per-source token
    * budget. Every stage reuses an already-gated kernel; end-to-end it is
    * the shape a 100 TB corpus build runs: three narrow per-row stages
    * (no shuffle), one hash-partitioned dedup, one small aggregation.
    * Catalyst pipelines the per-row stages into a single codegen pass. */
  def pipeline(s: SparkSession, dir: String): DataFrame = {
    val scored = t(s, dir, "documents")
      .withColumn("words", split(col("text"), " "))
      .withColumn("nw", size(col("words")).cast("long"))
      .withColumn("stopr", hitRatio(col("words"), "en"))
      .withColumn("punct",
        length(regexp_replace(col("text"), "[A-Za-z0-9\\s]", "")).cast("double") /
          length(col("text")).cast("double"))
      .withColumn("quality", round(
        least(lit(1.0), col("nw").cast("double") / 120.0) * 0.4
          + least(lit(1.0), col("stopr") * 5.0) * 0.3
          + (lit(1.0) - least(lit(1.0), col("punct") * 10.0)) * 0.3, 4))
      .filter(col("quality") >= 0.5)
    val lang = scored
      .withColumn("wl", split(lower(col("text")), " "))
      .withColumn("s_en", hitRatio(col("wl"), "en"))
      .withColumn("s_de", hitRatio(col("wl"), "de"))
      .withColumn("s_es", hitRatio(col("wl"), "es"))
      .withColumn("s_fr", hitRatio(col("wl"), "fr"))
      .withColumn("cjk",
        length(regexp_replace(col("text"), "[\\x00-\\x7F]", "")).cast("double") /
          length(col("text")).cast("double"))
      .filter(!(col("cjk") > 0.3) &&
        col("s_en") >= col("s_de") && col("s_en") >= col("s_es") &&
        col("s_en") >= col("s_fr"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(md5(col("text")))
    lang
      .withColumn("keep_id", min(col("doc_id")).over(w))
      .filter(col("doc_id") === col("keep_id"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(trim(col("text")), "\\s+")).cast("long")).as("ws_tokens"),
        round(Tables.dsum(col("quality")) / count(lit(1)), 4).as("avg_quality"))
      .orderBy("source")
  }

  /** PII scrubbing: regex redaction of emails, E.164-ish phone numbers and
    * IPv4 addresses into typed placeholder tokens — the standard
    * pre-training privacy pass. A chain of codegen'd regexp_replace
    * projections: per-row, zero shuffle, runs at scan speed at any scale.
    * Patterns are ordered (emails before phones) so a match is consumed by
    * the most specific category, same as the published CCNet/Dolma
    * pipelines. The fixture corpus has no real PII, so the gate plants
    * synthetic PII deterministically, then proves the scrub removes it. */
  def piiScrub(s: SparkSession, dir: String): DataFrame = {
    val planted = t(s, dir, "documents")
      .withColumn("dirty", concat(
        col("text"), lit(" contact user"), col("doc_id"),
        lit("@example.com or +1-555-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" at 10."), (col("doc_id") % 256).cast("string"), lit(".0.1")))
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phone = "\\+?[0-9][0-9()\\-\\s]{6,}[0-9]"
    val ip = "([0-9]{1,3}\\.){3}[0-9]{1,3}"
    val scrubbed = regexp_replace(
      regexp_replace(
        regexp_replace(col("dirty"), email, "<EMAIL>"),
        ip, "<IP>"),
      phone, "<PHONE>")
    planted.select(
      col("doc_id"),
      scrubbed.as("clean"),
      (scrubbed.contains("<EMAIL>") && scrubbed.contains("<PHONE>") &&
        scrubbed.contains("<IP>")).as("all_redacted"),
      (!scrubbed.rlike(email) && !scrubbed.rlike(ip)).as("no_residual"))
      .orderBy("doc_id")
  }

  /** Deterministic stratified sampling: per-language target rates applied
    * via a content-hash threshold — the language-balancing step of a
    * training-data mix. Hash-gating (md5 of doc_id) makes the sample
    * reproducible run-to-run and engine-independent (the oracle replays
    * the same arithmetic), and it needs no shuffle at all: the filter
    * pushes to the scan, unlike sort-based or reservoir sampling. */
  def stratifiedSample(s: SparkSession, dir: String): DataFrame = {
    val rates: Map[String, Int] = // percent kept per language
      Map("en" -> 25, "de" -> 50, "es" -> 75, "fr" -> 100, "ja" -> 100)
    val bucket = pmod(conv(substring(
      md5(concat(lit("strat_"), col("doc_id").cast("string"))), 1, 15), 16, 10)
      .cast("long"), lit(100))
    val rate = rates.foldLeft(lit(0)) { case (acc, (l, r)) =>
      when(col("lang") === l, lit(r)).otherwise(acc)
    }
    t(s, dir, "documents")
      .filter(bucket < rate)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("kept"))
      .orderBy("lang")
  }

  /** Gopher-style repetition filters (Rae et al. 2021 §A1.1, the standard
    * repetition rules every pre-training corpus applies): per-document
    * repeated-word fraction plus the occupancy of the single most frequent
    * word bigram / trigram. Everything is per-row (zero shuffle before the
    * deterministic ORDER BY): the top-n-gram count of one document equals
    * the LONGEST RUN in its sorted gram array — array_sort + one linear
    * fold, O(n log n) per row — so the former explode → (doc, gram)
    * exchange → per-doc aggregate → join (two shuffles of 2×corpus-token
    * rows plus a doc-keyed join) is gone entirely (r13; counts, and so
    * every emitted fraction, are bit-identical). */
  def repetition(s: SparkSession, dir: String): DataFrame = {
    // longest equal-run in the sorted gram array == max occurrence count
    // of any gram; state = (prev value, current run, best run)
    def topRun(gramsArr: String): Column = expr(
      s"""aggregate(array_sort($gramsArr),
         |  named_struct('prev', CAST(NULL AS STRING), 'run', 0L, 'best', 0L),
         |  (s, x) -> named_struct(
         |    'prev', x,
         |    'run',  IF(x <=> s.prev, s.run + 1L, 1L),
         |    'best', greatest(s.best, IF(x <=> s.prev, s.run + 1L, 1L))),
         |  s -> s.best)""".stripMargin)
    t(s, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .withColumn("nw", size(col("w")).cast("long"))
      .filter(col("nw") >= 3)
      .withColumn("bg",
        expr("transform(sequence(0, int(nw) - 2), i -> concat(w[i], ' ', w[i+1]))"))
      .withColumn("tg",
        expr("transform(sequence(0, int(nw) - 3), " +
          "i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))"))
      .select(col("doc_id"), col("nw"),
        round(lit(1.0) -
          size(array_distinct(col("w"))).cast("double") / col("nw"), 4)
          .as("rep_word_frac"),
        round(topRun("bg").cast("double") / (col("nw") - 1), 4)
          .as("top_bigram_frac"),
        round(topRun("tg").cast("double") / (col("nw") - 2), 4)
          .as("top_trigram_frac"))
      .orderBy("doc_id")
  }

  /** Document chunking for context-window prep: fixed 200-char windows on
    * a 150-char stride (25% overlap), one output row per chunk. Pure
    * per-row explode of a computed start sequence — no shuffle, parallel
    * across documents, exactly how a 100 TB corpus is chunked (a 1 GB
    * document becomes ~7M rows on its own partition chain, never
    * driver-side). */
  def chunk(s: SparkSession, dir: String): DataFrame = {
    val win = 200; val stride = 150
    t(s, dir, "documents").filter(col("doc_id") < 100)
      .select(col("doc_id"), col("text"),
        explode(expr(s"sequence(0, CAST((length(text) - 1) DIV $stride AS INT))"))
          .as("i"))
      .select(col("doc_id"), col("i").cast("long").as("chunk_id"),
        expr(s"substring(text, i * $stride + 1, $win)").as("chunk"))
      .withColumn("chunk_len", length(col("chunk")).cast("long"))
      .orderBy("doc_id", "chunk_id")
  }

  /** Sequence packing: assign documents (in stable doc_id order within
    * each source) to ~2048-token training shards by cumulative-sum
    * bucketing — shard = floor(tokens-before-this-doc / budget), the
    * contiguous first-fit pack every LLM data loader uses. One window
    * cumsum partitioned by source (sources shard independently at scale),
    * one small aggregation; deterministic run-to-run because the pack
    * order is the stored doc_id order, not arrival order. */
  def pack(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val budget = 2048
    val w = Window.partitionBy("source").orderBy("doc_id")
    t(s, dir, "documents")
      .withColumn("tok", size(split(trim(col("text")), "\\s+")).cast("long"))
      .withColumn("cum", sum(col("tok")).over(w))
      .withColumn("shard", floor((col("cum") - col("tok"))
        .cast("double") / budget).cast("long"))
      .groupBy(col("source"), col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("tokens"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy("source", "shard")
  }

  /** Benchmark decontamination — the train/test-overlap scrub every
    * pre-training corpus runs (the 13-gram collision rule popularized by
    * the GPT-3 appendix; 5-word grams here to fit the fixture's short
    * docs): flag every corpus document sharing a word n-gram with any
    * held-out benchmark document. Shuffle shape at 100 TB: the BENCHMARK
    * side is always tiny relative to the corpus (an eval set, not a
    * crawl), so its distinct grams BROADCAST and the corpus side stays a
    * single narrow map — no corpus-wide shuffle at all; the corpus gram
    * explode is linear in corpus tokens. A doc never contaminates itself
    * (bench docs legitimately appear in both roles here). */
  def decontaminate(s: SparkSession, dir: String): DataFrame = {
    val n = 5
    def grams(df: DataFrame): DataFrame = df
      .withColumn("w", split(col("text"), " "))
      .filter(size(col("w")) >= n)
      .select(col("doc_id"), explode(array_distinct(transform(
        sequence(lit(0), size(col("w")) - n),
        i => concat_ws(" ", slice(col("w"), i + lit(1), lit(n)))))).as("g"))
    val docs = t(s, dir, "documents").select("doc_id", "text")
    val bench = docs.filter(col("doc_id") % 97 === 0) // held-out eval slice
    val benchGrams = grams(bench)
      .select(col("g"), col("doc_id").as("bench_id"))
    val hits = grams(docs)
      .join(broadcast(benchGrams), Seq("g"))
      .filter(col("doc_id") =!= col("bench_id"))
      .groupBy("doc_id")
      .agg(countDistinct(col("g")).as("n_shared"),
        min(col("bench_id")).as("first_bench_hit"))
    docs.select("doc_id").join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        col("first_bench_hit"),
        col("n_shared").isNotNull.as("contaminated"))
      .orderBy("doc_id")
  }

  /** Vocabulary induction — the word-frequency pass every tokenizer
    * build (BPE/WordPiece) starts from: lowercase, split on
    * non-alphanumeric runs, count corpus-wide, keep the top 200 by
    * (count desc, word). One explode + one hash aggregation; at 100 TB
    * the map-side partial combine collapses each partition to its
    * distinct words before the shuffle, and only the global top-K
    * reaches the driver. */
  /** Domain-mixture resampling — the "data mixing" stage of a pre-training
    * pipeline (the Pile / Dolma / DoReMi mixture tables): given target
    * WEIGHTS per domain and an output BUDGET (fraction of the corpus),
    * each domain's keep-rate is weight_d × budget × N / n_d capped at 1,
    * and rows keep deterministically when the first 8 hex chars of
    * md5(salt ‖ id) fall under the rate's 32-bit threshold — seedless,
    * rerunnable, partition-order-independent.
    *
    * Scale shape: the per-domain counts are a TINY rollup (one row per
    * domain) collected to the driver — the only collect, over #domains
    * rows — folded back in as literal thresholds; the sampling pass is a
    * narrow codegen'd projection, so at 100 TB this runs at scan speed
    * with zero extra shuffles. */
  def mixtureSample(docs: DataFrame, domainCol: String, idCol: String,
      weights: Map[String, Double], budget: Double,
      salt: String = "mix_"): DataFrame = {
    val counts = docs.groupBy(domainCol).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = counts.values.sum.toDouble
    // per-domain keep-rate, then its 32-bit hash threshold as 8 hex chars
    // (lexicographic compare on fixed-width lowercase hex == numeric)
    val thresholds: Map[String, (Double, String)] = counts.map {
      case (d, n) =>
        val rate = math.min(1.0,
          weights.getOrElse(d, 0.0) * budget * total / n)
        val thr = "%08x".format(
          math.floor(rate * 4294967296.0).toLong.min(0xffffffffL))
        d -> (rate, thr)
    }
    val hex8 = substring(
      md5(concat(lit(salt), col(idCol).cast("string"))), 1, 8)
    val keepAll = thresholds.filter(_._2._1 >= 1.0).keys.toSeq
    val thrCol = thresholds.foldLeft(lit("00000000")) {
      case (acc, (d, (_, thr))) =>
        when(col(domainCol) === d, lit(thr)).otherwise(acc)
    }
    docs.filter(col(domainCol).isin(keepAll: _*) || hex8 < thrCol)
  }

  private def mixture(s: SparkSession, dir: String): DataFrame =
    mixtureSample(t(s, dir, "documents"), "source", "doc_id",
      Map("src0" -> 0.3, "src1" -> 0.2, "src2" -> 0.2,
        "src3" -> 0.1, "src4" -> 0.1, "src5" -> 0.1),
      budget = 0.3)
      .select("doc_id", "source").orderBy("doc_id")

  /** Statistical LM quality scoring (the CCNet/KenLM filtering stage of
    * a pre-training pipeline, reduced to the add-one-smoothed word
    * BIGRAM model both engines can replay exactly): train bigram/unigram
    * counts over the corpus (two aggregates), then score every document
    * by its MEAN bigram probability P(w2|w1) = (c(w1,w2)+1)/(c(w1·)+V).
    * Probabilities, not log-probs: the mean of exact-decimal-cast ratios
    * is order-independent and engine-portable, where a libm log would
    * risk cross-engine ULP drift. Typical text scores high, gibberish
    * scores near 1/V — same decision boundary as the log form.
    *
    * Contract: the model is trained on `docs` and scores `docs` — the
    * training corpus IS the scoring corpus by construction (one
    * argument), so every scored bigram is in the model and the scoring
    * join can be an inner join. To score other documents against a
    * fixed model, restore the smoothing left join (c = 0 for an unseen
    * bigram) first.
    *
    * Scale shape: the model is two count aggregates; scoring is one
    * bigram explode + one hash join against the model + a per-doc exact
    * decimal mean. Everything shuffles on hash keys; nothing is
    * quadratic and nothing collects. */
  def lmScore(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // adjacent-word pairs come straight off each row's word array (a
    // codegen'd transform + explode) — the former lead()-window
    // formulation exchanged and sorted the ENTIRE token stream by doc
    // just to pair neighbours that were already adjacent in the row
    // (r13: one full shuffle + sort removed; pair order per doc and all
    // counts are identical)
    val wordsArr = docs.select(col(idCol),
      expr(s"filter(split(lower($textCol), '[^a-z0-9]+'), x -> x != '')")
        .as("ws"))
    val words = wordsArr.select(col(idCol), explode(col("ws")).as("w"))
    val bigrams = wordsArr
      .filter(size(col("ws")) >= 2)
      .select(col(idCol), explode(expr(
        "transform(sequence(1, size(ws) - 1), " +
          "i -> struct(ws[i - 1] AS w1, ws[i] AS w2))")).as("bg"))
      .select(col(idCol), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    // the bigram count table is consumed twice — as the scoring join side
    // and re-aggregated into the head counts c(w1·) = Σ_w2 c(w1,w2). The
    // join side carries a not-null filter on w2 that the head side lacks,
    // so the two share no exchange and the count runs once per consumer.
    val model = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("c"))
    val heads = model.groupBy(col("w1").as("hw"))
      .agg(sum(col("c")).as("cw"))
    // head counts attach to the MODEL rows (a model-sized join), so the
    // scoring side joins the bigram stream ONCE — the former
    // model-then-heads pair exchanged the full stream twice, by (w1, w2)
    // and again by w1 (r14, guide §2.4). Scoring runs over the SAME
    // corpus the model was trained on, so every scored bigram is in the
    // model (c >= 1) and every w1 has a head row: the inner join below
    // keeps exactly the rows the old left-join + coalesce(c, 0) kept.
    val modelH = model.join(heads, col("w1") === col("hw"))
      .select(col("w1"), col("w2"), col("c"), col("cw"))
    val v = words.select(countDistinct(col("w")).as("v"))
    bigrams
      .join(modelH, Seq("w1", "w2"))
      .crossJoin(broadcast(v))
      // probability scaled to an exact ×1e9 integer (floor division):
      // integer sums are order-independent and engine-exact, where a
      // per-element double→decimal cast drifts by an ULP across engines
      .select(col(idCol), expr(
        "((c + 1L) * 1000000000L) div (cw + v)").as("p9"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"),
        (sum(col("p9")).cast("double") / count(lit(1)).cast("double") /
          lit(1000000000.0)).as("avg_p"))
  }

  private def lmScoreGate(s: SparkSession, dir: String): DataFrame =
    lmScore(t(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")

  /** Stage-composed curation pipeline v2 — the r11 operators end-to-end,
    * the way a real corpus run chains them: (1) LM-quality FILTER
    * (lmScore, keep avg_p ≥ τ), (2) domain-mixture RESAMPLE
    * (mixtureSample, uniform weights over src0-9, half budget),
    * (3) TOKENIZE the survivors (wordpiece_encode), reporting per-source
    * doc and token counts. Every stage is individually oracle-gated; the
    * composed oracle replays all three in one DuckDB query, so the
    * inter-stage contracts (what feeds what) are verified too. */
  def pipeline2(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val kept = docs.join(
      lmScore(docs, "doc_id", "text")
        .where(col("avg_p") >= lit(0.0345)).select("doc_id"),
      "doc_id")
    val sampled = mixtureSample(kept, "source", "doc_id",
      (0 to 9).map(i => s"src$i" -> 0.1).toMap, budget = 0.5,
      salt = "mix2_")
    val toks = graft.functions.GraftFunctions.wordpieceEncode(
      substring(lower(col("text")), 1, 80),
      array(wpVocab.map(lit): _*))
    sampled.select(col("source"), size(toks).cast("long").as("nt"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
      .orderBy("source")
  }

  /** Distributed BPE merge learning (Sennrich et al. 2016 — the
    * byte-pair-encoding vocabulary induction every modern tokenizer
    * trains with; pairs with bpe_encode for application). The classic
    * reduction: iterations run over the DISTINCT-WORD table with counts
    * (one corpus aggregate up front), not the corpus — at 100 TB the
    * corpus is touched once, and each merge iteration is one shuffle
    * over the (small) word vocabulary: explode adjacent symbol pairs →
    * weighted count → top-1 (ties break lexicographically) → a narrow
    * HOF rewrite of the symbol arrays. Lineage cuts via localCheckpoint
    * every 8 iterations keep long learning loops planless.
    *
    * Returns (rank, left, right, merged, freq) — rank 1 = first merge. */
  def bpeLearn(docs: DataFrame, textCol: String, nMerges: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    var words = docs
      .select(explode(split(lower(col(textCol)), "[^a-z0-9]+")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(split(col("w"), "").as("sym"), col("freq"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var rank = 1
    var continue = true
    while (rank <= nMerges && continue) {
      val top = words
        .select(posexplode(col("sym")).as(Seq("p", "a")), col("sym"), col("freq"))
        .filter(col("p") < size(col("sym")) - 1)
        .select(col("a"), element_at(col("sym"), col("p") + 2).as("b"),
          col("freq"))
        .groupBy("a", "b").agg(sum("freq").as("f"))
        .orderBy(desc("f"), asc("a"), asc("b"))
        .limit(1).collect()
      if (top.isEmpty) continue = false
      else {
        val (a, b, f) = (top.head.getString(0), top.head.getString(1),
          top.head.getLong(2))
        merges += ((rank, a, b, f))
        // leftmost-first adjacent merge as a pure fold — no UDF
        val merged = lit(a + b)
        words = words.select(
          aggregate(col("sym"),
            lit(Array.empty[String]),
            (acc, x) => when(
              size(acc) > 0 && element_at(acc, -1) === lit(a) && x === lit(b),
              concat(slice(acc, lit(1), size(acc) - 1), array(merged)))
              .otherwise(concat(acc, array(x)))).as("sym"),
          col("freq"))
        if (rank % 8 == 0) words = words.localCheckpoint()
        rank += 1
      }
    }
    merges.toSeq.toDF("rank", "left", "right", "freq")
      .select(col("rank"), col("left"), col("right"),
        concat(col("left"), col("right")).as("merged"), col("freq"))
      .orderBy("rank")
  }

  /** Learn 24 merges over the documents corpus, then encode a slice with
    * the exact rank-ordered BPE (functions/BpeEncode.scala) — learn +
    * apply end-to-end. No SQL oracle (global-argmax iterations are not
    * expressible in one query); pinned by BpeSpec's hand-computed
    * corpus and the losslessness invariant. */
  def bpeGate(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val m = bpeLearn(docs, "text", 24)
    val mergeLits = m.orderBy("rank").collect()
      .map(r => r.getString(1) + " " + r.getString(2))
    val toks = graft.functions.GraftFunctions.bpeEncode(
      substring(lower(col("text")), 1, 80),
      array(mergeLits.map(lit).toSeq: _*))
    docs.where(col("doc_id") % 53 === 0)
      .select(col("doc_id"), toks.as("tk"))
      .select(col("doc_id"), size(col("tk")).cast("long").as("n_tokens"),
        concat_ws("|", col("tk")).as("toks"))
      .orderBy("doc_id")
  }

  /** Fixed subword vocabulary for the tokenizer gate: common English
    * merges + every [a-z0-9] single character (the UNK-as-char floor). */
  private val wpVocab: Seq[String] = Seq(
    "the", "ing", "tion", "and", "ent", "ion", "er", "re", "an", "he",
    "in", "on", "at", "en", "es", "or", "te", "of", "ed", "is", "it",
    "al", "ar", "st", "to", "nt", "ng", "se", "ha", "as", "ou", "io",
    "le", "ve", "co", "me", "de", "hi", "ri", "ro", "ic", "ne", "ea",
    "ra", "ce") ++
    ('a' to 'z').map(_.toString) ++ ('0' to '9').map(_.toString)

  /** Tokenizer APPLICATION at corpus scale (functions/WordPiece.scala):
    * greedy longest-match encode over a broadcast-literal vocabulary —
    * one codegen-stage projection, zero shuffles before the gate's
    * deterministic ORDER BY. */
  def wordpiece(s: SparkSession, dir: String): DataFrame = {
    val toks = graft.functions.GraftFunctions.wordpieceEncode(
      substring(lower(col("text")), 1, 120),
      array(wpVocab.map(lit): _*))
    t(s, dir, "documents")
      .where(col("doc_id") % 41 === 0)
      .select(col("doc_id"), toks.as("tk"))
      .select(col("doc_id"),
        size(col("tk")).cast("long").as("n_tokens"),
        concat_ws("|", col("tk")).as("toks"))
      .orderBy("doc_id")
  }

  def vocab(df: DataFrame, k: Int = 200): DataFrame =
    df.select(explode(split(lower(col("text")), "[^a-z0-9]+")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word"))
      .limit(k)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_vocab" -> ((s, dir) => vocab(t(s, dir, "documents"))),
    "text_mixture" -> mixture,
    "text_wordpiece" -> wordpiece,
    "text_bpe" -> bpeGate,
    "text_lm_score" -> lmScoreGate,
    "text_pipeline2" -> pipeline2,
    "text_decontaminate" -> decontaminate,
    "text_repetition" -> repetition,
    "text_chunk" -> chunk,
    "text_pack" -> pack,
    "text_pii_scrub" -> piiScrub,
    "text_stratified_sample" -> stratifiedSample,
    "text_pipeline" -> pipeline,
    "text_langid" -> langId,
    "text_quality" -> quality,
    "text_gopher_quality" -> gopherQuality,
    "text_hashed_classifier" -> hashedClassifier,
    "text_pipeline3" -> pipeline3,
    "text_tokens" -> tokenCount,
    "text_fingerprint" -> fingerprint,
    "text_stems" -> stems)

  private def stopSql(lang: String): String =
    stop(lang).map(w => s"'$w'").mkString("[", ", ", "]")

  private def hitSql(lang: String, c: String = "ws"): String =
    s"len(list_filter($c, w -> list_contains(${stopSql(lang)}, w))) * 1.0 / len($c)"

  val oracle: Map[String, String] = Map(
    // rates recompute in DuckDB with the SAME double-precision op order
    // (left-assoc w*b*t/n), so thresholds agree bit-for-bit
    "text_mixture" ->
      """WITH counts AS (SELECT source, count(*) AS n
        |               FROM documents GROUP BY source),
        |tot AS (SELECT CAST(sum(n) AS DOUBLE) AS t FROM counts),
        |rates AS (
        |  SELECT source,
        |    least(CAST(1 AS DOUBLE),
        |      (CASE source WHEN 'src0' THEN CAST(0.3 AS DOUBLE)
        |                   WHEN 'src1' THEN CAST(0.2 AS DOUBLE)
        |                   WHEN 'src2' THEN CAST(0.2 AS DOUBLE)
        |                   WHEN 'src3' THEN CAST(0.1 AS DOUBLE)
        |                   WHEN 'src4' THEN CAST(0.1 AS DOUBLE)
        |                   WHEN 'src5' THEN CAST(0.1 AS DOUBLE)
        |                   ELSE CAST(0 AS DOUBLE) END)
        |      * CAST(0.3 AS DOUBLE) * t / CAST(n AS DOUBLE)) AS rate
        |  FROM counts, tot)
        |SELECT d.doc_id, d.source
        |FROM documents d JOIN rates r ON d.source = r.source
        |WHERE r.rate >= 1.0
        |   OR substring(md5('mix_' || CAST(d.doc_id AS VARCHAR)), 1, 8)
        |      < lpad(lower(to_hex(CAST(floor(r.rate *
        |          CAST(4294967296 AS DOUBLE)) AS BIGINT))), 8, '0')
        |ORDER BY d.doc_id""".stripMargin,
    // all three r11 stages replayed in ONE query: LM filter → mixture
    // resample → tokenize; shares the per-stage formulas verbatim
    "text_pipeline2" -> {
      val vlist = wpVocab.map(p => s"('$p')").mkString(", ")
      val wcase = (0 to 9).map(i =>
        s"WHEN 'src$i' THEN CAST(0.1 AS DOUBLE)").mkString(" ")
      s"""WITH RECURSIVE ws AS (SELECT doc_id,
        |    regexp_split_to_array(lower(text), '[^a-z0-9]+') AS a
        |  FROM documents),
        |words AS (SELECT doc_id, wi AS pos, a[wi] AS w
        |          FROM ws, unnest(range(1, len(a) + 1)) AS r(wi)
        |          WHERE a[wi] <> ''),
        |bg AS (SELECT * FROM (
        |    SELECT doc_id, w AS w1,
        |      lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        |    FROM words) WHERE w2 IS NOT NULL),
        |model AS (SELECT w1, w2, count(*) AS c FROM bg GROUP BY 1, 2),
        |heads AS (SELECT w1 AS hw, count(*) AS cw FROM bg GROUP BY 1),
        |v AS (SELECT count(DISTINCT w) AS v FROM words),
        |scores AS (
        |  SELECT b.doc_id,
        |    CAST(SUM((COALESCE(m.c, 0) + 1) * 1000000000 // (h.cw + v.v))
        |        AS DOUBLE) /
        |      CAST(count(*) AS DOUBLE) / CAST(1000000000 AS DOUBLE) AS avg_p
        |  FROM bg b
        |  LEFT JOIN model m ON b.w1 = m.w1 AND b.w2 = m.w2
        |  JOIN heads h ON b.w1 = h.hw, v
        |  GROUP BY b.doc_id),
        |kept AS (SELECT d.* FROM documents d
        |         JOIN scores sc ON d.doc_id = sc.doc_id
        |         WHERE sc.avg_p >= CAST(0.0345 AS DOUBLE)),
        |counts AS (SELECT source, count(*) AS n FROM kept GROUP BY source),
        |tot AS (SELECT CAST(sum(n) AS DOUBLE) AS t FROM counts),
        |rates AS (
        |  SELECT source,
        |    least(CAST(1 AS DOUBLE),
        |      (CASE source $wcase ELSE CAST(0 AS DOUBLE) END)
        |      * CAST(0.5 AS DOUBLE) * t / CAST(n AS DOUBLE)) AS rate
        |  FROM counts, tot),
        |sampled AS (
        |  SELECT k.doc_id, k.source, k.text
        |  FROM kept k JOIN rates r ON k.source = r.source
        |  WHERE r.rate >= 1.0
        |     OR substring(md5('mix2_' || CAST(k.doc_id AS VARCHAR)), 1, 8)
        |        < lpad(lower(to_hex(CAST(floor(r.rate *
        |            CAST(4294967296 AS DOUBLE)) AS BIGINT))), 8, '0')),
        |vocab(piece) AS (SELECT * FROM (VALUES $vlist) vv(piece)),
        |sdocs AS (SELECT doc_id, source,
        |    lower(substring(text, 1, 80)) AS s FROM sampled),
        |swords AS (SELECT doc_id, wi, wsx[wi] AS w
        |          FROM (SELECT doc_id, string_split(s, ' ') AS wsx
        |                FROM sdocs) d,
        |               unnest(range(1, len(wsx) + 1)) AS r(wi)
        |          WHERE wsx[wi] <> ''),
        |step(doc_id, wi, rest, tok, ti) AS (
        |  SELECT doc_id, wi, w, CAST(NULL AS VARCHAR), 0 FROM swords
        |  UNION ALL
        |  SELECT st.doc_id, st.wi, substring(st.rest, length(m.piece) + 1),
        |         m.piece, st.ti + 1
        |  FROM step st, LATERAL (
        |    SELECT piece FROM (
        |      SELECT piece FROM vocab WHERE starts_with(st.rest, piece)
        |      UNION ALL SELECT substring(st.rest, 1, 1)) c(piece)
        |    ORDER BY length(piece) DESC, piece LIMIT 1) m
        |  WHERE st.rest <> ''),
        |tok AS (SELECT doc_id, count(*) AS nt FROM step
        |        WHERE tok IS NOT NULL GROUP BY doc_id)
        |SELECT sd.source, count(*) AS n_docs,
        |  CAST(sum(t.nt) AS BIGINT) AS n_tokens
        |FROM sdocs sd JOIN tok t ON sd.doc_id = t.doc_id
        |GROUP BY sd.source ORDER BY sd.source""".stripMargin
    },
    "text_lm_score" ->
      """WITH ws AS (SELECT doc_id,
        |    regexp_split_to_array(lower(text), '[^a-z0-9]+') AS a
        |  FROM documents),
        |words AS (SELECT doc_id, wi AS pos, a[wi] AS w
        |          FROM ws, unnest(range(1, len(a) + 1)) AS r(wi)
        |          WHERE a[wi] <> ''),
        |bg AS (SELECT * FROM (
        |    SELECT doc_id, w AS w1,
        |      lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        |    FROM words) WHERE w2 IS NOT NULL),
        |model AS (SELECT w1, w2, count(*) AS c FROM bg GROUP BY 1, 2),
        |heads AS (SELECT w1 AS hw, count(*) AS cw FROM bg GROUP BY 1),
        |v AS (SELECT count(DISTINCT w) AS v FROM words)
        |SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  CAST(SUM((COALESCE(m.c, 0) + 1) * 1000000000 // (h.cw + v.v))
        |      AS DOUBLE) /
        |    CAST(count(*) AS DOUBLE) / CAST(1000000000 AS DOUBLE) AS avg_p
        |FROM bg b
        |LEFT JOIN model m ON b.w1 = m.w1 AND b.w2 = m.w2
        |JOIN heads h ON b.w1 = h.hw, v
        |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin,
    // independent replay of greedy longest-match: per word, a recursive
    // CTE peels the longest prefixing vocab piece (single-char fallback)
    "text_wordpiece" -> {
      val vlist = wpVocab.map(p => s"('$p')").mkString(", ")
      s"""WITH RECURSIVE vocab(piece) AS (
        |  SELECT * FROM (VALUES $vlist) v(piece)),
        |docs AS (SELECT doc_id, lower(substring(text, 1, 120)) AS s
        |         FROM documents WHERE doc_id % 41 = 0),
        |words AS (SELECT doc_id, wi, ws[wi] AS w
        |          FROM (SELECT doc_id, string_split(s, ' ') AS ws FROM docs) d,
        |               unnest(range(1, len(ws) + 1)) AS r(wi)
        |          WHERE ws[wi] <> ''),
        |step(doc_id, wi, rest, tok, ti) AS (
        |  SELECT doc_id, wi, w, CAST(NULL AS VARCHAR), 0 FROM words
        |  UNION ALL
        |  SELECT s.doc_id, s.wi, substring(s.rest, length(m.piece) + 1),
        |         m.piece, s.ti + 1
        |  FROM step s, LATERAL (
        |    SELECT piece FROM (
        |      SELECT piece FROM vocab WHERE starts_with(s.rest, piece)
        |      UNION ALL SELECT substring(s.rest, 1, 1)) c(piece)
        |    ORDER BY length(piece) DESC, piece LIMIT 1) m
        |  WHERE s.rest <> '')
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  string_agg(tok, '|' ORDER BY wi, ti) AS toks
        |FROM step WHERE tok IS NOT NULL
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },
    "text_vocab" ->
      """SELECT word, n FROM (
        |  SELECT w AS word, count(*) AS n FROM (
        |    SELECT unnest(regexp_split_to_array(lower(text),
        |      '[^a-z0-9]+')) AS w FROM documents)
        |  WHERE w <> '' GROUP BY w)
        |ORDER BY n DESC, word LIMIT 200""".stripMargin,
    "text_decontaminate" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws
        |           FROM documents WHERE len(string_split(text, ' ')) >= 5),
        |g AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |        range(1, len(ws) - 3),
        |        i -> array_to_string(ws[i:i+4], ' ')))) AS g
        |      FROM d),
        |bg AS (SELECT doc_id AS bench_id, g FROM g WHERE doc_id % 97 = 0),
        |hits AS (SELECT c.doc_id,
        |           CAST(count(DISTINCT c.g) AS BIGINT) AS n_shared,
        |           min(bg.bench_id) AS first_bench_hit
        |         FROM g c JOIN bg ON c.g = bg.g AND c.doc_id <> bg.bench_id
        |         GROUP BY c.doc_id)
        |SELECT doc.doc_id,
        |  coalesce(h.n_shared, 0) AS n_shared,
        |  h.first_bench_hit,
        |  h.n_shared IS NOT NULL AS contaminated
        |FROM documents doc LEFT JOIN hits h ON h.doc_id = doc.doc_id
        |ORDER BY doc.doc_id""".stripMargin,
    "text_repetition" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nw
        |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |base AS (SELECT doc_id, nw,
        |  round(1.0 - len(list_distinct(w)) * 1.0 / nw, 4) AS rep_word_frac
        |  FROM d),
        |g2 AS (SELECT doc_id, nw,
        |  unnest(list_transform(range(1, CAST(nw AS INT)),
        |    i -> w[i] || ' ' || w[i+1])) AS g FROM d),
        |g3 AS (SELECT doc_id, nw,
        |  unnest(list_transform(range(1, CAST(nw AS INT) - 1),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g FROM d),
        |c2 AS (SELECT doc_id, max(cnt) AS m FROM (
        |  SELECT doc_id, g, count(*) AS cnt FROM g2 GROUP BY doc_id, g)
        |  GROUP BY doc_id),
        |c3 AS (SELECT doc_id, max(cnt) AS m FROM (
        |  SELECT doc_id, g, count(*) AS cnt FROM g3 GROUP BY doc_id, g)
        |  GROUP BY doc_id)
        |SELECT base.doc_id, base.nw, base.rep_word_frac,
        |  round(c2.m * 1.0 / (base.nw - 1), 4) AS top_bigram_frac,
        |  round(c3.m * 1.0 / (base.nw - 2), 4) AS top_trigram_frac
        |FROM base JOIN c2 USING (doc_id) JOIN c3 USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "text_chunk" ->
      """WITH c AS (SELECT doc_id, text,
        |  unnest(range(0, ((length(text) - 1) // 150) + 1)) AS i
        |  FROM documents WHERE doc_id < 100)
        |SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
        |  substr(text, CAST(i AS INT) * 150 + 1, 200) AS chunk,
        |  CAST(length(substr(text, CAST(i AS INT) * 150 + 1, 200)) AS BIGINT)
        |    AS chunk_len
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,
    "text_pack" ->
      """WITH d AS (SELECT source, doc_id,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS tok
        |  FROM documents),
        |c AS (SELECT source, doc_id, tok,
        |  sum(tok) OVER (PARTITION BY source ORDER BY doc_id
        |    ROWS UNBOUNDED PRECEDING) AS cum FROM d)
        |SELECT source,
        |  CAST(floor((cum - tok) * 1.0 / 2048) AS BIGINT) AS shard,
        |  count(*) AS n_docs, CAST(sum(tok) AS BIGINT) AS tokens,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM c GROUP BY source, shard ORDER BY source, shard""".stripMargin,
    "text_pii_scrub" ->
      """WITH d AS (SELECT doc_id,
        |  text || ' contact user' || CAST(doc_id AS VARCHAR) ||
        |  '@example.com or +1-555-' ||
        |  lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' at 10.' ||
        |  CAST(doc_id % 256 AS VARCHAR) || '.0.1' AS dirty FROM documents),
        |s AS (SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(dirty,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g'),
        |    '\+?[0-9][0-9()\-\s]{6,}[0-9]', '<PHONE>', 'g') AS clean
        |  FROM d)
        |SELECT doc_id, clean,
        | (clean LIKE '%<EMAIL>%' AND clean LIKE '%<PHONE>%'
        |   AND clean LIKE '%<IP>%') AS all_redacted,
        | (NOT regexp_matches(clean,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')
        |  AND NOT regexp_matches(clean, '([0-9]{1,3}\.){3}[0-9]{1,3}'))
        |   AS no_residual
        |FROM s ORDER BY doc_id""".stripMargin,
    "text_stratified_sample" ->
      """WITH b AS (SELECT lang, doc_id,
        |  CAST('0x' || substr(md5('strat_' || CAST(doc_id AS VARCHAR)), 1, 15)
        |    AS BIGINT) % 100 AS bucket
        | FROM documents)
        |SELECT lang, count(*) AS kept FROM b
        |WHERE bucket < CASE lang WHEN 'en' THEN 25 WHEN 'de' THEN 50
        |  WHEN 'es' THEN 75 WHEN 'fr' THEN 100 WHEN 'ja' THEN 100 ELSE 0 END
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "text_pipeline" ->
      s"""WITH f AS (SELECT doc_id, source, text, string_split(text, ' ') ws,
         |        len(text) nc,
         |        len(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) * 1.0
         |          / len(text) punct
         |       FROM documents),
         |g AS (SELECT doc_id, source, text, punct, len(ws) nw,
         |       ${hitSql("en")} stopr
         |      FROM f),
         |q AS (SELECT doc_id, source, text,
         |       ROUND(least(1.0, nw / 120.0) * 0.4
         |         + least(1.0, stopr * 5.0) * 0.3
         |         + (1.0 - least(1.0, punct * 10.0)) * 0.3, 4) quality
         |      FROM g
         |      WHERE ROUND(least(1.0, nw / 120.0) * 0.4
         |         + least(1.0, stopr * 5.0) * 0.3
         |         + (1.0 - least(1.0, punct * 10.0)) * 0.3, 4) >= 0.5),
         |lf AS (SELECT q.*, string_split(lower(text), ' ') wl,
         |        len(regexp_replace(text, '[\\x00-\\x7F]', '', 'g')) * 1.0
         |          / len(text) cjk
         |       FROM q),
         |sc AS (SELECT doc_id, source, text, quality, cjk,
         |        ${hitSql("en", "wl")} s_en,
         |        ${hitSql("de", "wl")} s_de,
         |        ${hitSql("es", "wl")} s_es,
         |        ${hitSql("fr", "wl")} s_fr
         |       FROM lf),
         |en AS (SELECT * FROM sc
         |       WHERE NOT (cjk > 0.3) AND s_en >= s_de AND s_en >= s_es
         |        AND s_en >= s_fr),
         |dd AS (SELECT *, min(doc_id) OVER (PARTITION BY md5(text)) keep_id
         |       FROM en)
         |SELECT source, count(*) AS n_docs,
         | CAST(SUM(len(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT)
         |  AS ws_tokens,
         | ROUND(CAST(SUM(CAST(quality AS DECIMAL(18,6))) AS DOUBLE)
         |   / count(*), 4) AS avg_quality
         |FROM dd WHERE doc_id = keep_id
         |GROUP BY source ORDER BY source""".stripMargin,
    "text_langid" ->
      s"""WITH f AS (SELECT doc_id, string_split(lower(text), ' ') ws,
         |        len(regexp_replace(text, '[\\x00-\\x7F]', '', 'g')) * 1.0
         |          / len(text) cjk
         |       FROM documents),
         |sc AS (SELECT doc_id, cjk,
         |        ${hitSql("en")} s_en, ${hitSql("de")} s_de,
         |        ${hitSql("es")} s_es, ${hitSql("fr")} s_fr
         |       FROM f)
         |SELECT doc_id,
         | CASE WHEN cjk > 0.3 THEN 'zh'
         |  WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
         |  WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
         |  WHEN s_es >= s_fr THEN 'es' ELSE 'fr' END AS predicted_lang,
         | ROUND(s_en, 4) AS s_en, ROUND(s_de, 4) AS s_de,
         | ROUND(s_es, 4) AS s_es, ROUND(s_fr, 4) AS s_fr,
         | ROUND(cjk, 4) AS cjk_ratio
         |FROM sc ORDER BY doc_id""".stripMargin,
    "text_quality" ->
      s"""WITH f AS (SELECT doc_id, string_split(text, ' ') ws,
         |        len(text) nc,
         |        len(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) * 1.0
         |          / len(text) punct
         |       FROM documents),
         |g AS (SELECT doc_id, len(ws) nw, punct,
         |       ${hitSql("en")} stopr,
         |       (nc - len(ws) + 1) * 1.0 / len(ws) awl
         |      FROM f)
         |SELECT doc_id, CAST(nw AS BIGINT) AS n_words,
         | ROUND(awl, 4) AS avg_word_len,
         | ROUND(stopr, 4) AS stop_ratio,
         | ROUND(punct, 4) AS punct_ratio,
         | ROUND(least(1.0, nw / 120.0) * 0.4
         |   + least(1.0, stopr * 5.0) * 0.3
         |   + (1.0 - least(1.0, punct * 10.0)) * 0.3, 4) AS quality
         |FROM g ORDER BY doc_id""".stripMargin,
    "text_tokens" ->
      """SELECT lang, count(*) AS n_docs,
        | CAST(SUM(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS ws_tokens,
        | CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT) AS bpe_tokens,
        | CAST(SUM(CAST(ceil(len(text) * 1.0 / 4.0) AS BIGINT)) AS BIGINT) AS subword_est
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "text_pipeline3" ->
      """WITH d0 AS (SELECT doc_id, text, lang, source,
        |    string_split(text, ' ') AS w,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nw
        |  FROM documents),
        |gf AS (SELECT doc_id, lang, source, w, nw FROM d0 WHERE
        |  nw BETWEEN 50 AND 100000
        |  AND CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE)
        |      / nw BETWEEN 3.0 AND 10.0
        |  AND CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))
        |      AS DOUBLE) / nw >= 0.8
        |  AND len(list_filter(
        |      ['the', 'a', 'of', 'and', 'to', 'in', 'is', 'it', 'that', 'for'],
        |      st -> list_contains(w, st))) >= 2),
        |sh AS (SELECT doc_id, CAST(i AS INT) AS pos,
        |         array_to_string(w[i + 1 : i + 3], ' ') AS g
        |       FROM gf, unnest(range(0, nw - 2)) AS r(i) WHERE nw >= 3),
        |ranked AS (SELECT doc_id, pos,
        |    row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rk,
        |    count(*) OVER (PARTITION BY g) AS cnt FROM sh),
        |dropped AS (SELECT doc_id, pos FROM ranked WHERE cnt >= 2 AND rk > 1),
        |rm AS (SELECT DISTINCT doc_id, pos + CAST(off AS INT) AS rp
        |       FROM dropped, unnest(range(0, 3)) AS r(off)),
        |words AS (SELECT doc_id, CAST(i AS INT) AS i, w[i + 1] AS x
        |          FROM gf, unnest(range(0, nw)) AS r(i)),
        |keptw AS (SELECT wd.doc_id, wd.i, wd.x FROM words wd
        |         LEFT JOIN rm ON rm.doc_id = wd.doc_id AND rm.rp = wd.i
        |         WHERE rm.doc_id IS NULL),
        |rebuilt AS (SELECT doc_id,
        |    COALESCE(string_agg(x, ' ' ORDER BY i), '') AS new_text
        |  FROM keptw GROUP BY 1),
        |r2 AS (SELECT gf.doc_id, gf.lang, gf.source,
        |    COALESCE(rebuilt.new_text, '') AS new_text
        |  FROM gf LEFT JOIN rebuilt USING (doc_id)),
        |toks AS (SELECT doc_id, lang,
        |    CAST('0x' || substr(md5(wd), 1, 6) AS BIGINT) % 512 AS bucket
        |  FROM (SELECT doc_id, lang, unnest(string_split(new_text, ' ')) AS wd
        |        FROM r2) t
        |  WHERE wd <> ''),
        |clb AS (SELECT lang, bucket, CAST(count(*) AS BIGINT) AS c_lb
        |        FROM toks GROUP BY 1, 2),
        |cl AS (SELECT lang, CAST(count(*) AS BIGINT) AS c_l
        |       FROM toks GROUP BY 1),
        |dt AS (SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS m
        |       FROM toks GROUP BY 1, 2),
        |sc AS (SELECT dt.doc_id, cl.lang,
        |    CAST(sum(dt.m * ((COALESCE(clb.c_lb, 0) + 1) * 1000000000
        |      // (cl.c_l + 512))) AS BIGINT) AS score
        |  FROM dt CROSS JOIN cl
        |  LEFT JOIN clb ON clb.lang = cl.lang AND clb.bucket = dt.bucket
        |  GROUP BY 1, 2),
        |pred AS (SELECT doc_id, lang AS pred_lang,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, lang) AS rk FROM sc),
        |keptd AS (SELECT r2.* FROM r2
        |  JOIN pred p ON p.doc_id = r2.doc_id AND p.rk = 1
        |    AND p.pred_lang = r2.lang),
        |cums AS (SELECT doc_id, source,
        |    CAST(len(string_split(new_text, ' ')) AS BIGINT) AS tok,
        |    sum(CAST(len(string_split(new_text, ' ')) AS BIGINT))
        |      OVER (PARTITION BY source ORDER BY doc_id) AS cum
        |  FROM keptd)
        |SELECT source,
        |  CAST(floor(CAST(cum - tok AS DOUBLE) / 2048) AS BIGINT) AS shard,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(tok) AS BIGINT) AS tokens,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM cums GROUP BY 1, 2 ORDER BY source, shard""".stripMargin,
    "text_gopher_quality" ->
      """WITH d AS (SELECT doc_id, text,
        |    string_split(text, ' ') AS w,
        |    string_split(text, chr(10)) AS lines,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words
        |  FROM documents),
        |f AS (SELECT doc_id, n_words,
        |    CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE)
        |      / n_words AS mean_word_len,
        |    CAST((length(text) - length(replace(text, '#', '')))
        |      + (length(text) - length(replace(text, '...', ''))) / 3
        |      + (length(text) - length(replace(text, '…', ''))) AS DOUBLE)
        |      / n_words AS symbol_ratio,
        |    CAST(len(list_filter(lines, l -> starts_with(ltrim(l), '-')
        |      OR starts_with(ltrim(l), '*') OR starts_with(ltrim(l), '•')))
        |      AS DOUBLE) / len(lines) AS bullet_frac,
        |    CAST(len(list_filter(lines, l -> ends_with(rtrim(l), '...')
        |      OR ends_with(rtrim(l), '…')))
        |      AS DOUBLE) / len(lines) AS ellipsis_frac,
        |    CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))
        |      AS DOUBLE) / n_words AS alpha_frac,
        |    CAST(len(list_filter(
        |      ['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with'],
        |      st -> list_contains(w, st))) AS BIGINT) AS stop_hits
        |  FROM d)
        |SELECT doc_id, n_words,
        |  round(mean_word_len, 4) AS mean_word_len,
        |  round(symbol_ratio, 4) AS symbol_ratio,
        |  round(bullet_frac, 4) AS bullet_frac,
        |  round(ellipsis_frac, 4) AS ellipsis_frac,
        |  round(alpha_frac, 4) AS alpha_frac,
        |  stop_hits,
        |  CAST(n_words BETWEEN 50 AND 100000
        |    AND mean_word_len BETWEEN 3.0 AND 10.0
        |    AND symbol_ratio < 0.1
        |    AND bullet_frac <= 0.9
        |    AND ellipsis_frac <= 0.3
        |    AND alpha_frac >= 0.8
        |    AND stop_hits >= 2 AS BIGINT) AS keep
        |FROM f ORDER BY doc_id""".stripMargin,
    "text_hashed_classifier" ->
      """WITH toks AS (
        |  SELECT doc_id, lang,
        |    CAST('0x' || substr(md5(w), 1, 6) AS BIGINT) % 512 AS bucket
        |  FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
        |        FROM documents)
        |  WHERE w <> ''),
        |clb AS (SELECT lang, bucket, CAST(count(*) AS BIGINT) AS c_lb
        |        FROM toks GROUP BY 1, 2),
        |cl AS (SELECT lang, CAST(count(*) AS BIGINT) AS c_l
        |       FROM toks GROUP BY 1),
        |dt AS (SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS m
        |       FROM toks GROUP BY 1, 2),
        |sc AS (SELECT dt.doc_id, cl.lang,
        |    CAST(sum(dt.m * ((COALESCE(clb.c_lb, 0) + 1) * 1000000000
        |      // (cl.c_l + 512))) AS BIGINT) AS score
        |  FROM dt CROSS JOIN cl
        |  LEFT JOIN clb ON clb.lang = cl.lang AND clb.bucket = dt.bucket
        |  GROUP BY 1, 2),
        |pred AS (SELECT doc_id, lang AS pred_lang, score,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, lang) AS rk
        |  FROM sc)
        |SELECT d.doc_id, d.lang AS actual_lang, p.pred_lang, p.score
        |FROM documents d JOIN pred p ON d.doc_id = p.doc_id AND p.rk = 1
        |ORDER BY d.doc_id""".stripMargin,
    "text_fingerprint" ->
      """SELECT doc_id,
        | list_reduce(
        |   list_prepend(0::BIGINT,
        |     list_transform(string_split(text, ' '),
        |       w -> CAST('0x' || substr(md5(w), 1, 6) AS BIGINT) % 1000000007)),
        |   (acc, h) -> (acc * 31 + h) % 1000000007) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin)
}
