package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: language identification,
  * quality scoring, token counting, and document fingerprinting.
  *
  * Extensions beyond the reference's surface (its only text processing is
  * clean/split/embed — /root/reference/main/splitter/text_splitter.py,
  * main/sources converter modules). Everything is a narrow per-row column expression —
  * no shuffle, fully codegen'd, embarrassingly parallel at any scale.
  */
object TextAnalysis {

  /** Tokens of a text column — the codegen'd engine tokenizer kernel
    * ([[graft.plans.EngineTokenize]] via [[Search.tokensCol]]): same
    * semantics as the historical split/filter fragment, one byte-scan pass.
    */
  private def toksCol(textCol: String): Column =
    Search.tokensCol(col(textCol))

  /** Marker stopwords per language for the n-gram/stopword language-ID heuristic. */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "is", "to", "in"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein"),
    "fr" -> Seq("le", "les", "des", "et", "est", "une", "dans"),
    "es" -> Seq("el", "los", "las", "que", "es", "una", "por"))

  /** Language-ID: count marker-stopword hits per candidate language; predict the
    * argmax (deterministic tie-break: language name order), 'und' (undetermined)
    * when nothing matches. Columns: score_<lang>..., pred_lang.
    *
    * The token array binds to a column once: with the tokenizer inlined per
    * language, Catalyst would evaluate split+filter 4× per row (CollapseProject
    * keeps a multi-referenced non-cheap projection materialized, so the bound
    * form tokenizes once).
    */
  def langId(docs: DataFrame, textCol: String): DataFrame = {
    val langs = langMarkers.keys.toSeq.sorted
    val withToks = docs.withColumn("_toks", toksCol(textCol))
    val withScores = langs.foldLeft(withToks) { (df, l) =>
      val list = langMarkers(l).map(w => s"'$w'").mkString(", ")
      df.withColumn(s"score_$l", expr(s"size(filter(_toks, t -> t IN ($list)))"))
    }
    // argmax with name-order tie-break: fold langs in order, keep strict-greater.
    val best = langs.tail.foldLeft((col(s"score_${langs.head}"), lit(langs.head))) {
      case ((bestScore, bestLang), l) =>
        val s = col(s"score_$l")
        (when(s > bestScore, s).otherwise(bestScore),
         when(s > bestScore, lit(l)).otherwise(bestLang))
    }
    withScores
      .withColumn("pred_lang", when(best._1 > 0, best._2).otherwise(lit("und")))
      .drop("_toks")
  }

  /** Canonical text cleanup ahead of tokenization and hash-dedup: Unicode NFC
    * (codegen'd [[graft.plans.NfcNormalize]] — UAX #15, the same spec DuckDB's
    * `nfc_normalize` implements, so the oracle gates the normalized HASHES)
    * plus whitespace-run collapse and trim. Visually-identical text in
    * different compositions (é vs e+◌́) or spacing dedups and tokenizes
    * identically after this. Pure per-row map — zero exchanges.
    */
  def withNormalizedText(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("norm_text",
      trim(regexp_replace(
        graft.plans.TextHashFunctions.nfcNormalize(col(textCol)), "\\s+", " ")))

  /** Sentence segmentation stats: split on terminal-punctuation runs followed
    * by whitespace (`[.!?]+\s+` — the Java/RE2 common subset; lookbehind
    * would keep the punctuation but RE2 lacks it, and COUNTS are the signal
    * here). Adds n_sentences, mean/max sentence length in chars — the
    * sentence-shape quality axis (wall-of-text vs staccato boilerplate) that
    * complements the token-level signals. Pure per-row map.
    */
  def sentenceStats(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("_s",
        filter(split(col(textCol), "[.!?]+\\s+"), x => x =!= ""))
      .withColumn("n_sentences", size(col("_s")).cast("long"))
      .withColumn("mean_sentence_chars",
        round(coalesce(aggregate(col("_s"), lit(0L), (a, x) => a + length(x)), lit(0L))
          / greatest(size(col("_s")), lit(1)).cast("double"), 4))
      .withColumn("max_sentence_chars",
        coalesce(array_max(transform(col("_s"), x => length(x))), lit(0)).cast("long"))
      .drop("_s")

  /** Quality-scoring signals: token count, char count, mean word length,
    * alnum-space ratio, stopword ratio, and a composite [0,1] score.
    * Tokens bind to a column once (see [[langId]]) — the three token-consuming
    * signals would otherwise each re-run the tokenizer per row.
    */
  def qualitySignals(docs: DataFrame, textCol: String): DataFrame = {
    val allStops = langMarkers.values.flatten.toSeq.distinct.sorted
    val stopList = allStops.map(w => s"'$w'").mkString(", ")
    // token-length sum = length of the separator-less concat — one codegen'd
    // concat + length instead of the retired `aggregate(...)` fold, which ran
    // the lambda INTERPRETED per token (guide §1.2 per-task work; same value
    // by construction, so every downstream 4dp round is unchanged).
    // NOT spread: consumers aggregate right after (corpus_stats et al) and
    // the measured exchange cost exceeded the map win (r17 A/B).
    docs
      .withColumn("_toks", toksCol(textCol))
      .withColumn("n_tokens", expr("size(_toks)").cast("long"))
      .withColumn("n_chars_t", length(col(textCol)).cast("long"))
      .withColumn("mean_word_len",
        round(length(concat_ws("", col("_toks"))).cast("long") /
          greatest(col("n_tokens"), lit(1L)), 4))
      .withColumn("alnum_ratio",
        round(length(regexp_replace(lower(col(textCol)), "[^a-z0-9 ]", "")) /
          greatest(length(col(textCol)), lit(1)).cast("double"), 4))
      .withColumn("stopword_ratio",
        round(expr(s"size(filter(_toks, t -> t IN ($stopList)))") /
          greatest(col("n_tokens"), lit(1L)).cast("double"), 4))
      // Composite: full marks for >= 50 tokens, mean word len in [3,10], mostly
      // alphanumeric, and a nonzero-but-not-all-stopwords mix.
      .withColumn("quality_score", round(
        least(col("n_tokens") / lit(50.0), lit(1.0)) * lit(0.4) +
        when(col("mean_word_len").between(3.0, 10.0), 0.2).otherwise(0.0) +
        col("alnum_ratio") * lit(0.2) +
        when(col("stopword_ratio").between(0.01, 0.6), 0.2).otherwise(0.0), 4))
      .drop("_toks")
  }

  /** Flesch readability signals (Flesch, "A new readability yardstick",
    * J. Applied Psych. 1948; Kincaid et al. 1975 for the grade form) — the
    * classic complexity axis of a curation quality stack, next to the
    * Gopher-style repetition rules. Syllables use the standard vowel-group
    * heuristic (runs of `[aeiouy]+` per word — exact syllabification needs a
    * dictionary; the heuristic is the published proxy and is what both
    * engines can compute identically). Sentences reuse the `[.!?]+\s+`
    * segmentation of [[sentenceStats]], clamped to ≥ 1 so punctuation-free
    * documents read as one sentence.
    *
    * Adds: n_words, n_syllables, n_sentences_r, flesch_ease (higher = easier,
    * ~0–100 on prose), fk_grade (US grade level). Pure per-row map — scan
    * cost only, no shuffle; everything stays in whole-stage codegen.
    */
  def readability(docs: DataFrame, textCol: String): DataFrame =
    graft.core.Spread.forCompute(docs)
    .withColumn("_toks", toksCol(textCol))
    .withColumn("n_words", expr("size(_toks)").cast("long"))
    // one regex pass over the space-joined tokens replaces the per-token
    // INTERPRETED aggregate lambda: a `[aeiouy]+` run can never cross the
    // space separator (tokens are [a-z0-9]+), so the group count is
    // identical by construction
    .withColumn("n_syllables",
      size(regexp_extract_all(concat_ws(" ", col("_toks")),
        lit("[aeiouy]+"), lit(0))).cast("long"))
    .withColumn("n_sentences_r",
      greatest(size(filter(split(col(textCol), "[.!?]+\\s+"), x => x =!= "")), lit(1))
        .cast("long"))
    .withColumn("flesch_ease", round(
      lit(206.835)
        - lit(1.015) * (col("n_words") / col("n_sentences_r").cast("double"))
        - lit(84.6) * (col("n_syllables") / greatest(col("n_words"), lit(1L)).cast("double")),
      4))
    .withColumn("fk_grade", round(
      lit(0.39) * (col("n_words") / col("n_sentences_r").cast("double"))
        + lit(11.8) * (col("n_syllables") / greatest(col("n_words"), lit(1L)).cast("double"))
        - lit(15.59),
      4))
    .drop("_toks")

  /** Token counting: whitespace tokens, BPE-ish subword-regex tokens (letter runs,
    * single digits, single punctuation marks), and the chars/4 heuristic.
    */
  def tokenCounts(docs: DataFrame, textCol: String): DataFrame = docs
    .withColumn("ws_tokens",
      expr(s"size(filter(split($textCol, '\\\\s+'), t -> t != ''))").cast("long"))
    .withColumn("bpe_tokens",
      size(regexp_extract_all(col(textCol), lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"), lit(0))).cast("long"))
    .withColumn("approx_tokens", ceil(length(col(textCol)) / lit(4.0)).cast("long"))

  /** Gopher-style within-document repetition signals (the repetition family of
    * pretraining quality rules): the fraction of duplicated lines, and the
    * share of word-bigram occurrences taken by the single most frequent bigram.
    * High values mark boilerplate-heavy or degenerate documents.
    *
    * Lines/distinct are narrow per-row ops; the top-bigram count distributes as
    * explode → per-(doc, bigram) count → per-doc max (two hash aggs keyed by
    * doc — no per-row O(n²) interpreted fold).
    */
  def repetitionSignals(docs0: DataFrame, idCol: String, textCol: String): DataFrame = {
    val docs = graft.core.Spread.forCompute(docs0)
    val lineSignals = docs.select(
      col(idCol),
      size(split(col(textCol), "\n")).cast("long").as("n_lines"),
      size(array_distinct(split(col(textCol), "\n"))).cast("long").as("n_distinct_lines"))
      .withColumn("dup_line_frac",
        round((col("n_lines") - col("n_distinct_lines")) /
          greatest(col("n_lines"), lit(1L)).cast("double"), 4))

    // the r16 one-pass window kernel replaces the interpreted
    // transform/concat_ws lambda: same "w1 w2" strings, same empty-array
    // short-doc semantics (shortFallback = false)
    val bigrams = docs
      .select(col(idCol), toksCol(textCol).as("_t"))
      .select(col(idCol),
        graft.plans.SuffixSeedFunctions.joinedTokenWindows(
          col("_t"), 2, shortFallback = false).as("_b"))
      .select(col(idCol), size(col("_b")).cast("long").as("n_bigrams"),
        explode_outer(col("_b")).as("bigram"))
    val topBigram = bigrams
      .groupBy(idCol, "n_bigrams", "bigram").agg(count(lit(1)).as("c"))
      .groupBy(idCol, "n_bigrams")
      .agg(max(when(col("bigram").isNotNull, col("c")).otherwise(0L)).as("top_c"))
      .withColumn("top_bigram_frac",
        round(col("top_c") / greatest(col("n_bigrams"), lit(1L)).cast("double"), 4))

    lineSignals.join(topBigram.select(col(idCol), col("n_bigrams"), col("top_bigram_frac")), idCol)
  }

  /** Corpus statistics by group (the "dataset card" aggregation a training
    * pipeline runs before/after curation): document and token counts, text-size
    * distribution, and mean quality per group — one scan, one hash aggregation.
    */
  def corpusStats(docs: DataFrame, textCol: String, groupCols: Seq[String]): DataFrame = {
    val withSignals = qualitySignals(docs, textCol)
    withSignals
      .groupBy(groupCols.map(col): _*)
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("total_tokens"),
        min("n_chars_t").as("min_chars"),
        max("n_chars_t").as("max_chars"),
        round(avg("n_chars_t"), 2).as("avg_chars"),
        round(avg("quality_score"), 4).as("avg_quality"))
  }

  /** Winnowing document fingerprint: k-char shingles → 8-hex md5 hashes → minimum
    * per sliding window of w → distinct set (first-occurrence order). Robust to
    * small edits; the fingerprint count and minimum are stable per-document
    * signals. Short docs (< k chars) fingerprint the whole text.
    *
    * Native [[graft.plans.WinnowFingerprint]] expression: one md5 per position
    * with a reused digest and a monotonic-deque sliding min — O(L) per doc vs the
    * declarative transform/slice form's interpreted O(L·w) with per-element
    * allocation (parity locked by TextHashSpec and the text_fingerprint oracle).
    */
  def fingerprintDf(docs: DataFrame, textCol: String, k: Int = 7, w: Int = 5): DataFrame =
    docs.withColumn("fingerprints",
      graft.plans.TextHashFunctions.winnowFingerprint(col(textCol), k, w))

  /** Corpus-level collocation mining by pointwise mutual information —
    * phrase discovery over a pretraining corpus (the word2vec phrase pass,
    * Mikolov et al. 2013 §4): PMI = ln(c_ab · N / (c_a · c_b)) over corpus
    * bigram/unigram counts, keeping bigrams seen at least `minCount` times.
    * High-PMI pairs are multiword units ("los angeles"); the same table with
    * the inequality flipped surfaces boilerplate n-grams for dedup seeding.
    *
    * Scale shape: tokens explode once into (w1, w2) pairs → ONE corpus-wide
    * hash aggregate keyed on the pair (map-side combined, so the exchange
    * carries vocab²-bounded partial counts, not corpus positions); the
    * unigram table is vocab-sized and BROADCASTS to both sides of the PMI
    * join; N comes from a 1-row aggregate reused via its own broadcast. No
    * corpus-sized state survives the aggregates.
    *
    * The PMI double math is one integer-exact product/quotient then one ln —
    * the oracle replays it bit-for-bit modulo libm's last ulp, absorbed by
    * the 6dp round (same trade as the BM25 idf gate).
    */
  def collocations(docs: DataFrame, textCol: String,
                   minCount: Long, topK: Int): DataFrame = {
    // r16 window kernel + substring_index split instead of the per-pair
    // interpreted transform lambda (same pairs — tokens carry no spaces).
    // NOT spread: both consumers aggregate immediately, and the measured
    // exchange cost exceeded the map win (r17 A/B: 0.81 → 1.20 s spread)
    val pairs = docs
      .select(toksCol(textCol).as("_t"))
      .select(explode(graft.plans.SuffixSeedFunctions
        .joinedTokenWindows(col("_t"), 2, shortFallback = false)).as("bg"))
      .select(substring_index(col("bg"), " ", 1).as("w1"),
        substring_index(col("bg"), " ", -1).as("w2"))
    val bigramCounts = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c_ab"))
    val unigramCounts = docs
      .select(explode(toksCol(textCol)).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c_w"))
    val total = bigramCounts.agg(sum("c_ab").as("n_total"))
    bigramCounts
      .filter(col("c_ab") >= minCount)
      .join(broadcast(unigramCounts.select(col("w").as("w1"), col("c_w").as("c_a"))), "w1")
      .join(broadcast(unigramCounts.select(col("w").as("w2"), col("c_w").as("c_b"))), "w2")
      .crossJoin(broadcast(total))
      .withColumn("pmi", round(log(
        (col("c_ab") * col("n_total")).cast("double") / (col("c_a") * col("c_b"))), 6))
      .select(col("w1"), col("w2"), col("c_ab"), col("pmi"))
      .orderBy(col("pmi").desc, col("w1").asc, col("w2").asc)
      .limit(topK)
  }

  /** Per-document keyword extraction by tf-idf: the top-`topK` terms per doc
    * by tf·ln(N/df) — the corpus-exploration signal behind dataset cards and
    * topic drill-downs (and a cheap sparse retrieval feature). A term in
    * every document scores exactly 0 (idf = ln 1).
    *
    * Scale shape: explode → per-(doc, term) count (the same exchange BM25's
    * postings build pays) → per-term df aggregate (vocab-sized) joined back
    * keyed on term — no broadcast hint: vocab is corpus-dependent (31 words
    * in the test tables, millions in a web corpus), so AQE picks broadcast
    * vs shuffle from real sizes. The per-doc top-k window partitions by doc.
    * Score rounds to 6dp before ranking so the cut is engine-stable (ln ulp,
    * the BM25 trade).
    */
  def keywords(docs: DataFrame, idCol: String, textCol: String,
               topK: Int): DataFrame = {
    val tf = docs.select(col(idCol), explode(toksCol(textCol)).as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfv = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy(col("tfidf").desc, col("term").asc)
    tf.join(dfv, "term").crossJoin(broadcast(n))
      .withColumn("tfidf",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= topK)
      .select(col(idCol), col("term"), col("tf"), col("tfidf"), col("rk"))
  }

  /** Character-level Shannon entropy (bits/char) — the compression-proxy
    * quality signal (low entropy ⇒ repetitive/boilerplate text; binary junk
    * decoded as text scores anomalously high). A native codegen'd expression
    * ([[graft.plans.CharEntropy]]): one pass over the UTF-8 bytes into a
    * codepoint histogram. The declarative spellings it replaced benched far
    * slower at sf0.1 (run-length-over-sorted-chars ~1.3 s, distinct×filter
    * ~3.5 s, sequence+substring ~8 s — that one re-seeks UTF-8 offsets per
    * index, O(n²)); the kernel is a map at scan cost.
    */
  /** Per-token Jensen–Shannon drift between two corpus slices: unigram
    * distributions P (rows where `sliceA` holds) and Q (the rest) over the
    * union vocabulary, with each token's JS contribution
    * ½·p·ln(p/m) + ½·q·ln(q/m), m = (p+q)/2 (zero-probability terms
    * contribute 0; total JS divergence = Σ contributions, bounded by ln 2).
    * The distribution-shift monitor for a training-data mix: run it between
    * yesterday's corpus and today's, or between two sources, and the top
    * |contribution| tokens NAME the drift.
    *
    * Shape: one token hash-aggregation carrying both slice counts as
    * conditional sums (the slices never scan separately), then the grand
    * totals — a 1-row aggregate — broadcast back over the count table. At
    * 100 TB the only corpus-sized exchange keys on the token.
    */
  def tokenDrift(docs: DataFrame, textCol: String, sliceA: Column): DataFrame = {
    val cnt = docs
      .select(sliceA.as("_a"), explode(toksCol(textCol)).as("token"))
      .groupBy("token")
      .agg(sum(when(col("_a"), 1L).otherwise(0L)).as("_ca"),
           sum(when(!col("_a"), 1L).otherwise(0L)).as("_cb"))
    val totals = cnt.agg(sum("_ca").as("_ta"), sum("_cb").as("_tb"))
    def term(p: Column, m: Column): Column =
      when(p > 0, p * log(p / m)).otherwise(lit(0.0))
    cnt.crossJoin(broadcast(totals))
      .withColumn("p", col("_ca").cast("double") / col("_ta").cast("double"))
      .withColumn("q", col("_cb").cast("double") / col("_tb").cast("double"))
      .withColumn("_m", (col("p") + col("q")) / lit(2.0))
      .select(col("token"),
        round(col("p"), 6).as("p"), round(col("q"), 6).as("q"),
        round(lit(0.5) * term(col("p"), col("_m")) +
              lit(0.5) * term(col("q"), col("_m")), 6).as("js_contrib"))
  }

  def withCharEntropy(docs: DataFrame, textCol: String): DataFrame =
    docs.withColumn("entropy",
      round(graft.plans.TextHashFunctions.charEntropy(col(textCol)), 4))
}
