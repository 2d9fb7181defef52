package graft.api.queries

import graft.api.Queries._
import graft.api.{Tables => D}
import graft.api.queries.OracleSql._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text analysis and corpus statistics: language ID, quality and
  * repetition signals, tokens, entropy, suffix ranks, keywords, corpus
  * cards (percentiles, cube, pivot, heavy hitters) and the quality model.
  */
object TextQueries {

  private val textLangid = Q(
    (s, d) => graft.operators.TextAnalysis.langId(
        D.documents(s, d).select("doc_id", "text"), "text")
      .select(col("doc_id"), col("score_de").cast("long"), col("score_en").cast("long"),
        col("score_es").cast("long"), col("score_fr").cast("long"), col("pred_lang"))
      .orderBy("doc_id"),
    Some {
      s"""WITH toks AS (SELECT doc_id, ${tokens("text")} AS t FROM documents),
         |s AS (SELECT doc_id, $langScoresSql FROM toks)
         |SELECT doc_id, score_de, score_en, score_es, score_fr,
         |$predLangSql
         |FROM s ORDER BY doc_id""".stripMargin
    })

  private val textQuality = Q(
    (s, d) => graft.operators.TextAnalysis.qualitySignals(
        D.documents(s, d).select("doc_id", "text"), "text")
      .select("doc_id", "n_tokens", "mean_word_len", "alnum_ratio",
        "stopword_ratio", "quality_score")
      .orderBy("doc_id"),
    Some {
      s"""WITH x AS (
         |  SELECT doc_id, text, ${tokens("text")} AS t FROM documents),
         |sig AS (
         |  SELECT doc_id,
         |    len(t) AS n_tokens,
         |    round(coalesce(list_sum(list_transform(t, w -> length(w))), 0) / greatest(len(t), 1), 4) AS mean_word_len,
         |    round(length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) / greatest(length(text), 1), 4) AS alnum_ratio,
         |    round(len(list_filter(t, w -> w IN ($stopwordList))) / greatest(len(t), 1), 4) AS stopword_ratio
         |  FROM x)
         |SELECT doc_id, n_tokens, mean_word_len, alnum_ratio, stopword_ratio,
         |  round(least(n_tokens / 50.0, 1.0) * 0.4 +
         |    CASE WHEN mean_word_len BETWEEN 3.0 AND 10.0 THEN 0.2 ELSE 0 END +
         |    alnum_ratio * 0.2 +
         |    CASE WHEN stopword_ratio BETWEEN 0.01 AND 0.6 THEN 0.2 ELSE 0 END, 4) AS quality_score
         |FROM sig ORDER BY doc_id""".stripMargin
    })

  /** Gopher-style repetition quality signals: within-doc duplicate-line
    * fraction + most-frequent-bigram share.
    */
  private val textRepetition = Q(
    (s, d) => graft.operators.TextAnalysis.repetitionSignals(
        D.documents(s, d).select("doc_id", "text"), "doc_id", "text")
      .select("doc_id", "n_lines", "n_distinct_lines", "dup_line_frac",
        "n_bigrams", "top_bigram_frac")
      .orderBy("doc_id"),
    Some(s"""WITH ln AS (
            |  SELECT doc_id,
            |    len(string_split(text, chr(10))) AS n_lines,
            |    len(list_distinct(string_split(text, chr(10)))) AS n_distinct_lines
            |  FROM documents),
            |tok AS (SELECT doc_id, ${tokens("text")} AS t FROM documents),
            |bg AS (SELECT doc_id,
            |  CASE WHEN len(t) < 2 THEN [] ELSE list_transform(generate_series(1, len(t) - 1),
            |    i -> t[i] || ' ' || t[i + 1]) END AS b FROM tok),
            |ex AS (SELECT doc_id, unnest(b) AS bigram FROM bg),
            |cnt AS (SELECT doc_id, bigram, count(*) AS c FROM ex GROUP BY doc_id, bigram),
            |top AS (SELECT doc_id, max(c) AS top_c FROM cnt GROUP BY doc_id),
            |base AS (SELECT doc_id, len(b) AS n_bigrams FROM bg)
            |SELECT l.doc_id, l.n_lines, l.n_distinct_lines,
            |  round((l.n_lines - l.n_distinct_lines) / greatest(l.n_lines, 1), 4) AS dup_line_frac,
            |  b.n_bigrams,
            |  round(coalesce(t.top_c, 0) / greatest(b.n_bigrams, 1), 4) AS top_bigram_frac
            |FROM ln l JOIN base b USING(doc_id) LEFT JOIN top t USING(doc_id)
            |ORDER BY l.doc_id""".stripMargin))

  /** Exact size-distribution percentiles per language (p50/p90/p99 of
    * n_chars) — the dataset-card quantile panel. Spark's exact `percentile`
    * and DuckDB's `quantile_cont` share the linear-interpolation definition,
    * so the gate pins the interpolation math itself. At 100 TB switch to
    * `percentile_approx` (t-digest) — same plan shape, bounded memory.
    */
  private val corpusPercentiles = Q(
    (s, d) => D.documents(s, d)
      .groupBy("lang")
      .agg(percentile(col("n_chars"), typedlit(Seq(0.5, 0.9, 0.99))).as("_q"))
      .select(col("lang"),
        round(element_at(col("_q"), 1), 4).as("p50"),
        round(element_at(col("_q"), 2), 4).as("p90"),
        round(element_at(col("_q"), 3), 4).as("p99"))
      .orderBy("lang"),
    Some("""SELECT lang,
           |  round(qs[1], 4) AS p50, round(qs[2], 4) AS p90, round(qs[3], 4) AS p99
           |FROM (SELECT lang, quantile_cont(n_chars, [0.5, 0.9, 0.99]) AS qs
           |      FROM documents GROUP BY lang)
           |ORDER BY lang""".stripMargin))

  /** CUBE over (lang, source): every aggregation granularity — per pair, per
    * lang, per source, grand total — in ONE pass (Spark expands grouping sets
    * map-side; no re-scan per level). The OLAP rollup panel of a corpus card.
    */
  private val corpusCube = Q(
    (s, d) => D.documents(s, d)
      .cube("lang", "source")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"))
      .orderBy(asc_nulls_first("lang"), asc_nulls_first("source")),
    Some("""SELECT lang, source, count(*) AS n_docs,
           |  CAST(sum(n_chars) AS BIGINT) AS total_chars
           |FROM documents GROUP BY CUBE (lang, source)
           |ORDER BY lang NULLS FIRST, source NULLS FIRST""".stripMargin))

  /** PIVOT: per-source doc counts as one column per language (fixed value
    * list — at scale an unpinned pivot needs a distinct-scan first; pinning
    * the columns keeps it one pass). Oracle spells it as portable CASE sums.
    */
  private val corpusPivot = Q(
    (s, d) => D.documents(s, d)
      .groupBy("source")
      .pivot("lang", Seq("en", "de", "fr", "es", "zh"))
      .agg(count(lit(1)))
      .select(col("source"),
        coalesce(col("en"), lit(0L)).as("n_en"),
        coalesce(col("de"), lit(0L)).as("n_de"),
        coalesce(col("fr"), lit(0L)).as("n_fr"),
        coalesce(col("es"), lit(0L)).as("n_es"),
        coalesce(col("zh"), lit(0L)).as("n_zh"))
      .orderBy("source"),
    Some("""SELECT source,
           |  CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
           |  CAST(sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS n_de,
           |  CAST(sum(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS n_fr,
           |  CAST(sum(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS n_es,
           |  CAST(sum(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT) AS n_zh
           |FROM documents GROUP BY source ORDER BY source""".stripMargin))

  /** Heavy hitters: top-5 tokens per language by document frequency — the
    * vocabulary panel of a corpus card (and the classic top-k-per-group
    * shape: explode map-side, one (lang, token) aggregate, a k-row window
    * per group). Document frequency (distinct docs) rather than raw count so
    * a single repetitive doc can't dominate the list.
    */
  private val corpusHeavyHitters = Q(
    (s, d) => {
      val toks = D.documents(s, d).select(col("lang"), col("doc_id"),
          explode(array_distinct(
            graft.operators.Search.tokensCol(col("text")))).as("token"))
      val counts = toks.groupBy("lang", "token")
        .agg(count(lit(1)).as("df"))
      counts.withColumn("rk", row_number().over(
          Window.partitionBy("lang").orderBy(col("df").desc, col("token").asc)))
        .filter(col("rk") <= 5)
        .select(col("lang"), col("rk").cast("long").as("rk"), col("token"), col("df"))
        .orderBy("lang", "rk")
    },
    Some(s"""WITH t AS (SELECT lang, doc_id,
           |    unnest(list_distinct(${tokens("text")})) AS token
           |  FROM documents),
           |c AS (SELECT lang, token, count(*) AS df FROM t GROUP BY lang, token),
           |r AS (SELECT lang, token, df,
           |    row_number() OVER (PARTITION BY lang ORDER BY df DESC, token ASC) AS rk
           |  FROM c)
           |SELECT lang, rk, token, df FROM r WHERE rk <= 5 ORDER BY lang, rk""".stripMargin))

  /** Dataset-card statistics per (lang, source): doc/token counts, size
    * distribution, mean quality — one scan + one hash aggregation.
    */
  private val corpusStats = Q(
    (s, d) => graft.operators.TextAnalysis.corpusStats(
        D.documents(s, d).select("doc_id", "lang", "source", "text"),
        "text", Seq("lang", "source"))
      .orderBy("lang", "source"),
    Some {
      s"""WITH x AS (SELECT doc_id, lang, source, text, ${tokens("text")} AS t FROM documents),
         |sig AS (
         |  SELECT doc_id, lang, source,
         |    len(t) AS n_tokens, length(text) AS n_chars,
         |    round(coalesce(list_sum(list_transform(t, w -> length(w))), 0) / greatest(len(t), 1), 4) AS mwl,
         |    round(length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) / greatest(length(text), 1), 4) AS ar,
         |    round(len(list_filter(t, w -> w IN ($stopwordList))) / greatest(len(t), 1), 4) AS sr
         |  FROM x),
         |q AS (
         |  SELECT lang, source, n_tokens, n_chars,
         |    round(least(n_tokens / 50.0, 1.0) * 0.4 +
         |      CASE WHEN mwl BETWEEN 3.0 AND 10.0 THEN 0.2 ELSE 0 END +
         |      ar * 0.2 +
         |      CASE WHEN sr BETWEEN 0.01 AND 0.6 THEN 0.2 ELSE 0 END, 4) AS quality
         |  FROM sig)
         |SELECT lang, source, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         |  CAST(min(n_chars) AS BIGINT) AS min_chars,
         |  CAST(max(n_chars) AS BIGINT) AS max_chars,
         |  round(avg(n_chars), 2) AS avg_chars,
         |  round(avg(quality), 4) AS avg_quality
         |FROM q GROUP BY lang, source ORDER BY lang, source""".stripMargin
    })

  /** Sentence-shape signals ([[graft.operators.TextAnalysis.sentenceStats]]):
    * count + mean/max sentence length from terminal-punctuation segmentation
    * — the quality axis token stats miss.
    */
  private val textSentences = Q(
    (s, d) => graft.operators.TextAnalysis.sentenceStats(
        D.documents(s, d).select("doc_id", "text"), "text")
      .select("doc_id", "n_sentences", "mean_sentence_chars", "max_sentence_chars")
      .orderBy("doc_id"),
    Some("""SELECT doc_id,
           |  CAST(len(s) AS BIGINT) AS n_sentences,
           |  round(coalesce(list_sum(list_transform(s, x -> length(x))), 0)
           |    / greatest(len(s), 1), 4) AS mean_sentence_chars,
           |  CAST(coalesce(list_max(list_transform(s, x -> length(x))), 0) AS BIGINT)
           |    AS max_sentence_chars
           |FROM (SELECT doc_id,
           |    list_filter(regexp_split_to_array(text, '[.!?]+\s+'), x -> x <> '') AS s
           |  FROM documents)
           |ORDER BY doc_id""".stripMargin))

  /** Unicode NFC normalization ([[graft.operators.TextAnalysis.withNormalizedText]]):
    * both engines implement UAX #15, so the HASH of the normalized text is
    * gateable. The corpus is ASCII, so the query plants decomposed sequences
    * (e+combining-acute, i+combining-diaeresis) and extra spacing on every
    * row — the gate proves real composition work, not a pass-through.
    */
  private val textNormalize = Q(
    (s, d) => {
      val planted = D.documents(s, d).select(col("doc_id"),
        concat(col("text"), lit(" café  naïve\t")).as("text"))
      graft.operators.TextAnalysis.withNormalizedText(planted, "text")
        .select(col("doc_id"), md5(col("norm_text")).as("h"),
          length(col("norm_text")).cast("long").as("n_chars_norm"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, md5(norm) AS h, CAST(length(norm) AS BIGINT) AS n_chars_norm
           |FROM (SELECT doc_id,
           |    trim(regexp_replace(nfc_normalize(
           |      text || ' cafe' || chr(769) || '  nai' || chr(776) || 've' || chr(9)),
           |      '\s+', ' ', 'g')) AS norm
           |  FROM documents)
           |ORDER BY doc_id""".stripMargin))

  /** Character-entropy quality signal
    * ([[graft.operators.TextAnalysis.withCharEntropy]]): the compression-proxy
    * score (low ⇒ boilerplate, anomalously high ⇒ binary junk). abs() kills
    * the −0.0-vs-0.0 hash hazard on degenerate inputs (entropy is ≥ 0).
    */
  private val textEntropy = Q(
    (s, d) => graft.operators.TextAnalysis.withCharEntropy(D.documents(s, d), "text")
      .select(col("doc_id"), abs(col("entropy")).as("entropy"))
      .orderBy("doc_id"),
    Some("""SELECT doc_id, abs(round(-coalesce(list_sum(list_transform(cnt,
           |    c -> (c / CAST(n AS DOUBLE)) * log2(c / CAST(n AS DOUBLE)))), 0), 4)) AS entropy
           |FROM (SELECT doc_id, len(ch) AS n,
           |        list_transform(list_distinct(ch), c -> len(list_filter(ch, x -> x = c))) AS cnt
           |      FROM (SELECT doc_id,
           |              list_transform(generate_series(1, length(text)), i -> text[i:i]) AS ch
           |            FROM documents))
           |ORDER BY doc_id""".stripMargin))

  /** Per-domain provenance stats ([[graft.operators.Curation.withDomains]]):
    * the documents table has no organic URLs, so both engines append the same
    * deterministic links before extracting — URL regex, domain capture, and
    * per-domain distinct-doc counts are what the hash gate locks.
    */
  private val textDomains = Q(
    (s, d) => {
      val withUrls = D.documents(s, d).select(col("doc_id"),
        concat(col("text"),
          lit(" see https://site"), (col("doc_id") % 7).cast("string"),
          lit(".example.com/page/"), col("doc_id").cast("string"),
          when(col("doc_id") % 3 === 0, lit(" http://cdn.example.net/x"))
            .otherwise(lit(""))).as("text"))
      graft.operators.Curation.withDomains(withUrls, "text")
        .select(col("doc_id"), explode(col("domains")).as("domain"))
        .groupBy("domain").agg(count(lit(1)).as("n_docs"))
        .orderBy("domain")
    },
    Some("""WITH t AS (SELECT doc_id,
           |    text || ' see https://site' || (doc_id % 7) || '.example.com/page/' || doc_id
           |      || (CASE WHEN doc_id % 3 = 0 THEN ' http://cdn.example.net/x' ELSE '' END) AS tx
           |  FROM documents),
           |u AS (SELECT doc_id, unnest(list_distinct(list_transform(
           |    regexp_extract_all(tx, 'https?://[A-Za-z0-9.-]+(?:/[^\s]*)?'),
           |    x -> regexp_extract(x, 'https?://([A-Za-z0-9.-]+)', 1)))) AS domain
           |  FROM t)
           |SELECT domain, count(*) AS n_docs FROM u GROUP BY domain ORDER BY domain""".stripMargin))

  /** CCNet-style bigram-LM perplexity ([[graft.operators.LanguageModel]]):
    * add-α smoothed bigram model trained on the corpus itself, each document
    * scored by mean −ln p(w2|w1) and perplexity. The whole path — top-V vocab
    * cut (count-desc, token-asc tie-break), OOV→unk mapping, bigram counts,
    * left-marginal denominator, smoothing arithmetic — is replicated in
    * DuckDB, so train AND score hash-gate end to end. All double math is
    * forced to DOUBLE in the oracle (DuckDB's bare 0.1 is DECIMAL).
    */
  private val textLmPerplexity = Q(
    (s, d) => graft.operators.LanguageModel.bigramPerplexity(
        D.documents(s, d).select("doc_id", "text"), "doc_id", "text")
      .orderBy("doc_id"),
    Some(s"""WITH toks AS (
           |  SELECT doc_id, ${tokens("text")} AS ts
           |  FROM documents),
           |tok_rows AS (SELECT unnest(ts) AS tok FROM toks),
           |vocab AS (SELECT tok FROM (SELECT tok, count(*) AS c FROM tok_rows GROUP BY tok)
           |          ORDER BY c DESC, tok ASC LIMIT 4096),
           |vsz AS (SELECT count(*) + 1 AS v FROM vocab),
           |pairs AS (
           |  SELECT doc_id, unnest(list_transform(generate_series(1, len(ts) - 1),
           |    i -> {'w1': ts[i], 'w2': ts[i + 1]})) AS bg
           |  FROM toks WHERE len(ts) >= 2),
           |mapped AS (
           |  SELECT doc_id,
           |    CASE WHEN v1.tok IS NULL THEN '<unk>' ELSE p.bg['w1'] END AS w1,
           |    CASE WHEN v2.tok IS NULL THEN '<unk>' ELSE p.bg['w2'] END AS w2
           |  FROM pairs p LEFT JOIN vocab v1 ON p.bg['w1'] = v1.tok
           |               LEFT JOIN vocab v2 ON p.bg['w2'] = v2.tok),
           |bc AS (SELECT w1, w2, count(*) AS c_bg FROM mapped GROUP BY w1, w2),
           |marg AS (SELECT w1, sum(c_bg) AS c_left FROM bc GROUP BY w1),
           |scored AS (
           |  SELECT m.doc_id,
           |    -ln((COALESCE(bc.c_bg, 0) + 0.1::DOUBLE) /
           |        (COALESCE(marg.c_left, 0) + 0.1::DOUBLE * (SELECT v FROM vsz))) AS nll
           |  FROM mapped m LEFT JOIN bc USING (w1, w2) LEFT JOIN marg USING (w1)),
           |agg AS (SELECT doc_id, count(*) AS n_bigrams, avg(nll) AS a
           |        FROM scored GROUP BY doc_id)
           |SELECT d.doc_id, COALESCE(agg.n_bigrams, 0) AS n_bigrams,
           |  round(agg.a, 6) AS avg_nll, round(exp(round(agg.a, 6)), 4) AS ppl
           |FROM documents d LEFT JOIN agg USING (doc_id) ORDER BY d.doc_id""".stripMargin))

  /** Distributed prefix-doubling suffix ranks
    * ([[graft.operators.SuffixArray.prefixRanks]]): the dense rank of every
    * suffix's first 16 characters across the whole corpus. The oracle is the
    * brute-force form — `dense_rank() OVER (ORDER BY substr(text, off+1, 16))`
    * — so the gate proves the O(log L)-round doubling (per-doc `lead` shift +
    * range-partitioned two-pass global dense rank, no global window) lands on
    * the exact lexicographic ranking. ASCII corpus ⇒ Spark char-code order ==
    * DuckDB binary collation.
    */
  private val textSuffixRanks = Q(
    (s, d) => graft.operators.SuffixArray.prefixRanks(
        D.documents(s, d).select("doc_id", "text"), "doc_id", "text", targetLen = 16)
      .select(col("doc_id"), col("off").cast("long").as("off"), col("rank"))
      .orderBy("doc_id", "off"),
    Some("""WITH pos AS (SELECT doc_id, text,
           |    unnest(generate_series(0, length(text) - 1)) AS off
           |  FROM documents WHERE length(text) >= 1)
           |SELECT doc_id, off,
           |  CAST(dense_rank() OVER (ORDER BY substr(text, off + 1, 16)) AS BIGINT) AS rank
           |FROM pos ORDER BY doc_id, off""".stripMargin))

  /** Full suffix array ([[graft.operators.SuffixArray.suffixArray]]) over a
    * deterministic 20% document slice: every (doc, offset) suffix with its
    * 1-based global lexicographic rank, exact ties broken by (doc_id, off) so
    * ranks are a permutation of 1..n. The oracle is
    * `row_number() OVER (ORDER BY substr(text, off+1), doc_id, off)` — the
    * doubling runs to the longest text (O(log maxLen) rounds) with the
    * all-distinct early exit, and the gate proves the permutation matches
    * byte-order suffix sorting exactly (duplicate documents exercise the
    * cross-document tie-break for real).
    */
  private val textSuffixArray = Q(
    (s, d) => graft.operators.SuffixArray.suffixArray(
        D.documents(s, d).where(col("doc_id") % 5 === 0).select("doc_id", "text"),
        "doc_id", "text")
      .select(col("doc_id"), col("off").cast("long").as("off"), col("sa_rank"))
      .orderBy("doc_id", "off"),
    Some("""WITH t AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
           |pos AS (SELECT doc_id, text,
           |    unnest(generate_series(0, length(text) - 1)) AS off FROM t)
           |SELECT doc_id, off,
           |  CAST(row_number() OVER (ORDER BY substr(text, off + 1), doc_id, off) AS BIGINT)
           |    AS sa_rank
           |FROM pos ORDER BY doc_id, off""".stripMargin))

  /** LCP array + longest-repeated-substring mining
    * ([[graft.operators.SuffixArray.lcpArray]]): top 25 adjacent-suffix
    * longest-common-prefix lengths over the same 20% slice as
    * `text_suffix_array` — row 1 IS the corpus's longest repeated substring.
    * The oracle recomputes each pair's LCP by the monotone prefix-equality
    * count (`substr(a,1,k) = substr(b,1,k)` holds exactly for k ≤ LCP), with
    * the same 64-char cap applied by truncating the compared suffixes.
    */
  private val textLcpTopk = Q(
    (s, d) => {
      // Exercise the prebuilt-SA seam (the shape an SA+LCP+spans mining
      // session uses — the doubling loop runs once, the frame is reused):
      val docs = D.documents(s, d).where(col("doc_id") % 5 === 0)
        .select("doc_id", "text")
      val sa = graft.operators.SuffixArray.suffixArray(docs, "doc_id", "text")
      graft.operators.SuffixArray.lcpArray(docs, sa, "doc_id", "text", maxLcp = 64)
        .select(col("doc_id"), col("off").cast("long").as("off"), col("sa_rank"), col("lcp"))
        .orderBy(col("lcp").desc, col("sa_rank")).limit(25)
    },
    Some("""WITH t AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
           |pos AS (SELECT doc_id, text,
           |    unnest(generate_series(0, length(text) - 1)) AS off FROM t),
           |sa AS (SELECT doc_id, off, substr(text, off + 1, 64) AS suf,
           |    row_number() OVER (ORDER BY substr(text, off + 1), doc_id, off) AS sa_rank
           |  FROM pos),
           |lc AS (SELECT a.doc_id, a.off, a.sa_rank,
           |    CAST(len(list_filter(generate_series(1, least(len(a.suf), len(b.suf))),
           |      k -> substr(a.suf, 1, k) = substr(b.suf, 1, k))) AS BIGINT) AS lcp
           |  FROM sa a JOIN sa b ON a.sa_rank = b.sa_rank + 1)
           |SELECT doc_id, off, sa_rank, lcp FROM lc
           |ORDER BY lcp DESC, sa_rank LIMIT 25""".stripMargin))

  /** Table profiling ([[graft.operators.Profiling.profile]]): per-column
    * completeness + exact cardinality in ONE aggregation pass — the report
    * a pipeline runs before trusting a corpus drop.
    */
  private val profileColumns = Q(
    (s, d) => graft.operators.Profiling.profile(
      D.orders(s, d),
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))
      .orderBy("column"),
    Some("""WITH n AS (SELECT count(*) AS n FROM orders)
           |SELECT 'o_orderkey' AS "column", CAST(count(o_orderkey) AS BIGINT) AS n_nonnull,
           |  CAST((SELECT n FROM n) - count(o_orderkey) AS BIGINT) AS n_null,
           |  CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct FROM orders
           |UNION ALL
           |SELECT 'o_custkey', CAST(count(o_custkey) AS BIGINT),
           |  CAST((SELECT n FROM n) - count(o_custkey) AS BIGINT),
           |  CAST(count(DISTINCT o_custkey) AS BIGINT) FROM orders
           |UNION ALL
           |SELECT 'o_orderstatus', CAST(count(o_orderstatus) AS BIGINT),
           |  CAST((SELECT n FROM n) - count(o_orderstatus) AS BIGINT),
           |  CAST(count(DISTINCT o_orderstatus) AS BIGINT) FROM orders
           |UNION ALL
           |SELECT 'o_orderpriority', CAST(count(o_orderpriority) AS BIGINT),
           |  CAST((SELECT n FROM n) - count(o_orderpriority) AS BIGINT),
           |  CAST(count(DISTINCT o_orderpriority) AS BIGINT) FROM orders
           |ORDER BY "column"""".stripMargin))

  /** In-engine quality-classifier training
    * ([[graft.operators.Training.logRegGD]]): logistic regression predicting
    * lang = 'en' from three SQL-replicable features (scaled char count,
    * English-stopword ratio, distinct-token ratio), three rounds of
    * full-batch gradient descent with per-round 9dp weight rounding — the
    * [[graft.operators.Graphs.pageRank]] bit-reproducibility contract
    * applied to model training. The oracle replays every round as
    * gradient-CTE + weight-CTE pairs; output is the final model plus its
    * training accuracy.
    */
  private val qualityLrTrain = Q(
    (s, d) => {
      import s.implicits._
      val enStops = Seq("the", "a", "of", "and", "is", "to", "in")
        .map(w => s"'$w'").mkString(", ")
      val feat = D.documents(s, d)
        .withColumn("_t", graft.operators.Search.tokensCol(col("text")))
        .select(
          when(col("lang") === "en", 1.0).otherwise(0.0).as("y"),
          (col("n_chars") / lit(300.0)).as("x_chars"),
          (expr(s"size(filter(_t, t -> t IN ($enStops)))") /
            greatest(size(col("_t")), lit(1)).cast("double")).as("x_stop"),
          (expr("size(array_distinct(_t))") /
            greatest(size(col("_t")), lit(1)).cast("double")).as("x_dist"))
      val m = graft.operators.Training.logRegGD(
        feat, "y", Seq("x_chars", "x_stop", "x_dist"), iters = 3, lr = 0.5)
      val acc = graft.operators.Training.accuracy(feat, "y", m)
      Seq(
        ("bias", m.bias), ("n", m.n.toDouble), ("train_acc", acc),
        ("w_chars", m.weights(0)), ("w_dist", m.weights(2)), ("w_stop", m.weights(1)))
        .toDF("param", "value")
        .select(col("param"), round(col("value"), 6).as("value"))
        .orderBy("param")
    },
    Some {
      val grad = (i: Int) =>
        s"""ga$i AS (SELECT sum(e) AS g0, sum(e * x1) AS g1, sum(e * x2) AS g2, sum(e * x3) AS g3
           |  FROM (SELECT 1.0 / (1.0 + exp(-(b + w1 * x1 + w2 * x2 + w3 * x3))) - y AS e,
           |          x1, x2, x3
           |        FROM feat CROSS JOIN wa${i - 1})),
           |wa$i AS (SELECT round(b - 0.5 * g0 / n, 9) AS b,
           |    round(w1 - 0.5 * g1 / n, 9) AS w1,
           |    round(w2 - 0.5 * g2 / n, 9) AS w2,
           |    round(w3 - 0.5 * g3 / n, 9) AS w3
           |  FROM wa${i - 1} CROSS JOIN ga$i CROSS JOIN cnt)""".stripMargin
      val iterCtes = (1 to 3).map(grad).mkString(",\n")
      s"""WITH tok AS (SELECT lang, n_chars, ${tokens("text")} AS t FROM documents),
         |feat AS (SELECT
         |    CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
         |    n_chars / 300.0 AS x1,
         |    len(list_filter(t, w -> w IN ('the', 'a', 'of', 'and', 'is', 'to', 'in')))
         |      / CAST(greatest(len(t), 1) AS DOUBLE) AS x2,
         |    len(list_distinct(t)) / CAST(greatest(len(t), 1) AS DOUBLE) AS x3
         |  FROM tok),
         |cnt AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM feat),
         |wa0 AS (SELECT 0.0 AS b, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3),
         |$iterCtes,
         |sel AS (
         |  SELECT 'bias' AS param, b AS value FROM wa3
         |  UNION ALL SELECT 'n', n FROM cnt
         |  UNION ALL SELECT 'train_acc',
         |    (SELECT round(avg(CASE WHEN (b + w1 * x1 + w2 * x2 + w3 * x3 >= 0) = (y = 1.0)
         |                           THEN 1.0 ELSE 0.0 END), 6)
         |     FROM feat CROSS JOIN wa3)
         |  UNION ALL SELECT 'w_chars', w1 FROM wa3
         |  UNION ALL SELECT 'w_dist', w3 FROM wa3
         |  UNION ALL SELECT 'w_stop', w2 FROM wa3)
         |SELECT param, round(value, 6) AS value FROM sel ORDER BY param""".stripMargin
    })

  /** Flesch readability per document
    * ([[graft.operators.TextAnalysis.readability]]): vowel-group syllable
    * heuristic + sentence segmentation, surfaced as flesch_ease / fk_grade.
    * Counts are exact integers; the two scores involve only IEEE-exact
    * arithmetic (no transcendentals), so 4dp rounding is belt-and-braces.
    */
  private val textReadability = Q(
    (s, d) => graft.operators.TextAnalysis.readability(
        D.documents(s, d).select("doc_id", "text"), "text")
      .select("doc_id", "n_words", "n_syllables", "n_sentences_r",
        "flesch_ease", "fk_grade")
      .orderBy("doc_id"),
    Some(s"""WITH x AS (SELECT doc_id, text, ${tokens("text")} AS t FROM documents),
            |sig AS (SELECT doc_id,
            |    len(t) AS n_words,
            |    CAST(coalesce(list_sum(list_transform(t,
            |      w -> len(regexp_extract_all(w, '[aeiouy]+')))), 0) AS BIGINT) AS n_syllables,
            |    CAST(greatest(len(list_filter(regexp_split_to_array(text, '[.!?]+\\s+'),
            |      x -> x <> '')), 1) AS BIGINT) AS n_sentences_r
            |  FROM x)
            |SELECT doc_id, n_words, n_syllables, n_sentences_r,
            |  round(206.835 - 1.015 * (n_words / CAST(n_sentences_r AS DOUBLE))
            |    - 84.6 * (n_syllables / CAST(greatest(n_words, 1) AS DOUBLE)), 4) AS flesch_ease,
            |  round(0.39 * (n_words / CAST(n_sentences_r AS DOUBLE))
            |    + 11.8 * (n_syllables / CAST(greatest(n_words, 1) AS DOUBLE)) - 15.59, 4) AS fk_grade
            |FROM sig ORDER BY doc_id""".stripMargin))

  /** PMI collocation mining ([[graft.operators.TextAnalysis.collocations]]):
    * top-25 word pairs by pointwise mutual information with a min-count floor
    * of 5 — corpus-level phrase discovery (the word2vec phrase pass). One
    * pair-keyed aggregate + broadcast vocab joins; the oracle replays counts
    * and the ln exactly (6dp round absorbs libm's last ulp, the BM25-idf
    * trade).
    */
  private val textCollocations = Q(
    (s, d) => graft.operators.TextAnalysis.collocations(
      D.documents(s, d), "text", minCount = 5L, topK = 25),
    Some(s"""WITH d AS (
           |  SELECT ${tokens("text")} AS ts
           |  FROM documents),
           |pairs AS (
           |  SELECT unnest(list_zip(ts[1:len(ts)-1], ts[2:len(ts)])) AS p
           |  FROM d WHERE len(ts) >= 2),
           |bg AS (SELECT p[1] AS w1, p[2] AS w2, count(*) AS c_ab
           |  FROM pairs GROUP BY 1, 2),
           |ug AS (SELECT w, count(*) AS c_w FROM
           |  (SELECT unnest(ts) AS w FROM d) GROUP BY w),
           |n AS (SELECT sum(c_ab) AS n_total FROM bg)
           |SELECT w1, w2, c_ab,
           |  round(ln(CAST(c_ab * n_total AS DOUBLE) / (a.c_w * b.c_w)), 6) AS pmi
           |FROM bg JOIN ug a ON bg.w1 = a.w JOIN ug b ON bg.w2 = b.w CROSS JOIN n
           |WHERE c_ab >= 5
           |ORDER BY pmi DESC, w1, w2 LIMIT 25""".stripMargin))

  /** Per-doc tf-idf keywords ([[graft.operators.TextAnalysis.keywords]]):
    * top-3 terms per document — the dataset-card drill-down signal. Postings
    * exchange + vocab-keyed df join (AQE decides broadcast) + per-doc top-k
    * window; ranking cut on the 6dp-rounded score.
    */
  private val textKeywords = Q(
    (s, d) => graft.operators.TextAnalysis.keywords(
        D.documents(s, d), "doc_id", "text", topK = 3)
      .orderBy("doc_id", "rk"),
    Some(s"""WITH toks AS (SELECT doc_id,
           |    unnest(${tokens("text")}) AS term
           |  FROM documents),
           |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
           |dfv AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
           |n AS (SELECT count(*) AS n_docs FROM documents),
           |s AS (SELECT doc_id, term, tf,
           |    round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
           |  FROM tf JOIN dfv USING (term) CROSS JOIN n),
           |r AS (SELECT doc_id, term, tf, tfidf,
           |    CAST(row_number() OVER (PARTITION BY doc_id
           |      ORDER BY tfidf DESC, term) AS BIGINT) AS rk
           |  FROM s)
           |SELECT doc_id, term, tf, tfidf, rk FROM r WHERE rk <= 3
           |ORDER BY doc_id, rk""".stripMargin))

  private val textTokens = Q(
    (s, d) => graft.operators.TextAnalysis.tokenCounts(
        D.documents(s, d).select("doc_id", "text"), "text")
      .select("doc_id", "ws_tokens", "bpe_tokens", "approx_tokens")
      .orderBy("doc_id"),
    Some("""SELECT doc_id,
           |  len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS ws_tokens,
           |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS bpe_tokens,
           |  CAST(ceil(length(text) / 4.0) AS BIGINT) AS approx_tokens
           |FROM documents ORDER BY doc_id""".stripMargin))

  private val textFingerprint = Q(
    (s, d) => graft.operators.TextAnalysis.fingerprintDf(
        D.documents(s, d).select("doc_id", "text"), "text")
      .select(col("doc_id"), size(col("fingerprints")).cast("long").as("n_fp"),
        array_min(col("fingerprints")).as("min_fp"), md5(col("text")).as("h"))
      .orderBy("doc_id"),
    Some(s"""WITH $charHashesCte,
           |fp AS (
           |  SELECT doc_id, text, list_distinct(
           |    CASE WHEN len(hs) <= 5 THEN [list_min(hs)]
           |    ELSE list_transform(generate_series(1, len(hs) - 4),
           |           i -> list_min(hs[i:i+4])) END) AS fps
           |  FROM h)
           |SELECT doc_id, len(fps) AS n_fp, list_min(fps) AS min_fp, md5(text) AS h
           |FROM fp ORDER BY doc_id""".stripMargin))

  /** Jensen–Shannon token drift between the English slice and the rest of the
    * corpus ([[graft.operators.TextAnalysis.tokenDrift]]): per-token
    * contributions to JS divergence over the union vocabulary — the
    * distribution-shift monitor for a training mix, where the top
    * |contribution| tokens name the drift. One token-keyed exchange; the
    * grand totals broadcast back as a 1-row aggregate. Zero-probability
    * terms contribute exactly 0 in both engines; everything else is gated
    * at 6dp.
    */
  private val textJsDivergence = Q(
    (s, d) => graft.operators.TextAnalysis.tokenDrift(
        D.documents(s, d), "text", col("lang") === "en")
      .orderBy("token"),
    Some(s"""WITH tok AS (SELECT lang = 'en' AS a, unnest(${tokens("text")}) AS token
           |  FROM documents),
           |cnt AS (SELECT token,
           |    sum(CASE WHEN a THEN 1 ELSE 0 END) AS ca,
           |    sum(CASE WHEN a THEN 0 ELSE 1 END) AS cb
           |  FROM tok GROUP BY token),
           |tot AS (SELECT sum(ca) AS ta, sum(cb) AS tb FROM cnt),
           |pq AS (SELECT token,
           |    CAST(ca AS DOUBLE) / CAST(ta AS DOUBLE) AS p,
           |    CAST(cb AS DOUBLE) / CAST(tb AS DOUBLE) AS q
           |  FROM cnt CROSS JOIN tot)
           |SELECT token, round(p, 6) AS p, round(q, 6) AS q,
           |  round(CAST(0.5 AS DOUBLE) * (CASE WHEN p > 0 THEN p * ln(p / ((p + q) / CAST(2.0 AS DOUBLE))) ELSE CAST(0 AS DOUBLE) END)
           |      + CAST(0.5 AS DOUBLE) * (CASE WHEN q > 0 THEN q * ln(q / ((p + q) / CAST(2.0 AS DOUBLE))) ELSE CAST(0 AS DOUBLE) END), 6) AS js_contrib
           |FROM pq ORDER BY token""".stripMargin))

  /** Corpus length-histogram profile: fixed-width buckets (250 chars, capped
    * at bucket 15) per language — the dataset-card length distribution as one
    * hash-aggregate. Fixed bounds keep it a single pass (no min/max pre-scan).
    */
  private val corpusHistogram = Q(
    (s, d) => D.documents(s, d)
      .groupBy(col("lang"),
        least(lit(15L), floor(length(col("text")) / 250)).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"))
      .withColumn("lo_chars", (col("bucket") * 250).cast("long"))
      .select("lang", "bucket", "lo_chars", "n")
      .orderBy("lang", "bucket"),
    Some("""SELECT lang, CAST(least(15, length(text) // 250) AS BIGINT) AS bucket,
           |  CAST(least(15, length(text) // 250) * 250 AS BIGINT) AS lo_chars,
           |  count(*) AS n
           |FROM documents GROUP BY 1, 2, 3 ORDER BY lang, bucket""".stripMargin))

  val all: Map[String, Q] = Map(
    "text_langid" -> textLangid,
    "text_quality" -> textQuality,
    "text_repetition" -> textRepetition,
    "corpus_percentiles" -> corpusPercentiles,
    "corpus_cube" -> corpusCube,
    "corpus_pivot" -> corpusPivot,
    "corpus_heavy_hitters" -> corpusHeavyHitters,
    "corpus_stats" -> corpusStats,
    "text_sentences" -> textSentences,
    "text_normalize" -> textNormalize,
    "text_entropy" -> textEntropy,
    "text_domains" -> textDomains,
    "text_lm_perplexity" -> textLmPerplexity,
    "text_suffix_ranks" -> textSuffixRanks,
    "text_suffix_array" -> textSuffixArray,
    "text_lcp_topk" -> textLcpTopk,
    "profile_columns" -> profileColumns,
    "quality_lr_train" -> qualityLrTrain,
    "text_readability" -> textReadability,
    "text_collocations" -> textCollocations,
    "text_keywords" -> textKeywords,
    "text_tokens" -> textTokens,
    "text_fingerprint" -> textFingerprint,
    "text_js_divergence" -> textJsDivergence,
    "corpus_histogram" -> corpusHistogram)
}
