package graft.api.queries

import graft.api.Queries._
import graft.api.{Tables => D}
import graft.api.queries.OracleSql._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The composed curation pipelines and the sampling stage: filter,
  * curate, redact, decontaminate, domain caps, z-order keys, weighted,
  * stratified and mixture sampling, sequence packing and epoch shuffles.
  */
object CurationQueries {

  /** The composed curation pipeline a training-data run actually executes:
    * exact-dup flag + language-ID + quality score → one keep/drop decision per
    * document. Each signal is the operator that `dedup_exact`, `text_langid`
    * or `text_quality` gates, reused with no extra scan.
    */
  private val pipelineFilter = Q(
    (s, d) => {
      val docs = D.documents(s, d)
      val dup = docs.select(col("doc_id"), md5(col("text")).as("h"))
        .withColumn("is_dup",
          (col("doc_id") > min("doc_id").over(Window.partitionBy("h"))).cast("int"))
        .select("doc_id", "is_dup")
      val lang = graft.operators.TextAnalysis.langId(
          docs.select("doc_id", "text"), "text").select("doc_id", "pred_lang")
      val quality = graft.operators.TextAnalysis.qualitySignals(
          docs.select("doc_id", "text"), "text")
        .select(col("doc_id"), col("quality_score"), col("n_tokens"))
      dup.join(lang, "doc_id").join(quality, "doc_id")
        .withColumn("keep",
          (col("is_dup") === 0 && col("pred_lang") === "en" &&
            col("quality_score") >= 0.5 && col("n_tokens") >= 10).cast("int"))
        .select("doc_id", "is_dup", "pred_lang", "quality_score", "keep")
        .orderBy("doc_id")
    },
    Some {
      s"""WITH x AS (SELECT doc_id, text, ${tokens("text")} AS t FROM documents),
         |dup AS (
         |  SELECT doc_id,
         |    CAST(doc_id > min(doc_id) OVER (PARTITION BY md5(text)) AS INT) AS is_dup
         |  FROM documents),
         |lang AS (
         |  SELECT doc_id, $langScoresSql FROM x),
         |langp AS (
         |  SELECT doc_id,
         |$predLangSql
         |  FROM lang),
         |sig AS (
         |  SELECT doc_id, len(t) AS n_tokens,
         |    round(coalesce(list_sum(list_transform(t, w -> length(w))), 0) / greatest(len(t), 1), 4) AS mean_word_len,
         |    round(length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) / greatest(length(text), 1), 4) AS alnum_ratio,
         |    round(len(list_filter(t, w -> w IN ($stopwordList))) / greatest(len(t), 1), 4) AS stopword_ratio
         |  FROM x),
         |q AS (
         |  SELECT doc_id, n_tokens,
         |    round(least(n_tokens / 50.0, 1.0) * 0.4 +
         |      CASE WHEN mean_word_len BETWEEN 3.0 AND 10.0 THEN 0.2 ELSE 0 END +
         |      alnum_ratio * 0.2 +
         |      CASE WHEN stopword_ratio BETWEEN 0.01 AND 0.6 THEN 0.2 ELSE 0 END, 4) AS quality_score
         |  FROM sig)
         |SELECT dup.doc_id, is_dup, pred_lang, quality_score,
         |  CAST(is_dup = 0 AND pred_lang = 'en' AND quality_score >= 0.5 AND n_tokens >= 10 AS INT) AS keep
         |FROM dup JOIN langp ON dup.doc_id = langp.doc_id JOIN q ON dup.doc_id = q.doc_id
         |ORDER BY dup.doc_id""".stripMargin
    })

  /** Capstone curation pipeline composing the pipeline operators end-to-end:
    * line-level boilerplate removal → quality gate on the CLEANED text →
    * simhash near-dup removal (keep min doc id per fingerprint) → per-language
    * survivor statistics. One declarative plan; every stage reuses the
    * oracle-gated operator it composes.
    */
  private val pipelineCuration = Q(
    (s, d) => {
      // expressed through the config-driven Pipeline API — hashing against the
      // same oracle proves the wrapper composes the stages identically to the
      // hand-written plan it replaced
      val curated = graft.operators.Pipeline.curate(
        D.documents(s, d).select("doc_id", "lang", "text"), "doc_id", "text",
        graft.operators.Pipeline.CurationConfig(
          lineDedupMaxOccurrences = Some(2),
          minTokens = 40, minQuality = 0.5,
          nearDedup = true))
      curated.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("total_tokens"))
        .orderBy("lang")
    },
    Some {
      s"""WITH base AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM documents),
         |$lineDedupCtes,
         |tk AS (SELECT r.doc_id, d.lang, r.cleaned,
         |         ${tokens("r.cleaned")} AS t
         |       FROM reb r JOIN documents d USING(doc_id)),
         |sig AS (SELECT doc_id, lang, t, len(t) AS n_tokens,
         |    round(coalesce(list_sum(list_transform(t, w -> length(w))), 0) / greatest(len(t), 1), 4) AS mwl,
         |    round(length(regexp_replace(lower(cleaned), '[^a-z0-9 ]', '', 'g')) / greatest(length(cleaned), 1), 4) AS ar,
         |    round(len(list_filter(t, w -> w IN ($stopwordList))) / greatest(len(t), 1), 4) AS sr
         |  FROM tk),
         |q AS (SELECT doc_id, lang, t, n_tokens,
         |    round(least(n_tokens / 50.0, 1.0) * 0.4 +
         |      CASE WHEN mwl BETWEEN 3.0 AND 10.0 THEN 0.2 ELSE 0 END +
         |      ar * 0.2 +
         |      CASE WHEN sr BETWEEN 0.01 AND 0.6 THEN 0.2 ELSE 0 END, 4) AS quality
         |  FROM sig),
         |kept AS (SELECT doc_id, lang, n_tokens,
         |    CAST(coalesce(list_sum(list_transform(generate_series(1, 16), j ->
         |      CASE WHEN coalesce(list_sum(list_transform(list_transform(t, x -> md5(x)), x ->
         |        CASE WHEN strpos('0123456789abcdef', x[j:j]) >= 9 THEN 1 ELSE -1 END)), 0) > 0
         |      THEN 1 << (j - 1) ELSE 0 END)), 0) AS BIGINT) AS fp
         |  FROM q WHERE n_tokens >= 40 AND quality >= 0.5),
         |uniq AS (SELECT * FROM kept QUALIFY doc_id = min(doc_id) OVER (PARTITION BY fp))
         |SELECT lang, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens
         |FROM uniq GROUP BY lang ORDER BY lang""".stripMargin
    })

  /** THE capstone gate: the ENTIRE config-driven curation pipeline —
    * line-dedup → token/quality gates → simhash near-dedup → per-domain cap →
    * benchmark decontamination → stratified mixture sampling — one
    * declarative plan through [[graft.operators.Pipeline.curate]], and the
    * whole per-doc survivor list hash-matched against a single DuckDB
    * replication of all six stages. URLs are planted (7 sites) so the domain
    * cap has site identity; the benchmark is every 41st doc's RAW text.
    */
  private val pipelineFull = Q(
    (s, d) => {
      val planted = D.documents(s, d).select(col("doc_id"), col("lang"),
        concat(col("text"), lit(" https://site"), (col("doc_id") % 7).cast("string"),
          lit(".example.com/p/"), col("doc_id").cast("string")).as("text"))
      val bench = D.documents(s, d).filter(col("doc_id") % 41 === 0)
        .select(col("doc_id").as("bench_id"), col("text").as("bench_text"))
      graft.operators.Pipeline.curate(
          planted, "doc_id", "text",
          graft.operators.Pipeline.CurationConfig(
            lineDedupMaxOccurrences = Some(2),
            minTokens = 40, minQuality = 0.5,
            nearDedup = true,
            domainCap = Some(40),
            sampleRates = Some(Map("en" -> 0.8, "de" -> 1.0)),
            sampleDefaultRate = 0.5),
          benchmark = Some((bench, "bench_id", "bench_text")),
          stratumCol = Some("lang"))
        .select(col("doc_id"), col("lang"), col("n_tokens").cast("long").as("n_tokens"))
        .orderBy("doc_id")
    },
    Some {
      def hex(r: Double) = graft.operators.Curation.rateThresholdHex(r)
      s"""WITH docs0 AS (SELECT doc_id, lang,
         |    text || ' https://site' || (doc_id % 7) || '.example.com/p/' || doc_id AS text
         |  FROM documents),
         |base AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM docs0),
         |$lineDedupCtes,
         |tk AS (SELECT r.doc_id, d.lang, r.cleaned,
         |         ${tokens("r.cleaned")} AS t
         |       FROM reb r JOIN docs0 d USING(doc_id)),
         |sig AS (SELECT doc_id, lang, cleaned, t, len(t) AS n_tokens,
         |    round(coalesce(list_sum(list_transform(t, w -> length(w))), 0) / greatest(len(t), 1), 4) AS mwl,
         |    round(length(regexp_replace(lower(cleaned), '[^a-z0-9 ]', '', 'g')) / greatest(length(cleaned), 1), 4) AS ar,
         |    round(len(list_filter(t, w -> w IN ($stopwordList))) / greatest(len(t), 1), 4) AS sr
         |  FROM tk),
         |q AS (SELECT doc_id, lang, cleaned, t, n_tokens,
         |    round(least(n_tokens / 50.0, 1.0) * 0.4 +
         |      CASE WHEN mwl BETWEEN 3.0 AND 10.0 THEN 0.2 ELSE 0 END +
         |      ar * 0.2 +
         |      CASE WHEN sr BETWEEN 0.01 AND 0.6 THEN 0.2 ELSE 0 END, 4) AS quality
         |  FROM sig),
         |kept AS (SELECT doc_id, lang, cleaned, t, n_tokens,
         |    CAST(coalesce(list_sum(list_transform(generate_series(1, 16), j ->
         |      CASE WHEN coalesce(list_sum(list_transform(list_transform(t, x -> md5(x)), x ->
         |        CASE WHEN strpos('0123456789abcdef', x[j:j]) >= 9 THEN 1 ELSE -1 END)), 0) > 0
         |      THEN 1 << (j - 1) ELSE 0 END)), 0) AS BIGINT) AS fp
         |  FROM q WHERE n_tokens >= 40 AND quality >= 0.5),
         |uniq AS (SELECT * FROM kept QUALIFY doc_id = min(doc_id) OVER (PARTITION BY fp)),
         |dom AS (SELECT *, list_extract(list_distinct(list_transform(
         |    regexp_extract_all(cleaned, 'https?://[A-Za-z0-9.-]+(?:/[^\\s]*)?'),
         |    u -> regexp_extract(u, 'https?://([A-Za-z0-9.-]+)', 1))), 1) AS d1
         |  FROM uniq),
         |cap AS (SELECT * FROM dom QUALIFY
         |  row_number() OVER (PARTITION BY d1 ORDER BY length(cleaned) DESC, doc_id ASC) <= 40),
         |csh AS (SELECT doc_id, CASE WHEN len(t) < 13 THEN [array_to_string(t, ' ')]
         |    ELSE list_transform(generate_series(1, len(t) - 12),
         |           i -> array_to_string(t[i:i+12], ' ')) END AS sh FROM cap),
         |cng AS (SELECT doc_id, unnest(sh) AS ng FROM csh),
         |btoks AS (SELECT doc_id,
         |    ${tokens("text")} AS t
         |  FROM documents WHERE doc_id % 41 = 0),
         |bsh AS (SELECT doc_id, CASE WHEN len(t) < 13 THEN [array_to_string(t, ' ')]
         |    ELSE list_transform(generate_series(1, len(t) - 12),
         |           i -> array_to_string(t[i:i+12], ' ')) END AS sh FROM btoks),
         |bng AS (SELECT DISTINCT unnest(sh) AS ng FROM bsh),
         |contaminated AS (SELECT DISTINCT doc_id FROM cng JOIN bng USING (ng)),
         |clean AS (SELECT cap.* FROM cap LEFT JOIN contaminated c USING (doc_id)
         |  WHERE c.doc_id IS NULL),
         |samp AS (SELECT * FROM clean WHERE CASE lang
         |    WHEN 'en' THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) < '${hex(0.8)}'
         |    WHEN 'de' THEN TRUE
         |    ELSE substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) < '${hex(0.5)}' END)
         |SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens
         |FROM samp ORDER BY doc_id""".stripMargin
    })

  /** PII redaction ([[graft.operators.Curation.redactPii]]): the documents table
    * has no organic PII, so both engines append the SAME deterministic
    * synthetic contacts (email always; phone on even ids; ip on ids%3==0)
    * before redacting — regex semantics, replacement order, and counts are
    * what the hash gate locks.
    */
  private val pipelineRedactPii = Q(
    (s, d) => {
      val pii = D.documents(s, d).select(col("doc_id"),
        concat(
          col("text"),
          lit(" contact user"), col("doc_id").cast("string"), lit("@example.com"),
          when(col("doc_id") % 2 === 0,
            concat(lit(" call +1 555 0"),
              lpad((col("doc_id") % 1000).cast("string"), 3, "0"))).otherwise(lit("")),
          when(col("doc_id") % 3 === 0,
            concat(lit(" host 10.0."), (col("doc_id") % 256).cast("string"), lit(".7")))
            .otherwise(lit(""))).as("text"))
      graft.operators.Curation.redactPii(pii, "text")
        .select(col("doc_id"), md5(col("redacted")).as("h"),
          col("n_emails"), col("n_ips"), col("n_phones"))
        .orderBy("doc_id")
    },
    Some("""WITH pii AS (SELECT doc_id,
           |    text || ' contact user' || doc_id || '@example.com'
           |      || (CASE WHEN doc_id % 2 = 0
           |          THEN ' call +1 555 0' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
           |          ELSE '' END)
           |      || (CASE WHEN doc_id % 3 = 0
           |          THEN ' host 10.0.' || (doc_id % 256) || '.7' ELSE '' END) AS t
           |  FROM documents)
           |SELECT doc_id,
           |  md5(regexp_replace(regexp_replace(regexp_replace(t,
           |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
           |    '\+\d{1,3} \d{3} \d{4}', '<PHONE>', 'g')) AS h,
           |  CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
           |  CAST(len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
           |  CAST(len(regexp_extract_all(t, '\+\d{1,3} \d{3} \d{4}')) AS BIGINT) AS n_phones
           |FROM pii ORDER BY doc_id""".stripMargin))

  /** Benchmark decontamination ([[graft.operators.Curation.decontaminate]]):
    * 13-gram overlap flags, benchmark = every 41st document (a stand-in
    * benchmark corpus drawn from the same table so the oracle sees it too).
    * The corpus side joins the broadcast benchmark hash set — no corpus
    * shuffle; the oracle joins raw ngrams (same flags barring a 64-bit hash
    * collision).
    */
  private val pipelineDecontaminate = Q(
    (s, d) => {
      val docs = D.documents(s, d)
      val bench = docs.filter(col("doc_id") % 41 === 0)
        .select(col("doc_id").as("bench_id"), col("text").as("bench_text"))
      graft.operators.Curation.decontaminate(
          docs, bench, "doc_id", "text", "bench_id", "bench_text", n = 13)
        .orderBy("doc_id")
    },
    Some(s"""WITH toks AS (SELECT doc_id,
           |    ${tokens("text")} AS t
           |  FROM documents),
           |sh AS (SELECT doc_id, CASE WHEN len(t) < 13 THEN [array_to_string(t, ' ')]
           |    ELSE list_transform(generate_series(1, len(t) - 12),
           |           i -> array_to_string(t[i:i+12], ' ')) END AS sh FROM toks),
           |doc_ng AS (SELECT doc_id, unnest(sh) AS ng FROM sh),
           |bench_ng AS (SELECT DISTINCT ng FROM doc_ng WHERE doc_id % 41 = 0),
           |hits AS (SELECT d.doc_id, count(DISTINCT d.ng) AS n
           |  FROM doc_ng d JOIN bench_ng b USING (ng) GROUP BY d.doc_id)
           |SELECT doc_id, CAST(coalesce(n, 0) AS BIGINT) AS n_contaminated_ngrams,
           |  coalesce(n, 0) > 0 AS contaminated
           |FROM documents LEFT JOIN hits USING (doc_id) ORDER BY doc_id""".stripMargin))

  /** Z-order clustering key ([[graft.operators.ZOrder]]): the Morton
    * bit-interleave of (l_partkey, l_suppkey) that [[graft.operators.ZOrder.clusterByMorton]]
    * range-partitions clustered writes on. The Spark expression and the
    * oracle's bit arithmetic are generated from the same Scala loop, so the
    * gate pins the exact key. ZOrderSpec covers the layout half (per-file
    * min/max tiles shrink).
    */
  private val zorderKey = Q(
    (s, d) => D.lineitem(s, d).select(
        col("l_orderkey"), col("l_linenumber"),
        graft.operators.ZOrder.mortonKey(
          col("l_partkey").cast("long").bitwiseAND(lit(65535L)),
          col("l_suppkey").cast("long").bitwiseAND(lit(65535L)), 16).as("zkey"))
      .orderBy("zkey", "l_orderkey", "l_linenumber"),
    Some(s"""SELECT l_orderkey, l_linenumber,
            |  ${graft.operators.ZOrder.mortonSql(
                  "l_partkey::BIGINT & 65535", "l_suppkey::BIGINT & 65535", 16)} AS zkey
            |FROM lineitem ORDER BY zkey, l_orderkey, l_linenumber""".stripMargin))

  /** Weighted sampling without replacement
    * ([[graft.operators.Curation.weightedSample]], Efraimidis–Spirakis):
    * top-30 docs per language by ln(u)/w with w = max(1, |text|). The uniform
    * draw is the shared exact-integer hash32 (Spark `conv`, oracle digit-sum
    * generated from the same constant table), so the gate pins the exact
    * sample, not just its size.
    */
  private val sampleWeighted = Q(
    (s, d) => graft.operators.Curation.weightedSample(
        D.documents(s, d).select(col("doc_id"), col("lang"),
          greatest(length(col("text")), lit(1)).cast("long").as("w")),
        "doc_id", "lang", "w", n = 30, salt = "w1")
      .select("lang", "doc_id", "es_key")
      .orderBy(col("lang"), col("es_key").desc, col("doc_id")),
    Some(s"""WITH h AS (SELECT doc_id, lang,
            |    substring(md5('w1' || CAST(doc_id AS VARCHAR)), 1, 8) AS hx,
            |    CAST(greatest(length(text), 1) AS BIGINT) AS w FROM documents),
            |v AS (SELECT doc_id, lang, w,
            |    ${graft.operators.Curation.hash32DigitSumSql("hx")} AS hv FROM h),
            |k AS (SELECT doc_id, lang,
            |    round(ln((hv + 0.5::DOUBLE) / 4294967296.0::DOUBLE) / w, 9) AS es_key
            |  FROM v),
            |r AS (SELECT doc_id, lang, es_key,
            |    row_number() OVER (PARTITION BY lang ORDER BY es_key DESC, doc_id ASC) AS rn
            |  FROM k)
            |SELECT lang, doc_id, es_key FROM r WHERE rn <= 30
            |ORDER BY lang, es_key DESC, doc_id""".stripMargin))

  /** Per-domain document cap ([[graft.operators.Curation.capPerKey]] over
    * [[graft.operators.Curation.withDomains]]'s first domain): keep the 40
    * largest docs per domain — the C4/RefinedWeb boilerplate-site guard.
    */
  private val curateDomainCap = Q(
    (s, d) => {
      val withUrls = D.documents(s, d).select(col("doc_id"),
        concat(col("text"), lit(" https://site"), (col("doc_id") % 7).cast("string"),
          lit(".example.com/p/"), col("doc_id").cast("string")).as("text"))
      val dd = graft.operators.Curation.withDomains(withUrls, "text")
        .select(col("doc_id"), element_at(col("domains"), 1).as("domain"),
          length(col("text")).cast("long").as("sz"))
      graft.operators.Curation.capPerKey(dd, "domain", "doc_id", "sz", n = 40)
        .select("domain", "doc_id", "sz").orderBy("domain", "doc_id")
    },
    Some("""WITH t AS (SELECT doc_id,
           |    text || ' https://site' || (doc_id % 7) || '.example.com/p/' || doc_id AS tx
           |  FROM documents),
           |d AS (SELECT doc_id,
           |    list_extract(list_distinct(list_transform(
           |      regexp_extract_all(tx, 'https?://[A-Za-z0-9.-]+(?:/[^\s]*)?'),
           |      x -> regexp_extract(x, 'https?://([A-Za-z0-9.-]+)', 1))), 1) AS domain,
           |    CAST(length(tx) AS BIGINT) AS sz FROM t),
           |r AS (SELECT domain, doc_id, sz,
           |    row_number() OVER (PARTITION BY domain ORDER BY sz DESC, doc_id ASC) AS rn
           |  FROM d)
           |SELECT domain, doc_id, sz FROM r WHERE rn <= 40
           |ORDER BY domain, doc_id""".stripMargin))

  /** Target corpus shares for the mixture planner (shared between the Spark
    * call and the generated oracle CASE).
    */
  private val planShares = Seq("en" -> 0.5, "de" -> 0.2, "fr" -> 0.2)

  /** Mixture-rate planning ([[graft.operators.Curation.mixturePlan]]): from
    * target per-language shares and a token budget to the per-language keep
    * rates that stratifiedSample executes — the planning half of training-mix
    * construction, one |strata|-row aggregate.
    */
  private val sampleMixturePlan = Q(
    (s, d) => graft.operators.Curation.mixturePlan(
        D.documents(s, d).select(col("lang"),
          size(expr("filter(split(text, '\\\\s+'), x -> x != '')")).cast("long")
            .as("n_tok")),
        "lang", "n_tok", planShares.toMap, budget = 100000L)
      .orderBy("lang"),
    Some(s"""SELECT lang, count(*) AS n_docs,
            |  CAST(sum(len(list_filter(regexp_split_to_array(text, '\\s+'),
            |    x -> x <> ''))) AS BIGINT) AS n_tokens,
            |  ${planShares.map { case (k, v) => s"WHEN lang = '$k' THEN ${v}::DOUBLE" }
                 .mkString("CASE ", " ", " ELSE 0.0::DOUBLE END")} AS target_share,
            |  round(least(1.0::DOUBLE,
            |    100000.0::DOUBLE * ${planShares.map { case (k, v) => s"WHEN lang = '$k' THEN ${v}::DOUBLE" }
                 .mkString("CASE ", " ", " ELSE 0.0::DOUBLE END")}
            |    / greatest(CAST(sum(len(list_filter(regexp_split_to_array(text, '\\s+'),
            |        x -> x <> ''))) AS DOUBLE), 1.0::DOUBLE)), 6) AS rate
            |FROM documents GROUP BY lang ORDER BY lang""".stripMargin))

  /** Training-mix rates for the stratified-sampling query (shared between the
    * Spark call and the generated oracle CASE so they can never drift).
    */
  private val mixRates = Seq("en" -> 0.5, "de" -> 0.25, "fr" -> 0.1)

  private val mixDefault = 0.05

  /** Reproducible stratified sampling
    * ([[graft.operators.Curation.stratifiedSample]]): per-language keep rates
    * decided by an md5 threshold compare — rerun-stable at any parallelism.
    * The oracle CASE is generated from the same rate table and threshold
    * function, so the hash gate pins the exact draw, not just the rates.
    */
  private val sampleStratified = Q(
    (s, d) => graft.operators.Curation.stratifiedSample(
        D.documents(s, d), "doc_id", "lang",
        mixRates.toMap, defaultRate = mixDefault)
      .select(col("doc_id"), col("lang"))
      .orderBy("doc_id"),
    Some {
      def hex(r: Double) = graft.operators.Curation.rateThresholdHex(r)
      val arms = mixRates.map { case (l, r) => s"WHEN '$l' THEN '${hex(r)}'" }
        .mkString(" ")
      s"""SELECT doc_id, lang FROM documents
         |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) <
         |  CASE lang $arms ELSE '${hex(mixDefault)}' END
         |ORDER BY doc_id""".stripMargin
    })

  /** Token-budget shard packing ([[graft.operators.Curation.packByTokenBudget]]):
    * documents virtually concatenate in (source, doc_id) order and cut every
    * 5000 chars into training shards — a distributed prefix sum (per-bucket
    * windows + a #buckets-row offset table), never a global single-partition
    * window. The oracle computes the same two-level cumulative math.
    */
  /** Fixed-length sequence packing ([[graft.operators.Curation.packSequences]]):
    * the 2048-token pretraining pack as pure offset metadata — every doc's
    * global offset, sequence range, and span count, cut positions included.
    * Same distributed prefix sum as `sample_pack_shards`; the whole layout is
    * hash-gated.
    */
  private val samplePackSequences = Q(
    (s, d) => graft.operators.Curation.packSequences(
        D.documents(s, d).select("doc_id", "source", "n_chars"),
        bucketCol = "source", orderCol = "doc_id",
        tokensCol = "n_chars", seqLen = 2048L)
      .select(col("doc_id"), col("global_offset"),
        col("seq_start"), col("seq_end"), col("n_seqs"))
      .orderBy("doc_id"),
    Some("""WITH bt AS (SELECT source, sum(n_chars) AS t FROM documents GROUP BY source),
           |off AS (SELECT source, CAST(coalesce(sum(t) OVER (ORDER BY source
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS o
           |  FROM bt),
           |w AS (SELECT doc_id, source, n_chars,
           |    CAST(coalesce(sum(n_chars) OVER (PARTITION BY source
           |      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           |      AS before FROM documents),
           |g AS (SELECT doc_id, n_chars, o + before AS global_offset
           |  FROM w JOIN off USING (source))
           |SELECT doc_id, global_offset,
           |  global_offset // 2048 AS seq_start,
           |  CASE WHEN n_chars > 0 THEN (global_offset + n_chars - 1) // 2048
           |       ELSE global_offset // 2048 END AS seq_end,
           |  CASE WHEN n_chars > 0
           |       THEN (global_offset + n_chars - 1) // 2048 - global_offset // 2048 + 1
           |       ELSE 0 END AS n_seqs
           |FROM g ORDER BY doc_id""".stripMargin))

  private val samplePackShards = Q(
    (s, d) => graft.operators.Curation.packByTokenBudget(
        D.documents(s, d).select("doc_id", "source", "n_chars"),
        bucketCol = "source", orderCol = "doc_id",
        tokensCol = "n_chars", budget = 5000L)
      .select(col("doc_id"), col("source"), col("shard_id"))
      .orderBy("doc_id"),
    Some("""WITH bt AS (SELECT source, sum(n_chars) AS t FROM documents GROUP BY source),
           |off AS (SELECT source, CAST(coalesce(sum(t) OVER (ORDER BY source
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS o
           |  FROM bt),
           |w AS (SELECT doc_id, source, CAST(coalesce(sum(n_chars) OVER (PARTITION BY source
           |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS before
           |  FROM documents)
           |SELECT w.doc_id, w.source, CAST(floor((o + before) / 5000) AS BIGINT) AS shard_id
           |FROM w JOIN off USING (source) ORDER BY doc_id""".stripMargin))

  /** Deterministic per-epoch training-order shuffle
    * ([[graft.operators.Curation.epochShuffle]]): shard and within-shard
    * position are pure functions of (doc_id, epoch) — the oracle re-deals the
    * identical order from the same md5 draw, proving reruns and re-partitions
    * cannot change what the loader streams. Per-row hash + per-shard windows;
    * no global sort.
    */
  private val sampleEpochShuffle = Q(
    (s, d) => graft.operators.Curation.epochShuffle(
        D.documents(s, d).select("doc_id"), "doc_id", epoch = 3, nShards = 8)
      .select(col("doc_id"), col("shard_id"), col("shard_pos"))
      .orderBy("doc_id"),
    Some(s"""WITH h AS (SELECT doc_id,
            |    substring(md5('epoch3:' || CAST(doc_id AS VARCHAR)), 1, 8) AS hx
            |  FROM documents),
            |v AS (SELECT doc_id,
            |    CAST(${graft.operators.Curation.hash32DigitSumSql("hx")} AS BIGINT) AS hv
            |  FROM h)
            |SELECT doc_id, hv % 8 AS shard_id,
            |  CAST(row_number() OVER (PARTITION BY hv % 8 ORDER BY hv, doc_id) - 1
            |    AS BIGINT) AS shard_pos
            |FROM v ORDER BY doc_id""".stripMargin))

  val all: Map[String, Q] = Map(
    "pipeline_filter" -> pipelineFilter,
    "pipeline_curation" -> pipelineCuration,
    "pipeline_full" -> pipelineFull,
    "pipeline_redact_pii" -> pipelineRedactPii,
    "pipeline_decontaminate" -> pipelineDecontaminate,
    "zorder_key" -> zorderKey,
    "sample_weighted" -> sampleWeighted,
    "curate_domain_cap" -> curateDomainCap,
    "sample_mixture_plan" -> sampleMixturePlan,
    "sample_stratified" -> sampleStratified,
    "sample_pack_sequences" -> samplePackSequences,
    "sample_pack_shards" -> samplePackShards,
    "sample_epoch_shuffle" -> sampleEpochShuffle)
}
