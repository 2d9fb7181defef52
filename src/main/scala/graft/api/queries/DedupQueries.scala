package graft.api.queries

import graft.api.Queries._
import graft.api.{Tables => D}
import graft.api.queries.OracleSql._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication and decontamination: exact, minhash/LSH, simhash,
  * n-gram and embedding near-dups, clusters, substring spans over the
  * suffix array, similarity joins and the bloom-filter benchmark gate.
  */
object DedupQueries {

  private val dedupExact = Q(
    (s, d) => D.documents(s, d)
      .select(col("doc_id"), md5(col("text")).as("h"))
      .withColumn("is_dup",
        (col("doc_id") > min("doc_id").over(Window.partitionBy("h"))).cast("int"))
      .orderBy("doc_id"),
    Some("""SELECT doc_id, md5(text) AS h,
           |  CAST(doc_id > min(doc_id) OVER (PARTITION BY md5(text)) AS INT) AS is_dup
           |FROM documents ORDER BY doc_id""".stripMargin))

  private val dedupMinhashLsh = Q(
    (s, d) => graft.operators.Dedup.minhashLsh(D.documents(s, d), "doc_id", "text")
      .select(col("doc_id"), col("sig0"), col("sig1"), col("sig2"), col("sig3"),
        col("b0_size").cast("long").as("b0_size"),
        col("b1_size").cast("long").as("b1_size"), col("is_candidate"))
      .orderBy("doc_id"),
    Some(s"""WITH $shinglesCte,
            |$minhashSigCtes,
            |z AS (SELECT doc_id, sig0, sig1, sig2, sig3,
            |  count(*) OVER (PARTITION BY sig0 || sig1) AS b0_size,
            |  count(*) OVER (PARTITION BY sig2 || sig3) AS b1_size FROM sig)
            |SELECT doc_id, sig0, sig1, sig2, sig3, b0_size, b1_size,
            |  CAST(b0_size > 1 OR b1_size > 1 AS INT) AS is_candidate
            |FROM z ORDER BY doc_id""".stripMargin))

  /** Incremental dedup-on-arrival ([[graft.operators.Dedup.incrementalNearDups]]):
    * docs 400+ arrive as the "new batch" and gate against the persisted
    * signature table of docs 0..399 — the corpus side contributes only its
    * narrow signature columns, never text, and the new batch broadcasts.
    */
  private val dedupIncremental = Q(
    (s, d) => {
      val docs = D.documents(s, d)
      val existingSigs = graft.operators.Dedup.minhashSignatures(
          docs.filter(col("doc_id") < 400), "doc_id", "text")
        .withColumnRenamed("doc_id", "ex_id")
      graft.operators.Dedup.incrementalNearDups(
          docs.filter(col("doc_id") >= 400), existingSigs, "doc_id", "text")
        .orderBy("doc_id")
    },
    Some(s"""WITH $shinglesCte,
            |$minhashSigCtes,
            |b AS (SELECT doc_id, sig0 || sig1 AS band0, sig2 || sig3 AS band1 FROM sig),
            |exb AS (SELECT doc_id AS ex_id, unnest([band0, band1]) AS band
            |        FROM b WHERE doc_id < 400),
            |newb AS (SELECT doc_id, unnest([band0, band1]) AS band
            |         FROM b WHERE doc_id >= 400),
            |hits AS (SELECT doc_id, min(ex_id) AS dup_of
            |         FROM newb JOIN exb USING (band) GROUP BY doc_id)
            |SELECT d.doc_id, hits.dup_of, hits.dup_of IS NOT NULL AS is_dup
            |FROM (SELECT doc_id FROM documents WHERE doc_id >= 400) d
            |LEFT JOIN hits USING (doc_id) ORDER BY doc_id""".stripMargin))

  /** The LSH candidate-pair JOIN itself (bucket-local self-join + exact Jaccard
    * verify) — the path that replaces all-pairs at scale. Gated separately from
    * dedup_minhash_lsh, which only checks signatures/band occupancy.
    */
  private val dedupLshPairs = Q(
    (s, d) => graft.operators.Dedup.minhashCandidatePairs(
        D.documents(s, d), "doc_id", "text", minJaccard = 0.2)
      .orderBy(col("jaccard").desc, col("id_a").asc, col("id_b").asc).limit(20),
    Some(s"""WITH $shinglesCte,
            |m AS (SELECT doc_id, list_transform(sh, s -> md5(s)) AS m FROM sh),
            |b AS (SELECT doc_id,
            |  list_min(list_transform(m, x -> substring(x, 1, 8))) ||
            |  list_min(list_transform(m, x -> substring(x, 9, 8))) AS band0 FROM m),
            |dsh AS (SELECT doc_id, list_distinct(sh) AS sh FROM sh),
            |pairs AS (
            |  SELECT a.doc_id AS id_a, c.doc_id AS id_b,
            |    len(list_intersect(x.sh, y.sh)) AS inter,
            |    len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh)) AS uni
            |  FROM b a JOIN b c ON a.band0 = c.band0 AND a.doc_id < c.doc_id
            |  JOIN dsh x ON x.doc_id = a.doc_id
            |  JOIN dsh y ON y.doc_id = c.doc_id)
            |SELECT id_a, id_b, round(inter / uni, 6) AS jaccard FROM pairs
            |WHERE inter / uni >= 0.2
            |ORDER BY round(inter / uni, 6) DESC, id_a, id_b LIMIT 20""".stripMargin))

  /** C4-style line-level boilerplate removal, compared by md5 of the rebuilt
    * text (keeps oracle rows narrow).
    */
  private val dedupLines = Q(
    (s, d) => graft.operators.Dedup.lineDedup(D.documents(s, d), "doc_id", "text",
        maxOccurrences = 2)
      .select(col("doc_id"), col("n_lines"), col("n_kept"), md5(col("cleaned")).as("h"))
      .orderBy("doc_id"),
    Some("""WITH base AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM documents),
           |idx AS (SELECT doc_id, unnest(generate_series(1, len(ls))) AS i, ls FROM base),
           |lines AS (SELECT doc_id, i, ls[i] AS line FROM idx),
           |cnt AS (SELECT line, count(*) AS c FROM lines GROUP BY line),
           |joined AS (SELECT l.doc_id, l.i, l.line, c.c FROM lines l JOIN cnt c USING(line))
           |SELECT doc_id, count(*) AS n_lines,
           |  CAST(sum(CASE WHEN c <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           |  md5(coalesce(string_agg(CASE WHEN c <= 2 THEN line END, chr(10) ORDER BY i), '')) AS h
           |FROM joined GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  private val dedupSimhash = Q(
    (s, d) => D.documents(s, d)
      .select(col("doc_id"), graft.operators.Dedup.simhash16("text").as("fp"))
      .orderBy("doc_id"),
    Some(s"""SELECT doc_id, CAST(coalesce(list_sum(list_transform(generate_series(1, 16), j ->
            |  CASE WHEN coalesce(list_sum(list_transform(m, x ->
            |    CASE WHEN strpos('0123456789abcdef', x[j:j]) >= 9 THEN 1 ELSE -1 END)), 0) > 0
            |  THEN 1 << (j - 1) ELSE 0 END)), 0) AS BIGINT) AS fp
            |FROM (SELECT doc_id, list_transform(${tokens("text")}, t -> md5(t)) AS m FROM documents)
            |ORDER BY doc_id""".stripMargin))

  private val dedupNgramJaccard = Q(
    (s, d) => graft.operators.Dedup.ngramJaccardPairs(
        D.documents(s, d).filter(col("doc_id") < 100), "doc_id", "text")
      .orderBy(col("jaccard").desc, col("id_a").asc, col("id_b").asc).limit(10),
    Some(s"""WITH toks AS (SELECT doc_id, ${tokens("text")} AS t FROM documents WHERE doc_id < 100),
            |sh AS (SELECT doc_id, list_distinct(${shinglesSqlFrom("t")}) AS sh FROM toks),
            |pairs AS (
            |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
            |    len(list_intersect(a.sh, b.sh)) AS inter,
            |    len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS uni
            |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
            |SELECT id_a, id_b, round(inter / uni, 6) AS jaccard FROM pairs
            |ORDER BY round(inter / uni, 6) DESC, id_a, id_b LIMIT 10""".stripMargin))

  private val dedupEmbedding = Q(
    (s, d) => graft.operators.Dedup.embeddingNearDupPairs(
        D.embeddings(s, d), "vec_id", "embedding", minCosine = -1.0, bits = 8)
      .orderBy(col("cos").desc, col("id_a").asc, col("id_b").asc).limit(20),
    Some(s"""WITH b AS (SELECT vec_id, embedding,
            |  array_to_string(list_transform(embedding[1:8],
            |    x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '') AS bucket
            |  FROM embeddings),
            |pairs AS (
            |  SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
            |    ${cosSql("a.embedding", "b2.embedding")} AS c
            |  FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id)
            |SELECT id_a, id_b, round(c, 6) AS cos FROM pairs
            |ORDER BY round(c, 6) DESC, id_a, id_b LIMIT 20""".stripMargin))

  /** Transitive near-dup clusters: minhash band collisions form edges; connected
    * components (iterative min-label propagation) merge chains a pairwise check
    * misses. Canonical doc = min id per component.
    */
  private val dedupClusters = Q(
    (s, d) => {
      // Persist the signatures: the band self-joins would otherwise re-inline
      // the whole shingle→md5→min expression tree into both join sides (id +
      // 2 band strings per doc — tiny, and the expensive lineage runs once).
      val lsh = graft.operators.Dedup.minhashLsh(D.documents(s, d), "doc_id", "text")
        .select(col("doc_id").as("id"), col("band0"), col("band1"))
        .persist()
      val e0 = lsh.select(col("id"), col("band0").as("b"))
      val e1 = lsh.select(col("id"), col("band1").as("b"))
      def pairs(side: DataFrame) = {
        val a = side.select(col("id").as("src"), col("b"))
        val bb = side.select(col("id").as("dst"), col("b"))
        a.join(bb, "b").filter(col("src") < col("dst")).select("src", "dst")
      }
      val edges = pairs(e0).unionByName(pairs(e1)).distinct()
      graft.operators.Dedup.connectedComponentsAuto(lsh.select("id"), edges)
        .select(col("id").as("doc_id"), col("component"),
          (col("id") === col("component")).cast("int").as("is_canonical"))
        .orderBy("doc_id")
    },
    Some(s"""WITH $shinglesCte,
            |m AS (SELECT doc_id, list_transform(sh, s -> md5(s)) AS m FROM sh),
            |sig AS (SELECT doc_id,
            |  list_min(list_transform(m, x -> substring(x, 1, 8))) ||
            |  list_min(list_transform(m, x -> substring(x, 9, 8))) AS band0,
            |  list_min(list_transform(m, x -> substring(x, 17, 8))) ||
            |  list_min(list_transform(m, x -> substring(x, 25, 8))) AS band1
            |  FROM m),
            |edges AS (
            |  SELECT a.doc_id AS src, b.doc_id AS dst FROM sig a JOIN sig b
            |    ON a.band0 = b.band0 AND a.doc_id <> b.doc_id
            |  UNION
            |  SELECT a.doc_id, b.doc_id FROM sig a JOIN sig b
            |    ON a.band1 = b.band1 AND a.doc_id <> b.doc_id),
            |reach AS (
            |  SELECT doc_id AS id, doc_id AS lab FROM sig
            |  UNION
            |  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id)
            |SELECT id AS doc_id, min(lab) AS component,
            |  CAST(id = min(lab) AS INT) AS is_canonical
            |FROM reach GROUP BY id ORDER BY id""".stripMargin.replace(
              "WITH toks", "WITH RECURSIVE toks")))

  /** Cross-document repeated 8-token spans
    * ([[graft.operators.Dedup.repeatedSpans]]): per doc, how many window
    * positions and distinct spans are shared with ≥1 other document — the
    * fixed-width distributed stand-in for suffix-array substring dedup.
    */
  private val dedupSpans = Q(
    (s, d) => graft.operators.Dedup.repeatedSpans(
        D.documents(s, d).select("doc_id", "text"), "doc_id", "text",
        nTokens = 8, minDocs = 2)
      .orderBy("doc_id"),
    Some(s"""WITH toks AS (
           |  SELECT doc_id, ${tokens("text")} AS ts
           |  FROM documents),
           |spans AS (
           |  SELECT doc_id, unnest(list_transform(generate_series(1, len(ts) - 7),
           |    i -> md5(array_to_string(ts[i:i+7], ' ')))) AS span_hash
           |  FROM toks WHERE len(ts) >= 8),
           |shared AS (SELECT span_hash FROM
           |  (SELECT span_hash, count(DISTINCT doc_id) AS nd FROM spans GROUP BY span_hash)
           |  WHERE nd >= 2)
           |SELECT doc_id, count(*) AS n_shared_positions,
           |  count(DISTINCT span_hash) AS n_shared_spans
           |FROM spans JOIN shared USING (span_hash)
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  /** Exact token-window duplicate spans
    * ([[graft.operators.Dedup.exactTokenSpans]]): the collision-free,
    * span-merged upgrade of `dedup_spans` — maximal merged runs of 8-token
    * windows shared with ≥1 other document, as [start, end) token-index
    * spans. The oracle replays windows by literal string, the min≠max
    * cross-doc class test, and the gaps-and-islands merge.
    */
  private val dedupTokenSpans = Q(
    (s, d) => graft.operators.Dedup.exactTokenSpans(
        D.documents(s, d).select("doc_id", "text"), "doc_id", "text",
        nTokens = 8, crossDocOnly = true)
      .orderBy("doc_id", "tok_start"),
    Some(s"""WITH toks AS (SELECT doc_id,
           |    ${tokens("text")} AS ts
           |  FROM documents),
           |w AS (SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 7)) AS i
           |  FROM toks WHERE len(ts) >= 8),
           |wins AS (SELECT doc_id, i - 1 AS off, array_to_string(ts[i:i+7], ' ') AS g
           |  FROM w),
           |sh AS (SELECT g FROM (
           |    SELECT g, min(doc_id) AS a, max(doc_id) AS b FROM wins GROUP BY g)
           |  WHERE a <> b),
           |dup AS (SELECT doc_id, off AS s, off + 8 AS e FROM wins JOIN sh USING (g)),
           |$islandsCtes
           |SELECT doc_id, min(s) AS tok_start, max(e) AS tok_end, count(*) AS n_windows
           |FROM isl GROUP BY doc_id, island ORDER BY doc_id, tok_start""".stripMargin))

  /** ExactSubstr duplicate spans ([[graft.operators.SuffixArray.duplicateSpans]],
    * arXiv:2107.06499 §4.1): maximal merged spans of 24-char windows that
    * re-occur in ANOTHER document — the collision-free upgrade of the hashed
    * `dedup_spans` stand-in. The oracle replays it literally: group the
    * substr windows, keep classes spanning ≥2 docs, merge overlapping/touching
    * windows per doc by the classic gaps-and-islands (`max(e) OVER (... 1
    * PRECEDING)`), which is exactly [[graft.operators.Intervals.mergeIntervals]].
    */
  private val dedupExactSubstr = Q(
    (s, d) => graft.operators.SuffixArray.duplicateSpans(
        D.documents(s, d).select("doc_id", "text"), "doc_id", "text",
        minLen = 24, crossDocOnly = true)
      .orderBy("doc_id", "span_start"),
    Some(s"""WITH ${crossDocWindowsCtes(24)},
           |$islandsCtes
           |SELECT doc_id, min(s) AS span_start, max(e) AS span_end, count(*) AS n_grams
           |FROM isl GROUP BY doc_id, island ORDER BY doc_id, span_start""".stripMargin))

  /** Cross-corpus exact-substring decontamination
    * ([[graft.operators.SuffixArray.contaminatedSpans]]): maximal merged
    * spans of TRAIN documents whose 16-char window re-occurs verbatim in the
    * benchmark slice (every 41st doc — the same split as
    * `bloom_decontaminate`, but collision-free spans instead of ngram-hash
    * probes). The oracle joins train windows against the DISTINCT benchmark
    * window set and replays the gaps-and-islands merge.
    */
  private val decontamSubstr = Q(
    (s, d) => {
      val docs = D.documents(s, d)
      graft.operators.SuffixArray.contaminatedSpans(
        docs.filter(col("doc_id") % 41 =!= 0).select("doc_id", "text"),
        docs.filter(col("doc_id") % 41 === 0).select("doc_id", "text"),
        "doc_id", "text", minLen = 16)
        .orderBy("doc_id", "span_start")
    },
    Some(s"""WITH be AS (SELECT text FROM documents WHERE doc_id % 41 = 0),
           |tr AS (SELECT doc_id, text FROM documents WHERE doc_id % 41 <> 0),
           |$benchOverlapCtes,
           |$islandsCtes
           |SELECT doc_id, min(s) AS span_start, max(e) AS span_end, count(*) AS n_grams
           |FROM isl GROUP BY doc_id, island ORDER BY doc_id, span_start""".stripMargin))

  /** Sharded ExactSubstr ([[graft.operators.SuffixArray.shardedDuplicateSpans]]):
    * the 100-TB posture of `dedup_exact_substr` made code, gated in the
    * regime sharding exists for — minLen 160 is ABOVE the direct-path cap,
    * so every window class must come from a doubling run, and the sharded
    * form bounds each run to one doc-hash shard (+ the seed-selected
    * auxiliary group that recovers cross-shard duplicates exactly). The
    * oracle is the GLOBAL replay — same SQL shape as `dedup_exact_substr`
    * at 160 — because the sharded run's contract is bit-equality with the
    * global result.
    */
  private val shardDupSpans = Q(
    (s, d) => graft.operators.SuffixArray.shardedDuplicateSpans(
        D.documents(s, d).select("doc_id", "text"), "doc_id", "text",
        minLen = 160, crossDocOnly = true, nShards = 2,
        // explicit opt-in: toy-scale gate on local[32] has the headroom for
        // concurrent shard runs; the bounded-peak-state default is 1
        shardParallelism = 4)
      .orderBy("doc_id", "span_start"),
    Some(s"""WITH ${crossDocWindowsCtes(160)},
           |$islandsCtes
           |SELECT doc_id, min(s) AS span_start, max(e) AS span_end, count(*) AS n_grams
           |FROM isl GROUP BY doc_id, island ORDER BY doc_id, span_start""".stripMargin))

  /** Sharded decontamination ([[graft.operators.SuffixArray.shardedContaminatedSpans]]):
    * `decontam_substr`'s semantics with the train corpus split into doc-hash
    * shards, each checked against the WHOLE benchmark — the posture that
    * lets a fixed cluster decontaminate an arbitrarily large train set. Rank
    * path forced (directMaxLen = 8 < minLen = 16) so each shard runs a real
    * doubling; oracle = the global replay, because sharding train against a
    * replicated bench is exactly the global predicate.
    */
  private val shardDecontam = Q(
    (s, d) => {
      val docs = D.documents(s, d)
      // train slice (% 3): the corpus's train∩bench overlaps max out well
      // below the direct-path cap, so this gate FORCES the rank path
      // (directMaxLen = 8 < minLen = 16) to exercise the sharded doubling
      // machinery — and pays the per-shard-run fixed job cost 3×. The gate's
      // job is the cross-engine equality of that machinery, not throughput;
      // full-corpus scaling is measured in Stress (shard_decontam row).
      graft.operators.SuffixArray.shardedContaminatedSpans(
        docs.filter(col("doc_id") % 41 =!= 0 && col("doc_id") % 3 === 0)
          .select("doc_id", "text"),
        docs.filter(col("doc_id") % 41 === 0).select("doc_id", "text"),
        "doc_id", "text", minLen = 16, nShards = 3, directMaxLen = 8,
        // explicit opt-in as in shard_dup_spans: concurrency for the toy
        // gate, while the library default stays bounded-peak-state (1)
        shardParallelism = 4)
        .orderBy("doc_id", "span_start")
    },
    Some(s"""WITH be AS (SELECT text FROM documents WHERE doc_id % 41 = 0),
           |tr AS (SELECT doc_id, text FROM documents
           |  WHERE doc_id % 41 <> 0 AND doc_id % 3 = 0),
           |$benchOverlapCtes,
           |$islandsCtes
           |SELECT doc_id, min(s) AS span_start, max(e) AS span_end, count(*) AS n_grams
           |FROM isl GROUP BY doc_id, island ORDER BY doc_id, span_start""".stripMargin))

  /** Token n-gram overlap score ([[graft.operators.Dedup.ngramOverlap]]):
    * per train document, the fraction of its 4-gram occurrences present
    * verbatim in the benchmark slice — the scored decontamination companion
    * to `decontam_substr`'s exact spans. Bench side broadcasts (eval suites
    * are small by nature); train side is one pass.
    */
  private val decontamNgramOverlap = Q(
    (s, d) => {
      val docs = D.documents(s, d)
      graft.operators.Dedup.ngramOverlap(
        docs.filter(col("doc_id") % 41 =!= 0).select("doc_id", "text"),
        docs.filter(col("doc_id") % 41 === 0).select("doc_id", "text"),
        "doc_id", "text", n = 4)
        .orderBy("doc_id")
    },
    Some("""WITH tok AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
           |  FROM documents),
           |g AS (SELECT doc_id, list_transform(generate_series(1, len(w) - 3),
           |        i -> array_to_string(w[i:i+3], ' ')) AS gs
           |  FROM tok WHERE len(w) >= 4),
           |be AS (SELECT DISTINCT unnest(gs) AS g FROM g WHERE doc_id % 41 = 0),
           |tr AS (SELECT doc_id, len(gs) AS n_grams, unnest(gs) AS g FROM g
           |  WHERE doc_id % 41 <> 0)
           |SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
           |  CAST(count(*) AS BIGINT) AS n_hit,
           |  round(count(*) / n_grams, 6) AS overlap_frac
           |FROM tr JOIN be USING (g)
           |GROUP BY doc_id, n_grams ORDER BY doc_id""".stripMargin))

  /** ExactSubstr remediation ([[graft.operators.SuffixArray.stripSpans]]):
    * cut every cross-doc duplicated 24-char span (the `dedup_exact_substr`
    * span set) out of the text and hash-gate the CLEANED corpus — md5 +
    * length of every surviving text, so the oracle proves the segment
    * reassembly byte-for-byte, not just the span arithmetic.
    */
  private val dedupStripSpans = Q(
    (s, d) => {
      val docs = D.documents(s, d).select("doc_id", "text")
      val spans = graft.operators.SuffixArray.duplicateSpans(
        docs, "doc_id", "text", minLen = 24, crossDocOnly = true)
      graft.operators.SuffixArray.stripSpans(docs, spans, "doc_id", "text")
        .select(col("doc_id"), length(col("text")).cast("long").as("clean_len"),
          md5(col("text")).as("clean_md5"))
        .orderBy("doc_id")
    },
    Some(s"""WITH ${crossDocWindowsCtes(24)},
           |$islandsCtes,
           |sp AS (SELECT doc_id, min(s) AS s, max(e) AS e FROM isl GROUP BY doc_id, island),
           |tails AS (SELECT p.doc_id, max(p.e) AS gs, CAST(length(d.text) AS BIGINT) AS ge
           |  FROM sp p JOIN documents d USING (doc_id) GROUP BY p.doc_id, length(d.text)),
           |segs AS (SELECT doc_id,
           |    coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0) AS gs, s AS ge
           |  FROM sp
           |  UNION ALL SELECT doc_id, gs, ge FROM tails),
           |clean AS (SELECT g.doc_id,
           |    string_agg(substr(d.text, CAST(g.gs AS INT) + 1, CAST(g.ge - g.gs AS INT)),
           |               '' ORDER BY g.gs) AS ct
           |  FROM segs g JOIN documents d USING (doc_id) GROUP BY g.doc_id)
           |SELECT d.doc_id,
           |  CAST(length(coalesce(c.ct, d.text)) AS BIGINT) AS clean_len,
           |  md5(coalesce(c.ct, d.text)) AS clean_md5
           |FROM documents d LEFT JOIN clean c USING (doc_id)
           |ORDER BY d.doc_id""".stripMargin))

  /** Corpus-level contamination report over the same split as
    * `decontam_substr`: how many train docs carry a verbatim-16-char overlap
    * with the benchmark, and what fraction of their characters the merged
    * spans cover — the go/no-go health metric a pipeline reads before
    * training. One row; fractions at 6dp with the ROUND-before-compare
    * contract.
    */
  private val decontamReport = Q(
    (s, d) => {
      val docs = D.documents(s, d)
      val train = docs.filter(col("doc_id") % 41 =!= 0).select("doc_id", "text")
      val spans = graft.operators.SuffixArray.contaminatedSpans(
        train, docs.filter(col("doc_id") % 41 === 0).select("doc_id", "text"),
        "doc_id", "text", minLen = 16)
      val perDoc = spans.groupBy("doc_id")
        .agg(sum(col("span_end") - col("span_start")).as("_cov"))
      train.join(perDoc, Seq("doc_id"), "left")
        .agg(
          count(lit(1)).as("n_train_docs"),
          count(col("_cov")).as("n_contaminated_docs"),
          round(sum(coalesce(col("_cov"), lit(0L)))
            / sum(length(col("text")).cast("long")), 6).as("contaminated_char_frac"))
    },
    Some(s"""WITH be AS (SELECT text FROM documents WHERE doc_id % 41 = 0),
           |tr AS (SELECT doc_id, text FROM documents WHERE doc_id % 41 <> 0),
           |$benchOverlapCtes,
           |$islandsCtes,
           |sp AS (SELECT doc_id, min(s) AS s, max(e) AS e FROM isl GROUP BY doc_id, island),
           |pd AS (SELECT doc_id, sum(e - s) AS cov FROM sp GROUP BY doc_id)
           |SELECT count(*) AS n_train_docs,
           |  count(pd.cov) AS n_contaminated_docs,
           |  round(sum(coalesce(pd.cov, 0)) / sum(CAST(length(tr.text) AS BIGINT)), 6)
           |    AS contaminated_char_frac
           |FROM tr LEFT JOIN pd USING (doc_id)""".stripMargin))

  /** Prefix-filtered exact Jaccard join over the FULL corpus
    * ([[graft.operators.Dedup.jaccardJoinPrefix]]) — the scale path for the
    * brute-force `dedup_ngram_jaccard` (which the oracle runs literally):
    * every pair at shingle-Jaccard ≥ 0.6, candidates from prefix-shingle
    * equality under the df-asc global order, verified exactly. The oracle IS
    * the all-pairs join, so the gate proves the pruned algorithm loses
    * nothing.
    */
  private val dedupJaccardJoin = Q(
    (s, d) => graft.operators.Dedup.jaccardJoinPrefix(
        D.documents(s, d), "doc_id", "text", threshold = 0.6)
      .orderBy("id_a", "id_b"),
    Some(s"""WITH toks AS (SELECT doc_id, ${tokens("text")} AS t FROM documents),
            |sh AS (SELECT doc_id, list_distinct(${shinglesSqlFrom("t")}) AS sh FROM toks),
            |pairs AS (
            |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
            |    len(list_intersect(a.sh, b.sh)) AS inter,
            |    len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS uni
            |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
            |SELECT id_a, id_b, round(inter / CAST(uni AS DOUBLE), 6) AS jaccard
            |FROM pairs WHERE round(inter / CAST(uni AS DOUBLE), 6) >= 0.6
            |ORDER BY id_a, id_b""".stripMargin))

  /** Edit-distance-1 join over the corpus vocabulary
    * ([[graft.operators.Dedup.editDistanceJoin]]) — typo/variant mining via
    * FastSS deletion neighborhoods: candidates come from EQUALITY on a
    * deleted-character variant (a pure equi-join — the O(|V|²) levenshtein
    * cross join appears nowhere), then verify through the codegen'd built-in
    * levenshtein. The string set is the 4–12-char vocabulary plus a
    * deterministic mid-character-deletion "typo" of each token (both engines
    * derive it with identical substring math), so the join provably recovers
    * every typo→source edge. The oracle IS the brute-force levenshtein
    * all-pairs join, so hash parity proves the neighborhood pruning lossless.
    */
  private val dedupEditJoin = Q(
    (s, d) => {
      val base = D.documents(s, d)
        .select(explode(graft.operators.Search.tokensCol(col("text"))).as("t"))
        .filter(length(col("t")).between(4, 12)).distinct()
      val mid = "cast(floor(length(t)/2) as int)"
      val strs = base.select(col("t").as("s"))
        .unionByName(base.select(
          expr(s"concat(substring(t, 1, $mid), substring(t, $mid + 2))").as("s")))
        .distinct()
      graft.operators.Dedup.editDistanceJoin(strs, "s")
        .orderBy("s_a", "s_b")
    },
    Some(s"""WITH toks AS (SELECT DISTINCT unnest(${tokens("text")}) AS t
           |  FROM documents),
           |base AS (SELECT t FROM toks WHERE length(t) BETWEEN 4 AND 12),
           |strs AS (SELECT DISTINCT s FROM (
           |  SELECT t AS s FROM base
           |  UNION ALL
           |  SELECT concat(substring(t, 1, CAST(floor(length(t)/2) AS INT)),
           |                substring(t, CAST(floor(length(t)/2) AS INT) + 2)) AS s
           |  FROM base))
           |SELECT a.s AS s_a, b.s AS s_b,
           |  CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
           |FROM strs a JOIN strs b ON a.s < b.s
           |WHERE levenshtein(a.s, b.s) <= 1
           |ORDER BY s_a, s_b""".stripMargin))

  /** Containment near-dup detection ([[graft.operators.Dedup.containmentPairs]]):
    * asymmetric fingerprint overlap — how much of doc A lives inside doc B —
    * over the same winnowing fingerprints the oracle replicates for
    * text_fingerprint, so the whole explode → bucket-join → ratio path
    * hash-gates.
    */
  private val dedupContainment = Q(
    (s, d) => graft.operators.Dedup.containmentPairs(
        D.documents(s, d), "doc_id", "text", minContainment = 0.5,
        maxFingerprintDf = 100)
      .select(col("id_a"), col("id_b"), round(col("containment"), 6).as("containment"))
      .orderBy(round(col("containment"), 6).desc, col("id_a").asc, col("id_b").asc)
      .limit(20),
    Some(s"""WITH $charHashesCte,
           |fp AS (
           |  SELECT doc_id, list_distinct(
           |    CASE WHEN len(hs) <= 5 THEN [list_min(hs)]
           |    ELSE list_transform(generate_series(1, len(hs) - 4),
           |           i -> list_min(hs[i:i+4])) END) AS fps
           |  FROM h),
           |e AS (SELECT doc_id, unnest(fps) AS f FROM fp),
           |keep AS (SELECT f FROM e GROUP BY f HAVING count(*) <= 100),
           |ke AS (SELECT doc_id, f FROM e JOIN keep USING (f)),
           |s AS (SELECT doc_id, count(*) AS n_a FROM ke GROUP BY doc_id),
           |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
           |      FROM ke a JOIN ke b ON a.f = b.f AND a.doc_id <> b.doc_id
           |      GROUP BY 1, 2)
           |SELECT id_a, id_b, round(shared / n_a, 6) AS containment
           |FROM p JOIN s ON s.doc_id = id_a
           |WHERE shared / n_a >= 0.5
           |ORDER BY round(shared / n_a, 6) DESC, id_a, id_b LIMIT 20""".stripMargin))

  /** Bloom-filter decontamination ([[graft.operators.Sketches.bloomDecontaminate]]):
    * the 100 TB shape of `pipeline_decontaminate` — the corpus probes a fixed
    * 128 KiB bitset per ngram instead of joining a benchmark hash table. The
    * bloom is DETERMINISTIC (md5-word bits), so the oracle replicates the
    * bitset — including any false positives — from the same benchmark rows
    * (every 41st doc), making the probe path hash-gated end to end.
    */
  private val bloomM = 1 << 20

  private val bloomDecontaminate = Q(
    (s, d) => {
      val docs = D.documents(s, d)
      val bench = docs.filter(col("doc_id") % 41 === 0)
        .select(col("doc_id").as("bench_id"), col("text").as("bench_text"))
      graft.operators.Sketches.bloomDecontaminate(
          docs, bench, "doc_id", "text", "bench_id", "bench_text", n = 13, m = bloomM)
        .orderBy("doc_id")
    },
    Some(s"""WITH toks AS (SELECT doc_id,
            |    ${tokens("text")} AS t
            |  FROM documents),
            |sh AS (SELECT doc_id, CASE WHEN len(t) < 13 THEN [array_to_string(t, ' ')]
            |    ELSE list_transform(generate_series(1, len(t) - 12),
            |           i -> array_to_string(t[i:i+12], ' ')) END AS sh FROM toks),
            |ng AS (SELECT doc_id, unnest(sh) AS g FROM sh),
            |doc_ng AS (SELECT doc_id, md5(g) AS h FROM ng),
            |bits AS (SELECT DISTINCT unnest([
            |    ${(0 until 4).map(j => graft.operators.Sketches.bloomBitSql("h", j, bloomM)).mkString(",\n|    ")}]) AS b
            |  FROM (SELECT DISTINCT h FROM doc_ng WHERE doc_id % 41 = 0)),
            |probe AS (SELECT DISTINCT doc_id, h,
            |    ${(0 until 4).map(j => graft.operators.Sketches.bloomBitSql("h", j, bloomM) + s" AS b$j").mkString(",\n|    ")}
            |  FROM doc_ng),
            |flagged AS (SELECT doc_id, h FROM probe
            |  WHERE b0 IN (SELECT b FROM bits) AND b1 IN (SELECT b FROM bits)
            |    AND b2 IN (SELECT b FROM bits) AND b3 IN (SELECT b FROM bits)),
            |hits AS (SELECT doc_id, count(DISTINCT h) AS n FROM flagged GROUP BY doc_id)
            |SELECT doc_id, CAST(coalesce(n, 0) AS BIGINT) AS n_flagged,
            |  coalesce(n, 0) > 0 AS flagged
            |FROM documents LEFT JOIN hits USING (doc_id) ORDER BY doc_id""".stripMargin))

  /** SemDeDup ([[graft.operators.Dedup.semanticDedup]]): embedding-space
    * semantic dedup — cluster (pinned centroids = embeddings 1..8, like
    * `cluster_assign`), then drop any vector with a smaller-id neighbor at
    * cosine ≥ 0.35 INSIDE its cluster. Cluster-locality bounds the pair step;
    * the kept/dropped decision per vector is what the gate locks.
    */
  private val dedupSemantic = Q(
    (s, d) => {
      val emb = D.embeddings(s, d).filter(col("vec_id") =!= 0)
      val centroids = D.embeddings(s, d)
        .filter(col("vec_id").between(1, 8)).orderBy("vec_id")
        .collect().map(_.getAs[scala.collection.Seq[Float]]("embedding").toArray)
      graft.operators.Dedup.semanticDedup(emb, "vec_id", "embedding", centroids, 0.35)
        .orderBy("vec_id")
    },
    Some(s"""WITH cent AS (SELECT vec_id AS cid, embedding AS c FROM embeddings
            |         WHERE vec_id BETWEEN 1 AND 8),
            |e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id <> 0),
            |dists AS (SELECT v.vec_id, c.cid, ${l2Sql("v.embedding", "c.c")} AS dc
            |  FROM e v CROSS JOIN cent c),
            |assigned AS (SELECT vec_id, cid FROM
            |  (SELECT vec_id, cid, dc,
            |     row_number() OVER (PARTITION BY vec_id ORDER BY dc ASC, cid ASC) AS rn
            |   FROM dists)
            |  WHERE rn = 1),
            |av AS (SELECT a.vec_id, a.cid, e.embedding FROM assigned a JOIN e USING (vec_id)),
            |dropped AS (SELECT DISTINCT b.vec_id AS dv FROM av a JOIN av b
            |  ON a.cid = b.cid AND a.vec_id < b.vec_id
            |  WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.35)
            |SELECT a.vec_id, CAST(a.cid - 1 AS BIGINT) AS cluster_id,
            |  d.dv IS NULL AS kept
            |FROM assigned a LEFT JOIN dropped d ON a.vec_id = d.dv
            |ORDER BY a.vec_id""".stripMargin))

  val all: Map[String, Q] = Map(
    "dedup_exact" -> dedupExact,
    "dedup_minhash_lsh" -> dedupMinhashLsh,
    "dedup_incremental" -> dedupIncremental,
    "dedup_lsh_pairs" -> dedupLshPairs,
    "dedup_lines" -> dedupLines,
    "dedup_simhash" -> dedupSimhash,
    "dedup_ngram_jaccard" -> dedupNgramJaccard,
    "dedup_embedding" -> dedupEmbedding,
    "dedup_clusters" -> dedupClusters,
    "dedup_spans" -> dedupSpans,
    "dedup_token_spans" -> dedupTokenSpans,
    "dedup_exact_substr" -> dedupExactSubstr,
    "decontam_substr" -> decontamSubstr,
    "shard_dup_spans" -> shardDupSpans,
    "shard_decontam" -> shardDecontam,
    "decontam_ngram_overlap" -> decontamNgramOverlap,
    "dedup_strip_spans" -> dedupStripSpans,
    "decontam_report" -> decontamReport,
    "dedup_jaccard_join" -> dedupJaccardJoin,
    "dedup_edit_join" -> dedupEditJoin,
    "dedup_containment" -> dedupContainment,
    "bloom_decontaminate" -> bloomDecontaminate,
    "dedup_semantic" -> dedupSemantic)
}
