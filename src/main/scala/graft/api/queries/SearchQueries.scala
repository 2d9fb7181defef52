package graft.api.queries

import graft.api.Queries._
import graft.api.{Tables => D}
import graft.api.queries.OracleSql._
import graft.operators.Search
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ranked retrieval: vector top-k, BM25 over the scan and over the
  * prebuilt postings index, RRF fusion, chunk → document grouping, spelling
  * suggestions, autocomplete, highlighting, facets, MMR and MRR.
  */
object SearchQueries {

  private val t1VectorTopK = Q(
    (s, d) => {
      val emb = D.embeddings(s, d).filter(col("vec_id") =!= 0)
      Search.vectorTopK(emb, "embedding", queryVec(s, d), 10, "cosine", idCol = "vec_id")
        .select(col("vec_id"), round(-col("score"), 6).as("sim"))
        .orderBy(col("sim").desc, col("vec_id").asc)
    },
    Some(s"""WITH q AS (SELECT embedding AS e FROM embeddings WHERE vec_id = 0),
            |scored AS (
            |  SELECT vec_id, ${cosSql("embedding", "(SELECT e FROM q)")} AS s
            |  FROM embeddings WHERE vec_id <> 0),
            |topk AS (SELECT vec_id, s FROM scored ORDER BY s DESC, vec_id LIMIT 10)
            |SELECT vec_id, round(s, 6) AS sim FROM topk ORDER BY round(s, 6) DESC, vec_id""".stripMargin))

  /** Batch kNN: top-5 corpus neighbors for each of 5 query vectors in one pass
    * (broadcast query batch; per-query window over narrow score triples).
    */
  private val t1bVectorBatch = Q(
    (s, d) => {
      val emb = D.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val corpus = emb.filter(col("vec_id") >= 5)
      Search.vectorTopKBatch(corpus, "embedding", "vec_id",
          queries, "qid", "qv", k = 5, metric = "cosine")
        .select(col("qid"), col("vec_id"), round(-col("score"), 6).as("sim"), col("rank"))
        .orderBy("qid", "rank")
    },
    Some(s"""WITH qs AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
            |corpus AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 5),
            |scored AS (SELECT qid, vec_id, ${cosSql("embedding", "qv")} AS s
            |           FROM corpus CROSS JOIN qs),
            |ranked AS (SELECT qid, vec_id, s,
            |  row_number() OVER (PARTITION BY qid ORDER BY s DESC, vec_id) AS rank FROM scored)
            |SELECT qid, vec_id, round(s, 6) AS sim, rank FROM ranked
            |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin))

  private def bm25Spark(s: SparkSession, d: String, conjunctive: Boolean, k: Int): DataFrame =
    Search.bm25TopK(D.documents(s, d), "doc_id", "text", searchQuery, k,
      conjunctive = conjunctive, selectByRounded = Some(5))
      .select(col("docId").as("doc_id"), round(col("score"), 5).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)

  private val t2Bm25TopK = Q(
    (s, d) => bm25Spark(s, d, conjunctive = true, 10),
    Some(bm25Sql(searchTerms, conjunctive = true, 10) + " ORDER BY score DESC, doc_id"))

  /** Same result as t2 but via the PREBUILT postings index ([[graft.operators.Bm25Indexer]]) —
    * the plan that survives 100 TB: query-time reads only the query terms'
    * postings (term-sorted parquet → row-group pruning) plus two tiny broadcast
    * stats tables. No full-corpus scan or tokenize at search time.
    */
  private val t2bBm25Postings = Q(
    (s, d) => {
      val idx = indexDocuments(s, d, "graft_bm25_idx_", selectByRounded = Some(5))
      idx.search(searchQuery, 10)
        .select(col("chunkId").as("doc_id"), round(col("score"), 5).as("score"))
        .orderBy(col("score").desc, col("doc_id").asc)
    },
    Some(bm25Sql(searchTerms, conjunctive = true, 10) + " ORDER BY score DESC, doc_id"))

  /** The LSM postings lifecycle gated at SEARCH time: full index build, then
    * ONE incremental merge doing both delete (doc_id % 13 ids tombstone;
    * their text tokenizes ONLY for the O(changed) df/avgdl decrements) and
    * update (doc_id % 7 re-tokenize with appended text under FRESH ids past
    * a 1e7 offset — removed ids never return, the tombstone-soundness
    * contract), then a top-k search served from base ∪ delta ⊖ tombstones
    * with stats summed from base ⊕ delta. The oracle replays BM25 over the
    * post-lifecycle corpus, replicating the indexer's chunk-id tie-break
    * (replaced docs carry the offset) so the k-boundary is engine-stable.
    */
  private val t2cBm25LsmSearch = Q(
    (s, d) => {
      val idx = indexDocuments(s, d, "graft_bm25_lsm_", selectByRounded = Some(5))
      deleteAndReplace(idx, s, d, " updated")
      idx.search(searchQuery, 10)
        .select((col("chunkId") % 10000000L).as("doc_id"),
          round(col("score"), 5).as("score"))
        .orderBy(col("score").desc, col("doc_id").asc)
    },
    Some(bm25Sql(searchTerms, conjunctive = true, 10,
      from = """(SELECT doc_id,
                |   text || CASE WHEN doc_id % 7 = 0 THEN ' updated' ELSE '' END AS text
                | FROM documents WHERE doc_id % 13 <> 0)""".stripMargin,
      tieBreak = """(CASE WHEN doc_id % 7 = 0 THEN doc_id + 10000000 ELSE doc_id END)""")
      + " ORDER BY score DESC, doc_id"))

  /** The suggest-key artifact's full lifecycle, gated cross-engine: index,
    * build the delete-key artifact, then ONE incremental merge that deletes
    * (%13) and replaces (%7, appending a token that EXISTS NOWHERE before
    * the update). Since round 13 the update MAINTAINS the artifact (batch
    * keys appended, sidecar restamped), so the suggestions come from the
    * maintained artifact ∩ live termDf on the no-anti-join fast path: a
    * missed key append drops the new token's suggestion, a stale-key
    * resurrection re-ranks by dead terms — either flips the hash. Oracle =
    * brute-force levenshtein over the post-lifecycle vocabulary.
    */
  private val suggestLifecycle = Q(
    (s, d) => {
      val idx = indexDocuments(s, d, "graft_suggest_lsm_")
      idx.buildSuggestKeys() // over the PRE-update vocabulary — deliberately stale
      deleteAndReplace(idx, s, d, " qqnewterm")
      idx.suggest(Seq("tabel", "qurey", "qqnewtrm"), maxEdits = 2, topK = 3)
        .orderBy("q", "rank")
    },
    Some(s"""WITH corpus AS (SELECT doc_id,
           |    text || CASE WHEN doc_id % 7 = 0 THEN ' qqnewterm' ELSE '' END AS text
           |  FROM documents WHERE doc_id % 13 <> 0),
           |toks AS (SELECT doc_id, unnest(${tokens("text")}) AS term
           |  FROM corpus),
           |vocab AS (SELECT term, count(DISTINCT doc_id) AS term_df FROM toks GROUP BY term),
           |qs AS (SELECT unnest(['tabel','qurey','qqnewtrm']) AS q),
           |$suggestTop3Sql""".stripMargin))

  /** FRESH-artifact suggest ([[graft.operators.Bm25Indexer.suggest]] with a
    * matching vocab stamp): the artifact was built from exactly this termDf
    * state, so the vocab-sized live-vs-artifact anti-join and on-the-fly
    * delta keys are SKIPPED outright (plan shape spec-pinned in SuggestSpec)
    * — this oracle gates that the shortcut loses no candidate: results must
    * equal DuckDB's brute-force cross-join levenshtein over the full
    * vocabulary. Complements `suggest_lifecycle`, which deliberately
    * exercises the STALE path (update after build).
    */
  private val suggestFresh = Q(
    (s, d) => {
      val idx = indexDocuments(s, d, "graft_suggest_fresh_")
      idx.buildSuggestKeys()
      idx.suggest(Seq("tabel", "qurey", "custmer"), maxEdits = 2, topK = 3)
        .orderBy("q", "rank")
    },
    Some(s"""WITH toks AS (SELECT doc_id, unnest(${tokens("text")}) AS term
           |  FROM documents),
           |vocab AS (SELECT term, count(DISTINCT doc_id) AS term_df FROM toks GROUP BY term),
           |qs AS (SELECT unnest(['tabel','qurey','custmer']) AS q),
           |$suggestTop3Sql""".stripMargin))

  private val a1RrfFusion = Q(
    (s, d) => {
      import graft.plans.VectorFunctions.cosineF
      val emb = D.embeddings(s, d)
      val vecList = emb
        .select(col("vec_id").as("id"),
                round(cosineF(col("embedding"), typedLit(queryVec(s, d))), 6).as("s"))
        .orderBy(col("s").desc, col("id").asc).limit(20)
      val bmList = bm25Spark(s, d, conjunctive = false, 20)
        .select(col("doc_id").as("id"), col("score").as("s"))
      Search.rrfFuse(Seq(vecList, bmList), "id", "s", Seq(false, false), 60, 10)
        .select(col("id"), round(col("rrfScore"), 6).as("rrf_score"),
                col("bestRank").cast("long").as("best_rank"))
        .orderBy(col("rrf_score").desc, col("id").asc)
    },
    Some(s"""WITH q AS (SELECT embedding AS e FROM embeddings WHERE vec_id = 0),
            |vscored AS (
            |  SELECT vec_id AS id, round(${cosSql("embedding", "(SELECT e FROM q)")}, 6) AS s
            |  FROM embeddings),
            |vtop AS (SELECT id, s FROM vscored ORDER BY s DESC, id LIMIT 20),
            |vrank AS (SELECT id, row_number() OVER (ORDER BY s DESC, id) AS rank FROM vtop),
            |btop AS (${bm25Sql(searchTerms, conjunctive = false, 20).replace("\n", "\n  ")}),
            |brank AS (SELECT doc_id AS id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank FROM btop),
            |allr AS (SELECT * FROM vrank UNION ALL SELECT * FROM brank),
            |fused AS (SELECT id, sum(1.0/(60+rank)) AS rrf, min(rank) AS best_rank FROM allr GROUP BY id)
            |SELECT id, round(rrf, 6) AS rrf_score, best_rank FROM fused
            |ORDER BY round(rrf, 6) DESC, id LIMIT 10""".stripMargin))

  /** Weighted RRF ([[graft.operators.Search.rrfFuse]] with `weights`): the
    * per-index importance knob over plain RRF — here vector counts 2× BM25.
    * Same plan shape as `a1_rrf_fusion`; the weighted scores and the
    * re-ordering they cause are what the gate locks.
    */
  private val a1bWeightedRrf = Q(
    (s, d) => {
      import graft.plans.VectorFunctions.cosineF
      val emb = D.embeddings(s, d)
      val vecList = emb
        .select(col("vec_id").as("id"),
                round(cosineF(col("embedding"), typedLit(queryVec(s, d))), 6).as("s"))
        .orderBy(col("s").desc, col("id").asc).limit(20)
      val bmList = bm25Spark(s, d, conjunctive = false, 20)
        .select(col("doc_id").as("id"), col("score").as("s"))
      Search.rrfFuse(Seq(vecList, bmList), "id", "s", Seq(false, false), 60, 10,
          weights = Seq(2.0, 1.0))
        .select(col("id"), round(col("rrfScore"), 6).as("rrf_score"),
                col("bestRank").cast("long").as("best_rank"))
        .orderBy(col("rrf_score").desc, col("id").asc)
    },
    Some(s"""WITH q AS (SELECT embedding AS e FROM embeddings WHERE vec_id = 0),
            |vscored AS (
            |  SELECT vec_id AS id, round(${cosSql("embedding", "(SELECT e FROM q)")}, 6) AS s
            |  FROM embeddings),
            |vtop AS (SELECT id, s FROM vscored ORDER BY s DESC, id LIMIT 20),
            |vrank AS (SELECT id, row_number() OVER (ORDER BY s DESC, id) AS rank, 2.0 AS w FROM vtop),
            |btop AS (${bm25Sql(searchTerms, conjunctive = false, 20).replace("\n", "\n  ")}),
            |brank AS (SELECT doc_id AS id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank, 1.0 AS w FROM btop),
            |allr AS (SELECT * FROM vrank UNION ALL SELECT * FROM brank),
            |fused AS (SELECT id, sum(w/(60+rank)) AS rrf, min(rank) AS best_rank FROM allr GROUP BY id)
            |SELECT id, round(rrf, 6) AS rrf_score, best_rank FROM fused
            |ORDER BY round(rrf, 6) DESC, id LIMIT 10""".stripMargin))

  /** The (term, doc-frequency) vocabulary of the documents corpus — the
    * shared input of the query-assist operators below (and at engine scale,
    * a projection of the BM25 termDf table).
    */
  private def docVocab(s: SparkSession, d: String): DataFrame =
    D.documents(s, d)
      .select(col("doc_id"),
        explode(expr("filter(split(text, ' '), x -> x <> '')")).as("term"))
      .groupBy("term").agg(countDistinct(col("doc_id")).as("term_df"))

  /** Spelling suggestion ([[graft.operators.Suggest.spellSuggest]]): SymSpell
    * deletion-neighborhood join (NOT a vocab × query cross join), exact under
    * Levenshtein ≤ 2, top-3 per misspelling by (distance, df desc, term).
    * The oracle IS the cross join — DuckDB's `levenshtein` over every
    * (query, vocab) pair — so the gate proves the delete-key join loses no
    * candidate the brute-force path finds.
    */
  private val spellSuggest = Q(
    (s, d) => {
      import s.implicits._
      val qs = Seq("tabel", "qurey", "windw", "scann", "custmer", "jion").toDF("q")
      graft.operators.Suggest.spellSuggest(
          docVocab(s, d), "term", "term_df", qs, "q", maxEdits = 2, topK = 3)
        .orderBy("q", "rank")
    },
    Some(s"""WITH vocab AS (SELECT term, count(DISTINCT doc_id) AS term_df
           |  FROM (SELECT doc_id, unnest(list_filter(string_split(text, ' '),
           |          x -> x <> '')) AS term FROM documents) GROUP BY term),
           |qs AS (SELECT unnest(['tabel','qurey','windw','scann','custmer','jion']) AS q),
           |$suggestTop3Sql""".stripMargin))

  /** Prefix autocomplete ([[graft.operators.Suggest.autocomplete]]): top
    * completions of "s" by (df desc, term) — one pushdown-friendly
    * startsWith filter + top-k over the vocabulary table.
    */
  private val autocompletePrefix = Q(
    (s, d) => graft.operators.Suggest.autocomplete(
        docVocab(s, d), "term", "term_df", "s", k = 8)
      .orderBy(col("term_df").desc, col("suggestion").asc),
    Some("""WITH vocab AS (SELECT term, count(DISTINCT doc_id) AS term_df
           |  FROM (SELECT doc_id, unnest(list_filter(string_split(text, ' '),
           |          x -> x <> '')) AS term FROM documents) GROUP BY term)
           |SELECT term AS suggestion, term_df FROM vocab
           |WHERE term LIKE 's%'
           |ORDER BY term_df DESC, suggestion LIMIT 8""".stripMargin))

  /** Best-window snippet highlighting ([[graft.operators.Suggest.highlightSnippet]]):
    * per document, the earliest 8-word window with the most query-term hits —
    * pure per-row array expressions, replayed with DuckDB list lambdas.
    */
  private val searchHighlight = Q(
    (s, d) => graft.operators.Suggest.highlightSnippet(
        D.documents(s, d), "doc_id", "text",
        Seq("spark", "join", "query"), window = 8)
      .orderBy("doc_id"),
    Some(s"""WITH ws AS (SELECT doc_id,
           |    list_filter(string_split(text, ' '), x -> x <> '') AS w FROM documents),
           |sc AS (SELECT doc_id, w,
           |    list_transform(generate_series(0, greatest(len(w) - 8, 0)),
           |      i -> len(list_filter(w[i+1:i+8],
           |             x -> len(list_filter(
           |                    ${tokens("x", v = "y")},
           |                    t -> list_contains(['spark','join','query'], t))) > 0))) AS scores
           |  FROM ws),
           |mx AS (SELECT doc_id, w, scores, list_max(scores) AS best FROM sc)
           |SELECT doc_id,
           |  array_to_string(list_slice(w, list_position(scores, best),
           |    list_position(scores, best) + 7), ' ') AS snippet,
           |  CAST(best AS BIGINT) AS n_hits
           |FROM mx WHERE best > 0 ORDER BY doc_id""".stripMargin))

  /** Faceted result counts ([[graft.operators.Suggest.facetCounts]]): for the
    * hit set of a term search, the per-dimension top-value histogram a search
    * UI renders (facet = lang, source) — one map-side groupBy per facet.
    */
  private val facetCountsQ = Q(
    (s, d) => {
      val hits = D.documents(s, d).where(expr(
        "array_contains(filter(split(text, ' '), x -> x <> ''), 'spark')"))
      graft.operators.Suggest.facetCounts(hits, Seq("lang", "source"), topK = 5)
        .orderBy("facet", "rank")
    },
    Some("""WITH hits AS (SELECT * FROM documents
           |  WHERE list_contains(list_filter(string_split(text, ' '), x -> x <> ''), 'spark')),
           |u AS (
           |  SELECT 'lang' AS facet, CAST(lang AS VARCHAR) AS value,
           |      count(*) AS n FROM hits GROUP BY lang
           |  UNION ALL
           |  SELECT 'source' AS facet, CAST(source AS VARCHAR) AS value,
           |      count(*) AS n FROM hits GROUP BY source),
           |rk AS (SELECT *, row_number() OVER (PARTITION BY facet
           |    ORDER BY n DESC, value) AS rn FROM u)
           |SELECT facet, value, n, CAST(rn AS BIGINT) AS rank
           |FROM rk WHERE rn <= 5 ORDER BY facet, rank""".stripMargin))

  /** MMR diversity re-rank over the cosine top-10
    * ([[graft.operators.Mmr.rerank]]): five greedy picks at λ = 0.7. The
    * oracle replays the selection as unrolled pick-CTEs — every input the
    * greedy loop sees is a 6dp-rounded engine value (query sims from the
    * proven top-k pattern, pairwise sims from the same cosine), and the
    * diversity subtraction writes `(1 − 0.7)` on BOTH sides (the binary64
    * subtraction ≠ literal 0.3 — spelling it identically is what makes the
    * argmax sequence bit-identical).
    */
  private val searchMmrRerank = Q(
    (s, d) => {
      val emb = D.embeddings(s, d).filter(col("vec_id") =!= 0)
      val short = Search.vectorTopK(emb, "embedding", queryVec(s, d), 10, "cosine",
          idCol = "vec_id")
        .select(col("vec_id"), round(-col("score"), 6).as("qs"), col("embedding"))
      graft.operators.Mmr.rerank(short, "vec_id", "qs", "embedding", k = 5, lam = 0.7)
        .orderBy("pick_rank")
    },
    Some {
      val picks = (2 to 5).map { i =>
        s"""r$i AS (SELECT c.vec_id, 0.7 * c.qs - (1 - 0.7) * (
           |    SELECT max(p.ps) FROM pairs p
           |    WHERE p.ai = c.vec_id AND p.bi IN (SELECT vec_id FROM s${i - 1})) AS sc
           |  FROM cand c WHERE c.vec_id NOT IN (SELECT vec_id FROM s${i - 1})),
           |p$i AS (SELECT vec_id, sc FROM r$i ORDER BY sc DESC, vec_id LIMIT 1),
           |s$i AS (SELECT vec_id FROM s${i - 1} UNION ALL SELECT vec_id FROM p$i)""".stripMargin
      }.mkString(",\n")
      s"""WITH q AS (SELECT embedding AS e FROM embeddings WHERE vec_id = 0),
         |cand AS (SELECT vec_id, round(s, 6) AS qs, embedding FROM (
         |    SELECT vec_id, embedding, ${cosSql("embedding", "(SELECT e FROM q)")} AS s
         |    FROM embeddings WHERE vec_id <> 0
         |    ORDER BY s DESC, vec_id LIMIT 10)),
         |pairs AS (SELECT a.vec_id AS ai, b.vec_id AS bi,
         |    round(${cosSql("a.embedding", "b.embedding")}, 6) AS ps
         |  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id),
         |p1 AS (SELECT vec_id, 0.7 * qs AS sc FROM cand
         |  ORDER BY 0.7 * qs DESC, vec_id LIMIT 1),
         |s1 AS (SELECT vec_id FROM p1),
         |$picks
         |SELECT pick_rank, vec_id, round(sc, 6) AS mmr_score FROM (
         |  SELECT 1 AS pick_rank, vec_id, sc FROM p1
         |  UNION ALL SELECT 2, vec_id, sc FROM p2
         |  UNION ALL SELECT 3, vec_id, sc FROM p3
         |  UNION ALL SELECT 4, vec_id, sc FROM p4
         |  UNION ALL SELECT 5, vec_id, sc FROM p5)
         |ORDER BY pick_rank""".stripMargin
    })

  /** Labeled retrieval-quality gate ([[graft.operators.RelevanceEval]]): MRR
    * and recall@10 of exact-cosine retrieval where ground truth is the
    * embeddings table's own `label` column (relevant = same label, self
    * excluded). The oracle replays ranking AND both metrics in SQL — rr and
    * recall are ratios of small exact integers, so the gate is hash-tight
    * even though the ranking came from float distances (rank order is pinned
    * by the same (distance, id) sort both engines evaluate).
    */
  private val evalMrr = Q(
    (s, d) => {
      import s.implicits._
      val emb = D.embeddings(s, d)
      val corpus = emb.filter(col("vec_id") =!= 0)
      val qRows = emb.filter(col("vec_id").between(100, 119)).orderBy("vec_id")
        .collect().map(r => (r.getAs[Long]("vec_id"),
          r.getAs[scala.collection.Seq[Float]]("embedding").toArray,
          r.getAs[Int]("label")))
      val qDf = qRows.toSeq.map(t => (t._1, t._2)).toDF("qid", "qvec")
      // rank-after-exclusion: drop the self row from the k=11 shortlist, then
      // RE-rank the survivors. (A plain rank-1 shift would break if an exact-
      // duplicate corpus vector with a smaller vec_id out-ranked self: self
      // would sit at rank 2 and the duplicate would shift to rank 0.)
      val results = graft.operators.Search.vectorTopKBatch(
          corpus, "embedding", "vec_id", qDf, "qid", "qvec", 11)
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("qid")
            .orderBy(col("rank").asc)).cast("long"))
      val labels = corpus.select(col("vec_id"), col("label"))
        .join(broadcast(qRows.toSeq.map(t => (t._1, t._3)).toDF("qid", "qlabel")),
          col("label") === col("qlabel") && col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"))
      graft.operators.RelevanceEval.perQuery(
          results, labels, "qid", "vec_id", "rank", 10)
        .select(col("qid"), round(col("rr"), 6).as("rr"), col("n_hits"),
          round(col("recall"), 6).as("recall"))
        .orderBy("qid")
    },
    Some(s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv, label AS ql
            |      FROM embeddings WHERE vec_id BETWEEN 100 AND 119),
            |corpus AS (SELECT vec_id, embedding, label FROM embeddings WHERE vec_id <> 0),
            |scored AS (SELECT q.qid, v.vec_id, ${l2Sql("v.embedding", "q.qv")} AS dd
            |  FROM corpus v CROSS JOIN q WHERE v.vec_id <> q.qid),
            |top AS (SELECT qid, vec_id, rnk FROM
            |  (SELECT qid, vec_id, row_number() OVER
            |     (PARTITION BY qid ORDER BY dd ASC, vec_id ASC) AS rnk FROM scored)
            |  WHERE rnk <= 10),
            |labels AS (SELECT q.qid, v.vec_id FROM q
            |  JOIN corpus v ON v.label = q.ql AND v.vec_id <> q.qid),
            |nrel AS (SELECT qid, count(*) AS n_relevant FROM labels GROUP BY qid),
            |hits AS (SELECT t.qid, min(t.rnk) AS first_rank, count(*) AS n_hits
            |  FROM top t JOIN labels l ON l.qid = t.qid AND l.vec_id = t.vec_id
            |  GROUP BY t.qid)
            |SELECT n.qid, round(coalesce(1.0 / first_rank, 0), 6) AS rr,
            |  coalesce(n_hits, 0) AS n_hits,
            |  round(coalesce(n_hits, 0) / least(n_relevant, 10), 6) AS recall
            |FROM nrel n LEFT JOIN hits h ON h.qid = n.qid ORDER BY n.qid""".stripMargin))

  private val a2GroupDocs = Q(
    (s, d) => {
      val chunks = chunkFanout(s, d).select("chunk_id", "doc_id", "chunk_text")
      val ranked = Search
        .bm25TopK(chunks, "chunk_id", "chunk_text", searchQuery, 30,
          conjunctive = false, selectByRounded = Some(5))
        .select(col("docId").as("chunk_id"), round(col("score"), 5).as("score"))
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("chunk_id").asc)).cast("long"))
      ranked.join(chunks.select("chunk_id", "doc_id"), "chunk_id")
        .groupBy("doc_id")
        .agg(min("rank").as("doc_rank"), count(lit(1)).as("matched_chunks"))
        .orderBy(col("doc_rank").asc, col("doc_id").asc)
        .limit(10)
    },
    Some(s"""WITH chunks AS ($chunkFanoutSql),
            |${bm25Ctes(termIn(searchTerms), from = "chunks", key = "chunk_id", text = "chunk_text")},
            |topc AS (SELECT chunk_id, score FROM scored ORDER BY round(score,5) DESC, chunk_id LIMIT 30),
            |ranked AS (SELECT chunk_id, row_number() OVER (ORDER BY round(score,5) DESC, chunk_id) AS rank FROM topc)
            |SELECT c.doc_id, min(r.rank) AS doc_rank, count(*) AS matched_chunks
            |FROM ranked r JOIN chunks c USING(chunk_id)
            |GROUP BY c.doc_id ORDER BY doc_rank, c.doc_id LIMIT 10""".stripMargin))

  val all: Map[String, Q] = Map(
    "t1_vector_topk" -> t1VectorTopK,
    "t1b_vector_batch" -> t1bVectorBatch,
    "t2_bm25_topk" -> t2Bm25TopK,
    "t2b_bm25_postings" -> t2bBm25Postings,
    "t2c_bm25_lsm_search" -> t2cBm25LsmSearch,
    "suggest_lifecycle" -> suggestLifecycle,
    "suggest_fresh" -> suggestFresh,
    "a1_rrf_fusion" -> a1RrfFusion,
    "a1b_weighted_rrf" -> a1bWeightedRrf,
    "spell_suggest" -> spellSuggest,
    "autocomplete_prefix" -> autocompletePrefix,
    "search_highlight" -> searchHighlight,
    "facet_counts" -> facetCountsQ,
    "search_mmr_rerank" -> searchMmrRerank,
    "eval_mrr" -> evalMrr,
    "a2_group_docs" -> a2GroupDocs)
}
