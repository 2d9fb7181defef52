package graft.api.queries

import graft.api.Queries._
import graft.api.{Tables => D}
import graft.api.queries.OracleSql._
import graft.functions.FilterDsl
import graft.operators.Search
import org.apache.spark.sql.functions._

/** The FTS5 MATCH grammar ([[graft.operators.QueryLang]]): boolean,
  * phrase, prefix, anchor and NEAR atoms, on the scan path and served from
  * the prebuilt index, plus the positional-index lifecycle.
  */
object MatchQueries {

  /** Boolean MATCH over the PREBUILT index
    * ([[graft.operators.Bm25Indexer.booleanSearch]]): candidates from set
    * algebra on per-term posting id sets (NOT carried symbolically as a
    * complement — no universe scan), ranked by BM25 over the positive
    * terms. Same semantics as the scan-path `ql_boolean_search`, served
    * from term-pruned postings reads.
    */
  private val qlBooleanIndex = Q(
    (s, d) => {
      val idx = indexDocuments(s, d, "graft_bool_idx_", selectByRounded = Some(5))
      idx.booleanSearch("(join AND vector) OR (spark NOT hash)", 20)
        .select(col("chunkId").as("doc_id"), round(col("score"), 5).as("score"))
        .orderBy(col("score").desc, col("doc_id").asc)
    },
    Some(s"""WITH ${bm25Ctes("term IN ('join', 'spark', 'vector')")},
           |${wlCte()},
           |cand AS (SELECT doc_id FROM wl
           |  WHERE (list_contains(w, 'join') AND list_contains(w, 'vector'))
           |     OR (list_contains(w, 'spark') AND NOT list_contains(w, 'hash'))),
           |$candidatesTopk""".stripMargin))

  /** Double negation + De Morgan inside the boolean MATCH, served from the
    * index ([[graft.operators.QueryLang.nnf]] +
    * [[graft.operators.Bm25Indexer.booleanSearch]]): the query normalizes
    * to negation normal form before atom collection AND candidate
    * evaluation, so `NOT (NOT vector AND NOT join) NOT NOT spark`
    * ≡ `(vector OR join) AND spark` — candidates correct and all three
    * atoms BM25-scored. Gates the r15 NNF fix (the lifecycle property's
    * `NOT NOT b*` counterexample class): without NNF the index path
    * returned an EMPTY frame here while the scan path matched.
    */
  private val qlDoubleNegation = Q(
    (s, d) => {
      val idx = indexDocuments(s, d, "graft_nnf_idx_", selectByRounded = Some(5))
      idx.booleanSearch("NOT (NOT vector AND NOT join) NOT NOT spark", 20)
        .select(col("chunkId").as("doc_id"), round(col("score"), 5).as("score"))
        .orderBy(col("score").desc, col("doc_id").asc)
    },
    Some(s"""WITH ${bm25Ctes("term IN ('vector', 'join', 'spark')")},
           |${wlCte()},
           |cand AS (SELECT doc_id FROM wl
           |  WHERE NOT (NOT list_contains(w, 'vector') AND NOT list_contains(w, 'join'))
           |    AND NOT NOT list_contains(w, 'spark')),
           |$candidatesTopk""".stripMargin))

  /** The unified tokenizer on PUNCTUATED text, scan path
    * ([[graft.operators.QueryLang.booleanSearch]] with its r15 default
    * tokenizer = the index family's `[^a-z0-9]+` split): the same MATCH
    * query over a hyphen-joined rendering of the corpus returns exactly the
    * results of the space-joined original — the single-tokenizer contract
    * the reference holds engine-wide (FTS5 unicode61). DuckDB replays the
    * hyphenation and the regex split independently.
    */
  private val qlPunctuatedScan = Q(
    (s, d) => graft.operators.QueryLang.booleanSearch(
      D.documents(s, d)
        .withColumn("text", regexp_replace(col("text"), " ", "-")),
      "doc_id", "text", "(join AND vector) OR (spark NOT hash)", k = 30),
    Some(s"""WITH tok AS (SELECT doc_id,
           |    ${tokens("replace(text, ' ', '-')")} AS w
           |  FROM documents)
           |SELECT doc_id,
           |  CAST(list_contains(w, 'join')::int + list_contains(w, 'spark')::int
           |       + list_contains(w, 'vector')::int AS BIGINT) AS n_matched,
           |  CAST(len(list_filter(w, x -> x IN ('join', 'spark', 'vector'))) AS BIGINT) AS tf_total
           |FROM tok
           |WHERE (list_contains(w, 'join') AND list_contains(w, 'vector'))
           |   OR (list_contains(w, 'spark') AND NOT list_contains(w, 'hash'))
           |ORDER BY n_matched DESC, tf_total DESC, doc_id LIMIT 30""".stripMargin))

  /** Punctuated QUERY atoms on the scan path (r16 ADVICE): `parse` only
    * lowercases, so before [[graft.operators.QueryLang.normalize]] the atom
    * `hash-join` compiled to `array_contains(_t, "hash-join")` — a token the
    * engine tokenizer can never emit — and silently returned empty while the
    * index path matched. Now the atom re-tokenizes to `hash AND join` and a
    * punctuated quoted phrase widens in place (`"vector-search"` ≡
    * `"vector search"`), the scan==index contract applied to the QUERY side.
    */
  private val qlPunctuatedAtom = Q(
    (s, d) => graft.operators.QueryLang.booleanSearch(
      D.documents(s, d), "doc_id", "text",
      "hash-join OR \"vector-search\"", k = 30),
    Some(s"""WITH tok AS (SELECT doc_id,
           |    ${tokens("text")} AS w
           |  FROM documents)
           |SELECT doc_id,
           |  CAST(list_contains(w, 'hash')::int + list_contains(w, 'join')::int
           |       + list_contains(w, 'vector')::int + list_contains(w, 'search')::int
           |       AS BIGINT) AS n_matched,
           |  CAST(len(list_filter(w, x -> x IN ('hash', 'join', 'vector', 'search')))
           |       AS BIGINT) AS tf_total
           |FROM tok
           |WHERE (list_contains(w, 'hash') AND list_contains(w, 'join'))
           |   OR (len(w) >= 2 AND len(list_filter(generate_series(1, len(w) - 1),
           |         i -> w[i] = 'vector' AND w[i+1] = 'search')) > 0)
           |ORDER BY n_matched DESC, tf_total DESC, doc_id LIMIT 30""".stripMargin))

  /** Quoted-phrase atoms inside the boolean MATCH, served from the index
    * ([[graft.operators.Bm25Indexer.booleanSearch]] + the positional
    * artifact): `"hash join" OR (spark NOT vector)` — the phrase atom's
    * candidate ids come from ≤2 term-pruned POSITION reads, the boolean
    * algebra and BM25 ranking compose unchanged. The full FTS5 MATCH
    * grammar (terms, phrases, NEAR, boolean) now answers from the index.
    */
  private val qlBooleanPhraseIndex = Q(
    (s, d) => {
      val idx = indexDocuments(s, d, "graft_boolph_idx_", selectByRounded = Some(5), phrase = true)
      idx.booleanSearch("\"hash join\" OR (spark NOT vector)", 20)
        .select(col("chunkId").as("doc_id"), round(col("score"), 5).as("score"))
        .orderBy(col("score").desc, col("doc_id").asc)
    },
    Some(s"""WITH ${bm25Ctes("term IN ('hash', 'join', 'spark')")},
           |${wlCte()},
           |cand AS (SELECT doc_id FROM wl
           |  WHERE (len(w) >= 2 AND len(list_filter(generate_series(1, len(w) - 1),
           |           i -> w[i] = 'hash' AND w[i+1] = 'join')) > 0)
           |     OR (list_contains(w, 'spark') AND NOT list_contains(w, 'vector'))),
           |$candidatesTopk""".stripMargin))

  /** Boolean MATCH × metadata filter
    * ([[graft.operators.Bm25Indexer.booleanSearch]] + the filter DSL): the
    * reference gates every FTS5 MATCH behind
    * `doc_id IN (SELECT ... WHERE <filter>)` (sqllite_indexer.py:64-74); we
    * replay that as ONE id semi-join against the FINAL candidate set — the
    * boolean algebra (including the NOT) evaluates over the FULL corpus
    * first, then the filter gates, and BM25 stats stay corpus-global exactly
    * like the filtered ranked search. The oracle re-derives candidates from
    * re-tokenized text and applies the same late conjunction.
    */
  private val qlBooleanFiltered = Q(
    (s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("graft_boolf_idx_").toString
      val docs = D.documents(s, d)
        .select(col("doc_id").as("chunkId"), col("text").as("indexedData"),
          col("lang"), col("n_chars"))
      docs.write.mode("overwrite").parquet(s"$dir/chunks")
      val idx = new graft.operators.Bm25Indexer(
        s, dir, chunksPath = s"$dir/chunks", selectByRounded = Some(5))
      idx.index(docs)
      val f = FilterDsl.filterColumn("""lang = "en" and n_chars > "200"""",
        graft.core.Tables.open(s, s"$dir/chunks").schema)
      idx.booleanSearch("(join AND vector) OR (spark NOT hash)", 20, Some(f))
        .select(col("chunkId").as("doc_id"), round(col("score"), 5).as("score"))
        .orderBy(col("score").desc, col("doc_id").asc)
    },
    Some(s"""WITH ${bm25Ctes("term IN ('join', 'spark', 'vector')")},
           |${wlCte(cols = "doc_id, lang, n_chars")},
           |cand AS (SELECT doc_id FROM wl
           |  WHERE ((list_contains(w, 'join') AND list_contains(w, 'vector'))
           |     OR (list_contains(w, 'spark') AND NOT list_contains(w, 'hash')))
           |    AND lang = 'en' AND n_chars > 200),
           |$candidatesTopk""".stripMargin))

  /** Prefix atoms in boolean MATCH over the index
    * ([[graft.operators.QueryLang.Prefix]] +
    * [[graft.operators.Bm25Indexer.booleanSearch]]): FTS5's `tok*` prefix
    * queries — candidates come from a RANGE-predicate postings read
    * (`startsWith` prunes the term-sorted segments by row-group stats, same
    * class as the exact-term reads), and the prefix scores as the SET of
    * vocabulary terms it expands to, each with its own df/idf. The oracle
    * replays the expansion with `LIKE 'vec%'` over re-tokenized text.
    */
  private val qlPrefixIndex = Q(
    (s, d) => {
      val idx = indexDocuments(s, d, "graft_prefix_idx_", selectByRounded = Some(5))
      idx.booleanSearch("vec* AND (spark OR join) NOT hash", 20)
        .select(col("chunkId").as("doc_id"), round(col("score"), 5).as("score"))
        .orderBy(col("score").desc, col("doc_id").asc)
    },
    Some(s"""WITH ${bm25Ctes("term IN ('spark', 'join') OR term LIKE 'vec%'")},
           |${wlCte()},
           |cand AS (SELECT doc_id FROM wl
           |  WHERE len(list_filter(w, x -> x LIKE 'vec%')) > 0
           |    AND (list_contains(w, 'spark') OR list_contains(w, 'join'))
           |    AND NOT list_contains(w, 'hash')),
           |$candidatesTopk""".stripMargin))

  /** FTS5 phrase-prefix atoms in boolean MATCH over the index
    * ([[graft.operators.QueryLang.Phrase]] `lastPrefix` /
    * [[graft.operators.QueryLang.NearOp]] `lastPrefix` +
    * [[graft.operators.Bm25Indexer.booleanSearch]]): SQLite FTS5 — the
    * reference's text engine (sqllite_indexer.py:106-114) — accepts a
    * trailing `*` on the LAST token of a quoted phrase (`"hash jo"*`) and on
    * NEAR operands (`NEAR(spark vec*, 6)`). Here the prefix-marked last slot
    * reads positions by a RANGE predicate on the term-sorted positional
    * artifact (matching vocab terms' per-doc position arrays merge before
    * the shift-intersect), and the stem scores as its vocabulary expansion.
    * The oracle replays both atoms over re-tokenized text with
    * `LIKE 'stem%'` on the prefix slots.
    */
  private val qlPhrasePrefixIndex = Q(
    (s, d) => {
      val idx = indexDocuments(s, d, "graft_phpre_idx_", selectByRounded = Some(5), phrase = true)
      idx.booleanSearch("\"hash jo\"* OR NEAR(spark vec*, 6)", 20)
        .select(col("chunkId").as("doc_id"), round(col("score"), 5).as("score"))
        .orderBy(col("score").desc, col("doc_id").asc)
    },
    Some(s"""WITH ${bm25Ctes("term IN ('hash', 'spark') OR term LIKE 'jo%' OR term LIKE 'vec%'")},
           |${wlCte()},
           |pp AS (SELECT doc_id FROM wl
           |  WHERE len(w) >= 2 AND len(list_filter(generate_series(1, len(w) - 1),
           |        i -> w[i] = 'hash' AND w[i+1] LIKE 'jo%')) > 0),
           |f AS (SELECT doc_id, w,
           |    list_filter(generate_series(1, len(w)), i -> w[i] = 'spark') AS pa,
           |    list_filter(generate_series(1, len(w)), i -> w[i] LIKE 'vec%') AS pb
           |  FROM wl
           |  WHERE list_contains(w, 'spark') AND len(list_filter(w, x -> x LIKE 'vec%')) > 0),
           |$nearSpansCte,
           |nearc AS (SELECT doc_id FROM spans WHERE span_len <= 6),
           |cand AS (SELECT doc_id FROM pp UNION SELECT doc_id FROM nearc),
           |$candidatesTopk""".stripMargin))

  /** FTS5 initial-token anchors (`^`) in boolean MATCH over the index
    * ([[graft.operators.QueryLang.First]] +
    * [[graft.operators.Bm25Indexer.booleanSearch]]): FTS5's "a phrase
    * beginning with ^ matches only when its first token is the first token
    * in the column". Anchors wrap terms, prefixes, and (prefix-)phrases
    * (`^key`, `^ta*`, `^"the fast"`); on the index path the anchor is a
    * POSITION predicate — the atom's occurrence starts from the positional
    * artifact, filtered to position 1. The oracle replays with `w[1]`
    * predicates over re-tokenized text.
    */
  private val qlAnchorIndex = Q(
    (s, d) => {
      val idx = indexDocuments(s, d, "graft_anchor_idx_", selectByRounded = Some(5), phrase = true)
      idx.booleanSearch("(^key AND spark) OR ^ta* OR ^\"the fast\"", 20)
        .select(col("chunkId").as("doc_id"), round(col("score"), 5).as("score"))
        .orderBy(col("score").desc, col("doc_id").asc)
    },
    Some(s"""WITH ${bm25Ctes("term IN ('key', 'spark', 'the', 'fast') OR term LIKE 'ta%'")},
           |${wlCte()},
           |cand AS (SELECT doc_id FROM wl
           |  WHERE (w[1] = 'key' AND list_contains(w, 'spark'))
           |     OR w[1] LIKE 'ta%'
           |     OR (len(w) >= 2 AND w[1] = 'the' AND w[2] = 'fast')),
           |$candidatesTopk""".stripMargin))

  /** Boolean MATCH as a fusion participant
    * ([[graft.operators.Bm25Indexer.booleanCandidates]] +
    * [[graft.operators.Search.vectorTopK]]): the MATCH candidate set — pure
    * posting-set algebra, no scoring — gates a VECTOR search's rows before
    * its top-k cut, the way `CollectionManager.search(matchQuery = ...)`
    * gates every index before RRF (and the reference composes MATCH with its
    * metadata gate inside one indexer query, sqllite_indexer.py:64-74). The
    * oracle re-derives the candidates from re-tokenized text and replays the
    * gated cosine top-k.
    */
  private val qlMatchFused = Q(
    (s, d) => {
      val idx = indexDocuments(s, d, "graft_matchfuse_")
      val gate = idx.booleanCandidates("(join AND vector) OR (spark NOT hash)")
        .select(col("docId").as("vec_id"))
      val emb = D.embeddings(s, d).filter(col("vec_id") =!= 0)
        .join(gate, Seq("vec_id"), "left_semi")
      Search.vectorTopK(emb, "embedding", queryVec(s, d), 15, "cosine", idCol = "vec_id")
        .select(col("vec_id"), round(-col("score"), 6).as("sim"))
        .orderBy(col("sim").desc, col("vec_id").asc)
    },
    Some(s"""WITH q AS (SELECT embedding AS e FROM embeddings WHERE vec_id = 0),
            |${wlCte()},
            |cand AS (SELECT doc_id FROM wl
            |  WHERE (list_contains(w, 'join') AND list_contains(w, 'vector'))
            |     OR (list_contains(w, 'spark') AND NOT list_contains(w, 'hash'))),
            |scored AS (
            |  SELECT vec_id, ${cosSql("embedding", "(SELECT e FROM q)")} AS s
            |  FROM embeddings JOIN cand ON vec_id = doc_id WHERE vec_id <> 0),
            |topk AS (SELECT vec_id, s FROM scored ORDER BY s DESC, vec_id LIMIT 15)
            |SELECT vec_id, round(s, 6) AS sim FROM topk
            |ORDER BY round(s, 6) DESC, vec_id""".stripMargin))

  /** Document-level boolean MATCH roll-up
    * ([[graft.operators.Bm25Indexer.booleanHits]] + the
    * `CollectionManager.booleanSearchDocs` shape): chunks come from the
    * SQL-replayable fan-out (m5), the index is built over CHUNKS, boolean
    * candidates rank by BM25 per chunk, and each DOCUMENT ranks by its best
    * chunk (the W2 doc-rank convention) — the oracle replays the fan-out,
    * the per-chunk scoring, the boolean gate, and the max-per-doc roll-up.
    */
  private val qlMatchDocs = Q(
    (s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("graft_matchdocs_").toString
      val chunks = chunkFanout(s, d)
      val idx = new graft.operators.Bm25Indexer(
        s, dir, chunksPath = s"$dir/unused", selectByRounded = Some(5))
      idx.index(chunks.select(col("chunk_id").as("chunkId"),
        col("chunk_text").as("indexedData")))
      idx.booleanHits("(join AND vector) OR (spark NOT hash)")
        .join(chunks.select(col("chunk_id").as("docId"), col("doc_id")), Seq("docId"))
        .groupBy("doc_id").agg(max("score").as("score"))
        .orderBy(round(col("score"), 5).desc, col("doc_id").asc)
        .limit(20)
        .select(col("doc_id"), round(col("score"), 5).as("score"))
        .orderBy(col("score").desc, col("doc_id").asc)
    },
    Some(s"""WITH chunks AS ($chunkFanoutSql),
           |${bm25Ctes("term IN ('join', 'spark', 'vector')", from = "chunks", key = "chunk_id", text = "chunk_text")},
           |${wlCte(cols = "chunk_id, doc_id", text = "chunk_text", from = "chunks")},
           |cand AS (SELECT chunk_id FROM wl
           |  WHERE (list_contains(w, 'join') AND list_contains(w, 'vector'))
           |     OR (list_contains(w, 'spark') AND NOT list_contains(w, 'hash'))),
           |perdoc AS (SELECT c.doc_id, max(s.score) AS score
           |  FROM scored s JOIN cand USING (chunk_id)
           |  JOIN chunks c USING (chunk_id)
           |  GROUP BY c.doc_id),
           |topk AS (SELECT doc_id, score FROM perdoc
           |  ORDER BY round(score, 5) DESC, doc_id LIMIT 20)
           |SELECT doc_id, round(score, 5) AS score FROM topk
           |ORDER BY score DESC, doc_id""".stripMargin))

  /** NEAR atoms INSIDE the boolean MATCH grammar, served from the index
    * ([[graft.operators.QueryLang.Near]] +
    * [[graft.operators.Bm25Indexer.booleanSearch]]): FTS5's MATCH embeds
    * `NEAR(...)` as an atom of the boolean algebra — here
    * `NEAR(spark vector, 8) OR (join NOT hash)`. The NEAR atom's candidate
    * ids come from ≤2 term-pruned POSITION reads (window = span length ≤ 8),
    * union/anti compose them with the term sets, BM25 ranks over the
    * positive terms. The oracle re-derives the NEAR window from re-tokenized
    * text with the same start-at-an-occurrence span logic as
    * `ql_near_index`, then replays the boolean and the scoring in SQL.
    */
  private val qlBooleanNearIndex = Q(
    (s, d) => {
      val idx = indexDocuments(s, d, "graft_boolnear_idx_", selectByRounded = Some(5), phrase = true)
      idx.booleanSearch("NEAR(spark vector, 8) OR (join NOT hash)", 20)
        .select(col("chunkId").as("doc_id"), round(col("score"), 5).as("score"))
        .orderBy(col("score").desc, col("doc_id").asc)
    },
    Some(s"""WITH ${bm25Ctes("term IN ('join', 'spark', 'vector')")},
           |${wlCte()},
           |f AS (SELECT doc_id, w,
           |    list_filter(generate_series(1, len(w)), i -> w[i] = 'spark') AS pa,
           |    list_filter(generate_series(1, len(w)), i -> w[i] = 'vector') AS pb
           |  FROM wl
           |  WHERE list_contains(w, 'spark') AND list_contains(w, 'vector')),
           |$nearSpansCte,
           |nearc AS (SELECT doc_id FROM spans WHERE span_len <= 8),
           |boolc AS (SELECT doc_id FROM wl
           |  WHERE list_contains(w, 'join') AND NOT list_contains(w, 'hash')),
           |cand AS (SELECT doc_id FROM nearc UNION SELECT doc_id FROM boolc),
           |$candidatesTopk""".stripMargin))

  /** NEAR over the positional index ([[graft.operators.Bm25Indexer.near]],
    * FTS5 `NEAR(a b c, n)`): all terms within a ≤12-token window, ranked by
    * the minimal span — evaluated from ≤3 term-pruned position reads, never
    * the token stream. Oracle = the scan-semantics replay with the window
    * cut (same candidate/window logic as `ql_minspan_search`).
    */
  private val qlNearIndex = Q(
    (s, d) => {
      val idx = indexDocuments(s, d, "graft_near_idx_", phrase = true)
      idx.near(Seq("spark", "vector", "window"), window = 12, k = 25)
        .select(col("docId").as("doc_id"), col("span_len"), col("span_start"))
        .orderBy(col("span_len"), col("doc_id"))
    },
    Some(s"""WITH tok AS (SELECT doc_id, ${tokens("text")} AS w
           |  FROM documents),
           |$minSpanCtes
           |SELECT doc_id, CAST(span_len AS BIGINT) AS span_len,
           |  CAST(list_min(list_transform(
           |    list_filter(cand, z -> z.e - z.st + 1 = span_len), z -> z.st)) AS BIGINT)
           |    AS span_start
           |FROM sel WHERE span_len <= 12
           |ORDER BY span_len, doc_id LIMIT 25""".stripMargin))

  /** Positional-index lifecycle ([[graft.operators.Bm25Indexer.phrase]]):
    * index → build the positional artifact → incremental delete+replace
    * APPENDING two fresh "hash join" occurrences per replaced doc → phrase
    * query. Replaced docs' occurrences are only reachable through the
    * positions_delta union and deleted docs must die via the shared
    * tombstones, so the hash gates the artifact's whole LSM contract.
    */
  private val phraseLifecycle = Q(
    (s, d) => {
      val idx = indexDocuments(s, d, "graft_phrase_lsm_", phrase = true)
      deleteAndReplace(idx, s, d, " hash join hash join")
      idx.phrase(Seq("hash", "join"), k = 200)
        .select(col("docId").as("doc_id"), col("phrase_tf"), col("first_pos"))
        .orderBy(col("phrase_tf").desc, col("doc_id"))
    },
    Some(s"""WITH corpus AS (SELECT
           |    CASE WHEN doc_id % 7 = 0 THEN doc_id + 10000000 ELSE doc_id END AS doc_id,
           |    text || CASE WHEN doc_id % 7 = 0 THEN ' hash join hash join' ELSE '' END AS text
           |  FROM documents WHERE doc_id % 13 <> 0),
           |tok AS (SELECT doc_id, ${tokens("text")} AS w
           |  FROM corpus),
           |$hashJoinPhraseSql
           |ORDER BY phrase_tf DESC, doc_id LIMIT 200""".stripMargin))

  /** Boolean text query ([[graft.operators.QueryLang.booleanSearch]]):
    * AND/OR/NOT with parentheses compiled to ONE codegen'd predicate over
    * the tokenized text — the FTS5 MATCH boolean surface the reference's
    * conjunctive prep never exposes. Rank = (positive terms matched desc,
    * their tf desc, id asc); scan-shaped, no shuffle before the top-k.
    */
  private val qlBooleanSearch = Q(
    (s, d) => graft.operators.QueryLang.booleanSearch(
      D.documents(s, d), "doc_id", "text",
      "(join AND vector) OR (spark NOT hash)", k = 30),
    Some(s"""WITH tok AS (SELECT doc_id,
           |    ${tokens("text")} AS w
           |  FROM documents)
           |SELECT doc_id,
           |  CAST(list_contains(w, 'join')::int + list_contains(w, 'spark')::int
           |       + list_contains(w, 'vector')::int AS BIGINT) AS n_matched,
           |  CAST(len(list_filter(w, x -> x IN ('join', 'spark', 'vector'))) AS BIGINT) AS tf_total
           |FROM tok
           |WHERE (list_contains(w, 'join') AND list_contains(w, 'vector'))
           |   OR (list_contains(w, 'spark') AND NOT list_contains(w, 'hash'))
           |ORDER BY n_matched DESC, tf_total DESC, doc_id LIMIT 30""".stripMargin))

  /** Exact phrase search ([[graft.operators.QueryLang.phraseSearch]]):
    * verbatim token-sequence occurrences with count + first position. The
    * postings-backed twin (positionalPostings → ≤|phrase| term-pruned reads,
    * the interactive-search plan at 100 TB) is spec-pinned equal to this
    * scan in QueryLangSpec.
    */
  private val qlPhraseSearch = Q(
    (s, d) => graft.operators.QueryLang.phraseSearch(
      D.documents(s, d), "doc_id", "text", Seq("hash", "join"), k = 100),
    Some(s"""WITH tok AS (SELECT doc_id,
           |    ${tokens("text")} AS w
           |  FROM documents),
           |$hashJoinPhraseSql
           |ORDER BY phrase_tf DESC, doc_id LIMIT 100""".stripMargin))

  /** Proximity search ([[graft.operators.QueryLang.minSpanSearch]]): among
    * docs holding EVERY query term, the smallest token window covering all
    * of them — NEAR-style ranking. A minimal window starts at a term
    * occurrence, so the per-row cost is occurrences × terms × tokens.
    */
  private val qlMinspanSearch = Q(
    (s, d) => graft.operators.QueryLang.minSpanSearch(
      D.documents(s, d), "doc_id", "text",
      Seq("spark", "vector", "window"), k = 25),
    Some(s"""WITH tok AS (SELECT doc_id,
           |    ${tokens("text")} AS w
           |  FROM documents),
           |$minSpanCtes
           |SELECT doc_id, CAST(span_len AS BIGINT) AS span_len,
           |  CAST(list_min(list_transform(
           |    list_filter(cand, z -> z.e - z.st + 1 = span_len), z -> z.st)) AS BIGINT)
           |    AS span_start
           |FROM sel ORDER BY span_len, doc_id LIMIT 25""".stripMargin))

  val all: Map[String, Q] = Map(
    "ql_boolean_index" -> qlBooleanIndex,
    "ql_double_negation" -> qlDoubleNegation,
    "ql_punctuated_scan" -> qlPunctuatedScan,
    "ql_punctuated_atom" -> qlPunctuatedAtom,
    "ql_boolean_phrase_index" -> qlBooleanPhraseIndex,
    "ql_boolean_filtered" -> qlBooleanFiltered,
    "ql_prefix_index" -> qlPrefixIndex,
    "ql_phrase_prefix_index" -> qlPhrasePrefixIndex,
    "ql_anchor_index" -> qlAnchorIndex,
    "ql_match_fused" -> qlMatchFused,
    "ql_match_docs" -> qlMatchDocs,
    "ql_boolean_near_index" -> qlBooleanNearIndex,
    "ql_near_index" -> qlNearIndex,
    "phrase_lifecycle" -> phraseLifecycle,
    "ql_boolean_search" -> qlBooleanSearch,
    "ql_phrase_search" -> qlPhraseSearch,
    "ql_minspan_search" -> qlMinspanSearch)
}
