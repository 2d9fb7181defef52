package graft.api.queries

/** DuckDB replay text that two or more registry rows share. A fragment takes
  * only what its callers vary: source relation, key and text columns, term
  * list. A copy that differs in structure keeps its own SQL in its row.
  */
private[api] object OracleSql {

  /** The m5 fixed-size chunk fan-out: 400-char chunks every 300 chars, global
    * sequential ids (the SQL side of [[graft.api.Queries.chunkFanout]]).
    */
  val chunkFanoutSql =
    """SELECT row_number() OVER (ORDER BY doc_id, i) AS chunk_id, doc_id, i AS chunk_number,
      |  substring(text, CAST(i*300 + 1 AS INT), 400) AS chunk_text
      |FROM (SELECT doc_id, text,
      |        unnest(generate_series(0, CAST(greatest(1, ceil((length(text)-100)/300.0)) AS BIGINT) - 1)) AS i
      |      FROM documents)""".stripMargin

  /** The recursive-splitter state machine (TextSplitter 400/100, space
    * separator) as CTE text, shared by `split_recursive` and
    * `m1b_full_lifecycle`. Expects a prior CTE `base(doc_id, text)` already
    * filtered by the symmetric faithfulness guards; yields `st` whose
    * `done` rows carry (doc_id, acc = chr(31)-joined chunks, n_chunks).
    * Must appear under a WITH RECURSIVE prefix.
    */
  def splitStateCtesSql: String =
    s"""wt AS (SELECT doc_id, string_split(text, ' ') AS ws FROM base),
       |words AS (SELECT doc_id, wi, ws[wi] AS w, length(ws[wi]) AS wl
       |  FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS wi FROM wt)),
       |st AS (
       |  SELECT doc_id, 1 AS wi, CAST([] AS VARCHAR[]) AS cur, 0 AS total,
       |         '' AS acc, 0 AS n_chunks, false AS done
       |  FROM base
       |  UNION ALL
       |  SELECT doc_id, wi + 1,
       |    CASE WHEN fin THEN cur
       |         WHEN ovf THEN list_slice(cur, jstar + 1, len(cur)) || [w]
       |         ELSE cur || [w] END,
       |    CASE WHEN fin THEN total
       |         WHEN ovf THEN tj + wl + (CASE WHEN len(cur) - jstar > 0 THEN 1 ELSE 0 END)
       |         ELSE total + wl + (CASE WHEN len(cur) > 0 THEN 1 ELSE 0 END) END,
       |    CASE WHEN (fin OR ovf) AND em <> ''
       |         THEN acc || (CASE WHEN n_chunks > 0 THEN chr(31) ELSE '' END) || em
       |         ELSE acc END,
       |    n_chunks + (CASE WHEN (fin OR ovf) AND em <> '' THEN 1 ELSE 0 END),
       |    fin
       |  FROM (
       |    SELECT *, CASE WHEN ovf THEN tots[jstar + 1] ELSE 0 END AS tj
       |    FROM (
       |      SELECT *, CASE WHEN ovf THEN js[1] ELSE 0 END AS jstar
       |      FROM (
       |        SELECT *,
       |          (NOT fin AND len(cur) > 0 AND total + wl + 1 > 400) AS ovf,
       |          CASE WHEN len(cur) > 0 AND (fin OR total + wl + 1 > 400)
       |               THEN trim(array_to_string(cur, ' ')) ELSE '' END AS em,
       |          list_filter(generate_series(0, len(cur)),
       |            j -> NOT (tots[j + 1] > 100 OR
       |                      (tots[j + 1] + wl + (CASE WHEN len(cur) - j > 0 THEN 1 ELSE 0 END) > 400
       |                       AND tots[j + 1] > 0))) AS js
       |        FROM (
       |          SELECT s.doc_id, s.wi, s.cur, s.total, s.acc, s.n_chunks,
       |            (w3.doc_id IS NULL) AS fin,
       |            coalesce(w3.w, '') AS w, coalesce(w3.wl, 0) AS wl,
       |            list_transform(generate_series(0, len(s.cur)),
       |              j -> s.total - CASE WHEN j = 0 THEN 0 ELSE
       |                CAST(list_sum(list_transform(generate_series(1, j),
       |                  i -> length(s.cur[i]) + CASE WHEN i < len(s.cur) THEN 1 ELSE 0 END)) AS INT) END) AS tots
       |          FROM (SELECT * FROM st WHERE NOT done) s
       |          LEFT JOIN words w3 ON w3.doc_id = s.doc_id AND w3.wi = s.wi
       |        )
       |      )
       |    )
       |  )
       |)
""".stripMargin

  /** The engine tokenizer ([[graft.operators.Search.tokensCol]]): lower-case,
    * split on every run of characters outside [a-z0-9], drop the empties.
    * `v` names the filter's lambda variable, for a caller whose enclosing
    * lambda already binds `x`.
    */
  def tokens(text: String, v: String = "x"): String =
    s"list_filter(regexp_split_to_array(lower($text), '[^a-z0-9]+'), $v -> $v <> '')"

  /** `wl`: each row's token list `w` next to `cols`, the relation the MATCH
    * rows evaluate their candidate predicates over.
    */
  def wlCte(cols: String = "doc_id", text: String = "text", from: String = "documents"): String =
    s"""wl AS (SELECT $cols, ${tokens(text)} AS w
       |  FROM $from)""".stripMargin

  /** BM25 (k1=1.2, b=0.75) statistics over `from`, keyed by `key`: toks →
    * dl → corpus → tf (only the terms the predicate `terms` keeps) → df.
    * Ends with a comma, ready for the caller's `scored`.
    */
  private def bm25StatsCtes(terms: String, from: String, key: String, text: String): String =
    s"""toks AS (
       |  SELECT $key, unnest(${tokens(text)}) AS term
       |  FROM $from),
       |dl AS (SELECT $key, count(*) AS dlen FROM toks GROUP BY $key),
       |corpus AS (SELECT count(*) AS n, avg(dlen) AS avgdl FROM dl),
       |tf AS (SELECT $key, term, count(*) AS tf FROM toks
       |  WHERE $terms GROUP BY $key, term),
       |df AS (SELECT term, count(DISTINCT $key) AS df FROM tf GROUP BY term),""".stripMargin

  /** The predicate keeping `terms`: `term IN ('a', 'b')`. */
  def termIn(terms: Seq[String]): String = s"term IN (${terms.map(t => s"'$t'").mkString(", ")})"

  /** One term's BM25 weight: idf × saturated, length-normalized tf. */
  private val bm25Weight =
    """ln(1 + (corpus.n - df.df + 0.5)/(df.df + 0.5))
      |         * (tf.tf*(1.2+1))/(tf.tf + 1.2*(1 - 0.75 + 0.75*dl.dlen/corpus.avgdl))""".stripMargin

  /** The BM25 chain ending in `scored(key, score)`: the summed weights of the
    * terms `terms` keeps, per row of `from`.
    */
  def bm25Ctes(terms: String, from: String = "documents", key: String = "doc_id",
               text: String = "text"): String =
    s"""${bm25StatsCtes(terms, from, key, text)}
       |scored AS (
       |  SELECT tf.$key,
       |    sum( $bm25Weight ) AS score
       |  FROM tf JOIN df USING(term) JOIN dl USING($key) CROSS JOIN corpus
       |  GROUP BY tf.$key)""".stripMargin

  /** BM25 top-`k` over `from` for `terms` as one statement; `conjunctive`
    * keeps only documents that match every term.
    */
  def bm25Sql(terms: Seq[String], conjunctive: Boolean, k: Int,
              from: String = "documents",
              tieBreak: String = "doc_id"): String = {
    val gate = if (conjunctive) s"WHERE matched = ${terms.length}" else ""
    s"""WITH ${bm25StatsCtes(termIn(terms), from, "doc_id", "text")}
       |scored AS (
       |  SELECT tf.doc_id,
       |    sum( $bm25Weight ) AS score,
       |    count(DISTINCT tf.term) AS matched
       |  FROM tf JOIN df USING(term) JOIN dl USING(doc_id) CROSS JOIN corpus
       |  GROUP BY tf.doc_id),
       |gated AS (SELECT doc_id, score FROM scored $gate),
       |topk AS (SELECT doc_id, score FROM gated ORDER BY round(score,5) DESC, $tieBreak LIMIT $k)
       |SELECT doc_id, round(score,5) AS score FROM topk""".stripMargin
  }

  /** Squared L2 in DuckDB with the same arithmetic as the codegen'd l2_sq_f
    * expression: per-element double subtraction, double accumulation.
    */
  def l2Sql(v: String, q: String): String =
    s"""list_sum(list_transform(list_zip($v, $q),
       |      x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
       |         * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))))""".stripMargin

  /** Double-precision cosine in DuckDB SQL. `list_cosine_similarity` computes in
    * float32 and diverges from Spark's double math; this form matches bit-for-bit
    * after rounding.
    */
  def cosSql(v: String, q: String): String =
    s"""list_sum(list_transform(list_zip($v, $q), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) /
       |    ( sqrt(list_sum(list_transform($v, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) *
       |      sqrt(list_sum(list_transform($q, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) )""".stripMargin

  /** Word-3-gram shingles of the token list `toks`. */
  def shinglesSqlFrom(toks: String): String =
    s"""CASE WHEN len($toks) < 3 THEN [array_to_string($toks, ' ')]
       |ELSE list_transform(generate_series(1, len($toks) - 2),
       |       i -> array_to_string(($toks)[i:i+2], ' ')) END""".stripMargin

  /** `toks(doc_id, t)` and `sh(doc_id, sh)`: tokens and shingles of documents.text. */
  val shinglesCte =
    s"""toks AS (SELECT doc_id, ${tokens("text")} AS t FROM documents),
       |sh AS (SELECT doc_id, ${shinglesSqlFrom("t")} AS sh FROM toks)""".stripMargin

  /** Shared DuckDB CTE block replaying PQ fit (vec_id 1..16 sub-vectors as
    * centroids) + encode + ADC against the vec_id=0 query — ends with the
    * `adc` table (vec_id, adc); `ann_pq_adc` and `ann_pq_rerank` build on it.
    */
  def pqAdcCtes: String =
    s"""WITH grid AS (SELECT unnest(generate_series(0, 7)) AS sub),
       |cent AS (SELECT g.sub, e.vec_id - 1 AS cid,
       |    e.embedding[g.sub*8+1 : g.sub*8+8] AS cvec
       |  FROM grid g CROSS JOIN
       |    (SELECT vec_id, embedding FROM embeddings WHERE vec_id BETWEEN 1 AND 16) e),
       |subs AS (SELECT v.vec_id, g.sub, v.embedding[g.sub*8+1 : g.sub*8+8] AS svec
       |  FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id <> 0) v
       |  CROSS JOIN grid g),
       |enc AS (SELECT vec_id, sub, cid FROM (
       |    SELECT v.vec_id, v.sub, c.cid, ${l2Sql("v.svec", "c.cvec")} AS dc,
       |      row_number() OVER (PARTITION BY v.vec_id, v.sub
       |                         ORDER BY dc ASC, c.cid ASC) AS rn
       |    FROM subs v JOIN cent c ON v.sub = c.sub) WHERE rn = 1),
       |q0 AS (SELECT embedding AS e FROM embeddings WHERE vec_id = 0),
       |lut AS (SELECT c.sub, c.cid,
       |    ${l2Sql("c.cvec", "q.e[c.sub*8+1 : c.sub*8+8]")} AS qd
       |  FROM cent c CROSS JOIN q0 q),
       |adc AS (SELECT e.vec_id, sum(l.qd) AS adc
       |  FROM enc e JOIN lut l ON e.sub = l.sub AND e.cid = l.cid
       |  GROUP BY e.vec_id)""".stripMargin

  /** Shared DuckDB CTE block replaying the SQ8 pipeline — per-dimension
    * min/max fit over the corpus, uint8 encode (floor, 255-clamped),
    * midpoint dequantization, and the L2 distance to the vec_id=0 query
    * summed in dimension order (list_sum over an ordered comprehension, the
    * float-parity rule) — ends with the `sqd` table (vec_id, dist).
    */
  def sq8Ctes: String =
    """WITH corp AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id <> 0),
      |mm AS (SELECT d, min(CAST(embedding[d] AS DOUBLE)) AS mn,
      |    max(CAST(embedding[d] AS DOUBLE)) AS mx
      |  FROM corp CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS d) GROUP BY d),
      |mv AS (SELECT list(mn ORDER BY d) AS mns, list(mx ORDER BY d) AS mxs FROM mm),
      |q0 AS (SELECT embedding AS e FROM embeddings WHERE vec_id = 0),
      |vh AS (SELECT c.vec_id,
      |    list_transform(generate_series(1, 64), i ->
      |      m.mns[i]
      |      + ((CASE WHEN m.mxs[i] = m.mns[i] THEN 0
      |          ELSE least(255, floor((CAST(c.embedding[i] AS DOUBLE) - m.mns[i])
      |                                / ((m.mxs[i] - m.mns[i]) / 256))) END) + 0.5)
      |        * ((m.mxs[i] - m.mns[i]) / 256)) AS vhat
      |  FROM corp c CROSS JOIN mv m),
      |sqd AS (SELECT v.vec_id, """.stripMargin +
      l2Sql("v.vhat", "q.e") +
      """ AS dist
      |  FROM vh v CROSS JOIN q0 q)""".stripMargin

  // --- murmur3_x86_32 replayed in DuckDB SQL (Scala MurmurHash3.stringHash) ---
  // Every arithmetic step is masked to 32 bits; multiplies go through HUGEINT
  // because BIGINT×BIGINT would overflow before the mask. Constants are the
  // public murmur3 constants (0xcc9e2d51, 0x1b873593, 0xe6546b64, 0x85ebca6b,
  // 0xc2b2ae35) in decimal.
  private def mhMul(e: String, c: Long): String =
    s"CAST(((CAST($e AS HUGEINT) * $c) % 4294967296) AS BIGINT)"

  private def mhRotl(e: String, r: Int): String =
    s"(((($e) << $r) | (($e) >> ${32 - r})) & 4294967295)"

  /** mixLast's k-transform: k*c1, rotl15, k*c2 — applied to a 32-bit block. */
  private def mhK(d: String): String =
    mhMul(mhRotl(mhMul(d, 3432918353L), 15), 461845907L)

  /** One mix round as a list_reduce lambda body: h ← (rotl13(h ⊕ K(d)))·5 + c. */
  private def mhMixLambda: String =
    s"CAST((${mhRotl(s"xor(h, ${mhK("d")})", 13)} * 5 + 3864292196) % 4294967296 AS BIGINT)"

  /** The murmur-embed → cosine-top-10 CTE chain, shared by `m1_embed_pipeline`
    * and `m1b_full_lifecycle`. Expects a prior CTE
    * `c(chunk_id, doc_id, chunk_number, chunk_text)` that includes the
    * chunk_id = -1 query sentinel and excludes zero-feature chunks; yields
    * `topk(chunk_id, doc_id, chunk_number, sc)`.
    */
  def embedSearchCtesSql: String =
    s"""tl AS (SELECT chunk_id, doc_id, chunk_number,
       |    ${tokens("chunk_text")} AS ts
       |  FROM c),
       |feats AS (SELECT chunk_id, unnest(
       |    ts || list_transform(generate_series(1, len(ts) - 1), i -> ts[i] || ' ' || ts[i+1])
       |  ) AS f FROM tl),
       |h0 AS (SELECT chunk_id, f, list_reduce(
       |    list_prepend(CAST(42 AS BIGINT),
       |      list_transform(generate_series(1, length(f) // 2),
       |        j -> CAST(unicode(substr(f, 2*j - 1, 1)) * 65536 + unicode(substr(f, 2*j, 1)) AS BIGINT))),
       |    (h, d) -> $mhMixLambda) AS hb FROM feats),
       |h1 AS (SELECT chunk_id, xor(CASE WHEN length(f) % 2 = 1
       |    THEN xor(hb, ${mhK("unicode(substr(f, length(f), 1))")}) ELSE hb END,
       |    length(f)) AS hx FROM h0),
       |h2 AS (SELECT chunk_id, xor(hx, hx >> 16) AS a1 FROM h1),
       |h3 AS (SELECT chunk_id, ${mhMul("a1", 2246822507L)} AS a2 FROM h2),
       |h4 AS (SELECT chunk_id, xor(a2, a2 >> 13) AS a3 FROM h3),
       |h5 AS (SELECT chunk_id, ${mhMul("a3", 3266489909L)} AS a4 FROM h4),
       |hf AS (SELECT chunk_id, xor(a4, a4 >> 16) AS h FROM h5),
       |acc AS (SELECT chunk_id, CAST(h % 64 AS INT) AS idx,
       |    SUM(CAST(1 - 2 * ((h >> 31) & 1) AS DOUBLE)) AS cacc
       |  FROM hf GROUP BY 1, 2),
       |nrm AS (SELECT chunk_id, 1.0 / sqrt(SUM(cacc * cacc)) AS inv FROM acc GROUP BY 1),
       |dense AS (SELECT t.chunk_id, s.i,
       |    coalesce(CAST(a.cacc * n.inv AS FLOAT), CAST(0 AS FLOAT)) AS v
       |  FROM (SELECT DISTINCT chunk_id FROM tl) t
       |  CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS i) s
       |  LEFT JOIN acc a ON a.chunk_id = t.chunk_id AND a.idx = s.i
       |  JOIN nrm n ON n.chunk_id = t.chunk_id),
       |vecs AS (SELECT chunk_id, list(v ORDER BY i) AS emb FROM dense GROUP BY chunk_id),
       |q AS (SELECT emb AS e FROM vecs WHERE chunk_id = -1),
       |meta AS (SELECT chunk_id, doc_id, chunk_number FROM tl WHERE chunk_id <> -1),
       |scored AS (SELECT m.chunk_id, m.doc_id, m.chunk_number,
       |    ${cosSql("v.emb", "(SELECT e FROM q)")} AS sc
       |  FROM vecs v JOIN meta m ON v.chunk_id = m.chunk_id),
       |topk AS (SELECT * FROM scored ORDER BY sc DESC, chunk_id LIMIT 10)""".stripMargin

  // ------------------------------------------------------------ search family

  /** The MATCH rows' ranked tail: the `scored` documents in `cand`, top 20 by
    * rounded score with a doc_id tie-break.
    */
  val candidatesTopk =
    """topk AS (SELECT s.doc_id, s.score FROM scored s JOIN cand USING (doc_id)
      |  ORDER BY round(s.score, 5) DESC, s.doc_id LIMIT 20)
      |SELECT doc_id, round(score, 5) AS score FROM topk
      |ORDER BY score DESC, doc_id""".stripMargin

  /** `spans(doc_id, span_len)`: over `f(doc_id, w, pa, pb)`, the shortest
    * token window that starts at an occurrence and holds a position from
    * both `pa` and `pb` (the two-operand NEAR window).
    */
  val nearSpansCte =
    """spans AS (SELECT doc_id,
      |    list_min(list_transform(
      |      list_filter(
      |        list_transform(generate_series(1, len(w)), s -> struct_pack(
      |          e := greatest(list_min(list_filter(pa, p -> p >= s)),
      |                        list_min(list_filter(pb, p -> p >= s))),
      |          st := s)),
      |        x -> x.st <= least(list_max(pa), list_max(pb))
      |             AND (list_contains(pa, x.st) OR list_contains(pb, x.st))),
      |      z -> z.e - z.st + 1)) AS span_len
      |  FROM f)""".stripMargin

  /** Over `tok(doc_id, w)`: `f` keeps the documents holding spark, vector and
    * window, `c` their candidate windows (one per start at an occurrence),
    * and `sel(doc_id, cand, span_len)` the minimal span of each.
    */
  val minSpanCtes =
    """f AS (SELECT doc_id, w,
      |    list_filter(generate_series(1, len(w)), i -> w[i] = 'spark') AS pa,
      |    list_filter(generate_series(1, len(w)), i -> w[i] = 'vector') AS pb,
      |    list_filter(generate_series(1, len(w)), i -> w[i] = 'window') AS pc
      |  FROM tok
      |  WHERE list_contains(w, 'spark') AND list_contains(w, 'vector')
      |    AND list_contains(w, 'window')),
      |c AS (SELECT doc_id, list_filter(
      |    list_transform(generate_series(1, len(w)), s -> struct_pack(
      |      e := greatest(list_min(list_filter(pa, p -> p >= s)),
      |                    list_min(list_filter(pb, p -> p >= s)),
      |                    list_min(list_filter(pc, p -> p >= s))),
      |      st := s)),
      |    x -> x.st <= least(list_max(pa), list_max(pb), list_max(pc))
      |         AND (list_contains(pa, x.st) OR list_contains(pb, x.st)
      |              OR list_contains(pc, x.st))) AS cand
      |  FROM f),
      |sel AS (SELECT doc_id, cand,
      |    list_min(list_transform(cand, z -> z.e - z.st + 1)) AS span_len
      |  FROM c WHERE len(cand) > 0)""".stripMargin

  /** Over `tok(doc_id, w)`: each document's "hash join" occurrences as
    * (doc_id, phrase_tf, first_pos), for the caller to order and cut.
    */
  val hashJoinPhraseSql =
    """p AS (SELECT doc_id, list_filter(generate_series(1, len(w) - 1),
      |        i -> w[i] = 'hash' AND w[i+1] = 'join') AS hits
      |  FROM tok WHERE len(w) >= 2)
      |SELECT doc_id, CAST(len(hits) AS BIGINT) AS phrase_tf,
      |  CAST(hits[1] AS BIGINT) AS first_pos
      |FROM p WHERE len(hits) > 0""".stripMargin

  /** Brute-force suggestions over `vocab(term, term_df)` for each `qs(q)`: the
    * three terms within edit distance 2, nearest first, then by df and term.
    */
  val suggestTop3Sql =
    """cand AS (SELECT q, term AS suggestion,
      |    CAST(levenshtein(q, term) AS BIGINT) AS dist, term_df
      |  FROM qs CROSS JOIN vocab WHERE levenshtein(q, term) <= 2),
      |rk AS (SELECT *, row_number() OVER (PARTITION BY q
      |    ORDER BY dist, term_df DESC, suggestion) AS rn FROM cand)
      |SELECT q, suggestion, dist, term_df, CAST(rn AS BIGINT) AS rank
      |FROM rk WHERE rn <= 3 ORDER BY q, rank""".stripMargin

  // ------------------------------------------------------ dedup and curation

  /** `m` (md5 of every shingle) and `sig(doc_id, sig0..sig3)`: the four
    * 8-hex-digit minhash values over `sh(doc_id, sh)`.
    */
  val minhashSigCtes =
    """m AS (SELECT doc_id, list_transform(sh, s -> md5(s)) AS m FROM sh),
      |sig AS (SELECT doc_id,
      |  list_min(list_transform(m, x -> substring(x, 1, 8))) AS sig0,
      |  list_min(list_transform(m, x -> substring(x, 9, 8))) AS sig1,
      |  list_min(list_transform(m, x -> substring(x, 17, 8))) AS sig2,
      |  list_min(list_transform(m, x -> substring(x, 25, 8))) AS sig3
      |  FROM m)""".stripMargin

  /** `pos`, `wins`, `sh` and `dup(doc_id, s, e)`: every `len`-char window of
    * documents.text that also occurs in another document.
    */
  def crossDocWindowsCtes(len: Int): String =
    s"""pos AS (SELECT doc_id, text,
       |    unnest(generate_series(0, length(text) - $len)) AS off
       |  FROM documents WHERE length(text) >= $len),
       |wins AS (SELECT doc_id, off, substr(text, off + 1, $len) AS g FROM pos),
       |sh AS (SELECT g FROM (
       |    SELECT g, count(DISTINCT doc_id) AS nd FROM wins GROUP BY g) WHERE nd >= 2),
       |dup AS (SELECT doc_id, off AS s, off + $len AS e FROM wins JOIN sh USING (g))""".stripMargin

  /** `h(doc_id, text, hs)`: the first 8 hex digits of the md5 of every
    * 7-char window of documents.text (of the whole text when shorter).
    */
  val charHashesCte =
    """h AS (
      |  SELECT doc_id, text,
      |    CASE WHEN length(text) < 7 THEN [substring(md5(text), 1, 8)]
      |    ELSE list_transform(generate_series(1, length(text) - 6),
      |           i -> substring(md5(substring(text, i, 7)), 1, 8)) END AS hs
      |  FROM documents)""".stripMargin

  /** `bw`, `tw` and `dup(doc_id, s, e)`: every 16-char window of a train doc
    * in `tr(doc_id, text)` that also occurs in the benchmark `be(text)`.
    */
  val benchOverlapCtes =
    """bw AS (SELECT DISTINCT substr(text, off + 1, 16) AS g FROM
      |  (SELECT text, unnest(generate_series(0, length(text) - 16)) AS off
      |   FROM be WHERE length(text) >= 16)),
      |tw AS (SELECT doc_id, off, substr(text, off + 1, 16) AS g FROM
      |  (SELECT doc_id, text, unnest(generate_series(0, length(text) - 16)) AS off
      |   FROM tr WHERE length(text) >= 16)),
      |dup AS (SELECT doc_id, off AS s, off + 16 AS e FROM tw JOIN bw USING (g))""".stripMargin

  /** Gaps and islands over `dup(doc_id, s, e)`: `isl` numbers each doc's
    * overlapping or touching windows with one `island` per merged span.
    */
  val islandsCtes =
    """fl AS (SELECT doc_id, s, e,
      |    CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY s, e
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) THEN 1 ELSE 0 END AS nw
      |  FROM dup),
      |isl AS (SELECT doc_id, s, e, sum(nw) OVER (PARTITION BY doc_id ORDER BY s, e
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island FROM fl)""".stripMargin

  /** C4 line dedup over `base(doc_id, ls)`: `reb(doc_id, cleaned)` keeps the
    * lines that occur at most twice in the corpus, in order.
    */
  val lineDedupCtes =
    """idx AS (SELECT doc_id, unnest(generate_series(1, len(ls))) AS i, ls FROM base),
      |lines AS (SELECT doc_id, i, ls[i] AS line FROM idx),
      |lcnt AS (SELECT line, count(*) AS c FROM lines GROUP BY line),
      |joined AS (SELECT l.doc_id, l.i, l.line, c.c FROM lines l JOIN lcnt c USING(line)),
      |reb AS (SELECT doc_id, coalesce(string_agg(CASE WHEN c <= 2 THEN line END, chr(10) ORDER BY i), '') AS cleaned
      |        FROM joined GROUP BY doc_id)""".stripMargin

  /** Every language's marker words, as the body of a SQL `IN (...)` list. */
  val stopwordList: String = graft.operators.TextAnalysis.langMarkers.values.flatten.toSeq
    .distinct.sorted.map(w => s"'$w'").mkString(", ")

  /** Per language `l`, `score_l`: how many of the tokens `t` are its markers. */
  val langScoresSql: String = graft.operators.TextAnalysis.langMarkers.toSeq.sortBy(_._1).map {
    case (l, ws) =>
      val list = ws.map(w => s"'$w'").mkString(", ")
      s"len(list_filter(t, x -> x IN ($list))) AS score_$l"
  }.mkString(",\n  ")

  /** The language with the most marker hits (ties to the first in de, en,
    * es, fr), or 'und' with none.
    */
  val predLangSql =
    """CASE WHEN greatest(score_de, score_en, score_es, score_fr) = 0 THEN 'und'
      |       WHEN score_de >= score_en AND score_de >= score_es AND score_de >= score_fr THEN 'de'
      |       WHEN score_en >= score_es AND score_en >= score_fr THEN 'en'
      |       WHEN score_es >= score_fr THEN 'es'
      |       ELSE 'fr' END AS pred_lang""".stripMargin

  // ---------------------------------------------------------------- ANN family

  /** `q` (the vec_id = 0 query), `cent` (vec_ids 1..16 as coarse centroids),
    * `probe` (the 4 cids nearest the query), `dists` and `assigned(vec_id,
    * embedding, cid)`: every other vector on its nearest centroid.
    */
  val ivfAssignCtes =
    s"""q AS (SELECT embedding AS e FROM embeddings WHERE vec_id = 0),
       |cent AS (SELECT vec_id AS cid, embedding AS c FROM embeddings
       |         WHERE vec_id BETWEEN 1 AND 16),
       |probe AS (SELECT cid FROM
       |  (SELECT cid, ${l2Sql("c", "(SELECT e FROM q)")} AS pd FROM cent)
       |  ORDER BY pd ASC, cid LIMIT 4),
       |dists AS (SELECT v.vec_id, v.embedding, c.cid,
       |    ${l2Sql("v.embedding", "c.c")} AS dc
       |  FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id <> 0) v
       |  CROSS JOIN cent c),
       |assigned AS (SELECT vec_id, embedding, cid FROM
       |  (SELECT vec_id, embedding, cid,
       |     row_number() OVER (PARTITION BY vec_id ORDER BY dc ASC, cid ASC) AS rn
       |   FROM dists)
       |  WHERE rn = 1)""".stripMargin

  /** `pts(vid, dim, val)`: every non-query embedding exploded to doubles. */
  val kmeansPointsCte =
    """pts AS (SELECT vec_id AS vid,
      |    CAST(z[2] AS INT) - 1 AS dim, CAST(z[1] AS DOUBLE) AS val
      |  FROM (SELECT vec_id,
      |      unnest(list_zip(embedding, range(1, len(embedding) + 1))) AS z
      |    FROM embeddings WHERE vec_id <> 0))""".stripMargin

  /** Three unrolled Lloyd rounds from `c0(cid, dim, cval)` over `pts`:
    * ROUND(dist, 6) argmin with lowest-cid ties, ROUND(avg, 9) update, an
    * empty cluster keeps its centroid; ends with `c3`.
    */
  val kmeansRoundsCtes: String =
    (1 to 3).map { i =>
      s"""d$i AS (SELECT p.vid, c.cid,
         |    round(sum((p.val - c.cval) * (p.val - c.cval)), 6) AS dist
         |  FROM pts p JOIN c${i - 1} c USING (dim) GROUP BY p.vid, c.cid),
         |a$i AS (SELECT vid, cid FROM (
         |    SELECT vid, cid, row_number() OVER (PARTITION BY vid
         |      ORDER BY dist ASC, cid ASC) AS rn FROM d$i) WHERE rn = 1),
         |c$i AS (SELECT prev.cid, prev.dim,
         |    round(coalesce(m.m, prev.cval), 9) AS cval
         |  FROM c${i - 1} prev LEFT JOIN (
         |    SELECT a.cid, p.dim, avg(p.val) AS m
         |    FROM pts p JOIN a$i a USING (vid) GROUP BY a.cid, p.dim) m
         |  ON prev.cid = m.cid AND prev.dim = m.dim)""".stripMargin
    }.mkString(",\n")
}
