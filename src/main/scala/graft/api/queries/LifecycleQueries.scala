package graft.api.queries

import graft.api.Queries._
import graft.api.{Tables => D}
import graft.api.queries.OracleSql._
import graft.functions.HashingEmbedder
import graft.operators.Search
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The collection lifecycle end to end: chunk fan-out and the recursive
  * splitter, embed → search, incremental and bucketed update, document
  * formats, legacy import, and the BPE trainer and encoder.
  */
object LifecycleQueries {

  private val m5ChunkFanout = Q(
    (s, d) => chunkFanout(s, d)
      .select("chunk_id", "doc_id", "chunk_number", "chunk_text")
      .orderBy("doc_id", "chunk_number"),
    Some(s"SELECT chunk_id, doc_id, chunk_number, chunk_text FROM ($chunkFanoutSql) ORDER BY doc_id, chunk_number"))

  /** The RECURSIVE character splitter (F1, TextSplitter 400/100 — the
    * reference's LangChain-default splitting semantics) hash-gated: every
    * doc's chunk count + chunk-stream md5. The oracle replays the greedy
    * merge loop (LangChain `_merge_splits`: emit on overflow, then slide the
    * window dropping head splits until the carried tail fits the overlap
    * budget) as a DuckDB recursive CTE — one step per word, state = the
    * current split list + its joined length; the drop-head while-loop
    * resolves in-step by scanning candidate drop counts over prefix sums.
    * Faithfulness precondition, enforced SYMMETRICALLY in both engines so
    * the gate stays correct under any corpus: docs containing newlines (a
    * coarser separator would win) or a word ≥ chunkSize (per-char recursion
    * would trigger) are excluded from the gate on BOTH sides. On the driver
    * corpus nothing is excluded — the space-separator merge path IS the
    * splitter here. TextSplitterSpec covers the recursive/oversize paths.
    */
  private val splitRecursive = Q(
    (s, d) => {
      val splitter = new graft.functions.TextSplitter(400, 100)
      val splitUdf = udf((t: String) => splitter.split(t))
      D.documents(s, d)
        .filter(!col("text").contains("\n") &&
          !expr("exists(split(text, ' '), w -> length(w) >= 400)"))
        .select(col("doc_id"), splitUdf(col("text")).as("chunks"))
        .select(col("doc_id"), size(col("chunks")).cast("long").as("n_chunks"),
          md5(array_join(col("chunks"), "\u001f")).as("stream_md5"))
        .orderBy("doc_id")
    },
    Some(s"""WITH RECURSIVE base AS (
           |  SELECT doc_id, text FROM documents
           |  WHERE text NOT LIKE '%' || chr(10) || '%'
           |    AND len(list_filter(string_split(text, ' '), x -> length(x) >= 400)) = 0),
           |$splitStateCtesSql
           |SELECT b.doc_id, CAST(coalesce(f.n_chunks, 0) AS BIGINT) AS n_chunks,
           |  md5(coalesce(f.acc, '')) AS stream_md5
           |FROM base b LEFT JOIN (SELECT doc_id, n_chunks, acc FROM st WHERE done) f USING (doc_id)
           |ORDER BY b.doc_id""".stripMargin))

  /** One BPE training round as CTE text: pair counts over the previous
    * round's symbol lists (weighted by word frequency), the deterministic
    * argmax (count desc, then lexicographic pair — Scala's minBy(-c, a, b)),
    * and the merge APPLIED by a fuse-leftmost recursion (provably equivalent
    * to the trainer's single left-to-right pass: fusing at i can never
    * create a match before i, since that would need b == a+b). */
  private def bpeTrainRoundSql(k: Int): String = {
    val prev = if (k > 1) s"apply${k - 1}_fin" else "syms0"
    s""",
       |pairs$k AS (SELECT l[i] AS a, l[i+1] AS b, sum(c) AS pc
       |  FROM (SELECT l, c, unnest(generate_series(1, len(l) - 1)) AS i FROM $prev)
       |  GROUP BY 1, 2),
       |best$k AS (SELECT a, b FROM pairs$k ORDER BY pc DESC, a, b LIMIT 1),
       |apply$k AS (
       |  SELECT w, c, l, false AS done FROM $prev
       |  UNION ALL
       |  SELECT w, c,
       |    CASE WHEN fi IS NULL THEN l
       |         ELSE list_slice(l, 1, fi - 1) || [l[fi] || l[fi + 1]] || list_slice(l, fi + 2, len(l)) END,
       |    fi IS NULL
       |  FROM (
       |    SELECT w, c, l,
       |      (list_filter(generate_series(1, len(l) - 1),
       |        i -> l[i] = ba AND l[i+1] = bb))[1] AS fi
       |    FROM (SELECT s.w, s.c, s.l, b.a AS ba, b.b AS bb
       |          FROM (SELECT * FROM apply$k WHERE NOT done) s, best$k b))),
       |apply${k}_fin AS (SELECT w, c, l FROM apply$k WHERE done)""".stripMargin
  }

  /** The PRODUCTION BPE trainer ([[graft.functions.Bpe.train]] — distributed
    * word-frequency aggregation + driver merge loop) hash-gated for its first
    * 3 rounds, the `cluster_kmeans_train` unrolled-round parity contract:
    * each round's argmax is only right if the previous round's merge was
    * APPLIED right, so the gate covers pair counting, the deterministic
    * tie-break, and the fuse pass transitively. (The frozen-artifact
    * `bpe_encode` gates the encoder; together trainer + encoder are both
    * oracle-covered.)
    */
  private val bpeTrainRounds = Q(
    (s, d) => {
      val model = graft.functions.Bpe.train(
        D.documents(s, d).select("text"), "text", nMerges = 3)
      val sp = s
      import sp.implicits._
      model.merges.zipWithIndex
        .map { case ((a, b), i) => (i + 1L, a, b) }
        .toDF("rank", "left_s", "right_s").orderBy("rank")
    },
    Some(s"""WITH RECURSIVE wf AS (
            |  SELECT t AS w, count(*) AS c FROM (
            |    SELECT unnest(${tokens("text")}) AS t
            |    FROM documents) GROUP BY t),
            |syms0 AS (SELECT w, c,
            |  list_transform(generate_series(1, length(w)), i -> w[i]) || ['</w>'] AS l FROM wf)${bpeTrainRoundSql(1)}${bpeTrainRoundSql(2)}${bpeTrainRoundSql(3)}
            |SELECT CAST(1 AS BIGINT) AS rank, a AS left_s, b AS right_s FROM best1
            |UNION ALL SELECT CAST(2 AS BIGINT), a, b FROM best2
            |UNION ALL SELECT CAST(3 AS BIGINT), a, b FROM best3
            |ORDER BY rank""".stripMargin))

  /** The reference's EXACT create-path lifecycle, hash-gated end to end:
    * header chunk + RECURSIVE splitter ([[graft.operators.Indexing.splitDocuments]]
    * with the real TextSplitter — chunk 0 = header, the converter contract) →
    * the production murmur hashing embedder ([[graft.operators.Indexing.attachEmbeddings]])
    * → cosine top-10 ([[Search.vectorTopK]]). The oracle COMPOSES the two
    * round-8 replay machines: the per-word splitter state CTEs feed their
    * chr(31)-joined chunk streams into the murmur-embed/cosine chain. Chunk
    * identity is (doc_id, chunk_number) — global zipWithIndex ids stay
    * order-dependent and spec-gated; the synthetic doc_id·10000+chunk_number
    * key exists only for deterministic tie-breaks. Same symmetric splitter
    * guards as `split_recursive` (plus excluding chr(31) itself, the stream
    * separator); nothing is excluded on this corpus.
    */
  private val m1bFullLifecycle = Q(
    (s, d) => {
      val emb = HashingEmbedder.default
      val docs = D.documents(s, d)
        .filter(!col("text").contains("\n") &&
          !expr("exists(split(text, ' '), w -> length(w) >= 400)") &&
          !col("text").contains("\u001f"))
        .select(col("doc_id"), col("doc_id").cast("string").as("id"), col("text"))
      val withChunks = graft.operators.Indexing.splitDocuments(
        docs, new graft.functions.TextSplitter(400, 100))
      val chunks = withChunks
        .select(col("doc_id"),
          posexplode(col("chunks")).as(Seq("chunk_number", "chunk")))
        .select(col("doc_id"), col("chunk_number").cast("long").as("chunk_number"),
          col("chunk.indexedData").as("chunk_text"))
        .filter(lower(col("chunk_text")).rlike("[a-z0-9]"))
        .withColumn("chunk_id", col("doc_id") * 10000 + col("chunk_number"))
      val embedded = graft.operators.Indexing.attachEmbeddings(chunks, "chunk_text", emb)
      Search.vectorTopK(embedded, "embedding", emb.embed(m1Query), 10, "cosine",
          idCol = "chunk_id")
        .select(col("doc_id"), col("chunk_number"), round(-col("score"), 6).as("sim"))
        .orderBy(col("sim").desc, col("doc_id"), col("chunk_number"))
    },
    Some(s"""WITH RECURSIVE base AS (
            |  SELECT doc_id, text FROM documents
            |  WHERE text NOT LIKE '%' || chr(10) || '%'
            |    AND len(list_filter(string_split(text, ' '), x -> length(x) >= 400)) = 0
            |    AND text NOT LIKE '%' || chr(31) || '%'),
            |$splitStateCtesSql,
            |chunksrc AS (
            |  SELECT doc_id, CAST(0 AS BIGINT) AS chunk_number,
            |    CAST(doc_id AS VARCHAR) AS chunk_text FROM base
            |  UNION ALL
            |  SELECT doc_id, CAST(ci AS BIGINT) AS chunk_number, cs[ci] AS chunk_text
            |  FROM (SELECT doc_id, cs, unnest(generate_series(1, len(cs))) AS ci
            |        FROM (SELECT doc_id, string_split(acc, chr(31)) AS cs
            |              FROM st WHERE done AND acc <> ''))),
            |c AS (
            |  SELECT doc_id * 10000 + chunk_number AS chunk_id, doc_id, chunk_number, chunk_text
            |  FROM chunksrc WHERE regexp_matches(lower(chunk_text), '[a-z0-9]')
            |  UNION ALL
            |  SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), '$m1Query'),
            |$embedSearchCtesSql
            |SELECT doc_id, chunk_number, round(sc, 6) AS sim
            |FROM topk ORDER BY round(sc, 6) DESC, chunk_id""".stripMargin))

  /** Legacy index-artifact migration roundtrip (SURVEY §2.9 M7,
    * [[graft.sources.LegacyChroma]] over the from-scratch
    * [[graft.sources.Pickle]] codec): the embeddings table is exported to the
    * reference's legacy pickle wire form (`{"ids", "embeddings", "metadatas"}`
    * protocol-2 stream, chroma_indexer.py:181) and re-imported, and the query
    * emits per-entry dim / double-precision L2 norm / metadata echo from the
    * REIMPORTED rows. The oracle computes the same projection straight from
    * parquet — hash parity proves the codec roundtrip is lossless (float →
    * pickle double → float is exact; any parse drift breaks id order, dim,
    * norm, or the echoed metadata). Parse is driver-side by construction
    * (a legacy artifact is one in-memory blob — the reference's own
    * `pickle.loads` path); everything downstream is a distributed frame.
    */
  private val m7LegacyImport = Q(
    (s, d) => {
      val emb = D.embeddings(s, d).filter(col("vec_id") =!= 0)
        .select(col("vec_id").cast("string").as("id"), col("embedding"),
          map(lit("source"), lit("legacy"),
            lit("label"), col("label").cast("string")).as("metadata"))
      val bytes = graft.sources.LegacyChroma.exportPickled(emb)
      val imported = graft.sources.LegacyChroma.importPickled(s, bytes)
      imported.select(
          col("id"),
          size(col("embedding")).as("dim"),
          round(sqrt(aggregate(col("embedding"), lit(0.0),
            (acc, x) => acc + x.cast("double") * x.cast("double"))), 6).as("l2_norm"),
          col("metadata")("source").as("source"),
          col("metadata")("label").as("label"))
        .orderBy(col("id").cast("long"))
    },
    Some("""SELECT CAST(vec_id AS VARCHAR) AS id, CAST(len(embedding) AS INT) AS dim,
           |  round(sqrt(list_sum(list_transform(embedding,
           |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS l2_norm,
           |  'legacy' AS source, CAST(label AS VARCHAR) AS label
           |FROM embeddings WHERE vec_id <> 0 ORDER BY vec_id""".stripMargin))

  /** J3: simulated incremental update — docs with doc_id % 7 = 0 are "re-read" with
    * appended text; their old chunks are anti-joined away and new chunks appended
    * with ids continuing past the old high-water mark (SURVEY §3.3).
    */
  private val j3IncrementalUpdate = Q(
    (s, d) => {
      val docs = D.documents(s, d)
      val oldChunks = chunkFanout(s, d)
      val changed = docs.filter(col("doc_id") % 7 === 0)
        .withColumn("text", concat(col("text"), lit(" updated")))
      val kept = oldChunks.join(changed.select("doc_id"), Seq("doc_id"), "left_anti")
        .select("doc_id", "chunk_number")
      val newChunks = chunkFanoutDf(changed).select("doc_id", "chunk_number")
      kept.withColumn("status", lit("kept"))
        .unionByName(newChunks.withColumn("status", lit("updated")))
        .groupBy("doc_id", "status").agg(count(lit(1)).as("n_chunks"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
           |  CASE WHEN doc_id % 7 = 0 THEN 'updated' ELSE 'kept' END AS status,
           |  CAST(greatest(1, ceil((length(text) + CASE WHEN doc_id % 7 = 0 THEN 8 ELSE 0 END - 100) / 300.0)) AS BIGINT) AS n_chunks
           |FROM documents ORDER BY doc_id""".stripMargin))

  /** The BUCKETED collection lifecycle gated end to end on REAL on-disk
    * state: create (16 buckets) → incremental update (doc_id % 7 re-read
    * with appended text; only dirty buckets rewrite) → delete (doc_id % 13;
    * dirty buckets again) through [[graft.core.CollectionManager]], then the
    * surviving chunks table is the result. Docs are pre-chunked (one chunk =
    * full text) so the gate isolates the update/bucketing semantics — the
    * splitter has its own gates (split_recursive, m1b). Gated facts, per
    * doc: the post-lifecycle indexed text hash (anti-join + replace routed
    * through pmod(hash(id), 16) bucket dirs), the chunk-id-past-HWM flag
    * (id sequence continues across a bucketed update), and survival
    * (bucketed delete removes exactly the requested ids).
    */
  private val j3bBucketedLifecycle = Q(
    (s, d) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_bucketed_").toString
      val cm = new graft.core.CollectionManager(
        s, tmp, graft.functions.HashingEmbedder.default)
      def asDocs(df: DataFrame) = df.select(
        col("doc_id").cast("string").as("id"),
        concat(lit("doc://"), col("doc_id")).as("url"),
        map(lit("lang"), col("lang")).as("metadata"),
        col("text"),
        array(struct(col("text").as("indexedData"),
          map().cast("map<string,string>").as("metadata"))).as("chunks"))
      val docs = D.documents(s, d)
      cm.create("j3b", asDocs(docs), nBuckets = 16)
      val hwm = cm.readManifest("j3b").lastIndexItemId
      cm.update("j3b", asDocs(docs.filter(col("doc_id") % 7 === 0)
        .withColumn("text", concat(col("text"), lit(" updated")))))
      val delIds = docs.filter(col("doc_id") % 13 === 0)
        .select(col("doc_id").cast("string")).collect().map(_.getString(0)).toSeq
      cm.delete("j3b", delIds)
      cm.chunks("j3b")
        .groupBy(col("documentId").cast("long").as("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          (min("chunkId") > hwm).as("replaced"),
          md5(max("indexedData").cast("binary")).as("h"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, CAST(1 AS BIGINT) AS n_chunks,
           |  (doc_id % 7 = 0) AS replaced,
           |  md5(text || CASE WHEN doc_id % 7 = 0 THEN ' updated' ELSE '' END) AS h
           |FROM documents WHERE doc_id % 13 <> 0
           |ORDER BY doc_id""".stripMargin))

  /** F2 HTML→text gated on a CONSTRUCTED family: each doc's text is wrapped
    * in deterministic HTML (head style block, entity-laden h1 header,
    * sentence-per-<p> body, a script tag with raw `<`/`&` inside) and run
    * through the PRODUCTION `Converters.htmlToText`; the oracle computes the
    * expected extraction directly from the construction. This gates the
    * script/style strip, tag split, entity decode (&amp; &lt; &gt; &quot;),
    * trim-drop-join — on inputs whose expected output is provable. Symmetric
    * guards exclude docs whose raw text contains markup metacharacters or
    * control chars (Scala trim strips all ctrl chars, SQL trim only spaces);
    * nothing is excluded on this corpus. The '. '→'.</p><p>' replace and the
    * oracle's string_split('. ') agree because both scan left-to-right
    * non-overlapping.
    */
  private val f2HtmlExtract = Q(
    (s, d) => {
      val docs = D.documents(s, d)
        .filter(!col("text").contains("<") && !col("text").contains(">") &&
          !col("text").contains("&") && !col("text").rlike("[\\x00-\\x1f]"))
      val html = concat(
        lit("<html><head><style>p { color: red }</style></head><body><h1>Doc "),
        col("doc_id"),
        lit(" &amp; &lt;ref&gt; &quot;q&quot;</h1><p>"),
        expr("replace(text, '. ', '.</p><p>')"),
        lit("</p><script>if (1 < 2) { alert(\"x & y\"); }</script></body></html>"))
      docs.select(col("doc_id"),
          graft.sources.Converters.htmlToTextUdf(html).as("txt"))
        .select(col("doc_id"),
          size(split(col("txt"), "\n", -1)).cast("long").as("n_lines"),
          md5(col("txt")).as("text_md5"))
        .orderBy("doc_id")
    },
    Some("""WITH base AS (
           |  SELECT doc_id, text FROM documents
           |  WHERE text NOT LIKE '%<%' AND text NOT LIKE '%>%'
           |    AND text NOT LIKE '%&%' AND NOT regexp_matches(text, '[\x00-\x1f]')),
           |pieces AS (
           |  SELECT doc_id,
           |    list_filter(list_transform(generate_series(1, len(segs)),
           |      k -> trim(CASE WHEN k < len(segs) THEN segs[k] || '.' ELSE segs[k] END)),
           |      x -> x <> '') AS ps
           |  FROM (SELECT doc_id, string_split(text, '. ') AS segs FROM base)),
           |expected AS (
           |  SELECT doc_id,
           |    'Doc ' || doc_id || ' & <ref> "q"' ||
           |      (CASE WHEN len(ps) > 0 THEN chr(10) || array_to_string(ps, chr(10)) ELSE '' END) AS exp
           |  FROM pieces)
           |SELECT doc_id, CAST(len(string_split(exp, chr(10))) AS BIGINT) AS n_lines,
           |  md5(exp) AS text_md5
           |FROM expected ORDER BY doc_id""".stripMargin))

  /** F3 ADF→text gated on a constructed tree: each doc's sentences become
    * ADF blocks with TWO inlines each — the real text and a null-text inline
    * (gating the traversal's `coalesce(text, '')`) — and run through the
    * production [[graft.sources.Converters.adfToText]] two-level
    * flatten/transform; the oracle computes the expected join directly.
    */
  private val f3AdfExtract = Q(
    (s, d) => {
      val docs = D.documents(s, d)
        .filter(!col("text").rlike("[\\x00-\\x1f]"))
      val segs = split(col("text"), java.util.regex.Pattern.quote(". "), -1)
      val adf = transform(segs, seg => struct(
        array(struct(seg.as("text")),
              struct(lit(null).cast("string").as("text"))).as("content")))
      docs.select(col("doc_id"),
          graft.sources.Converters.adfToText(adf).as("txt"))
        .select(col("doc_id"),
          size(split(col("txt"), "\n", -1)).cast("long").as("n_lines"),
          md5(col("txt")).as("text_md5"))
        .orderBy("doc_id")
    },
    Some("""WITH base AS (
           |  SELECT doc_id, text FROM documents
           |  WHERE NOT regexp_matches(text, '[\x00-\x1f]')),
           |expected AS (
           |  SELECT doc_id, array_to_string(
           |    flatten(list_transform(string_split(text, '. '), x -> [x, ''])),
           |    chr(10)) AS exp
           |  FROM base)
           |SELECT doc_id, CAST(len(string_split(exp, chr(10))) AS BIGINT) AS n_lines,
           |  md5(exp) AS text_md5
           |FROM expected ORDER BY doc_id""".stripMargin))

  /** Full M1 embed → search lifecycle, hash-gated end to end: SQL-expressible
    * chunk fan-out (the m5 splitter variant) → the PRODUCTION murmur hashing
    * embedder ([[graft.operators.Indexing.attachEmbeddings]] calling
    * [[HashingEmbedder]] — uni+bigram feature hashing, signed, L2-normalized) →
    * cosine top-10 against the same embedder's query vector
    * ([[Search.vectorTopK]]). The oracle replays Scala's
    * `MurmurHash3.stringHash` bit-for-bit in DuckDB SQL (char-pair blocks via
    * `list_reduce`, odd-tail mixLast, ⊕length, avalanche), rebuilds each
    * 64-dim vector (idx = h mod 64, sign = 1−2·bit31, v = float32(count·(1/√Σc²))),
    * and reuses the proven double-precision cosine form from t1. Zero-feature
    * chunks are excluded on both sides (their cosine is NaN by construction).
    * Reference anchor: sentence_embeder.py:10-14 — embed → index → search is
    * the core lifecycle. Spec: EmbedderOracleSpec pins the murmur goldens.
    */
  private val m1EmbedPipeline = Q(
    (s, d) => {
      val emb = HashingEmbedder.default
      val chunks = chunkFanout(s, d)
        .filter(lower(col("chunk_text")).rlike("[a-z0-9]"))
      val embedded = graft.operators.Indexing.attachEmbeddings(
        chunks, "chunk_text", emb)
      Search.vectorTopK(embedded, "embedding", emb.embed(m1Query), 10, "cosine",
          idCol = "chunk_id")
        .select(col("chunk_id"), col("doc_id"), col("chunk_number"),
          round(-col("score"), 6).as("sim"))
        .orderBy(col("sim").desc, col("chunk_id").asc)
    },
    Some(s"""WITH c AS (
            |  SELECT chunk_id, doc_id, chunk_number, chunk_text FROM ($chunkFanoutSql)
            |  WHERE regexp_matches(lower(chunk_text), '[a-z0-9]')
            |  UNION ALL
            |  SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), '$m1Query'),
            |$embedSearchCtesSql
            |SELECT chunk_id, doc_id, chunk_number, round(sc, 6) AS sim
            |FROM topk ORDER BY round(sc, 6) DESC, chunk_id""".stripMargin))

  /** Fixed BPE merge table for the gated encode query — the first 24 merges
    * [[graft.functions.Bpe.train]] produces over the sf0.01 documents corpus,
    * frozen as a model artifact the same way `ann_ivf_topk` fixes its
    * centroids: the TRAINING loop is driver-iterative (spec-gated, BpeSpec),
    * while the greedy encoder — the production path every countTokens /
    * token-budget-packing call takes — is hash-gated end to end below.
    * Merge symbols never contain spaces, so the oracle ranks pairs as
    * "left right" strings (the merges-file ship format).
    */
  private val bpeFixedMerges: Seq[(String, String)] = Seq(
    "e" -> "r", "e" -> "</w>", "n" -> "</w>", "er" -> "</w>", "o" -> "w",
    "ow" -> "</w>", "o" -> "r", "s" -> "t", "h" -> "</w>", "a" -> "t",
    "l" -> "u", "i" -> "n", "a" -> "</w>", "g" -> "</w>", "y" -> "</w>",
    "a" -> "r", "p" -> "ar", "t" -> "</w>", "i" -> "n</w>", "j" -> "o",
    "jo" -> "in</w>", "a" -> "s", "as" -> "h</w>", "h" -> "ash</w>")

  /** Production BPE greedy encode ([[graft.functions.Bpe.BpeModel.encodeWord]])
    * hash-gated: EVERY doc's full token stream (count + md5) under the
    * fixed merge table. The oracle replays the EXACT greedy loop in DuckDB —
    * a recursive CTE whose state is the per-word symbol list; each step finds
    * the lowest-rank adjacent pair (leftmost on ties, `list_position` is
    * first-match) and merges that ONE occurrence, exactly the Scala loop.
    * Note DuckDB's `list_position` returns 0 (not NULL) for a missing
    * element — the `nullif(…, 0)` is what makes unranked pairs sort last.
    */
  private val bpeEncode = Q(
    (s, d) => {
      val model = graft.functions.Bpe.BpeModel(bpeFixedMerges)
      val encodeUdf = udf((t: String) => model.encode(t))
      D.documents(s, d)
        .select(col("doc_id"), encodeUdf(col("text")).as("toks"))
        .select(col("doc_id"), size(col("toks")).cast("long").as("n_bpe"),
          md5(array_join(col("toks"), " ")).as("stream_md5"))
        .orderBy("doc_id")
    },
    Some {
      val mLit = bpeFixedMerges.map { case (a, b) => s"'$a $b'" }
        .mkString("[", ", ", "]")
      s"""WITH RECURSIVE base AS (
         |  SELECT doc_id, text FROM documents),
         |wl AS (SELECT doc_id,
         |    ${tokens("text")} AS ws
         |  FROM base),
         |words0 AS (
         |  SELECT doc_id, wpos,
         |    list_transform(generate_series(1, length(ws[wpos])), i -> ws[wpos][i]) || ['</w>'] AS s
         |  FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS wpos FROM wl)),
         |enc AS (
         |  SELECT doc_id, wpos, s, false AS done FROM words0
         |  UNION ALL
         |  SELECT doc_id, wpos,
         |    CASE WHEN minr IS NULL OR minr = 100000 THEN s
         |         ELSE list_slice(s, 1, bi - 1) || [s[bi] || s[bi + 1]] || list_slice(s, bi + 2, len(s)) END,
         |    (minr IS NULL OR minr = 100000) AS done
         |  FROM (
         |    SELECT doc_id, wpos, s,
         |      list_aggregate(ranks, 'min') AS minr,
         |      list_position(ranks, list_aggregate(ranks, 'min')) AS bi
         |    FROM (
         |      SELECT doc_id, wpos, s,
         |        list_transform(generate_series(1, len(s) - 1),
         |          i -> coalesce(nullif(list_position($mLit, s[i] || ' ' || s[i + 1]), 0), 100000)) AS ranks
         |      FROM enc WHERE NOT done))),
         |fin AS (SELECT doc_id, wpos, s FROM enc WHERE done),
         |toks AS (SELECT doc_id, wpos, tpos, s[tpos] AS tok
         |  FROM (SELECT doc_id, wpos, s, unnest(generate_series(1, len(s))) AS tpos FROM fin)),
         |joined AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY wpos, tpos) AS stream,
         |    count(*) AS n_toks FROM toks GROUP BY doc_id)
         |SELECT b.doc_id, coalesce(j.n_toks, 0) AS n_bpe,
         |  md5(coalesce(j.stream, '')) AS stream_md5
         |FROM base b LEFT JOIN joined j USING (doc_id)
         |ORDER BY b.doc_id""".stripMargin
    })

  /** Multimodal plumbing, oracle-checkable slice: treat text as an opaque binary
    * column; byte length + content hash are the portable metadata ops (decode /
    * features / frame-sampling are stub-backed and spec-tested instead).
    */
  private val mmBinaryMeta = Q(
    (s, d) => D.documents(s, d)
      .select(col("doc_id"),
        length(col("text").cast("binary")).cast("long").as("byte_len"),
        md5(col("text").cast("binary")).as("h"))
      .orderBy("doc_id"),
    Some("""SELECT doc_id, octet_length(encode(text)) AS byte_len, md5(text) AS h
           |FROM documents ORDER BY doc_id""".stripMargin))

  val all: Map[String, Q] = Map(
    "m5_chunk_fanout" -> m5ChunkFanout,
    "split_recursive" -> splitRecursive,
    "bpe_train_rounds" -> bpeTrainRounds,
    "m1b_full_lifecycle" -> m1bFullLifecycle,
    "m7_legacy_import" -> m7LegacyImport,
    "j3_incremental_update" -> j3IncrementalUpdate,
    "j3b_bucketed_lifecycle" -> j3bBucketedLifecycle,
    "f2_html_extract" -> f2HtmlExtract,
    "f3_adf_extract" -> f3AdfExtract,
    "m1_embed_pipeline" -> m1EmbedPipeline,
    "bpe_encode" -> bpeEncode,
    "mm_binary_meta" -> mmBinaryMeta)
}
