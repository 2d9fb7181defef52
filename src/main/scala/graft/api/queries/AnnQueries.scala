package graft.api.queries

import graft.api.Queries._
import graft.api.{Tables => D}
import graft.api.queries.OracleSql._
import graft.operators.Search
import org.apache.spark.sql.functions._

/** Approximate nearest neighbours: SQ8, PQ and IVF-PQ compression, trained
  * IVF, LSH and graph indexes, recall evaluation, late-interaction MaxSim,
  * k-means clustering and PCA.
  */
object AnnQueries {

  /** SQ8 scalar-quantized search ([[graft.operators.Sq]]): per-dimension
    * min/max fit + uint8 encode + midpoint-dequantized L2 — 4× smaller scans
    * than the flat path, hash-gated end to end (fit aggregates are exact,
    * everything after is double math replayed bit-for-bit). Over-fetch then
    * cut on the ROUNDED distance with an id tie-break, the PQ gate's recipe.
    */
  private val annSq8Topk = Q(
    (s, d) => {
      val emb = D.embeddings(s, d)
      val corpus = emb.filter(col("vec_id") =!= 0)
      val model = graft.operators.Sq.fit(corpus, "embedding")
      val codes = graft.operators.Sq.encode(corpus, "vec_id", "embedding", model)
      graft.operators.Sq.searchTopK(codes, "vec_id", "code", model, queryVec(s, d), 50)
        .select(col("vec_id"), round(col("dist"), 6).as("dist"))
        .orderBy(col("dist"), col("vec_id")).limit(10)
    },
    Some(s"""$sq8Ctes
            |SELECT vec_id, round(dist, 6) AS dist FROM sqd
            |ORDER BY round(dist, 6), vec_id LIMIT 10""".stripMargin))

  /** SQ8 shortlist → exact re-rank ([[graft.operators.Sq.rerankTopK]], the
    * IndexRefineFlat pattern): quantized scan over-fetches 50, full-precision
    * vectors re-score via a pushed-down IN-list lookup, true top-10 wins.
    */
  private val annSq8Rerank = Q(
    (s, d) => {
      val emb = D.embeddings(s, d)
      val corpus = emb.filter(col("vec_id") =!= 0)
      val model = graft.operators.Sq.fit(corpus, "embedding")
      val codes = graft.operators.Sq.encode(corpus, "vec_id", "embedding", model)
      graft.operators.Sq.rerankTopK(codes, corpus, "vec_id", "code", "embedding",
          model, queryVec(s, d), k = 10, shortlist = 50)
        .select(col("vec_id"), round(col("dist"), 6).as("dist"))
        .orderBy(col("dist"), col("vec_id"))
    },
    Some(s"""$sq8Ctes,
            |short AS (SELECT vec_id FROM sqd ORDER BY dist ASC, vec_id LIMIT 50),
            |rer AS (SELECT e.vec_id, ${l2Sql("e.embedding", "q.e")} AS dist
            |  FROM embeddings e JOIN short USING (vec_id) CROSS JOIN q0 q)
            |SELECT vec_id, round(dist, 6) AS dist FROM rer
            |ORDER BY round(dist, 6) ASC, vec_id LIMIT 10""".stripMargin))

  /** Product-quantization ADC search ([[graft.operators.Pq]]): fixed
    * centroids (sub-vectors of corpus ids 1..16, the same replayable recipe
    * as `cluster_assign`/IVF) make encode AND the asymmetric-distance top-k
    * SQL-expressible, so compression + search hash-gate end to end. The
    * Spark cut over-fetches raw then cuts on the ROUNDED distance with an id
    * tie-break, mirroring the oracle exactly.
    */
  private val annPqAdc = Q(
    (s, d) => {
      val emb = D.embeddings(s, d)
      val model = graft.operators.Pq.fitFromIds(
        emb.filter(col("vec_id").between(1, 16)), "vec_id", "embedding",
        numSub = 8, k = 16)
      val codes = graft.operators.Pq.encode(
        emb.filter(col("vec_id") =!= 0), "vec_id", "embedding", model)
      graft.operators.Pq.adcTopK(codes, "vec_id", "code", model, queryVec(s, d), 50)
        .select(col("vec_id"), round(col("adc"), 6).as("adc"))
        .orderBy(col("adc"), col("vec_id")).limit(10)
    },
    Some(s"""$pqAdcCtes
            |SELECT vec_id, round(adc, 6) AS adc FROM adc
            |ORDER BY adc ASC, vec_id LIMIT 10""".stripMargin))

  /** ADC shortlist → exact re-rank ([[graft.operators.Pq.adcRerankTopK]] —
    * FAISS `IndexRefineFlat`): the quantized scan over-fetches 50 candidates,
    * their full-precision vectors re-score with exact L2 via a PUSHED-DOWN
    * IN-list point lookup, and the true top-10 wins. The oracle replays both
    * stages, so the gate proves the refined order — not just the shortlist —
    * matches.
    */
  private val annPqRerank = Q(
    (s, d) => {
      val emb = D.embeddings(s, d)
      val model = graft.operators.Pq.fitFromIds(
        emb.filter(col("vec_id").between(1, 16)), "vec_id", "embedding",
        numSub = 8, k = 16)
      val corpus = emb.filter(col("vec_id") =!= 0)
      val codes = graft.operators.Pq.encode(corpus, "vec_id", "embedding", model)
      graft.operators.Pq.adcRerankTopK(codes, corpus, "vec_id", "code", "embedding",
          model, queryVec(s, d), k = 10, shortlist = 50)
        .select(col("vec_id"), round(col("dist"), 6).as("dist"))
        .orderBy(col("dist"), col("vec_id"))
    },
    Some(s"""$pqAdcCtes,
            |short AS (SELECT vec_id FROM adc ORDER BY adc ASC, vec_id LIMIT 50),
            |rer AS (SELECT e.vec_id, ${l2Sql("e.embedding", "q.e")} AS dist
            |  FROM embeddings e JOIN short USING (vec_id) CROSS JOIN q0 q)
            |SELECT vec_id, round(dist, 6) AS dist FROM rer
            |ORDER BY round(dist, 6) ASC, vec_id LIMIT 10""".stripMargin))

  /** Late-interaction maxsim ([[Search.maxSimTopK]], ColBERT-style): docs are
    * 50 vector-bags (vec_id mod 50 over the corpus vectors), the query is
    * vec_ids 0–2; score = Σ_q max_doc-vec cosine. One doc-keyed hash
    * aggregate with per-query codegen'd max columns — no join, no explode.
    * Per-query maxima round to 6dp before a FIXED-ORDER sum on both engines,
    * so the gate hashes the exact scores.
    */
  private val t1cMaxsim = Q(
    (s, d) => {
      val emb = D.embeddings(s, d)
      val qvs = emb.filter(col("vec_id").between(0, 2)).orderBy("vec_id")
        .select("embedding").collect()
        .map(_.getSeq[Float](0).toArray).toSeq
      val corpus = emb.filter(col("vec_id") >= 5)
        .select((col("vec_id") % 50).as("doc"), col("embedding"))
      Search.maxSimTopK(corpus, "doc", "embedding", qvs, 10)
    },
    Some(s"""WITH qs AS (SELECT vec_id AS qid, embedding AS qv
            |  FROM embeddings WHERE vec_id BETWEEN 0 AND 2),
            |corpus AS (SELECT vec_id % 50 AS doc, embedding
            |  FROM embeddings WHERE vec_id >= 5),
            |sims AS (SELECT doc, qid, ${cosSql("embedding", "qv")} AS s
            |  FROM corpus CROSS JOIN qs),
            |mx AS (SELECT doc,
            |    round(max(CASE WHEN qid = 0 THEN s END), 6) AS m0,
            |    round(max(CASE WHEN qid = 1 THEN s END), 6) AS m1,
            |    round(max(CASE WHEN qid = 2 THEN s END), 6) AS m2
            |  FROM sims GROUP BY doc)
            |SELECT doc, round(m0 + m1 + m2, 6) AS maxsim FROM mx
            |ORDER BY round(m0 + m1 + m2, 6) DESC, doc LIMIT 10""".stripMargin))

  /** Full IVF-PQ composition ([[graft.operators.Ann]] coarse lists ×
    * [[graft.operators.Pq]] codes): probe the 4 lists nearest the query,
    * ADC-score only their members' codes — the FAISS IVF-PQ search shape
    * (sans residual encoding, documented in Pq's scaladoc). Probe selection
    * happens driver-side with the same (dist, cid)-ordered double math the
    * oracle's `probe` CTE replays, so the whole path hash-gates.
    */
  private val annIvfPqTopk = Q(
    (s, d) => {
      val emb = D.embeddings(s, d).filter(col("vec_id") =!= 0)
      val centroids = D.embeddings(s, d)
        .filter(col("vec_id").between(1, 16)).orderBy("vec_id")
        .collect().map(_.getAs[scala.collection.Seq[Float]]("embedding").toArray)
      val qv = queryVec(s, d)
      val probes: Seq[Int] = centroids.zipWithIndex.map { case (c, i) =>
        var dd = 0.0; var j = 0
        while (j < c.length) { val t = qv(j).toDouble - c(j); dd += t * t; j += 1 }
        (dd, i + 1) // cid = vec_id of the coarse centroid
      }.sortBy(identity).take(4).map(_._2).toSeq
      val model = graft.operators.Pq.fitFromIds(
        D.embeddings(s, d).filter(col("vec_id").between(1, 16)),
        "vec_id", "embedding", numSub = 8, k = 16)
      val cand = graft.operators.Ann.assignListsWithDist(emb, "embedding", centroids)
        .select(col("vec_id"), (col("listId") + 1).as("cid"), col("embedding"))
        .filter(col("cid").isin(probes: _*))
      val codes = graft.operators.Pq.encode(cand, "vec_id", "embedding", model)
      graft.operators.Pq.adcTopK(codes, "vec_id", "code", model, qv, 50)
        .select(col("vec_id"), round(col("adc"), 6).as("adc"))
        .orderBy(col("adc"), col("vec_id")).limit(10)
    },
    Some(s"""WITH $ivfAssignCtes,
            |cand AS (SELECT vec_id, embedding FROM assigned
            |         WHERE cid IN (SELECT cid FROM probe)),
            |grid AS (SELECT unnest(generate_series(0, 7)) AS sub),
            |pcent AS (SELECT g.sub, e.vec_id - 1 AS pcid,
            |    e.embedding[g.sub*8+1 : g.sub*8+8] AS cvec
            |  FROM grid g CROSS JOIN
            |    (SELECT vec_id, embedding FROM embeddings WHERE vec_id BETWEEN 1 AND 16) e),
            |subs AS (SELECT v.vec_id, g.sub, v.embedding[g.sub*8+1 : g.sub*8+8] AS svec
            |  FROM cand v CROSS JOIN grid g),
            |enc AS (SELECT vec_id, sub, pcid FROM (
            |    SELECT v.vec_id, v.sub, c.pcid, ${l2Sql("v.svec", "c.cvec")} AS dc,
            |      row_number() OVER (PARTITION BY v.vec_id, v.sub
            |                         ORDER BY dc ASC, c.pcid ASC) AS rn
            |    FROM subs v JOIN pcent c ON v.sub = c.sub) WHERE rn = 1),
            |lut AS (SELECT c.sub, c.pcid,
            |    ${l2Sql("c.cvec", "q.e[c.sub*8+1 : c.sub*8+8]")} AS qd
            |  FROM pcent c CROSS JOIN q),
            |adc AS (SELECT e.vec_id, sum(l.qd) AS adc
            |  FROM enc e JOIN lut l ON e.sub = l.sub AND e.pcid = l.pcid
            |  GROUP BY e.vec_id)
            |SELECT vec_id, round(adc, 6) AS adc FROM adc
            |ORDER BY adc ASC, vec_id LIMIT 10""".stripMargin))

  /** RESIDUAL-encoded IVF-PQ — the faithful FAISS IVF-PQ recipe the plain
    * composition above documents as omitted: one global PQ codebook is
    * trained on residuals (v − coarse centroid of v's own list; training
    * set = vec 17..32, since 1..16 ARE the centroids and self-residuals are
    * zero), candidates in the 4 probed lists encode their residuals, and
    * each probed list scores against a LUT built from the QUERY's residual
    * vs that list's centroid. Residual float math goes through
    * [[graft.operators.Pq.residualCol]] (double-subtract, float-round) so
    * both engines compute bit-identical residuals — the whole train → encode
    * → per-list ADC path hash-gates. Per-list top-50 then global top-10
    * equals the oracle's global cut (a list's global-top members are in its
    * own top-50 by construction).
    */
  private val annIvfPqResidual = Q(
    (s, d) => {
      val embAll = D.embeddings(s, d)
      val emb = embAll.filter(col("vec_id") =!= 0)
      val centroids = embAll.filter(col("vec_id").between(1, 16)).orderBy("vec_id")
        .collect().map(_.getAs[scala.collection.Seq[Float]]("embedding").toArray)
      val qv = queryVec(s, d)
      val probes: Seq[Int] = centroids.zipWithIndex.map { case (c, i) =>
        var dd = 0.0; var j = 0
        while (j < c.length) { val t = qv(j).toDouble - c(j); dd += t * t; j += 1 }
        (dd, i + 1)
      }.sortBy(identity).take(4).map(_._2).toSeq
      val assigned = graft.operators.Ann.assignListsWithDist(emb, "embedding", centroids)
        .select(col("vec_id"), (col("listId") + 1).as("cid"), col("embedding"))
      val residual = (2 to 16).foldLeft(
        when(col("cid") === 1,
          graft.operators.Pq.residualCol(col("embedding"), centroids(0)))) {
        (acc, c) => acc.when(col("cid") === c,
          graft.operators.Pq.residualCol(col("embedding"), centroids(c - 1)))
      }
      val withRes = assigned.withColumn("res", residual)
      val model = graft.operators.Pq.fitFromIds(
        withRes.filter(col("vec_id").between(17, 32))
          .select(col("vec_id"), col("res").as("embedding")),
        "vec_id", "embedding", numSub = 8, k = 16)
      probes.map { l =>
        val qr = graft.operators.Pq.residualVec(qv, centroids(l - 1))
        val codes = graft.operators.Pq.encode(
          withRes.filter(col("cid") === l)
            .select(col("vec_id"), col("res").as("embedding")),
          "vec_id", "embedding", model)
        graft.operators.Pq.adcTopK(codes, "vec_id", "code", model, qr, 50)
      }.reduce(_ unionByName _)
        .select(col("vec_id"), round(col("adc"), 6).as("adc"))
        .orderBy(col("adc"), col("vec_id")).limit(10)
    },
    Some {
      val resExpr = (v: String, c: String) =>
        s"list_transform(list_zip($v, $c), x -> CAST(CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE) AS REAL))"
      s"""WITH $ivfAssignCtes,
         |res AS (SELECT a.vec_id, a.cid, ${resExpr("a.embedding", "c.c")} AS r
         |  FROM assigned a JOIN cent c ON a.cid = c.cid),
         |grid AS (SELECT unnest(generate_series(0, 7)) AS sub),
         |pcent AS (SELECT g.sub, t.vec_id - 17 AS pcid,
         |    t.r[g.sub*8+1 : g.sub*8+8] AS cvec
         |  FROM grid g CROSS JOIN
         |    (SELECT vec_id, r FROM res WHERE vec_id BETWEEN 17 AND 32) t),
         |cand AS (SELECT vec_id, cid, r FROM res
         |         WHERE cid IN (SELECT cid FROM probe)),
         |subs AS (SELECT v.vec_id, v.cid, g.sub, v.r[g.sub*8+1 : g.sub*8+8] AS svec
         |  FROM cand v CROSS JOIN grid g),
         |enc AS (SELECT vec_id, cid, sub, pcid FROM (
         |    SELECT v.vec_id, v.cid, v.sub, c.pcid, ${l2Sql("v.svec", "c.cvec")} AS dc,
         |      row_number() OVER (PARTITION BY v.vec_id, v.sub
         |                         ORDER BY dc ASC, c.pcid ASC) AS rn
         |    FROM subs v JOIN pcent c ON v.sub = c.sub) WHERE rn = 1),
         |qres AS (SELECT p.cid, ${resExpr("(SELECT e FROM q)", "c.c")} AS qr
         |  FROM probe p JOIN cent c ON p.cid = c.cid),
         |lut AS (SELECT s.cid, pc.sub, pc.pcid,
         |    ${l2Sql("pc.cvec", "s.qr[pc.sub*8+1 : pc.sub*8+8]")} AS qd
         |  FROM pcent pc CROSS JOIN qres s),
         |adcl AS (SELECT e.vec_id, sum(l.qd) AS adc
         |  FROM enc e JOIN lut l
         |    ON e.cid = l.cid AND e.sub = l.sub AND e.pcid = l.pcid
         |  GROUP BY e.vec_id)
         |SELECT vec_id, round(adc, 6) AS adc FROM adcl
         |ORDER BY adc ASC, vec_id LIMIT 10""".stripMargin
    })

  /** Dominant principal component of the embedding corpus
    * ([[graft.operators.Pca]]): one fixed-buffer covariance aggregation,
    * three power-iteration rounds, Rayleigh-quotient eigenvalue (emitted as
    * the i = −1 row). The oracle rebuilds the centered covariance from an
    * element-exploded self-join and replays the iterations — covariance
    * entries and each round's normalized iterate meet at 9dp rounds, the
    * engine's standard sum-order-drift absorber.
    */
  private val pcaTopComponent = Q(
    (s, d) => {
      val emb = D.embeddings(s, d).filter(col("vec_id") =!= 0)
      val cov = graft.operators.Pca.covariance(emb, "embedding", 64)
      val v = graft.operators.Pca.topComponent(cov, 64, iters = 3)
      val lam = graft.operators.Pca.rayleigh(cov, v)
      v.select(col("i"), round(col("loading"), 6).as("loading"))
        .unionByName(lam.select(lit(-1).as("i"), col("eigenvalue").as("loading")))
        .orderBy("i")
    },
    Some {
      val iterCtes = (1 to 3).map { i =>
        s"""w$i AS (SELECT c.i AS i, sum(c.c * v${i - 1}.v) AS w
           |  FROM cov c JOIN v${i - 1} ON c.j = v${i - 1}.i GROUP BY c.i),
           |n$i AS (SELECT sqrt(sum(w * w)) AS nrm FROM w$i),
           |v$i AS (SELECT i, round(w / nrm, 9) AS v FROM w$i CROSS JOIN n$i)""".stripMargin
      }.mkString(",\n")
      s"""WITH grid AS (SELECT unnest(generate_series(0, 63)) AS i),
         |emb AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id <> 0),
         |cnt AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM emb),
         |ex AS (SELECT vec_id, g.i AS i, CAST(embedding[g.i + 1] AS DOUBLE) AS x
         |  FROM emb CROSS JOIN grid g),
         |mean AS (SELECT i, sum(x) / n AS m FROM ex CROSS JOIN cnt GROUP BY i, n),
         |cov AS (SELECT a.i AS i, b.i AS j,
         |    round(sum(a.x * b.x) / cnt.n - ma.m * mb.m, 9) AS c
         |  FROM ex a JOIN ex b USING (vec_id)
         |  CROSS JOIN cnt
         |  JOIN mean ma ON ma.i = a.i
         |  JOIN mean mb ON mb.i = b.i
         |  GROUP BY a.i, b.i, cnt.n, ma.m, mb.m),
         |v0 AS (SELECT i, 0.125 AS v FROM grid),
         |$iterCtes,
         |ray AS (SELECT round(sum(a.v * c.c * b.v), 6) AS loading
         |  FROM cov c JOIN v3 a ON a.i = c.i JOIN v3 b ON b.i = c.j)
         |SELECT i, round(v, 6) AS loading FROM v3
         |UNION ALL SELECT -1 AS i, loading FROM ray
         |ORDER BY i""".stripMargin
    })

  /** Deterministic Lloyd k-means training ([[graft.operators.Training.kMeansLloyd]],
    * k=4 seeded from corpus vectors 1..4, 3 rounds): the trained-centroid
    * complement to `cluster_assign`'s fixed-centroid assignment and the
    * bit-reproducible alternative to the MLlib IVF quantizer. The oracle
    * unrolls the same 3 rounds — ROUND(dist, 6) argmin with lowest-cid ties,
    * ROUND(avg, 9) centroid update, empty clusters keep their centroid — so
    * the whole training fixed point hash-gates, partition-invariantly.
    */
  private val clusterKmeansTrain = Q(
    (s, d) => {
      val emb = D.embeddings(s, d).filter(col("vec_id") =!= 0)
      val init = emb.filter(col("vec_id").between(1, 4))
        .select((col("vec_id") - 1).as("cid"),
          posexplode(col("embedding")).as(Seq("dim", "cval")))
      graft.operators.Training.kMeansLloyd(emb, "vec_id", "embedding", init, iters = 3)
        .select(col("cid").cast("long").as("cluster_id"), col("dim"),
          round(col("cval"), 6).as("c"))
        .orderBy("cluster_id", "dim")
    },
    Some(s"""WITH $kmeansPointsCte,
            |c0 AS (SELECT vid - 1 AS cid, dim, val AS cval FROM pts
            |  WHERE vid BETWEEN 1 AND 4),
            |$kmeansRoundsCtes
            |SELECT CAST(cid AS BIGINT) AS cluster_id, dim, round(cval, 6) AS c
            |FROM c3 ORDER BY cluster_id, dim""".stripMargin))

  /** End-to-end TRAINED-quantizer IVF search: k-means training
    * ([[graft.operators.Training.kMeansLloyd]], k=4, 3 rounds), assignment of
    * every vector to its trained list, probe of the 2 query-nearest lists, and
    * exact top-10 inside them — the whole ANN index lifecycle hash-gated in
    * one query (`ann_ivf_topk` gates probing under FIXED centroids; this gates
    * the pipeline that produces them too). Every distance comparison uses the
    * trainer's parity contract — double math over the exploded points with
    * ROUND(dist, 6) before any argmin/top-k cut — so assignment, probe choice
    * and ranking are engine- and partitioning-invariant. The production path
    * is [[graft.operators.Ann.buildIvfDeterministic]] (float centroids,
    * codegen'd distances); this gated variant keeps the oracle-replayable
    * double form end to end.
    */
  private val annIvfTrainedTopk = Q(
    (s, d) => {
      val emb = D.embeddings(s, d).filter(col("vec_id") =!= 0)
      val init = emb.filter(col("vec_id").between(1, 4))
        .select((col("vec_id") - 1).as("cid"),
          posexplode(col("embedding")).as(Seq("dim", "cval")))
      val cent = graft.operators.Training.kMeansLloyd(
        emb, "vec_id", "embedding", init, iters = 3)
      val pts = emb.select(col("vec_id"),
          posexplode(col("embedding")).as(Seq("dim", "val")))
        .withColumn("val", col("val").cast("double"))
      val qpts = D.embeddings(s, d).filter(col("vec_id") === 0)
        .select(posexplode(col("embedding")).as(Seq("dim", "qval")))
        .withColumn("qval", col("qval").cast("double"))
      val probe = cent.join(broadcast(qpts), "dim")
        .groupBy("cid")
        .agg(round(sum((col("cval") - col("qval")) * (col("cval") - col("qval"))), 6)
          .as("pd"))
        .orderBy(col("pd"), col("cid")).limit(2).select("cid")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("vec_id").orderBy(col("dist"), col("cid"))
      val assigned = pts.join(broadcast(cent), "dim")
        .groupBy("vec_id", "cid")
        .agg(round(sum((col("val") - col("cval")) * (col("val") - col("cval"))), 6)
          .as("dist"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select("vec_id", "cid")
      val cand = assigned.join(broadcast(probe), Seq("cid"), "left_semi")
      pts.join(cand.select("vec_id"), Seq("vec_id"), "left_semi")
        .join(broadcast(qpts), "dim")
        .groupBy("vec_id")
        .agg(round(sum((col("val") - col("qval")) * (col("val") - col("qval"))), 6)
          .as("dist"))
        .orderBy(col("dist"), col("vec_id")).limit(10)
    },
    Some(s"""WITH $kmeansPointsCte,
            |qpts AS (SELECT CAST(z[2] AS INT) - 1 AS dim, CAST(z[1] AS DOUBLE) AS qval
            |  FROM (SELECT unnest(list_zip(embedding, range(1, len(embedding) + 1))) AS z
            |    FROM embeddings WHERE vec_id = 0)),
            |c0 AS (SELECT vid - 1 AS cid, dim, val AS cval FROM pts
            |  WHERE vid BETWEEN 1 AND 4),
            |$kmeansRoundsCtes,
            |probe AS (SELECT cid FROM (
            |    SELECT c.cid, round(sum((c.cval - q.qval) * (c.cval - q.qval)), 6) AS pd
            |    FROM c3 c JOIN qpts q USING (dim) GROUP BY c.cid)
            |  ORDER BY pd ASC, cid ASC LIMIT 2),
            |df AS (SELECT p.vid, c.cid,
            |    round(sum((p.val - c.cval) * (p.val - c.cval)), 6) AS dist
            |  FROM pts p JOIN c3 c USING (dim) GROUP BY p.vid, c.cid),
            |af AS (SELECT vid, cid FROM (
            |    SELECT vid, cid, row_number() OVER (PARTITION BY vid
            |      ORDER BY dist ASC, cid ASC) AS rn FROM df) WHERE rn = 1),
            |cand AS (SELECT vid FROM af WHERE cid IN (SELECT cid FROM probe)),
            |scored AS (SELECT p.vid,
            |    round(sum((p.val - q.qval) * (p.val - q.qval)), 6) AS dist
            |  FROM pts p JOIN qpts q USING (dim) JOIN cand USING (vid)
            |  GROUP BY p.vid)
            |SELECT vid AS vec_id, dist FROM scored
            |ORDER BY dist ASC, vec_id ASC LIMIT 10""".stripMargin))

  /** Embedding-space cluster assignment + per-cluster stats
    * ([[graft.operators.Ann.assignListsWithDist]] with fixed centroids —
    * corpus vectors 1..8 — so assignment replays in SQL): the topic-bucket
    * organization pass of a corpus card. Narrow map + one 8-group aggregate.
    */
  private val clusterAssign = Q(
    (s, d) => {
      val emb = D.embeddings(s, d).filter(col("vec_id") =!= 0)
      val centroids = D.embeddings(s, d)
        .filter(col("vec_id").between(1, 8)).orderBy("vec_id")
        .collect().map(_.getAs[scala.collection.Seq[Float]]("embedding").toArray)
      graft.operators.Ann.assignListsWithDist(emb, "embedding", centroids)
        .groupBy(col("listId").cast("long").as("cluster_id"))
        .agg(count(lit(1)).as("n"), round(avg(col("listDist")), 6).as("mean_dist"),
          min("vec_id").as("min_vec_id"), max("vec_id").as("max_vec_id"))
        .orderBy("cluster_id")
    },
    Some(s"""WITH cent AS (SELECT vec_id AS cid, embedding AS c FROM embeddings
            |         WHERE vec_id BETWEEN 1 AND 8),
            |dists AS (SELECT v.vec_id, c.cid, ${l2Sql("v.embedding", "c.c")} AS dc
            |  FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id <> 0) v
            |  CROSS JOIN cent c),
            |assigned AS (SELECT vec_id, cid, dc FROM
            |  (SELECT vec_id, cid, dc,
            |     row_number() OVER (PARTITION BY vec_id ORDER BY dc ASC, cid ASC) AS rn
            |   FROM dists)
            |  WHERE rn = 1)
            |SELECT CAST(cid - 1 AS BIGINT) AS cluster_id, count(*) AS n,
            |  round(avg(dc), 6) AS mean_dist,
            |  min(vec_id) AS min_vec_id, max(vec_id) AS max_vec_id
            |FROM assigned GROUP BY cid ORDER BY cluster_id""".stripMargin))

  /** IVF approximate kNN with FIXED centroids (corpus vectors 1..16) so the
    * whole scale path — nearest-list assignment, nProbe probe-set selection,
    * brute-force top-k inside the probed lists — replays exactly in DuckDB and
    * is hash-gated. The k-means fit itself ([[graft.operators.Ann.buildIvf]])
    * is not SQL-expressible and stays spec-covered (AnnMultimodalSpec); the
    * probe machinery is identical either way ([[graft.operators.Ann.searchIvf]]).
    */
  private val annIvfTopk = Q(
    (s, d) => {
      val emb = D.embeddings(s, d).filter(col("vec_id") =!= 0)
      val centroids = D.embeddings(s, d)
        .filter(col("vec_id").between(1, 16)).orderBy("vec_id")
        .collect().map(_.getAs[scala.collection.Seq[Float]]("embedding").toArray)
      val idx = graft.operators.Ann.IvfIndex(
        graft.operators.Ann.assignLists(emb, "embedding", centroids),
        centroids, "embedding")
      graft.operators.Ann.searchIvf(idx, queryVec(s, d), 10, nProbe = 4)
        .select(col("vec_id"), round(col("score"), 6).as("dist"))
        .orderBy(col("dist").asc, col("vec_id").asc)
    },
    Some(s"""WITH $ivfAssignCtes,
            |cand AS (SELECT vec_id, embedding FROM assigned
            |         WHERE cid IN (SELECT cid FROM probe)),
            |scored AS (SELECT vec_id,
            |    ${l2Sql("embedding", "(SELECT e FROM q)")} AS dd FROM cand),
            |topk AS (SELECT vec_id, dd FROM scored ORDER BY dd ASC, vec_id LIMIT 10)
            |SELECT vec_id, round(dd, 6) AS dist FROM topk
            |ORDER BY round(dd, 6) ASC, vec_id""".stripMargin))

  /** ANN recall evaluation ([[graft.operators.Ann.searchIvfBatch]] +
    * [[graft.operators.Ann.recallAtK]]): the offline quality loop an index
    * rebuild runs — a 20-query batch probes IVF (nProbe=4 of 16 lists) in ONE
    * plan (broadcast probe table, per-query window over narrow triples), the
    * same batch runs exact brute-force, and recall@10 per query is the gated
    * output. Both the batch probe path AND the metric are hash-checked.
    */
  private val annRecallEval = Q(
    (s, d) => {
      val emb = D.embeddings(s, d).filter(col("vec_id") =!= 0)
      val centroids = D.embeddings(s, d)
        .filter(col("vec_id").between(1, 16)).orderBy("vec_id")
        .collect().map(_.getAs[scala.collection.Seq[Float]]("embedding").toArray)
      val idx = graft.operators.Ann.IvfIndex(
        graft.operators.Ann.assignLists(emb, "embedding", centroids),
        centroids, "embedding")
      val qRows = D.embeddings(s, d)
        .filter(col("vec_id").between(100, 119)).orderBy("vec_id")
        .collect().map(r => (r.getAs[Long]("vec_id"),
          r.getAs[scala.collection.Seq[Float]]("embedding").toArray))
      val approx = graft.operators.Ann.searchIvfBatch(idx, qRows.toSeq, 10, nProbe = 4)
      import s.implicits._
      val qDf = qRows.toSeq.toDF("qid", "qvec")
      val exact = graft.operators.Search.vectorTopKBatch(
        emb, "embedding", "vec_id", qDf, "qid", "qvec", 10)
      graft.operators.Ann.recallAtK(approx, exact, "qid", "vec_id", 10)
        .select(col("qid"), round(col("recall"), 6).as("recall"))
        .orderBy("qid")
    },
    Some(s"""WITH cent AS (SELECT vec_id AS cid, embedding AS c FROM embeddings
            |         WHERE vec_id BETWEEN 1 AND 16),
            |q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
            |      WHERE vec_id BETWEEN 100 AND 119),
            |corpus AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id <> 0),
            |adists AS (SELECT v.vec_id, v.embedding, c.cid,
            |    ${l2Sql("v.embedding", "c.c")} AS dc
            |  FROM corpus v CROSS JOIN cent c),
            |assigned AS (SELECT vec_id, embedding, cid FROM
            |  (SELECT vec_id, embedding, cid,
            |     row_number() OVER (PARTITION BY vec_id ORDER BY dc ASC, cid ASC) AS rn
            |   FROM adists)
            |  WHERE rn = 1),
            |pdist AS (SELECT q.qid, c.cid, ${l2Sql("c.c", "q.qv")} AS pd
            |  FROM q CROSS JOIN cent c),
            |probe AS (SELECT qid, cid FROM
            |  (SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY pd ASC, cid ASC) AS rn
            |   FROM pdist)
            |  WHERE rn <= 4),
            |ascore AS (SELECT p.qid, a.vec_id, ${l2Sql("a.embedding", "q.qv")} AS dd
            |  FROM probe p JOIN assigned a ON a.cid = p.cid JOIN q ON q.qid = p.qid),
            |approx AS (SELECT qid, vec_id FROM
            |  (SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY dd ASC, vec_id ASC) AS rn
            |   FROM ascore)
            |  WHERE rn <= 10),
            |escore AS (SELECT q.qid, v.vec_id, ${l2Sql("v.embedding", "q.qv")} AS dd
            |  FROM corpus v CROSS JOIN q),
            |exact AS (SELECT qid, vec_id FROM
            |  (SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY dd ASC, vec_id ASC) AS rn
            |   FROM escore)
            |  WHERE rn <= 10),
            |hits AS (SELECT e.qid, count(*) AS nh FROM exact e
            |  JOIN approx a ON a.qid = e.qid AND a.vec_id = e.vec_id GROUP BY e.qid)
            |SELECT q.qid, round(coalesce(nh, 0) / 10.0, 6) AS recall
            |FROM q LEFT JOIN hits ON q.qid = hits.qid ORDER BY q.qid""".stripMargin))

  /** Sign-LSH multi-probe ANN ([[graft.operators.Ann.searchSignLsh]]): scan only
    * the query's sign bucket plus its Hamming-1 neighbors, brute-force cosine
    * inside. The oracle replicates bucket assignment + probe-set expansion in
    * SQL, so the scan-reduction path itself is hash-gated (not just spec'd).
    */
  private val annLshTopk = Q(
    (s, d) => {
      val emb = D.embeddings(s, d).filter(col("vec_id") =!= 0)
      graft.operators.Ann.searchSignLsh(emb, "embedding", queryVec(s, d), 5,
          bits = 6, probeHamming = 1, metric = "cosine")
        .select(col("vec_id"), round(-col("score"), 6).as("sim"))
        .orderBy(col("sim").desc, col("vec_id").asc)
    },
    Some(s"""WITH q AS (SELECT embedding AS e FROM embeddings WHERE vec_id = 0),
            |qb AS (SELECT array_to_string(list_transform((SELECT e FROM q)[1:6],
            |         x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '') AS b),
            |probes AS (
            |  SELECT b AS p FROM qb
            |  UNION ALL
            |  SELECT b[1:i-1] || (CASE WHEN b[i:i] = '1' THEN '0' ELSE '1' END) || b[i+1:] AS p
            |  FROM qb, (SELECT unnest(generate_series(1, 6)) AS i)),
            |bucketed AS (
            |  SELECT vec_id, embedding, array_to_string(list_transform(embedding[1:6],
            |    x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '') AS bucket
            |  FROM embeddings WHERE vec_id <> 0),
            |cand AS (SELECT vec_id, embedding FROM bucketed WHERE bucket IN (SELECT p FROM probes)),
            |scored AS (SELECT vec_id, ${cosSql("embedding", "(SELECT e FROM q)")} AS s FROM cand),
            |topk AS (SELECT vec_id, s FROM scored ORDER BY s DESC, vec_id LIMIT 5)
            |SELECT vec_id, round(s, 6) AS sim FROM topk ORDER BY round(s, 6) DESC, vec_id""".stripMargin))

  /** Graph-ANN ([[graft.operators.GraphAnn.nswTopK]]): per-partition NSW
    * shards + global merge, run here in EXHAUSTIVE mode (efSearch far above
    * any shard size), where the graph walk provably visits every node — so
    * the result equals exact brute force and the whole shard/merge pipeline
    * hash-gates against a plain top-k oracle. The approximate regime (the
    * recall/speed trade) is not SQL-expressible and is recall-gated in
    * GraphAnnSpec instead.
    */
  private val annGraphTopk = Q(
    (s, d) => {
      val emb = D.embeddings(s, d).filter(col("vec_id") =!= 0)
        .repartitionByRange(4, col("vec_id"))
      graft.operators.GraphAnn.nswTopK(emb, "vec_id", "embedding",
          Seq((0L, queryVec(s, d))), 10, m = 8, efConstruction = 32,
          efSearch = 1 << 20)
        .select(col("vec_id"), round(col("dist"), 6).as("dist"))
        .orderBy(col("dist").asc, col("vec_id").asc)
    },
    Some(s"""WITH q AS (SELECT embedding AS e FROM embeddings WHERE vec_id = 0),
            |scored AS (SELECT vec_id,
            |    ${l2Sql("embedding", "(SELECT e FROM q)")} AS dd
            |  FROM embeddings WHERE vec_id <> 0),
            |topk AS (SELECT vec_id, dd FROM scored ORDER BY dd ASC, vec_id LIMIT 10)
            |SELECT vec_id, round(dd, 6) AS dist FROM topk
            |ORDER BY round(dd, 6) ASC, vec_id""".stripMargin))

  val all: Map[String, Q] = Map(
    "ann_sq8_topk" -> annSq8Topk,
    "ann_sq8_rerank" -> annSq8Rerank,
    "ann_pq_adc" -> annPqAdc,
    "ann_pq_rerank" -> annPqRerank,
    "t1c_maxsim" -> t1cMaxsim,
    "ann_ivfpq_topk" -> annIvfPqTopk,
    "ann_ivfpq_residual" -> annIvfPqResidual,
    "pca_top_component" -> pcaTopComponent,
    "cluster_kmeans_train" -> clusterKmeansTrain,
    "ann_ivf_trained_topk" -> annIvfTrainedTopk,
    "cluster_assign" -> clusterAssign,
    "ann_ivf_topk" -> annIvfTopk,
    "ann_recall_eval" -> annRecallEval,
    "ann_lsh_topk" -> annLshTopk,
    "ann_graph_topk" -> annGraphTopk)
}
