package graft.api.queries

import graft.api.Queries._
import graft.api.{Tables => D}
import graft.api.queries.OracleSql._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph and sketch analytics: triangles, BFS, PageRank, communities,
  * KMV, count-min, quantile histograms and HyperLogLog.
  */
object AnalyticsQueries {

  /** Suppliers linked by a shared January-1997 order, in both directions. */
  private def supplierEdges(s: SparkSession, d: String): DataFrame = {
    val li = D.lineitem(s, d); val o = D.orders(s, d)
    val os = o.filter(col("o_orderdate") >= lit("1997-01-01") &&
      col("o_orderdate") < lit("1997-02-01"))
    val sl = li.join(os, li("l_orderkey") === os("o_orderkey"))
      .select(col("l_orderkey").as("k"), col("l_suppkey").as("sk"))
    sl.join(sl.toDF("k", "sk2"), "k")
      .filter(col("sk") =!= col("sk2"))
      .select(col("sk").as("src"), col("sk2").as("dst"))
  }

  /** One customer → supplier edge (`c<custkey>` → `s<suppkey>`) per line item. */
  private def customerSupplierEdges(s: SparkSession, d: String): DataFrame = {
    val li = D.lineitem(s, d); val o = D.orders(s, d)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .select(concat(lit("c"), col("o_custkey")).as("src"),
        concat(lit("s"), col("l_suppkey")).as("dst"))
  }

  /** Per-node triangle counts over the co-supply graph (suppliers that ship
    * within the same order, one month of orders) —
    * [[graft.operators.Graphs.triangleCounts]]. The month predicate pushes
    * into the orders scan before the edge-building self-join; the triangle
    * join itself reuses one canonical edge exchange across both hash joins.
    */
  private val graphTriangles = Q(
    (s, d) => {
      val edges = supplierEdges(s, d)
      graft.operators.Graphs.triangleCounts(edges)
        .orderBy(col("n_triangles").desc, col("node"))
        .limit(20)
    },
    Some("""WITH sl AS (SELECT l_orderkey AS k, l_suppkey AS sk
           |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           |  WHERE o_orderdate >= '1997-01-01' AND o_orderdate < '1997-02-01'),
           |e AS (SELECT DISTINCT x.sk AS a, y.sk AS b
           |  FROM sl x JOIN sl y ON x.k = y.k AND x.sk < y.sk),
           |tri AS (SELECT e1.a, e1.b, e2.b AS c
           |  FROM e e1 JOIN e e2 ON e1.b = e2.a
           |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
           |pn AS (SELECT node, count(*) AS n_triangles FROM (
           |    SELECT a AS node FROM tri
           |    UNION ALL SELECT b FROM tri
           |    UNION ALL SELECT c FROM tri)
           |  GROUP BY node)
           |SELECT node, n_triangles FROM pn
           |ORDER BY n_triangles DESC, node LIMIT 20""".stripMargin))

  /** Bounded BFS over the undirected trade graph from the lexically smallest
    * customer node ([[graft.operators.Graphs.hopDistances]]): hop histogram
    * with per-level min/max node. The oracle unrolls the three frontier
    * rounds as min-aggregate CTEs — hop counts are exact integers, so the
    * gate is exact, no rounding anywhere.
    */
  private val graphBfs = Q(
    (s, d) => {
      // distinct + checkpoint ONCE: both the source-node aggregate and the
      // BFS rounds read the materialized edge set instead of re-deriving the
      // lineitem ⋈ orders plan (the derivation ran twice before this)
      val edges = customerSupplierEdges(s, d).distinct().localCheckpoint()
      val src = edges.agg(min("src").as("node"))
      graft.operators.Graphs.hopDistances(edges, src, maxHops = 3)
        .groupBy("hops")
        .agg(count(lit(1)).as("n_nodes"),
          min("node").as("first_node"), max("node").as("last_node"))
        .orderBy("hops")
    },
    Some {
      val iterCtes = (1 to 3).map { i =>
        s"""d$i AS (SELECT node, min(hops) AS hops FROM (
           |    SELECT * FROM d${i - 1}
           |    UNION ALL
           |    SELECT e.dst AS node, d${i - 1}.hops + 1 AS hops
           |    FROM e JOIN d${i - 1} ON e.src = d${i - 1}.node)
           |  GROUP BY node)""".stripMargin
      }.mkString(",\n")
      s"""WITH eo AS (SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |e AS (SELECT src, dst FROM eo UNION SELECT dst, src FROM eo),
         |d0 AS (SELECT min(src) AS node, 0 AS hops FROM eo),
         |$iterCtes
         |SELECT hops, count(*) AS n_nodes, min(node) AS first_node, max(node) AS last_node
         |FROM d3 GROUP BY hops ORDER BY hops""".stripMargin
    })

  /** Per-node community assignment after three synchronous
    * label-propagation rounds over the month co-supply graph
    * ([[graft.operators.Graphs.labelPropagation]]). The deterministic
    * variant — ties to the smallest label — lets the oracle replay every
    * round with a row_number window; the gate is every node's label (any
    * divergence in any round moves some node's label), exact with no
    * rounding anywhere. Dense graphs collapse to few communities under LPA
    * (the known behavior), which is why the gate is assignments, not
    * community sizes.
    */
  private val graphCommunities = Q(
    (s, d) => {
      val edges = supplierEdges(s, d)
      graft.operators.Graphs.labelPropagation(edges, iters = 3)
        .orderBy("node")
    },
    Some {
      val iterCtes = (1 to 3).map { i =>
        s"""c$i AS (SELECT e.dst AS node, l${i - 1}.label AS label, count(*) AS c
           |  FROM e JOIN l${i - 1} ON e.src = l${i - 1}.node
           |  GROUP BY e.dst, l${i - 1}.label),
           |t$i AS (SELECT node, label FROM (
           |    SELECT node, label,
           |      row_number() OVER (PARTITION BY node ORDER BY c DESC, label) AS rn
           |    FROM c$i) WHERE rn = 1),
           |l$i AS (SELECT n.node AS node, coalesce(t.label, n.node) AS label
           |  FROM nodes n LEFT JOIN t$i t USING (node))""".stripMargin
      }.mkString(",\n")
      s"""WITH sl AS (SELECT l_orderkey AS k, l_suppkey AS sk
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |  WHERE o_orderdate >= '1997-01-01' AND o_orderdate < '1997-02-01'),
         |eo AS (SELECT DISTINCT x.sk AS src, y.sk AS dst
         |  FROM sl x JOIN sl y ON x.k = y.k AND x.sk < y.sk),
         |e AS (SELECT src, dst FROM eo UNION SELECT dst, src FROM eo),
         |nodes AS (SELECT DISTINCT src AS node FROM e),
         |l0 AS (SELECT node, node AS label FROM nodes),
         |$iterCtes
         |SELECT node, label FROM l3 ORDER BY node""".stripMargin
    })

  /** PageRank over the customer→supplier trade graph
    * ([[graft.operators.Graphs.pageRank]], 5 iterations): a fact-table join
    * derives the edge list, then the Pregel-shaped iteration ranks supplier
    * authority. The oracle unrolls the same 5 iterations with the same
    * per-iteration 9dp round, so the whole fixed point hash-gates — the
    * deterministic-iteration recipe that also proves partition-invariance.
    */
  private val graphPagerank = Q(
    (s, d) => {
      val edges = customerSupplierEdges(s, d)
      graft.operators.Graphs.pageRank(edges, iters = 5)
        .select(col("node"), round(col("rank"), 6).as("pagerank"))
        .orderBy(round(col("rank"), 6).desc, col("node"))
        .limit(100)
    },
    Some {
      val iterCtes = (1 to 5).map { i =>
        s"""c$i AS (SELECT e.dst AS node, sum(r${i - 1}.rank / o.outdeg) AS in_sum
           |  FROM eo e JOIN r${i - 1} ON e.src = r${i - 1}.node
           |  JOIN outdeg o ON e.src = o.src
           |  GROUP BY e.dst),
           |r$i AS (SELECT n.node, round(0.15 + 0.85 * coalesce(c.in_sum, 0.0), 9) AS rank
           |  FROM nodes n LEFT JOIN c$i c USING (node))""".stripMargin
      }.mkString(",\n")
      s"""WITH eo AS (SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |outdeg AS (SELECT src, count(*) AS outdeg FROM eo GROUP BY src),
         |nodes AS (SELECT DISTINCT node FROM
         |  (SELECT src AS node FROM eo UNION ALL SELECT dst FROM eo)),
         |r0 AS (SELECT node, 1.0::DOUBLE AS rank FROM nodes),
         |$iterCtes
         |SELECT node, round(rank, 6) AS pagerank FROM r5
         |ORDER BY round(rank, 6) DESC, node LIMIT 100""".stripMargin
    })

  /** PageRank with dangling-mass redistribution over the same trade graph
    * ([[graft.operators.Graphs.pageRank]] `redistributeDangling = true`, the
    * stochastic-matrix form): suppliers only ever appear as edge DESTINATIONS
    * here, so every supplier is a dangling node and the redistribution term is
    * live in every round — rank' = (1−d) + d·(Σ_in rank/outdeg + danglingSum/N).
    * The oracle unrolls the 5 iterations with the same per-round dangling-sum
    * scalar and the same 9dp round, hash-gating the mass-conserving fixed
    * point exactly as the base query gates the drop-mass one.
    */
  private val graphPagerankDangling = Q(
    (s, d) => {
      val edges = customerSupplierEdges(s, d)
      graft.operators.Graphs.pageRank(edges, iters = 5,
          redistributeDangling = true)
        .select(col("node"), round(col("rank"), 6).as("pagerank"))
        .orderBy(round(col("rank"), 6).desc, col("node"))
        .limit(100)
    },
    Some {
      val iterCtes = (1 to 5).map { i =>
        s"""ds$i AS (SELECT coalesce(sum(rank), 0.0) AS d_sum
           |  FROM r${i - 1} JOIN dang USING (node)),
           |c$i AS (SELECT e.dst AS node, sum(r${i - 1}.rank / o.outdeg) AS in_sum
           |  FROM eo e JOIN r${i - 1} ON e.src = r${i - 1}.node
           |  JOIN outdeg o ON e.src = o.src
           |  GROUP BY e.dst),
           |r$i AS (SELECT n.node,
           |    round(0.15 + 0.85 * (coalesce(c.in_sum, 0.0) + d.d_sum / nn.n), 9) AS rank
           |  FROM nodes n LEFT JOIN c$i c USING (node) CROSS JOIN ds$i d CROSS JOIN nn)""".stripMargin
      }.mkString(",\n")
      s"""WITH eo AS (SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |outdeg AS (SELECT src, count(*) AS outdeg FROM eo GROUP BY src),
         |nodes AS (SELECT DISTINCT node FROM
         |  (SELECT src AS node FROM eo UNION ALL SELECT dst FROM eo)),
         |dang AS (SELECT n.node FROM nodes n
         |  WHERE NOT EXISTS (SELECT 1 FROM outdeg o WHERE o.src = n.node)),
         |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
         |r0 AS (SELECT node, 1.0::DOUBLE AS rank FROM nodes),
         |$iterCtes
         |SELECT node, round(rank, 6) AS pagerank FROM r5
         |ORDER BY round(rank, 6) DESC, node LIMIT 100""".stripMargin
    })

  /** KMV distinct-count sketch ([[graft.operators.Sketches.kmvDistinct]]):
    * per-language distinct 3-gram-shingle estimate from the 64 smallest
    * md5-word hashes (3-9k true distincts per language, so the estimation
    * branch — not the exact-below-k fallback — is what the gate locks). The
    * estimate itself is oracle-gated, because the hash is the engine-shared
    * [[graft.operators.Curation.hash32]]. `n_exact` (distinct hashes, exact)
    * rides along to show the error; at scale you would drop it and keep only
    * the fixed-size sketch.
    */
  private val kmvK = 64

  private val sketchDistinctKmv = Q(
    (s, d) => {
      val hashed = graft.operators.Dedup.withShingles(
          D.documents(s, d).select("doc_id", "lang", "text"),
          "doc_id", "text", n = 3, keep = Seq("lang"))
        .select(col("lang"), explode(col("sh")).as("g"))
        .select(col("lang"), graft.operators.Curation.hash32(col("g"), "k1").as("h"))
      val exact = hashed.groupBy("lang").agg(countDistinct("h").as("n_exact"))
      graft.operators.Sketches.kmvDistinct(hashed, "lang", "h", kmvK)
        .join(exact, "lang")
        .select("lang", "n_kmv", "kmv_estimate", "n_exact")
        .orderBy("lang")
    },
    Some(s"""WITH toks AS (SELECT lang,
            |    ${tokens("text")} AS t
            |  FROM documents),
            |shl AS (SELECT lang, unnest(CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
            |    ELSE list_transform(generate_series(1, len(t) - 2),
            |           i -> array_to_string(t[i:i+2], ' ')) END) AS g FROM toks),
            |hx AS (SELECT DISTINCT lang, substring(md5('k1' || g), 1, 8) AS hx8 FROM shl),
            |hv AS (SELECT lang, ${graft.operators.Curation.hash32DigitSumSql("hx8")} AS hv FROM hx),
            |r AS (SELECT lang, hv, row_number() OVER (PARTITION BY lang ORDER BY hv ASC) AS rn FROM hv),
            |agg AS (SELECT lang, count(*) AS n_distinct,
            |    max(CASE WHEN rn = $kmvK THEN hv END) AS kth FROM r GROUP BY lang)
            |SELECT lang, CAST(least(n_distinct, $kmvK) AS BIGINT) AS n_kmv,
            |  round(CASE WHEN n_distinct < $kmvK THEN CAST(n_distinct AS DOUBLE)
            |    ELSE ${kmvK - 1} * 4294967296.0 / kth END, 4) AS kmv_estimate,
            |  CAST(n_distinct AS BIGINT) AS n_exact
            |FROM agg ORDER BY lang""".stripMargin))

  /** Count-min sketch heavy hitters ([[graft.operators.Sketches.cmsBuild]] /
    * [[graft.operators.Sketches.cmsEstimate]]): token frequencies from a
    * fixed 4×1024 counter grid instead of a corpus-sized count table; the 25
    * highest-frequency tokens' estimates ride next to their exact counts (the
    * CMS overestimate property — collisions only add — is visible in the
    * gated output). Grid hashing = the same md5 words as the Bloom filter, so
    * the oracle rebuilds the identical grid.
    */
  private val cmsW = 1024

  private val sketchCmsTopk = Q(
    (s, d) => {
      val toks = D.documents(s, d)
        .select(explode(graft.operators.Search.tokensCol(col("text"))).as("tok"))
      val cms = graft.operators.Sketches.cmsBuild(toks, md5(col("tok")), cmsW)
      val exact = toks.groupBy("tok").agg(count(lit(1)).as("n_exact"))
      val cand = exact.orderBy(col("n_exact").desc, col("tok").asc).limit(25)
      graft.operators.Sketches.cmsEstimate(cms, cand, "tok", md5(col("tok")), cmsW)
        .join(cand, "tok")
        .select(col("tok"), col("n_exact"), col("cms_estimate"))
        .orderBy(col("n_exact").desc, col("tok").asc)
    },
    Some(s"""WITH tok AS (SELECT unnest(${tokens("text")}) AS t FROM documents),
            |hx AS (SELECT t, md5(t) AS h FROM tok),
            |pos AS (${(0 until 4).map(j =>
                s"SELECT h, $j AS r, ${graft.operators.Sketches.bloomBitSql("h", j, cmsW)} AS b FROM hx")
              .mkString("\n|  UNION ALL ")}),
            |cms AS (SELECT r, b, count(*) AS c FROM pos GROUP BY r, b),
            |exact AS (SELECT t, count(*) AS n_exact FROM tok GROUP BY t),
            |cand AS (SELECT t, n_exact FROM (SELECT t, n_exact,
            |    row_number() OVER (ORDER BY n_exact DESC, t ASC) AS rn FROM exact)
            |  WHERE rn <= 25),
            |ch AS (SELECT t, md5(t) AS h FROM cand),
            |cpos AS (${(0 until 4).map(j =>
                s"SELECT t, $j AS r, ${graft.operators.Sketches.bloomBitSql("h", j, cmsW)} AS b FROM ch")
              .mkString("\n|  UNION ALL ")}),
            |est AS (SELECT cpos.t, min(c) AS cms_estimate FROM cpos
            |  JOIN cms USING (r, b) GROUP BY cpos.t)
            |SELECT cand.t AS tok, n_exact, cms_estimate
            |FROM cand JOIN est ON cand.t = est.t
            |ORDER BY n_exact DESC, tok ASC""".stripMargin))

  /** Histogram quantile sketch ([[graft.operators.Sketches.histQuantiles]]):
    * p50/p90/p99 of document length per language from a 64-bin fixed-width
    * histogram — nBins longs of state per group where the exact percentile
    * (`corpus_percentiles`) sorts the column. The interpolated estimates
    * themselves are hash-gated; comparing against `corpus_percentiles` shows
    * the bin-width-bounded error.
    */
  private val sketchQuantileHist = Q(
    (s, d) => graft.operators.Sketches.histQuantiles(
        D.documents(s, d), "lang", "n_chars",
        binWidth = 64L, nBins = 64, qs = Seq(0.5, 0.9, 0.99))
      .orderBy("lang", "q"),
    Some("""WITH hist AS (SELECT lang, least(63, n_chars // 64) AS b, count(*) AS n
           |  FROM documents GROUP BY 1, 2),
           |cum AS (SELECT lang, b, n,
           |    coalesce(sum(n) OVER (PARTITION BY lang ORDER BY b) - n, 0) AS below,
           |    sum(n) OVER (PARTITION BY lang) AS total FROM hist),
           |qs AS (SELECT unnest([0.5, 0.9, 0.99]) AS q)
           |SELECT lang, q,
           |  round(b * 64 + 64.0 * (q * total - below) / n, 4) AS quantile_est
           |FROM cum CROSS JOIN qs
           |WHERE below < q * total AND q * total <= below + n
           |ORDER BY lang, q""".stripMargin))

  /** HyperLogLog distinct users per event type
    * ([[graft.operators.Sketches.hllDistinct]]): 64 registers over the
    * engine-shared md5 hash32 — register/rank split, max-per-register, and
    * the α-corrected harmonic estimate (small-range branch engaged at this
    * cardinality) all replay in DuckDB, so the ESTIMATE hash-gates, not just
    * the registers. Exact distinct rides along to show the sketch error;
    * at 100 TB you keep only the 64-byte register state per group
    * (production swap-in: `approx_count_distinct`, Spark's own HLL++).
    * Every oracle-side constant is CAST to DOUBLE — DuckDB parses bare
    * decimal literals as DECIMAL, whose division rounds differently than
    * binary64.
    */
  private val sketchHll = Q(
    (s, d) => {
      val ev = D.events(s, d).select(col("event_type"),
        graft.operators.Curation.hash32(col("user_id"), "hll").as("h"))
      val exact = D.events(s, d).groupBy("event_type")
        .agg(countDistinct("user_id").as("n_exact"))
      graft.operators.Sketches.hllDistinct(ev, "event_type", "h")
        .join(exact, "event_type")
        .select("event_type", "n_registers", "zeros", "hll_estimate", "n_exact")
        .orderBy("event_type")
    },
    Some(s"""WITH hx AS (SELECT event_type, user_id,
            |    substring(md5('hll' || CAST(user_id AS VARCHAR)), 1, 8) AS hx8
            |  FROM events),
            |hv AS (SELECT event_type, ${graft.operators.Curation.hash32DigitSumSql("hx8")} AS h FROM hx),
            |reg AS (SELECT event_type, h % 64 AS reg,
            |    CASE WHEN h // 64 = 0 THEN 27
            |      ELSE instr(lpad(bin(h // 64), 26, '0'), '1') END AS rnk
            |  FROM hv),
            |mj AS (SELECT event_type, reg, max(rnk) AS mj FROM reg GROUP BY event_type, reg),
            |agg AS (SELECT event_type, count(*) AS present,
            |    sum(pow(CAST(2.0 AS DOUBLE), -CAST(mj AS DOUBLE))) AS inv
            |  FROM mj GROUP BY event_type),
            |est AS (SELECT event_type, present, 64 - present AS zeros,
            |    (CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + CAST(1.079 AS DOUBLE) / CAST(64.0 AS DOUBLE)))
            |      * CAST(64.0 AS DOUBLE) * CAST(64.0 AS DOUBLE)
            |      / (inv + CAST(64 - present AS DOUBLE)) AS raw
            |  FROM agg),
            |exact AS (SELECT event_type, count(DISTINCT user_id) AS n_exact FROM events GROUP BY event_type)
            |SELECT est.event_type, CAST(present AS BIGINT) AS n_registers,
            |  CAST(zeros AS BIGINT) AS zeros,
            |  round(CASE WHEN raw <= CAST(160.0 AS DOUBLE) AND zeros > 0
            |    THEN CAST(64.0 AS DOUBLE) * ln(CAST(64.0 AS DOUBLE) / CAST(zeros AS DOUBLE))
            |    ELSE raw END, 4) AS hll_estimate,
            |  CAST(n_exact AS BIGINT) AS n_exact
            |FROM est JOIN exact ON est.event_type = exact.event_type
            |ORDER BY est.event_type""".stripMargin))

  val all: Map[String, Q] = Map(
    "graph_triangles" -> graphTriangles,
    "graph_bfs" -> graphBfs,
    "graph_communities" -> graphCommunities,
    "graph_pagerank" -> graphPagerank,
    "graph_pagerank_dangling" -> graphPagerankDangling,
    "sketch_distinct_kmv" -> sketchDistinctKmv,
    "sketch_cms_topk" -> sketchCmsTopk,
    "sketch_quantile_hist" -> sketchQuantileHist,
    "sketch_hll" -> sketchHll)
}
