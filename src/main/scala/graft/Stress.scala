package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** sf1 stress harness: generates scale-matched synthetic inputs at 1× and 10×
  * the bench scale (same deterministic generating process at both scales, so
  * the RATIO isolates scaling behavior from data-shape luck) and times the
  * five most expensive bench queries at each. A query whose cost grows ~10×
  * for 10× data is linear — the shape that survives a 100 TB cluster; growth
  * beyond that is a red flag the bench at one scale cannot see.
  *
  * Generation is hash-driven (xxhash64 mixes, no RNG state), mirrors the
  * driver data's shape (31-word vocabulary, ~15–60 word docs, quadratically
  * skewed word frequencies; uniform orderkeys with integer quantities), and
  * writes under stress/ in the repo — /root/testdata stays untouched.
  */
object Stress {

  private val vocabSource = "/root/testdata/sf0.1/documents.parquet"

  private def mix(c: org.apache.spark.sql.Column, salt: Int) =
    abs(xxhash64(c, lit(salt)))

  def generate(spark: SparkSession, dir: String, mult: Int): Unit = {
    import spark.implicits._
    val vocab = core.Tables.open(spark, vocabSource)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0).distinct().orderBy("w")
      .as[String].collect()
    val v = vocab.length

    val nDocs = 5000L * mult
    // words per doc 15..60; word index quadratically skewed toward the low
    // end (u² over the vocab) so term frequencies are zipf-ish like real text
    val docs = spark.range(0, nDocs).toDF("doc_id")
      .withColumn("n_words", (lit(15) + mix(col("doc_id"), 1) % 46).cast("int"))
      .withColumn("text", array_join(transform(
        sequence(lit(0), col("n_words") - 1),
        i => {
          val h = abs(xxhash64(col("doc_id"), i, lit(7)))
          val u = (h % 100000L).cast("double") / lit(100000.0)
          element_at(typedLit(vocab), (u * u * v).cast("int") % v + 1)
        }), " "))
      .withColumn("lang",
        when(mix(col("doc_id"), 2) % 100 < 85, "en")
          .when(mix(col("doc_id"), 2) % 100 < 90, "de")
          .when(mix(col("doc_id"), 2) % 100 < 95, "es").otherwise("fr"))
      .withColumn("source", concat(lit("src"), mix(col("doc_id"), 3) % 20))
      .withColumn("n_chars", length(col("text")))
      .select("doc_id", "text", "lang", "source", "n_chars")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val nOrders = 150000L * mult
    val nCust = 15000L * mult
    spark.range(1, nOrders + 1).toDF("o_orderkey")
      .withColumn("o_orderpriority", element_at(
        typedLit(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")),
        (mix(col("o_orderkey"), 4) % 5).cast("int") + 1))
      .withColumn("o_custkey", mix(col("o_orderkey"), 15) % nCust + 1)
      // uniform dates over 1995–1997 (timestamp like the driver data) so the
      // month-sliced graph queries see the bench's ~3% selectivity
      .withColumn("o_orderdate", to_timestamp(date_add(
        lit("1995-01-01").cast("date"), (mix(col("o_orderkey"), 16) % 1096).cast("int"))))
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")

    // Dimension tables sized like sf0.1 at x1 (part 20k, supplier 1k) so the
    // q2 join tree sees the bench's fact:dimension ratio at both scales.
    val nParts = 20000L * mult
    val nSupp = 1000L * mult
    spark.range(0, nParts).toDF("p_partkey")
      .withColumn("p_name", concat(
        element_at(typedLit(Seq("small", "red", "blue", "hot", "old")),
          (mix(col("p_partkey"), 10) % 5).cast("int") + 1),
        lit(" "),
        element_at(typedLit(Seq("ring", "widget", "bolt", "gear", "gizmo")),
          (mix(col("p_partkey"), 11) % 5).cast("int") + 1)))
      .withColumn("p_type", element_at(
        typedLit(Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")),
        (mix(col("p_partkey"), 12) % 6).cast("int") + 1))
      .withColumn("p_size", (mix(col("p_partkey"), 13) % 50 + 1).cast("int"))
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    spark.range(1, nSupp + 1).toDF("s_suppkey")
      .withColumn("s_name", concat(lit("Supplier#"), col("s_suppkey")))
      .withColumn("s_nationkey", (mix(col("s_suppkey"), 14) % 25).cast("int"))
      .write.mode("overwrite").parquet(s"$dir/supplier.parquet")
    spark.range(0, 25).toDF("id")
      .select(col("id").cast("int").as("n_nationkey"),
        concat(lit("NATION_"), col("id")).as("n_name"),
        (col("id") % 5).cast("int").as("n_regionkey"))
      .write.mode("overwrite").parquet(s"$dir/nation.parquet")
    spark.createDataFrame(Seq(
        (0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"), (3, "EUROPE"), (4, "MIDDLE EAST")))
      .toDF("r_regionkey", "r_name")
      .write.mode("overwrite").parquet(s"$dir/region.parquet")

    val nLines = 600000L * mult
    spark.range(0, nLines).toDF("id")
      .withColumn("l_orderkey", mix(col("id"), 5) % nOrders + 1)
      .withColumn("l_quantity", (mix(col("id"), 6) % 50 + 1).cast("double"))
      .withColumn("l_partkey", mix(col("id"), 7) % nParts)
      .withColumn("l_suppkey", mix(col("id"), 8) % nSupp + 1)
      // 2-decimal double price, 10.00 .. 1010.00
      .withColumn("l_extendedprice",
        ((mix(col("id"), 9) % 100000L + 1000L).cast("double")) / lit(100.0))
      .select("l_orderkey", "l_quantity", "l_partkey", "l_suppkey", "l_extendedprice")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")

    // embeddings: deterministic unit-ish float vectors (dim 64 like the
    // driver data; hash-driven components in [-0.5, 0.5)) for the
    // k-means-training and ANN stress rows
    val nVecs = 5000L * mult
    spark.range(0, nVecs + 1).toDF("vec_id")
      .withColumn("embedding", transform(sequence(lit(0), lit(63)),
        i => ((abs(xxhash64(col("vec_id"), i, lit(21))) % 100000L).cast("double")
          / lit(100000.0) - lit(0.5)).cast("float")))
      .withColumn("label", (mix(col("vec_id"), 22) % 10).cast("int"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    // generation-version marker: bump the suffix when a table's schema grows
    // so stale stress dirs regenerate instead of failing on a missing column
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/_GEN_V4"), "")
  }

  private val stressQueries = Seq(
    "dedup_containment", "pipeline_full", "text_lm_perplexity",
    "t2b_bm25_postings", "skew_salted_join",
    // round-5 additions: the next bench tier — repeated-span dedup and the
    // bloom decontamination probe (documents-driven), and the q2 correlated
    // MIN join tree (fact + 4 generated dimensions)
    "dedup_spans", "bloom_decontaminate", "q2_min_cost",
    // round-5b: the two new exchange shapes — corpus-wide bigram aggregate
    // (collocations) and the 5-iteration Pregel loop over the fact-derived
    // trade graph (pagerank: per-iteration src-join + dst-aggregate)
    "text_collocations", "graph_pagerank",
    // round-5c: the remaining new iteration shapes — wedge-close triangle
    // join, checkpointed BFS frontier, LPA count+window rounds, and the
    // gradient-aggregate training loop over generated documents
    "graph_triangles", "graph_bfs", "graph_communities", "quality_lr_train",
    // round-7 additions: the exploded-points Lloyd training join and the
    // dangling-mass Pregel variant (per-round scalar aggregate + broadcast)
    "cluster_kmeans_train", "graph_pagerank_dangling",
    // round-7b: the prefix-doubling suffix family — seeded doubling rounds
    // (range-partitioned two-pass global dense rank + per-doc lead shift),
    // direct literal-window ExactSubstr classes, the SA-adjacency LCP join,
    // and the cross-corpus decontamination semi-join
    "text_suffix_ranks", "dedup_exact_substr", "text_lcp_topk",
    "decontam_substr",
    // round-7c: exact token-window classes and the strip-rebuild pass
    "dedup_token_spans", "dedup_strip_spans",
    // round-11: the sharded suffix shape — K sequential per-shard rank runs
    // + the global seed pass + auxiliary-group run (shard_dup_spans), and
    // train-shards × replicated-bench decontamination (shard_decontam)
    "shard_dup_spans", "shard_decontam",
    // round-12: the token n-gram broadcast semi-join + per-doc count agg
    // (overlap scoring), the heavy per-row min-window scan (occurrences ×
    // terms × tokens per doc), and the phrase slice-equality scan
    "decontam_ngram_overlap", "ql_minspan_search", "ql_phrase_search")

  /** Round-13: the positional-index family's QUERY paths (phrase / NEAR /
    * boolean MATCH served from the artifact). The artifact builds ONCE per
    * scale, untimed — steady-state interactive cost is the row, matching how
    * the family is used at 100 TB (builds amortize across queries; the bench
    * rows `ql_*_index` price build+query together). Query terms are each
    * scale's own top-df terms, so the rows measure the WORST-case posting
    * sizes and selectivity tracks the corpus shape at every scale.
    */
  private val posIndexNames =
    Seq("posidx_phrase_query", "posidx_near_query", "posidx_boolean_query",
      "posidx_boolean_filtered", "posidx_prefix_query",
      "posidx_phrase_prefix_query", "posidx_gated_search")

  private def posIndexRows(spark: SparkSession, dir: String): Seq[(String, () => DataFrame)] = {
    val idxDir = s"$dir/posidx"
    val marker = new java.io.File(s"$dir/posidx_BUILT_V1")
    val chunksMarker = new java.io.File(s"$dir/posidx_chunks_BUILT_V1")
    val idx = new graft.operators.Bm25Indexer(spark, idxDir,
      chunksPath = s"$dir/posidx_chunks")
    if (!marker.exists()) {
      println(s"[stress] building positional index under $idxDir")
      val docs = core.Tables.open(spark, s"$dir/documents.parquet")
        .select(col("doc_id").as("chunkId"), col("text").as("indexedData"))
      idx.index(docs)
      idx.buildPhraseIndex(docs)
      java.nio.file.Files.writeString(marker.toPath, "")
    }
    if (!chunksMarker.exists()) {
      // the filter gate's side: a chunks table carrying the metadata column
      // (pushdown-able flat lang), id-matched to the index
      core.Tables.open(spark, s"$dir/documents.parquet")
        .select(col("doc_id").as("chunkId"), col("lang"))
        .write.mode("overwrite").parquet(s"$dir/posidx_chunks")
      java.nio.file.Files.writeString(chunksMarker.toPath, "")
    }
    val top = idx.termDfTable().orderBy(col("df").desc, col("term").asc)
      .limit(3).collect().map(_.getString(0))
    val boolQ = s"(${top(0)} AND ${top(1)}) OR (${top(2)} NOT ${top(0)})"
    Seq(
      "posidx_phrase_query" -> (() => idx.phrase(Seq(top(0), top(1)), 20)),
      "posidx_near_query" -> (() => idx.near(Seq(top(0), top(1), top(2)), 12, 20)),
      "posidx_boolean_query" -> (() => idx.booleanSearch(boolQ, 20)),
      // the metadata gate adds one pushdown-filtered chunks scan + a
      // broadcast semi-join to the same candidate algebra
      "posidx_boolean_filtered" -> (() =>
        idx.booleanSearch(boolQ, 20, Some(col("lang") === "en"))),
      // prefix query path, WORST case: a one-character stem — the range
      // postings read covers every term sharing the letter, the scoring
      // df side is the whole matching vocabulary (broadcast hint dropped,
      // AQE decides), candidates ≈ every doc carrying any such term
      "posidx_prefix_query" -> (() =>
        idx.booleanSearch(s"${top(0).take(1)}* AND ${top(1)}", 20)),
      // phrase-prefix worst case: the last slot's POSITION arrays merge
      // across every vocab term sharing the letter before the shift-intersect
      "posidx_phrase_prefix_query" -> (() =>
        idx.booleanSearch("\"" + top(0) + " " + top(1).take(1) + "\"*", 20)),
      // the fusion gate's shape at scale: a ranked BM25 search whose
      // candidate rows are gated by a boolean-MATCH id set (searchAmong's
      // one extra semi-join) — the matchQuery path of the hybrid search
      "posidx_gated_search" -> (() =>
        idx.searchAmong(s"${top(0)} ${top(1)}", 20, idx.booleanCandidates(boolQ)
          .select(col("docId").as("chunkId")))))
  }

  def main(args: Array[String]): Unit = {
    val baseDir = if (args.nonEmpty) args(0) else "stress"
    // Optional second arg: regex over query names — rerun one row of the
    // sweep (e.g. after reshaping one operator) without paying for all 14.
    val nameFilter = if (args.length > 1) args(1).r else ".*".r
    // Optional third arg: comma-separated scale multipliers (default "1,10").
    // "10,100" runs the 10×→100× spot-check for amortization claims — the
    // exponent column is log10 of each consecutive-pair ratio.
    val scales = (if (args.length > 2) args(2) else "1,10")
      .split(",").map(_.trim.toInt).toSeq
    require(scales.size >= 2 &&
        scales.sliding(2).forall { case Seq(a, b) => a < b; case _ => true },
      "scales must be >= 2 strictly ascending multipliers")
    val active = stressQueries.filter(q => nameFilter.matches(q))
    val activePos = posIndexNames.filter(q => nameFilter.matches(q))
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.driver.memory", "16g")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.configure(spark)

    scales.foreach { m =>
      val dir = s"$baseDir/x$m"
      // version marker probe: older stress dirs (pre-o_custkey) regenerate
      if (!new java.io.File(s"$dir/_GEN_V4").exists()) {
        println(s"[stress] generating x$m under $dir")
        generate(spark, dir, m)
      }
    }

    def consume(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // Per (scale, query): one UNTIMED run to absorb JIT + whole-stage-codegen
    // compilation, then the timed run — without this the first scale measured
    // pays all warmup and the ratio reads sub-linear.
    val results = scales.map { m =>
      val dir = s"$baseDir/x$m"
      consume(core.Tables.open(spark, s"$dir/documents.parquet"))
      consume(core.Tables.open(spark, s"$dir/lineitem.parquet"))
      consume(core.Tables.open(spark, s"$dir/part.parquet"))
      consume(core.Tables.open(spark, s"$dir/supplier.parquet"))
      val rows: Seq[(String, () => DataFrame)] =
        active.map(q => q -> (() => SparkEntry.queries(q)(spark, dir))) ++
          (if (activePos.nonEmpty)
            posIndexRows(spark, dir).filter(r => activePos.contains(r._1))
          else Nil)
      m -> rows.map { case (q, mk) =>
        consume(mk()) // warm
        val sec = (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          consume(mk())
          (System.nanoTime() - t0) / 1e9
        }.min // min-of-3: the stable estimator under GC/scheduler noise
        println(f"[stress] x$m $q: $sec%.2f s")
        q -> sec
      }.toMap
    }.toMap

    scales.sliding(2).foreach { case Seq(lo, hi) =>
      val step = hi.toDouble / lo
      println(s"query,t_x${lo}_s,t_x${hi}_s,ratio,exponent (x$lo -> x$hi)")
      (active ++ activePos).foreach { q =>
        val tl = results(lo)(q); val th = results(hi)(q)
        val ratio = th / tl
        println(f"$q,$tl%.2f,$th%.2f,$ratio%.2f,${math.log(ratio) / math.log(step)}%.2f")
      }
    }
    spark.stop()
  }
}
