package graft

import graft.core.{CollectionManager, JobMeter}
import graft.functions.{HashingEmbedder, TextSplitter}
import graft.operators.{Bm25Indexer, Indexers, Search, VectorIndexer}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class IndexersSpec extends AnyFunSuite with SparkSuite {

  private def setup(): (CollectionManager, String, String) = {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-idx").toString
    val cm = new CollectionManager(spark, tmp,
      new HashingEmbedder(dim = 16), new TextSplitter(60, 10))
    cm.create("ix", Seq(
      ("d1", "u1", Map("space" -> "ENG"), "spark vector search with broadcast joins"),
      ("d2", "u2", Map("space" -> "OPS"), "deployment of the search service"),
      ("d3", "u3", Map("space" -> "ENG"), "vector embeddings, similarity search, spark"))
      .toDF("id", "url", "metadata", "text"))
    (cm, tmp, s"$tmp/ix")
  }

  test("prebuilt BM25 postings match the inline bm25TopK scores") {
    val (cm, _, dir) = setup()
    val chunks = cm.chunks("ix")
    // disjunctive mode for full score comparison; conjunctive parity below
    val bm = new Bm25Indexer(spark, s"$dir/indexes/bm25", s"$dir/chunks",
      conjunctive = false)
    val prebuilt = bm.search("vector search spark", 10, None)
      .select(col("chunkId"), round(col("score"), 9).as("s")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val inline = Search.bm25TopK(chunks, "chunkId", "indexedData",
      "vector search spark", 10, conjunctive = false)
      .select(col("docId"), round(col("score"), 9).as("s")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(prebuilt === inline)
    assert(bm.size === chunks.count())

    // conjunctive (default) gate matches the inline conjunctive result set
    val bmConj = new Bm25Indexer(spark, s"$dir/indexes/bm25", s"$dir/chunks")
    val prebuiltConj = bmConj.search("vector search", 10, None)
      .select("chunkId").collect().map(_.getLong(0)).toSet
    val inlineConj = Search.bm25TopK(chunks, "chunkId", "indexedData",
      "vector search", 10).select("docId").collect().map(_.getLong(0)).toSet
    assert(prebuiltConj === inlineConj)
  }

  test("bm25 metadata filter = pre-filtered search via id semi-join") {
    val (cm, _, dir) = setup()
    val bm = new Bm25Indexer(spark, s"$dir/indexes/bm25", s"$dir/chunks")
    val eng = bm.search("search", 10,
      Some(col("metadata").getItem("space") === "ENG")).collect()
    val engDocs = cm.chunks("ix")
      .filter(col("metadata").getItem("space") === "ENG")
      .select("chunkId").collect().map(_.getLong(0)).toSet
    assert(eng.nonEmpty)
    assert(eng.map(_.getLong(0)).forall(engDocs.contains))
  }

  test("P6 capability gate: parity-mode vector indexer rejects filters") {
    val (cm, _, dir) = setup()
    val faissLike = new VectorIndexer(spark, s"$dir/chunks",
      new HashingEmbedder(dim = 16), parityMode = true)
    intercept[UnsupportedOperationException] {
      faissLike.search("anything", 5, Some(lit(true)))
    }
    intercept[UnsupportedOperationException] {
      Indexers.multiSearch(Seq(faissLike), "x", 5, Some(lit(true)))
    }
    // without a filter it works
    assert(faissLike.search("vector", 3, None).count() === 3)
  }

  test("multi-index RRF fusion returns fused ranked chunks") {
    val (cm, _, dir) = setup()
    val emb = new HashingEmbedder(dim = 16)
    val fused = Indexers.multiSearch(Seq(
      new VectorIndexer(spark, s"$dir/chunks", emb),
      new Bm25Indexer(spark, s"$dir/indexes/bm25", s"$dir/chunks")),
      "vector search", 5)
    val rows = fused.collect()
    assert(rows.nonEmpty && rows.length <= 5)
    // fused scores descend
    val scores = rows.map(_.getAs[Double]("rrfScore"))
    assert(scores.sorted.reverse.sameElements(scores))
  }

  test("IVF indexer: partition-pruned probes, top-1 is the exact nearest") {
    val (cm, _, dir) = setup()
    val ivf = cm.buildIvfIndex("ix", nLists = 4, nProbe = 4)
    val hits = ivf.search("vector search", 3, None)
    hits.collect()
    val plan = hits.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("listId"))
    // nProbe = nLists => identical to the exact flat scan
    val exact = new VectorIndexer(spark, s"$dir/chunks", new HashingEmbedder(dim = 16))
      .search("vector search", 3, None).collect().map(_.getLong(0))
    assert(hits.collect().map(_.getLong(0)) === exact)
    assert(ivf.size === cm.chunks("ix").count())
  }

  test("Indexer.size is a footer-metadata read — zero Spark jobs scheduled") {
    val (cm, _, dir) = setup()
    val ivf = cm.buildIvfIndex("ix", nLists = 4, nProbe = 4)
    val flat = new VectorIndexer(spark, s"$dir/chunks", new HashingEmbedder(dim = 16))
    val expected = cm.chunks("ix").count() // counted before the measured block
    val jobs = JobMeter.measure(spark) {
      assert(flat.size === expected)
      assert(ivf.size === expected)
    }.jobs
    assert(jobs === 0, s"size() must not schedule Spark jobs; saw $jobs")
  }

  test("Indexer.size ignores _temporary debris a crashed write leaves behind") {
    val (cm, _, dir) = setup()
    val flat = new VectorIndexer(spark, s"$dir/chunks", new HashingEmbedder(dim = 16))
    val before = flat.size
    val chunksDir = new java.io.File(s"$dir/chunks")
    val part = chunksDir.listFiles().filter(_.getName.endsWith(".parquet")).head
    val tmp = new java.io.File(chunksDir, "_temporary/0")
    assert(tmp.mkdirs())
    java.nio.file.Files.copy(part.toPath,
      new java.io.File(tmp, part.getName).toPath)
    assert(flat.size === before,
      "in-flight/_temporary files must not count — spark.read would skip them")
  }

  test("IVF append: new vectors join the frozen-centroid index incrementally") {
    import org.apache.spark.sql.functions._
    val (cm, _, dir) = setup()
    val ivf = cm.buildIvfIndex("ix", nLists = 4, nProbe = 4)
    val before = ivf.size
    // new arrivals: clone existing chunks under fresh ids (embedding reused →
    // assignment against the frozen centroids is known-stable)
    val newChunks = spark.read.parquet(s"$dir/chunks")
      .withColumn("chunkId", col("chunkId") + lit(100000L))
    ivf.append(newChunks)
    assert(ivf.size === before + newChunks.count())
    // probes see appended vectors immediately, still partition-pruned
    val hits = ivf.search("vector search", 6, None)
    val ids = hits.collect().map(_.getLong(0))
    assert(ids.exists(_ >= 100000L) && ids.exists(_ < 100000L),
      s"expected old and appended ids in top-k, got ${ids.mkString(",")}")
    val plan = hits.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("listId"))
  }

  test("IVF drift signal: skewed appends flip it, uniform appends don't") {
    val (cm, _, dir) = setup()
    val ivf = cm.buildIvfIndex("ix", nLists = 4, nProbe = 4)
    assert(ivf.listSizeDrift.exists(_ === 0.0), "fresh index: zero drift")

    // uniform stream: re-append EVERY chunk under fresh ids — every list
    // doubles, shares are unchanged, the signal must not fire
    val chunks = cm.chunks("ix").persist()
    chunks.count()
    ivf.append(chunks.withColumn("chunkId", col("chunkId") + lit(100000L)))
    val uniform = ivf.listSizeDrift.get
    assert(uniform === 0.0, s"uniform appends must not read as drift: $uniform")

    // drifted stream: every arrival lands in ONE list (clone that list's
    // members) — its share grows, the signal moves
    val assigned = spark.read.parquet(s"$dir/indexes/ivf/assigned")
    val hot = assigned.groupBy("listId").count()
      .orderBy(col("count").desc).head().getInt(0)
    val hotChunks = chunks.join(
      assigned.filter(col("listId") === hot).select("chunkId"),
      Seq("chunkId"), "left_semi")
    (1 to 5).foreach(i =>
      ivf.append(hotChunks.withColumn("chunkId", col("chunkId") + lit(200000L * i))))
    val drifted = ivf.listSizeDrift.get
    assert(drifted > 0.05 && drifted > uniform,
      s"skewed appends must move the signal: $drifted")

    // re-train resets the reference distribution — drift reads ~0 again
    cm.retrainIvf("ix")
    assert(cm.ivfDrift("ix").exists(_ === 0.0))
    chunks.unpersist()
    ()
  }

  test("IVF size stays exact under unmatched and duplicated tombstones") {
    import spark.implicits._
    val (cm, _, _) = setup()
    val ivf = cm.buildIvfIndex("ix", nLists = 4, nProbe = 4)
    val n = ivf.size
    // a replayed foreachBatch can tombstone an id that was never assigned
    // (crash between the collection update's removeIds and the streaming
    // append) — footer arithmetic would bias low forever; the logical count
    // must not move
    ivf.removeIds(Seq(999999L).toDF("chunkId"))
    assert(ivf.size === n, "unmatched tombstone must not change the size")
    // a real id tombstoned TWICE still removes exactly one row
    val someId = cm.chunks("ix").select("chunkId").head().getLong(0)
    ivf.removeIds(Seq(someId).toDF("chunkId"))
    ivf.removeIds(Seq(someId).toDF("chunkId"))
    assert(ivf.size === n - 1, "duplicated tombstone must remove exactly one")
    // compaction folds the tail and restores the zero-job footer fast path
    ivf.compact()
    assert(ivf.size === n - 1)
  }

  test("postings term filter prunes the scan (pushed filter present)") {
    val (_, _, dir) = setup()
    val bm = new Bm25Indexer(spark, s"$dir/indexes/bm25", s"$dir/chunks")
    val df = bm.search("vector", 5, None)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      (plan.contains("In(term,") || plan.contains("EqualTo(term,")))
  }

  test("incremental postings merge == full rebuild on all three tables") {
    import spark.implicits._
    val (cm, _, dir) = setup()
    val chunksAll = cm.chunks("ix").persist()
    chunksAll.count()

    // simulate an update replacing d2's chunks: new ids past the HWM
    val hwm = chunksAll.agg(max("chunkId")).head().getLong(0)
    val replacement = chunksAll.filter(col("documentId") === "d2")
      .withColumn("chunkId",
        col("chunkId") + lit(hwm + 1L)) // fresh unique ids
      .withColumn("indexedData",
        concat(col("indexedData"), lit(" refreshed deployment notes")))
    val merged = chunksAll.filter(col("documentId") =!= "d2")
      .unionByName(replacement).persist()
    merged.count()

    // path A: incremental LSM merge on the live index (delta + tombstones)
    val incDir = s"$dir/indexes/bm25"
    val inc = new Bm25Indexer(spark, incDir, s"$dir/chunks")
    inc.updateIncremental(
      chunksAll.filter(col("documentId") === "d2")
        .select(col("chunkId").as("docId"), col("indexedData")),
      replacement)
    // the base segment was NOT rewritten — the delta/tombstone tail exists
    assert(new java.io.File(s"$incDir/postings_delta").isDirectory)
    assert(new java.io.File(s"$incDir/tombstones").isDirectory)
    assert(inc.tailBytes > 0L)

    // path B: full rebuild from the merged chunks in a fresh dir
    val fullDir = s"$dir/indexes/bm25_full"
    val full = new Bm25Indexer(spark, fullDir, s"$dir/chunks")
    full.index(merged)

    // equality on every artifact (logical content, not physical layout)
    def rows(df: org.apache.spark.sql.DataFrame, cols: String*): Seq[String] =
      df.select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
    // LOGICAL equality: the incremental side serves stats from base ⊕ delta
    // views; values (including avgdl's double bits) must match a full rebuild
    def assertEqualIndexes(): Unit = {
      assert(rows(inc.postingsTable(), "term", "docId", "docLen", "tf") ===
        rows(full.postingsTable(), "term", "docId", "docLen", "tf"))
      assert(rows(inc.termDfTable(), "term", "df") ===
        rows(full.termDfTable(), "term", "df"))
      assert(rows(inc.corpusStats(), "n", "avgdl") ===
        rows(full.corpusStats(), "n", "avgdl"))
    }
    assertEqualIndexes()
    // the O(changed) contract: stats were maintained as DELTAS — the base
    // stats tables were not rewritten by the update (delta segments exist)
    assert(new java.io.File(s"$incDir/termDf_delta").isDirectory)
    assert(new java.io.File(s"$incDir/corpus_delta").isDirectory)
    // search agrees through the LSM view (tombstoned postings never serve)
    assert(inc.search("deployment", 5, None).collect().map(_.toString).toSeq ===
      full.search("deployment", 5, None).collect().map(_.toString).toSeq)

    // and a pure-removal merge (delete semantics): empty new side
    inc.updateIncremental(
      replacement.select(col("chunkId").as("docId"), col("indexedData")),
      merged.limit(0))
    val afterDelete = merged.filter(col("documentId") =!= "d2")
    full.index(afterDelete)
    assertEqualIndexes()

    // compaction folds the tail into a fresh base — values unchanged, and
    // the PHYSICAL base stats tables now match a full rebuild's byte layout
    inc.compact()
    Seq("postings_delta", "tombstones", "termDf_delta", "corpus_delta").foreach(d =>
      assert(!new java.io.File(s"$incDir/$d").exists, s"$d should be folded away"))
    assert(inc.tailBytes === 0L)
    assertEqualIndexes()
    assert(rows(spark.read.parquet(s"$incDir/termDf"), "term", "df") ===
      rows(spark.read.parquet(s"$fullDir/termDf"), "term", "df"))
    assert(rows(spark.read.parquet(s"$incDir/corpus"), "n", "avgdl", "totalLen") ===
      rows(spark.read.parquet(s"$fullDir/corpus"), "n", "avgdl", "totalLen"))
    inc.compact() // idempotent no-op on an empty tail
    assertEqualIndexes()
    chunksAll.unpersist(); merged.unpersist()
    ()
  }

  test("incremental BM25 update opens NO base segment (O(changed) stats proof)") {
    import spark.implicits._
    val (cm, _, dir) = setup()
    val chunksAll = cm.chunks("ix").persist()
    chunksAll.count()
    val hwm = chunksAll.agg(max("chunkId")).head().getLong(0)
    val replacement = chunksAll.filter(col("documentId") === "d2")
      .withColumn("chunkId", col("chunkId") + lit(hwm + 1L))
      .withColumn("indexedData", concat(col("indexedData"), lit(" extra terms")))
    val removed = chunksAll.filter(col("documentId") === "d2")
      .select(col("chunkId").as("docId"), col("indexedData")).persist()
    removed.count()

    val incDir = s"$dir/indexes/bm25"
    val inc = new Bm25Indexer(spark, incDir, s"$dir/chunks")
    // Stronger than a listener proof: physically HIDE the base postings and
    // termDf segments. If the update's job graph read either, it would throw.
    // (The corpus base stays: the delta path probes its SCHEMA — a footer
    // read, O(1) — to confirm the totalLen layout; it never scans data.)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def hide(sub: String): Unit = fs.rename(
      new org.apache.hadoop.fs.Path(s"$incDir/$sub"),
      new org.apache.hadoop.fs.Path(s"$dir/hidden_$sub"))
    def restore(sub: String): Unit = fs.rename(
      new org.apache.hadoop.fs.Path(s"$dir/hidden_$sub"),
      new org.apache.hadoop.fs.Path(s"$incDir/$sub"))
    hide("postings"); hide("termDf")
    try inc.updateIncremental(removed, replacement)
    finally { restore("postings"); restore("termDf") }

    // and the maintained stats equal a full rebuild over the merged corpus
    val merged = chunksAll.filter(col("documentId") =!= "d2").unionByName(replacement)
    val full = new Bm25Indexer(spark, s"$dir/indexes/bm25_noread_full", s"$dir/chunks")
    full.index(merged)
    def rows(df: org.apache.spark.sql.DataFrame, cols: String*): Seq[String] =
      df.select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
    assert(rows(inc.termDfTable(), "term", "df") === rows(full.termDfTable(), "term", "df"))
    assert(rows(inc.corpusStats(), "n", "avgdl") === rows(full.corpusStats(), "n", "avgdl"))
    assert(inc.search("deployment", 5, None).collect().map(_.toString).toSeq ===
      full.search("deployment", 5, None).collect().map(_.toString).toSeq)
    chunksAll.unpersist(); removed.unpersist()
    ()
  }

  test("compact heals crash residue: an unfinished tail-clear cannot double-count") {
    import spark.implicits._
    val (cm, _, dir) = setup()
    val chunksAll = cm.chunks("ix").persist()
    chunksAll.count()
    val hwm = chunksAll.agg(max("chunkId")).head().getLong(0)
    val replacement = chunksAll.filter(col("documentId") === "d1")
      .withColumn("chunkId", col("chunkId") + lit(hwm + 1L))
    val incDir = s"$dir/indexes/bm25"
    val inc = new Bm25Indexer(spark, incDir, s"$dir/chunks")
    inc.updateIncremental(
      chunksAll.filter(col("documentId") === "d1")
        .select(col("chunkId").as("docId"), col("indexedData")),
      replacement)

    // snapshot the tail, compact, then RESTORE the tail — exactly the state a
    // crash between writeBase's swap and the tail deletes leaves behind (the
    // folded base already contains the delta's rows; the tail resurfaces them)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = org.apache.hadoop.fs.FileSystem.get(conf)
    def cp(from: String, to: String): Unit = org.apache.hadoop.fs.FileUtil.copy(
      fs, new org.apache.hadoop.fs.Path(from), fs,
      new org.apache.hadoop.fs.Path(to), false, conf)
    cp(s"$incDir/postings_delta", s"$dir/saved_delta")
    cp(s"$incDir/tombstones", s"$dir/saved_tombs")
    inc.compact()
    cp(s"$dir/saved_delta", s"$incDir/postings_delta")
    cp(s"$dir/saved_tombs", s"$incDir/tombstones")

    // the residue DOES over-count pre-heal (that's the hazard)…
    val logical = inc.postingsTable()
    assert(logical.count() >
      logical.dropDuplicates("term", "docId", "docLen", "tf").count(),
      "restored tail should duplicate folded rows — test setup is wrong otherwise")
    // …and RE-RUNNING compact is the repair, not a bake-in
    inc.compact()
    val merged = chunksAll.filter(col("documentId") =!= "d1").unionByName(replacement)
    val full = new Bm25Indexer(spark, s"$dir/indexes/bm25_heal_full", s"$dir/chunks")
    full.index(merged)
    def rows(df: org.apache.spark.sql.DataFrame, cols: String*): Seq[String] =
      df.select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
    assert(rows(inc.postingsTable(), "term", "docId", "docLen", "tf") ===
      rows(full.postingsTable(), "term", "docId", "docLen", "tf"))
    assert(rows(inc.termDfTable(), "term", "df") === rows(full.termDfTable(), "term", "df"))
    assert(rows(inc.corpusStats(), "n", "avgdl") === rows(full.corpusStats(), "n", "avgdl"))
    chunksAll.unpersist()
    ()
  }

  test("indexWithPhrase == index + buildPhraseIndex on every artifact") {
    val (cm, _, dir) = setup()
    val chunks = cm.chunks("ix").persist()
    chunks.count()
    // path A: the two-call build (tokenizes the corpus twice)
    val two = new Bm25Indexer(spark, s"$dir/indexes/bm25_two", s"$dir/chunks")
    two.index(chunks)
    two.buildPhraseIndex(chunks)
    // path B: the fused single-pass build
    val one = new Bm25Indexer(spark, s"$dir/indexes/bm25_one", s"$dir/chunks")
    one.indexWithPhrase(chunks)
    def rows(df: org.apache.spark.sql.DataFrame, cols: String*): Seq[String] =
      df.select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
    assert(rows(one.postingsTable(), "term", "docId", "docLen", "tf") ===
      rows(two.postingsTable(), "term", "docId", "docLen", "tf"))
    assert(rows(one.positionsTable(), "term", "docId", "positions") ===
      rows(two.positionsTable(), "term", "docId", "positions"))
    assert(rows(one.termDfTable(), "term", "df") ===
      rows(two.termDfTable(), "term", "df"))
    assert(rows(one.corpusStats(), "n", "avgdl") ===
      rows(two.corpusStats(), "n", "avgdl"))
    // queries agree end to end (phrase reads the positional artifact)
    assert(one.phrase(Seq("similarity", "search"), 5).collect().map(_.toString).toSeq ===
      two.phrase(Seq("similarity", "search"), 5).collect().map(_.toString).toSeq)
    assert(one.search("vector search", 5, None).collect().map(_.toString).toSeq ===
      two.search("vector search", 5, None).collect().map(_.toString).toSeq)
    // an update on the fused-built index keeps the fused delta path equal too
    val hwm = chunks.agg(max("chunkId")).head().getLong(0)
    val replacement = chunks.filter(col("documentId") === "d2")
      .withColumn("chunkId", col("chunkId") + lit(hwm + 1L))
      .withColumn("indexedData", concat(col("indexedData"), lit(" brand new words")))
    val removed = chunks.filter(col("documentId") === "d2")
      .select(col("chunkId").as("docId"), col("indexedData"))
    one.updateIncremental(removed, replacement)
    two.updateIncremental(removed, replacement)
    assert(rows(one.postingsTable(), "term", "docId", "docLen", "tf") ===
      rows(two.postingsTable(), "term", "docId", "docLen", "tf"))
    assert(rows(one.positionsTable(), "term", "docId", "positions") ===
      rows(two.positionsTable(), "term", "docId", "positions"))
    assert(one.phrase(Seq("brand", "new"), 5).collect().map(_.toString).toSeq ===
      two.phrase(Seq("brand", "new"), 5).collect().map(_.toString).toSeq)
    chunks.unpersist()
    ()
  }
}
