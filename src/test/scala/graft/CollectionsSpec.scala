package graft

import graft.core.{CollectionManager, JobMeter}
import graft.functions.{HashingEmbedder, TextSplitter}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** End-to-end collection lifecycle: create → search → fetch → incremental update →
  * search, including chunk-id high-water-mark continuation across updates
  * (SURVEY §7.3.5) — the test pyramid level the reference lacks (SURVEY §5).
  */
class CollectionsSpec extends AnyFunSuite with SparkSuite {

  private def rawDocs(rows: Seq[(String, String, Map[String, String], String)]) = {
    import spark.implicits._
    rows.toDF("id", "url", "metadata", "text")
  }

  private def mkManager(tmp: String) = new CollectionManager(
    spark, tmp, new HashingEmbedder(dim = 16), new TextSplitter(50, 10))

  private val docsV1 = Seq(
    ("d1", "file://d1", Map("space" -> "ENG", "lastModifiedAt" -> "2026-01-01T00:00:00"),
      "spark query engine\nwith vector search\nand bm25 ranking"),
    ("d2", "file://d2", Map("space" -> "OPS", "lastModifiedAt" -> "2026-01-02T00:00:00"),
      "deployment guide for the ops team\nrun the deploy script"),
    ("d3", "file://d3", Map("space" -> "ENG", "lastModifiedAt" -> "2026-01-03T00:00:00"),
      "vector embeddings and similarity search notes"))

  test("create → manifest + tables + search") {
    val tmp = Files.createTempDirectory("graft-coll").toString
    val cm = mkManager(tmp)
    val m = cm.create("c1", rawDocs(docsV1))

    assert(m.numberOfDocuments === 3)
    assert(m.numberOfChunks > 3) // header chunk + split chunks per doc
    assert(m.lastIndexItemId === m.numberOfChunks - 1) // ids start at 0, dense
    assert(m.lastModifiedDocumentTime === "2026-01-03T00:00:00")
    assert(cm.list() === Seq("c1"))

    // round-trip manifest
    val r = cm.readManifest("c1")
    assert(r === m)

    val hits = cm.search("c1", "vector search", maxDocs = 2).collect()
    assert(hits.nonEmpty)
    assert(hits.map(_.getString(0)).contains("d1") || hits.map(_.getString(0)).contains("d3"))

    // metadata filter narrows to the OPS space
    val ops = cm.search("c1", "deploy", metadataFilter = Some("""space = "OPS"""")).collect()
    assert(ops.map(_.getString(0)).toSet === Set("d2"))
  }

  test("embedder identity guard: mismatched embedder fails loudly at search") {
    val tmp = Files.createTempDirectory("graft-coll").toString
    val cm16 = mkManager(tmp)
    cm16.create("ce", rawDocs(docsV1))
    assert(cm16.readManifest("ce").embedder === "hashing-16-42")
    assert(cm16.search("ce", "vector search").collect().nonEmpty)

    val cm32 = new CollectionManager(spark, tmp,
      new HashingEmbedder(dim = 32), new TextSplitter(50, 10))
    val e = intercept[IllegalArgumentException](cm32.search("ce", "vector search"))
    assert(e.getMessage.contains("hashing-16-42") && e.getMessage.contains("hashing-32-42"))
  }

  test("manifest stores reader details for name-only update") {
    val tmp = Files.createTempDirectory("graft-coll").toString
    val cm = mkManager(tmp)
    val details = Map("type" -> "localFiles", "basePath" -> "/data/docs",
      "includePatterns" -> ".*\\.md\t.*\\.txt", "excludePatterns" -> "")
    cm.create("cr", rawDocs(docsV1), readerDetails = details)
    val m = cm.readManifest("cr")
    assert(m.reader === details)
    // update preserves the reader details through old.copy
    val updated = cm.update("cr", rawDocs(docsV1.take(1)))
    assert(updated.reader === details)
    assert(cm.readManifest("cr").reader === details)
  }

  test("index selection: subset search, ivf discovery, unknown name errors") {
    val tmp = Files.createTempDirectory("graft-coll").toString
    val cm = mkManager(tmp)
    cm.create("cx", rawDocs(docsV1))

    // bm25-only and vector-only searches both stand alone
    val bm = cm.search("cx", "deploy script", indexNames = Some(Seq("bm25"))).collect()
    assert(bm.map(_.getString(0)).contains("d2"))
    val vec = cm.search("cx", "vector search",
      indexNames = Some(Seq("vector_exact_l2"))).collect()
    assert(vec.nonEmpty)

    // unknown index name fails with the available list
    val e = intercept[IllegalArgumentException](
      cm.search("cx", "q", indexNames = Some(Seq("hnsw"))))
    assert(e.getMessage.contains("hnsw") && e.getMessage.contains("bm25"))

    // ivf joins the registry once built, and is then selectable
    cm.buildIvfIndex("cx", nLists = 2, nProbe = 2)
    val ivf = cm.search("cx", "vector search",
      indexNames = Some(Seq("vector_ivf"))).collect()
    assert(ivf.nonEmpty)

    // rrfK flows through multi-index fusion
    val fused = cm.search("cx", "vector search", rrfK = 1).collect()
    assert(fused.nonEmpty)
  }

  test("fetch line-range slice") {
    val tmp = Files.createTempDirectory("graft-coll").toString
    val cm = mkManager(tmp)
    cm.create("c2", rawDocs(docsV1))
    val row = cm.fetch("c2", "d1", startLine = 2, endLine = 3).head()
    assert(row.getAs[Int]("totalLines") === 3)
    assert(row.getAs[String]("content") === "with vector search\nand bm25 ranking")
    assert(row.getAs[Int]("endLine") === 3)
  }

  test("update refreshes a built IVF index: no stale chunks, replacements probed") {
    val tmp = Files.createTempDirectory("graft-coll").toString
    val cm = mkManager(tmp)
    cm.create("c5", rawDocs(docsV1))
    cm.buildIvfIndex("c5", nLists = 2, nProbe = 2)

    val changed = rawDocs(Seq(
      ("d2", "file://d2", Map("space" -> "OPS", "lastModifiedAt" -> "2026-02-01T00:00:00"),
        "rewritten deployment instructions\nnow with containers")))
    cm.update("c5", changed)

    // the LOGICAL IVF assignment (tombstones applied) must mirror the merged
    // chunks table exactly; the physical dirs may retain tombstoned rows
    // until compaction — that history must never serve
    val ivf = cm.ivfIndex("c5").get
    val assigned = ivf.assignedTable()
    val chunks = cm.chunks("c5")
    assert(assigned.count() === chunks.count())
    assert(ivf.size === chunks.count()) // footer-count path agrees
    assert(assigned.join(chunks.select("chunkId"), Seq("chunkId"), "left_anti")
      .count() === 0, "ivf index serves chunk ids absent from the chunks table")
    // compaction folds the tombstones physically; the view is unchanged
    ivf.compact()
    assert(ivf.tailBytes === 0L)
    assert(spark.read.parquet(s"$tmp/c5/indexes/ivf/assigned")
      .join(chunks.select("chunkId"), Seq("chunkId"), "left_anti").count() === 0)
    // and IVF search reflects the replacement text, not the deleted one
    val hits = cm.search("c5", "containers deployment",
      indexNames = Some(Seq("vector_ivf")), includeText = true).collect()
    assert(hits.nonEmpty)
  }

  test("update with a mismatched embedder fails loudly before any write") {
    val tmp = Files.createTempDirectory("graft-coll").toString
    mkManager(tmp).create("c7", rawDocs(docsV1))
    val otherCm = new CollectionManager(
      spark, tmp, new HashingEmbedder(dim = 32), new TextSplitter(50, 10))
    val before = spark.read.parquet(s"$tmp/c7/chunks").count()
    val e = intercept[IllegalArgumentException](
      otherCm.update("c7", rawDocs(docsV1.take(1))))
    assert(e.getMessage.contains("embedded with"))
    assert(spark.read.parquet(s"$tmp/c7/chunks").count() === before) // untouched
  }

  test("delete by id: docs, chunks, and indexes all drop the documents") {
    val tmp = Files.createTempDirectory("graft-coll").toString
    val cm = mkManager(tmp)
    val m1 = cm.create("c6", rawDocs(docsV1))
    cm.buildIvfIndex("c6", nLists = 2, nProbe = 2)

    val m2 = cm.delete("c6", Seq("d2", "nonexistent"))
    assert(m2.numberOfDocuments === 2)
    assert(cm.documents("c6").filter(col("id") === "d2").count() === 0)
    assert(cm.chunks("c6").filter(col("documentId") === "d2").count() === 0)
    // high-water mark survives the delete: later additions never reuse ids
    assert(m2.lastIndexItemId === m1.lastIndexItemId)
    // every index stopped serving the deleted doc (logical view: the
    // delete appended IVF tombstones instead of rewriting the lists)
    val assigned = cm.ivfIndex("c6").get.assignedTable()
    assert(assigned.join(cm.chunks("c6").select("chunkId"), Seq("chunkId"), "left_anti")
      .count() === 0)
    assert(cm.ivfIndex("c6").get.size === cm.chunks("c6").count())
    assert(cm.search("c6", "deploy script")
      .collect().forall(_.getString(0) != "d2"))
  }

  test("delete appends no BM25 postings segment: the tail grows by its three stat files") {
    val tmp = Files.createTempDirectory("graft-coll").toString
    val cm = mkManager(tmp)
    cm.create("c8", rawDocs(docsV1))
    cm.update("c8", rawDocs(Seq(("d2", "file://d2",
      Map("space" -> "OPS", "lastModifiedAt" -> "2026-02-01T00:00:00"), "deploy guide rewritten"))))
    def files(sub: String): Int = Option(new java.io.File(s"$tmp/c8/indexes/bm25/$sub")
      .listFiles()).toSeq.flatten.count(_.getName.endsWith(".parquet"))
    val (postingsBefore, tailBefore) = (files("postings_delta"), cm.bm25TailSegments("c8"))
    assert(postingsBefore === 1)

    cm.delete("c8", Seq("d1"))
    // tombstones, termDf delta and corpus delta: one file each, no empty postings delta
    assert(files("postings_delta") === postingsBefore)
    assert(cm.bm25TailSegments("c8") === tailBefore + 3)
    assert(cm.search("c8", "spark query engine", indexNames = Some(Seq("bm25")))
      .collect().forall(_.getString(0) != "d1"))
  }

  test("incremental update: anti-join replace + id high-water mark") {
    val tmp = Files.createTempDirectory("graft-coll").toString
    val cm = mkManager(tmp)
    val m1 = cm.create("c3", rawDocs(docsV1))

    val changed = rawDocs(Seq(
      ("d2", "file://d2", Map("space" -> "OPS", "lastModifiedAt" -> "2026-02-01T00:00:00"),
        "rewritten deployment instructions\nnow with containers"),
      ("d4", "file://d4", Map("space" -> "ENG", "lastModifiedAt" -> "2026-02-02T00:00:00"),
        "brand new doc about stream processing")))
    val m2 = cm.update("c3", changed)

    assert(m2.numberOfDocuments === 4)
    assert(m2.lastModifiedDocumentTime === "2026-02-02T00:00:00")

    // old d2 chunks replaced; new ids all continue past the old high-water mark
    val chunks = cm.chunks("c3")
    val d2Ids = chunks.filter(col("documentId") === "d2")
      .select("chunkId").collect().map(_.getLong(0))
    assert(d2Ids.forall(_ > m1.lastIndexItemId))
    val d4Ids = chunks.filter(col("documentId") === "d4")
      .select("chunkId").collect().map(_.getLong(0))
    assert(d4Ids.nonEmpty && d4Ids.forall(_ > m1.lastIndexItemId))
    assert(m2.lastIndexItemId > m1.lastIndexItemId)
    // no duplicate chunk ids
    assert(chunks.select("chunkId").distinct().count() === chunks.count())
    // d2's old text is gone from the index
    assert(chunks.filter(col("indexedData").contains("ops team")).count() === 0)

    // search sees the new content
    val hits = cm.search("c3", "stream processing").collect()
    assert(hits.map(_.getString(0)).contains("d4"))
  }

  test("fsck: green on a healthy collection, pinpoints planted corruption") {
    val tmp = Files.createTempDirectory("graft-fsck").toString
    val cm = mkManager(tmp)
    cm.create("fc", rawDocs(docsV1))
    cm.buildIvfIndex("fc", nLists = 2, nProbe = 2)
    cm.buildPhraseIndex("fc")

    val healthy = cm.fsck("fc").collect()
    assert(healthy.nonEmpty && healthy.forall(_.getAs[Boolean]("ok")),
      s"healthy collection must pass every check:\n${healthy.mkString("\n")}")
    val checks = healthy.map(_.getAs[String]("check")).toSet
    assert(checks.contains("bm25_stray_postings") &&
      checks.contains("positions_stray") &&
      checks.contains("ivf_size_matches_chunks"))

    // a positional row whose chunk id is not a live chunk (crash residue)
    // would serve phantom phrase hits — fsck must flag it
    val posDir = s"$tmp/fc/indexes/bm25/positions"
    spark.read.parquet(posDir).limit(1)
      .withColumn("docId", lit(99999999L))
      .write.mode("append").parquet(posDir)
    val posReport = cm.fsck("fc").collect()
      .map(r => r.getAs[String]("check") -> r.getAs[Boolean]("ok")).toMap
    assert(!posReport("positions_stray"))
    cm.buildPhraseIndex("fc") // rebuild heals
    assert(cm.fsck("fc").collect()
      .find(_.getAs[String]("check") == "positions_stray").get.getAs[Boolean]("ok"))

    // plant corruption: an orphan chunk row (documentId with no document)
    // with a duplicated chunkId, appended straight into the chunks table
    val chunksDir = s"$tmp/fc/chunks"
    val ghost = spark.read.parquet(chunksDir).limit(1)
      .withColumn("documentId", lit("ghost"))
    ghost.write.mode("append").parquet(chunksDir)

    val report = cm.fsck("fc").collect()
      .map(r => r.getAs[String]("check") -> r.getAs[Boolean]("ok")).toMap
    assert(!report("orphan_chunks"))
    assert(!report("duplicate_chunk_ids"))
    assert(!report("manifest_chunks"))
    assert(report("chunkless_documents")) // untouched dimension stays green

    // a document whose stored chunks array is non-empty but which has no
    // chunk rows (they were lost) is chunkless: fsck goes red
    val docsDir = s"$tmp/fc/documents"
    spark.read.parquet(docsDir).limit(1)
      .withColumn("id", lit("lost-chunks"))
      .write.mode("append").parquet(docsDir)
    val lost = cm.fsck("fc").collect()
      .map(r => r.getAs[String]("check") -> r.getAs[Boolean]("ok")).toMap
    assert(!lost("chunkless_documents"))

    // reindex rebuilds the derived indexes from the (corrupted) chunks table
    // and fsck's index-consistency checks go green again against it
    cm.reindex("fc")
    val after = cm.fsck("fc").collect()
      .map(r => r.getAs[String]("check") -> r.getAs[Boolean]("ok")).toMap
    assert(after("bm25_stray_postings") && after("ivf_size_matches_chunks"))
  }

  test("versioned sig store: O(batch) upsert/delete, argmax view, compaction, legacy migration") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-sigs").toString
    val cm = mkManager(tmp)
    cm.create("cs", rawDocs(docsV1))
    def view() = cm.minhashSigs("cs").get
      .select("ex_id", "sig0").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap

    // upsert: append d1+d2; re-append d1 with DIFFERENT text — the view keeps
    // the latest revision only, and nothing rewrote (append-only: file count
    // grows, no staging swap)
    cm.appendMinhashSigs("cs", Seq(
      ("d1", "original text for doc one"), ("d2", "text for doc two"))
      .toDF("id", "text"))
    val v1 = view()
    cm.appendMinhashSigs("cs", Seq(
      ("d1", "completely different rewritten content here"))
      .toDF("id", "text"))
    val v2 = view()
    assert(v2.keySet === Set("d1", "d2"))
    assert(v2("d2") === v1("d2"))
    assert(v2("d1") !== v1("d1")) // superseded, not duplicated
    // physically both revisions exist until compaction
    assert(spark.read.parquet(s"$tmp/cs/indexes/minhash_sigs")
      .filter(col("ex_id") === "d1").count() === 2)

    // delete appends a tombstone: the id leaves the view, history remains
    cm.delete("cs", Seq("d1"))
    assert(view().keySet === Set("d2"))

    // re-ingesting d1-like content later is NOT blocked by the tombstone
    cm.appendMinhashSigs("cs", Seq(("d1", "third life of doc one"))
      .toDF("id", "text"))
    assert(view().keySet === Set("d1", "d2"))

    // compaction folds to one live row per id; the view is unchanged
    val before = view()
    cm.compactSigs("cs")
    assert(view() === before)
    val folded = spark.read.parquet(s"$tmp/cs/indexes/minhash_sigs")
    assert(folded.count() === 2)
    assert(folded.select("rev").distinct().collect().map(_.getLong(0)).toSeq === Seq(0L))

    // legacy migration: a pre-versioning table (no rev column) reads as-is
    // and upgrades in place on the first append
    val legacyDir = s"$tmp/cl/indexes/minhash_sigs"
    graft.operators.Dedup.minhashSignatures(
        Seq(("x1", "legacy doc text")).toDF("id", "text"), "id", "text")
      .withColumnRenamed("id", "ex_id")
      .write.parquet(legacyDir)
    cm.writeManifest(cm.readManifest("cs").copy(collectionName = "cl"), "cl")
    assert(cm.minhashSigs("cl").get.select("ex_id").collect()
      .map(_.getString(0)).toSeq === Seq("x1"))
    cm.appendMinhashSigs("cl", Seq(("x2", "new doc text")).toDF("id", "text"))
    val migrated = spark.read.parquet(legacyDir)
    assert(migrated.columns.contains("rev"))
    assert(cm.minhashSigs("cl").get.select("ex_id").collect()
      .map(_.getString(0)).sorted.toSeq === Seq("x1", "x2"))
    assert(cm.sigHistoryBytes("cl") > 0L)
  }

  test("nextSigRev is a footer-stats read — zero Spark jobs per gated tick") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-sigrev").toString
    val cm = mkManager(tmp)
    cm.create("sr", rawDocs(docsV1))
    cm.appendMinhashSigs("sr", Seq(("d1", "first text")).toDF("id", "text"))
    cm.appendMinhashSigs("sr", Seq(("d2", "second text")).toDF("id", "text"))

    // the rev counter a streaming batch pays on EVERY gated tick: must be
    // a metadata read (footer max), never an O(history) scan job
    val jobs = JobMeter.measure(spark)(assert(cm.nextSigRev("sr") === 2L)).jobs
    assert(jobs === 0, s"nextSigRev must not schedule Spark jobs; saw $jobs")
  }

  // ------------------------------------------------------- bucketed layout

  /** (relative path → (length, mtime)) of every data file under `root` —
    * the byte-identity fingerprint the partial-rewrite assertions compare.
    */
  private def fileStamps(root: String): Map[String, (Long, Long)] = {
    val base = java.nio.file.Paths.get(root)
    val out = scala.collection.mutable.Map.empty[String, (Long, Long)]
    java.nio.file.Files.walk(base).forEach { p =>
      val f = p.toFile
      if (f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
        out(base.relativize(p).toString) = (f.length(), f.lastModified())
    }
    out.toMap
  }

  test("bucketed layout: update rewrites ONLY dirty buckets, results match flat") {
    val tmp = Files.createTempDirectory("graft-bucketed").toString
    val cm = mkManager(tmp)
    val mB = cm.create("cb", rawDocs(docsV1), nBuckets = 8)
    val mF = cm.create("cf", rawDocs(docsV1)) // flat twin for equivalence
    assert(mB.bucketCount === 8 && mF.bucketCount === 0)
    assert(cm.readManifest("cb").bucketCount === 8)
    // the layout is invisible to consumers: same schema, same search results
    assert(cm.chunks("cb").columns.toSeq === cm.chunks("cf").columns.toSeq)
    assert(cm.documents("cb").columns.toSeq === cm.documents("cf").columns.toSeq)

    val before = (fileStamps(s"$tmp/cb/documents"), fileStamps(s"$tmp/cb/chunks"))

    val changed = rawDocs(Seq(
      ("d2", "file://d2", Map("space" -> "OPS", "lastModifiedAt" -> "2026-02-01T00:00:00"),
        "rewritten deployment instructions\nnow with containers")))
    val m2B = cm.update("cb", changed)
    val m2F = cm.update("cf", changed)

    // ---- the partial-rewrite guarantee: every bucket dir NOT containing d2
    // is byte-identical (same files, same length, same mtime) after the update
    val dirtyDoc = cm.documents("cb")
      .filter(col("id") === "d2")
    assert(dirtyDoc.count() === 1)
    def dirtyBucketsOf(stamps: Map[String, (Long, Long)],
                       after: Map[String, (Long, Long)]): Set[String] = {
      def bucketDir(rel: String) = rel.split("/").head
      val touched = (stamps.keySet ++ after.keySet)
        .filter(rel => stamps.get(rel) != after.get(rel))
      touched.map(bucketDir)
    }
    val afterStamps = (fileStamps(s"$tmp/cb/documents"), fileStamps(s"$tmp/cb/chunks"))
    val docsTouched = dirtyBucketsOf(before._1, afterStamps._1)
    val chunksTouched = dirtyBucketsOf(before._2, afterStamps._2)
    // exactly ONE doc changed → at most one bucket rewritten per table, and
    // ≥ (N-1)/N of the bucket dirs byte-identical
    assert(docsTouched.size <= 1, s"docs buckets touched: $docsTouched")
    assert(chunksTouched.size <= 1, s"chunks buckets touched: $chunksTouched")
    assert(docsTouched.forall(_.startsWith("bucket=")))

    // ---- equivalence with the flat layout: same docs, same chunks (modulo
    // physical order), same manifest counters, same search results
    assert(m2B.numberOfDocuments === m2F.numberOfDocuments)
    assert(m2B.numberOfChunks === m2F.numberOfChunks)
    assert(m2B.lastIndexItemId === m2F.lastIndexItemId)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("documentId", "chunkNumber", "indexedData")
        .collect().map(_.toString).sorted.toSeq
    assert(canon(cm.chunks("cb")) === canon(cm.chunks("cf")))
    val hitsB = cm.search("cb", "containers").collect().map(_.getString(0)).toSeq
    val hitsF = cm.search("cf", "containers").collect().map(_.getString(0)).toSeq
    assert(hitsB === hitsF && hitsB.contains("d2"))

    // fsck green, including the misbucketed checks
    val report = cm.fsck("cb").collect()
    assert(report.forall(_.getAs[Boolean]("ok")),
      s"bucketed fsck:\n${report.mkString("\n")}")
    assert(report.map(_.getAs[String]("check")).toSet
      .contains("misbucketed_documents"))
  }

  test("flat and bucketed layouts agree across update → delete → empty-chunks update") {
    val tmp = Files.createTempDirectory("graft-layouts").toString
    val cm = mkManager(tmp)
    val docs = rawDocs(docsV1 ++ Seq(
      ("d5", "file://d5", Map("space" -> "OPS", "lastModifiedAt" -> "2026-01-04T00:00:00"),
        "incident review\nrollback of the deploy\nroot cause notes"),
      ("d6", "file://d6", Map("space" -> "ENG", "lastModifiedAt" -> "2026-01-05T00:00:00"),
        "bm25 scoring and query parsing in the search engine")))
    val layouts = Seq("lf" -> 0, "lb" -> 4)
    layouts.foreach { case (n, buckets) => cm.create(n, docs, nBuckets = buckets) }
    def fsckRed(n: String): Set[String] = cm.fsck(n).collect()
      .filterNot(_.getAs[Boolean]("ok")).map(_.getAs[String]("check")).toSet

    // replace d2, add d4
    val changed = rawDocs(Seq(
      ("d2", "file://d2", Map("space" -> "OPS", "lastModifiedAt" -> "2026-02-01T00:00:00"),
        "rewritten deployment instructions\nnow with containers"),
      ("d4", "file://d4", Map("space" -> "ENG", "lastModifiedAt" -> "2026-02-02T00:00:00"),
        "brand new doc about stream processing")))
    layouts.foreach { case (n, _) => cm.update(n, changed) }
    layouts.foreach { case (n, _) => assert(fsckRed(n).isEmpty, s"$n after update") }
    // two ids, one of them unknown
    layouts.foreach { case (n, _) => cm.delete(n, Seq("d1", "no-such-doc")) }
    layouts.foreach { case (n, _) => assert(fsckRed(n).isEmpty, s"$n after delete") }
    // one doc with an explicitly empty chunks array: its chunks leave, the doc stays
    val emptied = rawDocs(Seq(
      ("d5", "file://d5", Map("space" -> "OPS", "lastModifiedAt" -> "2026-02-03T00:00:00"),
        "incident review emptied")))
      .withColumn("chunks", array().cast(
        "array<struct<indexedData:string,metadata:map<string,string>>>"))
    layouts.foreach { case (n, _) => cm.update(n, emptied) }

    def sorted(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    def state(n: String) = {
      val bm25 = new graft.operators.Bm25Indexer(
        spark, s"$tmp/$n/indexes/bm25", s"$tmp/$n/chunks")
      val m = cm.readManifest(n)
      Seq(
        sorted(cm.documents(n)),
        sorted(cm.chunks(n).select("documentId", "chunkNumber", "indexedData")),
        sorted(bm25.postingsTable()
          .join(cm.chunks(n).select(col("chunkId").as("docId"),
            col("documentId"), col("chunkNumber")), Seq("docId"))
          .select("documentId", "chunkNumber", "term", "tf")),
        sorted(bm25.termDfTable().select("term", "df")),
        Seq(m.numberOfDocuments, m.numberOfChunks, m.lastIndexItemId,
          m.lastModifiedDocumentTime).map(_.toString))
    }
    val Seq(flat, bucketed) = layouts.map { case (n, _) => state(n) }
    Seq("documents", "chunks", "postings", "termDf", "manifest").zipWithIndex
      .foreach { case (what, i) => assert(flat(i) === bucketed(i), what) }
    assert(cm.readManifest("lf").numberOfDocuments === 5) // d1 gone, d4 added
    assert(cm.chunks("lf").filter(col("documentId") === "d5").count() === 0)
    // a doc stored with an empty chunks array is not chunkless: fsck stays green
    layouts.foreach { case (n, _) => assert(fsckRed(n).isEmpty, s"$n after emptying") }
  }

  test("bucketed layout: delete rewrites only dirty buckets; HWM survives") {
    val tmp = Files.createTempDirectory("graft-bucketed-del").toString
    val cm = mkManager(tmp)
    val m1 = cm.create("cd", rawDocs(docsV1), nBuckets = 8)
    val before = fileStamps(s"$tmp/cd/chunks")

    val m2 = cm.delete("cd", Seq("d1"))
    assert(m2.numberOfDocuments === 2)
    assert(cm.documents("cd").filter(col("id") === "d1").count() === 0)
    assert(cm.chunks("cd").filter(col("documentId") === "d1").count() === 0)
    assert(m2.lastIndexItemId === m1.lastIndexItemId) // HWM never recedes

    val after = fileStamps(s"$tmp/cd/chunks")
    val touched = (before.keySet ++ after.keySet)
      .filter(rel => before.get(rel) != after.get(rel))
      .map(_.split("/").head)
    assert(touched.size <= 1, s"chunks buckets touched by delete: $touched")

    // BM25 followed: deleted doc's terms no longer reachable, survivors are
    val gone = cm.search("cd", "bm25 ranking", indexNames = Some(Seq("bm25"))).collect()
    assert(!gone.map(_.getString(0)).contains("d1"))
    val still = cm.search("cd", "deploy script", indexNames = Some(Seq("bm25"))).collect()
    assert(still.map(_.getString(0)).contains("d2"))
    assert(cm.fsck("cd").collect().forall(_.getAs[Boolean]("ok")))
  }

  test("bucketed layout: crash residue is hidden+inert; fsck flags visible strays") {
    val tmp = Files.createTempDirectory("graft-bucketed-res").toString
    val cm = mkManager(tmp)
    cm.create("cr", rawDocs(docsV1), nBuckets = 4)
    val chunksRoot = s"$tmp/cr/chunks"
    val nChunks = cm.chunks("cr").count()
    val aBucket = new java.io.File(chunksRoot).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("bucket="))
      .head.toPath

    val conf = spark.sparkContext.hadoopConfiguration
    val fs = org.apache.hadoop.fs.FileSystem.get(conf)
    def plant(name: String): Unit = org.apache.hadoop.fs.FileUtil.copy(
      fs, new org.apache.hadoop.fs.Path(aBucket.toString), fs,
      new org.apache.hadoop.fs.Path(s"$chunksRoot/$name"), false, conf)

    // a swap that crashed mid-rename leaves a DOT-PREFIXED backup — invisible
    // to partition discovery, row counts, and fsck (inert residue)
    plant(".bucket=0__old")
    assert(cm.chunks("cr").count() === nChunks,
      "hidden residue must not be re-read as rows")
    assert(cm.fsck("cr").collect().forall(_.getAs[Boolean]("ok")))

    // a VISIBLE stray dir (pre-hidden-backup residue, operator error) is the
    // dangerous state: discovery types `bucket` as string, rows duplicate,
    // dirty-bucket pruning dodges them — fsck must say so
    plant("bucket=0__old")
    val report = cm.fsck("cr").collect()
      .map(r => r.getAs[String]("check") -> r.getAs[Boolean]("ok")).toMap
    assert(report("malformed_bucket_children_chunks") === false,
      s"visible stray must be flagged, report: $report")
    fs.delete(new org.apache.hadoop.fs.Path(s"$chunksRoot/bucket=0__old"), true)
    assert(cm.fsck("cr").collect().forall(_.getAs[Boolean]("ok")))
  }

  test("manifest counters come from parquet footers: scan-exact, zero Spark jobs") {
    val tmpF = Files.createTempDirectory("graft-mstats-f").toString
    val tmpB = Files.createTempDirectory("graft-mstats-b").toString
    val cmF = mkManager(tmpF); val cmB = mkManager(tmpB)
    cmF.create("ms", rawDocs(docsV1))
    cmB.create("ms", rawDocs(docsV1), nBuckets = 4)

    for (cm <- Seq(cmF, cmB)) {
      // footer answers == the scan truth the old implementation computed
      val truth = cm.chunks("ms")
        .agg(count("*"), coalesce(max("chunkId"), lit(-1L)),
             countDistinct("documentId")).head()
      val (nChunks, maxId, nDocs) = cm.manifestStats("ms")
      assert(nChunks === truth.getLong(0))
      assert(maxId === truth.getLong(1))
      assert(nDocs === truth.getLong(2))
    }

    // zero jobs: the refresh that runs after EVERY update/delete tick must be
    // a metadata read, not an O(corpus) scan (the A3 listener proof)
    val jobs = JobMeter.measure(spark) { cmF.manifestStats("ms"); cmB.manifestStats("ms") }.jobs
    assert(jobs === 0, s"manifestStats must not schedule Spark jobs; saw $jobs")
  }

  test("chunk-id HWM survives an update that removes the top ids without adding any") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-hwm").toString
    val cm = mkManager(tmp)
    val m1 = cm.create("hw", rawDocs(docsV1))
    assert(m1.lastIndexItemId >= 0)

    // replace EVERY doc with an explicitly-empty chunks array: the chunks
    // table empties, but the ids that existed must stay burned — a receding
    // HWM would hand them to the next update (history-unique ids broken)
    val emptied = docsV1.map { case (id, url, meta, text) => (id, url, meta, text) }
      .toDF("id", "url", "metadata", "text")
      .withColumn("chunks", array().cast(
        "array<struct<indexedData:string,metadata:map<string,string>>>"))
    val m2 = cm.update("hw", emptied)
    assert(m2.numberOfChunks === 0)
    assert(m2.numberOfDocuments === 3)
    assert(m2.lastIndexItemId === m1.lastIndexItemId)

    // the next real update continues PAST the preserved mark
    val m3 = cm.update("hw", rawDocs(Seq(docsV1.head)))
    val ids = cm.chunks("hw").select("chunkId").collect().map(_.getLong(0))
    assert(ids.nonEmpty && ids.forall(_ > m1.lastIndexItemId))
    assert(m3.lastIndexItemId === ids.max)
  }

  test("document watermark is a monotone cursor: a backdated replacement never rewinds it") {
    val tmp = Files.createTempDirectory("graft-wm").toString
    val cm = mkManager(tmp)
    val m1 = cm.create("wm", rawDocs(docsV1))
    assert(m1.lastModifiedDocumentTime === "2026-01-03T00:00:00")

    // replace the doc that HELD the max with an older timestamp: everything up
    // to the old mark has already been fetched, so the incremental-read cursor
    // must hold (a rewind would re-fetch the whole window on the next sync)
    val backdated = rawDocs(Seq(
      ("d3", "file://d3", Map("space" -> "ENG", "lastModifiedAt" -> "2025-12-01T00:00:00"),
        "restored older revision of the similarity notes")))
    val m2 = cm.update("wm", backdated)
    assert(m2.lastModifiedDocumentTime === "2026-01-03T00:00:00")

    // and a genuinely newer arrival advances it
    val newer = rawDocs(Seq(
      ("d4", "file://d4", Map("space" -> "ENG", "lastModifiedAt" -> "2026-03-01T00:00:00"),
        "fresh doc past the old watermark")))
    assert(cm.update("wm", newer).lastModifiedDocumentTime === "2026-03-01T00:00:00")
  }
}
