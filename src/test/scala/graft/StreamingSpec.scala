package graft

import graft.core.CollectionManager
import graft.functions.{HashingEmbedder, TextSplitter}
import graft.streaming.StreamingUpdate
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import java.sql.Timestamp

class StreamingSpec extends AnyFunSuite with SparkSuite {

  test("streaming collection update merges each micro-batch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val tmp = Files.createTempDirectory("graft-stream").toString
    val cm = new CollectionManager(spark, s"$tmp/coll",
      new HashingEmbedder(dim = 16), new TextSplitter(50, 10))

    val stream = MemoryStream[(String, String, String)]
    val docs = stream.toDF().toDF("id", "url", "text")
      .withColumn("metadata", map(lit("source"), lit("stream")))
      .select("id", "url", "metadata", "text")

    stream.addData(("s1", "u1", "first streaming document about spark"))
    val q1 = StreamingUpdate.collectionUpdateWriter(docs, cm, "live", s"$tmp/ckpt").start()
    q1.awaitTermination(60000)
    assert(cm.readManifest("live").numberOfDocuments === 1)

    stream.addData(
      ("s2", "u2", "second document about vector search"),
      ("s1", "u1", "first document rewritten entirely"))
    // compactTailBytes = 0: every batch's BM25 delta/tombstone tail folds
    // back immediately — the long-running-watcher bound, exercised per batch
    val q2 = StreamingUpdate.collectionUpdateWriter(docs, cm, "live", s"$tmp/ckpt",
      compactTailBytes = 0L).start()
    q2.awaitTermination(60000)

    val m = cm.readManifest("live")
    assert(m.numberOfDocuments === 2) // s1 replaced, s2 added
    assert(cm.chunks("live").filter(col("indexedData").contains("rewritten")).count() > 0)
    assert(cm.chunks("live").filter(col("indexedData").contains("about spark")).count() === 0)
    // the tail compacted: no delta/tombstone dirs survive the batch, and the
    // folded index still serves the replacement content
    assert(cm.bm25TailBytes("live") === 0L)
    assert(!new java.io.File(s"$tmp/coll/live/indexes/bm25/postings_delta").exists)
    val hits = cm.search("live", "rewritten", indexNames = Some(Seq("bm25"))).collect()
    assert(hits.map(_.getString(0)).contains("s1"))
  }

  test("segment-count fold trigger fires when tiny ticks stay under the byte budget") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the round-11 creep vector: per-tick deltas are tiny in BYTES, so an
    // infinite byte budget never folds — the FILE count must trigger instead
    def run(segBudget: Long): Long = {
      val tmp = Files.createTempDirectory("graft-segfold").toString
      val cm = new CollectionManager(spark, s"$tmp/coll",
        new HashingEmbedder(dim = 16), new TextSplitter(50, 10))
      val stream = MemoryStream[(String, String, String)]
      val docs = stream.toDF().toDF("id", "url", "text")
        .withColumn("metadata", map(lit("source"), lit("stream")))
        .select("id", "url", "metadata", "text")
      def tick(rows: (String, String, String)*): Unit = {
        stream.addData(rows: _*)
        val q = StreamingUpdate.collectionUpdateWriter(docs, cm, "seg", s"$tmp/ckpt",
          compactTailBytes = Long.MaxValue, compactTailSegments = segBudget).start()
        q.awaitTermination(60000)
      }
      tick(("d1", "u1", "alpha document about spark shuffles"))
      tick(("d1", "u1", "alpha document rewritten with partitions"),
           ("d2", "u2", "beta document about broadcast joins"))
      tick(("d2", "u2", "beta document rewritten about salting"))
      // whatever the layout, the index still serves the latest content
      val hits = cm.search("seg", "salting", indexNames = Some(Seq("bm25")))
        .collect().map(_.getString(0))
      assert(hits.contains("d2"))
      cm.bm25TailSegments("seg")
    }
    val unbounded = run(Long.MaxValue)
    assert(unbounded > 2L,
      s"control: with both budgets infinite the tail must accumulate, got $unbounded")
    val bounded = run(2L)
    assert(bounded <= 2L,
      s"segment budget 2 must have folded the tail, got $bounded files")
  }

  test("drift-evidenced IVF retrain fires mid-stream and resets the signal (asserted e2e)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tmp = Files.createTempDirectory("graft-retrain").toString
    val cm = new CollectionManager(spark, s"$tmp/coll",
      new HashingEmbedder(dim = 16), new TextSplitter(50, 10))
    val stream = MemoryStream[(String, String, String)]
    val docs = stream.toDF().toDF("id", "url", "text")
      .withColumn("metadata", map(lit("source"), lit("stream")))
      .select("id", "url", "metadata", "text")
    def tick(rows: (String, String, String)*): Unit = {
      stream.addData(rows: _*)
      val q = StreamingUpdate.collectionUpdateWriter(docs, cm, "r", s"$tmp/ckpt",
        retrainIvfDriftAbove = 0.06).start()
      q.awaitTermination(60000)
    }
    tick(("a1", "u1", "alpha notes on shuffle hash exchange"),
         ("a2", "u2", "beta pages about quantization codebooks"),
         ("a3", "u3", "gamma story of postings compression"),
         ("a4", "u4", "delta words on watermark semantics"))
    cm.buildIvfIndex("r", nLists = 2, nProbe = 2)
    val statsFile = {
      val d = new java.io.File(s"$tmp/coll/r/indexes/ivf/train_stats")
      d.listFiles().filter(_.getName.endsWith(".parquet")).head.getAbsolutePath
    }
    def snapshot() = java.nio.file.Files
      .readAllBytes(java.nio.file.Paths.get(statsFile)).toSeq
    val trainedAt = snapshot()
    // a geometry-shifted burst: identical text under many ids → every vector
    // assigns to ONE frozen list, pushing the list-share TV distance past the
    // threshold inside the tick (the asymptote when the burst joins the
    // BIGGER list is 1 - that list's train share, so the threshold sits
    // below it) — the tick itself must then pay one fresh k-means
    // (retrainIvf is the ONLY writer of train_stats after the build, so a
    // snapshot change IS the proof it fired)
    tick((1 to 20).map(i =>
      (s"z$i", s"uz$i", "identical drifted payload torrent")): _*)
    val retrainedAt = {
      val d = new java.io.File(s"$tmp/coll/r/indexes/ivf/train_stats")
      java.nio.file.Files.readAllBytes(
        d.listFiles().filter(_.getName.endsWith(".parquet")).head.toPath).toSeq
    }
    assert(retrainedAt !== trainedAt,
      "the drift trigger must have re-trained (train_stats snapshot unchanged)")
    // the signal reset: the fresh snapshot matches the post-burst distribution
    val drift = cm.ivfDrift("r").get
    assert(drift < 0.06, s"post-retrain drift must read under the threshold: $drift")
    // and the refreshed IVF view is still EXACT at nProbe == nLists
    def ids(idx: String) = cm.search("r", "quantization codebooks",
      indexNames = Some(Seq(idx))).collect().map(_.getString(0)).toSeq
    assert(ids("vector_ivf") === ids("vector_exact_l2"))
  }

  test("streaming × bucketed: dirty-bucket ticks, per-bucket compaction, fsck green") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val tmp = Files.createTempDirectory("graft-stream-bkt").toString
    val cm = new CollectionManager(spark, s"$tmp/coll",
      new HashingEmbedder(dim = 16), new TextSplitter(50, 10))
    val stream = MemoryStream[(String, String, String)]
    val docs = stream.toDF().toDF("id", "url", "text")
      .withColumn("metadata", map(lit("source"), lit("stream")))
      .select("id", "url", "metadata", "text")
    def tick(): Unit = {
      val q = StreamingUpdate.collectionUpdateWriter(docs, cm, "bl", s"$tmp/ckpt",
        compactTailBytes = 0L, createBuckets = 4).start()
      q.awaitTermination(60000); ()
    }
    def stamps(root: String): Map[String, (Long, Long)] = {
      val base = java.nio.file.Paths.get(root)
      val out = scala.collection.mutable.Map.empty[String, (Long, Long)]
      java.nio.file.Files.walk(base).forEach { p =>
        val f = p.toFile
        if (f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
          out(base.relativize(p).toString) = (f.length, f.lastModified)
      }
      out.toMap
    }

    // tick 1: the collection is BORN bucketed from the stream
    stream.addData(
      ("b1", "u1", "alpha document about spark shuffles"),
      ("b2", "u2", "beta document about vector search"),
      ("b3", "u3", "gamma runbook for the deployment service"),
      ("b4", "u4", "delta notes on broadcast joins"))
    tick()
    assert(cm.readManifest("bl").bucketCount === 4)
    assert(cm.readManifest("bl").numberOfDocuments === 4)

    // tick 2: ONE doc replaced — buckets not holding it stay byte-identical
    val beforeDocs = stamps(s"$tmp/coll/bl/documents")
    val beforeChunks = stamps(s"$tmp/coll/bl/chunks")
    stream.addData(("b2", "u2", "beta document rewritten with containers"))
    tick()
    def touchedBuckets(before: Map[String, (Long, Long)], root: String): Set[String] =
      (before.keySet ++ stamps(root).keySet)
        .filter(rel => before.get(rel) != stamps(root).get(rel))
        .map(_.split("/").head)
    assert(touchedBuckets(beforeDocs, s"$tmp/coll/bl/documents").size <= 1)
    assert(touchedBuckets(beforeChunks, s"$tmp/coll/bl/chunks").size <= 1)

    // tick 3: an arrival + another replacement; the watcher has now done a
    // create and two dirty-bucket merges with per-batch BM25 tail folds
    stream.addData(
      ("b5", "u5", "epsilon addendum on salted aggregations"),
      ("b1", "u1", "alpha rewritten to cover partition pruning"))
    tick()
    val m = cm.readManifest("bl")
    assert(m.numberOfDocuments === 5)
    assert(cm.bm25TailBytes("bl") === 0L) // compactTailBytes=0 folds per tick
    val hits = cm.search("bl", "containers", indexNames = Some(Seq("bm25"))).collect()
    assert(hits.map(_.getString(0)).contains("b2"))
    assert(cm.chunks("bl").filter(col("indexedData").contains("about spark")).count() === 0)
    assert(cm.fsck("bl").collect().forall(_.getAs[Boolean]("ok")),
      s"fsck after 3 ticks:\n${cm.fsck("bl").collect().mkString("\n")}")

    // table maintenance through the CLI auto-route: a bucketed root goes
    // through compactPartitioned (min-avg forced high so every dir rewrites),
    // the bucket layout survives, and the collection still checks out
    graft.api.Cli.run(Array("compact", "--path", s"$tmp/coll/bl/chunks",
      "--target-mb", "256", "--min-avg-mb", "256"), spark)
    val bucketDirs = new java.io.File(s"$tmp/coll/bl/chunks").listFiles()
      .filter(_.isDirectory).map(_.getName).filterNot(n => n.startsWith("_") || n.startsWith("."))
    assert(bucketDirs.nonEmpty && bucketDirs.forall(_.matches("bucket=\\d+")),
      s"bucket dirs after compaction: ${bucketDirs.mkString(",")}")
    // …and the flat compactor REFUSES the partitioned root (the route is
    // load-bearing, not cosmetic)
    intercept[IllegalArgumentException] {
      graft.operators.Maintenance.compact(spark, s"$tmp/coll/bl/chunks", 1L << 20, 1L << 20)
    }
    assert(cm.fsck("bl").collect().forall(_.getAs[Boolean]("ok")))
    val hits2 = cm.search("bl", "pruning", indexNames = Some(Seq("bm25"))).collect()
    assert(hits2.map(_.getString(0)).contains("b1"))
  }

  test("watch CLI e2e: files dropped into a dir appear in search; IVF appends per batch") {
    val tmp = Files.createTempDirectory("graft-watch")
    val dataDir = s"$tmp/collections"
    val inbox = Files.createDirectory(tmp.resolve("inbox"))
    def watch(extra: String*): Unit =
      graft.api.Cli.run(Array("watch", "--collection", "wc", "--path",
        inbox.toString, "--data-dir", dataDir, "--once",
        "--chunk-size", "60", "--chunk-overlap", "10") ++ extra, spark)

    // batch 1: two docs arrive, collection is created on first tick
    Files.writeString(inbox.resolve("a.md"), "# Spark guide\n\nbroadcast joins and shuffles")
    Files.writeString(inbox.resolve("b.txt"), "deployment runbook for the search service")
    watch()
    val cm = new CollectionManager(spark, dataDir,
      HashingEmbedder.default, new TextSplitter(60, 10))
    assert(cm.readManifest("wc").numberOfDocuments === 2)
    val hit1 = cm.search("wc", "broadcast joins", maxChunks = 6, maxDocs = 3)
    assert(hit1.collect().map(_.getAs[String]("documentId")).contains("a.md"))

    // build an IVF index over the current collection, then stream more files
    // with --ivf: the new vectors must APPEND into the partition dirs
    val ivf = cm.buildIvfIndex("wc", nLists = 2, nProbe = 2)
    val sizeBefore = ivf.size
    Files.writeString(inbox.resolve("c.txt"),
      "entirely new arrival about zeppelin notebooks and quarterly metrics")
    watch("--ivf")
    assert(cm.readManifest("wc").numberOfDocuments === 3)
    val ivfAfter = cm.ivfIndex("wc").get
    assert(ivfAfter.size > sizeBefore, "IVF index must grow by the appended batch")
    // the merge skipped its full reassignment (refreshIvf=false) and the
    // append indexed the batch exactly once — fsck's size check proves no
    // chunk was double-indexed
    val fsckIvf = cm.fsck("wc").collect()
      .map(r => r.getAs[String]("check") -> r.getAs[Boolean]("ok")).toMap
    assert(fsckIvf("ivf_size_matches_chunks"),
      "per-batch append must not double-index on top of the merge's refresh")
    // the appended doc is findable through the IVF index itself
    val hits = ivfAfter.search("zeppelin notebooks quarterly", 5, None)
      .join(cm.chunks("wc").select(col("chunkId"), col("documentId")), "chunkId")
      .collect().map(_.getAs[String]("documentId"))
    assert(hits.contains("c.txt"), s"expected c.txt via IVF probe, got ${hits.mkString(",")}")

    // checkpoint advances: re-ticking with no new files is a no-op
    val chunksNow = cm.readManifest("wc").numberOfChunks
    watch()
    assert(cm.readManifest("wc").numberOfChunks === chunksNow)
  }

  test("watch --dedup drops arriving near-dups against the persisted signatures") {
    val tmp = Files.createTempDirectory("graft-watch-dedup")
    val dataDir = s"$tmp/collections"
    val inbox = Files.createDirectory(tmp.resolve("inbox"))
    def watch(): Unit =
      graft.api.Cli.run(Array("watch", "--collection", "dd", "--path",
        inbox.toString, "--data-dir", dataDir, "--once", "--dedup",
        "--chunk-size", "60", "--chunk-overlap", "10"), spark)

    val body = "the quick brown fox jumps over the lazy dog near the river bank today"
    Files.writeString(inbox.resolve("orig.txt"), body)
    watch()
    val cm = new CollectionManager(spark, dataDir,
      HashingEmbedder.default, new TextSplitter(60, 10))
    assert(cm.readManifest("dd").numberOfDocuments === 1)
    assert(cm.minhashSigs("dd").get.count() === 1)

    // batch 2: a near-identical copy (one word changed) plus a distinct doc —
    // the copy must be dropped, the distinct doc indexed
    Files.writeString(inbox.resolve("copy.txt"),
      body.replace("today", "yesterday"))
    Files.writeString(inbox.resolve("fresh.txt"),
      "completely unrelated quarterly revenue figures for the planning meeting")
    watch()
    val ids = cm.documents("dd").select("id").collect().map(_.getString(0)).toSet
    assert(ids === Set("orig.txt", "fresh.txt"), s"got $ids")
    // only survivors extend the signature table
    assert(cm.minhashSigs("dd").get.count() === 2)

    // re-ticking with nothing new changes nothing
    watch()
    assert(cm.readManifest("dd").numberOfDocuments === 2)

    // self-match exclusion, operator level (the file stream source never
    // re-emits an overwritten path, so a replacement arrives via the batch
    // update path): a changed revision colliding ONLY with its own stale
    // signature must not be flagged — it must replace, not be blocked
    import spark.implicits._
    val changed = Seq(("orig.txt", body + " with a fresh closing sentence"))
      .toDF("id", "text")
    val flag = graft.operators.Dedup
      .incrementalNearDups(changed, cm.minhashSigs("dd").get, "id", "text")
      .collect().head
    assert(!flag.getAs[Boolean]("is_dup"),
      "a doc's own stale signature must not block its replacement")

    // delete prunes the deleted doc's signatures: similar content may return
    cm.delete("dd", Seq("fresh.txt"))
    assert(cm.minhashSigs("dd").get.collect().map(_.getAs[String]("ex_id")).toSeq
      === Seq("orig.txt"))
  }

  test("watch --dedup backfills signatures for a collection that predates them") {
    val tmp = Files.createTempDirectory("graft-watch-backfill")
    val dataDir = s"$tmp/collections"
    val seed = Files.createDirectory(tmp.resolve("seed"))
    val body = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    Files.writeString(seed.resolve("seed.txt"), body)
    graft.api.Cli.run(Array("create-files", "--collection", "bf",
      "--path", seed.toString, "--data-dir", dataDir,
      "--chunk-size", "60", "--chunk-overlap", "10"), spark)
    val cm = new CollectionManager(spark, dataDir,
      HashingEmbedder.default, new TextSplitter(60, 10))
    assert(cm.minhashSigs("bf").isEmpty, "batch create predates the sig table")

    // first --dedup tick: the existing corpus backfills, so a near-dup of
    // the PRE-EXISTING doc is caught even though no sig table existed
    val inbox = Files.createDirectory(tmp.resolve("inbox"))
    Files.writeString(inbox.resolve("dup.txt"), body.replace("mu", "nu"))
    Files.writeString(inbox.resolve("new.txt"),
      "totally different content about streaming backfill checks")
    graft.api.Cli.run(Array("watch", "--collection", "bf",
      "--path", inbox.toString, "--data-dir", dataDir, "--once", "--dedup",
      "--chunk-size", "60", "--chunk-overlap", "10"), spark)

    val ids = cm.documents("bf").select("id").collect().map(_.getString(0)).toSet
    assert(ids === Set("seed.txt", "new.txt"), s"got $ids")
    assert(cm.minhashSigs("bf").get.count() === 2) // backfilled seed + survivor
  }

  test("streaming update keeps the chunk-id sequence continuous across batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val tmp = Files.createTempDirectory("graft-stream-hwm").toString
    val cm = new CollectionManager(spark, s"$tmp/coll",
      new HashingEmbedder(dim = 16), new TextSplitter(50, 10))

    val stream = MemoryStream[(String, String, String)]
    val docs = stream.toDF().toDF("id", "url", "text")
      .withColumn("metadata", map(lit("source"), lit("stream")))
      .select("id", "url", "metadata", "text")

    // Batch 1 creates the collection.
    stream.addData(
      ("a", "ua", "alpha document with several words of text"),
      ("b", "ub", "beta document mentioning zeppelins"))
    StreamingUpdate.collectionUpdateWriter(docs, cm, "hwm", s"$tmp/ckpt")
      .start().awaitTermination(60000)
    val m1 = cm.readManifest("hwm")
    val ids1 = cm.chunks("hwm").select("chunkId").as[Long].collect().sorted
    assert(m1.lastIndexItemId === ids1.max) // manifest tracks the real high water

    // Batch 2 rewrites a and adds c through the SAME checkpoint lineage.
    stream.addData(
      ("a", "ua", "alpha rewritten completely, nothing shared"),
      ("c", "uc", "gamma document, brand new"))
    StreamingUpdate.collectionUpdateWriter(docs, cm, "hwm", s"$tmp/ckpt")
      .start().awaitTermination(60000)

    val m2 = cm.readManifest("hwm")
    val chunks2 = cm.chunks("hwm")
      .select(col("chunkId"), col("documentId")).as[(Long, String)].collect()
    val ids2 = chunks2.map(_._1).sorted
    // continuity: every batch-2 chunk id is strictly above batch-1's high water,
    // no id is ever reused, and the manifest advances to the new max
    assert(ids2.distinct.length === ids2.length)
    val newIds = chunks2.filter(c => c._2 == "a" || c._2 == "c").map(_._1)
    assert(newIds.nonEmpty && newIds.forall(_ > m1.lastIndexItemId))
    assert(m2.lastIndexItemId === ids2.max && m2.lastIndexItemId > m1.lastIndexItemId)
    // kept doc b retains its original ids
    val bIds = chunks2.filter(_._2 == "b").map(_._1)
    assert(bIds.forall(_ <= m1.lastIndexItemId))

    // and the collection still searches correctly after both batches
    val hits = cm.search("hwm", "alpha rewritten").collect()
    assert(hits.map(_.getAs[String]("documentId")).contains("a"))
    assert(cm.search("hwm", "zeppelins").collect()
      .map(_.getAs[String]("documentId")).contains("b"))
  }

  test("streaming update advances the manifest watermark per batch and never rewinds it") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val tmp = Files.createTempDirectory("graft-stream-wm").toString
    val cm = new CollectionManager(spark, s"$tmp/coll",
      new HashingEmbedder(dim = 16), new TextSplitter(50, 10))
    val stream = MemoryStream[(String, String, String, String)]
    val docs = stream.toDF().toDF("id", "url", "lastModifiedAt", "text")
      .withColumn("metadata", map(lit("lastModifiedAt"), col("lastModifiedAt")))
      .select("id", "url", "metadata", "text")
    def batch(rows: (String, String, String, String)*): String = {
      stream.addData(rows: _*)
      StreamingUpdate.collectionUpdateWriter(docs, cm, "wm", s"$tmp/ckpt")
        .start().awaitTermination(60000)
      cm.readManifest("wm").lastModifiedDocumentTime
    }

    // the first batch creates the collection; the next two update it through
    // foreachBatch, each moving the watermark to its own batch's max
    assert(batch(("a", "ua", "2026-01-01T00:00:00", "alpha document about spark")) ===
      "2026-01-01T00:00:00")
    assert(batch(
      ("b", "ub", "2026-02-01T00:00:00", "beta document about joins"),
      ("c", "uc", "2026-02-03T00:00:00", "gamma document about shuffles")) ===
      "2026-02-03T00:00:00")
    assert(batch(("a", "ua", "2026-03-05T00:00:00", "alpha rewritten about partitions")) ===
      "2026-03-05T00:00:00")
    // a backdated batch replaces a document but holds the cursor
    assert(batch(("b", "ub", "2025-06-01T00:00:00", "beta restored from an old backup")) ===
      "2026-03-05T00:00:00")
    assert(cm.readManifest("wm").numberOfDocuments === 3)
  }

  test("stream-static enrichment join broadcasts the dimension") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // static dimension — the classic enrichment shape: a streaming fact joins
    // a small static table; Spark plans it as a broadcast per micro-batch, so
    // the stream side never shuffles for the join
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val stream = MemoryStream[(Long, Double)]
    val enriched = stream.toDF().toDF("user_id", "amount")
      .join(broadcast(dim), Seq("user_id"), "left")

    val tmp = Files.createTempDirectory("graft-enrich").toString
    stream.addData((1L, 10.0), (2L, 5.0), (3L, 1.0))
    val q = enriched.writeStream.format("memory").queryName("enriched_out")
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)

    val rows = spark.table("enriched_out").collect()
      .map(r => r.getLong(0) -> Option(r.getString(2))).toMap
    assert(rows === Map(1L -> Some("gold"), 2L -> Some("basic"), 3L -> None))
  }

  test("stream-stream interval join pairs views with in-window clicks only") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val views = MemoryStream[(Long, Timestamp)]
    val clicks = MemoryStream[(Long, Timestamp)]
    val joined = graft.streaming.StreamingUpdate.viewClickJoin(
      views.toDF().toDF("user_id", "ts"),
      clicks.toDF().toDF("user_id", "ts"),
      joinWindow = "30 minutes", lateness = "10 minutes")

    def t(h: Int, m: Int) = Timestamp.valueOf(f"2026-01-01 $h%02d:$m%02d:00")
    views.addData((1L, t(10, 0)), (2L, t(10, 0)))
    clicks.addData(
      (1L, t(10, 10)), // in window → joins
      (1L, t(11, 30)), // 90 min after the view → outside the interval
      (2L, t(9, 50)),  // BEFORE the view → outside
      (3L, t(10, 5)))  // no matching view
    val tmp = Files.createTempDirectory("graft-ssj").toString
    val q = joined.writeStream.format("memory").queryName("ssj_out")
      .outputMode("append")
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)

    val rows = spark.table("ssj_out").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2))).toSet
    assert(rows === Set((1L, t(10, 0), t(10, 10))),
      "only the same-user in-window pair may join")
  }

  test("streaming exact dedup with watermark drops replayed docs") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val stream = MemoryStream[(Timestamp, String, String)]
    val docs = stream.toDF().toDF("ts", "doc_id", "text")
      .withWatermark("ts", "1 hour")
      .dropDuplicates("doc_id") // streaming stateful dedup, state bounded by watermark

    def t(m: Int) = Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
    stream.addData((t(0), "a", "first"), (t(1), "a", "replay"), (t(2), "b", "other"))
    val q = docs.writeStream.format("memory").queryName("dedup")
      .outputMode("append").trigger(
        org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val rows = spark.table("dedup").select("doc_id", "text").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(rows === Set(("a", "first"), ("b", "other"))) // replay dropped
  }

  test("stateful sessionization: flatMapGroupsWithState closes sessions by gap") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val stream = MemoryStream[(Timestamp, Long)]
    val events = stream.toDF().toDF("ts", "user_id")

    def ts(h: Int, m: Int) = Timestamp.valueOf(f"2026-01-01 $h%02d:$m%02d:00")
    val q = StreamingUpdate.sessionize(events, gapMinutes = 30, lateness = "10 minutes")
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    def got() = spark.table("sessions")
      .select("user_id", "session_start", "n_events", "duration_s").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getLong(3))).toSet

    // User 1: two events 5 min apart (one session), then an event 85 min later
    // (closes session 1 in-batch). User 2: one event, then one 2 h later.
    stream.addData(
      (ts(10, 0), 1L), (ts(10, 5), 1L), (ts(11, 30), 1L),
      (ts(10, 0), 2L), (ts(12, 0), 2L))
    q.processAllAvailable()
    // Closed by gap only; the open tails (u1@11:30, u2@12:00) stay in state.
    assert(got() === Set(
      (1L, ts(10, 0), 2L, 300L),
      (2L, ts(10, 0), 1L, 0L)))

    // Advance the watermark past both open sessions' timeouts: two batches —
    // watermark updates at batch end, timeouts fire at the NEXT batch.
    stream.addData((ts(13, 0), 3L))
    q.processAllAvailable() // watermark -> 12:50
    stream.addData((ts(13, 1), 3L))
    q.processAllAvailable() // u1 (timeout 12:00) and u2 (12:30) evict + emit
    q.stop()
    assert(got() === Set(
      (1L, ts(10, 0), 2L, 300L),
      (2L, ts(10, 0), 1L, 0L),
      (1L, ts(11, 30), 1L, 0L),
      (2L, ts(12, 0), 1L, 0L)))
  }

  test("native session_window streaming agg: batch parity + merge-on-touch gap rule") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val stream = MemoryStream[(Timestamp, Long)]
    val events = stream.toDF().toDF("ts", "user_id")
    def ts(h: Int, m: Int) = Timestamp.valueOf(f"2026-01-01 $h%02d:$m%02d:00")

    val q = StreamingUpdate.sessionizeNative(events, gap = "30 minutes",
        lateness = "10 minutes")
      .writeStream.format("memory").queryName("native_sessions")
      .outputMode("append").start()

    // u1: 10:00 + 10:05 (one session), then 11:30 (new). u2: 10:00, then
    // 10:30 — EXACTLY the gap later: the native expression MERGES touching
    // windows ([10:00,10:30] + [10:30,11:00] → one session), the rule the
    // st3 oracle's constructed boundary family gates; only a silence
    // STRICTLY longer than the gap starts a new session.
    val data = Seq(
      (ts(10, 0), 1L), (ts(10, 5), 1L), (ts(11, 30), 1L),
      (ts(10, 0), 2L), (ts(10, 30), 2L))
    stream.addData(data: _*)
    q.processAllAvailable()
    // advance the watermark far past every session end so append emits all
    stream.addData((ts(23, 0), 99L))
    q.processAllAvailable()
    stream.addData((ts(23, 1), 99L))
    q.processAllAvailable()
    q.stop()

    def canon(rows: Array[org.apache.spark.sql.Row]) = rows
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
      .toSet
    val streamed = canon(spark.table("native_sessions")
      .filter($"user_id" =!= 99L)
      .select("user_id", "session_start", "session_end", "n_events").collect())

    // merge-on-touch: u2's exact-gap pair is ONE session spanning both
    assert(streamed === Set(
      (1L, ts(10, 0), ts(10, 35), 2L),
      (1L, ts(11, 30), ts(12, 0), 1L),
      (2L, ts(10, 0), ts(11, 0), 2L)))

    // batch parity: the SAME expression over the same rows as a static DF
    // (the st3-gated batch twin) produces identical sessions — the streaming
    // state store and the batch merge agree
    val batch = canon(StreamingUpdate.sessionizeNative(
        data.toDF("ts", "user_id"), gap = "30 minutes")
      .collect())
    assert(batch === streamed)

    // the custom-state path agrees on EVERY session here, u2's exact-gap
    // pair included: its floored-seconds `<= gap` merge and the native
    // merge-on-touch coincide at whole-second boundaries (they part only
    // when sub-second diffs straddle the flooring)
    val stream2 = MemoryStream[(Timestamp, Long)]
    val q2 = StreamingUpdate.sessionize(
        stream2.toDF().toDF("ts", "user_id"), gapMinutes = 30,
        lateness = "10 minutes")
      .writeStream.format("memory").queryName("stateful_sessions2")
      .outputMode("append").start()
    stream2.addData(data: _*)
    q2.processAllAvailable()
    stream2.addData((ts(23, 0), 99L)); q2.processAllAvailable()
    stream2.addData((ts(23, 1), 99L)); q2.processAllAvailable()
    q2.stop()
    val stateful = spark.table("stateful_sessions2")
      .filter($"user_id" =!= 99L)
      .select("user_id", "session_start", "n_events").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSet
    assert(stateful === streamed.map(s => (s._1, s._2, s._4)))
    ()
  }

  test("streaming near-dedup by simhash drops same-fingerprint replays") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val stream = MemoryStream[(Timestamp, String, String)]
    val docs = stream.toDF().toDF("ts", "doc_id", "text")
    def t(m: Int) = Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
    stream.addData(
      (t(0), "a", "the quick brown fox jumps over the lazy dog"),
      (t(1), "a2", "the quick brown fox jumps over the lazy dog"), // exact replay
      (t(2), "b", "a completely different document about spark internals"))

    val q = StreamingUpdate.nearDedupBySimhash(docs, "text")
      .writeStream.format("memory").queryName("neardedup")
      .outputMode("append").trigger(
        org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val ids = spark.table("neardedup").select("doc_id").collect().map(_.getString(0)).toSet
    assert(ids.contains("b"))
    assert((ids - "b").size === 1) // exactly one of the fingerprint-equal pair survives
  }

  test("windowed event counts with watermark over a memory stream") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val stream = MemoryStream[(Timestamp, String, Double)]
    val events = stream.toDF().toDF("ts", "event_type", "value")

    def t(m: Int) = Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
    stream.addData(
      (t(5), "click", 1.0), (t(15), "click", 2.0),
      (t(5), "view", 10.0), (t(59), "click", 4.0))

    val out = StreamingUpdate.windowedEventCounts(events, "30 minutes", "10 minutes")
    val q = out.writeStream.format("memory").queryName("win")
      .outputMode("update").trigger(
        org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)

    val rows = spark.table("win")
      .select("event_type", "window_start", "cnt", "sum_value")
      .collect().map(r => (r.getString(0),
        r.getTimestamp(1).toString, r.getLong(2), r.getDouble(3))).toSet
    assert(rows === Set(
      ("click", "2026-01-01 10:00:00.0", 2L, 3.0),
      ("click", "2026-01-01 10:30:00.0", 1L, 4.0),
      ("view", "2026-01-01 10:00:00.0", 1L, 10.0)))
  }

  test("sliding windowed counts: each event lands in length/slide windows") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val stream = MemoryStream[(Timestamp, String, Double)]
    val events = stream.toDF().toDF("ts", "event_type", "value")

    def t(m: Int) = Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
    stream.addData((t(5), "click", 1.0), (t(35), "click", 2.0))

    val out = StreamingUpdate.windowedEventCounts(
      events, "30 minutes", "10 minutes", slide = Some("15 minutes"))
    val q = out.writeStream.format("memory").queryName("slidewin")
      .outputMode("update").trigger(
        org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)

    val rows = spark.table("slidewin")
      .select("event_type", "window_start", "cnt", "sum_value")
      .collect().map(r => (r.getTimestamp(1).toString, r.getLong(2), r.getDouble(3))).toSet
    // 10:05 → windows starting 09:45 and 10:00; 10:35 → 10:15 and 10:30
    assert(rows === Set(
      ("2026-01-01 09:45:00.0", 1L, 1.0),
      ("2026-01-01 10:00:00.0", 1L, 1.0),
      ("2026-01-01 10:15:00.0", 1L, 2.0),
      ("2026-01-01 10:30:00.0", 1L, 2.0)))
  }

  test("foreachBatch accumulates a CMS grid across micro-batches (linear merge)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // the streaming token-frequency accumulator from SCALE.md: each
    // micro-batch sketches locally, cmsMerge folds it into the running grid —
    // state is ≤ 4·w rows forever, regardless of how much streams through
    val w = 256
    var grid: Option[org.apache.spark.sql.DataFrame] = None
    val stream = MemoryStream[String]
    val tmp = Files.createTempDirectory("graft-cms").toString
    val q = stream.toDF().toDF("e").writeStream
      .option("checkpointLocation", s"$tmp/ckpt")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val local = graft.operators.Sketches.cmsBuild(batch, md5(col("e")), w)
        grid = Some(grid.fold(local)(g =>
          graft.operators.Sketches.cmsMerge(g, local)).localCheckpoint())
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
    stream.addData(Seq.fill(10)("alpha") ++ Seq.fill(4)("beta"): _*)
    stream.addData(Seq.fill(7)("alpha") ++ Seq.fill(2)("gamma"): _*)
    val run = q.start(); run.awaitTermination(60000)

    val est = graft.operators.Sketches.cmsEstimate(
        grid.get, Seq("alpha", "beta", "gamma").toDF("e"), "e", md5(col("e")), w)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("cms_estimate")).toMap
    assert(est("alpha") >= 17 && est("beta") >= 4 && est("gamma") >= 2)
    assert(grid.get.count() <= 4L * w)
  }

  test("sig-fold trigger fires on history GROWTH, never on live size alone") {
    import graft.streaming.StreamingUpdate.sigFoldDue
    // live rows (100 units) already exceed the floor (64): the old absolute
    // trigger (total > floor) would fold — a full-table rewrite — on EVERY
    // tick without ever getting under the floor. The growth trigger folds
    // only when accumulated history ≈ live size again.
    var baseline = -1L
    var total = 100L // live rows
    var folds = 0
    (1 to 120).foreach { _ =>
      total += 1L // one appended history segment per gated batch
      if (baseline < 0L) baseline = total
      if (sigFoldDue(total, baseline, 64L)) {
        folds += 1
        total = 100L // fold rewrites to live rows only
        baseline = total
      }
    }
    assert(folds <= 2, s"expected O(1) folds over 120 ticks, got $folds " +
      "(an absolute-size trigger would fold 120 times)")
    // small tables never churn: below the floor nothing folds even at 3x
    assert(!sigFoldDue(totalBytes = 30L, baselineBytes = 10L, floor = 64L))
    // and genuine doubling above the floor does fold
    assert(sigFoldDue(totalBytes = 201L, baselineBytes = 100L, floor = 64L))
  }
}
