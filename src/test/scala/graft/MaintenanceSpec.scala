package graft

import graft.operators.Maintenance
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class MaintenanceSpec extends AnyFunSuite with SparkSuite {

  import spark.implicits._

  test("compact rewrites a fragmented table into few files, data intact") {
    val dir = Files.createTempDirectory("graft-compact").toString + "/t"
    // 32 tiny files
    (1 to 3200).map(i => (i.toLong, s"row $i")).toDF("id", "v")
      .repartition(32).write.parquet(dir)
    val (nBefore, bytes, avg) = Maintenance.fileStats(spark, dir)
    assert(nBefore === 32 && avg < 64 * 1024)

    val nAfter = Maintenance.compact(spark, dir,
      targetBytes = bytes, minAvgBytes = 64 * 1024)
    assert(nAfter === 1L)
    // identical content after the swap
    val back = spark.read.parquet(dir)
    assert(back.count() === 3200)
    assert(back.agg(org.apache.spark.sql.functions.sum("id")).head().getLong(0)
      === (1L to 3200L).sum)
    // no leftover staging/backup dirs, hidden or not
    assert(new java.io.File(dir).getParentFile.list().toSeq === Seq("t"))
  }

  test("compact refuses partitioned tables instead of flattening their layout") {
    val dir = Files.createTempDirectory("graft-compact3").toString + "/t"
    (1 to 100).map(i => (i.toLong, i % 4, s"row $i")).toDF("id", "part", "v")
      .write.partitionBy("part").parquet(dir)
    val e = intercept[IllegalArgumentException](
      Maintenance.compact(spark, dir, targetBytes = 1 << 20, minAvgBytes = 1 << 20))
    assert(e.getMessage.contains("partition directories"))
    // per-partition compaction still works and keeps the layout
    val n = Maintenance.compact(spark, s"$dir/part=0",
      targetBytes = 1 << 20, minAvgBytes = 1 << 20)
    assert(n === 1L)
    assert(spark.read.parquet(dir).count() === 100)
  }

  test("compact skips healthy tables (no gratuitous rewrite)") {
    val dir = Files.createTempDirectory("graft-compact2").toString + "/t"
    (1 to 100).map(i => (i.toLong, s"row $i")).toDF("id", "v")
      .coalesce(2).write.parquet(dir)
    val (n0, _, _) = Maintenance.fileStats(spark, dir)
    val n = Maintenance.compact(spark, dir, targetBytes = 1 << 20, minAvgBytes = 1)
    assert(n === n0) // avg >= 1 byte → healthy → untouched
  }

  test("compactPartitioned: per-bucket rewrite keeps the partitioned layout") {
    val dir = Files.createTempDirectory("graft-compact4").toString + "/t"
    // fragment bucket=0 (5 appends of 1 file each); bucket=1 stays healthy
    (1 to 5).foreach { i =>
      Seq((i.toLong, 0, s"hot row $i")).toDF("id", "bucket", "v")
        .coalesce(1).write.mode("append").partitionBy("bucket").parquet(dir)
    }
    Seq((100L, 1, "cold row")).toDF("id", "bucket", "v")
      .coalesce(1).write.mode("append").partitionBy("bucket").parquet(dir)
    val before = spark.read.parquet(dir).collect().map(_.toString).sorted.toSeq
    val coldStamp = new java.io.File(s"$dir/bucket=1").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => (f.getName, f.lastModified())).toSeq

    val (nParts, files) = Maintenance.compactPartitioned(
      spark, dir, targetBytes = 1 << 20, minAvgBytes = 1 << 20)
    assert(nParts === 1L) // bucket=0 folded 5→1; bucket=1 already 1 file → skipped
    assert(files === 2L)  // one file per bucket after
    // the single-file bucket was not gratuitously rewritten
    assert(new java.io.File(s"$dir/bucket=1").listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.lastModified())).toSeq === coldStamp)
    // layout preserved: bucket dirs still exist, partition column still reads
    assert(new java.io.File(s"$dir/bucket=0").isDirectory)
    assert(new java.io.File(s"$dir/bucket=1").isDirectory)
    assert(spark.read.parquet(dir).collect().map(_.toString).sorted.toSeq === before)

    // skip rule is per-directory: with a 1-byte floor nothing is touched
    val stamps0 = new java.io.File(s"$dir/bucket=0").listFiles()
      .map(f => (f.getName, f.lastModified())).toSeq
    val (nParts2, _) = Maintenance.compactPartitioned(
      spark, dir, targetBytes = 1 << 20, minAvgBytes = 1)
    assert(nParts2 === 0L)
    assert(new java.io.File(s"$dir/bucket=0").listFiles()
      .map(f => (f.getName, f.lastModified())).toSeq === stamps0)
    ()
  }

  test("bucketed collection survives per-bucket compaction: search + fsck green") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-compact5").toString
    val cm = new graft.core.CollectionManager(spark, tmp,
      new graft.functions.HashingEmbedder(dim = 16),
      new graft.functions.TextSplitter(50, 10))
    cm.create("cc", Seq(
      ("d1", "u1", Map("k" -> "v"), "vector search over spark"),
      ("d2", "u2", Map("k" -> "v"), "deployment playbook for the ops team"),
      ("d3", "u3", Map("k" -> "v"), "embedding similarity notes"))
      .toDF("id", "url", "metadata", "text"), nBuckets = 4)
    // a few single-doc updates accrete files in d2's bucket
    (1 to 3).foreach { i =>
      cm.update("cc", Seq(("d2", "u2", Map("k" -> "v"),
        s"deployment playbook revision $i for the ops team"))
        .toDF("id", "url", "metadata", "text"))
    }
    val chunksBefore = cm.chunks("cc").collect().map(_.toString).sorted.toSeq
    Maintenance.compactPartitioned(spark, s"$tmp/cc/documents", 1 << 20, 1 << 20)
    Maintenance.compactPartitioned(spark, s"$tmp/cc/chunks", 1 << 20, 1 << 20)
    assert(cm.chunks("cc").collect().map(_.toString).sorted.toSeq === chunksBefore)
    val hits = cm.search("cc", "revision 3").collect()
    assert(hits.map(_.getString(0)).contains("d2"))
    assert(cm.fsck("cc").collect().forall(_.getAs[Boolean]("ok")))
    // the NEXT dirty-bucket update still rewrites only one bucket
    cm.update("cc", Seq(("d2", "u2", Map("k" -> "v"),
      "deployment playbook final revision for the ops team"))
      .toDF("id", "url", "metadata", "text"))
    assert(cm.fsck("cc").collect().forall(_.getAs[Boolean]("ok")))
  }

  test("fsck flags un-normalized terms a prefix range read could never see (hand-broken segment)") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-fsck-terms").toString
    val cm = new graft.core.CollectionManager(spark, tmp,
      new graft.functions.HashingEmbedder(dim = 16),
      new graft.functions.TextSplitter(50, 10))
    cm.create("cc", Seq(
      ("d1", "u1", Map("k" -> "v"), "vector search over spark"),
      ("d2", "u2", Map("k" -> "v"), "join order planning"))
      .toDF("id", "url", "metadata", "text"))
    cm.buildPhraseIndex("cc")
    assert(cm.fsck("cc").collect().forall(_.getAs[Boolean]("ok")))

    // hand-break the artifacts the way a compaction/writer bug would: a
    // delta segment whose terms are NOT tokenizer-normal ("Joi" — uppercase).
    // Those rows are live chunk ids (not stray), yet NO query can reach
    // them: equality atoms and StartsWith stems are lowercase by
    // construction, so "joi*" silently loses the postings that drifted.
    val chunkId = cm.chunks("cc").select("chunkId").head().getLong(0)
    Seq((chunkId, "Joi", 4, 1L)).toDF("docId", "term", "docLen", "tf")
      .write.mode("append").parquet(s"$tmp/cc/indexes/bm25/postings_delta")
    Seq((chunkId, "Joi", Seq(2))).toDF("docId", "term", "positions")
      .write.mode("append").parquet(s"$tmp/cc/indexes/bm25/positions_delta")

    // and a positional row that violates the shift-intersect contract
    // (unsorted + duplicated positions) — phrase_tf would mis-count
    Seq((chunkId, "order", Seq(5, 2, 2))).toDF("docId", "term", "positions")
      .write.mode("append").parquet(s"$tmp/cc/indexes/bm25/positions_delta")

    val report = cm.fsck("cc").collect()
      .map(r => r.getAs[String]("check") ->
        (r.getAs[Long]("actual"), r.getAs[Boolean]("ok"))).toMap
    assert(report("bm25_unreachable_terms") === ((1L, false)), report)
    assert(report("positions_unreachable_terms") === ((1L, false)), report)
    assert(report("positions_malformed") === ((1L, false)), report)
    // the stray checks stay green — the broken rows point at LIVE chunks,
    // which is exactly why only the term-alphabet check can catch them
    assert(report("bm25_stray_postings")._2 && report("positions_stray")._2)
  }
}
