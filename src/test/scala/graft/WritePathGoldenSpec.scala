package graft

import graft.core.CollectionManager
import graft.functions.{HashingEmbedder, TextSplitter}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.security.MessageDigest
import scala.io.Source

/** Pins what the write path leaves on disk, so a change to how `update` and
  * `delete` schedule their work cannot change what they write. One sequence
  * (create → update replacing two documents and adding one → delete of a
  * known and an unknown id → update with an explicitly empty `chunks` array)
  * runs on the flat layout and on 4 buckets; then each table's sorted row
  * dump is hashed and compared with `write_path_sha256.tsv`, one
  * `layout<TAB>table<TAB>sha256` line per dump. The manifest is dumped
  * without `updatedTime`, the one field that reads the clock.
  */
class WritePathGoldenSpec extends AnyFunSuite with SparkSuite {

  private def rawDocs(rows: (String, String, String)*): DataFrame = {
    import spark.implicits._
    rows.map { case (id, lm, text) =>
      (id, s"file://$id", Map("space" -> s"S${id.last}", "lastModifiedAt" -> lm), text)
    }.toDF("id", "url", "metadata", "text")
  }

  private val created = rawDocs(
    ("d1", "2026-01-01T00:00:00", "spark query engine\nwith vector search\nand bm25 ranking over chunks"),
    ("d2", "2026-01-02T00:00:00", "deployment guide for the ops team\nrun the deploy script twice"),
    ("d3", "2026-01-03T00:00:00", "vector embeddings and similarity search notes"),
    ("d4", "2026-01-04T00:00:00", "incident review\nrollback of the deploy\nroot cause notes and actions"),
    ("d5", "2026-01-05T00:00:00", "bm25 scoring and query parsing in the search engine"),
    ("d6", "2026-01-06T00:00:00", "stream processing with micro batches and watermarks"))

  private def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def dump(df: DataFrame): String = df.collect().map(_.toString).sorted.mkString("\n")

  private def golden: Map[(String, String), String] = {
    val src = Source.fromResource("write_path_sha256.tsv", getClass.getClassLoader)
    try src.getLines().filter(_.nonEmpty).map { l =>
      val Array(layout, table, hash) = l.split('\t'); (layout, table) -> hash
    }.toMap finally src.close()
  }

  test("update → delete → empty-chunks update writes the pinned tables, flat and bucketed") {
    val tmp = Files.createTempDirectory("graft-golden").toString
    val cm = new CollectionManager(spark, tmp, new HashingEmbedder(dim = 16), new TextSplitter(50, 10))
    val layouts = Seq("flat" -> 0, "buckets4" -> 4)
    val actual = layouts.flatMap { case (layout, n) =>
      cm.create(layout, created, nBuckets = n)
      cm.update(layout, rawDocs(
        ("d2", "2026-02-01T00:00:00", "rewritten deployment instructions\nnow with containers and pods"),
        ("d5", "2025-12-01T00:00:00", "older revision of the scoring notes"),
        ("d7", "2026-02-02T00:00:00", "brand new doc about stream processing engines")))
      cm.delete(layout, Seq("d1", "no-such-doc"))
      cm.update(layout, rawDocs(("d4", "2026-02-03T00:00:00", "incident review emptied"))
        .withColumn("chunks", array().cast(
          "array<struct<indexedData:string,metadata:map<string,string>>>")))

      val bm25 = new graft.operators.Bm25Indexer(
        spark, s"$tmp/$layout/indexes/bm25", s"$tmp/$layout/chunks")
      Seq(
        "documents" -> dump(cm.documents(layout)),
        "chunks" -> dump(cm.chunks(layout)
          .select("chunkId", "documentId", "chunkNumber", "indexedData", "embedding")),
        "postings" -> dump(bm25.postingsTable().select("term", "docId", "docLen", "tf")),
        "termDf" -> dump(bm25.termDfTable().select("term", "df")),
        "corpus" -> dump(bm25.corpusStats()),
        "manifest" -> cm.readManifest(layout).copy(updatedTime = "").toString
      ).map { case (table, d) => (layout, table) -> sha256(d) }
    }.toMap
    if (actual != golden)
      println(actual.toSeq.sorted.map { case ((l, t), h) => s"$l\t$t\t$h" }
        .mkString("[write-path]\n", "\n", ""))
    assert(golden.size == 12)
    val changed = golden.keys.filter(k => actual.get(k) != golden.get(k)).toSeq.sorted
    assert(changed.isEmpty, s"write-path output changed: ${changed.mkString(", ")}")
  }
}
