package graft

import graft.core.{CollectionManager, Tables}
import graft.functions.{HashingEmbedder, TextSplitter}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** `core.Tables.open` must give every table the schema Spark's own
  * inference gives it: same columns, types, nullability and partition
  * columns, for everything the collection lifecycle writes and for the
  * input tables. A mismatch would silently null or drop a column.
  */
class TablesSpec extends AnyFunSuite with SparkSuite {

  private def assertSameSchema(path: String): Unit =
    assert(Tables.open(spark, path).schema == spark.read.parquet(path).schema,
      s"schema differs from inference at $path")

  private def mkDocs(rows: (String, String)*) = {
    import spark.implicits._
    rows.toSeq.map { case (id, t) =>
      (id, s"u/$id", Map("lastModifiedAt" -> "2026-01-01T00:00:00", "space" -> s"S${id.length}"), t)
    }.toDF("id", "url", "metadata", "text")
  }

  /** Every visible directory under `root` that holds a parquet table: the
    * parent of a visible `.parquet` file, lifted past partition dirs (`k=v`).
    */
  private def tableRoots(root: String): Seq[String] = {
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    def hidden(p: Path) = p.getName.startsWith("_") || p.getName.startsWith(".")
    def tableOf(dir: Path): Path =
      if (dir.getName.contains("=")) tableOf(dir.getParent) else dir
    def walk(dir: Path): Seq[Path] = {
      val kids = fs.listStatus(dir).filterNot(s => hidden(s.getPath)).toSeq
      val here = if (kids.exists(k => k.isFile && k.getPath.getName.endsWith(".parquet")))
        Seq(tableOf(dir)) else Nil
      here ++ kids.filter(_.isDirectory).flatMap(k => walk(k.getPath))
    }
    walk(new Path(root)).map(_.toUri.getPath).distinct.sorted
  }

  for ((layout, nBuckets) <- Seq("flat" -> 0, "bucketed" -> 4))
    test(s"every lifecycle artifact opens with the inferred schema ($layout)") {
      val tmp = Files.createTempDirectory(s"graft-tables-$layout").toString
      val cm = new CollectionManager(spark, tmp,
        new HashingEmbedder(dim = 16), new TextSplitter(60, 10))
      val base = (1 to 24).map(i => (s"d$i", s"document number $i about topic ${i % 5} and spark"))
      cm.create("c", mkDocs(base: _*), nBuckets = nBuckets)
      cm.buildPhraseIndex("c")
      cm.buildSuggestIndex("c")
      cm.buildIvfIndex("c", nLists = 4, nProbe = 2)
      cm.appendMinhashSigs("c", mkDocs(base: _*))
      cm.update("c", mkDocs(("d3", "document number 3 rewritten about joins"),
        ("d99", "a brand new document about shuffles")))
      cm.delete("c", Seq("d5", "d6"))

      val roots = tableRoots(s"$tmp/c")
      val names = roots.map(_.stripPrefix(s"$tmp/c/")).toSet
      // the tail and every derived index must be present, or this checks less
      // than it claims
      Seq("documents", "chunks", "indexes/bm25/postings", "indexes/bm25/postings_delta",
        "indexes/bm25/tombstones", "indexes/bm25/termDf_delta", "indexes/bm25/corpus_delta",
        "indexes/bm25/positions", "indexes/bm25/suggest_keys", "indexes/ivf/centroids",
        "indexes/minhash_sigs").foreach(n =>
        assert(names.exists(_.endsWith(n)), s"lifecycle wrote no $n; found: ${names.toSeq.sorted}"))
      info(s"${roots.size} tables checked")
      roots.foreach(assertSameSchema)
      if (nBuckets > 0)
        assert(Tables.open(spark, s"$tmp/c/chunks").columns.contains("bucket"))
    }

  test("input tables open with the inferred schema (events under nanosAsLong)") {
    val dir = "/root/testdata/sf0.001"
    assume(Files.isDirectory(Paths.get(dir)), s"$dir not present")
    val inputs = Files.list(Paths.get(dir)).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).sorted
    inputs.filterNot(_.endsWith("events.parquet")).foreach(assertSameSchema)
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "true") // as api.Tables.events reads it
    try inputs.filter(_.endsWith("events.parquet")).foreach(assertSameSchema)
    finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
    assert(inputs.length >= 8, s"expected the sf0.001 input tables, found ${inputs.length}")
  }

  test("a legacy corpus without totalLen reads as it is") {
    import spark.implicits._
    val p = Files.createTempDirectory("graft-tables-legacy").toString + "/corpus"
    Seq((10L, 4.5)).toDF("n", "avgdl").write.parquet(p)
    assertSameSchema(p)
    assert(!Tables.open(spark, p).columns.contains("totalLen"))
  }

  test("a missing or file-less path fails loudly, as inference does") {
    val tmp = Files.createTempDirectory("graft-tables-empty")
    for (p <- Seq(s"$tmp/missing", tmp.toString)) {
      val ours = intercept[Exception](Tables.open(spark, p))
      val spark0 = intercept[Exception](spark.read.parquet(p))
      assert(ours.getClass == spark0.getClass && ours.getMessage == spark0.getMessage)
    }
    assert(Tables.openIf(spark, s"$tmp/missing").isEmpty)
  }

  test("swap crash residue under the index tables is inert; the next compact reclaims it") {
    val tmp = Files.createTempDirectory("graft-tables-residue").toString
    val cm = new CollectionManager(spark, tmp,
      new HashingEmbedder(dim = 16), new TextSplitter(60, 10))
    val base = (1 to 24).map(i => (s"d$i", s"document number $i about topic ${i % 5} and spark"))
    cm.create("c", mkDocs(base: _*))
    cm.buildIvfIndex("c", nLists = 4, nProbe = 2)
    // a tail for both compactions to fold: BM25 deltas + tombstones, IVF tombstones
    cm.update("c", mkDocs(("d3", "document number 3 rewritten about joins")))
    def state() = (
      Seq("bm25", "vector_ivf").map(ix => cm.search("c", "document topic spark",
        indexNames = Some(Seq(ix))).collect().toSeq),
      cm.fsck("c").collect().toSeq)
    val before = state()

    // a swap that died between its renames leaves the hidden `.x__old`
    // backup; a rewrite that died mid-write leaves its hidden `.x__staging`
    val (bm25, ivf) = (s"$tmp/c/indexes/bm25", s"$tmp/c/indexes/ivf")
    val residue = Seq(s"$bm25/postings" -> s"$bm25/.postings__old",
      s"$bm25/postings" -> s"$bm25/.postings__staging",
      s"$ivf/assigned" -> s"$ivf/.assigned__old")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = FileSystem.get(conf)
    residue.foreach { case (from, to) =>
      org.apache.hadoop.fs.FileUtil.copy(fs, new Path(from), fs, new Path(to), false, conf)
    }
    assert(state() === before, "crash residue changed search results or fsck")

    cm.compactBm25("c")
    cm.ivfIndex("c").get.compact()
    val left = residue.map(_._2).filter(p => fs.exists(new Path(p)))
    assert(left.isEmpty, s"compact left residue: ${left.mkString(", ")}")
    assert(state() === before, "compaction changed search results or fsck")
  }

  /** Files under `src/main/scala`, other than `allowed` (a path below
    * `graft/`), whose text contains `needle`.
    */
  private def sourcesOutside(allowed: String, needle: String): Seq[String] = {
    val root = Paths.get("src/main/scala")
    assume(Files.isDirectory(root), "run from the repository root")
    import scala.jdk.CollectionConverters._
    Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && !p.endsWith(Paths.get("graft", allowed)))
      .filter(p => new String(Files.readAllBytes(p), "UTF-8").contains(needle))
      .map(root.relativize(_).toString).toSeq.sorted
  }

  test("no source file but core/Tables.scala opens parquet with .read.parquet(") {
    val offenders = sourcesOutside("core/Tables.scala", ".read.parquet(")
    assert(offenders.isEmpty,
      s"open tables with graft.core.Tables.open, not .read.parquet(: ${offenders.mkString(", ")}")
  }

  test("no source file but core/Tables.scala swaps directories with .rename(") {
    val offenders = sourcesOutside("core/Tables.scala", ".rename(")
    assert(offenders.isEmpty,
      s"replace tables with graft.core.Tables.replace, not .rename(: ${offenders.mkString(", ")}")
  }

  test("no source file but api/queries/OracleSql.scala writes the DuckDB tokenizer or BM25 weight") {
    for (needle <- Seq("regexp_split_to_array(lower(", "ln(1 + (corpus.n - df.df + 0.5)")) {
      val offenders = sourcesOutside("api/queries/OracleSql.scala", needle)
      assert(offenders.isEmpty,
        s"use OracleSql.tokens / bm25Ctes, not a pasted `$needle`: ${offenders.mkString(", ")}")
    }
  }
}
