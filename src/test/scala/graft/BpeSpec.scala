package graft

import graft.functions.Bpe
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class BpeSpec extends AnyFunSuite with SparkSuite {

  import spark.implicits._

  private lazy val corpus = Seq(
    "the theory of the thing is that the theme repeats",
    "there the other theory holds the theme together",
    "this theory and that theory share the theme").toDF("text")

  test("training learns frequent pairs first; encoding applies them greedily") {
    val m = Bpe.train(corpus, "text", nMerges = 40)
    assert(m.merges.length === 40)
    // 'th' dominates this corpus → it must be among the earliest merges
    assert(m.merges.take(3).contains(("t", "h")))
    // full word 'the' compresses to a single token (the</w>)
    assert(m.encodeWord("the") === Seq("the" + Bpe.endOfWord))
    // unseen-but-composable words still encode (no OOV failure)
    val rare = m.encodeWord("thesis")
    assert(rare.nonEmpty && rare.mkString === "thesis" + Bpe.endOfWord)
    // token counts: known word 1, gibberish decomposes to more pieces
    assert(m.countTokens("the the the") === 3L)
    assert(m.countTokens("zqxv") >= 2L)
  }

  test("merges artifact round-trips and the loaded model encodes identically") {
    val m = Bpe.train(corpus, "text", nMerges = 25)
    val f = java.nio.file.Files.createTempFile("graft-bpe", ".txt")
    m.save(f.toString)
    val loaded = Bpe.load(f.toString)
    assert(loaded.merges === m.merges)
    val probe = "the other theme theory thing"
    assert(loaded.encode(probe) === m.encode(probe))
    assert(loaded.countTokens(probe) === m.countTokens(probe))
    // a corrupt artifact fails LOUD — silently skipping a merge line would
    // silently change the tokenizer (same philosophy as the embedder guard)
    val f2 = java.nio.file.Files.createTempFile("graft-bpe-bad", ".txt")
    java.nio.file.Files.writeString(f2, "t h\nmalformedline\n e r\n")
    val e = intercept[IllegalArgumentException](Bpe.load(f2.toString))
    assert(e.getMessage.contains("malformed line"))
    // a THREE-field line is just as corrupt: with a limit-2 split it would
    // silently parse as (a, "b c") — a right token that can never match
    val f3 = java.nio.file.Files.createTempFile("graft-bpe-bad3", ".txt")
    java.nio.file.Files.writeString(f3, "t h\na b c\n")
    val e3 = intercept[IllegalArgumentException](Bpe.load(f3.toString))
    assert(e3.getMessage.contains("malformed line") && e3.getMessage.contains("a b c"))
  }

  test("tokenCountCol counts per row in a DataFrame pass (no shuffle)") {
    val m = Bpe.train(corpus, "text", nMerges = 30)
    val counted = corpus.withColumn("n_bpe", Bpe.tokenCountCol(m)(col("text")))
    val rows = counted.collect()
    assert(rows.forall(_.getAs[Long]("n_bpe") > 0))
    // the trained count can never exceed the char+eow upper bound
    rows.foreach { r =>
      val t = r.getString(0)
      assert(r.getAs[Long]("n_bpe") <= t.count(_.isLetterOrDigit) +
        t.split("[^a-z0-9]+").count(_.nonEmpty))
    }
    val plan = counted.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"))
  }

  test("trained counts feed sequence packing end to end (the token-budget loop)") {
    val m = Bpe.train(corpus, "text", nMerges = 30)
    val counted = corpus
      .withColumn("doc_id", monotonically_increasing_id())
      .withColumn("bucket", lit("all"))
      .withColumn("n_bpe", Bpe.tokenCountCol(m)(col("text")))
    val packed = graft.operators.Curation.packSequences(
      counted, "bucket", "doc_id", "n_bpe", seqLen = 16L).collect()
    // offsets are the running sum of the REAL subword counts
    val total = counted.agg(sum("n_bpe")).head().getLong(0)
    val last = packed.maxBy(_.getAs[Long]("global_offset"))
    assert(last.getAs[Long]("global_offset") + last.getAs[Long]("n_bpe") === total)
    assert(packed.forall(r => r.getAs[Long]("n_seqs") >= 1))
  }

  test("vocab cap bounds the driver collect; defaults leave small corpora exact") {
    // defaults (minFreq=1, maxVocab=2^20) are the identity on a small corpus
    val base = Bpe.train(corpus, "text", nMerges = 20).merges
    assert(Bpe.train(corpus, "text", 20, minFreq = 1L).merges === base)
    // the freq floor's exact semantics: training with minFreq=2 IS training
    // on the vocabulary with singleton word types removed (pair counts are
    // word-type × freq, so a corpus of each kept word repeated freq times
    // reproduces the floored table bit-for-bit)
    val kept = corpus
      .select(explode(expr(
        "filter(split(lower(text), '[^a-z0-9]+'), t -> t != '')")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c")).filter(col("c") >= 2)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val rebuilt = kept.flatMap { case (w, c) => Seq.fill(c.toInt)(w) }.mkString(" ")
    val floored = Bpe.train(corpus, "text", 20, minFreq = 2L).merges
    assert(floored === Bpe.train(Seq(rebuilt).toDF("text"), "text", 20).merges)
    // and the dominant early merges (margins above any singleton's mass)
    // survive the floor — the "safe for early merges" claim, pinned
    assert(floored.take(3) === base.take(3))
    // a tiny top-V cap still trains (merge loop input bounded by construction):
    // with the top-3 words only, every learned merge comes from those words
    val capped = Bpe.train(corpus, "text", 10, maxVocab = 3)
    assert(capped.merges.nonEmpty && capped.merges.length <= 10)
    val topWords = Set("the", "theory", "theme") // freq 9/4/3 — the corpus top-3
    capped.merges.foreach { case (a, b) =>
      val fused = (a + b).replace(Bpe.endOfWord, "")
      assert(topWords.exists(_.contains(fused)),
        s"merge ($a,$b) not derivable from the capped vocab")
    }
    intercept[IllegalArgumentException] { Bpe.train(corpus, "text", 5, maxVocab = 0) }
    ()
  }

  test("training is deterministic: same corpus, same merges at any parallelism") {
    val a = Bpe.train(corpus.repartition(1), "text", 20).merges
    val b = Bpe.train(corpus.repartition(5), "text", 20).merges
    assert(a === b)
  }

  test("fixed-merge gated model: encode goldens match the hand-traced greedy loop") {
    // The same 24-merge artifact the bpe_encode oracle replays in DuckDB
    // (LifecycleQueries.bpeFixedMerges). Goldens hand-traced with the one-merge-per-step
    // leftmost-lowest-rank loop; a semantics change in encodeWord would break
    // this spec and the oracle together.
    val model = Bpe.BpeModel(Seq(
      "e" -> "r", "e" -> "</w>", "n" -> "</w>", "er" -> "</w>", "o" -> "w",
      "ow" -> "</w>", "o" -> "r", "s" -> "t", "h" -> "</w>", "a" -> "t",
      "l" -> "u", "i" -> "n", "a" -> "</w>", "g" -> "</w>", "y" -> "</w>",
      "a" -> "r", "p" -> "ar", "t" -> "</w>", "i" -> "n</w>", "j" -> "o",
      "jo" -> "in</w>", "a" -> "s", "as" -> "h</w>", "h" -> "ash</w>"))
    assert(model.encode("the power lower join hash flower") === Seq(
      "t", "h", "e</w>", "p", "ow", "er</w>", "l", "ow", "er</w>",
      "join</w>", "hash</w>", "f", "l", "ow", "er</w>"))
    assert(model.encode("aaa stash parser") === Seq(
      "a", "a", "a</w>", "st", "ash</w>", "par", "s", "er</w>"))
    assert(model.encode("join join hashes") === Seq(
      "join</w>", "join</w>", "h", "as", "h", "e", "s", "</w>"))
    assert(model.encode("x") === Seq("x", "</w>"))
    assert(model.countTokens("99 bottles of hash") === 15L)
  }
}
