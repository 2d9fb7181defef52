package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.JobMeter
import graft.operators.Curation

/** Curation operators on crafted inputs (the registered queries hash-gate them
  * against DuckDB at sf scale; this pins the semantics on readable examples).
  */
class CurationSpec extends AnyFunSuite with SparkSuite {

  test("redactPii replaces emails, ips, phones and counts before redacting") {
    import spark.implicits._
    val df = Seq(
      (1L, "mail a.smith+x@corp.example.org and b@x.io, host 10.20.30.40, call +44 123 4567"),
      (2L, "no pii here at all"),
      (3L, "version 1.2 is not an ip, 999.1.1.1.1 has a real ip inside"))
      .toDF("id", "text")
    val out = Curation.redactPii(df, "text").collect()
      .map(r => r.getAs[Long]("id") ->
        (r.getAs[String]("redacted"), r.getAs[Long]("n_emails"),
         r.getAs[Long]("n_ips"), r.getAs[Long]("n_phones"))).toMap

    val (r1, e1, i1, p1) = out(1L)
    assert(e1 === 2L && i1 === 1L && p1 === 1L)
    assert(r1 === "mail <EMAIL> and <EMAIL>, host <IP>, call <PHONE>")
    assert(out(2L) === (("no pii here at all", 0L, 0L, 0L)))
    // "1.2" (two octets) isn't an IP; "999.1.1.1.1" contains the IP 999.1.1.1?
    // No: \b\d{1,3}... matches the leading "999.1.1.1" — the pattern is a
    // scrubber, not a validator, and over-redaction is the safe direction.
    val (r3, _, i3, _) = out(3L)
    assert(i3 === 1L && r3.contains("version 1.2 is not an ip"))
    assert(r3.contains("<IP>"))
  }

  test("decontaminate flags only docs sharing a full n-gram with the benchmark") {
    import spark.implicits._
    val phrase = (1 to 13).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, s"prefix words $phrase suffix words"), // contains the benchmark 13-gram
      (2L, s"prefix words ${phrase.replace("w7", "other")} suffix"), // 12 of 13 — clean
      (3L, "completely unrelated content entirely"))
      .toDF("doc_id", "text")
    val bench = Seq((100L, s"benchmark item saying $phrase verbatim"))
      .toDF("bench_id", "bench_text")

    val out = Curation.decontaminate(docs, bench, "doc_id", "text",
        "bench_id", "bench_text", n = 13)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_contaminated_ngrams"), r.getAs[Boolean]("contaminated"))).toMap
    assert(out(1L)._2 === true && out(1L)._1 >= 1L)
    assert(out(2L) === ((0L, false)))
    assert(out(3L) === ((0L, false)))
  }

  test("stratifiedSample: rerun-stable, rate-accurate, salt redraws") {
    import spark.implicits._
    val df = (1 to 4000).map(i => (i.toLong, if (i % 2 == 0) "en" else "de"))
      .toDF("id", "lang")
    val rates = Map("en" -> 0.5, "de" -> 0.1)
    def ids(salt: String) = Curation.stratifiedSample(df, "id", "lang", rates,
        salt = salt).select("id").as[Long].collect().toSet
    val a = ids(""); val b = ids("")
    assert(a === b) // exact rerun stability
    val byLang = df.filter(col("id").isInCollection(a))
      .groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(byLang("en") / 2000.0 - 0.5) < 0.05)
    assert(math.abs(byLang("de") / 2000.0 - 0.1) < 0.03)
    assert(ids("other-salt") !== a) // a different salt draws a different sample
    // rate 1.0 keeps everything; rate 0 keeps nothing
    assert(Curation.stratifiedSample(df, "id", "lang",
      Map("en" -> 1.0), defaultRate = 0.0).count() === 2000)
    // rate just below 1: round() hits 2^24, which must clamp to the 6-char
    // "ffffff" — the unclamped 7-char "1000000" compares below every hash
    // starting with a letter and silently kept only ~6% of rows
    assert(Curation.rateThresholdHex(1.0 - math.pow(2, -26)) === "ffffff")
    val nearOne = Curation.stratifiedSample(df, "id", "lang",
      Map("en" -> (1.0 - math.pow(2, -26))), defaultRate = 0.0).count()
    assert(nearOne >= 1990, s"rate≈1 kept only $nearOne of 2000")
  }

  test("packByTokenBudget: shards cut at the budget across bucket boundaries") {
    import spark.implicits._
    // two buckets: a(1,2,3) sizes 400/400/400; b(4,5) sizes 300/4800
    val df = Seq(
      (1L, "a", 400L), (2L, "a", 400L), (3L, "a", 400L),
      (4L, "b", 300L), (5L, "b", 4800L))
      .toDF("id", "bucket", "n_tok")
    val out = Curation.packByTokenBudget(df, "bucket", "id", "n_tok", budget = 1000L)
      .select("id", "shard_id").as[(Long, Long)].collect().toMap
    // cumulative-before: 0,400,800 | 1200,1500 → shards 0,0,0 | 1,1
    assert(out === Map(1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 1L, 5L -> 1L))
    // every doc with tokens-before in [k*budget, (k+1)*budget) lands in shard k
    val big = (1 to 500).map(i => (i.toLong, s"b${i % 7}", (i % 90 + 10).toLong))
      .toDF("id", "bucket", "n_tok")
    val packed = Curation.packByTokenBudget(big, "bucket", "id", "n_tok", 700L)
      .collect()
    val shardSizes = packed.groupBy(_.getAs[Long]("shard_id"))
      .view.mapValues(_.map(_.getAs[Long]("n_tok")).sum).toMap
    // no shard except the last may end more than one doc short of the budget
    val full = shardSizes.toSeq.sortBy(_._1).dropRight(1)
    assert(full.forall { case (_, tks) => tks >= 700L - 99 && tks <= 700L + 99 })
  }

  test("packSequences: contiguous offsets, boundary spans, zero-token docs") {
    import spark.implicits._
    val df = Seq(
      (1L, "a", 1000L), (2L, "a", 0L), (3L, "a", 1500L), // 3 crosses the 2048 cut
      (4L, "b", 100L), (5L, "b", 5000L))                 // 5 spans 3 sequences
      .toDF("id", "bucket", "n_tok")
    val out = Curation.packSequences(df, "bucket", "id", "n_tok", seqLen = 2048L)
      .orderBy("id").collect()
    // concatenation order a(1,2,3) then b(4,5): offsets 0,1000,1000,2500,2600
    assert(out.map(_.getAs[Long]("global_offset")).toSeq ===
      Seq(0L, 1000L, 1000L, 2500L, 2600L))
    val byId = out.map(r => r.getAs[Long]("id") -> r).toMap
    assert(byId(3L).getAs[Long]("seq_start") === 0L &&
      byId(3L).getAs[Long]("seq_end") === 1L && byId(3L).getAs[Long]("n_seqs") === 2L)
    assert(byId(2L).getAs[Long]("n_seqs") === 0L) // zero-token doc spans nothing
    assert(byId(5L).getAs[Long]("seq_start") === 1L &&
      byId(5L).getAs[Long]("seq_end") === 3L && byId(5L).getAs[Long]("n_seqs") === 3L)
    // token-conservation: last doc's offset + tokens == total stream length
    assert(byId(5L).getAs[Long]("global_offset") + 5000L === 7600L)
  }

  test("withCharEntropy: uniform text scores 0, varied text scores higher") {
    import spark.implicits._
    val df = Seq(
      (1L, "aaaaaaaa"),                  // one symbol → 0 bits
      (2L, "abababab"),                  // two equiprobable symbols → 1 bit
      (3L, "the quick brown fox jumps"), // natural text → ~4 bits
      (4L, ""))                          // empty → 0, not an ANSI index error
      .toDF("id", "text")
    val out = graft.operators.TextAnalysis.withCharEntropy(df, "text")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("entropy")).toMap
    assert(math.abs(out(1L)) === 0.0)
    assert(math.abs(out(2L) - 1.0) < 1e-9)
    assert(out(3L) > 3.0 && out(3L) < 5.0)
    assert(out(4L) === 0.0)
  }

  test("withDomains extracts ordered urls and distinct domains") {
    import spark.implicits._
    val df = Seq((1L,
      "read https://a.example.com/x then http://b.example.net/y and https://a.example.com/z"))
      .toDF("id", "text")
    val row = Curation.withDomains(df, "text").collect()(0)
    assert(row.getAs[scala.collection.Seq[String]]("urls").length === 3)
    assert(row.getAs[scala.collection.Seq[String]]("domains").toSeq ===
      Seq("a.example.com", "b.example.net")) // distinct, first-occurrence order
  }

  test("containmentPairs: quoted doc scores high asymmetrically") {
    import spark.implicits._
    val quoted = "the committee concluded that the proposal should be adopted without further amendment"
    val host = s"as reported earlier this week, $quoted — a decision observers called overdue, " +
      "with several members dissenting on procedural grounds at considerable additional length"
    val docs = Seq(
      (1L, quoted), (2L, host),
      (3L, "wholly unrelated text about parquet row group statistics and pruning"))
      .toDF("doc_id", "text")
    val out = graft.operators.Dedup.containmentPairs(docs, "doc_id", "text",
        minContainment = 0.5)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        r.getAs[Double]("containment")).toMap
    // 1 is mostly inside 2; 2 is NOT mostly inside 1 (asymmetry); 3 matches nothing
    assert(out.contains((1L, 2L)) && out((1L, 2L)) > 0.5)
    assert(!out.contains((2L, 1L)))
    assert(!out.keys.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("containmentPairs: corpus-relative df cap drops shared boilerplate by default") {
    import spark.implicits._
    val footer = "this document is provided under the standard corporate license " +
      "agreement all rights reserved contact legal department for redistribution terms"
    val quote = "the quarterly revenue figures exceeded projections across every " +
      "regional segment according to the audited consolidated statements"
    val docs = (Seq((1L, s"$quote $footer"), (2L, s"$quote $footer")) ++
      (3L to 10L).map(i => (i, s"unique subject matter number $i discussing topic " +
        s"${"xyz" * i.toInt} in detail $footer"))).toDF("doc_id", "text")
    // default cap = max(2, ceil(0.01 × 10)) = 2: the footer (df = 10) is
    // boilerplate and drops; the quote (df = 2) is evidence and stays
    val rel = graft.operators.Dedup.containmentPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(rel.contains((1L, 2L)) && rel.contains((2L, 1L)))
    assert(!rel.exists { case (a, b) => a >= 3L && b >= 3L },
      s"footer-only pairs must not survive the corpus-relative cap: $rel")
    // absolute override restores the old fixed-cap behavior: footer counts as
    // overlap and the footer-only docs pair up
    val abs = graft.operators.Dedup.containmentPairs(docs, "doc_id", "text",
        maxFingerprintDf = 1000)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(abs.exists { case (a, b) => a >= 3L && b >= 3L })
  }

  test("containmentPairs: logDropStats=false schedules zero construction jobs, same output") {
    import spark.implicits._
    val footer = "this document is provided under the standard corporate license " +
      "agreement all rights reserved contact legal department for redistribution terms"
    val quote = "the quarterly revenue figures exceeded projections across every " +
      "regional segment according to the audited consolidated statements"
    val docs = (Seq((1L, s"$quote $footer"), (2L, s"$quote $footer")) ++
      (3L to 10L).map(i => (i, s"unique subject matter number $i discussing topic " +
        s"${"xyz" * i.toInt} in detail $footer"))).toDF("doc_id", "text")
    // absolute cap in BOTH calls so neither needs the nDocs count: the only
    // possible construction-time job is the drop-stats action itself
    def pairs(stats: Boolean) = graft.operators.Dedup.containmentPairs(
      docs, "doc_id", "text", maxFingerprintDf = 2, logDropStats = stats)
    var quiet: org.apache.spark.sql.DataFrame = null
    // construction only — no action yet
    val jobs = JobMeter.measure(spark) { quiet = pairs(stats = false) }.jobs
    assert(jobs === 0,
      s"logDropStats=false must not schedule jobs at plan construction; saw $jobs")
    val loud = pairs(stats = true)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Long]("shared")))
      .toSet
    val (lk, qk) = (key(loud), key(quiet))
    assert(lk === qk, "drop-stats logging must not change the pair set")
    // and the cap genuinely applied in the quiet run: the footer (df = 10)
    // never pairs the footer-only docs
    assert(!qk.exists { case (a, b, _) => a >= 3L && b >= 3L })
    assert(qk.exists { case (a, b, _) => Set(a, b) == Set(1L, 2L) })
  }

  test("incrementalNearDups: new batch gates against persisted signatures only") {
    import spark.implicits._
    val phrase = "the quick brown fox jumps over the lazy dog again and again"
    val existing = Seq(
      (10L, phrase),
      (11L, "entirely different corpus content about spark partitions"))
      .toDF("doc_id", "text")
    // the production flow persists signatures at index time; here we build them
    val sigs = graft.operators.Dedup.minhashSignatures(existing, "doc_id", "text")
      .withColumnRenamed("doc_id", "ex_id")
    val incoming = Seq(
      (100L, phrase),                                  // exact replay → dup of 10
      (101L, "fresh never-seen material with new words"))
      .toDF("doc_id", "text")
    val out = graft.operators.Dedup.incrementalNearDups(
        incoming, sigs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (Option(r.getAs[java.lang.Long]("dup_of")).map(_.toLong),
         r.getAs[Boolean]("is_dup"))).toMap
    assert(out(100L) === ((Some(10L), true)))
    assert(out(101L) === ((None, false)))
  }

  test("decontaminate short-text fallback: sub-n docs match as whole text") {
    import spark.implicits._
    val docs = Seq((1L, "tiny benchmark question"), (2L, "different tiny text"))
      .toDF("doc_id", "text")
    val bench = Seq((9L, "tiny benchmark question")).toDF("bench_id", "bench_text")
    val out = Curation.decontaminate(docs, bench, "doc_id", "text",
        "bench_id", "bench_text", n = 13)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("contaminated")).toMap
    assert(out === Map(1L -> true, 2L -> false))
  }

  test("weightedSample: exact n per stratum, rerun-stable, weight-sensitive") {
    import spark.implicits._
    val df = (1L to 200L).map(i =>
      (i, if (i <= 100) "a" else "b", if (i == 7L) 1000000000L else 1L))
      .toDF("id", "s", "w")
    def ids(salt: String) = Curation.weightedSample(df, "id", "s", "w",
        n = 10, salt = salt).select("id").as[Long].collect().toSet
    val got = ids("")
    assert(got.size === 20) // 10 per stratum
    assert(got === ids("")) // exact rerun stability
    // the single overwhelming weight is (essentially) always drawn:
    // ln(u)/1e9 ≈ 0 beats every unit-weight key ln(u)/1 except u > ~0.999...
    assert(got.contains(7L))
    assert(ids("other") !== got) // a new salt redraws the rest
    // non-positive weights are dropped, not sampled
    val withZero = Curation.weightedSample(
      df.withColumn("w", when($"id" === 8L, 0L).otherwise($"w")),
      "id", "s", "w", n = 200)
    assert(!withZero.select("id").as[Long].collect().contains(8L))
  }

  test("mixturePlan rates reproduce the target mix through stratifiedSample") {
    import spark.implicits._
    // en: 1000 docs × 20 tokens = 20k; de: 100 docs × 20 tokens = 2k
    val df = ((1L to 1000L).map(i => (i, "en", 20L)) ++
      (1001L to 1100L).map(i => (i, "de", 20L))).toDF("id", "lang", "n_tok")
    val plan = Curation.mixturePlan(df, "lang", "n_tok",
      Map("en" -> 0.5, "de" -> 0.5), budget = 8000L)
    val rates = plan.collect()
      .map(r => r.getString(0) -> r.getAs[Double]("rate")).toMap
    assert(rates("en") === 0.2)   // 4000 of 20000 tokens
    assert(rates("de") === 1.0)   // demand (4000) exceeds supply (2000) → capped
    val kept = Curation.stratifiedSample(df, "id", "lang", rates)
      .groupBy("lang").agg(sum("n_tok").as("t")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept("de") === 2000L)
    assert(math.abs(kept("en") - 4000L) < 800, s"en tokens ${kept("en")}")
  }

  test("capPerKey keeps top-n per key by (order desc, id asc)") {
    import spark.implicits._
    val df = Seq(
      (1L, "x", 50L), (2L, "x", 90L), (3L, "x", 90L), (4L, "x", 10L),
      (5L, "y", 5L))
      .toDF("id", "k", "sz")
    val kept = Curation.capPerKey(df, "k", "id", "sz", n = 2)
      .select("id").as[Long].collect().toSet
    assert(kept === Set(2L, 3L, 5L)) // x: two 90s (id tie-break), y: all
  }

  test("epochShuffle: dense positions, partition-invariant, epoch re-deals") {
    import spark.implicits._
    val df = (1L to 200L).toDF("doc_id")
    val e3 = Curation.epochShuffle(df, "doc_id", epoch = 3, nShards = 8)
      .select("doc_id", "shard_id", "shard_pos")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    // every shard's positions are exactly 0..n-1 (a loader can stream by pos)
    e3.groupBy(_._2).foreach { case (shard, rows) =>
      assert(rows.map(_._3).sorted.toSeq === (0L until rows.length).toSeq,
        s"shard $shard positions must be dense from 0")
    }
    // identical deal at different parallelism — the property RNG shuffles lose
    val e3rep = Curation.epochShuffle(df.repartition(7), "doc_id", 3, 8)
      .select("doc_id", "shard_id", "shard_pos")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(e3rep.toSeq === e3.toSeq)
    // a different epoch re-deals: some document must change shard or position
    val e4 = Curation.epochShuffle(df, "doc_id", epoch = 4, nShards = 8)
      .select("doc_id", "shard_id", "shard_pos")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(e4.toSeq !== e3.toSeq, "epoch must change the deal")
  }

  test("collocations: PMI ranks the glued pair above frequent-but-independent") {
    import spark.implicits._
    // "los angeles" always co-occur; "the" pairs with everything (high count,
    // low PMI); pairs under minCount drop
    val docs = (1 to 30).map { i =>
      (i.toLong, s"the city of los angeles item$i the end")
    }.toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.collocations(docs, "text",
        minCount = 5L, topK = 10)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3)))
    val byPair = got.map(t => (t._1, t._2) -> t._4).toMap
    assert(byPair.contains(("los", "angeles")))
    // "los angeles" is a deterministic phrase; "of los" shares c_ab but "of"
    // also precedes nothing else here — the discriminating comparison is
    // against the promiscuous "the":
    assert(byPair(("los", "angeles")) > byPair(("the", "city")),
      s"glued pair must out-PMI the function-word pair: $byPair")
    // every returned pair cleared the floor
    assert(got.forall(_._3 >= 5L))
  }

  test("keywords: tf-idf surfaces the distinctive term, ubiquitous terms score 0") {
    import spark.implicits._
    val docs = Seq(
      (1L, "common common zebra"),
      (2L, "common giraffe giraffe giraffe"),
      (3L, "common plain")).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.keywords(docs, "doc_id", "text", topK = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getLong(4)))
    val top = got.filter(_._5 == 1L).map(t => t._1 -> t._2).toMap
    assert(top === Map(1L -> "zebra", 2L -> "giraffe", 3L -> "plain"),
      s"rank-1 keyword must be the distinctive term: ${got.mkString(", ")}")
    // "common" appears in every doc: idf = ln(3/3) = 0 -> tfidf exactly 0
    assert(got.filter(_._2 == "common").forall(_._4 === 0.0))
    // giraffe: tf 3, df 1 -> 3 * ln(3) rounded to 6dp
    val g = got.find(t => t._1 == 2L && t._2 == "giraffe").get
    assert(g._4 === BigDecimal(3.0 * math.log(3.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("repeatedSpans flags cross-doc spans, ignores within-doc repeats") {
    import spark.implicits._
    val boiler = "one two three four five six seven eight"
    val docs = Seq(
      (1L, s"alpha $boiler beta"),
      (2L, s"$boiler gamma delta"),
      (3L, "entirely distinct words nine ten eleven twelve thirteen fourteen"),
      // the same 8-token span twice in ONE doc — not cross-doc, not flagged
      (4L, "p1 p2 p3 p4 p5 p6 p7 p8 zz p1 p2 p3 p4 p5 p6 p7 p8"))
      .toDF("doc_id", "text")
    val out = graft.operators.Dedup.repeatedSpans(docs, "doc_id", "text",
        nTokens = 8, minDocs = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out.contains(1L) && out.contains(2L))
    assert(out(1L)._2 === out(2L)._2) // same shared span set
    assert(!out.contains(3L) && !out.contains(4L))
  }

  test("exactTokenSpans: merged token-index spans, exact bounds, crossDocOnly semantics") {
    import spark.implicits._
    val boiler = "one two three four five six seven eight nine" // 9 shared tokens
    val docs = Seq(
      (1L, s"alpha $boiler beta"),       // tokens: alpha + 9 + beta → span [1, 10)
      (2L, s"$boiler gamma delta"),      // span [0, 9)
      (3L, "entirely distinct words here nothing shared at all today friend"),
      // within-doc repeat only → excluded by crossDocOnly, included without
      (4L, "p1 p2 p3 p4 p5 p6 p7 p8 zz p1 p2 p3 p4 p5 p6 p7 p8"))
      .toDF("doc_id", "text")
    val cross = graft.operators.Dedup.exactTokenSpans(docs, "doc_id", "text",
        nTokens = 8, crossDocOnly = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // 9 shared tokens → two 8-token windows per doc, merged into one span.
    assert(cross === Set((1L, 1L, 10L, 2L), (2L, 0L, 9L, 2L)))
    val any = graft.operators.Dedup.exactTokenSpans(docs, "doc_id", "text",
        nTokens = 8, crossDocOnly = false)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(any.contains((4L, 0L, 8L)) && any.contains((4L, 9L, 17L)))
  }
}
