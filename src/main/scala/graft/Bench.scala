package graft
import graft.core.{JobMeter, Measurement}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The measurement entry point: one session setup, three modes.
  *
  *  - `runMain graft.Bench` — the timed board. Runs every registered query on
  *    SPARK_GRAFT_SF_DIR: a full warmup pass first (JIT + codegen + parquet
  *    footer caches), then two timed passes keeping the per-query minimum —
  *    the number that matters at scale is steady-state scan/shuffle
  *    throughput, not first-query JVM warmup. The full JSON record goes to
  *    SPARK_GRAFT_BENCH_OUT (default bench_out.json); stdout ends with one
  *    compact summary line.
  *  - `runMain graft.Bench jobs` — structural metrics, which host CPU steal
  *    cannot move. Per query: one warm execution, then the DataFrame is built
  *    under one [[JobMeter]] block and consumed under another. Writes
  *    `{build_s, build_jobs, sec, jobs, tasks, shuffle_mb}` per query to
  *    SPARK_GRAFT_BENCH_OUT (default bench_jobs.json): `build_*` cover the
  *    build alone, the rest build + consume. Prints every job of the query
  *    (duration, gap since the previous job, tasks, call site) to stdout.
  *  - `runMain graft.Bench explain <names…>` — the formatted physical plan of
  *    each named query.
  *
  * SPARK_GRAFT_BENCH_FILTER, a query-name regex, narrows the board and `jobs`
  * to a few rows for targeted re-measurement; unset, every row runs.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      // The generated-class cache defaults to 100 entries; a 176-query board
      // with several codegen fragments per query evicts everything every
      // pass, so each timed pass re-pays Janino compilation for the whole
      // board — measurement artifact, not workload (the steady state this
      // bench reports is hot-code throughput). Sized to hold the full
      // board's fragments across all passes. Static conf: must be set
      // before the first session in the JVM, i.e. exactly here.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.configure(spark)
    try args.toList match {
      case Nil => board(spark, sfDir)
      case List("jobs") => jobs(spark, sfDir)
      case "explain" :: names if names.nonEmpty => names.foreach { name =>
        println(s"========== $name ==========")
        SparkEntry.queries(name)(spark, sfDir).explain("formatted")
      }
      case _ => throw new IllegalArgumentException(
        s"usage: graft.Bench [jobs | explain <query>…]; got: ${args.mkString(" ")}")
    } finally spark.stop()
  }

  // Consume via the noop sink, not count(): count() lets Catalyst prune every
  // projection it doesn't need, so map-only queries would time as near-free.
  // The noop writer materializes every output row in full, then discards it.
  private def consume(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def selected: Seq[(String, (SparkSession, String) => DataFrame)] = {
    val nameFilter = sys.env.get("SPARK_GRAFT_BENCH_FILTER").map(_.r)
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => nameFilter.forall(_.matches(n)) }
  }

  // Millisecond precision keeps the JSON records short.
  private def fmt(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)

  private def jstr(s: String): String =
    "\"" + s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"
                       case c if c < ' ' => " "; case c => c.toString } + "\""

  private def writeOut(defaultPath: String, json: String): String = {
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", defaultPath)
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    outPath
  }

  private def board(spark: SparkSession, sfDir: String): Unit = {
    val queries = selected
    // Pass-boundary wall stamps on stderr: the r16 driver run timed out
    // (rc=124) with no visibility into WHERE the wall went; these lines cost
    // nothing and make any future timeout diagnosable from the log tail.
    def stamp(msg: String): Unit =
      System.err.println(s"BENCH PASS $msg t=${System.nanoTime() / 1000000000L}s")
    // The warmup pass exists to JIT-compile and codegen-cache every query's
    // code paths, not to measure anything — at the bench SF it cost 411 s of
    // the r16-timeout-sized wall (stamps, this session). Run it on the
    // smaller sf0.01 sibling when one exists next to a LARGER target dir:
    // same queries, same operators, same generated-class cache keys, ~5× less
    // wall. The TIMED passes below are untouched (same SF, same two-pass min
    // methodology); any residual first-pass warmth lands on pass 1 and the
    // per-query min keeps the steady-state number. Documented in
    // OPTIMIZATION_r17.md ("Measurement changes").
    val warmupDir = {
      val parent = new java.io.File(sfDir).getParentFile
      val sib = if (parent == null) null else new java.io.File(parent, "sf0.01")
      val base = new java.io.File(sfDir).getName
      if (sib != null && sib.isDirectory && (base == "sf0.1" || base == "sf1" || base == "sf10"))
        sib.getPath
      else sfDir
    }
    stamp(s"warmup start (dir=$warmupDir)")
    queries.foreach { case (_, fn) =>
      try consume(fn(spark, warmupDir)) catch { case _: Throwable => }
    }
    stamp("warmup done")
    // ------------------------------------------------------- host controls
    // Three rounds of SCALE.md addenda re-litigated the same finding: a loud
    // host penalizes MANY-SHORT-JOB queries (scheduler/dispatch overhead)
    // while sparing single-scan queries, so raw cross-round deltas on
    // short-job rows masquerade as regressions. Two FROZEN control workloads
    // run inside every bench (before, between, and after the timed passes;
    // min kept) and their times ship in the JSON, so any BENCH_r*.json pair
    // is self-normalizing — no more manual worktree A/B.
    //   scan      — ONE wide CPU-bound job (range → modular sum), the
    //               single-long-job shape the noise historically SPARES
    //   shortjobs — 20 sequential 2-stage jobs of 32 tiny tasks each,
    //               pricing job-scheduling overhead, the observed noise mode
    // Both are synthetic (spark.range), so the pins are SF-INDEPENDENT —
    // the same control means the same work at sf0.01 and sf1. The *_pin
    // values are this host QUIET (round 15, min over interleaved runs);
    // `normalized` = raw × (shortjobs_pin / shortjobs_measured), a
    // first-order host correction for the short-job noise mode. Controls are
    // deliberately NOT SparkEntry queries: they must stay frozen across
    // rounds for the ratios to mean anything.
    // quiet-floor pins, measured round 15 over interleaved runs on the
    // driver host (observed quiet: scan 0.123, shortjobs 3.09; the SAME
    // calibration session also saw 7.2s shortjobs minutes later — the noise
    // mode these controls exist to expose)
    val scanPin = 0.12
    val shortjobsPin = 3.00
    def controlScan(): Unit = {
      import org.apache.spark.sql.functions._
      spark.range(200000000L).select(sum(col("id") % 7)).collect()
    }
    def controlShortJobs(): Unit = {
      import org.apache.spark.sql.functions._
      (1 to 20).foreach { i =>
        spark.range(20000).withColumn("k", col("id") % 10)
          .groupBy("k").agg(count(lit(1))).collect()
      }
    }
    def timed(body: () => Unit): Double = {
      val t0 = System.nanoTime(); body(); (System.nanoTime() - t0) / 1e9
    }
    // warm the controls once with the main warmup, then interleave
    controlScan(); controlShortJobs()
    var ctlScan = Double.MaxValue
    var ctlShort = Double.MaxValue
    def sampleControls(): Unit = {
      ctlScan = math.min(ctlScan, timed(() => controlScan()))
      ctlShort = math.min(ctlShort, timed(() => controlShortJobs()))
    }

    // Two timed passes, keep the per-query minimum: steady-state throughput is
    // the quantity of interest, and the min is robust to a transient external
    // CPU burst landing on one query in one pass. A query that THROWS is
    // recorded in `errors` (and printed to stderr) instead of being silently
    // timed as near-0 s — a broken query must never masquerade as a fast one.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def timedPass(): Map[String, Double] = queries.map { case (name, fn) =>
      val t0 = System.nanoTime()
      try consume(fn(spark, sfDir)) catch { case e: Throwable =>
        val msg = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}"
        errors(name) = msg
        System.err.println(s"BENCH ERROR $name — $msg")
      }
      name -> (System.nanoTime() - t0) / 1e9
    }.toMap
    sampleControls()
    stamp("timed1 start")
    val p1 = timedPass()
    stamp("timed1 done")
    sampleControls()
    stamp("timed2 start")
    val p2 = timedPass()
    stamp("timed2 done")
    sampleControls()
    val results = queries.map { case (name, _) =>
      name -> math.min(p1(name), p2(name))
    }
    // conservative correction: only discount noise (never inflate a
    // quieter-than-pin run), and never discount by more than 4× — a factor
    // outside the clamp means the pins need re-calibration, not trusting
    val hostFactor =
      math.max(0.25, math.min(1.0, shortjobsPin / math.max(ctlShort, 1e-9)))
    val qs = results.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // the scan-side factor ships too: r15's three full runs exposed a SECOND
    // noise mode (CPU-scan dilation with QUIET short-jobs — scan control
    // 0.190/0.158/0.072 across runs) that the shortjobs factor cannot see
    val hostFactorScan =
      math.max(0.25, math.min(1.0, scanPin / math.max(ctlScan, 1e-9)))
    val control = s"""{"scan":${fmt(ctlScan)},"shortjobs":${fmt(ctlShort)},""" +
      s""""scan_pin":${fmt(scanPin)},"shortjobs_pin":${fmt(shortjobsPin)},""" +
      s""""host_factor":${fmt(hostFactor)},"host_factor_scan":${fmt(hostFactorScan)}}"""
    val normalized = s"""{"total":${fmt(total * hostFactor)}}"""
    val errJson =
      if (errors.isEmpty) ""
      else errors.map { case (k, v) => jstr(k) + ":" + jstr(v) }
        .mkString(""","errors":{""", ",", "}")
    val json = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"control":$control,"normalized":$normalized$errJson,"sf":${jstr(sfDir)},"warmup":${jstr(warmupDir)}}"""
    // The full record goes to a file: scraping it from the sbt log tail is
    // fragile (log interleaving left BENCH_r02's parsed field null), and at
    // ~4.5 KB it overflows a ~2,000-character stdout-tail capture (BENCH_r15
    // and r17 `parsed: null`). Stdout ends with a compact summary instead.
    val outPath = writeOut("bench_out.json", json)
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n":${results.size},""" +
      s""""errors":${errors.size},"normalized":$normalized,"warmup":${jstr(warmupDir)},""" +
      s""""out":${jstr(outPath)}}""")
  }

  private def jobs(spark: SparkSession, sfDir: String): Unit = {
    val rows = selected.flatMap { case (name, fn) =>
      try {
        consume(fn(spark, sfDir)) // warm: JIT, codegen, footer caches
        var df: DataFrame = null
        val build = JobMeter.measure(spark) { df = fn(spark, sfDir) }
        val run = JobMeter.measure(spark)(consume(df))
        val (sec, nJobs) = (build.wallS + run.wallS, build.jobs + run.jobs)
        val tasks = build.tasks + run.tasks
        val shuffleMb = (build.shuffleWriteBytes + run.shuffleWriteBytes) / 1e6
        println(s"== $name build=${fmt(build.wallS)}s build_jobs=${build.jobs} " +
          s"sec=${fmt(sec)} jobs=$nJobs tasks=$tasks shuffleMB=${fmt(shuffleMb)}")
        printJobs("build", build); printJobs("run", run)
        Some(s"""${jstr(name)}:{"build_s":${fmt(build.wallS)},"build_jobs":${build.jobs},""" +
          s""""sec":${fmt(sec)},"jobs":$nJobs,"tasks":$tasks,"shuffle_mb":${fmt(shuffleMb)}}""")
      } catch { case e: Throwable =>
        System.err.println(s"BENCH JOBS ERROR $name — ${e.getClass.getSimpleName}: " +
          Option(e.getMessage).getOrElse("").take(200))
        None
      }
    }
    writeOut("bench_jobs.json", rows.mkString("{", ",", "}"))
  }

  /** One line per job: wall, idle gap since the previous job ended (planning
    * and other work between jobs), planned tasks, call site.
    */
  private def printJobs(phase: String, m: Measurement): Unit = {
    var prevEnd = 0L
    m.records.foreach { j =>
      val gap = if (prevEnd == 0) 0.0 else (j.start - prevEnd) / 1e3
      prevEnd = math.max(prevEnd, j.end)
      println(f"  $phase%-5s job ${j.id}%4d dur=${(j.end - j.start) / 1e3}%7.3fs " +
        f"gap=$gap%7.3fs tasks=${j.tasks}%4d ${j.site}")
    }
  }
}
