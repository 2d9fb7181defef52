package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.api.McpServer
import graft.core.CollectionManager
import graft.functions.{FilterDsl, Formatting, HashingEmbedder, TextSplitter}
import graft.operators.{Bm25Indexer, Indexing, Search, VectorIndexer}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A workload: the request mix, and whether a fixed count of update ticks
  * each followed by one request makes up the run. Otherwise the requests run
  * alone for the measured seconds and a fixed count of update-only ticks
  * follows them.
  */
final case class Workload(name: String, mix: IndexedSeq[String], interleaved: Boolean, why: String)

/** The product benchmark. One closed-loop client drives the engine through
  * its public surfaces: `McpServer.handleLine` for search, filtered search,
  * boolean match and fetch, and `CollectionManager.create/update/delete`.
  * An update tick is an `update` of ~1% of the documents and, on
  * `update_mixed`, a small `delete`. The client waits for each reply.
  *
  * `--trace 0` measures the end-to-end metrics with no listener and no spans.
  * `--trace 1` is a separate run that times calls into each layer's public
  * functions from outside (`api`, `core`, `functions`, `operators`) and counts
  * their Spark work with a listener.
  *
  * Usage: `Main --workload W --seed N --seconds S --trace 0|1 --out FILE --work DIR`
  */
object Main {
  val Workloads: Seq[Workload] = Seq(
    Workload("agent_small", mix = Gen.AgentMix, interleaved = false,
      why = "2k docs, agent mix of search, filtered search, match and fetch, then a warm-up " +
        "update and three measured updates: fixed per-request cost (table opens, plan " +
        "construction, job scheduling) dominates; scan work is small"),
    Workload("update_mixed", mix = Gen.SearchMix, interleaved = true,
      why = "same 2k docs; four fixed ticks, each an update of ~1% and a delete of ~0.2%, " +
        "each followed by one search that pays for the BM25 delta/tombstone tail the ticks grow"))

  /** Workloads the benchmark does not run, and why. */
  val Dropped: Seq[(String, String)] = Seq(
    "agent_large" -> ("at 16k docs (43k chunks) a search took 1.3 s against 1.0 s at 2k docs, " +
      "so fixed per-request cost still dominated; a collection large enough for the scan " +
      "to dominate takes a minute to create, beyond the time one run may take"),
    "toolkit_batch" -> ("its inputs are fixed tables outside the checkout, a run may read " +
      "only inside it, and its seven rows take longer than one run may take"))

  val Collection = "bench"
  /** Both workloads serve the same corpus size, so their search latencies
    * differ only by the BM25 tail the ticks grow.
    */
  val Docs = 2000
  /** Set-up runs this many times per run; `setup_s` is the median. */
  val Setups = 3
  val WarmupTick = 1000
  /** Measured ticks, fixed so that the collection's state at the end of a run
    * (BM25 tail, stored bytes) does not depend on how fast the code runs.
    */
  val TicksAfterRequests = 3
  val InterleavedTicks = 4
  val K = Gen.ChunksPerSearch

  private val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val wl = Workloads.find(_.name == opt("workload")).getOrElse(
      throw new IllegalArgumentException(s"unknown workload ${opt("workload")}; " +
        s"known: ${Workloads.map(_.name).mkString(", ")}"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = new File(opt("work")).getAbsoluteFile
    val cores = Runtime.getRuntime.availableProcessors()

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").toURI.toString)
      .getOrCreate()
    try {
      spark.sparkContext.setLogLevel("ERROR")
      graft.SparkEntry.configure(spark)
      val run = new Run(spark, wl, seed, seconds, traced, new File(work, "collections"))
      val out = run.execute()
      out.put("cores", cores)
      Files.write(Paths.get(opt("out")),
        mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(out))
    } finally spark.stop()
  }
}

/** One run of one workload. */
final class Run(spark: SparkSession, wl: Workload, seed: Long, seconds: Double,
                traced: Boolean, baseDir: File) {
  import Main.{Collection, K}

  private val mapper = new ObjectMapper()
  private val embedder = HashingEmbedder.default
  private val cm = new CollectionManager(spark, baseDir.toURI.toString.stripSuffix("/"), embedder)
  private val gen = new Gen(seed, Main.Docs)
  private lazy val counter = new WorkCounter(spark.sparkContext)
  private lazy val tracer = new Tracer(counter)
  private val collDir = new File(baseDir, Collection)
  private def chunksPath = new File(collDir, "chunks").toURI.toString
  private def bm25Dir = new File(collDir, "indexes/bm25").toURI.toString

  // expected collection state: live id -> generated document
  private val live = mutable.TreeMap.empty[String, Doc]
  private var nextId = Main.Docs

  private val latencies = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private def record(kind: String, s: Double): Unit =
    latencies.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += s
  private var attempted = 0L
  private val failures = mutable.ArrayBuffer.empty[String]
  private def fail(what: String): Unit = {
    failures += what
    System.err.println(s"[perfbench] FAILED: $what")
  }
  private val phases = mutable.LinkedHashMap.empty[String, Double]
  // seconds since the JVM started
  private def phase(name: String): Unit =
    phases(name) = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
  phase("session_ready")
  // latency of every untraced request, in the order served
  private val served = mutable.ArrayBuffer.empty[Double]

  private def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def docsFrame(docs: Seq[Doc]): DataFrame = {
    val schema = StructType(Seq(
      StructField("id", StringType, nullable = false),
      StructField("url", StringType),
      StructField("metadata", MapType(StringType, StringType)),
      StructField("text", StringType)))
    spark.createDataFrame(
      docs.map(d => Row(d.id, d.url, d.metadata, d.text)).asJava, schema)
  }

  private def textBytes(docs: Iterable[Doc]): Long =
    docs.iterator.map(_.text.getBytes(StandardCharsets.UTF_8).length.toLong).sum

  private def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum else f.length()

  // ------------------------------------------------------------------ set-up

  private def setup(): Seq[Double] = {
    val docs = gen.corpus
    val n = if (traced) 1 else Main.Setups
    val times = (0 until n).map { i =>
      val name = if (i == n - 1) Collection else s"setup$i"
      val (_, s) = time(cm.create(name, docsFrame(docs)))
      if (name != Collection) deleteDir(new File(baseDir, name))
      s
    }
    docs.foreach(d => live(d.id) = d)
    times
  }

  private def deleteDir(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteDir)
    f.delete()
  }

  // ---------------------------------------------------------------- requests

  private val toonHeader = """^(\w+)\[(\d+)\]""".r.unanchored

  /** Checks one MCP reply; returns false (and records why) when it is wrong. */
  private def checkReply(q: Request, reply: Option[String]): Boolean = {
    val root = reply.map(mapper.readTree).orNull
    val result = if (root == null) null else root.get("result")
    val text = if (result == null) "" else result.path("content").path(0).path("text").asText("")
    val rows = text match {
      case toonHeader(_, n) => n.toInt
      case _                => -1
    }
    val ok = result != null && !result.path("isError").asBoolean(false) && (q.kind match {
      case Gen.Search | Gen.SearchFiltered => text.startsWith("documents[") && rows >= 1 && rows <= K
      case Gen.Match =>
        text.startsWith("matches[") && rows >= 0 &&
          (!q.text.split(" AND ").exists(t => gen.ghosts.contains(t)) || rows == 0)
      case Gen.Fetch => text.startsWith("document[") && rows == 1
      case _         => false
    })
    if (!ok) fail(s"${q.kind} ${q.text}: ${text.take(200)}")
    ok
  }

  private def serve(server: McpServer, q: Request): Unit = {
    attempted += 1
    val (reply, s) = time(server.handleLine(q.line))
    served += s
    record(q.kind, s)
    checkReply(q, reply)
  }

  /** The traced form of one request: the MCP call itself, then the same
    * request decomposed into calls on each layer's public functions.
    */
  private def serveTraced(server: McpServer, q: Request): Unit = {
    attempted += 1
    val request = tracer.newRequest()
    // a plain search also runs once with the listener off, first on even
    // requests and second on odd ones, for the tracing overhead
    def untraced(): Unit = if (q.kind == Gen.Search) {
      spark.sparkContext.removeSparkListener(counter)
      try untracedSearch += time(server.handleLine(q.line))._2
      finally spark.sparkContext.addSparkListener(counter)
    }
    if (request % 2 == 0) untraced()
    val reply = tracer.span("api.mcp.request")(server.handleLine(q.line))
    if (request % 2 == 1) untraced()
    checkReply(q, reply)
    readRequests += request
    tracer.span("request.layers")(q.kind match {
      case Gen.Search | Gen.SearchFiltered => decomposeSearch(q, request)
      case Gen.Match =>
        tracer.span("operators.match.exec")(
          cm.booleanSearch(Collection, q.text, includeSnippet = true).collect())
      case Gen.Fetch =>
        val df = tracer.span("core.fetch.build")(cm.fetch(Collection, q.text, 1, 250))
        tracer.span("core.fetch.exec")(df.collect())
    })
  }
  private val readRequests = mutable.Set.empty[Int]

  private def decomposeSearch(q: Request, request: Int): Unit = {
    tracer.span("core.manifest.read")(cm.readManifest(Collection))
    tracer.span("core.table_open") { cm.chunks(Collection); cm.documents(Collection) }
    tracer.span("functions.embed")(embedder.embed(q.text))
    val filterCol = q.filter.map(f =>
      tracer.span("functions.filter_compile")(FilterDsl.metadataFilterColumn(f, col("metadata"))))
    tracer.span("core.search") {
      val df = tracer.span("core.search.build")(cm.search(Collection, q.text,
        maxChunks = K, maxDocs = K, metadataFilter = q.filter, includeMatchedChunkContent = true))
      val rows = tracer.span("core.search.exec")(df.collect())
      tracer.span("api.mcp.format")(
        Formatting.toon(spark.createDataFrame(rows.toSeq.asJava, df.schema), "documents"))
      resultRows(request) = rows.length
    }
    val vec = tracer.span("operators.vector_topk") {
      val df = tracer.span("operators.vector_topk.build")(
        new VectorIndexer(spark, chunksPath, embedder).search(q.text, K, filterCol))
      (tracer.span("operators.vector_topk.exec")(df.collect()), df.schema)
    }
    val bm = tracer.span("operators.bm25") {
      val df = tracer.span("operators.bm25.build")(
        new Bm25Indexer(spark, bm25Dir, chunksPath).search(q.text, K, filterCol))
      (tracer.span("operators.bm25.exec")(df.collect()), df.schema)
    }
    def local(r: (Array[Row], StructType)) = spark.createDataFrame(r._1.toSeq.asJava, r._2)
    val fused = tracer.span("operators.rrf.exec")(
      Search.rrfFuse(Seq(local(vec), local(bm)), "chunkId", "score", Seq(true, false), 60, K)
        .collect())
    val ranked = spark.createDataFrame(
      fused.toSeq.zipWithIndex.map { case (r, i) => Row(r.getAs[Long]("chunkId"), i + 1) }.asJava,
      StructType(Seq(StructField("chunkId", LongType), StructField("rank", IntegerType))))
    tracer.span("operators.group_docs.exec")(
      Search.groupIntoDocuments(ranked,
        cm.chunks(Collection).select("chunkId", "documentId", "documentUrl", "chunkNumber", "indexedData"),
        K, Search.Projection(includeMatchedChunkContent = true)).collect())
  }
  private val resultRows = mutable.Map.empty[Int, Int]
  private val untracedSearch = mutable.ArrayBuffer.empty[Double]

  // ------------------------------------------------------------------ writes

  /** Tick `t`: one `update` and, with `deletes`, one `delete`, then the
    * checks. A warm-up tick is neither timed nor traced.
    */
  private def tick(t: Int, measured: Boolean = true, deletes: Boolean = true): Unit = {
    val generated = gen.tick(t, live.keysIterator.toIndexedSeq, nextId)
    val tk = if (deletes) generated else generated.copy(deletes = Nil)
    val batch = docsFrame(tk.upserts)
    def span[T](name: String)(body: => T): T = if (traced && measured) tracer.span(name)(body) else body
    if (traced && measured) {
      tracer.newRequest()
      val split = tracer.span("functions.split")(
        Indexing.splitDocuments(batch, TextSplitter.default).collect())
      val splitDf = spark.createDataFrame(split.toSeq.asJava,
        Indexing.splitDocuments(batch, TextSplitter.default).schema)
      tracer.span("operators.build_chunks")(
        Indexing.buildChunks(splitDf, embedder).write.format("noop").mode("overwrite").save())
    }
    attempted += 1
    val (_, us) = time(span("core.update")(cm.update(Collection, batch)))
    if (measured) {
      record("update", us)
      updateInputBytes += textBytes(tk.upserts)
    }
    if (deletes) {
      attempted += 1
      val (_, ds) = time(span("core.delete")(cm.delete(Collection, tk.deletes)))
      if (measured) record("delete", ds)
    }
    tk.upserts.foreach(d => live(d.id) = d)
    tk.deletes.foreach(live.remove)
    nextId += tk.added
    checkTick(tk)
  }
  private var updateInputBytes = 0L

  /** After a tick: the manifest counts the expected documents, deleted ids
    * fetch no row and replaced or new ids fetch their new text.
    */
  private def checkTick(tk: Tick): Unit = {
    attempted += 1
    val m = cm.readManifest(Collection)
    if (m.numberOfDocuments != live.size)
      fail(s"manifest counts ${m.numberOfDocuments} documents, expected ${live.size}")
    tk.deletes.take(2).foreach { id =>
      attempted += 1
      val n = cm.fetch(Collection, id).count()
      if (n != 0) fail(s"deleted $id still fetches $n rows")
    }
    // one replaced and one new document
    Seq(tk.upserts.head, tk.upserts.last).foreach { d =>
      attempted += 1
      val rows = cm.fetch(Collection, d.id, 1, Int.MaxValue / 2).collect()
      if (rows.length != 1 || rows(0).getAs[String]("content") != d.text)
        fail(s"${d.id} does not fetch its new revision")
    }
  }

  /** Sampled vector top-k lists equal a brute-force exact L2 top-k computed
    * here over the collected embeddings (same double accumulation, ties by
    * chunkId).
    */
  private def checkVectorTopK(queries: Seq[String]): Unit = {
    val all = cm.chunks(Collection).select("chunkId", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    queries.foreach { q =>
      attempted += 1
      val v = embedder.embed(q)
      val expected = all.map { case (id, e) =>
        var s = 0.0; var i = 0
        val n = math.min(e.length, v.length)
        while (i < n) { val d = e(i).toDouble - v(i); s += d * d; i += 1 }
        (s, id)
      }.sorted.take(K).map(_._2).toSeq
      val got = new VectorIndexer(spark, chunksPath, embedder).search(q, K, None)
        .collect().map(_.getLong(0)).toSeq
      if (got != expected) fail(s"vector top-$K for '$q': got $got, brute force $expected")
    }
  }

  /** What the generator's assumed shares give on this run's collection:
    * the chunks each filter keeps, the documents whose text spans several
    * chunks (each document also has one header chunk, its id), and the
    * documents of each language.
    */
  private def inputShares(out: ObjectNode): Unit = {
    val chunks = cm.chunks(Collection)
    val total = chunks.count().toDouble
    val kept = out.putObject("filter_chunk_share")
    Gen.Filters.foreach(f =>
      kept.put(f, chunks.filter(FilterDsl.metadataFilterColumn(f, col("metadata"))).count() / total))
    val bodyChunks = chunks.groupBy("documentId").count().collect().map(_.getLong(1) - 1)
    out.put("multi_chunk_document_share", bodyChunks.count(_ > 1).toDouble / bodyChunks.length)
    out.put("max_chunks_per_document", bodyChunks.max)
    val langs = out.putObject("lang_document_share")
    live.values.groupBy(_.metadata("lang")).toSeq.sortBy(_._1).foreach { case (l, ds) =>
      langs.put(l, ds.size.toDouble / live.size)
    }
  }

  // -------------------------------------------------------------------- run

  def execute(): ObjectNode = {
    Gen.selfTest(seed, Main.Docs)
    val (_, genS) = time(gen.corpus)
    val setupTimes = setup()
    phase("setup_done")
    val server = new McpServer(cm, Some(Seq(Collection)), "toon")

    // warm-up, untimed, from its own request index range: one cycle of the
    // mix
    val warmFrom = 1200000
    val warmIds = live.keysIterator.toIndexedSeq
    (warmFrom until warmFrom + wl.mix.size)
      .map(gen.request(_, wl.mix, Collection, warmIds))
      .foreach(q => checkReply(q, server.handleLine(q.line)))
    phase("warmup_done")

    val searchTexts = mutable.ArrayBuffer.empty[String]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    def due = System.nanoTime() >= deadline
    if (traced) spark.sparkContext.addSparkListener(counter)
    val kinds = mutable.Set.empty[String]
    var i = 0
    def next(ids: IndexedSeq[String]): Unit = {
      val q = gen.request(i, wl.mix, Collection, ids)
      if (q.kind == Gen.Search) searchTexts += q.text
      if (traced) serveTraced(server, q) else serve(server, q)
      kinds += q.kind
      i += 1
    }
    if (wl.interleaved) {
      // a fixed count of ticks, each followed by one request; no warm-up
      // tick, as the run budget has no room for one, so the first measured
      // update is the run's first and the median of four leaves it out
      (0 until Main.InterleavedTicks).foreach { t =>
        tick(t)
        next(live.keysIterator.toIndexedSeq)
      }
    } else {
      // requests until the time is up, then a warm-up tick, since the first
      // update of a run is the slow one, and a fixed count of measured ticks;
      // these ticks only update, as deletes are update_mixed's to measure and
      // the time a delete takes buys one more update sample here
      val ids = live.keysIterator.toIndexedSeq
      while (!(due && kinds.size == wl.mix.distinct.size)) next(ids)
      tick(Main.WarmupTick, measured = false, deletes = false)
      (0 until Main.TicksAfterRequests).foreach(tick(_, deletes = false))
    }
    if (traced) {
      // every layer is traced in every workload: one request of each kind
      // the mix lacks
      val ids = live.keysIterator.toIndexedSeq
      Gen.AgentMix.distinct.filterNot(kinds).foreach { k =>
        val j = Iterator.from(warmFrom * 2).find(j => Gen.AgentMix(j % Gen.AgentMix.size) == k).get
        serveTraced(server, gen.request(j, Gen.AgentMix, Collection, ids))
      }
    }
    phase("loop_done")
    checkVectorTopK(searchTexts.distinct.take(3).toSeq)
    phase("checks_done")

    val out = mapper.createObjectNode()
    out.put("workload", wl.name)
    out.put("why", wl.why)
    out.put("seed", seed)
    out.put("seconds", seconds)
    out.put("traced", traced)
    out.put("documents", Main.Docs)
    out.put("live_documents", live.size)
    val m = cm.readManifest(Collection)
    out.put("chunks", m.numberOfChunks)
    out.put("corpus_text_bytes", textBytes(gen.corpus))
    out.put("generator_digest", gen.digest(Collection, 2))
    out.put("generate_s", genS)
    out.put("warmup", if (wl.interleaved) "one search"
      else "one cycle of the mix before the requests, one update before the measured updates")
    out.put("ticks", latencies.get("update").map(_.size).getOrElse(0))
    val setupSamples = out.putArray("setup_samples_s")
    setupTimes.foreach(x => setupSamples.add(x))
    out.put("attempted", attempted)
    out.put("failed", failures.size)
    val fl = out.putArray("failures")
    failures.take(20).foreach(fl.add)

    val ph = out.putObject("phases_s")
    phases.foreach { case (k, v) => ph.put(k, v) }
    val samples = out.putObject("latency_samples_s")
    for ((kind, xs) <- latencies) {
      val a = samples.putArray(kind)
      xs.foreach(x => a.add(x))
    }
    val metrics = out.putObject("metrics")
    def put(name: String, value: Double, unit: String, n: Int = 1): Unit = {
      val o = metrics.putObject(name)
      o.put("value", value)
      o.put("unit", unit)
      o.put("n", n)
    }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.isEmpty) Double.NaN
      else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val storedBytes = dirBytes(collDir).toDouble / textBytes(live.values)

    if (!traced) {
      put("setup_s", median(setupTimes), "s", setupTimes.size)
      // over whole cycles of the mix, so every run weighs the kinds alike
      val whole = served.size / wl.mix.size * wl.mix.size
      put("requests_per_s", whole / served.take(whole).sum, "1/s", whole)
      // no p90: a run has far fewer than the hundred samples that would put
      // ten beyond it
      for ((kind, xs) <- latencies) put(s"${kind}_p50_s", median(xs.toSeq), "s", xs.size)
      put("stored_bytes_per_input_byte", storedBytes, "ratio")
      put("failed_share", failures.size.toDouble / attempted, "ratio", attempted.toInt)
    } else {
      val n = tracer.named _
      def seconds(span: String) = n(span).map(_.seconds)
      def workMetric(metric: String, unit: String, spans: Seq[Span])(f: Work => Double): Unit = {
        val xs = spans.flatMap(s => tracer.work.get(s.id)).map(f)
        put(metric, median(xs), unit, xs.size)
      }
      def timeMetric(metric: String, span: String): Unit = {
        val xs = seconds(span)
        put(metric, median(xs), "s", xs.size)
      }
      // MCP requests that ran a plain search
      val searchRequests = n("api.mcp.request").filter(r => n("core.search").exists(_.request == r.request) &&
        n("functions.filter_compile").forall(_.request != r.request))
      put("api.mcp.search_s", median(searchRequests.map(_.seconds)), "s", searchRequests.size)
      workMetric("api.mcp.search_jobs", "count", searchRequests)(_.jobs.toDouble)
      timeMetric("api.mcp.format_s", "api.mcp.format")
      timeMetric("core.manifest.read_s", "core.manifest.read")
      timeMetric("core.table_open_s", "core.table_open")
      workMetric("core.table_open.jobs", "count", n("core.table_open"))(_.jobs.toDouble)
      timeMetric("core.search.build_s", "core.search.build")
      workMetric("core.search.build_jobs", "count", n("core.search.build"))(_.jobs.toDouble)
      timeMetric("core.search.exec_s", "core.search.exec")
      workMetric("core.search.jobs", "count", n("core.search.exec"))(_.jobs.toDouble)
      workMetric("core.search.tasks", "count", n("core.search.exec"))(_.tasks.toDouble)
      workMetric("core.search.records_read", "count", n("core.search.exec"))(_.recordsRead.toDouble)
      workMetric("core.search.shuffle_bytes", "bytes", n("core.search.exec"))(_.shuffleBytes.toDouble)
      val perResult = n("core.search.exec").flatMap { s =>
        tracer.work.get(s.id).map(w => w.recordsRead.toDouble / math.max(1, resultRows.getOrElse(s.request, 1)))
      }
      put("core.search.records_per_result", median(perResult), "count", perResult.size)
      timeMetric("functions.embed_s", "functions.embed")
      timeMetric("functions.filter_compile_s", "functions.filter_compile")
      for (op <- Seq("vector_topk", "bm25")) {
        timeMetric(s"operators.$op.build_s", s"operators.$op.build")
        timeMetric(s"operators.$op.exec_s", s"operators.$op.exec")
        workMetric(s"operators.$op.jobs", "count", n(s"operators.$op"))(_.jobs.toDouble)
        workMetric(s"operators.$op.records_read", "count", n(s"operators.$op.exec"))(_.recordsRead.toDouble)
      }
      put("operators.bm25.tail_segments", cm.bm25TailSegments(Collection).toDouble, "count")
      put("operators.bm25.tail_bytes", cm.bm25TailBytes(Collection).toDouble, "bytes")
      timeMetric("operators.rrf.exec_s", "operators.rrf.exec")
      timeMetric("operators.group_docs.exec_s", "operators.group_docs.exec")
      workMetric("operators.group_docs.jobs", "count", n("operators.group_docs.exec"))(_.jobs.toDouble)
      timeMetric("operators.match.exec_s", "operators.match.exec")
      workMetric("operators.match.jobs", "count", n("operators.match.exec"))(_.jobs.toDouble)
      timeMetric("core.fetch.build_s", "core.fetch.build")
      timeMetric("core.fetch.exec_s", "core.fetch.exec")
      workMetric("core.fetch.jobs", "count", n("core.fetch.exec"))(w => w.jobs.toDouble)
      timeMetric("functions.split_s", "functions.split")
      timeMetric("operators.build_chunks_s", "operators.build_chunks")
      timeMetric("core.update_s", "core.update")
      workMetric("core.update.jobs", "count", n("core.update"))(_.jobs.toDouble)
      workMetric("core.update.bytes_read", "bytes", n("core.update"))(_.bytesRead.toDouble)
      workMetric("core.update.bytes_written", "bytes", n("core.update"))(_.bytesWritten.toDouble)
      val written = n("core.update").flatMap(s => tracer.work.get(s.id)).map(_.bytesWritten).sum
      put("core.update.bytes_written_per_input_byte", written.toDouble / math.max(1L, updateInputBytes), "ratio")
      put("stored_bytes_per_input_byte", storedBytes, "ratio")
      // the share of each decomposed request's time spent inside the layer
      // calls it is made of; the rest is glue between them, untraced
      val coverage = n("request.layers").map { r =>
        tracer.spans.iterator.filter(_.parent == r.id).map(_.seconds).sum / r.seconds
      }
      put("trace.coverage", median(coverage), "ratio", coverage.size)
      val tracedSearch = searchRequests.map(_.seconds)
      put("trace.overhead_s", median(tracedSearch) - median(untracedSearch.toSeq), "s", tracedSearch.size)
      put("trace.untraced_search_p50_s", median(untracedSearch.toSeq), "s", untracedSearch.size)
      put("trace.traced_search_p50_s", median(tracedSearch), "s", tracedSearch.size)

      // per-layer self time over the whole traced run; the MCP request span
      // is the undivided call, the rest are its layers called one by one
      def selfTimes(spans: Seq[Span]) = spans.groupBy(_.name).map { case (name, ss) =>
        name -> ss.map(tracer.selfSeconds).sum
      } -- Seq("api.mcp.request", "request.layers")
      val all = selfTimes(tracer.spans.toSeq)
      val st = out.putObject("self_seconds")
      all.toSeq.sortBy(_._1).foreach { case (k, v) => st.put(k, v) }
      out.put("dominant_layer", all.maxBy(_._2)._1)
      // over the read requests only, leaving the ticks out
      val reads = selfTimes(tracer.spans.filter(s => readRequests(s.request)).toSeq)
      val rt = out.putObject("read_self_seconds")
      reads.toSeq.sortBy(_._1).foreach { case (k, v) => rt.put(k, v) }
      out.put("dominant_read_layer", reads.maxBy(_._2)._1)
      inputShares(out)
      // each workload's rationale, measured: on agent_small plan construction
      // is a large share of a search and the exact-L2 scan a small one; on
      // update_mixed the ticks take most of the client's time
      def med(span: String) = median(seconds(span))
      val constructionShare = med("core.search.build") / (med("core.search.build") + med("core.search.exec"))
      val scanShare = med("operators.vector_topk.exec") / median(searchRequests.map(_.seconds))
      val writeSeconds = (n("core.update") ++ n("core.delete")).map(_.seconds).sum
      val writeShare = writeSeconds / (writeSeconds + searchRequests.map(_.seconds).sum)
      out.put("construction_share", constructionShare)
      out.put("scan_share", scanShare)
      out.put("write_share", writeShare)
      out.put("rationale_check",
        if (wl.interleaved) "write_share > 0.5"
        else "construction_share >= 0.3 and scan_share < 0.2")
      out.put("rationale_holds",
        if (wl.interleaved) writeShare > 0.5
        else constructionShare >= 0.3 && scanShare < 0.2)
      val spansOut = out.putArray("spans")
      tracer.spans.foreach { s =>
        val o = spansOut.addObject()
        o.put("id", s.id); o.put("name", s.name); o.put("parent", s.parent)
        o.put("request", s.request); o.put("start_ns", s.startNs); o.put("end_ns", s.endNs)
        tracer.work.get(s.id).foreach { w =>
          o.put("jobs", w.jobs); o.put("tasks", w.tasks); o.put("records_read", w.recordsRead)
          o.put("bytes_read", w.bytesRead); o.put("bytes_written", w.bytesWritten)
          o.put("shuffle_bytes", w.shuffleBytes)
        }
      }
    }
    val dropped = out.putArray("dropped_workloads")
    Main.Dropped.foreach { case (name, why) => dropped.addObject().put("name", name).put("why", why) }
    out.put("correct", failures.isEmpty)
    out
  }
}
