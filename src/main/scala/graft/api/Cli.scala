package graft.api

import graft.core.CollectionManager
import graft.functions.{Formatting, HashingEmbedder, TextSplitter}
import graft.sources.{Converters, FilesSource}
import org.apache.spark.sql.SparkSession

/** Command-line adapters mirroring the reference's five cmd adapters
  * (/root/reference/main/adapters: files/jira/confluence create, update, search,
  * plus fetch) so a user of the reference can run the same operations against this
  * engine. REST-backed creates take pre-fetched JSON payload files (the offline
  * stand-in for live connectors — the converter surface is identical).
  *
  * Usage:
  * {{{
  *   graft.api.Cli create-files  --collection c --path DIR [--include RE]... [--exclude RE]...
  *                               [--chunk-size 1000] [--chunk-overlap 100] [--data-dir D]
  *                               [--buckets N]  (N>0: bucketed layout — update/delete
  *                                rewrite only the bucket dirs holding changed docs)
  *   graft.api.Cli create-jira   --collection c --json FILE [--cloud] ...
  *   graft.api.Cli create-confluence --collection c --json FILE ...
  *   graft.api.Cli update-jira   --collection c --json FILE [--cloud]
  *   graft.api.Cli update-confluence --collection c --json FILE [--cloud]
  *   graft.api.Cli update-files  --collection c --path DIR ...
  *   graft.api.Cli update        --collection c            (re-drives the manifest's stored reader)
  *   graft.api.Cli search        --collection c --query Q [--filter DSL] [--max-docs 5]
  *                               [--max-chunks 15] [--include-text] [--format json|json_indent|toon]
  *                               [--match "MATCH Q"]  (boolean-MATCH candidate gate
  *                                applied to every index before ranking/fusion)
  *   graft.api.Cli match         --collection c --query "MATCH Q" [--filter DSL] [--top N]
  *                               [--docs] [--snippet] [--include-text]
  *                               [--format json|json_indent|toon]
  *   graft.api.Cli near          --collection c --query "a b" [--window 10] [--filter DSL]
  *                               [--top N] [--docs] [--snippet] [--include-text]
  *                               [--format json|json_indent|toon]
  *                               (--snippet at chunk level highlights the chunk's text)
  *   graft.api.Cli phrase        --collection c --query "a b" [--filter DSL] [--top N]
  *                               [--snippet] [--include-text] [--format json|json_indent|toon]
  *   graft.api.Cli fetch         --collection c --doc ID [--start 1] [--end 200]
  *   graft.api.Cli list
  * }}}
  */
object Cli {

  private def parseArgs(args: Seq[String]): (Map[String, Seq[String]], Set[String]) = {
    val opts = scala.collection.mutable.Map.empty[String, Seq[String]]
    val flags = scala.collection.mutable.Set.empty[String]
    var i = 0
    while (i < args.length) {
      val a = args(i)
      if (a.startsWith("--")) {
        val k = a.drop(2)
        if (i + 1 < args.length && !args(i + 1).startsWith("--")) {
          opts(k) = opts.getOrElse(k, Nil) :+ args(i + 1); i += 2
        } else { flags += k; i += 1 }
      } else i += 1
    }
    (opts.toMap, flags.toSet)
  }

  /** Uniform output for the MATCH-family commands (r14 VERDICT ask 6): the
    * same F13 formats as `search` (`--format json|json_indent|toon`) plus
    * the P7-style `--include-text` projection joining the hit's full text.
    */
  private def emitHits(cm: graft.core.CollectionManager, collection: String,
                       hits: org.apache.spark.sql.DataFrame,
                       format: Option[String], includeText: Boolean,
                       docLevel: Boolean, idCol: String, label: String): Unit = {
    val projected =
      if (includeText) cm.attachHitText(collection, hits, idCol, docLevel)
      else hits
    println(format.getOrElse("json_indent") match {
      case "json" => Formatting.json(projected)
      case "toon" => Formatting.toon(projected, label)
      case _      => Formatting.jsonIndent(projected)
    })
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("graft-cli")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(args, spark) finally spark.stop()
  }

  /** Command dispatch against a caller-owned session (testable without
    * stopping a shared session).
    */
  def run(args: Array[String], spark: SparkSession): Unit = {
    require(args.nonEmpty, "missing subcommand")
    val cmd = args.head
    val (opts, flags) = parseArgs(args.tail.toSeq)
    def opt(k: String): Option[String] = opts.get(k).flatMap(_.lastOption)
    def req(k: String): String = opt(k).getOrElse(sys.error(s"missing --$k"))

    val dataDir = opt("data-dir").getOrElse("./data/collections")
    val splitter = new TextSplitter(
      opt("chunk-size").map(_.toInt).getOrElse(1000),     // text_splitter.py:6 defaults
      opt("chunk-overlap").map(_.toInt).getOrElse(100))
    val cm = new CollectionManager(spark, dataDir, HashingEmbedder.default, splitter)

    def filesDocs(path: String) = Converters.files(
      FilesSource.read(spark, path,
        includePatterns = opts.getOrElse("include", Seq(".*")),
        excludePatterns = opts.getOrElse("exclude", Nil)), splitter)

    // > 0 selects the bucketed layout (docs/chunks under bucket=K dirs;
    // update/delete rewrite only dirty buckets). 0 = flat.
    val nBuckets = opt("buckets").map(_.toInt).getOrElse(0)

    cmd match {
      case "create-files" =>
        // Reader details persist in the manifest (get_reader_details,
        // files_document_reader.py:162-169) so `update` can re-drive the
        // source from the collection name alone.
        val m = cm.create(req("collection"), filesDocs(req("path")), readerDetails = Map(
          "type" -> "localFiles",
          "basePath" -> req("path"),
          "includePatterns" -> opts.getOrElse("include", Seq(".*")).mkString("\t"),
          "excludePatterns" -> opts.getOrElse("exclude", Nil).mkString("\t")),
          nBuckets = nBuckets)
        println(s"""{"created": "${m.collectionName}", "documents": ${m.numberOfDocuments}, "chunks": ${m.numberOfChunks}}""")
      case "create-jira" =>
        val issues = spark.read.json(req("json"))
        val docs = Converters.jira(issues, splitter, cloud = flags.contains("cloud"))
        val m = cm.create(req("collection"), docs, nBuckets = nBuckets)
        println(s"""{"created": "${m.collectionName}", "documents": ${m.numberOfDocuments}, "chunks": ${m.numberOfChunks}}""")
      case "create-confluence" =>
        val pages = spark.read.json(req("json"))
        val m = cm.create(req("collection"), Converters.confluence(pages, splitter),
          nBuckets = nBuckets)
        println(s"""{"created": "${m.collectionName}", "documents": ${m.numberOfDocuments}, "chunks": ${m.numberOfChunks}}""")
      case "update-jira" =>
        // Re-read payloads replace their documents by id (anti-join merge) —
        // the reference's update adapter shape for REST sources.
        val docs = Converters.jira(spark.read.json(req("json")), splitter,
          cloud = flags.contains("cloud"))
        val m = cm.update(req("collection"), docs)
        println(s"""{"updated": "${m.collectionName}", "documents": ${m.numberOfDocuments}, "chunks": ${m.numberOfChunks}}""")
      case "update-confluence" =>
        val m = cm.update(req("collection"),
          Converters.confluence(spark.read.json(req("json")), splitter,
            cloud = flags.contains("cloud")))
        println(s"""{"updated": "${m.collectionName}", "documents": ${m.numberOfDocuments}, "chunks": ${m.numberOfChunks}}""")
      case "update-files" =>
        // Incremental: only files modified after the stored watermark − 5 min
        // (update_collection_factory.py:55-65) re-read and merge.
        val wm = cm.readManifest(req("collection")).lastModifiedDocumentTime
        val after = if (wm.isEmpty) None else Some(java.sql.Timestamp.valueOf(
          java.time.LocalDateTime.parse(wm).minusMinutes(5)))
        val changed = Converters.files(
          FilesSource.read(spark, req("path"), modifiedAfter = after), splitter)
        val m = cm.update(req("collection"), changed)
        println(s"""{"updated": "${m.collectionName}", "documents": ${m.numberOfDocuments}, "chunks": ${m.numberOfChunks}}""")
      case "update" =>
        // Generic update from the manifest's stored reader details — the
        // reference's update adapter takes only the collection name
        // (update_collection_factory.py:34-65).
        val man = cm.readManifest(req("collection"))
        require(man.reader.getOrElse("type", "") == "localFiles",
          s"update re-drives stored reader details; collection '${man.collectionName}' " +
            s"has reader type '${man.reader.getOrElse("type", "<none>")}' — " +
            "only localFiles re-reads without credentials (REST sources: use create-* with fresh payloads)")
        val wm2 = man.lastModifiedDocumentTime
        val after2 = if (wm2.isEmpty) None else Some(java.sql.Timestamp.valueOf(
          java.time.LocalDateTime.parse(wm2).minusMinutes(5)))
        def pats(k: String, dflt: Seq[String]) =
          man.reader.get(k).map(_.split('\t').toSeq.filter(_.nonEmpty)).getOrElse(dflt)
        val changed2 = Converters.files(
          FilesSource.read(spark, man.reader("basePath"),
            includePatterns = pats("includePatterns", Seq(".*")),
            excludePatterns = pats("excludePatterns", Nil),
            modifiedAfter = after2), splitter)
        val m = cm.update(req("collection"), changed2)
        println(s"""{"updated": "${m.collectionName}", "documents": ${m.numberOfDocuments}, "chunks": ${m.numberOfChunks}}""")
      case "watch" =>
        // Continuous file ingestion: a Structured Streaming binaryFile source
        // over --path drives the same merge as `update` per micro-batch
        // (source offsets replace the stored-mtime watermark). --once drains
        // available files and exits (the cron/catch-up shape, and what the
        // e2e spec drives); otherwise a ProcessingTime trigger keeps watching.
        // --ivf appends each batch's vectors into an existing IVF index; the
        // merge tombstones the replaced documents' old vectors there.
        val name = req("collection")
        val stream = Converters.files(
          FilesSource.readStream(spark, req("path"),
            includePatterns = opts.getOrElse("include", Seq(".*")),
            excludePatterns = opts.getOrElse("exclude", Nil)), splitter)
        val trigger =
          if (flags.contains("once")) org.apache.spark.sql.streaming.Trigger.AvailableNow()
          else org.apache.spark.sql.streaming.Trigger.ProcessingTime(
            opt("interval").getOrElse("10 seconds"))
        // --buckets N: a collection CREATED by this watcher is bucketed from
        // its first batch (later ticks rewrite only dirty buckets);
        // --retrain-drift X: re-train the IVF centroids when the list-share
        // drift signal exceeds X (0..1, footer-read cheap per tick)
        val q = graft.streaming.StreamingUpdate.collectionUpdateWriter(
          stream, cm, name,
          checkpointDir = opt("checkpoint").getOrElse(s"$dataDir/$name/_checkpoint"),
          appendIvf = flags.contains("ivf"),
          dedupOnArrival = flags.contains("dedup"),
          trigger = trigger,
          retrainIvfDriftAbove = opt("retrain-drift").map(_.toDouble).getOrElse(0.0),
          createBuckets = opt("buckets").map(_.toInt).getOrElse(0)).start()
        q.awaitTermination()
        // zero files may have arrived before the first tick — the collection
        // then doesn't exist yet, which is a no-op, not a crash
        if (cm.exists(name)) {
          val man = cm.readManifest(name)
          println(s"""{"watched": "$name", "documents": ${man.numberOfDocuments}, "chunks": ${man.numberOfChunks}}""")
        } else
          println(s"""{"watched": "$name", "documents": 0, "chunks": 0}""")
      case "search" =>
        val maxDocs = opt("max-docs").map(_.toInt).getOrElse(5)
        val result = cm.search(req("collection"), req("query"),
          // CLI default: chunks = 3 × docs (collection_search_cmd_adapter.py:32)
          maxChunks = opt("max-chunks").map(_.toInt).getOrElse(3 * maxDocs),
          maxDocs = maxDocs,
          metadataFilter = opt("filter"),
          includeText = flags.contains("include-text"),
          includeMatchedChunkContent = flags.contains("include-matched-chunks"),
          includeAllChunksContent = flags.contains("include-all-chunks"),
          // --indexes a,b or repeated --indexes; --rrfK (search_cmd_adapter:19-20)
          indexNames = opts.get("indexes").map(_.flatMap(_.split(',')).map(_.trim)),
          rrfK = opt("rrfK").map(_.toInt).getOrElse(60),
          // --match "spark AND NOT legacy": boolean-MATCH candidate gate
          // applied to every index before ranking/fusion
          matchQuery = opt("match"),
          // --index-weights 2.0,1.0 (positional, matching --indexes order)
          indexWeights = opt("index-weights")
            .map(_.split(',').toSeq.map(_.trim.toDouble)).getOrElse(Nil))
        println(opt("format").getOrElse("json_indent") match {
          case "json"   => Formatting.json(result)
          case "toon"   => Formatting.toon(result, "documents")
          case _         => Formatting.jsonIndent(result)
        })
      case "fetch" =>
        val result = cm.fetch(req("collection"), req("doc"),
          opt("start").map(_.toInt).getOrElse(1), opt("end").map(_.toInt).getOrElse(200))
        println(Formatting.jsonIndent(result))
      case "suggest" =>
        // did-you-mean over the collection's own BM25 vocabulary (LSM view)
        val terms = req("terms").split(',').toSeq.map(_.trim).filter(_.nonEmpty)
        println(Formatting.jsonIndent(cm.suggestTerms(req("collection"), terms,
          maxEdits = opt("max-edits").map(_.toInt).getOrElse(2),
          topK = opt("top").map(_.toInt).getOrElse(3))
          .orderBy("q", "rank")))
      case "complete" =>
        println(Formatting.jsonIndent(cm.autocompleteTerms(req("collection"),
          req("prefix"), opt("top").map(_.toInt).getOrElse(8))))
      case "match" =>
        // boolean MATCH (AND/OR/NOT, parens, quoted phrases, NEAR, prefix)
        // over the index; --filter composes the metadata-filter DSL (the
        // reference gates every FTS5 MATCH the same way); --docs rolls chunk
        // hits up to documents; --snippet adds the best highlight window of
        // the hit's text for the query's positive atoms; --include-text
        // joins the hit's full text; --format mirrors `search` (F13)
        val docs = flags.contains("docs")
        val hits =
          if (docs)
            cm.booleanSearchDocs(req("collection"), req("query"),
              opt("top").map(_.toInt).getOrElse(5), opt("filter"),
              includeSnippet = flags.contains("snippet"))
          else cm.booleanSearch(req("collection"), req("query"),
            opt("top").map(_.toInt).getOrElse(15), opt("filter"),
            includeSnippet = flags.contains("snippet"))
        emitHits(cm, req("collection"), hits, opt("format"),
          flags.contains("include-text"), docLevel = docs,
          idCol = if (docs) "documentId" else "chunkId",
          label = if (docs) "documents" else "matches")
      case "near" =>
        val docs = flags.contains("docs")
        val hits =
          if (docs)
            cm.nearSearchDocs(req("collection"), req("query").split("\\s+").toSeq,
              opt("window").map(_.toInt).getOrElse(10),
              opt("top").map(_.toInt).getOrElse(5), opt("filter"),
              includeSnippet = flags.contains("snippet"))
          else cm.nearSearch(req("collection"), req("query").split("\\s+").toSeq,
            opt("window").map(_.toInt).getOrElse(10),
            opt("top").map(_.toInt).getOrElse(15), opt("filter"),
            includeSnippet = flags.contains("snippet"))
        emitHits(cm, req("collection"), hits, opt("format"),
          flags.contains("include-text"), docLevel = docs,
          idCol = if (docs) "documentId" else "docId",
          label = if (docs) "documents" else "matches")
      case "phrase-index" =>
        cm.buildPhraseIndex(req("collection"))
        println(s"""{"built": "positions", "collection": "${req("collection")}"}""")
      case "phrase" =>
        // exact-phrase document search from the positional artifact
        val hits = cm.phraseSearch(req("collection"),
          req("query").split("\\s+").toSeq,
          opt("top").map(_.toInt).getOrElse(15), opt("filter"),
          includeSnippet = flags.contains("snippet"))
        emitHits(cm, req("collection"), hits, opt("format"),
          flags.contains("include-text"), docLevel = true,
          idCol = "documentId", label = "documents")
      case "list" =>
        println(cm.list().mkString("[\"", "\", \"", "\"]"))
      case "profile" =>
        // per-column completeness + exact cardinality of a parquet corpus —
        // the trust report before ingesting a new drop (one aggregation pass)
        val in = req("in")
        val df = graft.core.Tables.open(spark, in)
        val cols = opt("columns").map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty))
          .getOrElse(df.columns.toSeq)
        println(Formatting.jsonIndent(
          graft.operators.Profiling.profile(df, cols)))
      case "curate" =>
        // Training-data curation over a parquet corpus (an extension beyond
        // the reference's adapters): parquet in → Pipeline.curate → parquet
        // out, with a one-line JSON summary on stdout.
        import graft.operators.Pipeline
        val in = req("in"); val out = req("out")
        val idCol = opt("id-col").getOrElse("doc_id")
        val textCol = opt("text-col").getOrElse("text")
        val cfg = Pipeline.CurationConfig(
          lineDedupMaxOccurrences = opt("line-dedup-max").map(_.toInt),
          minTokens = opt("min-tokens").map(_.toLong).getOrElse(0L),
          minQuality = opt("min-quality").map(_.toDouble).getOrElse(0.0),
          entropyBand = (opt("min-entropy"), opt("max-entropy")) match {
            case (Some(lo), Some(hi)) => Some((lo.toDouble, hi.toDouble))
            case _ => None
          },
          redactPii = flags("redact-pii"),
          nearDedup = flags("near-dedup"),
          domainCap = opt("domain-cap").map(_.toInt),
          sampleRates = opt("sample-rates").map(_.split(",").map { kv =>
            val Array(k, v) = kv.split("="); k -> v.toDouble
          }.toMap),
          sampleDefaultRate = opt("sample-default").map(_.toDouble).getOrElse(0.0),
          decontaminateViaBloom = flags("decontaminate-bloom"),
          decontaminateSubstrLen = opt("decontaminate-substr").map(_.toInt),
          decontaminateSubstrStrip = flags("decontaminate-substr-strip"),
          selfDedupSubstrLen = opt("self-dedup-substr").map(_.toInt),
          selfDedupSubstrStrip = flags("self-dedup-substr-strip"))
        // Flag-interaction guards: strip is a mode OF the substr check, and
        // the substr check takes precedence over the bloom n-gram probe —
        // fail fast / warn instead of silently ignoring what the user typed.
        if (cfg.decontaminateSubstrStrip && cfg.decontaminateSubstrLen.isEmpty)
          throw new IllegalArgumentException(
            "--decontaminate-substr-strip requires --decontaminate-substr L")
        if (cfg.selfDedupSubstrStrip && cfg.selfDedupSubstrLen.isEmpty)
          throw new IllegalArgumentException(
            "--self-dedup-substr-strip requires --self-dedup-substr L")
        if (cfg.decontaminateSubstrLen.isDefined && cfg.decontaminateViaBloom)
          System.err.println("[curate] --decontaminate-substr takes precedence; " +
            "--decontaminate-bloom is ignored")
        val bench = opt("benchmark").map(p => (
          graft.core.Tables.open(spark, p),
          opt("benchmark-id-col").getOrElse(idCol),
          opt("benchmark-text-col").getOrElse(textCol)))
        // --lm-train <parquet dir>: train a bigram LM on that corpus and gate
        // docs above --lm-max-nll (CCNet's train-clean/score-crawl split)
        val lm = opt("lm-train").map { p =>
          (graft.operators.LanguageModel.train(
            graft.core.Tables.open(spark, p), idCol, textCol),
           opt("lm-max-nll").map(_.toDouble).getOrElse(10.0))
        }
        // --quality-model <weights file>: fasttext-style linear gate, shipped
        // as the plain-text artifact LinearQualityModel.train/save produces
        val qm = opt("quality-model").map { p =>
          (graft.functions.LinearQualityModel.fromFile(p),
           opt("quality-model-min").map(_.toDouble).getOrElse(0.5))
        }
        val docs = graft.core.Tables.open(spark, in)
        val curated = Pipeline.curate(docs, idCol, textCol, cfg,
          benchmark = bench, stratumCol = opt("stratum-col"),
          qualityModel = qm, lmModel = lm)
        curated.write.mode("overwrite").parquet(out)
        val (nIn, nOut) = (docs.count(), graft.core.Tables.open(spark, out).count())
        println(s"""{"in":$nIn,"out":$nOut,"dropped":${nIn - nOut},"path":"$out"}""")
      case "fsck" =>
        // Consistency audit: manifest drift, orphan/duplicate chunks, index
        // divergence — counts-only, safe to run against a live collection.
        val report = cm.fsck(req("collection")).collect()
        val rows = report.map { r =>
          s"""{"check":"${r.getString(0)}","expected":${r.getLong(1)},""" +
            s""""actual":${r.getLong(2)},"ok":${r.getBoolean(3)}}"""
        }
        println(rows.mkString("[", ",", "]"))
        if (report.exists(!_.getBoolean(3))) System.err.println(
          s"[fsck] ${report.count(!_.getBoolean(3))} check(s) failed")
      case "reindex" =>
        val name = req("collection")
        cm.reindex(name)
        println(s"""{"reindexed": "$name"}""")
      case "export" =>
        // Sharded gzip-JSONL handoff to a tokenizer/training pipeline:
        // parquet in → Export.jsonlShards → shard=K dirs + _manifest.
        val in = req("in"); val out = req("out")
        val n = opt("shards").map(_.toInt).getOrElse(64)
        val idCol = opt("id-col").getOrElse("doc_id")
        val cols = opt("cols").map(_.split(",").toSeq).getOrElse(Nil)
        val manifest = graft.operators.Export.jsonlShards(
          graft.core.Tables.open(spark, in), idCol, out, n, cols)
        val rows = manifest.collect()
        val docs = rows.map(_.getAs[Long]("n_docs")).sum
        val bytes = rows.map(_.getAs[Long]("n_bytes")).sum
        println(s"""{"shards":${rows.length},"docs":$docs,"jsonl_bytes":$bytes,"path":"$out"}""")
      case "help" =>
        println(
          """graft CLI — collection lifecycle, search, curation, maintenance
            |
            |  create-files --name N --path DIR [--include RX]... [--exclude RX]...
            |  create-jira / create-confluence  --name N --url U --email E --token T [--jql/--cql Q]
            |  update --name N            re-drive the manifest's stored reader
            |  update-files/-jira/-confluence   source-specific incremental update
            |  watch --collection N --path DIR [--once | --interval "10 seconds"]
            |        [--ivf] [--dedup] [--checkpoint DIR] [--buckets N] [--retrain-drift X]
            |        streaming file ingestion (foreachBatch merge; --dedup drops arriving
            |        near-dups via minhash sigs; --buckets makes a stream-born collection
            |        bucketed; --retrain-drift re-trains IVF past a drift threshold)
            |  search --name N --query Q [--filter DSL] [--indexes a,b] [--rrfK K]
            |         [--max-chunks K] [--max-docs K] [--include-text] [--format json|indent|toon]
            |  fetch --name N --id ID [--from L --to L]
            |  suggest --name N --terms a,b [--max-edits 2] [--top 3]
            |          did-you-mean from the collection's BM25 vocabulary
            |  complete --name N --prefix P [--top 8]   prefix autocomplete, df-ranked
            |  phrase-index --name N      build the positional artifact (LSM member)
            |  phrase --name N --query "exact words" [--top 15] [--filter DSL]
            |        exact-phrase document search
            |  match --name N --query 'a* AND (b OR "c d" OR NEAR(e f, 5)) NOT g'
            |        [--top 15] [--filter DSL] [--docs]  boolean MATCH over the
            |        index (quoted segments = phrases, NEAR(…, n) = proximity
            |        atoms, trailing * = prefix; --docs rolls up to documents)
            |  near --name N --query "a b c" [--window 10] [--top 15]
            |       [--filter DSL] [--docs]   proximity
            |  profile --in corpus.parquet [--columns a,b,c]   per-column null/distinct report
            |  list
            |  delete --name N --ids a,b,c
            |  curate --in P --out P [--min-tokens N] [--min-quality Q] [--redact-pii]
            |         [--line-dedup-max N] [--near-dedup] [--domain-cap N]
            |         [--min-entropy E --max-entropy E] [--benchmark P] [--decontaminate-bloom]
            |         [--decontaminate-substr L]  drop docs sharing a verbatim L-char window
            |             (takes precedence over --decontaminate-bloom when both are set)
            |         [--decontaminate-substr-strip]  strip the ranges instead of dropping docs
            |             (requires --decontaminate-substr; re-applies EVERY configured
            |              gate — token/quality floors, entropy band, quality model,
            |              LM max-nll — to the stripped text, so docs cut below them drop)
            |         [--self-dedup-substr L]  within-corpus ExactSubstr: drop docs sharing a
            |             verbatim L-char window with any OTHER doc (arXiv:2107.06499)
            |         [--self-dedup-substr-strip]  strip the duplicated ranges from every copy
            |             instead (requires --self-dedup-substr; floors re-apply as above)
            |         [--lm-train P --lm-max-nll X] [--quality-model P --quality-model-min S]
            |         [--sample-rates k=v,..] [--stratum-col C]
            |  compact --path P [--target-mb 256] [--min-avg-mb 32]
            |  stats --in P [--text-col text] [--lang-col lang]
            |  export --in P --out P [--shards 64] [--id-col doc_id] [--cols a,b,c]
            |  fsck --collection N           consistency audit (counts-only, live-safe)
            |  reindex --collection N        rebuild BM25 + IVF from the chunks table
            |""".stripMargin)
      case "delete" =>
        // delete --name <collection> --ids a,b,c (reference: remove_ids path)
        val m = cm.delete(req("name"), req("ids").split(",").toSeq)
        println(s"""{"name":"${req("name")}","documents":${m.numberOfDocuments},"chunks":${m.numberOfChunks}}""")
      case "stats" =>
        // Dataset card for a parquet corpus: --in <dir> [--text-col text]
        // [--lang-col lang] — one aggregation pass, JSON summary per language.
        val in = req("in"); val textCol = opt("text-col").getOrElse("text")
        val langCol = opt("lang-col").getOrElse("lang")
        val docs = graft.core.Tables.open(spark, in)
        val rows = graft.operators.TextAnalysis.corpusStats(
          docs.select(org.apache.spark.sql.functions.col(langCol).as("lang"),
            org.apache.spark.sql.functions.col(textCol).as("text")),
          "text", Seq("lang"))
        println(Formatting.json(rows.orderBy("lang")))
      case "compact" =>
        // Small-file maintenance for any parquet table this engine writes:
        // --path <dir> [--target-mb 256] [--min-avg-mb 32]
        import graft.operators.Maintenance
        val path = req("path")
        val target = opt("target-mb").map(_.toLong).getOrElse(256L) << 20
        val minAvg = opt("min-avg-mb").map(_.toLong).getOrElse(32L) << 20
        // a partitioned layout (bucket=K, listId=N) compacts per partition
        // dir so pruning and the dirty-bucket update property survive
        val fsys = new org.apache.hadoop.fs.Path(path)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val partitioned = fsys.listStatus(new org.apache.hadoop.fs.Path(path))
          .exists(s => s.isDirectory && !s.getPath.getName.startsWith("_") &&
            !s.getPath.getName.startsWith("."))
        // a table dir INSIDE a collection (ancestor manifest.json) compacts
        // under that collection's writer lock — maintenance racing a live
        // update would otherwise interleave with the staged bucket swaps
        val collectionDir = Iterator.iterate(fsys.makeQualified(
            new org.apache.hadoop.fs.Path(path)).getParent)(_.getParent)
          .takeWhile(_ != null).take(3)
          .find(d => fsys.exists(new org.apache.hadoop.fs.Path(d, "manifest.json")))
        def locked[T](body: => T): T = collectionDir match {
          case Some(d) => graft.core.WriterLock.withLock(fsys,
            new org.apache.hadoop.fs.Path(d, "_writer.lock"),
            holder = s"cli-compact-${java.util.UUID.randomUUID()}",
            leaseMs = spark.conf.get("graft.writer.leaseMs", "900000").toLong,
            waitMs = spark.conf.get("graft.writer.waitMs", "10000").toLong)(body)
          case None => body
        }
        if (partitioned) {
          val (nParts, files) =
            locked(Maintenance.compactPartitioned(spark, path, target, minAvg))
          println(s"""{"path":"$path","partitionsCompacted":$nParts,"filesAfter":$files}""")
        } else {
          val (n0, bytes, _) = Maintenance.fileStats(spark, path)
          val n1 = locked(Maintenance.compact(spark, path, target, minAvg))
          println(s"""{"path":"$path","filesBefore":$n0,"filesAfter":$n1,"bytes":$bytes}""")
        }
      case other => sys.error(s"unknown subcommand $other")
    }
  }
}
