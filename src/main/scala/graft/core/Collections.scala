package graft.core

import graft.functions.{Embedder, FilterDsl, TextSplitter}
import graft.operators.{Indexing, Search}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.{FileSystem, Path}
import java.nio.charset.StandardCharsets

/** Collection lifecycle: create / update / search / fetch over a Parquet layout.
  *
  * Replaces the reference's on-disk collection (one JSON per document + engine-native
  * index dirs + JSON mappings — /root/reference/main/core/documents_collection_creator.py:
  * 108-109,162-190,238-279) with two columnar tables and a manifest:
  *
  * {{{
  *   {baseDir}/{name}/documents/   — id, url, metadata, text, chunks[]
  *   {baseDir}/{name}/chunks/      — chunkId, documentId, documentUrl, chunkNumber,
  *                                   indexedData, metadata, embedding  (the index)
  *   {baseDir}/{name}/manifest.json
  * }}}
  *
  * index_mapping / reverse_index_mapping disappear: both are projections of the
  * chunks table (SURVEY §1.5). Incremental update is an anti-join + append with the
  * chunk-id sequence continuing past the manifest's high-water mark (`lastIndexItemId`
  * — creator.py:125-136, :187-188).
  *
  * Scale: search touches only the chunks table (scan + top-k). Update and delete
  * are one anti-join + union rewrite (Delta MERGE semantics on plain Parquet): the
  * default flat layout rewrites both tables whole; the bucketed layout
  * (`create(nBuckets = n)`) partitions both by document-id hash and rewrites only
  * the buckets holding changed documents.
  */
final class CollectionManager(
    spark: SparkSession,
    baseDir: String,
    embedder: Embedder,
    splitter: TextSplitter = TextSplitter.default) extends Serializable {

  private def dir(name: String) = s"$baseDir/$name"
  private def docsPath(name: String) = s"${dir(name)}/documents"
  private def chunksPath(name: String) = s"${dir(name)}/chunks"
  private def manifestPath(name: String) = s"${dir(name)}/manifest.json"
  private def bm25Dir(name: String) = s"${dir(name)}/indexes/bm25"
  private def ivfDir(name: String) = s"${dir(name)}/indexes/ivf"
  private def lockPath(name: String) = new Path(s"${dir(name)}/_writer.lock")

  // ------------------------------------------------------------ writer lock
  // Single-writer discipline, ENFORCED (it was an assumption through round
  // 10): every mutating entry point below runs under a lease-based lock next
  // to the manifest. Two managers racing an update serialize (second waits),
  // a slow conflict fails with a clear error instead of interleaving staged
  // swaps, and a crashed writer's lock auto-expires. Reentrant per thread so
  // composed mutators (reindex → buildIvfIndex) take it once.
  private val writerId = java.util.UUID.randomUUID().toString

  private def confMs(key: String, dflt: Long): Long =
    try spark.conf.get(key, dflt.toString).toLong catch { case _: NumberFormatException => dflt }

  /** Run `body` as THE writer of collection `name`. Public so external
    * orchestration (a maintenance job spanning several calls) can hold the
    * lock across a whole transaction script. Tunables:
    * `graft.writer.leaseMs` (default 15 min — size to the slowest mutation;
    * a holder past its lease can be broken) and `graft.writer.waitMs`
    * (default 10 s — how long a second writer queues before failing).
    */
  def withWriterLock[T](name: String)(body: => T): T =
    WriterLock.withLock(fs, lockPath(name), writerId,
      leaseMs = confMs("graft.writer.leaseMs", 15L * 60L * 1000L),
      waitMs = confMs("graft.writer.waitMs", 10000L))(body)

  private def vectorIndexer(name: String) =
    new graft.operators.VectorIndexer(spark, chunksPath(name), embedder)
  private def bm25Indexer(name: String) =
    new graft.operators.Bm25Indexer(spark, bm25Dir(name), chunksPath(name))

  /** Optional scale-path ANN index: IVF with the inverted lists as partition
    * directories, so each probe is a file-skip. Call after create/update; search
    * via the returned indexer (or wire it into multiSearch).
    */
  def buildIvfIndex(name: String, nLists: Int = 64, nProbe: Int = 8,
                    deterministic: Boolean = false): graft.operators.IvfVectorIndexer =
    withWriterLock(name) {
      val ivf = new graft.operators.IvfVectorIndexer(
        spark, ivfDir(name), embedder, nLists, nProbe,
        deterministic = deterministic)
      ivf.index(chunks(name))
      ivf
    }

  /** The collection's IVF index, when one has been built — the handle
    * streaming per-batch appends use ([[graft.streaming.StreamingUpdate]]).
    */
  def ivfIndex(name: String): Option[graft.operators.IvfVectorIndexer] =
    if (fs.exists(new Path(s"${ivfDir(name)}/centroids")))
      Some(new graft.operators.IvfVectorIndexer(spark, ivfDir(name), embedder))
    else None

  private def sigsPath(name: String) = s"${dir(name)}/indexes/minhash_sigs"

  /** Persisted minhash signature table backing dedup-on-arrival
    * ([[graft.operators.Dedup.incrementalNearDups]]'s `existingSigs` side),
    * or None if never built. Returns the LOGICAL view (`ex_id`, sig0..sig3 —
    * one live row per document): physically the table is append-only
    * versioned rows (`rev`, `deleted`) so upserts and deletes are O(batch)
    * appends, and the view keeps each id's max-rev row and drops tombstones.
    * The reader's argmax is one narrow groupBy over a 7-column table —
    * [[compactSigs]] folds the history when the tail has grown. A
    * pre-versioning table (no `rev` column) reads as rev 0 unchanged.
    */
  def minhashSigs(name: String): Option[DataFrame] =
    Tables.openIf(spark, sigsPath(name)).map { raw =>
      if (!raw.columns.contains("rev")) raw
      else raw
        .groupBy("ex_id")
        .agg(max_by(struct("sig0", "sig1", "sig2", "sig3", "deleted"), col("rev"))
          .as("_latest"))
        .filter(!col("_latest.deleted"))
        .select(col("ex_id"), col("_latest.sig0").as("sig0"),
          col("_latest.sig1").as("sig1"), col("_latest.sig2").as("sig2"),
          col("_latest.sig3").as("sig3"))
    }

  /** Next revision number + legacy migration: a pre-versioning table (plain
    * ex_id..sig3) rewrites ONCE to versioned rows at rev 0, then every
    * append/delete is an O(batch) append at max(rev)+1. Single-writer
    * discipline (the collection design's standing assumption) makes the
    * read-increment safe.
    *
    * max(rev) comes from parquet FOOTER statistics ([[ParquetMeta
    * .columnMaxLong]]) — a metadata read, no Spark job: a gated streaming
    * batch calls this on every tick, and a full-column scan here would be an
    * O(history) read per batch on the one table whose whole design point is
    * O(batch) ticks. The scan fallback only runs for foreign files with no
    * recorded stats.
    */
  private[graft] def nextSigRev(name: String): Long =
    if (!fs.exists(new Path(sigsPath(name)))) 0L
    else ParquetMeta.columnMaxLong(
        spark.sessionState.newHadoopConf(), sigsPath(name), "rev") match {
      // the footer max doubles as the schema probe: Some proves the rev
      // column exists, so the versioned fast path never constructs a Spark
      // read at all
      case Some(maxRev) => maxRev + 1L
      case None =>
        val raw = Tables.open(spark, sigsPath(name))
        if (!raw.columns.contains("rev")) {
          Tables.replace(spark, sigsPath(name)) { staging =>
            raw.withColumn("rev", lit(0L)).withColumn("deleted", lit(false))
              .write.mode(SaveMode.Overwrite).parquet(staging)
          }
          1L
        } else
          raw.agg(coalesce(max("rev"), lit(-1L))).head().getLong(0) + 1L
    }

  /** Upsert the minhash signatures of `docs` (id, text) into the signature
    * table, creating it on first call. Replace semantics per id: an id being
    * re-appended supersedes its previous revision — a stale signature for
    * text no longer in the corpus would silently block genuinely new content
    * that resembles the OLD revision (the same hazard [[delete]] handles).
    * Cost: ONE appended segment per call (O(batch) rows); the replace is
    * resolved at read time by [[minhashSigs]]'s argmax, so a ticking watcher
    * never pays an O(table) rewrite per batch.
    */
  def appendMinhashSigs(name: String, docs: DataFrame): Unit = withWriterLock(name) {
    val rev = nextSigRev(name)
    graft.operators.Dedup
      .minhashSignatures(docs.select("id", "text"), "id", "text")
      .withColumnRenamed("id", "ex_id")
      .withColumn("rev", lit(rev)).withColumn("deleted", lit(false))
      .write.mode("append").parquet(sigsPath(name))
  }

  /** Total bytes of the signature table — the fold-or-not signal for the
    * streaming writer (listing only; after a fold this IS the live-row size,
    * so comparing against a budget bounds history growth to ~budget).
    */
  def sigHistoryBytes(name: String): Long = {
    val p = new Path(sigsPath(name))
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }

  /** Fold the signature table's revision history into one live row per id
    * (rev reset to 0) — bounds the reader's argmax input and the file count
    * accreted by per-batch appends. Values unchanged by construction.
    */
  def compactSigs(name: String): Unit = withWriterLock(name) {
    minhashSigs(name).foreach { live =>
      Tables.replace(spark, sigsPath(name)) { staging =>
        live.withColumn("rev", lit(0L)).withColumn("deleted", lit(false))
          .write.mode(SaveMode.Overwrite).parquet(staging)
      }
    }
  }

  // ------------------------------------------------------------------ manifest IO

  private def fs: FileSystem =
    FileSystem.get(spark.sparkContext.hadoopConfiguration)

  private def nowIso: String = java.time.Instant.now().toString

  def writeManifest(m: Model.Manifest, name: String): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.createObjectNode()
    root.put("collectionName", m.collectionName)
    root.put("updatedTime", m.updatedTime)
    root.put("lastModifiedDocumentTime", m.lastModifiedDocumentTime)
    root.put("numberOfDocuments", m.numberOfDocuments)
    root.put("numberOfChunks", m.numberOfChunks)
    root.put("lastIndexItemId", m.lastIndexItemId)
    root.put("version", m.version)
    if (m.bucketCount > 0) root.put("bucketCount", m.bucketCount)
    val idx = root.putArray("indexers")
    m.indexers.foreach(idx.add)
    root.put("chunkSize", m.chunkSize)
    root.put("chunkOverlap", m.chunkOverlap)
    root.put("embedder", m.embedder)
    val rdr = root.putObject("reader")
    m.reader.toSeq.sortBy(_._1).foreach { case (k, v) => rdr.put(k, v) }
    val json = mapper.writerWithDefaultPrettyPrinter().writeValueAsString(root)
    val out = fs.create(new Path(manifestPath(name)), true)
    try out.write(json.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  def readManifest(name: String): Model.Manifest = {
    val in = fs.open(new Path(manifestPath(name)))
    val json = try new String(
      org.apache.commons.io.IOUtils.toByteArray(in), StandardCharsets.UTF_8)
    finally in.close()
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    import scala.jdk.CollectionConverters._
    Model.Manifest(
      collectionName = root.path("collectionName").asText(""),
      updatedTime = root.path("updatedTime").asText(""),
      lastModifiedDocumentTime = root.path("lastModifiedDocumentTime").asText(""),
      numberOfDocuments = root.path("numberOfDocuments").asLong(0L),
      numberOfChunks = root.path("numberOfChunks").asLong(0L),
      lastIndexItemId = root.path("lastIndexItemId").asLong(0L),
      indexers = root.path("indexers").elements().asScala.map(_.asText).toSeq,
      chunkSize = root.path("chunkSize").asInt(0),
      chunkOverlap = root.path("chunkOverlap").asInt(0),
      reader = root.path("reader").properties().asScala
        .map(e => e.getKey -> e.getValue.asText).toMap,
      embedder = root.path("embedder").asText(""),
      bucketCount = root.path("bucketCount").asInt(0), // absent = legacy flat
      version = root.path("version").asLong(0L))
  }

  def exists(name: String): Boolean = fs.exists(new Path(manifestPath(name)))

  /** Collection discovery = list base-dir subdirectories carrying a manifest
    * (reference: indexer_factory.py:15-27 reads manifests for index names).
    */
  def list(): Seq[String] = {
    val base = new Path(baseDir)
    if (!fs.exists(base)) Nil
    else fs.listStatus(base).filter(_.isDirectory).map(_.getPath.getName)
      .filter(exists).toSeq.sorted
  }

  // ------------------------------------------------------------------- lifecycle

  /** Bucket id of a document id — the SAME function keys both tables (docs by
    * `id`, chunks by `documentId`), so one dirty-bucket set covers both.
    * Spark's `hash` is Murmur3 with a fixed seed: stable across sessions, so
    * a collection written today routes tomorrow's update to the same buckets.
    */
  private def bucketOf(c: org.apache.spark.sql.Column, n: Int) =
    pmod(hash(c), lit(n)).cast("int")

  /** Write `df` under `path` as `bucket=K/` partition directories. The bucket
    * value is a DERIVED column (dropped on read by the accessors); partition
    * discovery reconstructs it, so update/delete prune their scans to dirty
    * buckets via `PartitionFilters` — a file-skip, not a data-skip.
    */
  private def writeBucketedTable(df: DataFrame, keyCol: String, n: Int,
                                 path: String, nTasks: Int = 0): Unit = {
    val withB = df.withColumn("bucket", bucketOf(col(keyCol), n))
    // one shuffle partition per PRESENT bucket keeps file counts ~1 per dir;
    // a dirty-bucket rewrite passes its (small) dirty count so a 1-bucket
    // update doesn't schedule n near-empty write tasks
    withB.repartition(math.max(1, if (nTasks > 0) nTasks else n), col("bucket"))
      .write.mode(SaveMode.Overwrite).partitionBy("bucket").parquet(path)
  }

  /** Swap only the dirty `bucket=K` directories from a staging root into the
    * live table — per-bucket staging-swap atomicity: a crash mid-loop leaves
    * each bucket wholly old or wholly new, never mixed, and untouched buckets
    * are never opened. A dirty bucket with NO staging dir means every row in
    * it was removed: the live dir is deleted.
    */
  private def swapBuckets(stagingRoot: String, targetRoot: String,
                          dirty: Seq[Int]): Unit = {
    dirty.foreach { k =>
      val s = new Path(s"$stagingRoot/bucket=$k")
      val t = new Path(s"$targetRoot/bucket=$k")
      if (fs.exists(s)) Tables.swap(spark, s.toString, t.toString)
      else if (fs.exists(t)) fs.delete(t, true)
    }
    fs.delete(new Path(stagingRoot), true) // _SUCCESS + any empty residue
  }

  /** A mutation's one layout decision, which [[live]] and [[put]] match on:
    * None on the flat layout (n = 0), else `Some((n, dirty))`, the buckets
    * the document ids in `ids` (a local `id` frame) fall in. The bucket
    * expression folds into the local relation, so neither layout runs a job.
    */
  private def dirtyBuckets(ids: DataFrame, n: Int): Option[(Int, Seq[Int])] =
    if (n == 0) None
    else Some((n, ids.select(bucketOf(col("id"), n)).collect()
      .map(_.getInt(0)).distinct.toSeq.sorted))

  /** The rows of the table at `path` that a mutation rewrites: the whole
    * table on the flat layout, else only the dirty bucket dirs (pruned by
    * `PartitionFilters`), with the derived `bucket` column dropped.
    */
  private def live(path: String, buckets: Option[(Int, Seq[Int])]): DataFrame =
    buckets match {
      case None => Tables.open(spark, path)
      case Some((_, dirty)) =>
        Tables.open(spark, path).filter(col("bucket").isin(dirty: _*)).drop("bucket")
    }

  /** Write `df` back over what [[live]] read: a staged rewrite of the whole
    * table on the flat layout, else the dirty buckets staged and swapped in
    * one by one — every other bucket dir is never read, never rewritten.
    */
  private def put(df: DataFrame, keyCol: String, path: String,
                  buckets: Option[(Int, Seq[Int])]): Unit =
    buckets match {
      case None => Tables.replace(spark, path)(df.write.mode(SaveMode.Overwrite).parquet(_))
      case Some((n, dirty)) =>
        val staging = s"${path}__staging"
        writeBucketedTable(df, keyCol, n, staging, dirty.size)
        swapBuckets(staging, path, dirty)
    }

  /** Create (or overwrite) a collection from raw documents. Converter-built
    * chunks (header semantics, per-page metadata) are kept as-is; the splitter
    * only runs when the input has no `chunks` column.
    *
    * `nBuckets > 0` selects the bucketed layout: docs and chunks live under
    * `bucket=K` partition dirs keyed by document id, and [[update]]/[[delete]]
    * rewrite ONLY the buckets containing changed documents — at 100 TB an
    * update touching 0.1% of documents pays ~0.1% of the table write instead
    * of a full staging rewrite. Size guidance: corpus_bytes / ~1 GB, rounded
    * to a power of two. 0 (default) keeps the flat single-directory layout.
    */
  def create(name: String, rawDocs: DataFrame,
             readerDetails: Map[String, String] = Map.empty,
             nBuckets: Int = 0): Model.Manifest = withWriterLock(name) {
    require(nBuckets >= 0, s"nBuckets must be >= 0, got $nBuckets")
    val priorVersion = if (exists(name)) readManifest(name).version else 0L
    val docs = withChunks(rawDocs)
    if (nBuckets > 0) writeBucketedTable(docs, "id", nBuckets, docsPath(name))
    else docs.write.mode(SaveMode.Overwrite).parquet(docsPath(name))

    val persisted = Tables.open(spark, docsPath(name)).drop("bucket")
    val chunks = Indexing.buildChunks(persisted, embedder, startId = 0L)
    if (nBuckets > 0)
      writeBucketedTable(chunks, "documentId", nBuckets, chunksPath(name))
    else chunks.write.mode(SaveMode.Overwrite).parquet(chunksPath(name))
    bm25Indexer(name).index(this.chunks(name))

    val (nChunks, maxId, nDocs) = manifestStats(name)
    val m = Model.Manifest(
      collectionName = name, updatedTime = nowIso,
      lastModifiedDocumentTime =
        Option(persisted.agg(max(modifiedAt(persisted))).head().getString(0)).getOrElse(""),
      numberOfDocuments = nDocs, numberOfChunks = nChunks,
      lastIndexItemId = maxId,
      indexers = Seq("vector_exact_l2", "bm25"),
      chunkSize = splitter.chunkSize, chunkOverlap = splitter.chunkOverlap,
      reader = readerDetails, embedder = embedder.name,
      bucketCount = nBuckets, version = priorVersion + 1)
    writeManifest(m, name)
    m
  }

  /** Each document's `lastModifiedAt` (null without a metadata column). */
  private def modifiedAt(docs: DataFrame): Column =
    if (docs.columns.contains("metadata")) element_at(col("metadata"), "lastModifiedAt")
    else lit(null).cast("string")

  /** Manifest counters (numberOfChunks, lastIndexItemId, numberOfDocuments)
    * from Parquet FOOTERS — zero Spark jobs, O(#files) metadata reads instead
    * of the O(corpus) `count/max/countDistinct` scan this replaced. Footer
    * row counts are exact; `chunkId` max comes from row-group statistics
    * (falls back to a scan only for foreign files without stats, which our
    * own writers never produce). `numberOfDocuments` is the docs-table row
    * count — one row per document under the unique-id contract every mutation
    * preserves (create writes source rows as-is; update/delete merge by
    * anti-join on id). At 100 TB this turns every update/delete tick's
    * bookkeeping from a full chunks+documents scan into a footer sweep.
    */
  private[graft] def manifestStats(name: String): (Long, Long, Long) = {
    val conf = spark.sessionState.newHadoopConf()
    // one listing + one footer sweep yields BOTH chunk facts — on
    // slow-metadata filesystems the listing dominates the whole refresh
    val (nChunks, footerMax) =
      ParquetMeta.rowCountAndMaxLong(conf, chunksPath(name), "chunkId")
    val maxId =
      if (nChunks == 0L) -1L
      else footerMax.getOrElse(
        Tables.open(spark, chunksPath(name))
          .agg(coalesce(max("chunkId"), lit(-1L))).head().getLong(0))
    val nDocs = ParquetMeta.rowCount(conf, docsPath(name))
    (nChunks, maxId, nDocs)
  }

  private def withChunks(rawDocs: DataFrame): DataFrame =
    if (rawDocs.columns.contains("chunks")) rawDocs
    else Indexing.splitDocuments(rawDocs, splitter)

  /** Embedding with a different model than the one that built the collection
    * corrupts silently — search would rank garbage distances, update would MIX
    * two vector spaces in one chunks table. The manifest identity makes both
    * loud (mirrors the reference's index-info name check).
    */
  private def requireMatchingEmbedder(name: String, m: Model.Manifest): Unit = {
    val manifestEmbedder = m.embedder
    require(manifestEmbedder.isEmpty || manifestEmbedder == embedder.name,
      s"collection '$name' was embedded with '$manifestEmbedder' but this manager " +
        s"uses '${embedder.name}' — construct the CollectionManager with the matching embedder")
  }

  /** The one mutation body behind [[update]] and [[delete]]: the documents
    * with an id in `ids` (held on the driver, bounded by the batch, never by
    * the corpus; they join as a broadcast local `id` frame) leave both
    * tables, and the `added` rows, if any, take their place with chunk ids
    * continuing past the manifest high-water mark. On the bucketed layout
    * only the dirty buckets are read and rewritten ([[live]] / [[put]]).
    * BM25 merges incrementally; a built IVF index tombstones the removed
    * chunk ids and, when `refreshIvf`, assigns the added chunks. Returns the
    * footer-read manifest counters.
    */
  private def rewrite(name: String, old: Model.Manifest, ids: Seq[String],
                      added: Option[DataFrame], refreshIvf: Boolean): (Long, Long, Long) = {
    import spark.implicits._
    val idDf = broadcast(ids.distinct.toDF("id"))
    val docIds = idDf.select(col("id").as("documentId"))
    val buckets = dirtyBuckets(idDf, old.bucketCount)
    // the removed chunks feed the incremental BM25 merge; indexedData rides
    // along so it can tokenize the REMOVED side for O(changed) df decrements
    // instead of re-scanning the corpus. MATERIALIZE before any swap: the
    // plan reads chunksPath, and a lazy first action after the swap would see
    // the post-swap table (where these ids are gone)
    val removed = live(chunksPath(name), buckets)
      .join(docIds, Seq("documentId"), "left_semi")
      .select(col("chunkId").as("docId"), col("indexedData"))
      .persist()
    removed.count()

    val keptDocs = live(docsPath(name), buckets).join(idDf, Seq("id"), "left_anti")
    put(added.fold(keptDocs)(keptDocs.unionByName(_)), "id", docsPath(name), buckets)

    // the batch's chunks, built once from the batch in hand (the same rows
    // the documents write just stored) and shared by the chunks write, BM25
    // and IVF
    val built = added.map(a =>
      Indexing.buildChunks(a, embedder, startId = old.lastIndexItemId + 1).persist())
    val keptChunks = live(chunksPath(name), buckets)
      .join(docIds, Seq("documentId"), "left_anti")
    put(built.fold(keptChunks)(b => keptChunks.select(b.columns.map(col): _*).unionByName(b)),
      "documentId", chunksPath(name), buckets)

    // BM25: incremental postings merge — the removed chunks' postings
    // tombstone out, tokenization (the dominant shuffle: explode over every
    // token of every doc) runs over the NEW chunks only, and a delete adds
    // no postings segment at all
    bm25Indexer(name).updateIncremental(removed, built.getOrElse(this.chunks(name).limit(0)))
    // IVF follows the same incremental shape: tombstone the removed chunk
    // ids ALWAYS (otherwise vector_ivf keeps serving them; every tombstone
    // kills exactly one assigned row, since `removed` came from the live
    // chunks table), assign the new chunks against the frozen centroids when
    // this call owns the refresh. Streaming callers pass refreshIvf = false
    // and APPEND the batch's chunks themselves (StreamingUpdate) — assigning
    // here too would double-index every batch.
    ivfIndex(name).foreach { ivf =>
      val removedAsChunk = removed.select(col("docId").as("chunkId"))
      built match {
        case Some(nc) if refreshIvf => ivf.refreshIncremental(removedAsChunk, nc)
        case _ => ivf.removeIds(removedAsChunk)
      }
    }
    built.foreach(_.unpersist())
    removed.unpersist()
    manifestStats(name)
  }

  /** Incremental update: re-read documents replace their old rows (and chunks) by
    * anti-join; new chunk ids continue after the manifest high-water mark.
    */
  def update(name: String, changedRawDocs: DataFrame,
             refreshIvf: Boolean = true): Model.Manifest = withWriterLock(name) {
    val old = readManifest(name)
    // updating with a mismatched embedder would interleave incompatible
    // vectors with the kept chunks — same guard as search, before any write
    requireMatchingEmbedder(name, old)
    val changed = withChunks(changedRawDocs)
    // the merge reads the batch three times (this pass, the documents write,
    // the chunk build): a batch still behind a file scan is cached, so its
    // sources parse once and every read sees the same rows
    if (Tables.scansFiles(changed)) changed.persist()
    // one driver pass over the batch's (id, lastModifiedAt): the ids every
    // merge join reads, and the batch's watermark. A local batch folds into
    // its relation (no job); a cached batch costs one scan.
    val rows = changed.select(col("id"), modifiedAt(changed)).collect()
    val (nChunks, maxId, nDocs) =
      try rewrite(name, old, rows.map(_.getString(0)).toSeq, Some(changed), refreshIvf)
      finally changed.unpersist()
    // watermark = max EVER SEEN, maintained monotonically from the batch in
    // hand (O(batch), not an O(corpus) rescan): a replaced doc can carry an
    // older timestamp, but an incremental-read cursor must never move back —
    // everything up to the old mark has already been fetched. ISO-8601
    // strings order lexicographically, same comparison the old scan used.
    val batchMax = rows.flatMap(r => Option(r.getString(1))).maxOption.getOrElse("")
    val m = old.copy(
      updatedTime = nowIso,
      lastModifiedDocumentTime = Seq(old.lastModifiedDocumentTime, batchMax).max,
      numberOfDocuments = nDocs, numberOfChunks = nChunks,
      // HWM never recedes (same guard as delete): an update whose docs carry
      // explicitly-empty chunks arrays can REMOVE the highest chunk ids while
      // adding none — a raw table max would then hand those ids back to the
      // next update, breaking history-unique chunk ids
      lastIndexItemId = math.max(old.lastIndexItemId, maxId),
      version = old.version + 1)
    writeManifest(m, name)
    m
  }

  /** Delete documents by id — [[update]]'s removal half without the re-add
    * (reference contract: `remove_ids`, `sqllite_indexer.py:45` /
    * `chroma_indexer.py` batched deletes, driven from
    * `documents_collection_creator.py:204-221`): anti-join rewrite of the
    * docs and chunks tables, BM25 incremental merge, IVF tombstones when
    * built. Unknown ids are a no-op per row, like the reference's mapping
    * lookup.
    */
  def delete(name: String, ids: Seq[String]): Model.Manifest = withWriterLock(name) {
    val old = readManifest(name)
    import spark.implicits._
    val (nChunks, maxId, nDocs) = rewrite(name, old, ids, None, refreshIvf = false)

    // dedup-on-arrival signatures follow the documents: a deleted doc's stale
    // signature must not block re-ingesting similar content later. Append
    // TOMBSTONE revisions (the versioned layout's delete) — O(ids), not an
    // O(table) rewrite; minhashSigs' argmax view drops them at read time.
    if (fs.exists(new Path(sigsPath(name)))) {
      val rev = nextSigRev(name)
      ids.toDF("ex_id")
        .withColumn("sig0", lit(null).cast("string"))
        .withColumn("sig1", lit(null).cast("string"))
        .withColumn("sig2", lit(null).cast("string"))
        .withColumn("sig3", lit(null).cast("string"))
        .withColumn("rev", lit(rev)).withColumn("deleted", lit(true))
        .write.mode("append").parquet(sigsPath(name))
    }

    val m = old.copy(
      updatedTime = nowIso,
      numberOfDocuments = nDocs, numberOfChunks = nChunks,
      // the high-water mark never moves backwards: ids stay unique across the
      // collection's whole history even if the max surviving id is lower
      lastIndexItemId = math.max(old.lastIndexItemId, maxId),
      version = old.version + 1)
    writeManifest(m, name)
    m
  }

  /** Consistency audit over the collection's tables and derived indexes —
    * the fsck a long-lived index needs after crashes, partial writes, or
    * operator error. Every check is a count or an id anti-join on narrow
    * projections; no vector column is read, and the only text read is the
    * documents' stored `chunks` array, which `chunkless_documents` needs.
    * Returns one row per check: (check, expected, actual, ok).
    */
  def fsck(name: String): DataFrame = {
    import spark.implicits._
    val m = readManifest(name)
    val storedDocs = Tables.open(spark, docsPath(name))
    val docs = storedDocs.select("id")
    val ch = Tables.open(spark, chunksPath(name)).select("chunkId", "documentId")
    val nDocs = docs.count()
    val nChunks = ch.count()
    val maxChunkId = ch.agg(coalesce(max("chunkId"), lit(-1L))).head().getLong(0)
    val dupChunkIds = nChunks - ch.select("chunkId").distinct().count()
    val orphanChunks = ch.join(docs.withColumnRenamed("id", "documentId"),
      Seq("documentId"), "left_anti").count()
    // a document stored with an empty `chunks` array (update accepts one)
    // rightly has no chunk rows; one with a non-empty array must have them
    val chunklessDocs = storedDocs.filter(size(col("chunks")) > 0).select("id")
      .join(ch.select(col("documentId").as("id")), Seq("id"), "left_anti").count()
    val base = Seq(
      ("manifest_documents", nDocs, m.numberOfDocuments.toLong),
      ("manifest_chunks", nChunks, m.numberOfChunks.toLong),
      ("chunk_id_within_hwm", maxChunkId, math.min(maxChunkId, m.lastIndexItemId)),
      ("duplicate_chunk_ids", 0L, dupChunkIds),
      ("orphan_chunks", 0L, orphanChunks),
      ("chunkless_documents", 0L, chunklessDocs))
    val bm25 =
      if (fs.exists(new Path(s"${bm25Dir(name)}/postings")))
        // the LOGICAL postings table (base ∪ delta ⊖ tombstones): physically
        // present but tombstoned rows are not stray — they're the LSM tail
        Seq(("bm25_stray_postings", 0L,
          bm25Indexer(name).postingsTable()
            .select(col("docId").as("chunkId")).distinct()
            .join(ch.select("chunkId"), Seq("chunkId"), "left_anti").count()))
      else Nil
    // bucketed layout: a row in the wrong bucket dir would dodge every future
    // dirty-bucket rewrite (updates to its doc would duplicate, deletes would
    // miss) — assert the partition value matches the hash for every row
    // every VISIBLE child of a bucketed table root must parse as bucket=<int>
    // — a stray visible dir (e.g. crash residue from a pre-hidden-backup
    // build, or operator error) flips partition discovery to string typing,
    // re-reads its rows as duplicates, and dodges every dirty-bucket rewrite;
    // hidden (`.`/`_`) names are skipped by readers and are not corruption
    def malformedChildren(path: String): Long =
      fs.listStatus(new Path(path)).count { st =>
        val n0 = st.getPath.getName
        !n0.startsWith("_") && !n0.startsWith(".") &&
          !(st.isDirectory && n0.matches("bucket=\\d+"))
      }.toLong
    val buckets =
      if (m.bucketCount > 0) {
        val malformedDocs = malformedChildren(docsPath(name))
        val malformedChunks = malformedChildren(chunksPath(name))
        // the per-row hash check presupposes integer-typed partition values;
        // with a stray visible dir, discovery types `bucket` as string and
        // the ANSI cast would throw mid-report — the malformed rows already
        // carry the failure, so the row scan runs only on a clean root
        val misbucketed =
          if (malformedDocs == 0L && malformedChunks == 0L) Seq(
            ("misbucketed_documents", 0L,
              Tables.open(spark, docsPath(name))
                .filter(col("bucket") =!= bucketOf(col("id"), m.bucketCount))
                .count()),
            ("misbucketed_chunks", 0L,
              Tables.open(spark, chunksPath(name))
                .filter(col("bucket") =!= bucketOf(col("documentId"), m.bucketCount))
                .count()))
          else Nil
        misbucketed ++ Seq(
          ("malformed_bucket_children_documents", 0L, malformedDocs),
          ("malformed_bucket_children_chunks", 0L, malformedChunks))
      } else Nil
    // the positional artifact shares the postings' membership contract: a
    // LOGICAL row (base ∪ delta ⊖ tombstones) whose chunk id is not a live
    // chunk is crash residue that would serve phantom phrase/NEAR hits
    val positions =
      if (fs.exists(new Path(s"${bm25Dir(name)}/positions")))
        Seq(("positions_stray", 0L,
          bm25Indexer(name).positionsTable()
            .select(col("docId").as("chunkId")).distinct()
            .join(ch.select("chunkId"), Seq("chunkId"), "left_anti").count()))
      else Nil
    val ivf = ivfIndex(name).map(ix =>
      ("ivf_size_matches_chunks", nChunks, ix.size)).toSeq
    val sigs =
      if (fs.exists(new Path(sigsPath(name)))) {
        // the LOGICAL view: superseded revisions and tombstones are history,
        // not inconsistency
        val sigIds = minhashSigs(name).get
          .select(col("ex_id").as("id")).distinct()
        Seq(
          ("dedup_sigs_without_doc", 0L,
            sigIds.join(docs, Seq("id"), "left_anti").count()),
          // the inverse: an indexed document with NO signature permanently
          // stops gating future near-dup arrivals (a crash between cm.update
          // and the sig upsert leaves this state) — streaming heals it on the
          // next gated batch, fsck surfaces it
          ("doc_without_dedup_sig", 0L,
            docs.join(sigIds, Seq("id"), "left_anti").count()))
      } else Nil
    // a writer-lock file whose lease has EXPIRED is crashed-writer residue:
    // harmless to liveness (the next writer breaks it) but worth surfacing —
    // the mutation that died mid-flight may have left work for reindex/fsck.
    // An unexpired lock is a live writer, not corruption, and is not flagged.
    val lock = {
      val p = lockPath(name)
      val expired =
        if (!fs.exists(p)) 0L
        else try {
          val in = fs.open(p)
          val json = try new String(
            org.apache.commons.io.IOUtils.toByteArray(in), StandardCharsets.UTF_8)
          finally in.close()
          val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
          val until = root.path("acquiredAtMs").asLong(0L) + root.path("leaseMs").asLong(0L)
          if (until <= System.currentTimeMillis()) 1L else 0L
        } catch {
          // a live writer releasing between exists() and open() is a healthy
          // no-lock state, not residue — only a genuinely unreadable/partial
          // lock file counts
          case _: java.io.FileNotFoundException => 0L
          case _: java.io.IOException => 1L // unreadable = residue
        }
      Seq(("expired_writer_lock", 0L, expired))
    }
    // terms outside the tokenizer alphabet ([a-z0-9]+) are UNREACHABLE: the
    // query paths normalize every atom through the engine tokenizer, so
    // neither an equality lookup nor a stem's StartsWith range read can ever
    // match such a row — a segment written with un-normalized terms (case
    // drift, whitespace residue, a compaction bug re-writing terms under a
    // different normalization) silently splits a stem's postings between
    // reachable and unreachable rows. One narrow count per artifact over the
    // LOGICAL view, so the check sees base AND delta segments alike.
    val termAlphabet = "^[a-z0-9]+$"
    val nonnormal =
      (if (fs.exists(new Path(s"${bm25Dir(name)}/postings")))
        Seq(("bm25_unreachable_terms", 0L,
          bm25Indexer(name).postingsTable()
            .filter(!col("term").rlike(termAlphabet)).count()))
      else Nil) ++
      (if (fs.exists(new Path(s"${bm25Dir(name)}/positions")))
        Seq(
          ("positions_unreachable_terms", 0L,
            bm25Indexer(name).positionsTable()
              .filter(!col("term").rlike(termAlphabet)).count()),
          // the shift-intersect machinery (phrase, NEAR, anchors) assumes
          // each positions array is sorted, duplicate-free, 1-based, and
          // non-empty — a segment violating that silently mis-counts
          // phrase_tf / spans rather than erroring
          ("positions_malformed", 0L,
            bm25Indexer(name).positionsTable()
              .filter(size(col("positions")) === 0 ||
                col("positions") =!= array_distinct(sort_array(col("positions"))) ||
                element_at(col("positions"), 1) < 1).count()))
      else Nil)
    (base ++ bm25 ++ positions ++ nonnormal ++ buckets ++ ivf ++ sigs ++ lock)
      .map { case (c, e, a) => (c, e, a, e == a) }
      .toDF("check", "expected", "actual", "ok")
  }

  /** Fold the BM25 index's delta/tombstone tail (grown by incremental
    * updates/deletes) back into its base segment — LSM compaction. Values
    * are unchanged by construction; search latency and the tombstone
    * anti-join shrink. Cheap no-op when the tail is empty.
    */
  def compactBm25(name: String): Unit =
    withWriterLock(name) { bm25Indexer(name).compact() }

  /** Size of the BM25 delta/tombstone tail — the compact-or-not signal
    * (listing only, no data read).
    */
  def bm25TailBytes(name: String): Long = bm25Indexer(name).tailBytes

  /** FILE count of the BM25 tail — the read-amplification twin of
    * [[bm25TailBytes]]; see Bm25Indexer.tailSegments for why both bound.
    */
  def bm25TailSegments(name: String): Long = bm25Indexer(name).tailSegments

  /** Centroid-drift signal of the collection's IVF index (None when no index
    * or a pre-signal index) — total-variation distance between the current
    * and train-time list-share distributions, footer-read cheap. The
    * maintenance loop's re-train-or-not evidence, like [[bm25TailBytes]] is
    * its compact-or-not evidence.
    */
  def ivfDrift(name: String): Option[Double] =
    ivfIndex(name).flatMap(_.listSizeDrift)

  /** Re-train the IVF index from the CURRENT chunks at its existing list
    * count — fresh k-means centroids, full reassignment, drift signal reset.
    * The repair [[ivfDrift]] calls for; cheaper than [[reindex]] (BM25 is
    * left alone).
    */
  def retrainIvf(name: String): Unit = withWriterLock(name) {
    if (ivfIndex(name).isDefined) {
      val lists = Tables.open(spark, s"${ivfDir(name)}/centroids")
        .count().toInt
      buildIvfIndex(name, nLists = lists)
      ()
    }
  }

  /** Rebuild every derived index from the chunks table: BM25 postings
    * always; the IVF index when one exists, with FRESH centroid training at
    * the same list count ([[retrainIvf]]) — the churn repair for
    * long-running streamed collections whose append-only IVF assignment has
    * drifted from the frozen centroids.
    */
  def reindex(name: String): Unit = withWriterLock(name) {
    bm25Indexer(name).index(this.chunks(name))
    retrainIvf(name)
  }

  // --------------------------------------------------------------------- queries

  /** The chunks/documents tables with the physical layout abstracted away:
    * the bucketed layout's `bucket` partition column is an implementation
    * detail and never reaches a consumer (drop is a no-op on flat layouts).
    */
  def chunks(name: String): DataFrame =
    Tables.open(spark, chunksPath(name)).drop("bucket")
  def documents(name: String): DataFrame =
    Tables.open(spark, docsPath(name)).drop("bucket")

  /** Indexers available to search, by manifest name. The IVF index joins the
    * registry once built ([[buildIvfIndex]]) — discovery mirrors the reference's
    * indexer_factory reading index names from collection state
    * (indexer_factory.py:15-27).
    */
  private def availableIndexers(name: String): Map[String, graft.operators.Indexer] = {
    val base = Map[String, graft.operators.Indexer](
      "vector_exact_l2" -> vectorIndexer(name), "bm25" -> bm25Indexer(name))
    base ++ ivfIndex(name).map("vector_ivf" -> _)
  }

  /** Spelling suggestions for a query's terms against THIS collection's
    * BM25 vocabulary — the termDf LSM view (base ⊕ deltas), so suggestions
    * track incremental updates with no extra bookkeeping. SymSpell
    * deletion-neighborhood join ([[graft.operators.Suggest.spellSuggest]]);
    * df ranking makes the engine prefer the corpus's own frequent spelling.
    */
  def suggestTerms(name: String, queryTerms: Seq[String], maxEdits: Int = 2,
                   topK: Int = 3): DataFrame =
    bm25Indexer(name).suggest(queryTerms, maxEdits, topK)

  /** Persist the SymSpell delete-key artifact next to the BM25 index — the
    * per-query neighborhood explode of the vocabulary becomes a build-time
    * cost. From then on the artifact is MAINTAINED: incremental updates
    * append the batch vocabulary's keys and restamp (suggest stays on the
    * no-anti-join fast path), and [[compactBm25]] rebuilds it against the
    * folded vocabulary.
    */
  def buildSuggestIndex(name: String, maxEdits: Int = 2): Unit =
    withWriterLock(name) { bm25Indexer(name).buildSuggestKeys(maxEdits) }

  /** Top completions of `prefix` from this collection's BM25 vocabulary
    * (same LSM termDf view as [[suggestTerms]]).
    */
  def autocompleteTerms(name: String, prefix: String, k: Int = 8): DataFrame =
    graft.operators.Suggest.autocomplete(
      bm25Indexer(name).termDfTable(), "term", "df", prefix, k)

  /** Metadata-filter DSL → the one Column every search path pushes into the
    * chunks scan (same compile as [[search]]).
    */
  private def compiledFilter(metadataFilter: Option[String]): Option[Column] =
    metadataFilter.map(f =>
      graft.functions.FilterDsl.metadataFilterColumn(f, col("metadata")))

  /** Boolean MATCH (AND/OR/NOT + parens) over this collection's BM25
    * index, CHUNK level — candidates from posting-set algebra, ranked by
    * BM25 on the positive terms. `metadataFilter` (the filter DSL) gates
    * candidates exactly as the reference gates FTS5 MATCH
    * (sqllite_indexer.py:64-74) — an id semi-join on the filtered chunks.
    */
  def booleanSearch(name: String, query: String, k: Int = 15,
                    metadataFilter: Option[String] = None,
                    includeSnippet: Boolean = false): DataFrame = {
    val hits = bm25Indexer(name).booleanSearch(query, k, compiledFilter(metadataFilter))
    if (!includeSnippet) hits
    else attachSnippet(hits, "chunkId",
      chunks(name).select(col("chunkId"), col("indexedData").as("_snipText")), query)
  }

  /** Best-window highlight snippet for the query's POSITIVE atoms (terms +
    * prefix stems — negated atoms don't score, so they don't highlight),
    * left-joined onto a ≤k-row hit frame: the k-row side broadcasts against
    * the big text table (J2's shape), the window scan runs over k texts
    * only. The highlighter hit-tests each word through the ENGINE tokenizer
    * (r15: same split as the index), so a doc that matched on the index
    * always has a scoring window; the left join still keeps a null snippet
    * rather than dropping a hit if the contract is ever violated.
    */
  private def attachSnippet(hits: DataFrame, idCol: String,
                            texts: DataFrame, query: String): DataFrame = {
    val (terms, stems) = graft.operators.QueryLang.positiveAtomsOf(query)
    attachSnippetAtoms(hits, idCol, texts, terms, stems)
  }

  private def attachSnippetAtoms(hits: DataFrame, idCol: String,
                                 texts: DataFrame, terms: Seq[String],
                                 stems: Seq[String],
                                 order: Seq[Column] = Nil): DataFrame = {
    // Materialize the hit frame ONCE before deriving snippets: the frame is
    // ≤k rows by construction (the search caps), but its LINEAGE is the full
    // search pipeline — referencing it twice (snippet side + the join's left
    // side) would execute that pipeline twice per query (ADVICE r14). A
    // driver-local copy is bounded and makes both sides a LocalRelation.
    import scala.jdk.CollectionConverters._
    val hitsLocal = spark.createDataFrame(
      hits.collect().toSeq.asJava, hits.schema)
    val snips = graft.operators.Suggest.highlightSnippet(
      broadcast(hitsLocal.select(col(idCol))).join(texts, Seq(idCol)),
      idCol, "_snipText", terms, window = 12, stems = stems)
      .select(col(idCol), col("snippet"))
    // the join does not preserve the top-k sort — re-apply the caller's
    // ranking (default: the score-ranked surfaces' order)
    val ord = if (order.nonEmpty) order else Seq(col("score").desc, col(idCol))
    hitsLocal.join(snips, Seq(idCol), "left").orderBy(ord: _*)
  }

  /** [[booleanSearch]] rolled up to DOCUMENTS: each document ranks by its
    * best-matching chunk's BM25 score (the W2 doc-rank convention the
    * hybrid search uses), ties broken by documentId. `includeSnippet` adds
    * the best highlight window of the DOCUMENT's text for the query's
    * positive atoms — the context an MCP agent shows next to the id.
    */
  def booleanSearchDocs(name: String, query: String, k: Int = 5,
                        metadataFilter: Option[String] = None,
                        includeSnippet: Boolean = false): DataFrame = {
    val hits = bm25Indexer(name).booleanHits(query, compiledFilter(metadataFilter))
      .join(chunks(name).select(col("chunkId").as("docId"), col("documentId")),
        Seq("docId"))
      .groupBy("documentId").agg(max("score").as("score"))
      .orderBy(col("score").desc, col("documentId"))
      .limit(k)
    if (!includeSnippet) hits
    else attachSnippet(hits, "documentId",
      documents(name).select(col("id").as("documentId"), col("text").as("_snipText")),
      query)
  }

  /** P7-style result projection for the MATCH-family surfaces: left-join the
    * hit's text onto a ranked ≤k-row hit frame — chunk `indexedData` when
    * `docLevel` is false, the document's full `text` otherwise. The hit side
    * is materialized ONCE (bounded by the search caps, same rationale as the
    * snippet join) with an INTERNAL rank column so the caller's ordering
    * survives the join — dropped before emit; the tiny local side broadcasts
    * against the big text table (J2's shape). The joined column is named
    * `textContent`, matching the P7 `search` projection, so `--include-text`
    * output is uniform across `search` and the MATCH-family commands.
    */
  def attachHitText(name: String, hits: DataFrame, idCol: String,
                    docLevel: Boolean): DataFrame = {
    import scala.jdk.CollectionConverters._
    val rows = hits.collect().toSeq
    val schema = hits.schema.add("_rank", org.apache.spark.sql.types.LongType)
    val local = spark.createDataFrame(
      rows.zipWithIndex.map { case (r, i) =>
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ (i + 1).toLong)
      }.asJava, schema)
    val texts =
      if (docLevel) documents(name).select(col("id").as(idCol),
        col("text").as("textContent"))
      else chunks(name).select(col("chunkId").as(idCol),
        col("indexedData").as("textContent"))
    broadcast(local).join(texts, Seq(idCol), "left").orderBy("_rank").drop("_rank")
  }

  /** NEAR over the positional artifact (build it first): every term within
    * a ≤`window`-token span, ranked by the minimal span. CHUNK level; the
    * filter DSL composes as in [[booleanSearch]].
    */
  def nearSearch(name: String, terms: Seq[String], window: Int,
                 k: Int = 15, metadataFilter: Option[String] = None,
                 includeSnippet: Boolean = false): DataFrame = {
    val hits = bm25Indexer(name).near(terms, window, k, compiledFilter(metadataFilter))
    if (!includeSnippet) hits
    else attachSnippetAtoms(hits, "docId",
      chunks(name).select(col("chunkId").as("docId"), col("indexedData").as("_snipText")),
      terms.flatMap(graft.operators.Search.tokenize), Nil,
      order = Seq(col("span_len"), col("docId")))
  }

  /** [[nearSearch]] rolled up to DOCUMENTS: each document ranks by its
    * tightest chunk span (earliest start breaks span ties within the doc).
    */
  def nearSearchDocs(name: String, terms: Seq[String], window: Int,
                     k: Int = 5, metadataFilter: Option[String] = None,
                     includeSnippet: Boolean = false): DataFrame = {
    val hits = bm25Indexer(name).nearHits(terms, window, compiledFilter(metadataFilter))
      .join(chunks(name).select(col("chunkId").as("docId"), col("documentId")),
        Seq("docId"))
      .groupBy("documentId")
      .agg(min(struct(col("span_len"), col("span_start"))).as("best"))
      .select(col("documentId"),
        col("best.span_len").as("span_len"),
        col("best.span_start").as("span_start"))
      .orderBy(col("span_len"), col("documentId"))
      .limit(k)
    if (!includeSnippet) hits
    else attachSnippetAtoms(hits, "documentId",
      documents(name).select(col("id").as("documentId"), col("text").as("_snipText")),
      terms.flatMap(graft.operators.Search.tokenize), Nil,
      order = Seq(col("span_len"), col("documentId")))
  }

  /** Persist the positional-postings artifact — exact-phrase queries then
    * answer from ≤ |phrase| term-pruned reads. A full LSM member: later
    * incremental updates append its deltas automatically (∝ changed docs),
    * deletes act through the shared tombstones, [[compactBm25]] folds it.
    */
  def buildPhraseIndex(name: String): Unit =
    withWriterLock(name) { bm25Indexer(name).buildPhraseIndex(chunks(name)) }

  /** Exact phrase search over this collection, DOCUMENT level: chunk hits
    * from the positional view aggregate per document (occurrences summed,
    * earliest position kept), ranked (tf desc, documentId asc). The filter
    * DSL composes as in [[booleanSearch]].
    */
  def phraseSearch(name: String, phrase: Seq[String], k: Int = 15,
                   metadataFilter: Option[String] = None,
                   includeSnippet: Boolean = false): DataFrame = {
    val chunkHits = bm25Indexer(name).phraseHits(phrase, compiledFilter(metadataFilter))
    val hits = chunkHits
      .join(chunks(name).select(col("chunkId").as("docId"), col("documentId")),
        Seq("docId"))
      .groupBy("documentId")
      .agg(sum("phrase_tf").as("phrase_tf"), min("first_pos").as("first_pos"))
      .orderBy(col("phrase_tf").desc, col("documentId"))
      .limit(k)
    if (!includeSnippet) hits
    else attachSnippetAtoms(hits, "documentId",
      documents(name).select(col("id").as("documentId"), col("text").as("_snipText")),
      phrase.flatMap(graft.operators.Search.tokenize), Nil,
      order = Seq(col("phrase_tf").desc, col("documentId")))
  }

  /** Hybrid vector+BM25 search with optional metadata-filter DSL (SURVEY §3.1)
    * and result-projection flags (P7: include text / matched-chunk / all-chunks
    * payloads — the documents table joins in only when a payload needs it).
    * `indexNames` selects a subset of the built indexes, like the reference's
    * --indexes arg (None = the two every collection has, `vector_exact_l2`
    * and `bm25`); multiple indexes RRF-fuse with constant `rrfK`.
    */
  def search(
      name: String, query: String,
      maxChunks: Int = 15, maxDocs: Int = 5,
      metadataFilter: Option[String] = None,
      includeText: Boolean = false,
      includeMatchedChunkContent: Boolean = false,
      includeAllChunksContent: Boolean = false,
      indexNames: Option[Seq[String]] = None,
      rrfK: Int = 60,
      indexWeights: Seq[Double] = Nil,
      matchQuery: Option[String] = None): DataFrame = {
    requireMatchingEmbedder(name, readManifest(name))
    val proj = Search.Projection(
      includeText, includeMatchedChunkContent, includeAllChunksContent,
      documents = if (includeText || includeAllChunksContent) Some(documents(name)) else None)
    val filterCol = metadataFilter.map(f =>
      graft.functions.FilterDsl.metadataFilterColumn(f, col("metadata")))
    val registry = availableIndexers(name)
    val selected = indexNames match {
      case Some(wanted) =>
        val unknown = wanted.filterNot(registry.contains)
        require(unknown.isEmpty,
          s"unknown index(es): ${unknown.mkString(", ")}; available: ${registry.keys.toSeq.sorted.mkString(", ")}")
        wanted.map(registry)
      case None => Seq(registry("vector_exact_l2"), registry("bm25"))
    }
    // `matchQuery` (a boolean-MATCH restriction, FTS5 grammar) gates every
    // index's candidates BEFORE ranking — the candidate set comes from the
    // BM25 index's posting-set algebra, entering each search as one id
    // semi-join (the metadataFilter composes separately inside each search,
    // so the gate carries the pure MATCH set).
    val gate = matchQuery.map(q => bm25Indexer(name).booleanCandidates(q)
      .select(col("docId").as("chunkId")))
    // Multi-index search over the prebuilt indexes (vector scan + BM25 postings),
    // RRF-fused, then grouped into documents — searcher.py:31-65 on columnar state.
    val fused = graft.operators.Indexers.multiSearch(
      selected, query, maxChunks, filterCol, rrfK, weights = indexWeights,
      matchGate = gate)
    // A single selected index returns its raw ranked list (chunkId, score)
    // with its own sort direction; fusion output ranks by rrfScore.
    val order =
      if (fused.columns.contains("rrfScore")) col("rrfScore").desc
      else if (selected.head.ascendingScores) col("score").asc
      else col("score").desc
    val ranked = fused.withColumn("rank",
      row_number().over(org.apache.spark.sql.expressions.Window.orderBy(
        order, col("chunkId").asc)))
    Search.groupIntoDocuments(
      ranked.select("chunkId", "rank"),
      chunks(name).select("chunkId", "documentId", "documentUrl", "chunkNumber", "indexedData"),
      maxDocs, proj)
  }

  /** Fetch a document by id with a line-range slice (reference:
    * main/core/documents_collection_fetcher.py:10-33, defaults 1–200).
    */
  def fetch(name: String, documentId: String, startLine: Int = 1, endLine: Int = 200): DataFrame = {
    val len = endLine - startLine + 1
    documents(name)
      .filter(col("id") === documentId)
      .select(col("id"), col("url"),
        size(split(col("text"), "\n")).as("totalLines"),
        array_join(slice(split(col("text"), "\n"), startLine, len), "\n").as("content"),
        lit(startLine).as("startLine"),
        least(lit(endLine), size(split(col("text"), "\n"))).as("endLine"))
  }
}
