package graft.streaming

import graft.core.CollectionManager
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Structured Streaming extensions (SURVEY §2.10 — the reference has only a
  * micro-batch-like incremental update: a stored watermark minus a 5-minute overlap
  * re-reads changed docs, /root/reference/main/factories/update_collection_factory
  * .py:47-65). Here the same merge becomes a continuous pipeline:
  *
  *  - [[collectionUpdateWriter]]: a changed-documents stream drives the
  *    CollectionManager merge per micro-batch (`foreachBatch`) — watermark
  *    bookkeeping comes free from the source offsets instead of a stored
  *    timestamp minus overlap buffer;
  *  - [[windowedEventCounts]]: tumbling-window aggregation with late-data
  *    watermark over an event stream — the streaming twin of the batch
  *    `st1_tumbling_window` query (same plan, readStream instead of read).
  */
object StreamingUpdate {

  /** Fold-or-not for the signature table: fold when the table has outgrown
    * TWICE the size recorded at the last fold (i.e. accumulated history ≈
    * live rows), floored by `floor` so tiny tables never churn. Growth-based
    * on purpose — see the baseline var in [[collectionUpdateWriter]].
    */
  private[graft] def sigFoldDue(totalBytes: Long, baselineBytes: Long,
                                floor: Long): Boolean =
    totalBytes > math.max(floor, 2L * baselineBytes)

  /** Continuous incremental update: each micro-batch of changed documents
    * (id, url, metadata, text) merges into the collection via the same anti-join +
    * append + high-water-mark path as batch update — exactly-once per batch since
    * the merge is idempotent on document ids.
    *
    * `appendIvf`: when an IVF index exists for the collection, each batch's
    * new chunk vectors ALSO append into the frozen-centroid partition dirs
    * ([[graft.operators.IvfVectorIndexer.append]]) — probes see fresh
    * documents on their next scan without a rebuild. The merge tombstones
    * replaced documents' old vectors in the index; that tail folds under
    * the same two budgets as BM25's.
    *
    * `dedupOnArrival`: gate each batch against the collection's persisted
    * minhash signature table ([[graft.operators.Dedup.incrementalNearDups]])
    * — an arriving document that is a near-dup of anything already indexed is
    * dropped before the merge, and survivors upsert their own signatures.
    * Enabling it on a collection that predates the signature table BACKFILLS
    * signatures from the existing documents once (one pass over the corpus
    * text, on the first gated batch) — otherwise the pre-existing corpus
    * would never gate anything. After that the signature table is 5 narrow
    * columns per document; the corpus text is never re-read, and the batch
    * side broadcasts — the shape that stays cheap when the collection is
    * large and batches are small. Duplicates WITHIN one batch are not
    * cross-checked (they land and are caught when the next batch arrives
    * against their signatures); run a batch `Dedup.minhashLsh` pass when
    * intra-batch duplication matters.
    *
    * `trigger`: AvailableNow by default (drain what's there, then stop — the
    * catch-up / cron shape); pass ProcessingTime for a long-running watcher.
    */
  def collectionUpdateWriter(
      changedDocs: DataFrame,
      cm: CollectionManager,
      collectionName: String,
      checkpointDir: String,
      appendIvf: Boolean = false,
      dedupOnArrival: Boolean = false,
      trigger: Trigger = Trigger.AvailableNow(),
      compactTailBytes: Long = 64L << 20,
      compactTailSegments: Long = 64L,
      retrainIvfDriftAbove: Double = 0.0,
      createBuckets: Int = 0): DataStreamWriter[org.apache.spark.sql.Row] = {
    // once per stream start: heal documents that have no signature (a crash
    // between cm.update and the sig upsert leaves them un-gated forever —
    // fsck's doc_without_dedup_sig check is the audit twin of this repair)
    var sigsHealed = false
    // signature-table bytes at the last fold (seeded from the first gated
    // batch's observation). The fold trigger compares GROWTH against this
    // baseline, not absolute size: live signatures alone eventually exceed
    // any fixed budget (~1M docs at the 64 MB default), and an absolute
    // trigger would then fire a full-table rewrite on EVERY batch without
    // ever getting under budget — exactly the O(table)-per-tick cost the
    // versioned store exists to avoid.
    var sigBaselineBytes = -1L
    changedDocs.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // the batch plan re-parses every document's binary content on each
        // reference (isEmpty probes, the merge's three reads, sig upsert, IVF
        // ids) — pin it for the closure's lifetime
        batch.persist()
        try {
          if (!batch.isEmpty) {
            val existed = cm.exists(collectionName)
            if (dedupOnArrival && existed) {
              cm.minhashSigs(collectionName) match {
                case None =>
                  // collection predates the signature table: backfill once
                  cm.appendMinhashSigs(collectionName, cm.documents(collectionName))
                case Some(sigs) if !sigsHealed =>
                  // partial-write repair: re-derive signatures for any doc
                  // missing one (narrow id anti-join; text read only for the
                  // survivors)
                  val missing = cm.documents(collectionName)
                    .join(sigs.select(col("ex_id").as("id")), Seq("id"), "left_anti")
                  if (!missing.isEmpty) cm.appendMinhashSigs(collectionName, missing)
                case _ => ()
              }
              sigsHealed = true
            }
            val incoming =
              if (!dedupOnArrival) batch
              else cm.minhashSigs(collectionName) match {
                case Some(sigs) =>
                  val keep = graft.operators.Dedup
                    .incrementalNearDups(batch, sigs, "id", "text")
                    .filter(!col("is_dup")).select("id")
                  batch.join(keep, Seq("id"), "left_semi").persist()
                case None => batch // brand-new collection: nothing to collide with
              }
            if (!incoming.isEmpty) {
              // appendIvf suppresses the merge's full IVF reassignment — the
              // batch's chunks APPEND instead (doing both double-indexes)
              // createBuckets > 0 makes a stream-born collection BUCKETED
              // from its first batch — every later tick then pays only its
              // dirty buckets (the manifest's bucketCount routes cm.update);
              // an existing collection keeps whatever layout it was built with
              if (existed) cm.update(collectionName, incoming,
                refreshIvf = !appendIvf)
              else cm.create(collectionName, incoming, nBuckets = createBuckets)
              if (dedupOnArrival) cm.appendMinhashSigs(collectionName, incoming)
              if (appendIvf) cm.ivfIndex(collectionName).foreach { ivf =>
                val batchIds = incoming.select(col("id")).distinct()
                ivf.append(cm.chunks(collectionName)
                  .join(batchIds, col("documentId") === col("id"), "left_semi"))
              }
              // each update appends a BM25 delta segment + tombstones (LSM);
              // a long-running watcher would grow the tail without bound —
              // fold it back once it outweighs a batch-churn budget. Two
              // orthogonal triggers: BYTES (rewrite cost ∝ accumulated
              // churn — tiny next to data-proportional work) and SEGMENT
              // COUNT (a stream of tiny ticks stays under any byte budget
              // forever while queries pay per-FILE footer opens — the
              // round-11 creep vector). The listing is metadata-only.
              if (cm.bm25TailBytes(collectionName) > compactTailBytes ||
                  cm.bm25TailSegments(collectionName) > compactTailSegments)
                cm.compactBm25(collectionName)
              // the signature table folds when it has roughly DOUBLED since
              // the last fold (floored by compactTailBytes so tiny tables
              // never churn): history growth pays for the rewrite, live size
              // never does. A restarted stream seeds the baseline from its
              // first observation — at worst one fold later than a
              // continuous run, never one per tick.
              if (dedupOnArrival) {
                val total = cm.sigHistoryBytes(collectionName)
                if (sigBaselineBytes < 0L) sigBaselineBytes = total
                if (sigFoldDue(total, sigBaselineBytes, compactTailBytes)) {
                  cm.compactSigs(collectionName)
                  sigBaselineBytes = cm.sigHistoryBytes(collectionName)
                }
              }
              // IVF tombstones (replaced docs' old vectors) under the same
              // two budgets — the append-only streaming path accretes one
              // tiny file per batch of re-ingested documents
              cm.ivfIndex(collectionName).foreach { ivf =>
                if (ivf.tailBytes > compactTailBytes ||
                    ivf.tailSegments > compactTailSegments) ivf.compact()
              }
              // drift-evidenced IVF re-train (opt-in, retrainIvfDriftAbove
              // in (0,1]): appends assign against frozen centroids; once the
              // list-share distribution has moved this far from its
              // train-time snapshot, pay one fresh k-means instead of
              // serving ever-worse probes. The signal itself is footer-read
              // cheap per tick.
              if (retrainIvfDriftAbove > 0.0)
                cm.ivfDrift(collectionName).foreach { d =>
                  if (d > retrainIvfDriftAbove) cm.retrainIvf(collectionName)
                }
            }
            if (incoming ne batch) incoming.unpersist()
          }
        } finally batch.unpersist()
        ()
      }
  }

  /** Tumbling-window event aggregation with a late-data watermark: the canonical
    * streaming agg (counts + sums per event_type per window). `withWatermark`
    * bounds state: windows older than the watermark finalize and evict.
    */
  def windowedEventCounts(
      events: DataFrame, // streaming DF: ts timestamp, event_type string, value double
      windowLength: String = "1 hour",
      lateness: String = "10 minutes",
      slide: Option[String] = None): DataFrame = {
    // slide = hopping window (each event lands in length/slide windows);
    // None = tumbling. Same state/eviction story either way — the watermark
    // closes a window once event time passes start + length + lateness.
    val w = slide.fold(window(col("ts"), windowLength))(
      s => window(col("ts"), windowLength, s))
    events
      .withWatermark("ts", lateness)
      .groupBy(col("event_type"), w.as("w"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"))
      .select(col("event_type"), col("w.start").as("window_start"),
        col("cnt"), col("sum_value"))
  }

  /** Watermarked stream-stream interval join — the streaming form of the
    * batch conversion funnel's first transition: each view pairs with the
    * clicks of the SAME user landing inside `joinWindow` after it. Both
    * sides carry a watermark and the join condition bounds click-time
    * relative to view-time on both ends, so Spark can evict matched/expired
    * state on either side instead of buffering the streams forever — the
    * requirement for an unbounded-input join to hold at 100 TB/day. The
    * output is append-mode-safe (rows emit once both watermarks pass the
    * interval's end).
    */
  def viewClickJoin(
      views: DataFrame, // streaming DF: user_id long, ts timestamp
      clicks: DataFrame, // streaming DF: user_id long, ts timestamp
      joinWindow: String = "1 hour",
      lateness: String = "1 hour"): DataFrame = {
    val v = views.select(col("user_id"), col("ts").as("view_ts"))
      .withWatermark("view_ts", lateness)
    val c = clicks.select(col("user_id").as("_cu"), col("ts").as("click_ts"))
      .withWatermark("click_ts", lateness)
    v.join(c,
        col("user_id") === col("_cu") &&
          col("click_ts") >= col("view_ts") &&
          col("click_ts") <= col("view_ts") + expr(s"INTERVAL $joinWindow"))
      .select(col("user_id"), col("view_ts"), col("click_ts"))
  }

  /** Streaming NEAR-dup suppression: drop documents whose 16-bit SimHash
    * fingerprint was already seen inside the watermark horizon. SimHash is a
    * narrow per-row expression (no aggregation), so it composes with streaming
    * `dropDuplicates` directly — near-identical replays (same fingerprint)
    * drop; genuinely new content passes. State is bounded by the watermark.
    */
  def nearDedupBySimhash(
      docs: DataFrame, // streaming DF: ts timestamp, <textCol> string
      textCol: String,
      lateness: String = "1 hour"): DataFrame =
    docs
      .withWatermark("ts", lateness)
      .withColumn("_fp", graft.operators.Dedup.simhash16(textCol))
      .dropDuplicates("_fp")
      .drop("_fp")

  /** One event for the stateful sessionizer: (user, event-time). The timestamp
    * keeps its column form — the streaming checker requires the watermarked
    * event-time attribute to reach the stateful operator.
    */
  case class SessionEvent(user_id: Long, ts: java.sql.Timestamp) {
    def tsMillis: Long = ts.getTime
  }

  /** Per-user open-session state, event-time millis. */
  case class SessionAcc(startMillis: Long, lastMillis: Long, nEvents: Long)

  /** An emitted (closed) session. */
  case class SessionOut(user_id: Long, session_start: java.sql.Timestamp,
                        session_end: java.sql.Timestamp, n_events: Long, duration_s: Long)

  /** Gap-based sessionization via the NATIVE `session_window` expression —
    * the built-in streaming session shape (watermarked, append-mode-safe:
    * a session emits once the watermark passes its end, and Spark's session
    * state store merges overlapping windows per key without custom code).
    *
    * Convention (MEASURED, streaming and batch — StreamingSpec pins both):
    * per-event windows `[ts, ts + gap]` merge when they overlap OR TOUCH,
    * so an event arriving EXACTLY `gap` after the last still merges, and
    * only a strictly-longer silence opens a new session — the `>`-starts-new
    * rule the `st3_session_window` oracle gates with a constructed
    * exact-boundary family (raw-timestamp arithmetic, no epoch flooring).
    * The [[sessionize]] path below reaches the same `>`-rule through
    * FLOORED-seconds comparison (w3_sessionize's convention), so the two
    * agree except when sub-second parts straddle the flooring;
    * StreamingSpec pins their agreement on whole-second data and
    * streaming-vs-batch equality for this one. Prefer this path when the built-in semantics
    * fit — it keeps the whole aggregation inside Catalyst (no Scala lambda
    * state, no per-group object churn); reach for flatMapGroupsWithState
    * only when the state shape is genuinely custom.
    */
  def sessionizeNative(
      events: DataFrame, // streaming DF: ts timestamp, user_id long
      gap: String = "30 minutes",
      lateness: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"))

  /** Gap-based sessionization with CUSTOM state — `flatMapGroupsWithState` with
    * an event-time timeout, the streaming twin of the batch `w3_sessionize`
    * query (same gap rule: a silence of more than `gapMinutes`, in floored
    * epoch seconds, starts a new session). Sessions close two ways:
    *
    *  - in-batch: a same-user event beyond the gap emits the previous session
    *    immediately;
    *  - by timeout: when the watermark passes lastEvent + gap, the open session
    *    emits and its state evicts — so state size is bounded by the number of
    *    users active inside one gap window, not by history.
    */
  def sessionize(
      events: DataFrame, // streaming DF: ts timestamp, user_id long
      gapMinutes: Int = 30,
      lateness: String = "10 minutes"): Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapMillis = gapMinutes * 60L * 1000L

    def close(userId: Long, s: SessionAcc): SessionOut =
      SessionOut(userId, new java.sql.Timestamp(s.startMillis),
        new java.sql.Timestamp(s.lastMillis), s.nEvents,
        s.lastMillis / 1000L - s.startMillis / 1000L)

    def update(userId: Long, incoming: Iterator[SessionEvent],
               state: GroupState[SessionAcc]): Iterator[SessionOut] = {
      if (state.hasTimedOut) {
        val closed = close(userId, state.get)
        state.remove()
        return Iterator.single(closed)
      }
      val out = scala.collection.mutable.ListBuffer.empty[SessionOut]
      var cur = state.getOption
      incoming.toSeq.sortBy(_.tsMillis).foreach { e =>
        cur match {
          // Batch parity: gap compares FLOORED epoch seconds (unix_timestamp).
          case Some(s) if e.tsMillis / 1000L - s.lastMillis / 1000L <= gapMinutes * 60L =>
            cur = Some(s.copy(lastMillis = math.max(s.lastMillis, e.tsMillis),
              nEvents = s.nEvents + 1))
          case Some(s) =>
            out += close(userId, s)
            cur = Some(SessionAcc(e.tsMillis, e.tsMillis, 1))
          case None =>
            cur = Some(SessionAcc(e.tsMillis, e.tsMillis, 1))
        }
      }
      cur.foreach { s =>
        state.update(s)
        state.setTimeoutTimestamp(s.lastMillis + gapMillis)
      }
      out.iterator
    }

    events
      .withWatermark("ts", lateness)
      .select(col("user_id").cast("long").as("user_id"), col("ts"))
      .as[SessionEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update)
  }
}
