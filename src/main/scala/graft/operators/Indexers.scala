package graft.operators

import graft.functions.Embedder
import graft.core.Tables
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.functions.{size => arraySize}

/** Pluggable index engines over the chunks table — the [[BaseIndexer]] contract of
  * the reference (/root/reference/main/indexes/indexers/base_indexer.py:6-29:
  * index_texts / remove_ids / search / get_size / support_metadata) re-expressed
  * for columnar storage. Search results are (chunkId, score, ascending) ranked
  * lists ready for RRF fusion.
  */
trait Indexer extends Serializable {
  def name: String
  /** P6 capability gate: indexers that cannot filter raise, matching the
    * reference's FAISS behavior (faiss_indexer.py:33-34,
    * documents_collection_searcher.py:26-29).
    */
  def supportsMetadataFiltering: Boolean
  /** Lower score = better rank? (L2 ascending, BM25 descending.) */
  def ascendingScores: Boolean
  def index(chunks: DataFrame): Unit
  def search(query: String, k: Int, metadataFilter: Option[Column] = None): DataFrame
  /** [[search]] restricted to a candidate id set (`chunkId` rows): the gate
    * applies BEFORE the top-k cut, exactly like `metadataFilter` — the shape
    * a boolean-MATCH restriction composes through ([[Indexers.multiSearch]]'s
    * `matchGate`). Implementations apply it as one id semi-join on the
    * pre-ranked rows.
    */
  def searchAmong(query: String, k: Int, candidates: DataFrame,
                  metadataFilter: Option[Column] = None): DataFrame
  def size: Long

  protected def requireFilterSupport(f: Option[Column]): Unit =
    if (f.isDefined && !supportsMetadataFiltering)
      throw new UnsupportedOperationException(
        s"indexer $name does not support metadata filtering")
}

/** Exact vector index (FAISS IndexFlatL2 semantics, faiss_indexer.py:30-31): the
  * chunks table IS the index — a flat scan scores every (filtered) row and
  * TakeOrderedAndProject keeps k. `parityMode` reproduces the reference's FAISS
  * capability gate (no metadata filtering) for drop-in parity testing.
  */
final class VectorIndexer(
    spark: SparkSession, chunksPath: String, embedder: Embedder,
    parityMode: Boolean = false) extends Indexer {
  val name = "vector_exact_l2"
  def supportsMetadataFiltering: Boolean = !parityMode
  val ascendingScores = true
  def index(chunks: DataFrame): Unit = () // the chunks table itself, written by the manager
  def search(query: String, k: Int, metadataFilter: Option[Column]): DataFrame = {
    requireFilterSupport(metadataFilter)
    Search.vectorTopK(Tables.open(spark, chunksPath), "embedding",
      embedder.embed(query), k, "l2", metadataFilter)
      .select(col("chunkId"), col("score"))
  }
  def searchAmong(query: String, k: Int, candidates: DataFrame,
                  metadataFilter: Option[Column]): DataFrame = {
    requireFilterSupport(metadataFilter)
    // the id semi-join lands before scoring: only gated rows pay the
    // distance expression, and the top-k cuts the gated set
    Search.vectorTopK(
      Tables.open(spark, chunksPath)
        .join(candidates.select("chunkId"), Seq("chunkId"), "left_semi"),
      "embedding", embedder.embed(query), k, "l2", metadataFilter)
      .select(col("chunkId"), col("score"))
  }
  /** Footer-metadata count — no scan job per size call (see [[graft.core.ParquetMeta]]). */
  def size: Long = graft.core.ParquetMeta.rowCount(spark, chunksPath)
}

/** BM25 index with prebuilt inverted postings — the scale-correct layout (what
  * SQLite FTS5 keeps internally, sqllite_indexer.py:106-114, made columnar):
  *
  * {{{
  *   {dir}/postings/        (term, docId, tf, docLen) — the base segment,
  *                          range-partitioned + sorted by term, so
  *                          term IN (...) predicates prune parquet row groups
  *   {dir}/postings_delta/  appended segments, one per incremental update —
  *                          same schema, term-sorted within each segment
  *   {dir}/tombstones/      (docId) — chunk ids whose postings are dead
  *   {dir}/termDf/          (term, df) — base stats segment
  *   {dir}/termDf_delta/    appended SIGNED df deltas, one segment per update
  *   {dir}/corpus/          (n, avgdl, totalLen)    — one row, base
  *   {dir}/corpus_delta/    appended signed (n, totalLen) rows, one per update
  * }}}
  *
  * The logical postings table every reader sees is
  * base ∪ delta ⊖ tombstones ([[postingsTable]]) — the LSM posture: an
  * incremental update APPENDS the new docs' postings as a delta segment and
  * the replaced chunk ids as tombstones, so update write-IO is proportional
  * to the CHANGED docs, never the corpus. Chunk ids are globally unique
  * across collection history (the manifest high-water mark), so tombstoned
  * ids can never collide with live ones. [[compact]] folds the three back
  * into a fresh base segment when the delta/tombstone tail has grown.
  *
  * A query reads ONLY its terms' postings (pruned scan in base AND delta —
  * the IN-filter pushes through the union) + two tiny broadcast tables — no
  * full-corpus scan or tokenization at query time, unlike the inline
  * [[Search.bm25TopK]]. At 100 TB the postings table is the only big artifact
  * and it's touched proportionally to query-term selectivity.
  *
  * Metadata filtering: postings carry only ids, so a filter applies as a
  * semi-join against the (filtered) chunks table — the same pre-filtered-search
  * shape the reference gets from `doc_id IN (SELECT ...)` (sqllite_indexer.py:64-74).
  */
final class Bm25Indexer(
    spark: SparkSession, indexDir: String, chunksPath: String,
    k1: Double = 1.2, b: Double = 0.75,
    conjunctive: Boolean = true,
    selectByRounded: Option[Int] = None) extends Indexer {
  val name = "bm25"
  val supportsMetadataFiltering = true
  val ascendingScores = false

  private def p(sub: String) = s"$indexDir/$sub"

  /** (term, docId, docLen, tf) rows of a chunk set — the tokenize + explode +
    * count shuffle, the dominant cost of indexing. Shared by the full build
    * and the incremental merge (which runs it over NEW chunks only).
    */
  private def postingsOf(chunks: DataFrame): DataFrame =
    graft.core.Spread.forCompute(chunks).select(col("chunkId").as("docId"),
        Search.tokensCol(col("indexedData")).as("tokens"))
      .select(col("docId"), arraySize(col("tokens")).as("docLen"),
        explode(col("tokens")).as("term"))
      .groupBy("term", "docId", "docLen").agg(count("*").as("tf"))

  private def fsys = new org.apache.hadoop.fs.Path(indexDir)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The LOGICAL postings table: base ∪ delta segments ⊖ tombstones. `pre`
    * applies to base and every delta BEFORE the union so a term filter
    * pushes into each segment's pruned parquet scan. The tombstone
    * anti-join is unhinted — AQE broadcasts it while the tail is small,
    * [[compact]] keeps it small.
    */
  def postingsTable(pre: DataFrame => DataFrame = identity): DataFrame = {
    val base = pre(Tables.open(spark, p("postings")))
    val all = Tables.openIf(spark, p("postings_delta"))
      .map(d => base.unionByName(pre(d))).getOrElse(base)
    Tables.openIf(spark, p("tombstones"))
      .map(t => all.join(t.select("docId"), Seq("docId"), "left_anti"))
      .getOrElse(all)
  }

  // ------------------------------------------------------------ phrase index
  //
  // Positional postings (round 12): (term, docId, positions) — the artifact
  // that answers exact-phrase queries from ≤ |phrase| term-pruned reads
  // instead of a corpus scan. A full LSM member, not a sidecar: it shares
  // the tombstone table, gets its own delta segments appended by
  // updateIncremental (∝ changed docs, only when the artifact exists — a
  // non-phrase collection pays nothing), and compact() folds it with the
  // rest. Same tokenize as the postings, so "phrase then rank by BM25"
  // composes over one vocabulary.

  /** (term, docId, positions[1-based]) of a chunk set. */
  private def positionsOf(chunks: DataFrame): DataFrame =
    graft.core.Spread.forCompute(chunks).select(col("chunkId").as("docId"),
        posexplode(Search.tokensCol(col("indexedData"))).as(Seq("p", "term")))
      .groupBy("term", "docId")
      .agg(sort_array(collect_list(col("p") + 1)).as("positions"))

  /** BOTH artifact shapes from ONE tokenize + posexplode + aggregation:
    * (term, docId, docLen, tf, positions). Row-identical to
    * [[postingsOf]] ⋈ [[positionsOf]] by construction — tf is the same
    * count over the same groups (docLen is constant per doc, so adding it
    * to the grouping key changes nothing), positions the same sorted
    * 1-based list. Callers building postings AND the positional artifact
    * from the same chunks pay the exploded-token-stream shuffle once
    * instead of twice (guide §2.3 "aggregate before you shuffle" /
    * §1.2 step 1 — one pass where two identical-input passes ran).
    */
  private def postingsWithPositionsOf(chunks: DataFrame): DataFrame =
    graft.core.Spread.forCompute(chunks).select(col("chunkId").as("docId"),
        Search.tokensCol(col("indexedData")).as("tokens"))
      .select(col("docId"), arraySize(col("tokens")).as("docLen"),
        posexplode(col("tokens")).as(Seq("p", "term")))
      .groupBy("term", "docId", "docLen")
      .agg(count("*").as("tf"),
        sort_array(collect_list(col("p") + 1)).as("positions"))

  /** Range-write a fresh positional base segment and clear its delta tail. */
  private def writePositionsBase(pos: DataFrame): Unit = {
    Tables.replace(spark, p("positions")) { staging =>
      pos.select("term", "docId", "positions")
        .repartitionByRange(col("term"), col("docId"))
        .sortWithinPartitions("term", "docId")
        .write.mode(SaveMode.Overwrite).parquet(staging)
    }
    fsys.delete(new org.apache.hadoop.fs.Path(p("positions_delta")), true)
  }

  /** Build (or rebuild) the positional artifact from the CURRENT chunks. */
  def buildPhraseIndex(chunks: DataFrame): Unit =
    writePositionsBase(positionsOf(chunks))

  /** [[index]] + [[buildPhraseIndex]] as ONE build: both artifacts derive
    * from a single tokenize + posexplode + aggregation
    * ([[postingsWithPositionsOf]]), halving the dominant build cost (the
    * corpus tokenize/explode/shuffle) versus the two-call sequence.
    * Artifacts are row-identical to `index(chunks); buildPhraseIndex(chunks)`
    * (IndexersSpec pins it). The aggregate persists across the two range
    * writes because each write's range sampler re-executes its child
    * (PLANS.md r16 note) — without it the fused pass would run 4×.
    */
  def indexWithPhrase(chunks: DataFrame): Unit = {
    val agg = postingsWithPositionsOf(chunks)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    writeBase(agg.select("term", "docId", "docLen", "tf"))
    writePositionsBase(agg)
    agg.unpersist(blocking = false)
    deriveStats()
    readSuggestMeta().foreach { case (me, _) => buildSuggestKeys(me) }
  }

  /** The LOGICAL positional table: base ∪ delta ⊖ (shared) tombstones. */
  def positionsTable(pre: DataFrame => DataFrame = identity): DataFrame = {
    val base = pre(Tables.open(spark, p("positions")))
    val all = Tables.openIf(spark, p("positions_delta"))
      .map(d => base.unionByName(pre(d))).getOrElse(base)
    Tables.openIf(spark, p("tombstones"))
      .map(t => all.join(t.select("docId"), Seq("docId"), "left_anti"))
      .getOrElse(all)
  }

  /** Id set of chunks passing a metadata filter — the reference's
    * pre-filtered MATCH (`doc_id IN (SELECT ... WHERE <filter>)`,
    * sqllite_indexer.py:64-74) as one semi-join input, shared by [[search]]
    * and the whole MATCH family. The filter pushes into the chunks scan;
    * only ids come back.
    */
  private def filteredIds(f: Column): DataFrame =
    Tables.open(spark, chunksPath).filter(f).select(col("chunkId").as("docId"))

  private def applyFilter(hits: DataFrame, f: Option[Column]): DataFrame =
    f.map(c => hits.join(filteredIds(c), Seq("docId"), "left_semi")).getOrElse(hits)

  /** Exact phrase top-k from the positional view: read the phrase's term
    * slices (pushed-down IN filter prunes base and delta alike), shift each
    * term's positions by its phrase offset, intersect — survivors are the
    * phrase's start positions. Requires [[buildPhraseIndex]] to have run;
    * the delta union serves docs that arrived since. `metadataFilter`
    * composes as the id semi-join [[search]] uses — applied to the
    * term-pruned view, so the filter never widens the position reads.
    */
  def phrase(terms: Seq[String], k: Int,
             metadataFilter: Option[Column] = None): DataFrame = {
    val (view, toks) = phraseView(terms)
    QueryLang.phraseSearchPostings(applyFilter(view, metadataFilter), toks, k)
  }

  /** NEAR over the positional artifact (FTS5 `NEAR(a b, n)`): every term
    * within some ≤`window`-token span, ranked by that minimal span. Same
    * artifact + delta + tombstone view as [[phrase]], same filter semi-join.
    */
  def near(terms: Seq[String], window: Int, k: Int,
           metadataFilter: Option[Column] = None): DataFrame =
    nearHits(terms, window, metadataFilter)
      .orderBy(col("span_len"), col("docId"))
      .limit(k)

  /** Unranked NEAR hits (docId, span_len, span_start) — the document-level
    * roll-up's input (rankings re-derive after the roll-up, so the top-k
    * sort would be wasted here).
    */
  def nearHits(terms: Seq[String], window: Int,
               metadataFilter: Option[Column] = None): DataFrame = {
    val (view, toks) = phraseView(terms)
    QueryLang.nearHitsPostings(applyFilter(view, metadataFilter),
      toks.distinct, window)
  }

  /** Unranked phrase hits — the document-level roll-up's input. */
  def phraseHits(terms: Seq[String],
                 metadataFilter: Option[Column] = None): DataFrame = {
    val (view, toks) = phraseView(terms)
    QueryLang.phraseHitsPostings(applyFilter(view, metadataFilter), toks)
  }

  private def phraseView(terms: Seq[String],
                         lastPrefix: Boolean = false): (DataFrame, Seq[String]) = {
    require(fsys.exists(new org.apache.hadoop.fs.Path(p("positions"))),
      "no positional artifact — run buildPhraseIndex() first")
    val toks = terms.flatMap(Search.tokenize)
    require(toks.nonEmpty, "phrase has no indexable tokens")
    // a prefix-marked last slot widens the pre-filter to a range predicate —
    // still a row-group-pruning read on the term-sorted segments
    val pred: Column =
      if (!lastPrefix) col("term").isin(toks.distinct: _*)
      else {
        val stemPred = col("term").startsWith(toks.last)
        if (toks.init.nonEmpty) col("term").isin(toks.init.distinct: _*) || stemPred
        else stemPred
      }
    (positionsTable(_.filter(pred)), toks)
  }

  /** The LOGICAL term→df table: base ⊕ signed delta segments, summed per
    * term. `pre` (a term filter) applies to base and every delta BEFORE the
    * union so it pushes into each segment's pruned parquet scan — a query
    * sums ≤ |queryTerms| groups, never the vocabulary. With no delta tail
    * the base is returned as-is (zero extra plan nodes on a compacted index).
    */
  def termDfTable(pre: DataFrame => DataFrame = identity): DataFrame = {
    val base = pre(Tables.open(spark, p("termDf")))
    Tables.openIf(spark, p("termDf_delta")) match {
      case Some(delta) => base.select("term", "df")
        .unionByName(pre(delta).select("term", "df"))
        .groupBy("term").agg(sum("df").as("df"))
        .filter(col("df") > 0)
      case None => base
    }
  }

  /** The LOGICAL corpus stats (n, avgdl): base row ⊕ signed delta rows.
    * avgdl is ALWAYS totalLen/n in double division — the same expression the
    * base derivation uses, so the folded and unfolded views are bit-equal.
    * A legacy base (no totalLen column) can only exist with no delta tail
    * (the delta path refuses to start from it) and reads unchanged.
    */
  def corpusStats(): DataFrame = {
    val base = Tables.open(spark, p("corpus"))
    Tables.openIf(spark, p("corpus_delta")) match {
      case Some(delta) => base.select(col("n"), col("totalLen"))
        .unionByName(delta.select("n", "totalLen"))
        .agg(sum("n").as("n"), sum("totalLen").as("totalLen"))
        .select(col("n"),
          (col("totalLen").cast("double") / col("n").cast("double")).as("avgdl"))
      case None => base.select("n", "avgdl")
    }
  }

  /** Derive termDf + corpus stats from the logical postings and FOLD them
    * into fresh base segments (delta tails cleared) — the full derivation
    * used by [[index]] and [[compact]]; [[updateIncremental]] maintains the
    * same values as O(changed) deltas instead. The scan is narrow
    * (term, docId, docLen); the writes are vocab-sized and one-row.
    *
    * Crash posture: the stat delta tails delete FIRST (they're about to be
    * re-derived from the postings truth, and leaving them to stack on a
    * freshly-folded base would double-apply); a crash mid-derivation leaves
    * stale-but-consistent bases that the caller's re-run heals.
    */
  private def deriveStats(): Unit = {
    fsys.delete(new org.apache.hadoop.fs.Path(p("termDf_delta")), true)
    fsys.delete(new org.apache.hadoop.fs.Path(p("corpus_delta")), true)
    val eff = postingsTable()
    Tables.replace(spark, p("termDf")) { staging =>
      eff.groupBy("term").agg(count("*").as("df"))
        .write.mode(SaveMode.Overwrite).parquet(staging)
    }
    // Corpus stats from the postings (distinct docId carries docLen): saves a
    // second full-corpus tokenize, and counts docs-with-tokens — the
    // population BM25 length normalization is defined over (a doc with zero
    // tokens can never match, so excluding it from n/avgdl is the FTS5-faithful
    // choice and what the DuckDB oracle computes). totalLen persists so the
    // incremental path can maintain n/avgdl as exact integer deltas.
    Tables.replace(spark, p("corpus")) { staging =>
      eff.select("docId", "docLen").distinct()
        .agg(count("*").as("n"), sum("docLen").as("totalLen"))
        .select(col("n"),
          (col("totalLen").cast("double") / col("n").cast("double")).as("avgdl"),
          col("totalLen"))
        .write.mode(SaveMode.Overwrite).parquet(staging)
    }
  }

  /** Write a fresh base segment and clear the delta/tombstone tail. The base
    * is staged and swapped in ([[Tables.replace]]) because compaction READS
    * the live postings while writing their replacement.
    */
  private def writeBase(postings: DataFrame): Unit = {
    // Range-partition on (term, docId) rather than hash on term: a
    // stopword-grade hot term would land its entire postings list in one hash
    // partition, while a range boundary splits it across partitions (bounded
    // skew) and keeps terms contiguous so parquet row-group min/max stats
    // still prune term lookups.
    Tables.replace(spark, p("postings")) { staging =>
      postings.repartitionByRange(col("term"), col("docId"))
        .sortWithinPartitions("term", "docId")
        .write.mode(SaveMode.Overwrite).parquet(staging)
    }
    fsys.delete(new org.apache.hadoop.fs.Path(p("postings_delta")), true)
    fsys.delete(new org.apache.hadoop.fs.Path(p("tombstones")), true)
  }

  def index(chunks: DataFrame): Unit = {
    // a full rebuild re-keys every chunk — an existing positional artifact
    // would be wholly stale, so it rebuilds from the same chunks in hand
    // (through the fused single-pass build); a stamped suggest artifact
    // rebuilds against the new vocabulary either way
    if (fsys.exists(new org.apache.hadoop.fs.Path(p("positions")))) {
      indexWithPhrase(chunks)
      return
    }
    writeBase(postingsOf(chunks))
    deriveStats()
    readSuggestMeta().foreach { case (me, _) => buildSuggestKeys(me) }
  }

  /** Incremental postings merge for an update that replaced a known doc
    * set's chunks — the LSM path: `removedChunks` (`docId` + the removed
    * chunks' `indexedData`, in the caller's hand pre-swap) APPEND their ids
    * to the tombstone table, postings tokenized from `newChunks` ONLY append
    * as a delta segment, and termDf/corpus are maintained as O(changed)
    * DELTAS: df increments come from the new delta postings, df decrements
    * from tokenizing the REMOVED chunks' text (the same deterministic
    * tokenize that produced their base postings, so the decrement is exact),
    * and n/totalLen as signed scalar rows — equality with a full rebuild is
    * spec-pinned (IndexersSpec), logically pre-compact and byte-level
    * post-compact.
    *
    * Cost shape at 100 TB: tokenize + explode + count shuffles AND every
    * write are proportional to the CHANGED docs; neither the base postings
    * segment NOR the base stats tables are read or rewritten — an update's
    * job graph opens no base segment at all (spec-proven by hiding the base
    * dir mid-update). Repeated updates grow the delta/tombstone tails ∝
    * total churn; fold with [[compact]] before the tombstone anti-join or
    * the per-term segment fan-out gets expensive.
    *
    * Fallback: when `removedChunks` carries no `indexedData` column, or the
    * index predates the totalLen corpus schema, stats re-derive from the
    * full logical postings (the pre-delta behavior) — correct, O(corpus
    * read), and it migrates the corpus schema so the next update is
    * O(changed).
    *
    * Crash posture: delta lands, then tombstones, then stat deltas. A crash
    * after delta can leave BOTH revisions of a doc's postings visible
    * (over-count — fsck's duplicate/stray checks detect, re-running the
    * update or [[compact]] heals); a crash before the stat deltas leaves
    * stats stale by one batch — ranking drift only (membership comes from
    * postings), healed by [[compact]]'s full re-derivation.
    */
  def updateIncremental(removedChunks: DataFrame, newChunks: DataFrame): Unit = {
    // with a positional artifact present, BOTH delta shapes derive from one
    // fused tokenize+explode+aggregate over the new chunks (the same
    // single-pass trade as indexWithPhrase); without one, the plain
    // postings aggregate is the narrower plan. New chunks that plan to an
    // empty local relation (a delete's `limit(0)`; read from the plan, no
    // job) append no postings, positions or suggest-key segment: an empty
    // file would only grow the tail the fold triggers count
    val hasPositions = fsys.exists(new org.apache.hadoop.fs.Path(p("positions")))
    val newBatch = newChunks.queryExecution.optimizedPlan match {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation if l.data.isEmpty => None
      case _ => Some((if (hasPositions) postingsWithPositionsOf(newChunks)
        else postingsOf(newChunks)).persist())
    }
    val newPostings = newBatch.map(_.select("term", "docId", "docLen", "tf"))
    newPostings.foreach(_
      .repartitionByRange(col("term"), col("docId"))
      .sortWithinPartitions("term", "docId")
      .write.mode(SaveMode.Append).parquet(p("postings_delta")))
    // positional artifact (when built): its delta appends alongside the
    // postings delta — same ∝-changed contract, same shared tombstones.
    // Lands BEFORE tombstones so a crash leaves over-visibility (healable),
    // never a doc whose old postings died without its replacement arriving.
    if (hasPositions) newBatch.foreach(_.select("term", "docId", "positions")
      .repartitionByRange(col("term"), col("docId"))
      .sortWithinPartitions("term", "docId")
      .write.mode(SaveMode.Append).parquet(p("positions_delta")))
    removedChunks.select(col("docId"))
      .write.mode(SaveMode.Append).parquet(p("tombstones"))
    val deltaCapable = removedChunks.columns.contains("indexedData") &&
      Tables.open(spark, p("corpus")).columns.contains("totalLen")
    // the batch's per-term stat delta, kept in hand when the delta path ran:
    // the suggest-key maintenance below re-uses it instead of paying its own
    // distinct over the batch postings
    var perTerm: Option[DataFrame] = None
    if (!deltaCapable) deriveStats()
    else {
      // ONE aggregate over one signed postings frame feeds BOTH stat deltas
      // (the removed chunks tokenize once). Per term: df (+1 per (term, doc)
      // entering, -1 per leaving), the signed token count, and the signed
      // shares tf/docLen. A doc's tf sum to its docLen, so over all terms
      // the counts add up to the signed totalLen exactly and the shares to
      // the signed doc count (a double sum, rounded: its error stays far
      // below 0.5 for any batch).
      val removedSigned = postingsOf(
        removedChunks.select(col("docId").as("chunkId"), col("indexedData")))
        .withColumn("sign", lit(-1L))
      val agg = newPostings.fold(removedSigned)(
          _.withColumn("sign", lit(1L)).unionByName(removedSigned))
        .groupBy("term").agg(sum("sign").as("df"),
          sum(col("tf") * col("sign")).as("len"),
          sum(col("sign") * col("tf") / col("docLen")).as("docs"))
        .persist()
      // net-zero terms drop: the delta segment is bounded by the batch vocab
      agg.filter(col("df") =!= 0).select("term", "df").coalesce(1)
        .write.mode(SaveMode.Append).parquet(p("termDf_delta"))
      // corpus: signed doc-count and token-length totals, one appended row
      agg.agg(coalesce(round(sum("docs")).cast("long"), lit(0L)).as("n"),
          coalesce(sum("len"), lit(0L)).as("totalLen"))
        .coalesce(1)
        .write.mode(SaveMode.Append).parquet(p("corpus_delta"))
      perTerm = Some(agg)
    }
    // suggest-key maintenance (when a stamped artifact exists): append the
    // delete keys of the batch's GENUINELY-NEW vocabulary — ∝ changed docs
    // like every other delta this method writes — and restamp, so suggest()
    // stays on the fast path across updates. The term set rides the df delta
    // already computed (and cached) above: a term with df delta > 0 is either
    // new (keys must land) or pre-existing (its keys already live in the
    // artifact — a duplicate append is harmless, deduped at candidate time
    // and folded by compact); a term with df delta ≤ 0 NECESSARILY appeared
    // in the removed chunks, so it was indexed — and keyed — before. Deleted
    // terms' keys die at the live-df join; keys only NOMINATE. With no new
    // chunks there is no new term, so only the restamp runs (the df delta
    // changed the vocabulary stamp).
    // Keys append as DELTA SEGMENTS (not into the base dir) so the fold
    // triggers see their growth: tailBytes/tailSegments count the dir, and a
    // long run of tiny ticks trips the segment-count trigger before suggest
    // queries pay per-file read amplification forever.
    readSuggestMeta().foreach { case (me, _) =>
      newPostings.foreach { np =>
        val batchTerms = perTerm.fold(np.select("term").distinct())( // stats-fallback path
          _.filter(col("df") > 0).select("term"))
        Suggest.deletionKeys(batchTerms, "term", me)
          .withColumn("max_edits", lit(me))
          .write.mode(SaveMode.Append).parquet(p("suggest_keys_delta"))
      }
      writeSuggestMeta(me) // stamp AFTER the keys land (crash → stale, never false-fresh)
    }
    perTerm.foreach(_.unpersist())
    newBatch.foreach(_.unpersist())
  }

  /** Fold base ∪ delta ⊖ tombstones into a fresh base segment — the LSM
    * compaction that bounds the tombstone anti-join and the per-term segment
    * fan-out. Stats re-derive from the folded postings (values unchanged by
    * construction; the spec pins it). No-op when the tail is empty.
    *
    * The fold is SELF-HEALING: it drops exact-duplicate postings rows before
    * writing the new base. Legitimately a (term, docId) pair lives in exactly
    * one segment (chunk ids are globally unique and never reassigned), so an
    * exact duplicate can only be crash residue — a previous compact that
    * swapped its folded base in but died before clearing the delta tail, or
    * a replayed update appending its delta twice. Without the dedup,
    * re-running compact would bake the double-counted tf/df into the base
    * permanently; with it, the re-run IS the repair.
    */
  def compact(): Unit = {
    val hasTail = Seq("postings_delta", "tombstones", "termDf_delta",
        "corpus_delta", "positions_delta", "suggest_keys_delta")
      .exists(d => fsys.exists(new org.apache.hadoop.fs.Path(p(d))))
    if (!hasTail) return
    // the positional artifact folds FIRST: its logical view reads the shared
    // tombstone table, which writeBase clears below
    if (fsys.exists(new org.apache.hadoop.fs.Path(p("positions")))) {
      val foldedPos = positionsTable().dropDuplicates("term", "docId").persist()
      foldedPos.count() // materialize before the swap invalidates the source
      writePositionsBase(foldedPos)
      foldedPos.unpersist()
    }
    val folded = postingsTable()
      .dropDuplicates("term", "docId", "docLen", "tf").persist()
    folded.count() // materialize before the base swap invalidates the plan's source
    writeBase(folded)
    folded.unpersist()
    deriveStats()
    // a stamped suggest artifact rebuilds against the folded vocabulary:
    // update-appended duplicate keys fold away and the fast path stays live
    // (deriveStats rewrote termDf, so the old stamp just went stale)
    readSuggestMeta().foreach { case (me, _) => buildSuggestKeys(me) }
  }

  /** Bytes in the delta/tombstone/stat-delta tail vs the base segments — the
    * compact-or-not signal for maintenance loops (compare against base bytes
    * or an absolute budget).
    */
  private def tailDirs =
    Seq(p("postings_delta"), p("tombstones"), p("termDf_delta"),
      p("corpus_delta"), p("positions_delta"), p("suggest_keys_delta"))

  def tailBytes: Long =
    tailDirs.map { d =>
      val path = new org.apache.hadoop.fs.Path(d)
      if (fsys.exists(path))
        fsys.getContentSummary(path).getLength
      else 0L
    }.sum

  /** FILE count of the delta/tombstone/stat-delta tail — the second
    * compact-or-not signal, orthogonal to [[tailBytes]]: a long run of tiny
    * updates (streaming ticks) can stay under any byte budget forever while
    * the tail's file count grows one-plus-per-tick — and every BM25 query
    * pays per FILE (footer read + row-group pruning per segment), not per
    * byte. Bytes bound the fold's rewrite cost; segments bound the read
    * amplification between folds. Maintenance loops should trigger on
    * either (see StreamingUpdate's compactTailSegments).
    */
  def tailSegments: Long =
    tailDirs.map { d =>
      val path = new org.apache.hadoop.fs.Path(d)
      if (!fsys.exists(path)) 0L
      else {
        var n = 0L
        val it = fsys.listFiles(path, true)
        while (it.hasNext) {
          val f = it.next()
          if (f.getPath.getName.endsWith(".parquet")) n += 1L
        }
        n
      }
    }.sum

  // ------------------------------------------------------------ suggest keys
  //
  // SymSpell delete-key artifact (round 11; a maintained LSM member since
  // round 13): (term, delkey) is a pure function of the vocabulary, so it
  // persists next to the postings and the O(|vocab| × L²) neighborhood
  // explode is paid at BUILD time, not per suggest query. Maintenance is
  // write-side like every other artifact here: updateIncremental APPENDS the
  // batch vocabulary's keys (∝ changed docs) and restamps the sidecar, so a
  // maintained index answers suggest queries from the artifact alone — no
  // per-query anti-join, no on-the-fly keys; compact() rebuilds the artifact
  // against the folded vocabulary, folding duplicate keys away. Deleted /
  // stale terms die at the final inner join against the live df (keys only
  // NOMINATE; existence and rank come from the live table). The on-the-fly
  // delta path remains as the fallback for sidecar-less (legacy) artifacts.

  /** Fingerprint of the LIVE vocabulary state: (name, length, mtime) of
    * every file under the termDf base and delta dirs, order-independent.
    * Any mutation that can change the termDf view — an incremental update's
    * delta append, a compact's base rewrite — lands new files (parquet part
    * names carry fresh UUIDs), so stamp equality proves the artifact saw
    * exactly this vocabulary. Pure file metadata: no scan job.
    */
  private def vocabStamp: String = {
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    Seq(p("termDf"), p("termDf_delta")).foreach { d =>
      val path = new org.apache.hadoop.fs.Path(d)
      if (fsys.exists(path)) {
        val it = fsys.listFiles(path, true)
        while (it.hasNext) {
          val f = it.next()
          parts += s"${f.getPath.getName}:${f.getLen}:${f.getModificationTime}"
        }
      }
    }
    java.util.UUID.nameUUIDFromBytes(
      parts.sorted.mkString("\n").getBytes("UTF-8")).toString
  }

  /** The artifact's one-row metadata sidecar (max_edits + the vocab stamp
    * it was built/maintained against) — a tiny text file, read and written
    * with pure file IO so freshness checks and update-time maintenance cost
    * zero Spark jobs. Written AFTER the keys land (crash between the two
    * leaves a stale stamp → the delta path, never a false "fresh").
    */
  private def suggestMetaPath = new org.apache.hadoop.fs.Path(p("suggest_meta"))

  private def writeSuggestMeta(maxEdits: Int): Unit = {
    val out = fsys.create(suggestMetaPath, true)
    out.write(s"$maxEdits\n$vocabStamp\n".getBytes("UTF-8"))
    out.close()
  }

  private def readSuggestMeta(): Option[(Int, String)] =
    if (!fsys.exists(suggestMetaPath)) None
    else {
      val in = fsys.open(suggestMetaPath)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
      txt.split("\n").toList match {
        case me :: stamp :: _ => me.toIntOption.map(m => (m, stamp))
        case _ => None
      }
    }

  /** Persist the delete-key artifact for the CURRENT logical vocabulary and
    * stamp the sidecar, so [[suggest]] can prove freshness and skip the
    * vocab-sized live-vs-artifact anti-join entirely. After this,
    * [[updateIncremental]] MAINTAINS the artifact (appends the batch
    * vocabulary's keys, restamps) and [[compact]] rebuilds it — the fast
    * path survives the whole lifecycle.
    */
  def buildSuggestKeys(maxEdits: Int = 2): Unit = {
    require(maxEdits >= 1 && maxEdits <= 2, "maxEdits must be 1 or 2")
    // The range write's sampling pass executes its child once before the
    // shuffle computes it again; unlike writeBase's child (which ends in a
    // shuffle whose map files the second execution reuses) this child is a
    // shuffle-less scan → O(|vocab|·L²) deletion-neighborhood explode, so
    // without the persist the dominant build cost runs TWICE (guide §1.2
    // step 1 / §5 cache-when-reused; measured on suggest_lifecycle /
    // suggest_fresh this session).
    // spread the vocab read before the neighborhood explode: termDf is a few
    // small files → a 1-2-task scan would run the whole O(|vocab|·L²)
    // generation on one core (identity at real scale — Spread scaladoc)
    val keys = Suggest.deletionKeys(
        graft.core.Spread.forCompute(termDfTable()), "term", maxEdits)
      .withColumn("max_edits", lit(maxEdits))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Tables.replace(spark, p("suggest_keys")) { staging =>
      keys
        .repartitionByRange(col("delkey"))
        .sortWithinPartitions("delkey")
        .write.mode(SaveMode.Overwrite).parquet(staging)
    }
    keys.unpersist(blocking = false)
    fsys.delete(new org.apache.hadoop.fs.Path(p("suggest_keys_delta")), true)
    writeSuggestMeta(maxEdits)
  }

  /** The LOGICAL delete-key table: base ∪ update-appended delta segments. */
  private def suggestKeysTable(): DataFrame = {
    val base = Tables.open(spark, p("suggest_keys"))
    Tables.openIf(spark, p("suggest_keys_delta")).map(base.unionByName(_)).getOrElse(base)
  }

  /** Spelling suggestions for `queryTerms` against the index vocabulary,
    * via the artifact when one exists (built at ≥ the requested edit
    * distance — a 1-edit artifact cannot nominate 2-edit candidates, so a
    * wider request falls back to on-the-fly), else fully on the fly.
    *
    * Freshness fast path: when the sidecar's stamp matches the live termDf
    * state ([[vocabStamp]]) — true right after a build AND after every
    * [[updateIncremental]], which maintains the artifact — the artifact's
    * keys ARE the vocabulary's keys and the vocab-sized live-vs-artifact
    * anti-join + on-the-fly delta keys are skipped outright (spec-pinned:
    * the fresh plan has no LeftAnti). An artifact without a sidecar
    * (legacy, or a lost file) is usable but never fresh — correct, slower.
    */
  def suggest(queryTerms: Seq[String], maxEdits: Int = 2, topK: Int = 3): DataFrame = {
    import spark.implicits._
    val queries = queryTerms.toDF("q")
    val live = termDfTable()
    val artifact = new org.apache.hadoop.fs.Path(p("suggest_keys"))
    val baseKeys: Option[(DataFrame, Boolean)] =
      if (!fsys.exists(artifact)) None
      else readSuggestMeta() match {
        case Some((me, stamp)) if me >= maxEdits =>
          Some((suggestKeysTable().select("term", "delkey"),
            stamp == vocabStamp))
        case Some(_) => None // built narrower than the request: fall back whole
        case None => // legacy sidecar-less artifact: usable if wide enough, never fresh
          val k = suggestKeysTable()
          // min over an EMPTY artifact (built from an empty vocabulary, e.g. a
          // fully-deleted collection) is null — treat as "no usable artifact"
          // and fall through to on-the-fly, instead of NPEing on getInt
          val minEdits = k.agg(min(col("max_edits"))).head
          if (!minEdits.isNullAt(0) && minEdits.getInt(0) >= maxEdits)
            Some((k.select("term", "delkey"), false))
          else None
      }
    baseKeys match {
      case Some((keys, fresh)) if fresh =>
        Suggest.spellSuggestFromKeys(keys, live, queries, "q", maxEdits, topK)
      case Some((keys, _)) =>
        val missing = live.select("term")
          .join(keys.select("term").distinct(), Seq("term"), "left_anti")
        val deltaKeys = Suggest.deletionKeys(missing, "term", maxEdits)
        Suggest.spellSuggestFromKeys(keys.unionByName(deltaKeys), live,
          queries, "q", maxEdits, topK)
      case None =>
        Suggest.spellSuggest(live, "term", "df", queries, "q", maxEdits, topK)
    }
  }

  def search(query: String, k: Int, metadataFilter: Option[Column]): DataFrame =
    searchImpl(query, k, metadataFilter, None)

  def searchAmong(query: String, k: Int, candidates: DataFrame,
                  metadataFilter: Option[Column]): DataFrame =
    searchImpl(query, k, metadataFilter, Some(candidates))

  private def searchImpl(query: String, k: Int, metadataFilter: Option[Column],
                         candidates: Option[DataFrame]): DataFrame = {
    val terms = Search.tokenize(query).distinct
    if (terms.isEmpty) return Search.emptyScored(spark, "chunkId")
    val postings0 = postingsTable(
      _.filter(col("term").isin(terms: _*))) // pushed into each segment's pruned scan
    val postings1 = metadataFilter match {
      case Some(f) => postings0.join( // pre-filtered search via id semi-join
        Tables.open(spark, chunksPath).filter(f).select(col("chunkId").as("docId")),
        Seq("docId"), "left_semi")
      case None => postings0
    }
    // candidate gate (e.g. a boolean-MATCH restriction): one more id
    // semi-join on the term-pruned rows, before scoring and the top-k cut
    val postings = candidates match {
      case Some(c) => postings1.join(
        c.select(col("chunkId").as("docId")), Seq("docId"), "left_semi")
      case None => postings1
    }
    val stats = corpusStats()
    val df = termDfTable(_.filter(col("term").isin(terms: _*)))
    val idf = log(lit(1.0) + (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val tfNorm = (col("tf") * (lit(k1) + 1.0)) /
      (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("docLen") / col("avgdl")))
    val scored = postings
      .join(broadcast(df), "term")
      .crossJoin(broadcast(stats))
      .withColumn("termScore", idf * tfNorm)
      .groupBy("docId")
      .agg(sum("termScore").as("score"), countDistinct("term").as("matched"))
    // Conjunctive gate = the reference's FTS5 every-term-must-match semantics
    // (sqllite_indexer.py:145-150); matches Search.bm25TopK's default.
    val gated = if (conjunctive) scored.filter(col("matched") === terms.length) else scored
    // Same boundary-stability option as Search.bm25TopK: oracle-checked callers
    // cut the k-boundary by the ROUNDED score so a last-ulp ln() divergence
    // between engines cannot flip which doc makes the list.
    val ord = selectByRounded match {
      case Some(n) => Seq(round(col("score"), n).desc, col("docId").asc)
      case None    => Seq(col("score").desc, col("docId").asc)
    }
    gated.select(col("docId").as("chunkId"), col("score"))
      .orderBy(ord: _*).limit(k)
  }

  def size: Long = corpusStats().head().getLong(0)

  /** Boolean MATCH over the INDEX (the FTS5 surface the reference's
    * conjunctive prep hides): candidate docs come from set algebra over
    * per-term posting id sets — AND = semi-join, NOT = anti-join, OR =
    * union — with complemented sets carried SYMBOLICALLY (¬A ∧ ¬B folds to
    * ¬(A ∪ B) etc.), so no NOT ever scans the corpus universe; a query
    * whose result IS a complement (pure negation) is rejected with a clear
    * error, FTS5-style. Candidates then rank by BM25 summed over the
    * query's POSITIVE terms (every candidate holds at least one: a
    * non-complemented result is always built inside some positive set).
    * Reads stay ∝ query-term selectivity: every posting scan is term-pruned.
    *
    * `metadataFilter` composes exactly as the reference gates FTS5 MATCH
    * (`doc_id IN (SELECT ... WHERE <filter>)`, sqllite_indexer.py:64-74): ONE
    * id semi-join against the FINAL candidate set, never one per operand —
    * operands can be symbolically-complemented sets (where "filtered" has no
    * direct meaning), and the single late join reads the chunks table once.
    */
  def booleanSearch(query: String, k: Int,
                    metadataFilter: Option[Column] = None): DataFrame = {
    val hits = booleanHits(query, metadataFilter)
    val ord = selectByRounded match {
      case Some(n) => Seq(round(col("score"), n).desc, col("docId").asc)
      case None    => Seq(col("score").desc, col("docId").asc)
    }
    hits.select(col("docId").as("chunkId"), col("score"))
      .orderBy(ord: _*).limit(k)
  }

  /** Unranked boolean-MATCH hits (docId, score) — the document-level
    * roll-up's input; [[booleanSearch]] is this plus the top-k cut.
    */
  /** The MATCH query's AST with every word re-tokenized through THIS index's
    * tokenizer (a word that splits, e.g. "hash-join", becomes an implicit
    * AND of its tokens / a wider phrase or NEAR operand). A prefix-marked
    * last word keeps its prefix on the LAST resulting token. The user's NEAR
    * window is kept EXACTLY as parsed — never silently widened: a window the
    * re-tokenized operands can no longer fit together in simply matches
    * nothing, the same empty result the scan path produces for an
    * unsatisfiable window.
    */
  /** Parse + atom normalization ([[QueryLang.normalize]] — each atom's words
    * re-tokenize through THIS index's tokenizer, shared verbatim with the
    * scan path since r16) + NNF (double negations vanish and NOT wraps atoms
    * only, so "positive" scoring atoms and the symbolic-complement algebra
    * agree on the same normal form — without it, `NOT NOT b*` produced a
    * non-empty candidate set but ZERO positive atoms, and booleanHits
    * returned empty; r15 lifecycle property, seed 37).
    */
  private def normalizedAst(query: String): QueryLang.Node =
    QueryLang.nnf(QueryLang.normalize(QueryLang.parse(query), Search.tokenize, query))

  /** Candidate doc ids of a boolean MATCH query — the posting-set algebra
    * alone, no BM25 scoring: the candidate GATE other searches compose with
    * ([[graft.core.CollectionManager]]'s hybrid search takes it as a
    * pre-ranking restriction, the way the reference composes MATCH with its
    * metadata gate inside one indexer query).
    */
  def booleanCandidates(query: String,
                        metadataFilter: Option[Column] = None): DataFrame =
    evalCandidates(normalizedAst(query), metadataFilter, query)

  /** Set algebra over per-atom posting id sets — AND = semi-join, NOT =
    * anti-join, OR = union — with complemented sets carried SYMBOLICALLY
    * (¬A ∧ ¬B folds to ¬(A ∪ B) etc.), so no NOT ever scans the corpus
    * universe; a query whose result IS a complement (pure negation) is
    * rejected with a clear error, FTS5-style. The metadata filter gates the
    * FINAL candidate set — one semi-join, the reference's doc_id IN (...)
    * shape (see [[booleanSearch]]'s scaladoc).
    */
  private def evalCandidates(ast: QueryLang.Node, metadataFilter: Option[Column],
                             query: String): DataFrame = {
    import QueryLang.{And, First, Near, Node, Not, Or, Phrase, Prefix, Term}
    def termIds(t: String): DataFrame =
      postingsTable(_.filter(col("term") === t)).select("docId").distinct()
    // (ids, complemented): the set, or symbolically its complement
    def eval(n: Node): (DataFrame, Boolean) = n match {
      case Term(t)   => (termIds(t), false)
      case Prefix(s) => // range predicate on the term-sorted postings: a
        // row-group skip, same pruning class as the exact-term reads
        (postingsTable(_.filter(col("term").startsWith(s)))
          .select("docId").distinct(), false)
      case Phrase(ws, lp) => // exact-phrase atom: ids from the positional
        // artifact; a prefix-marked last slot reads by range predicate
        (QueryLang.phraseHitsPostings(phraseView(ws, lp)._1, ws, lp)
          .select("docId"), false)
      case Near(ops, w) => // proximity atom: ids from the positional artifact;
        // each operand contributes its occurrence-START positions (a phrase
        // operand's starts come from the same intersected-shift machinery as
        // phrase atoms; a prefix-marked last word widens its slot to a range
        // read), window holds every operand FULLY
        val frames = ops.distinct.map { op =>
          (QueryLang.phraseStartsPostings(
            phraseView(op.words, op.lastPrefix)._1, op.words, op.lastPrefix),
            op.words.size)
        }
        (QueryLang.nearHitsOperands(frames, w).select("docId"), false)
      case First(atom) => // initial-token anchor: the atom's occurrence
        // starts come from the positional artifact (even for a plain term —
        // the anchor is a POSITION predicate), filtered to position 1
        val (ws, lp) = QueryLang.firstWords(atom)
        (QueryLang.phraseStartsPostings(phraseView(ws, lp)._1, ws, lp)
          .where(array_contains(col("starts"), 1)).select("docId"), false)
      case Not(c)    => val (d, comp) = eval(c); (d, !comp)
      case And(l, r) => combine(eval(l), eval(r), and = true)
      case Or(l, r)  => combine(eval(l), eval(r), and = false)
    }
    def combine(a: (DataFrame, Boolean), b: (DataFrame, Boolean),
                and: Boolean): (DataFrame, Boolean) = (a, b) match {
      case ((da, false), (db, false)) =>
        if (and) (da.join(db, Seq("docId"), "left_semi"), false)
        else (da.unionByName(db).distinct(), false)
      case ((da, false), (db, true)) =>
        if (and) (da.join(db, Seq("docId"), "left_anti"), false) // A ∧ ¬B
        else (db.join(da, Seq("docId"), "left_anti"), true)      // A ∨ ¬B = ¬(B∖A)
      case ((da, true), (db, false)) => combine(b, a, and)
      case ((da, true), (db, true)) =>
        if (and) (da.unionByName(db).distinct(), true)           // ¬A ∧ ¬B = ¬(A∪B)
        else (da.join(db, Seq("docId"), "left_semi"), true)      // ¬A ∨ ¬B = ¬(A∩B)
    }
    val (cand0, complemented) = eval(ast)
    require(!complemented,
      s"boolean query '$query' matches the complement of an indexable set — " +
        "add a positive term (FTS5 rejects pure-NOT queries for the same reason)")
    applyFilter(cand0, metadataFilter)
  }

  def booleanHits(query: String,
                  metadataFilter: Option[Column] = None): DataFrame = {
    val ast = normalizedAst(query)
    val cand = evalCandidates(ast, metadataFilter, query)
    val (posT0, posP0) = QueryLang.positiveAtoms(ast)
    val posT = posT0.distinct
    val posP = posP0.distinct
    if (posT.isEmpty && posP.isEmpty)
      return Search.emptyScored(spark, "chunkId")
        .select(col("chunkId").as("docId"), col("score"))
    // BM25 over the positive atoms, restricted to the boolean candidates —
    // the same scoring pipeline as search(), minus the conjunctive gate
    // (the boolean predicate replaced it). Prefix atoms score as the SET of
    // vocabulary terms they expand to (each with its own df/idf) — the term
    // filter stays pushdown-able (isin + startsWith are both row-group
    // predicates on the term-sorted segments).
    val pred: Column = (
      (if (posT.nonEmpty) Seq(col("term").isin(posT: _*)) else Nil) ++
        posP.map(s => col("term").startsWith(s))).reduce(_ || _)
    val postings = postingsTable(_.filter(pred))
      .join(cand, Seq("docId"), "left_semi")
    val stats = corpusStats()
    val df = termDfTable(_.filter(pred))
    val idf = log(lit(1.0) + (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val tfNorm = (col("tf") * (lit(k1) + 1.0)) /
      (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("docLen") / col("avgdl")))
    // For exact terms the stats side is ≤ |query terms| rows — always
    // broadcast. A PREFIX atom expands it to every vocabulary term matching
    // the stem, unbounded at 100-TB vocabulary scale — so the hint is
    // DROPPED and the join left to AQE, which broadcasts when the measured
    // expansion fits and falls back to shuffle when it doesn't (plan-pinned
    // in QueryLangSpec).
    val dfSide = if (posP.isEmpty) broadcast(df) else df
    postings
      .join(dfSide, "term")
      .crossJoin(broadcast(stats))
      .withColumn("termScore", idf * tfNorm)
      .groupBy("docId")
      .agg(sum("termScore").as("score"))
  }
}

/** IVF vector index persisted with the inverted lists as PARTITION directories:
  * `{dir}/assigned/listId=N/...`. A probe reads only its lists' partitions —
  * `PartitionFilters` in the scan, i.e. a file-skip, not a data-skip. This is the
  * ANN layout that holds at 100 TB: nLists ~ sqrt(n) directories, each probe
  * touches nProbe of them.
  */
final class IvfVectorIndexer(
    spark: SparkSession, indexDir: String, embedder: Embedder,
    nLists: Int = 64, nProbe: Int = 8, seed: Long = 42L,
    deterministic: Boolean = false) extends Indexer {
  val name = "vector_ivf"
  val supportsMetadataFiltering = true
  val ascendingScores = true

  private def assignedPath = s"$indexDir/assigned"
  private def centroidsPath = s"$indexDir/centroids"
  private def tombstonesPath = s"$indexDir/tombstones"
  private def trainStatsPath = s"$indexDir/train_stats"

  private def fsys = new org.apache.hadoop.fs.Path(indexDir)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The LOGICAL assignment table: the listId-partitioned rows minus
    * tombstoned chunk ids ([[removeIds]]). `pre` applies BEFORE the
    * anti-join so a probe's listId filter stays a PartitionFilters
    * file-skip; the tombstone join is unhinted (AQE broadcasts a small
    * tail, [[compact]] keeps it small).
    */
  def assignedTable(pre: DataFrame => DataFrame = identity): DataFrame = {
    val base = pre(Tables.open(spark, assignedPath))
    Tables.openIf(spark, tombstonesPath)
      .map(t => base.join(t.select("chunkId"), Seq("chunkId"), "left_anti"))
      .getOrElse(base)
  }

  def index(chunks: DataFrame): Unit = {
    // deterministic=true trades MLlib's k-means for the bit-reproducible
    // Lloyd trainer: a re-build over unchanged chunks is byte-identical,
    // so update flows can diff assignments instead of rewriting every list
    val ivf =
      if (deterministic)
        Ann.buildIvfDeterministic(chunks, "chunkId", "embedding", nLists, seed = seed)
      else Ann.buildIvf(chunks, "embedding", nLists, seed)
    ivf.assigned.write.mode(SaveMode.Overwrite)
      .partitionBy("listId").parquet(assignedPath)
    fsys.delete(new org.apache.hadoop.fs.Path(tombstonesPath), true)
    import spark.implicits._
    ivf.centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("listId", "centroid")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(centroidsPath)
    // snapshot the list-size distribution AT TRAIN TIME — the reference
    // point [[listSizeDrift]] compares against (footer counts, no scan)
    listCounts().toSeq.sortBy(_._1).toDF("listId", "cnt")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(trainStatsPath)
  }

  /** Per-list row counts from parquet footers — a metadata read over the
    * listId partition dirs, no scan job (the [[graft.core.ParquetMeta]]
    * discipline). Counts the PHYSICAL assignment (tombstoned rows included):
    * the drift signal tracks where appends LAND, which is exactly what the
    * frozen centroids decide.
    */
  private def listCounts(): Map[Int, Long] = {
    val root = new org.apache.hadoop.fs.Path(assignedPath)
    if (!fsys.exists(root)) Map.empty
    else fsys.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("listId="))
      .map { s =>
        s.getPath.getName.stripPrefix("listId=").toInt ->
          graft.core.ParquetMeta.rowCount(spark, s.getPath.toString)
      }.toMap
  }

  /** Centroid-drift signal for maintenance loops, exposed like [[tailBytes]]:
    * total-variation distance (0..1) between the CURRENT list-share
    * distribution and the one recorded when the centroids were trained.
    * Streaming appends assign against frozen centroids; when the incoming
    * data's geometry shifts, its vectors pile into a few lists — shares
    * skew away from the train-time snapshot, probe quality degrades (a
    * probe's candidate pool balloons or starves), and THIS number says so
    * cheaply: footer counts + one ≤nLists-row read, no vector is touched.
    * ~0 = appends look like the training data; rule of thumb: re-train
    * (fresh k-means via a full [[index]] pass) above ~0.15–0.25. None when
    * the index predates the train-stats snapshot (legacy) — re-train once
    * to start the signal.
    */
  def listSizeDrift: Option[Double] = {
    if (!fsys.exists(new org.apache.hadoop.fs.Path(trainStatsPath))) return None
    val train = Tables.open(spark, trainStatsPath).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val now = listCounts()
    val (tTot, nTot) = (train.values.sum.toDouble, now.values.sum.toDouble)
    if (tTot == 0d || nTot == 0d) None
    else Some((train.keySet ++ now.keySet).toSeq.map { l =>
      math.abs(now.getOrElse(l, 0L) / nTot - train.getOrElse(l, 0L) / tTot)
    }.sum / 2.0)
  }

  private def centroids(): Array[(Int, Array[Float])] =
    Tables.open(spark, centroidsPath).collect()
      .map(r => r.getInt(0) -> r.getSeq[Float](1).toArray)

  /** Incrementally add chunks to an EXISTING index: assign against the
    * persisted centroids (no re-fit) and APPEND into the listId partition
    * dirs. This is the `foreachBatch` path for streaming collection updates —
    * probes see new vectors on their next scan, and the one-dir-per-list
    * layout (what makes probes a file-skip) is preserved by dynamic partition
    * append. Re-run [[index]] when drift skews cluster sizes; until then the
    * assignment stays consistent because the centroids are frozen on disk.
    */
  def append(chunks: DataFrame): Unit =
    writeAssigned(chunks, SaveMode.Append)

  /** Re-derive the WHOLE assignment from the current chunks table against the
    * frozen centroids — the full-reassign repair: deletions leave the index,
    * replacements enter it, one assignLists pass, no k-means re-fit. Clears
    * any tombstone tail (the rewrite IS the fold). Incremental updates take
    * [[refreshIncremental]] instead — cost ∝ changed chunks.
    */
  def refresh(chunks: DataFrame): Unit = {
    writeAssigned(chunks, SaveMode.Overwrite)
    fsys.delete(new org.apache.hadoop.fs.Path(tombstonesPath), true)
  }

  /** Tombstone chunk ids out of the logical assignment — O(ids) append; the
    * listId partition dirs are never opened. [[assignedTable]] drops them at
    * read time, [[compact]] folds them away physically.
    */
  def removeIds(chunkIds: DataFrame): Unit =
    chunkIds.select(col("chunkId"))
      .write.mode(SaveMode.Append).parquet(tombstonesPath)

  /** The incremental post-update refresh: tombstone the replaced/deleted
    * chunk ids (O(ids) append) and assign ONLY the new chunks against the
    * frozen centroids (dynamic partition append into their lists). Write IO
    * ∝ changed chunks, vs [[refresh]]'s full-table reassign. Chunk-id
    * global uniqueness (the manifest high-water mark) is what makes the
    * tombstones sound — a removed id can never be re-assigned.
    */
  def refreshIncremental(removedChunkIds: DataFrame, newChunks: DataFrame): Unit = {
    removeIds(removedChunkIds)
    append(newChunks)
  }

  /** Fold the tombstone tail into the partitioned layout: rewrite the
    * assigned dirs minus tombstones, drop the tail. No-op when empty.
    */
  def compact(): Unit = {
    if (!fsys.exists(new org.apache.hadoop.fs.Path(tombstonesPath))) return
    // the rewrite reads the table it replaces: stage and swap
    Tables.replace(spark, assignedPath) { staging =>
      assignedTable().write.mode(SaveMode.Overwrite)
        .partitionBy("listId").parquet(staging)
    }
    fsys.delete(new org.apache.hadoop.fs.Path(tombstonesPath), true)
  }

  /** Bytes in the tombstone tail — the compact-or-not signal. */
  def tailBytes: Long = {
    val p = new org.apache.hadoop.fs.Path(tombstonesPath)
    if (fsys.exists(p)) fsys.getContentSummary(p).getLength else 0L
  }

  /** FILE count of the tombstone tail — the read-amplification twin of
    * [[tailBytes]] (the Bm25Indexer.tailSegments rationale: tiny per-tick
    * appends dodge any byte budget while the anti-join pays per file).
    */
  def tailSegments: Long = {
    val p = new org.apache.hadoop.fs.Path(tombstonesPath)
    if (!fsys.exists(p)) 0L
    else {
      var n = 0L
      val it = fsys.listFiles(p, true)
      while (it.hasNext) {
        if (it.next().getPath.getName.endsWith(".parquet")) n += 1L
      }
      n
    }
  }

  private def writeAssigned(chunks: DataFrame, mode: SaveMode): Unit = {
    val cents = centroids().sortBy(_._1).map(_._2)
    Ann.assignLists(chunks, "embedding", cents)
      .write.mode(mode).partitionBy("listId").parquet(assignedPath)
  }

  def search(query: String, k: Int, metadataFilter: Option[Column]): DataFrame =
    searchImpl(query, k, metadataFilter, None)

  def searchAmong(query: String, k: Int, candidates: DataFrame,
                  metadataFilter: Option[Column]): DataFrame =
    searchImpl(query, k, metadataFilter, Some(candidates))

  private def searchImpl(query: String, k: Int, metadataFilter: Option[Column],
                         candidates: Option[DataFrame]): DataFrame = {
    val q = embedder.embed(query)
    def l2(a: Array[Float]): Double = {
      var s = 0.0; var i = 0
      val n = math.min(a.length, q.length)
      while (i < n) { val d = a(i).toDouble - q(i); s += d * d; i += 1 }
      s
    }
    val probes = centroids().map { case (i, c) => (l2(c), i) }
      .sortBy(_._1).take(nProbe).map(_._2)
    // listId is a partition column: isin => PartitionFilters => file skip;
    // the tombstone anti-join applies AFTER the pruned scan. A candidate
    // gate (boolean-MATCH restriction) semi-joins the probed rows BEFORE
    // scoring and the top-k cut — same pre-cut semantics as metadataFilter.
    val scanned0 = assignedTable(_.filter(col("listId").isin(probes: _*)))
    val scanned = candidates match {
      case Some(c) => scanned0.join(c.select("chunkId"), Seq("chunkId"), "left_semi")
      case None => scanned0
    }
    Search.vectorTopK(scanned, "embedding", q, k, "l2", metadataFilter)
      .select(col("chunkId"), col("score"))
  }

  /** Footer-metadata count over the listId partition dirs when there is no
    * tombstone tail — zero scan jobs, the common read-path case. With a tail,
    * count the LOGICAL table instead: footer arithmetic (assigned − tombstones)
    * silently drifts low when a tombstone matches nothing — a replayed
    * foreachBatch that crashed between the collection update's removeIds and
    * the streaming append leaves exactly such an unmatched (or duplicated)
    * tombstone, and the bias would trip fsck's ivf_size_matches_chunks until
    * a full refresh. The anti-join count is exact under both; [[compact]]
    * folds the tail away and restores the footer fast path.
    */
  def size: Long =
    if (fsys.exists(new org.apache.hadoop.fs.Path(tombstonesPath)))
      assignedTable().count()
    else graft.core.ParquetMeta.rowCount(spark, assignedPath)
}

object Indexers {
  /** Multi-index search + RRF fusion (searcher.py:46-65): each indexer returns its
    * ranked k-list; reciprocal-rank fusion merges them.
    */
  def multiSearch(
      indexers: Seq[Indexer], query: String, k: Int,
      metadataFilter: Option[Column] = None, rrfK: Int = 60,
      weights: Seq[Double] = Nil,
      matchGate: Option[DataFrame] = None): DataFrame = {
    require(indexers.nonEmpty)
    metadataFilter.foreach(_ => indexers.foreach(i =>
      if (!i.supportsMetadataFiltering) throw new UnsupportedOperationException(
        s"indexer ${i.name} does not support metadata filtering")))
    // `matchGate` (a chunkId candidate set, e.g. boolean-MATCH candidates)
    // restricts EVERY index's ranked list before its top-k cut — the way the
    // reference composes MATCH and filter inside one indexer query — so the
    // fused ranking is over gated candidates only, never a post-fusion trim.
    def one(i: Indexer): DataFrame = matchGate match {
      case Some(g) => i.searchAmong(query, k, g, metadataFilter)
      case None    => i.search(query, k, metadataFilter)
    }
    if (indexers.size == 1) return one(indexers.head)
    val lists = indexers.map(one)
    Search.rrfFuse(lists, "chunkId", "score",
      indexers.map(_.ascendingScores), rrfK, k, weights = weights)
  }
}
