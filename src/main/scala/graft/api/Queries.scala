package graft.api

import graft.api.queries._
import graft.functions.HashingEmbedder
import graft.operators.{Bm25Indexer, Search}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver-facing query registry: every operator from SURVEY.md §2 (plus the
  * training-data-pipeline extensions) is exercised by a named query with a DuckDB
  * oracle. Design rules for oracle hash-parity:
  *   - every output is explicitly ordered with a total deterministic order;
  *   - doubles are rounded AND ordered by their rounded value with an id tie-break,
  *     so a last-ulp divergence between engines cannot reorder rows;
  *   - counts/ranks are cast to BIGINT on the Spark side (DuckDB windows/counts are
  *     BIGINT);
  *   - string hashing common to both engines uses md5 hex (identical in both).
  *
  * The rows live in one object per family under `api/queries/`, each exposing
  * `all`; DuckDB replay text that several rows share lives in
  * [[graft.api.queries.OracleSql]]. This object holds what the families share
  * on the Spark side and the union they form.
  */
object Queries {

  case class Q(run: (SparkSession, String) => DataFrame, oracle: Option[String])

  private val D = Tables

  /** Shared query text used by the search-family queries. */
  val searchQuery = "table scan merge"

  /** Query text for the gated M1 embed→search lifecycle (must stay free of SQL
    * metacharacters — it is spliced into the oracle as a string literal). */
  val m1Query = "data pipeline quality"
  val searchTerms: Seq[String] = Search.tokenize(searchQuery).distinct

  /** Fixed-size 400/100 char chunks with global sequential ids — the SQL-expressible
    * splitter variant (the recursive splitter is unit-tested for parity instead).
    * Production id assignment uses zipWithIndex (Indexing.buildChunks); the global
    * row_number here keeps the query oracle-checkable at test scale.
    */
  def chunkFanout(s: SparkSession, d: String): DataFrame =
    chunkFanoutDf(D.documents(s, d))

  def chunkFanoutDf(documents: DataFrame): DataFrame = {
    val sized = documents
      .select(col("doc_id"), col("text"),
        greatest(lit(1L), ceil((length(col("text")) - lit(100)) / lit(300.0)).cast("long")).as("n"))
    // Global sequential ids without a global window over the chunk rows: the
    // order-dependent part is a running count over narrow (doc_id, n) pairs —
    // the single-partition window exchange never carries text, and the fan-out
    // itself stays fully parallel. chunk_id = docs-before-me + chunk_number + 1.
    // (At true scale id assignment is zipWithIndex — Indexing.buildChunks.)
    val offsets = sized.select(col("doc_id"), col("n"))
      .withColumn("doc_offset", coalesce(sum("n").over(
        Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("doc_id", "doc_offset")
    sized.join(offsets, "doc_id")
      .select(col("doc_id"), col("text"), col("doc_offset"),
        explode(sequence(lit(0L), col("n") - 1)).as("chunk_number"))
      .select(
        col("doc_id"), col("chunk_number"),
        expr("substring(text, cast(chunk_number*300 + 1 as int), 400)").as("chunk_text"),
        (col("doc_offset") + col("chunk_number") + lit(1L)).as("chunk_id"))
  }

  /** The vec_id = 0 embedding, the query vector of the vector-search rows. */
  private[api] def queryVec(s: SparkSession, d: String): Array[Float] =
    D.embeddings(s, d).filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0).toArray

  /** `documents` as indexer input: chunkId = doc_id, indexedData = text. */
  private def indexerInput(s: SparkSession, d: String): DataFrame =
    D.documents(s, d).select(col("doc_id").as("chunkId"), col("text").as("indexedData"))

  /** A [[Bm25Indexer]] over [[indexerInput]] under a fresh temp dir named by
    * `prefix`; `phrase` also builds the positional artifact in the same pass.
    */
  private[api] def indexDocuments(s: SparkSession, d: String, prefix: String,
                                  selectByRounded: Option[Int] = None,
                                  phrase: Boolean = false): Bm25Indexer = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    val docs = indexerInput(s, d)
    val idx = new Bm25Indexer(s, dir, chunksPath = s"$dir/unused", selectByRounded = selectByRounded)
    if (phrase) idx.indexWithPhrase(docs) else idx.index(docs)
    idx
  }

  /** The lifecycle rows' one incremental merge into an [[indexDocuments]]
    * index: doc ids divisible by 13 or 7 leave, and the %7 ones that are not
    * %13 return under fresh ids past 1e7 with `appended` added to their text
    * (removed ids never return — the tombstone-soundness contract).
    */
  private[api] def deleteAndReplace(idx: Bm25Indexer, s: SparkSession, d: String,
                                    appended: String): Unit = {
    val docs = indexerInput(s, d)
    val removed = docs.filter(col("chunkId") % 13 === 0 || col("chunkId") % 7 === 0)
      .select(col("chunkId").as("docId"), col("indexedData"))
    val replacement = docs
      .filter(col("chunkId") % 7 === 0 && col("chunkId") % 13 =!= 0)
      .select((col("chunkId") + 10000000L).as("chunkId"),
        concat(col("indexedData"), lit(appended)).as("indexedData"))
    idx.updateIncremental(removed, replacement)
  }

  /** The families' maps as one; a name that two families register is an error. */
  private[graft] def union(families: Map[String, Q]*): Map[String, Q] =
    families.foldLeft(Map.empty[String, Q]) { (acc, family) =>
      val twice = acc.keySet.intersect(family.keySet)
      require(twice.isEmpty, s"query names registered twice: ${twice.toSeq.sorted.mkString(", ")}")
      acc ++ family
    }

  val all: Map[String, Q] = union(
    TpchQueries.all, RelationalQueries.all, LifecycleQueries.all, SearchQueries.all,
    MatchQueries.all, DedupQueries.all, TextQueries.all, CurationQueries.all,
    AnnQueries.all, AnalyticsQueries.all)

  /** Flagship: end-to-end collection build + hybrid search on the documents table. */
  def flagship(spark: SparkSession, sfDir: String): DataFrame = {
    val embedder = HashingEmbedder.default
    val docs = D.documents(spark, sfDir).select(
      col("doc_id").cast("string").as("id"),
      concat(lit("doc://"), col("doc_id")).as("url"),
      map(lit("lang"), col("lang"), lit("source"), col("source")).as("metadata"),
      col("text"))
    val withChunks = graft.operators.Indexing.splitDocuments(
      docs, new graft.functions.TextSplitter(400, 100))
    val chunks = graft.operators.Indexing.buildChunks(withChunks, embedder)
    Search.hybridSearch(chunks, embedder, searchQuery, maxChunks = 15, maxDocs = 5)
  }
}
