package graft.operators

import graft.core.Tables
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Table maintenance for long-lived Parquet corpora: incremental pipelines
  * (streaming `foreachBatch` appends, per-batch collection updates, per-source
  * ingest runs) accrete small files, and at 100 TB the scan's task count — and
  * the namenode/liststore pressure — is set by FILE count, not byte count.
  * Compaction rewrites a fragmented table into ~`targetBytes` files and swaps
  * it in atomically ([[graft.core.Tables.replace]]: readers see the old table
  * or the new one, never a partial directory).
  *
  * The reference meets the same failure mode as SQLite page fragmentation and
  * re-index cycles (`sqllite_indexer.py:117-129` rebuilds storage when the
  * in-memory legacy format shows up); on a distributed store the fix is this
  * rewrite, driven by [[fileStats]]'s cheap listing rather than a schedule.
  */
object Maintenance {

  /** Snapshot diff — the CDC primitive for corpus versioning: full-outer join
    * two table versions on `keyCol` and classify every key as added / removed
    * / changed / unchanged by comparing md5 of `valueCol`. One shuffle (the
    * key join); at 100 TB run it on the narrow (key, hash) projection — text
    * never moves, which is why the hash column exists. The input to "what did
    * this recrawl actually change" decisions before paying for a re-index.
    */
  def diffTables(oldDf: org.apache.spark.sql.DataFrame,
                 newDf: org.apache.spark.sql.DataFrame,
                 keyCol: String, valueCol: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val a = oldDf.select(col(keyCol), md5(col(valueCol).cast("binary")).as("_ha"))
    val b = newDf.select(col(keyCol), md5(col(valueCol).cast("binary")).as("_hb"))
    a.join(b, Seq(keyCol), "full_outer")
      .withColumn("status",
        when(col("_ha").isNull, "added")
          .when(col("_hb").isNull, "removed")
          .when(col("_ha") === col("_hb"), "unchanged")
          .otherwise("changed"))
      .select(col(keyCol), col("status"))
  }

  /** One listing pass: (nFiles, totalBytes, avgBytes) — the compact-or-not
    * signal. Listing only; no data read.
    */
  def fileStats(spark: SparkSession, path: String): (Long, Long, Long) = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(new Path(path))
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
    val n = files.length.toLong
    val bytes = files.map(_.getLen).sum
    (n, bytes, if (n == 0) 0L else bytes / n)
  }

  /** Rewrite `path` into ceil(totalBytes / targetBytes) files if the current
    * average file size is below `minAvgBytes` (skip when healthy — compaction
    * is itself a full rewrite, don't pay it gratuitously). Returns the file
    * count after the call. Coalesce, not repartition: file-count reduction
    * needs no shuffle, only a narrow merge of input splits.
    */
  def compact(spark: SparkSession, path: String, targetBytes: Long,
              minAvgBytes: Long): Long = {
    // A flat rewrite of a PARTITIONED table (e.g. the IVF assigned/listId=N
    // layout) would silently flatten the directories and destroy partition
    // pruning — refuse instead; partitioned tables compact per-partition.
    val fsys = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val subdirs = fsys.listStatus(new Path(path))
      .filter(s => s.isDirectory && !s.getPath.getName.startsWith("_"))
    require(subdirs.isEmpty,
      s"compact: $path contains partition directories " +
        s"(${subdirs.take(3).map(_.getPath.getName).mkString(", ")}…) — " +
        "compact each partition directory individually to keep the layout")
    val (n, bytes, avg) = fileStats(spark, path)
    if (n == 0 || avg >= minAvgBytes) return n
    val nOut = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    if (n <= nOut) return n // rewrite couldn't reduce the file count — skip
    // `path` may be a partition dir (bucket=K, listId=N) inside a table
    // root: Tables.replace stages and backs up under hidden names, so a
    // crashed compact leaves only residue that partition discovery skips
    Tables.replace(spark, path) { s =>
      Tables.open(spark, path).coalesce(nOut).write.mode("overwrite").parquet(s)
    }
    fileStats(spark, path)._1
  }

  /** Per-partition compaction for a partitioned layout (`bucket=K/`,
    * `listId=N/` …): each partition directory compacts INDIVIDUALLY through
    * [[compact]], so the directory structure — and with it partition pruning
    * and the bucketed collection's dirty-bucket-only update property —
    * survives. Repeated partial updates accrete small files ONLY in the
    * buckets they touch; this pays the rewrite only for directories whose
    * average file size fell below `minAvgBytes` (typically the hot buckets),
    * leaving cold partitions untouched — same skip rule, applied per
    * directory. Returns (partitions compacted, total files after).
    */
  def compactPartitioned(spark: SparkSession, path: String, targetBytes: Long,
                         minAvgBytes: Long): (Long, Long) = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(new Path(path))
      .filter(s => s.isDirectory && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
      .map(_.getPath.toString).sorted
    require(parts.nonEmpty,
      s"compactPartitioned: $path has no partition directories — use compact")
    var compacted = 0L
    var files = 0L
    parts.foreach { p =>
      val (nBefore, _, avg) = fileStats(spark, p)
      val nAfter = compact(spark, p, targetBytes, minAvgBytes)
      if (nBefore > 0 && avg < minAvgBytes && nAfter < nBefore) compacted += 1
      files += nAfter
    }
    (compacted, files)
  }
}
