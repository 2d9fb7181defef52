package graft.core

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

import scala.collection.parallel.CollectionConverters._

/** Metadata-only parquet statistics — answers "how many rows" from file
  * FOOTERS, without launching a Spark job or touching a data page.
  *
  * An `Indexer.size` backed by a `count()` over the opened table schedules a
  * full scan stage per call; harmless at test scale, wasteful at 100 TB when
  * a search session asks for index sizes. Every parquet footer already
  * carries the exact row count per row group, so the truth is a pure
  * metadata read: list the files, read each footer, sum. Footer reads are a
  * few KiB each and parallelize across files from the driver (no executors
  * needed — this is the same listing the scan planner itself performs).
  *
  * The directory walk parallelizes per SUBDIRECTORY as well as per footer:
  * on high-latency filesystems (object stores; this container's ~10-25 ms
  * per-op tmp fs) a serial recursive listing of a `bucket=K/` layout costs
  * depth × width round-trips, while the parallel walk costs ~depth.
  *
  * Reference contract: `get_size` on BaseIndexer
  * (/root/reference/main/indexes/indexers/base_indexer.py:24-25).
  */
object ParquetMeta {

  /** All visible `*.parquet` files under `root`, recursively. Files under
    * `_`- or `.`-prefixed path segments (e.g. an in-flight write's
    * `_temporary/`) are skipped, matching what `spark.read.parquet` would
    * load — otherwise a crashed write would over-count forever. Hidden-ness
    * is decided at descend time, so a hidden subtree is never even listed.
    */
  private def listParquet(fs: FileSystem, root: Path): Vector[FileStatus] = {
    def visible(name: String) = !name.startsWith("_") && !name.startsWith(".")
    def walk(dir: Path): Vector[FileStatus] = {
      val children = fs.listStatus(dir).toVector
      val files = children.filter(c => c.isFile && visible(c.getPath.getName) &&
        c.getPath.getName.endsWith(".parquet"))
      val dirs = children.filter(c => c.isDirectory && visible(c.getPath.getName))
      files ++ dirs.par.flatMap(d => walk(d.getPath)).toVector
    }
    walk(root)
  }

  /** (total row count, max of int64 `maxColumn` if provable) in ONE listing
    * and ONE footer sweep — the combined form exists because on slow-metadata
    * filesystems the listing dominates, and a manifest refresh needs both
    * facts about the same table.
    *
    * Row counts are exact (footer record counts). The column max comes from
    * row-group statistics alone and is `None` when it can't be PROVEN from
    * metadata — no files, a row group without recorded stats, or the column
    * missing from a file's schema — so callers fall back to a scan instead
    * of trusting a lie. (Parquet writers record min/max per column chunk by
    * default; the None path exists for foreign files, not ours.)
    */
  def rowCountAndMaxLong(conf: Configuration, dir: String,
                         maxColumn: String): (Long, Option[Long]) = {
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root)) return (0L, None)
    val files = listParquet(fs, root)
    if (files.isEmpty) return (0L, None)
    import scala.jdk.CollectionConverters._
    val perFile: Vector[(Long, Option[Option[Long]])] = files.par.map { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
      try {
        val blocks = reader.getFooter.getBlocks.asScala.filter(_.getRowCount > 0)
        val rows = reader.getRecordCount
        // per row group: Some(max) when provable, None when not
        val maxes = blocks.map { b =>
          b.getColumns.asScala
            .find(_.getPath.toDotString == maxColumn)
            .map(_.getStatistics) match {
            case Some(s: org.apache.parquet.column.statistics.LongStatistics)
              if s != null && !s.isEmpty && s.hasNonNullValue => Some(s.getMax)
            case _ => None // missing column, no stats, or not int64 → unprovable
          }
        }
        val fileMax: Option[Option[Long]] =
          if (maxes.exists(_.isEmpty)) None // some group unprovable → file unprovable
          else if (maxes.isEmpty) Some(None) // 0-row file contributes nothing
          else Some(Some(maxes.flatten.max))
        (rows, fileMax)
      } finally reader.close()
    }.toVector
    val total = perFile.map(_._1).sum
    val max =
      if (perFile.exists(_._2.isEmpty)) None // any unprovable file poisons the max
      else perFile.flatMap(_._2.flatten) match {
        case Vector() => None // only empty files — no value exists
        case vs       => Some(vs.max)
      }
    (total, max)
  }

  /** Exact total row count of every `*.parquet` file under `dir`
    * (recursive — partitioned layouts like `listId=N/` subdirs included).
    * Returns 0 for an empty or not-yet-written directory rather than
    * throwing: an index with no artifact has size 0.
    */
  def rowCount(conf: Configuration, dir: String): Long = {
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root)) return 0L
    listParquet(fs, root).par.map { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
      try reader.getRecordCount finally reader.close()
    }.sum
  }

  def rowCount(spark: org.apache.spark.sql.SparkSession, dir: String): Long =
    rowCount(spark.sessionState.newHadoopConf(), dir)

  /** Maximum value of an int64 column across every `*.parquet` file under
    * `dir`, from ROW-GROUP STATISTICS alone — see [[rowCountAndMaxLong]] for
    * the provability contract.
    */
  def columnMaxLong(conf: Configuration, dir: String, column: String): Option[Long] =
    rowCountAndMaxLong(conf, dir, column)._2
}
