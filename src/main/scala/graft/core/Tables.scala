package graft.core

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** The one way to open a parquet table, and the one way to replace one
  * ([[replace]] / [[swap]]).
  *
  * A bare `spark.read.parquet(path)` infers the schema EAGERLY with a Spark
  * job (one task reading one footer on an executor), so every table a plan
  * opens costs a job at construction time — 60-90 ms each in local mode on
  * 4 vCPUs, paid again on every search request and every mutation.
  * [[open]] reads the same footer on the driver instead and hands Spark the
  * result as a user-specified schema: the relation is the one inference
  * would build, and construction launches no job.
  *
  * The schema is exactly the one Spark infers (mergeSchema off, its
  * default): the footer of the first data file in full-path order, decoded
  * by `ParquetFileFormat.readSchemaFromFooter` — the Spark schema stored
  * under `org.apache.spark.sql.parquet.row.metadata` for files Spark wrote,
  * otherwise Spark's parquet-to-Catalyst converter under the session's SQL
  * conf (so `spark.sql.legacy.parquet.nanosAsLong` still applies). Because
  * it is read from the files on every open, it cannot drift from them; no
  * schema is declared by hand or cached. Partition columns (`bucket=K`) are
  * still discovered from the paths by Spark's own file index.
  *
  * A path with no data file — missing, file-less, or a glob — goes to
  * Spark's inference unchanged, which expands globs and fails loudly
  * exactly as before.
  */
object Tables {

  def open(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None         => spark.read.parquet(path)
    }

  /** Whether `df`'s optimized plan reads files: false for a local batch or
    * for rows already cached. Read from the logical plan, so no job runs.
    */
  def scansFiles(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectLeaves().exists {
      case r: LogicalRelation => r.relation.isInstanceOf[HadoopFsRelation]
      case _ => false
    }

  /** [[open]] when `path` exists, else None — one cheap `exists` call, for
    * optional artifacts (LSM delta segments, tombstones, derived indexes).
    */
  def openIf(spark: SparkSession, path: String): Option[DataFrame] = {
    val p = new Path(path)
    if (p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      Some(open(spark, path))
    else None
  }

  /** Rewrite the table at `path`: `write` writes the new table, in overwrite
    * mode, into the staging sibling it is handed, and [[swap]] then moves it
    * into place. The write may read `path` itself — Spark refuses a direct
    * self-overwrite of a path the plan reads — and every reader sees the old
    * table or the new one, never a partial directory. The staging name is
    * hidden (`.{name}__staging`) for the same reason as the swap's backup: a
    * rewrite that dies mid-write leaves inert residue even when `path` is a
    * partition dir, and the next rewrite's overwrite reclaims it.
    */
  def replace(spark: SparkSession, path: String)(write: String => Unit): Unit = {
    val t = new Path(path)
    val staging = new Path(t.getParent, "." + t.getName + "__staging").toString
    write(staging)
    swap(spark, staging, path)
  }

  /** Swap staging into place via rename-to-backup first: a crash between steps
    * leaves either the old table (backup not yet renamed away is recoverable) or
    * the new one — never a missing directory, unlike delete-then-rename.
    *
    * The backup name is DOT-PREFIXED (`.{name}__old`): when the target is a
    * `bucket=K` dir inside a partitioned table root, a visible residue dir
    * after a crash would poison partition discovery — Spark infers `bucket`
    * as STRING from the non-numeric dir name, rows under the residue re-read
    * as duplicates, and the misbucketed fsck check null-excludes them. Hidden
    * names are skipped by Spark's listing (and ParquetMeta), so crash residue
    * is inert: invisible to every reader, reclaimed by the next swap.
    */
  def swap(spark: SparkSession, staging: String, target: String): Unit = {
    val t = new Path(target)
    val fs = t.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val backup = new Path(t.getParent, "." + t.getName + "__old")
    if (fs.exists(backup)) fs.delete(backup, true)
    if (fs.exists(t)) fs.rename(t, backup)
    fs.rename(new Path(staging), t)
    if (fs.exists(backup)) fs.delete(backup, true)
  }

  /** The schema Spark's inference would give `path`, from one driver-side
    * footer read; None when there is no data file to read.
    */
  private def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    firstDataFile(root.getFileSystem(conf), root).map { f =>
      val sql = spark.sessionState.conf
      // the flags ParquetFileFormat.mergeSchemasInParallel passes (the rest
      // keep their defaults there too)
      val converter = new ParquetToSparkSchemaConverter(
        assumeBinaryIsString = sql.isParquetBinaryAsString,
        assumeInt96IsTimestamp = sql.isParquetINT96AsTimestamp,
        inferTimestampNTZ = sql.parquetInferTimestampNTZEnabled,
        nanosAsLong = sql.legacyParquetNanosAsLong,
        respectUnknownTypeAnnotation = sql.parquetReaderRespectUnknownTypeAnnotation)
      val footer = ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(f, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
      ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, footer), converter)
    }
  }

  /** Spark's file-index visibility rule: `_`/`.`-prefixed names are hidden
    * (an in-flight `_temporary/`, `_SUCCESS`, a swap's `.x__old` backup)
    * unless they name a partition (`_k=v`), and so are in-flight copies.
    * Parquet summary files (`_metadata`), which no writer here produces, are
    * skipped with the rest.
    */
  private def visible(name: String): Boolean =
    !(name.startsWith("_") && !name.contains("=")) && !name.startsWith(".") &&
      !name.endsWith("._COPYING_")

  /** The non-empty data file with the smallest full path — the one Spark's
    * inference sorts to the front and reads. Sorting files by name and
    * directories by `name + "/"` walks children in full-path string order,
    * so the walk lists only the directories on the way to that file (one
    * listing for a flat table, two for a bucketed one), not the whole tree.
    */
  private def firstDataFile(fs: FileSystem, root: Path): Option[FileStatus] = {
    def first(dir: Path): Option[FileStatus] =
      fs.listStatus(dir).filter(s => visible(s.getPath.getName))
        .sortBy(s => if (s.isDirectory) s.getPath.getName + "/" else s.getPath.getName)
        .iterator
        .flatMap(s => if (s.isDirectory) first(s.getPath) else Some(s).filter(_.getLen > 0))
        .nextOption()
    val st = try Some(fs.getFileStatus(root))
      catch { case _: java.io.FileNotFoundException => None }
    st.flatMap(s => if (s.isDirectory) first(root) else Some(s).filter(_.getLen > 0))
  }
}
