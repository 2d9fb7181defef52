package graft.sources

import graft.core.Tables
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.hadoop.fs.Path
import java.nio.charset.StandardCharsets
import java.security.MessageDigest

/** Read-through cache for expensive sources (S6): the first materialization of a
  * source lands in a Parquet staging table keyed by the SHA-256 of the source
  * config; subsequent reads with the same config replay from the staging table.
  *
  * Mirrors the reference's cache-reader decorator
  * (/root/reference/main/sources/document_cache_reader_decorator.py:13-52):
  * config hash = cache key (:50-52), `_completed` marker for atomicity (:24-33) —
  * here the marker is Spark's own `_SUCCESS` file, which Parquet commit protocols
  * write only after a complete job, giving the same crash-consistency for free.
  */
final class CachedSource(spark: SparkSession, cacheDir: String) {

  /** SHA-256 of the canonical config string (F14). */
  def configHash(config: String): String =
    MessageDigest.getInstance("SHA-256")
      .digest(config.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  private def path(config: String) = s"$cacheDir/${configHash(config)}"

  def isCached(config: String): Boolean = {
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.exists(new Path(s"${path(config)}/_SUCCESS"))
  }

  /** Replay the cached table, or materialize `source` and cache it. */
  def readThrough(config: String)(source: => DataFrame): DataFrame = {
    if (!isCached(config)) {
      source.write.mode(SaveMode.Overwrite).parquet(path(config))
    }
    Tables.open(spark, path(config))
  }

  def invalidate(config: String): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(path(config)), true)
  }
}
