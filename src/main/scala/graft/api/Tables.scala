package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Test-table access for the driver-declared queries (TESTDATA.md). */
object Tables {
  def t(spark: SparkSession, sfDir: String, name: String): DataFrame =
    graft.core.Tables.open(spark, s"$sfDir/$name.parquet")

  def lineitem(s: SparkSession, d: String): DataFrame = t(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = t(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = t(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = t(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = t(s, d, "region")
  /** events.ts is parquet TIMESTAMP(NANOS): read as long nanos (legacy flag) and
    * normalize to a microsecond TimestampType column.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = t(s, d, "events")
    if (raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      // `div` = integral division. `/` would promote epoch-nanos (~1.7e18, above
      // 2^53) to double and lose up to ~256ns — enough to flip a whole-second
      // boundary in downstream floor(epoch(ts)) math.
      raw.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
        org.apache.spark.sql.functions.expr("ts div 1000")))
    else raw
  }
  def documents(s: SparkSession, d: String): DataFrame = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")
}
