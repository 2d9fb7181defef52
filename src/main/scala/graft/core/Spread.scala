package graft.core

import org.apache.spark.sql.DataFrame

/** Scale-adaptive input spreading for COMPUTE-DENSE per-row work.
  *
  * Spark sizes scan splits by bytes (`spark.sql.files.maxPartitionBytes`,
  * openCost-padded bin packing) and a parquet file never splits below a row
  * group — so a small or single-row-group input yields a 1-task scan stage
  * no matter how many cores the session has. That is the right call when the
  * map side is IO-shaped, and exactly wrong when the map side is
  * compute-dense (winnowing fingerprints, shingle/window generation,
  * deletion-neighborhood explodes): the whole corpus's CPU work lands on one
  * core while 31 idle. The optimization guide's §2.5 prescription for
  * unsplittable inputs is "repartition immediately after the read"; this
  * helper applies it ADAPTIVELY:
  *
  *   - input already planned at ≥ the session default parallelism →
  *     IDENTITY. A real-scale corpus (row groups ≫ cores) never pays the
  *     exchange, so the 100 TB plan shape is unchanged.
  *   - fewer partitions than cores → round-robin repartition to the session
  *     default parallelism, one narrow exchange of the (small by
  *     construction — it underfilled the byte-sized splits) input.
  *   - no file scan under the optimized plan (a local batch, or rows already
  *     cached) → IDENTITY, decided from the logical plan alone: such an
  *     input is already in hand, and planning it to count its partitions
  *     would run its exchanges and broadcasts at construction.
  *
  * Use ONLY in front of compute-dense map work. IO-shaped or
  * payload-carrying paths (e.g. pipeline decontamination, whose contract is
  * that corpus text crosses no exchange) must not spread.
  */
object Spread {
  def forCompute(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    // rdd.getNumPartitions plans the physical RDD once; operator
    // construction paths call this once per query, not per row
    if (!Tables.scansFiles(df) || df.rdd.getNumPartitions >= p) df else df.repartition(p)
  }
}
