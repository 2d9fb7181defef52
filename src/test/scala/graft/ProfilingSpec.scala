package graft

import graft.core.JobMeter
import graft.operators.Profiling
import org.scalatest.funsuite.AnyFunSuite

class ProfilingSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  test("profile: null counts, exact distinct (nulls excluded), one pass") {
    val df = Seq(
      (Some(1), Some("a")), (Some(1), None), (Some(2), Some("b")),
      (None, Some("a")), (None, None))
      .toDF("k", "v")
    val out = Profiling.profile(df, Seq("k", "v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq === Seq(("k", 3L, 2L, 2L), ("v", 3L, 2L, 2L)))
    // the whole profile is ONE aggregation job regardless of column count
    val jobs = JobMeter.measure(spark)(Profiling.profile(df, Seq("k", "v")).count()).jobs
    assert(jobs <= 6, s"profiling fanned out into per-column scans: $jobs jobs")
  }
}
