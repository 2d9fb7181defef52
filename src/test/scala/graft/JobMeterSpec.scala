package graft

import graft.core.JobMeter
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.scalatest.funsuite.AnyFunSuite

class JobMeterSpec extends AnyFunSuite with SparkSuite {
  private def rddJobs(n: Int): Unit =
    (1 to n).foreach(i => spark.sparkContext.parallelize(1 to 100, 4).map(_ + i).count())

  /** Runs `body` with a second listener that takes 5 ms per job start and
    * task end. Listeners on one bus queue are served one event at a time, so
    * events back up behind it as on a loaded host: a count read without
    * draining the bus first would lag the jobs actually run.
    */
  private def onLoadedBus(body: => Unit): Unit = {
    val slow = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = Thread.sleep(5)
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = Thread.sleep(5)
    }
    JobMeter.measure(spark)(()) // install the meter ahead of the slow listener
    spark.sparkContext.addSparkListener(slow)
    try body finally spark.sparkContext.removeSparkListener(slow)
  }

  test("back-to-back jobs are counted exactly, with no sleep") {
    onLoadedBus {
      (1 to 10).foreach { round =>
        val m = JobMeter.measure(spark)(rddJobs(20))
        assert(m.jobs === 20, s"round $round")
        assert(m.tasks === 80, s"round $round")
      }
    }
  }

  test("jobs that finished before the block opened are not counted") {
    onLoadedBus {
      (1 to 10).foreach { round =>
        rddJobs(20)
        assert(JobMeter.measure(spark)(()).jobs === 0, s"round $round")
      }
    }
  }

  test("one record per counted job, each with a time span and a call site") {
    val m = JobMeter.measure(spark) {
      rddJobs(5)
      spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
    }
    assert(m.jobs >= 6)
    assert(m.records.size === m.jobs)
    assert(m.records.map(_.id).distinct.size === m.jobs)
    m.records.foreach { r =>
      assert(r.end >= r.start, r.toString)
      assert(r.site.nonEmpty, r.toString)
    }
    // nested blocks each see their own jobs; the outer one sees both
    val outer = JobMeter.measure(spark) {
      rddJobs(2)
      assert(JobMeter.measure(spark)(rddJobs(3)).jobs === 3)
    }
    assert(outer.jobs === 5 && outer.records.size === 5)
  }
}
