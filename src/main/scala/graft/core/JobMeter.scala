package graft.core

import org.apache.spark.{GraftListenerBus, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import scala.collection.mutable

/** One Spark job launched inside a [[JobMeter.measure]] block. `start` and
  * `end` are the scheduler's epoch-ms stamps (a job still running when the
  * block closes ends at the close); `tasks` is the planned task count over
  * the job's stages, skipped stages included; `site` is the job's short call
  * site, else the call site of the SQL action that launched it, else its
  * last stage's name.
  */
final case class JobRecord(id: Int, start: Long, end: Long, tasks: Int, site: String)

/** What one [[JobMeter.measure]] block cost: its wall seconds, and the jobs,
  * finished tasks, shuffle-write bytes and task-input bytes it launched.
  * `records` holds one entry per counted job, in start order.
  */
final case class Measurement(
    wallS: Double, jobs: Int, tasks: Long, shuffleWriteBytes: Long,
    inputBytes: Long, records: Vector[JobRecord])

/** The one Spark job meter: a listener installed once per SparkContext, with
  * all its state behind one lock. [[JobMeter.measure]] drains the listener
  * bus before and after the block, so a job the block launched is always
  * counted and a job that finished before it never is — whatever the host
  * load, with no sleep.
  */
final class JobMeter private (val sc: SparkContext) extends SparkListener {
  private var jobs = 0
  private var tasks = 0L
  private var shuffleWrite = 0L
  private var input = 0L
  // per-job records are kept only while a block is open, so a long-lived
  // session does not grow one entry per job; (start ordinal, record)
  private var open = 0
  private val started = mutable.ArrayBuffer.empty[(Int, JobRecord)]
  // SQL execution id -> its action's call site: AQE submits query-stage jobs
  // from its own threads, whose stacks name no caller
  private val sqlSites = mutable.Map.empty[String, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      if (open > 0) sqlSites(s.executionId.toString) = s.description
    }
    case _ =>
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    if (open > 0) {
      def prop(k: String) = Option(j.properties).flatMap(p => Option(p.getProperty(k)))
      val site = prop("callSite.short")
        .orElse(prop("spark.sql.execution.id").flatMap(sqlSites.get))
        .orElse(j.stageInfos.lastOption.map(_.name.takeWhile(_ != '\n').take(70)))
        .filter(_.nonEmpty).getOrElse("?")
      started += jobs -> JobRecord(j.jobId, j.time, -1L, j.stageInfos.map(_.numTasks).sum, site)
    }
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
    val i = started.indexWhere(_._2.id == j.jobId)
    if (i >= 0) started(i) = started(i)._1 -> started(i)._2.copy(end = j.time)
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    Option(t.taskMetrics).foreach { m =>
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      input += m.inputMetrics.bytesRead
    }
  }

  private def measure(body: => Any): Measurement = {
    GraftListenerBus.waitUntilEmpty(sc)
    val (j0, t0, s0, i0) = synchronized { open += 1; (jobs, tasks, shuffleWrite, input) }
    try {
      val w0 = System.nanoTime()
      body
      val wall = (System.nanoTime() - w0) / 1e9
      GraftListenerBus.waitUntilEmpty(sc)
      val close = System.currentTimeMillis()
      synchronized {
        val recs = started.iterator.collect {
          case (n, r) if n > j0 => if (r.end < 0) r.copy(end = close) else r
        }.toVector
        Measurement(wall, jobs - j0, tasks - t0, shuffleWrite - s0, input - i0, recs)
      }
    } finally synchronized {
      open -= 1
      if (open == 0) { started.clear(); sqlSites.clear() }
    }
  }
}

object JobMeter {
  private var installed: JobMeter = _

  /** Run `body` and return what it launched on `spark`'s context. Blocks may
    * nest; each counts everything launched while it is open.
    */
  def measure(spark: SparkSession)(body: => Any): Measurement = {
    val meter = synchronized {
      val sc = spark.sparkContext
      if (installed == null || (installed.sc ne sc)) {
        installed = new JobMeter(sc)
        sc.addSparkListener(installed)
      }
      installed
    }
    meter.measure(body)
  }
}
