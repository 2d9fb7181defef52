package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark work done by one operation, as the listener bus saw it. */
final case class Work(jobs: Long, tasks: Long, recordsRead: Long, bytesRead: Long,
                      bytesWritten: Long, shuffleBytes: Long) {
  def -(o: Work): Work = Work(jobs - o.jobs, tasks - o.tasks, recordsRead - o.recordsRead,
    bytesRead - o.bytesRead, bytesWritten - o.bytesWritten, shuffleBytes - o.shuffleBytes)
}

/** Counts jobs, tasks, input records/bytes, output bytes and shuffle bytes
  * from outside the engine. All state sits behind one lock; [[snapshot]]
  * drains the listener bus first, so the counts after a call include every
  * event that call posted.
  */
final class WorkCounter(sc: SparkContext) extends SparkListener {
  private var jobs, tasks, recordsRead, bytesRead, bytesWritten, shuffleBytes = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      recordsRead += m.inputMetrics.recordsRead
      bytesRead += m.inputMetrics.bytesRead
      bytesWritten += m.outputMetrics.bytesWritten
      shuffleBytes += m.shuffleWriteMetrics.bytesWritten
    }
  }

  def snapshot(): Work = {
    org.apache.spark.BenchListenerBus.waitUntilEmpty(sc)
    synchronized { Work(jobs, tasks, recordsRead, bytesRead, bytesWritten, shuffleBytes) }
  }
}

/** One traced interval. Spans of one request share `request`. */
final case class Span(id: Int, name: String, parent: Int, request: Int,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder: [[span]] nests by call stack on the one client
  * thread and records the [[Work]] the counter saw during each span.
  */
final class Tracer(counter: WorkCounter) {
  val spans = mutable.ArrayBuffer.empty[Span]
  val work = mutable.Map.empty[Int, Work]
  private var stack = List.empty[Int]
  private var request = 0
  private var lastId = 0

  def newRequest(): Int = { request += 1; request }

  def span[T](name: String)(body: => T): T = {
    lastId += 1
    val id = lastId
    val parent = stack.headOption.getOrElse(0)
    val before = counter.snapshot()
    stack = id :: stack
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      spans += Span(id, name, parent, request, t0, t1)
      work(id) = counter.snapshot() - before
    }
  }

  /** Span time not covered by its children. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.iterator.filter(_.parent == s.id).map(_.seconds).sum

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq
}
