package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** What Spark reports for the work done inside one span: its own task
  * metrics (SparkListener) and the planning phases of every query that
  * finished in it (QueryPlanningTracker via QueryExecutionListener). */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var recordsRead = 0L
  var bytesRead = 0L
  var recordsWritten = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var deserializeMs = 0L
  var schedulerDelayMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var planMs = 0L
}

/** One traced interval: name, start and end (ns since the tracer was
  * built), the span that caused it, and the counters seen inside it. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long,
    endNs: Long, counters: Counters) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans kept in memory and written out when the run ends. While attached,
  * the listeners add every task and query to each open span, so a span's
  * counters include its children's; `drain` before closing a span makes
  * its counters complete. */
final class Tracer(spark: SparkSession) {
  private val t0 = System.nanoTime()
  private val spans = ArrayBuffer.empty[Span]
  private val open = scala.collection.mutable.Stack.empty[(Int, String, Long, Counters)]
  private var nextId = 0

  private def current: List[Counters] = synchronized(open.toList.map(_._4))

  private val taskListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      current.foreach(c => c.synchronized(c.jobs += 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = current.foreach { c =>
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m != null) c.synchronized {
        c.tasks += 1
        c.recordsRead += m.inputMetrics.recordsRead
        c.bytesRead += m.inputMetrics.bytesRead
        c.recordsWritten += m.outputMetrics.recordsWritten
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.deserializeMs += m.executorDeserializeTime
        c.schedulerDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L))
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = current.foreach { c =>
      val ms = qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum
      c.synchronized(c.planMs += ms)
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(taskListener)
    spark.listenerManager.register(queryListener)
  }

  def detach(): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(taskListener)
    spark.listenerManager.unregister(queryListener)
  }

  /** Run `body` inside a span nested in the innermost open one. */
  def span[T](name: String)(body: => T): (T, Span) = {
    PerfbenchBus.drain(spark.sparkContext)
    val c = new Counters
    val (id, parent) = synchronized {
      val id = nextId; nextId += 1
      val parent = open.headOption.map(_._1).getOrElse(-1)
      open.push((id, name, System.nanoTime() - t0, c))
      (id, parent)
    }
    try {
      val out = body
      PerfbenchBus.drain(spark.sparkContext)
      (out, close(id, parent, name, c))
    } catch {
      case e: Throwable => close(id, parent, name, c); throw e
    }
  }

  private def close(id: Int, parent: Int, name: String, c: Counters): Span =
    synchronized {
      val (_, _, start, _) = open.pop()
      val s = Span(id, parent, name, start, System.nanoTime() - t0, c)
      spans += s
      s
    }

  def all: Seq[Span] = synchronized(spans.toList)
}
