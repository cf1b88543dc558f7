package graftbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on the
  * same base as Spark's listener event times.
  */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def now(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One timed call: `parent` is the id of the enclosing span (-1 for none),
  * `run` the pass it belongs to (-1 for set-up).
  */
final case class Span(id: Int, name: String, parent: Int, run: Int,
                      start: Double, end: Double)

/** In-memory span recorder; spans are written out once, at exit. */
final class Spans {
  val all = mutable.ArrayBuffer[Span]()
  private var nextId = 0
  private val stack = mutable.Stack[Int]()
  var run: Int = -1

  def apply[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack.push(id)
    val t0 = Clock.now()
    try body
    finally {
      stack.pop()
      all += Span(id, name, parent, run, t0, Clock.now())
    }
  }
}

/** Per-job engine counters, summed over the job's tasks. */
final class JobRec(val start: Long) {
  var end = -1L
  var failedTasks, runMs, cpuNs, gcMs = 0L
  var shuffleWrite, shuffleRead, spill, bytesOut = 0L
}

final class SqlRec(val start: Long, val details: String) {
  var end = -1L
}

/** The traced run's listeners: Spark jobs with their task metrics, SQL
  * executions with their call sites, and streaming trigger progress.
  * Attached and detached around the traced passes; the program itself
  * runs unchanged.
  */
final class Tracer(spark: SparkSession) {
  val jobs = mutable.LinkedHashMap[Int, JobRec]()
  val sql = mutable.LinkedHashMap[Long, SqlRec]()
  val progress = mutable.ArrayBuffer[String]()
  private val stageJob = mutable.HashMap[Int, JobRec]()

  private val engine = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val j = new JobRec(e.time)
      jobs(e.jobId) = j
      e.stageIds.foreach(stageJob(_) = j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageJob.get(e.stageId).foreach { j =>
        if (e.reason != Success) j.failedTasks += 1
        val m = e.taskMetrics
        if (m != null) {
          j.runMs += m.executorRunTime
          j.cpuNs += m.executorCpuTime
          j.gcMs += m.jvmGCTime
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          j.bytesOut += m.outputMetrics.bytesWritten
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => synchronized {
        sql(s.executionId) = new SqlRec(s.time, s.details)
      }
      case s: SparkListenerSQLExecutionEnd => synchronized {
        sql.get(s.executionId).foreach(_.end = s.time)
      }
      case _ => ()
    }
  }

  private val streams = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      Tracer.this.synchronized { progress += e.progress.json }
  }

  private var attached = false

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(engine)
    spark.streams.addListener(streams)
    attached = true
  }

  /** Deliver everything posted so far, then stop listening. */
  def detach(): Unit = if (attached) {
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    spark.streams.removeListener(streams)
    spark.sparkContext.removeSparkListener(engine)
    attached = false
  }
}
