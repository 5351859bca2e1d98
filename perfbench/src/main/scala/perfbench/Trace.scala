package perfbench

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.scheduler._

/** One timed interval at a layer boundary. Times are epoch milliseconds
  * (fractional), so spans from the harness clock and from Spark's event
  * timestamps share one axis. `trace` groups the spans of one pass or one
  * stream query.
  */
final case class Span(id: Long, parent: Long, trace: String, name: String,
                      start: Double, end: Double,
                      attrs: Map[String, Any] = Map.empty)

/** In-memory span buffer, written out once when the run ends. */
final class Spans {
  private val ids = new AtomicLong(0)
  private val buf = mutable.ArrayBuffer[Span]()

  private val wall0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()

  /** Epoch milliseconds, advanced by the monotonic clock. */
  def nowMs: Double = wall0 + (System.nanoTime() - nano0) / 1e6

  def newId(): Long = ids.incrementAndGet()

  def add(parent: Long, trace: String, name: String, start: Double, end: Double,
          attrs: Map[String, Any] = Map.empty, id: Long = newId()): Long = {
    synchronized(buf += Span(id, parent, trace, name, start, end, attrs))
    id
  }

  /** Runs `f` inside a span; the span is recorded even when `f` throws. */
  def timed[T](parent: Long, trace: String, name: String)(f: Long => T): T = {
    val id = newId()
    val t0 = nowMs
    try f(id)
    finally synchronized(buf += Span(id, parent, trace, name, t0, nowMs))
  }

  def all: Seq[Span] = synchronized(buf.toList)
}

/** Totals of Spark's task metrics over the stages of one job group. */
final class StageTotals {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var failedTasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "failed_tasks" -> failedTasks, "executor_run_ms" -> runMs,
    "executor_cpu_ms" -> cpuNs / 1e6, "gc_ms" -> gcMs,
    "input_bytes" -> inputBytes, "shuffle_read_bytes" -> shuffleReadBytes,
    "shuffle_write_bytes" -> shuffleWriteBytes, "spill_bytes" -> spillBytes)
}

/** Reads Spark's public scheduler events and attributes every job and
  * stage to the job group that was current on the submitting thread (the
  * harness sets one group per query phase). It also records a span per
  * job under the phase span named by the group's id, and a span per stage
  * under its job. The harness installs it for traced runs only.
  */
final class JobListener(spans: Spans) extends SparkListener {
  private val totals = mutable.Map[String, StageTotals]()
  private val stageGroup = mutable.Map[Int, Option[String]]()
  private val stageJobSpan = mutable.Map[Int, Long]()
  private val jobStart = mutable.Map[Int, (Option[String], Double, Long)]()

  /** Group id format: `<trace>|<parent span id>|<key>`. Jobs without such
    * a group (streaming micro-batches, untraced passes) are counted under
    * the key `ungrouped` and get no span.
    */
  private def parse(group: Option[String]): (String, Long, String) =
    group.map(_.split('|')) match {
      case Some(Array(t, p, k)) => (t, p.toLong, k)
      case _ => ("", 0L, "ungrouped")
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    val (_, _, key) = parse(g)
    totals.getOrElseUpdate(key, new StageTotals).jobs += 1
    // a job's span id is fixed at its start so that its stages, which
    // complete before the job ends, can name it as their parent
    val spanId = if (key == "ungrouped") 0L else spans.newId()
    jobStart(e.jobId) = (g, e.time.toDouble, spanId)
    e.stageIds.foreach { s =>
      stageGroup.getOrElseUpdate(s, g)
      stageJobSpan.getOrElseUpdate(s, spanId)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (g, t0, spanId) =>
      val (trace, parent, _) = parse(g)
      if (spanId != 0L) spans.add(parent, trace, "job", t0, e.time.toDouble,
        Map("job_id" -> e.jobId), id = spanId)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stageGroup.get(info.stageId).foreach { g =>
      val (trace, _, key) = parse(g)
      val t = totals.getOrElseUpdate(key, new StageTotals)
      t.stages += 1
      t.tasks += info.numTasks
      t.failedTasks += (if (info.failureReason.isDefined) 1 else 0)
      val m = info.taskMetrics
      if (m != null) {
        t.runMs += m.executorRunTime
        t.cpuNs += m.executorCpuTime
        t.gcMs += m.jvmGCTime
        t.inputBytes += m.inputMetrics.bytesRead
        t.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        t.spillBytes += m.diskBytesSpilled
      }
      val jobSpan = stageJobSpan.getOrElse(info.stageId, 0L)
      if (jobSpan != 0L) {
        val t0 = info.submissionTime.map(_.toDouble).getOrElse(0.0)
        val t1 = info.completionTime.map(_.toDouble).getOrElse(t0)
        spans.add(jobSpan, trace, "stage", t0, t1,
          Map("stage_id" -> info.stageId, "tasks" -> info.numTasks))
      }
    }
  }

  /** Removes and returns the totals for one group key. */
  def take(key: String): StageTotals = synchronized {
    totals.remove(key).getOrElse(new StageTotals)
  }
}

/** Counts log events at ERROR or above through an appender attached to
  * the root logger.
  */
object ErrorLog {
  private val count = new AtomicInteger(0)
  private val samples = mutable.ArrayBuffer[String]()

  def install(): Unit = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val app = new AbstractAppender("perfbench-error-count", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.ERROR)) {
          count.incrementAndGet()
          samples.synchronized {
            if (samples.size < 5)
              samples += s"${e.getLoggerName}: ${e.getMessage.getFormattedMessage.take(200)}"
          }
        }
    }
    app.start()
    ctx.getConfiguration.addAppender(app)
    ctx.getConfiguration.getRootLogger.addAppender(app, Level.ERROR, null)
    ctx.updateLoggers()
  }

  def events: Int = count.get()
  def sample: Seq[String] = samples.synchronized(samples.toList)
}
