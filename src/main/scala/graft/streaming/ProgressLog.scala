package graft.streaming

import java.io.PrintStream

import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent,
  QueryStartedEvent, QueryTerminatedEvent}

/** Streaming progress in a normal run: each epoch's
  * `StreamingQueryProgress` as one compact JSON line on `out` (stderr by
  * default; stdout belongs to the console sink). A line carries the
  * epoch's `batchId`, input rows and rates, the `durationMs` split
  * (`latestOffset`, `walCommit`, `addBatch`, `commitOffsets`, …), each
  * state operator's rows, memory and commit time, and the watermark —
  * the monitoring surface Structured Streaming builds around
  * `StreamingQueryProgress`. Events arrive on Spark's asynchronous
  * listener bus; `SparkContext.stop()` delivers the ones still queued.
  */
class ProgressLog(out: PrintStream = System.err) extends StreamingQueryListener {
  override def onQueryStarted(event: QueryStartedEvent): Unit = ()
  override def onQueryProgress(event: QueryProgressEvent): Unit =
    out.println(event.progress.json)
  override def onQueryTerminated(event: QueryTerminatedEvent): Unit = ()
}
