package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.fidelity.StatefulStats
import graft.streaming.{RunningStats, Sources, StreamJoin}

/** Streaming-pipeline benchmark (BASELINE.md streaming metrics): replays
  * the events table as a file stream through the cumulative stats
  * pipeline (the reference's job 1 shape) — BOTH forms: the declarative
  * aggregate (RunningStats) and the imperative byte-fidelity
  * transformWithState state machine (StatefulStats).
  *
  * Measurement discipline:
  *  - MULTI-EPOCH: the events table is staged as `GRAFT_STREAM_EPOCHS`
  *    (default 8) ts-range parquet files and streamed one file per
  *    trigger, so the numbers reflect steady-state epochs, not one
  *    cold-start mega-batch; per-epoch latency is reported as a
  *    p50/p95/max distribution, not just a mean.
  *  - WARM FAIRNESS: each pipeline gets one full UNMEASURED replay
  *    before its measured one, so the declarative-vs-fidelity comparison
  *    is not confounded by whichever ran first paying JIT/codegen/session
  *    warm-up.
  *
  * Prints ONE JSON line, same convention as [[Bench]]; the declarative
  * number is the primary metric, the fidelity path's throughput rides
  * along as `fidelity_rows_per_sec`.
  */
object StreamBench {

  /** Accumulates per-batch totals as they stream past — `recentProgress`
    * is a ring buffer (default 100 entries), so reading it after the run
    * undercounts rows/epochs on long runs while `elapsed` spans them all.
    */
  private final class Totals extends org.apache.spark.sql.streaming.StreamingQueryListener {
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    var rows = 0L
    val epochMs = ArrayBuffer[Double]()
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0) synchronized {
        rows += e.progress.numInputRows
        epochMs += e.progress.durationMs.getOrDefault("triggerExecution", 0L).toDouble
      }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  private case class RunStats(rows: Long, epochMs: Seq[Double],
                              wallSec: Double) {
    def epochs: Int = epochMs.size
    // nearest-rank percentile: index = ceil(p·n) − 1 (so p50 of 8 values
    // is the 4th, not the 5th)
    private def pct(p: Double): Double =
      if (epochMs.isEmpty) 0.0
      else epochMs.sorted.apply(math.min(epochMs.size - 1,
        math.max(0, math.ceil(p * epochMs.size).toInt - 1)))
    def rowsPerSec: Double = if (wallSec > 0) rows / wallSec else 0.0
    def avg: Double = if (epochMs.nonEmpty) epochMs.sum / epochMs.size else 0.0
    def p50: Double = pct(0.50)
    def p95: Double = pct(0.95)
    def max: Double = if (epochMs.nonEmpty) epochMs.max else 0.0
  }

  /** One measured replay of `stats`. Aggregation pipelines run in
    * Update mode; stream-stream joins support Append only.
    */
  private def runOnce(spark: org.apache.spark.sql.SparkSession,
                      stats: DataFrame, name: String,
                      mode: String = "update"): RunStats = {
    val totals = new Totals
    spark.streams.addListener(totals)
    val t0 = System.nanoTime()
    val q = stats.writeStream.format("memory").queryName(name)
      .outputMode(mode).start()
    q.processAllAvailable()
    val elapsed = (System.nanoTime() - t0) / 1e9
    // progress events are posted async: wait until the listener has gone
    // quiet (two identical reads 100 ms apart) before taking the totals
    var prev = -1L
    var cur = totals.synchronized(totals.rows)
    var spins = 0
    while (cur != prev && spins < 50) {
      Thread.sleep(100); prev = cur; cur = totals.synchronized(totals.rows); spins += 1
    }
    spark.streams.removeListener(totals)
    val (rows, ms) = totals.synchronized((totals.rows, totals.epochMs.toSeq))
    q.stop()
    RunStats(rows, ms, elapsed)
  }

  /** Warm-up replay (discarded) then the measured one. */
  private def measure(spark: org.apache.spark.sql.SparkSession,
                      mkStats: () => DataFrame, name: String,
                      mode: String = "update"): RunStats = {
    runOnce(spark, mkStats(), s"${name}_warmup", mode)
    runOnce(spark, mkStats(), name, mode)
  }

  /** Stage the events table as `n` ts-range parquet files so the file
    * stream source (maxFilesPerTrigger=1) replays it in n epochs.
    */
  private def stageReplay(spark: org.apache.spark.sql.SparkSession,
                          sfDir: String, n: Int): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_replay").toString
    // Tables.events normalizes either on-disk ts encoding (nanos-as-long
    // or micros) to TimestampType, so the staged replay files are always
    // TIMESTAMP(MICROS) regardless of the testdata generation
    Tables.events(spark, sfDir)
      .repartitionByRange(n, col("ts"))
      .write.mode("overwrite").parquet(dir)
    s"$dir/part-*.parquet"
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val nEpochs = sys.env.get("GRAFT_STREAM_EPOCHS").map(_.toInt).getOrElse(8)
    val spark = GraftSession.get()
    val glob = stageReplay(spark, sfDir, nEpochs)
    val decl = measure(spark,
      () => RunningStats(Sources.eventsStreamFrom(spark, glob),
        col("event_type"), col("value")), "stream_bench")
    // fidelity path needs the RocksDB provider
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val fid = measure(spark,
      () => StatefulStats(Sources.eventsStreamFrom(spark, glob),
        col("event_type"), col("value")).toDF(), "stream_bench_fidelity")
    // stream-stream watermarked interval join (q37's engine): two
    // filtered views of the replay joined within the 6 h bound; the
    // reported rows/s is INPUT rows consumed (both sides), the
    // steady-state cost of keeping the interval-join state machine fed
    def joinSide(t: String) = Sources.eventsStreamFrom(spark, glob)
      .filter(col("event_type") === t)
      .select(col("event_id"), col("ts"), col("user_id"))
    val join = measure(spark,
      () => StreamJoin.intervalJoin(joinSide("click"), joinSide("purchase"),
        "user_id", "ts", "10 minutes", 21600L), "stream_bench_join", "append")
    println(s"""{"metric":"stream_rows_per_sec","value":${decl.rowsPerSec},""" +
      s""""unit":"rows/sec","rows":${decl.rows},"epochs":${decl.epochs},""" +
      s""""avg_epoch_ms":${decl.avg},"p50_epoch_ms":${decl.p50},""" +
      s""""p95_epoch_ms":${decl.p95},"max_epoch_ms":${decl.max},""" +
      s""""wall_sec":${decl.wallSec},""" +
      s""""fidelity_rows_per_sec":${fid.rowsPerSec},""" +
      s""""fidelity_avg_epoch_ms":${fid.avg},"fidelity_p50_epoch_ms":${fid.p50},""" +
      s""""fidelity_p95_epoch_ms":${fid.p95},""" +
      s""""join_rows_per_sec":${join.rowsPerSec},""" +
      s""""join_p50_epoch_ms":${join.p50},"join_p95_epoch_ms":${join.p95},""" +
      s""""sf":"$sfDir"}""")
    spark.stop()
  }
}
