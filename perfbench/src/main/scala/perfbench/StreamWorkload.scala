package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.Locale

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.ListenerDrain
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, StreamingQueryListener, Trigger}

import graft.fidelity.StatefulStats
import graft.streaming.{RunningStats, Sources, WordCount}

/** Writes the reference's wire format (`{"readTag_id":…,"readValue":"…"}`)
  * as JSON-lines files, each written under `tmp/` and renamed into `in/`
  * so the file source never sees a partial file. Tag ids are two tokens
  * (`b<building> t<tag>`) drawn with a Zipf-skewed frequency; a small share
  * of records is malformed: truncated, or without a tag id. (A non-numeric
  * `readValue` is left out: `Sources.parseReadings` casts it with ANSI
  * semantics and the query fails.) It keeps its own tally of what it wrote,
  * which the output check uses.
  */
final class ReadingGenerator(seed: Long, root: Path) {
  val Tags = 10000
  val MalformedShare = 0.005
  private val rng = new java.util.Random(seed)
  private val tmp = Files.createDirectories(root.resolve("tmp"))
  val in: Path = Files.createDirectories(root.resolve("in"))
  // Zipf(1.1) cumulative weights over tag ranks, for inverse-CDF draws
  private val cdf = {
    val w = (1 to Tags).map(r => 1.0 / math.pow(r, 1.1))
    val c = w.scanLeft(0.0)(_ + _).tail.toArray
    c.map(_ / c.last)
  }
  private var files = 0
  /** token -> count over records that carry a readable tag id. */
  val tokens: mutable.Map[String, Long] = mutable.HashMap[String, Long]().withDefaultValue(0L)
  var rows = 0L

  private def tag(): String = {
    val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
    val rank = if (i >= 0) i else -i - 1
    f"b${rank % 97}%02d t$rank%05d"
  }

  private def record(sb: java.lang.StringBuilder): Unit = {
    val t = tag()
    val v = String.format(Locale.ROOT, "%.3f", Double.box(rng.nextGaussian() * 15.0 + 20.0))
    if (rng.nextDouble() < MalformedShare) {
      if (rng.nextBoolean()) sb.append("{\"readTag_id\":\"").append(t).append("\",\"readV") // truncated
      else sb.append("{\"readValue\":\"").append(v).append("\"}") // no tag id
    } else {
      sb.append("{\"readTag_id\":\"").append(t).append("\",\"readValue\":\"").append(v).append("\"}")
      t.split(" ").foreach(w => tokens(w) += 1)
    }
    sb.append('\n')
  }

  /** Writes one file of `n` records; returns the epoch ms of its rename. */
  def writeFile(n: Int): Double = {
    val sb = new java.lang.StringBuilder(n * 48)
    (0 until n).foreach(_ => record(sb))
    val name = f"part-$files%06d.json"
    files += 1
    val t = tmp.resolve(name)
    Files.write(t, sb.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(t, in.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    rows += n
    System.currentTimeMillis().toDouble
  }
}

/** One epoch as reported by `StreamingQueryProgress`. */
final case class Epoch(batchId: Long, rows: Long, startMs: Double, endMs: Double,
                       parts: Map[String, Long], stateRows: Long, stateBytes: Long,
                       stateCommitMs: Long)

/** Collects every epoch of every query, keyed by query name. */
final class EpochListener extends StreamingQueryListener {
  import StreamingQueryListener._
  val epochs: mutable.Map[String, mutable.ArrayBuffer[Epoch]] = mutable.HashMap()

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    val parts = mutable.Map[String, Long]()
    p.durationMs.forEach((k, v) => parts(k) = v.longValue)
    val ops = p.stateOperators
    val ep = Epoch(p.batchId, p.numInputRows, start,
      start + parts.getOrElse("triggerExecution", 0L), parts.toMap,
      ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
      ops.map(_.commitTimeMs).sum)
    synchronized(epochs.getOrElseUpdate(p.name, mutable.ArrayBuffer()) += ep)
  }

  /** Rows consumed so far by query `name`. */
  def rows(name: String): Long = synchronized(epochs.get(name).map(_.map(_.rows).sum).getOrElse(0L))

  def snapshot: Map[String, Seq[Epoch]] = synchronized(epochs.map { case (k, v) => k -> v.toList }.toMap)
}

/** `stream_jobs`: the reference's two programs as three concurrent
  * streaming queries over one input directory.
  *
  *  - `stats`: job 1, declarative (`RunningStats` → `toWire`, update mode);
  *  - `fidelity`: job 1, imperative (`StatefulStats` on the RocksDB state
  *    store, started after `stats` because the provider is fixed when a
  *    query starts);
  *  - `wordcount`: job 2, `WordCount` of each micro-batch in `foreachBatch`.
  *
  * Each query starts its next epoch as soon as the previous one ends, so a
  * file's latency is the engine's work, not a wait for a fixed trigger.
  * Phases: a burst of warm-up files (set-up ends when every query has
  * consumed them), an open-loop phase of `RatePerSec` rows/s in one file
  * every `FileEveryMs` for `--seconds`, then `Drains` drains of a fixed
  * `BacklogRows` backlog written as one file. Outputs are checked after the
  * queries stop.
  */
final class StreamWorkload(spark: SparkSession, a: Harness.Args, spans: Option[Spans],
                           jobs: Option[JobListener]) {
  /** The open-loop rate and file cadence the workload was sized with. On
    * four cores each epoch takes the 4–7 files that arrived during the
    * previous one in about 1.3 s, so the queries keep up and no backlog
    * builds. */
  val RatePerSec = 20000
  val FileEveryMs = 250
  val WarmFiles = 10
  val Drains = 5
  val BacklogRows = 50000
  val Names = Seq("stats", "fidelity", "wordcount")
  private val PerFile = RatePerSec * FileEveryMs / 1000

  private val root = Files.createDirectories(java.nio.file.Paths.get(a.work, "stream"))
  private val gen = new ReadingGenerator(a.seed, root)
  private val listener = new EpochListener
  /** latest wire JSON per key from each job-1 query's sink */
  private val wire = Map("stats" -> mutable.HashMap[String, String](),
    "fidelity" -> mutable.HashMap[String, String]())
  private val counted = mutable.HashMap[String, Long]().withDefaultValue(0L)

  /** (due ms, rename ms, rows, phase) per file, in write order. */
  private val files = mutable.ArrayBuffer[(Double, Double, Int, String)]()

  private def raw(): DataFrame = spark.readStream.text(gen.in.toString)

  private def start(name: String, df: DataFrame)(sink: (DataFrame, Long) => Unit): StreamingQuery =
    df.writeStream.queryName(name)
      .option("checkpointLocation", root.resolve("ckpt").resolve(name).toString)
      .outputMode(OutputMode.Update())
      .trigger(Trigger.ProcessingTime(0L))
      .foreachBatch(sink)
      .start()

  private def keepWire(name: String)(df: DataFrame, id: Long): Unit = {
    val rows = df.select("key", "value").collect()
    val m = wire(name)
    m.synchronized(rows.foreach(r => m(r.getString(0)) = r.getString(1)))
  }

  /** Blocks until every query has consumed every row written so far. */
  private def awaitConsumed(queries: Seq[StreamingQuery]): Unit = {
    val deadline = System.currentTimeMillis() + 60000L
    while (Names.exists(n => listener.rows(n) < gen.rows)) {
      queries.find(!_.isActive).foreach { q =>
        throw new IllegalStateException(s"stream query ${q.name} stopped", q.exception.orNull)
      }
      if (System.currentTimeMillis() > deadline)
        throw new IllegalStateException(s"streams did not consume ${gen.rows} rows: " +
          Names.map(n => s"$n=${listener.rows(n)}").mkString(", "))
      Thread.sleep(5)
    }
  }

  /** Writes `n` files of `PerFile` rows from a thread of its own; file k
    * is due at t0 + k * FileEveryMs whatever the engine does. */
  private def openLoop(n: Int, phase: String): Unit = {
    val t0 = System.currentTimeMillis().toDouble + 50
    val genThread = new Thread(() => {
      (0 until n).foreach { k =>
        val due = t0 + k * FileEveryMs
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait.toLong)
        val renamed = gen.writeFile(PerFile)
        files.synchronized(files += ((due, renamed, PerFile, phase)))
      }
    }, "perfbench-generator")
    genThread.start()
    genThread.join()
  }

  def run(): Map[String, Any] = {
    spark.streams.addListener(listener)
    val readings = Sources.parseReadings(raw())
    val queries = Seq(
      start("stats", RunningStats.toWire(
        RunningStats(readings, col("readTag_id"), col("value"))))(keepWire("stats")),
      {
        spark.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        start("fidelity", StatefulStats.toWire(
          StatefulStats(Sources.parseReadings(raw()), col("readTag_id"), col("value"))))(
          keepWire("fidelity"))
      },
      start("wordcount", raw()) { (df, _) =>
        val rows = WordCount(Sources.extractTagIds(df), col("line")).collect()
        counted.synchronized(rows.foreach(r => counted(r.getString(0)) += r.getLong(1)))
      })

    val warm0 = System.currentTimeMillis().toDouble
    // set-up: a burst of small files; the cold first epochs and the
    // catch-up epochs after them warm the queries
    (0 until WarmFiles).foreach { _ =>
      val t = gen.writeFile(PerFile)
      files += ((t, t, PerFile, "warm"))
    }
    awaitConsumed(queries)
    jobs.foreach { l =>
      ListenerDrain(spark.sparkContext)
      l.take("ungrouped")
    }
    val setupEnd = System.currentTimeMillis().toDouble

    openLoop(math.max(1, (a.seconds * 1000 / FileEveryMs).toInt), "open")
    // how far reading lags the newest input when the open loop ends
    val backlogRows = gen.rows - Names.map(listener.rows).min
    awaitConsumed(queries)

    // drains: a fixed backlog in one file; run.py times each from the
    // earliest start of the epochs that take it to the latest end
    (0 until Drains).foreach { d =>
      val t = gen.writeFile(BacklogRows)
      files += ((t, t, BacklogRows, s"drain$d"))
      awaitConsumed(queries)
    }
    queries.foreach(_.stop())
    val measuredS = (System.currentTimeMillis() - setupEnd) / 1000.0
    ListenerDrain(spark.sparkContext)
    // Spark jobs of every micro-batch since set-up ended (traced run only)
    val jobTotals = jobs.map(_.take("ungrouped").toMap).getOrElse(Map.empty)
    val epochs = listener.snapshot

    spans.foreach { sp =>
      for ((name, eps) <- epochs; e <- eps) {
        val id = sp.add(0L, name, "epoch", e.startMs, e.endMs,
          Map("batch_id" -> e.batchId, "rows" -> e.rows))
        // durationMs carries no start times: the parts are laid out in the
        // order a micro-batch runs them
        var t = e.startMs
        Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
            "commitOffsets").foreach { k =>
          e.parts.get(k).foreach { ms =>
            sp.add(id, name, k, t, t + ms)
            t += ms
          }
        }
      }
    }

    val failures = mutable.ArrayBuffer[String]() ++ check()
    Map(
      "setup_end_ms" -> setupEnd,
      "warmup_s" -> (setupEnd - warm0) / 1000.0,
      "files" -> files.toList.map { case (due, ren, n, phase) =>
        Map("due_ms" -> due, "renamed_ms" -> ren, "rows" -> n, "phase" -> phase) },
      "epochs" -> epochs.map { case (k, v) => k -> v.map(e => Map(
        "batch_id" -> e.batchId, "rows" -> e.rows, "start_ms" -> e.startMs,
        "end_ms" -> e.endMs, "parts" -> e.parts, "state_rows" -> e.stateRows,
        "state_bytes" -> e.stateBytes, "state_commit_ms" -> e.stateCommitMs)) },
      "gen_rows" -> gen.rows, "backlog_rows" -> backlogRows,
      "jobs" -> jobTotals, "measured_s" -> measuredS,
      "checks" -> 3,
      "failures" -> failures.toList)
  }

  /** Final per-key state of both job-1 queries against batch `RunningStats`
    * over the same files; word counts against the generator's own tally.
    */
  private def check(): Seq[String] = {
    val mapper = new ObjectMapper()
    val batch = RunningStats(Sources.parseReadings(spark.read.text(gen.in.toString)),
        col("readTag_id"), col("value"))
      .select("readTag_id", "counter", "summer", "bestmin", "bestmax").collect()
      .map(r => r.getString(0) -> (r.getLong(1).toDouble, r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    val out = mutable.ArrayBuffer[String]()
    for ((name, m) <- wire) {
      val got = m.map { case (k, js) =>
        val n = mapper.readTree(js)
        k -> (n.get("counter").asDouble, n.get("summer").asDouble,
          n.get("bestmin").asDouble, n.get("bestmax").asDouble)
      }
      val bad = batch.keySet.union(got.keySet).toSeq.filter { k =>
        (batch.get(k), got.get(k)) match {
          case (Some(b), Some(g)) =>
            b._1 != g._1 || b._3 != g._3 || b._4 != g._4 ||
              math.abs(b._2 - g._2) > 1e-9 * math.max(1.0, math.abs(b._2))
          case _ => true
        }
      }
      if (bad.nonEmpty)
        out += s"$name: ${bad.size} of ${batch.size} keys differ from batch RunningStats (e.g. ${bad.head})"
    }
    val wrongWords = gen.tokens.keySet.union(counted.keySet).count(w => gen.tokens(w) != counted(w))
    if (wrongWords > 0)
      out += s"wordcount: $wrongWords tokens differ from the generator's tally " +
        s"(${counted.values.sum} counted, ${gen.tokens.values.sum} written)"
    out.toList
  }
}
