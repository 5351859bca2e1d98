package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.ListenerDrain
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{ModelCache, SparkEntry, Tables}

/** The fixed query lists of the batch workloads. They are copied here,
  * not read from the engine, so that a change to the engine cannot change
  * what the benchmark measures.
  */
object BatchQueries {
  /** The 35-query baseline subset the project's history is measured on. */
  val baseline35: Seq[String] = Seq(
    "d40_dedup_exact", "d41_ngram_jaccard", "d42_minhash_lsh", "d43_simhash",
    "d44_embedding_neardup", "m60_media_catalog", "m61_decode_features",
    "m62_frame_sample", "q10_cube", "q11_distinct", "q11b_approx_distinct",
    "q12_hourly_events", "q13_grouping_sets", "q14_correlated_subquery",
    "q15_range_join", "q1_pricing_summary", "q20_keyed_stats",
    "q20b_welford_stats", "q20c_fidelity_stats", "q21_wordcount",
    "q22_json_extract", "q2_revenue_by_nation", "q30_ann_brute",
    "q31_ann_lsh", "q3_semi_join", "q4_anti_join", "q5_window_topn",
    "q6_running_window", "q7_topk", "q8_setops", "q9_rollup",
    "t50_langid", "t51_quality", "t52_token_count", "t53_fingerprint")

  /** Stage-heavy iterative queries whose builders run eager
    * `graftCheckpoint` jobs. */
  val iterativeLoops: Seq[String] = Seq(
    "q63_pagerank", "d68_incremental_topics")

  val byWorkload: Map[String, Seq[String]] =
    Map("baseline35" -> baseline35, "iterative_loops" -> iterativeLoops)
}

/** Collects the planning phases (name -> start and end, epoch ms) of every
  * query execution Spark reports.
  */
private final class PlanPhases extends QueryExecutionListener {
  private val done = mutable.ArrayBuffer[Map[String, (Double, Double)]]()

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.map { case (k, v) =>
      k -> (v.startTimeMs.toDouble, v.endTimeMs.toDouble) }
    synchronized(done += phases)
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    record(qe)

  def take(): Seq[Map[String, (Double, Double)]] = synchronized {
    val out = done.toList
    done.clear()
    out
  }
}

/** `baseline35` and `iterative_loops`: one pass over a fixed query list in
  * a seeded order, in a fresh JVM. Each query goes through the engine's public entry points
  * only: the builder `SparkEntry.queries(name)(spark, dir)`, a parquet
  * write of its result (which executes the declared plan), and
  * `ModelCache.releaseTransient`. The pass is timed cold, JIT and code
  * generation included, because every run of a query battery in a new
  * process pays them; `run.py` checks the written outputs against the
  * DuckDB oracle after the JVM exits.
  */
final class BatchWorkload(spark: SparkSession, a: Harness.Args,
                          spans: Option[Spans], jobs: Option[JobListener]) {
  private val queries = BatchQueries.byWorkload(a.workload)
  private val plans = spans.map { _ =>
    val p = new PlanPhases
    spark.listenerManager.register(p)
    p
  }
  private val failures = mutable.ArrayBuffer[String]()

  private def nowMs: Double = System.nanoTime() / 1e6

  /** Timed run of one query; returns its record. */
  private def runQuery(name: String, outDir: java.nio.file.Path,
                       passSpan: Option[(Spans, Long)]): Map[String, Any] = {
    val trace = "pass"
    val fn = SparkEntry.queries(name)
    val rec = mutable.LinkedHashMap[String, Any]("name" -> name)
    def phase[T](key: String, parent: Long)(f: => T): T = {
      val t0 = nowMs
      try passSpan match {
        case None => f
        case Some((sp, _)) =>
          sp.timed(parent, trace, key)(id => Harness.inGroup(spark, s"$trace|$id|$key")(f))
      } finally rec(s"${key}_s") = (nowMs - t0) / 1000.0
    }
    def body(qSpan: Long): Unit =
      try {
        val df = phase("build", qSpan)(fn(spark, a.data))
        // blocks the query holds in storage (eager checkpoints of the build,
        // then anything the execution persisted), before release drops them
        def persisted(): Long = spark.sparkContext.getRDDStorageInfo
          .map(i => i.memSize + i.diskSize).sum
        if (passSpan.isDefined) rec("checkpoint_bytes") = persisted()
        rec("exec_start_ms") = System.currentTimeMillis().toDouble
        phase("exec", qSpan)(df.write.mode("overwrite").parquet(outDir.resolve(name).toString))
        if (passSpan.isDefined) rec("persisted_bytes") = persisted()
      } catch {
        case e: Throwable =>
          rec("error") = String.valueOf(e.getMessage).take(300)
          failures += s"$name: ${rec("error")}"
      } finally phase("release", qSpan)(ModelCache.releaseTransient(spark))
    val t0 = nowMs
    passSpan match {
      case None => body(0L)
      case Some((sp, id)) => sp.timed(id, trace, s"query:$name")(body)
    }
    rec("total_s") = (nowMs - t0) / 1000.0
    // traced run: let every event of this query reach the listeners, then
    // read its counts; this wait is outside the query's spans
    for (_ <- passSpan; l <- jobs; p <- plans) {
      ListenerDrain(spark.sparkContext)
      rec("build") = l.take("build").toMap
      rec("exec") = l.take("exec").toMap
      rec("release") = l.take("release").toMap
      // planning of the write: Catalyst's analysis, optimization and
      // physical-planning phases as QueryPlanningTracker recorded them, for
      // the executions that began with the write (not the builder's own)
      val execStart = rec.get("exec_start_ms").collect { case d: Double => d }
      rec("plan_s") = p.take().map { ph =>
        val parts = Seq("analysis", "optimization", "planning").flatMap(ph.get)
        if (execStart.exists(t => parts.exists(_._1 >= t - 1)))
          parts.map { case (s, e) => e - s }.sum
        else 0.0
      }.sum / 1000.0
    }
    rec.toMap
  }

  def run(): Map[String, Any] = {
    // set-up: session-level warm-up only, a trivial job and one parquet
    // read, so the first query drawn does not pay for them; each query then
    // runs once, cold, as a fresh process runs it
    val w0 = System.currentTimeMillis().toDouble
    spark.range(1 << 20).selectExpr("sum(id)").collect()
    Tables.lineitem(spark, a.data).count()
    val outDir = Files.createDirectories(Paths.get(a.work, "out"))
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => queries.contains(k) }
    Files.writeString(outDir.resolve("oracle_sql.json"),
      new com.fasterxml.jackson.databind.ObjectMapper().registerModule(
        com.fasterxml.jackson.module.scala.DefaultScalaModule).writeValueAsString(oracle))
    for (l <- jobs; p <- plans) {
      ListenerDrain(spark.sparkContext)
      l.take("ungrouped")
      p.take()
    }
    val setupEnd = System.currentTimeMillis().toDouble

    // the timed pass, in seeded order; each output is written for the check
    val order = new scala.util.Random(a.seed).shuffle(queries)
    val passSpan = spans.map(sp => sp -> sp.newId())
    val spanStart = passSpan.map(_._1.nowMs)
    val t0 = nowMs
    val recs = order.map(runQuery(_, outDir, passSpan))
    val wall = (nowMs - t0) / 1000.0
    for ((sp, id) <- passSpan; s0 <- spanStart)
      sp.add(0L, "pass", "pass", s0, sp.nowMs, id = id)
    Map(
      "setup_end_ms" -> setupEnd,
      "warmup_s" -> (setupEnd - w0) / 1000.0,
      "passes" -> List(Map("wall_s" -> wall, "queries" -> recs)),
      "written" -> recs.filterNot(_.contains("error")).map(_("name")),
      "failures" -> failures.toList)
  }
}
