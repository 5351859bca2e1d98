package graft

/** Benchmark main (driver contract): runs every declared query on
  * `SPARK_GRAFT_SF_DIR` and prints one JSON line with per-query wall
  * seconds. Uses the canonical [[GraftSession]] (AQE on, UTC, shuffle
  * partitions = cores) at `SPARK_GRAFT_CPUS` threads, or the JVM's core
  * count when it is unset.
  *
  * Contention/timeout hardening (VERDICT r17 item 1 — the driver's bench
  * was timeout-killed mid-battery two rounds running and the artifact
  * voided):
  *   - the 35-query BASELINE subset runs FIRST (it is the set the 2× bar
  *     is defined over; alphabetical order used to put t50-t53 dead last)
  *     and its stdout metric line prints the moment the subset completes,
  *     BEFORE the full battery starts;
  *   - `bench.json` is rewritten after EVERY query, so a kill at any
  *     point leaves a parseable artifact with everything measured so far;
  *   - queries not yet executed are listed under `"not_run"` — distinct
  *     from `"failed"` (r17's artifact conflated kill-victims with real
  *     failures);
  *   - a wall-budget guard (`GRAFT_BENCH_BUDGET` seconds /
  *     `-Dgraft.bench.budget`, default 2400 ≈ 40 min, well inside the
  *     driver's ~59-min sbt timeout) stops measuring when exceeded and
  *     still emits both artifacts cleanly;
  *   - a JVM shutdown hook emits the current partial stdout line +
  *     `bench.json` if SIGTERM lands before the final line printed;
  *   - `"contended": true` is set when the pre-run 1-min loadavg exceeds
  *     [[ContendedLoad]], so downstream readers can discount a loaded-
  *     machine record mechanically instead of forensically.
  */
object Bench {

  /** The round-1 driver-baseline inventory (BENCH_r01.json, 35 queries) —
    * the subset BASELINE.md's 2× acceptance bar is defined over, in fixed
    * sorted order for cross-round comparability. The printed stdout line
    * carries per-query seconds for THIS subset only: the driver's log
    * capture keeps a bounded tail (~2000 chars), and the full-inventory
    * map (~6 KB at 188 queries) no longer fits — rounds 10-11 lost the
    * parsed record to exactly that truncation. The full map is always
    * written to `bench.json` (stable path, committed).
    */
  private[graft] val BaselineSubset: Seq[String] = Seq(
    "q1_pricing_summary", "q2_revenue_by_nation", "q3_semi_join",
    "q4_anti_join", "q5_window_topn", "q6_running_window", "q7_topk",
    "q8_setops", "q9_rollup", "q10_cube", "q11_distinct",
    "q11b_approx_distinct", "q12_hourly_events", "q13_grouping_sets",
    "q14_correlated_subquery", "q15_range_join", "q20_keyed_stats",
    "q20b_welford_stats", "q20c_fidelity_stats", "q21_wordcount",
    "q22_json_extract", "q30_ann_brute", "q31_ann_lsh", "d40_dedup_exact",
    "d41_ngram_jaccard", "d42_minhash_lsh", "d43_simhash",
    "d44_embedding_neardup", "m60_media_catalog", "m61_decode_features",
    "m62_frame_sample", "t50_langid", "t51_quality", "t52_token_count",
    "t53_fingerprint").sorted

  /** Pre-run loadavg above this ⇒ the record is flagged `contended`.
    * Chosen from the forensic record, not the core count: the r17 driver
    * battery that read 13-80× inflated started at loadavg 4.38 on this
    * 32-thread box, while every clean builder battery started ≤ 2. */
  private val ContendedLoad = 3.0

  /** 1-minute load average, sampled so a bench artifact taken on a
    * contended machine is self-diagnosing (VERDICT r16 item 6: two
    * rounds of driver bench artifacts were corrupted by co-tenant load
    * and could only be reconciled after the fact).
    */
  private def loadavg(): Double =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  // per-query status, updated as the battery runs; read by the artifact
  // writers (main loop, subset checkpoint, shutdown hook)
  private sealed trait Status
  private case class Ok(sec: Double) extends Status
  private case object Failed extends Status
  private case object NotRun extends Status

  /** One JSON artifact line from the current state map. `names` selects
    * which queries appear in the inline `"queries"` map (the full set for
    * `bench.json`, the BASELINE subset for stdout); failed queries read
    * -1.0 there, not-yet-run queries are omitted from the map and listed
    * under `"not_run"` instead.
    */
  private def jsonLine(states: collection.SeqMap[String, Status], names: Seq[String],
                       dp: Int, partial: Boolean, budgetSec: Double,
                       elapsedSec: Double, loadBefore: Double, loadAfter: Double,
                       sfDir: String, fullRef: Boolean): String = {
    def fmt(v: Double, p: Int) = BigDecimal(v).setScale(p, BigDecimal.RoundingMode.HALF_UP).toString
    val qmap = names.flatMap { n =>
      states(n) match {
        case Ok(s) => Some(s"\"$n\":${fmt(s, dp)}")
        case Failed => Some(s"\"$n\":-1.0")
        case NotRun => None
      }
    }.mkString("{", ",", "}")
    val failed = states.collect { case (n, Failed) => s"\"$n\"" }.mkString("[", ",", "]")
    val notRun = states.collect { case (n, NotRun) => s"\"$n\"" }.mkString("[", ",", "]")
    val total = states.values.collect { case Ok(s) => s }.sum
    val nRun = states.values.count(_ != NotRun)
    val subsetTotal = BaselineSubset.map(states).collect { case Ok(s) => s }.sum
    val extra =
      (if (fullRef) "\"queries_full\":\"bench.json\"," else "") +
        (if (partial) "\"partial\":true," else "") +
        (if (loadBefore > ContendedLoad) "\"contended\":true," else "")
    s"""{"metric":"total","value":${fmt(total, 3)},"unit":"sec","n_queries":${states.size},"n_run":$nRun,"baseline_subset_total":${fmt(subsetTotal, 3)},"queries":$qmap,"failed":$failed,"not_run":$notRun,$extra"budget_sec":${fmt(budgetSec, 0)},"elapsed_sec":${fmt(elapsedSec, 1)},"loadavg_before":$loadBefore,"loadavg_after":$loadAfter,"sf":"$sfDir"}"""
  }

  def main(args: Array[String]): Unit = run(stopSession = true)

  /** Whole battery; separated from main so Round18Spec can drive the
    * budget-guard path in-process (with `-Dgraft.bench.budget` /
    * `-Dgraft.bench.out` overrides) without stopping the shared test
    * session. */
  private[graft] def run(stopSession: Boolean): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val budgetSec = sys.props.get("graft.bench.budget")
      .orElse(sys.env.get("GRAFT_BENCH_BUDGET")).map(_.toDouble).getOrElse(2400.0)
    val benchPath = java.nio.file.Paths.get(
      sys.props.getOrElse("graft.bench.out", "bench.json"))
    val t0 = System.nanoTime()
    def elapsed(): Double = (System.nanoTime() - t0) / 1e9
    val loadBefore = loadavg()

    // subset first, then the rest in fixed sorted order — a Map's
    // iteration order would vary with the query set, making per-query
    // numbers incomparable across rounds
    val subsetSet = BaselineSubset.toSet
    val order = BaselineSubset ++
      SparkEntry.queries.keys.toSeq.filterNot(subsetSet).sorted
    val states = collection.mutable.LinkedHashMap[String, Status](
      order.map(_ -> (NotRun: Status)): _*)

    def writeBench(partial: Boolean): Unit = {
      val line = jsonLine(collection.SeqMap.from(states), order, 9, partial,
        budgetSec, elapsed(), loadBefore, loadavg(), sfDir, fullRef = false)
      // write-then-move so a kill mid-write can't leave a truncated file
      val tmp = benchPath.resolveSibling(benchPath.getFileName.toString + ".tmp")
      java.nio.file.Files.writeString(tmp, line + "\n")
      java.nio.file.Files.move(tmp, benchPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    def stdoutLine(partial: Boolean): String =
      jsonLine(collection.SeqMap.from(states), BaselineSubset, 3, partial,
        budgetSec, elapsed(), loadBefore, loadavg(), sfDir, fullRef = true)

    // a kill-shaped exit (driver timeout → SIGTERM → shutdown hooks) must
    // still leave both artifacts: the last per-query bench.json is already
    // on disk, and this prints the partial stdout line if the final one
    // never made it
    val finalPrinted = new java.util.concurrent.atomic.AtomicBoolean(false)
    val hook = new Thread(() =>
      if (!finalPrinted.get()) {
        try writeBench(partial = true) catch { case _: Throwable => }
        try println(stdoutLine(partial = true)) catch { case _: Throwable => }
      })
    Runtime.getRuntime.addShutdownHook(hook)
    writeBench(partial = true) // parseable from the first instant

    val spark = GraftSession.get()
    // untimed warmup: pay the one-off JIT/codegen/parquet-reader init
    // outside the measured loop so the first query isn't penalized
    spark.range(1 << 20).selectExpr("sum(id)").collect()
    Tables.documents(spark, sfDir).count()
    Tables.lineitem(spark, sfDir).count()
    // steady-state warmup (StreamBench's warm-fairness discipline applied
    // to the batch suite): replay the WHOLE query set unmeasured at a
    // tiny SF so each query's codegen/JIT/window-exec warm-up is paid
    // before its measured run. Without this, whichever queries run first
    // absorb the entire cold-JVM cost and read as 3-5× regressions on
    // unchanged code (BASELINE.md round-6 table). Subset queries warm
    // first (same order as measurement) and the replay is budget-guarded:
    // on a machine slow enough to burn 1/3 of the budget warming up,
    // finishing the measured subset matters more than warm fairness for
    // the battery tail.
    val warmDir = sys.env.getOrElse("GRAFT_BENCH_WARMUP_SF", "/root/testdata/sf0.001")
    if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get(warmDir))) {
      val warmBudget = budgetSec / 3.0
      var warned = false
      order.foreach { name =>
        if (elapsed() < warmBudget) {
          try SparkEntry.queries(name)(spark, warmDir)
            .write.format("noop").mode("overwrite").save()
          catch { case e: Throwable =>
            // a query that fails only at the warm-up SF reverts to being
            // measured cold — make that visible instead of silent
            System.err.println(s"[bench] warm-up MISSED for $name: ${e.getMessage}")
          }
          finally ModelCache.releaseTransient(spark)
        } else if (!warned) {
          warned = true
          System.err.println(
            f"[bench] warm-up stopped at $name after ${elapsed()}%.0f s (1/3 of budget) — remaining queries measured cold")
        }
      }
    }

    var budgetHit = false
    order.zipWithIndex.foreach { case (name, i) =>
      if (!budgetHit && elapsed() > budgetSec) {
        budgetHit = true
        System.err.println(
          f"[bench] wall budget $budgetSec%.0f s exhausted after ${elapsed()}%.0f s — remaining queries marked not_run")
      }
      if (!budgetHit) {
        val fn = SparkEntry.queries(name)
        val q0 = System.nanoTime()
        // noop-format write: executes the DECLARED plan — count() would
        // let Catalyst drop the final sort and all projections,
        // under-measuring order-by and expression-heavy queries
        val st =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); Ok((System.nanoTime() - q0) / 1e9) }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            Failed
          }
        states(name) = st
        // storage hygiene between measured queries (outside the timed
        // region): drop every non-shielded checkpointed block — 67 eager
        // checkpoint sites × 262 queries otherwise accumulate pinned
        // block sets that degrade the battery tail (r12: t78 67 s
        // in-battery vs 5.5 s solo, same code)
        ModelCache.releaseTransient(spark)
        writeBench(partial = true)
      }
      // the 2× acceptance bar is defined over the subset: its metric line
      // prints the INSTANT the subset completes, so a later kill cannot
      // void the round's headline number
      if (i == BaselineSubset.size - 1) println(stdoutLine(partial = true))
    }

    // budget exhaustion leaves queries unmeasured: the artifact stays
    // marked partial so a reader never mistakes it for a full battery
    writeBench(partial = budgetHit)
    // stdout line: summary + the BASELINE.md 35-query subset at 3 dp —
    // ~1.2 KB, inside the driver's ~2 KB tail capture, so BENCH_r{N}
    // parses (r10/r11 printed the full map and lost the parse)
    println(stdoutLine(partial = budgetHit))
    finalPrinted.set(true)
    Runtime.getRuntime.removeShutdownHook(hook)
    ModelCache.releaseAll(spark)
    if (stopSession) spark.stop()
  }
}
