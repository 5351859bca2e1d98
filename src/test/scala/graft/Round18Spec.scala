package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
import org.scalatest.funsuite.AnyFunSuite

/** Round-18 contracts (VERDICT r17 items 1/4/5/6 + ADVICE r17, pinned).
  *
  *  - '''Bench survives a budget exhaustion / kill.''' `bench.json` is
  *    rewritten per query and a zero-budget run still emits a parseable
  *    artifact with every query under `"not_run"` — distinct from
  *    `"failed"` (the r17 driver kill conflated the two and voided the
  *    round's bench record).
  *  - '''Graph node-sized broadcasts are size-conditional.''' The forced
  *    hints on q63/q115/q116's rank/score/alive frames become plain joins
  *    above `spark.graft.graph.broadcastLimit` — at 10⁹ nodes a forced
  *    broadcast is a driver OOM, not a slowdown. Pinned: hinted below the
  *    limit, unhinted above it, rows identical either way.
  *  - '''q11b's HLL accuracy bound is oracle-checkable''' — the flags the
  *    DuckDB mirror asserts as constant-1 really are 1.
  *  - '''Checkpoint run dirs are keyed by the QUALIFIED base''': `/x` and
  *    `file:///x` share one `graft-<uuid>` run dir (the r17 fix compared
  *    qualified paths but still keyed the cache by raw spelling).
  *  - '''Kafka sink one-topic check runs on the raw segment''': `out,,`
  *    must fail, not normalize into acceptance (ADVICE r17).
  */
class Round18Spec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.builder("local[4]", 4).getOrCreate()
  private val dir = "/root/testdata/sf0.001"

  /** Joins in the optimized plan carrying an explicit strategy hint on
    * either side — the forced-broadcast count. */
  private def hintedJoins(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect {
      case j: LJoin if j.hint.leftHint.exists(_.strategy.isDefined) ||
        j.hint.rightHint.exists(_.strategy.isDefined) => j
    }.size

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  test("graph node broadcasts drop above spark.graft.graph.broadcastLimit, rows unchanged") {
    // Since the r18 iteration-state checkpoints, q63/q115's per-round
    // nodeBroadcast hints execute inside the loop's checkpoint jobs and
    // the FINAL frame no longer exposes them — the observable hint-shed
    // assertion rides q116 (its final report still contains the
    // removed-set nodeBroadcast) and t96 (its TextRank rounds are not
    // checkpointed, so the final frame carries every round's state
    // broadcast); rows-identity under both strategies is pinned for all.
    for (q <- Seq("q63_pagerank", "q115_hits", "q116_kcore", "t96_textrank")) {
      val fn = SparkEntry.queries(q)
      spark.conf.unset("spark.graft.graph.broadcastLimit")
      val below = fn(spark, dir)
      val hintsBelow = hintedJoins(below)
      val rowsBelow = rows(below)
      spark.conf.set("spark.graft.graph.broadcastLimit", "1")
      try {
        val above = fn(spark, dir)
        if (q == "q116_kcore" || q == "t96_textrank")
          assert(hintedJoins(above) < hintsBelow,
            s"$q: limit=1 must shed node-frame broadcast hints " +
              s"(below=$hintsBelow, above=${hintedJoins(above)})")
        assert(rows(above) == rowsBelow, s"$q: rows must not depend on the join strategy")
      } finally spark.conf.unset("spark.graft.graph.broadcastLimit")
    }
  }

  test("q11b emits oracle-checkable accuracy flags (all 1 on testdata)") {
    val df = SparkEntry.queries("q11b_approx_distinct")(spark, dir)
    assert(df.columns.toSeq == Seq("l_returnflag", "n_orders_exact",
      "n_parts_exact", "orders_within_15pct", "parts_within_15pct"))
    val flags = df.selectExpr("min(orders_within_15pct)", "min(parts_within_15pct)").first()
    assert(flags.getLong(0) == 1L && flags.getLong(1) == 1L,
      "HLL estimates must sit within the 3σ bound the oracle asserts")
    assert(SparkEntry.oracleSql.contains("q11b_approx_distinct"),
      "q11b must ride the hash-grade oracle gate, not rows-only")
  }

  test("raw and file:// spellings of one checkpoint base share one run dir") {
    val base = java.nio.file.Files.createTempDirectory("graft_r18_spell").toString
    try {
      spark.conf.set("spark.graft.checkpointDir", base)
      SparkEntry.queries("q152_label_propagation")(spark, dir).count()
      spark.conf.set("spark.graft.checkpointDir", s"file://$base")
      SparkEntry.queries("t98_bpe_budget_train")(spark, dir).count()
      val runs = Option(new java.io.File(base).listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("graft-"))
      assert(runs.length == 1,
        s"two spellings of $base must share one run dir, got ${runs.length}")
    } finally spark.conf.unset("spark.graft.checkpointDir")
  }

  test("kafka sink rejects malformed raw topic segments") {
    val c = graft.jobs.JobConfig()
    assert(c.kafkaSinkParts("kafka://h:9092/out") == ("h:9092", "out"))
    intercept[IllegalArgumentException] { c.kafkaSinkParts("kafka://h:9092/out,,") }
    intercept[IllegalArgumentException] { c.kafkaSinkParts("kafka://h:9092/a,b") }
    intercept[IllegalArgumentException] { c.kafkaSinkParts("kafka://h:9092/ ") }
  }

  test("zero-budget Bench run leaves a parseable artifact with all queries not_run") {
    val out = java.nio.file.Files.createTempFile("graft_r18_bench", ".json")
    sys.props("graft.bench.budget") = "0"
    sys.props("graft.bench.out") = out.toString
    try {
      Bench.run(stopSession = false)
      val line = java.nio.file.Files.readString(out).trim
      // parse with the engine itself — malformed JSON → corrupt_record
      import spark.implicits._
      val parsed = spark.read.json(Seq(line).toDS)
      assert(!parsed.columns.contains("_corrupt_record"), s"artifact must parse: $line")
      val row = parsed.selectExpr("n_run", "n_queries",
        "size(not_run)", "size(failed)", "partial").first()
      assert(row.getLong(0) == 0L, "zero budget must run zero queries")
      assert(row.getLong(1) == SparkEntry.queries.size)
      assert(row.getInt(2) == SparkEntry.queries.size, "every query listed not_run")
      assert(row.getInt(3) == 0, "kill-victims must not read as failures")
      assert(row.getBoolean(4), "budget-exhausted artifact is marked partial")
    } finally {
      sys.props -= "graft.bench.budget"
      sys.props -= "graft.bench.out"
      java.nio.file.Files.deleteIfExists(out)
    }
  }
}
