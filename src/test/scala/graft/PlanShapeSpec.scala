package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Similarity, TextOps}

/** Plan-level pins for the scale claims the round-6 operators' doc
  * comments make. These are the properties a 100 TB run depends on and a
  * refactor could silently lose while every value-level gate stays
  * green — so they are asserted against the optimized/physical plan,
  * the same discipline as StorageSpec's pruning/bucketing pins.
  */
class PlanShapeSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.builder("local[4]", 4).getOrCreate()
  val dir = "/root/testdata/sf0.001"

  private def optimized(df: DataFrame): String =
    df.queryExecution.optimizedPlan.toString

  private def physical(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Hash-partitioned shuffles in the (pre-execution) physical plan —
    * range exchanges from a final ORDER BY are excluded on purpose.
    */
  private def hashExchanges(df: DataFrame): Int = {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val root = df.queryExecution.executedPlan
    val plan = root match { case a: AdaptiveSparkPlanExec => a.executedPlan; case p => p }
    plan.collect { case e: ShuffleExchangeExec
      if e.outputPartitioning.isInstanceOf[HashPartitioning] => e }.size
  }

  test("d41 shingle self-join plans ShuffledHashJoin — its measured per-site hint") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
    val root = Dedup.d41NgramJaccard(spark, dir).queryExecution.executedPlan
    val plan = root match { case a: AdaptiveSparkPlanExec => a.executedPlan; case p => p }
    val shj = plan.collect { case j: ShuffledHashJoinExec => j }
    assert(shj.exists(_.leftKeys.exists(_.references.exists(_.name == "k"))),
      s"d41's shingle-hash self-join must plan ShuffledHashJoin:\n$plan")
  }

  test("d42/d43 band self-joins carry no strategy hint — AQE picks") {
    import org.apache.spark.sql.catalyst.plans.Inner
    import org.apache.spark.sql.catalyst.plans.logical.Join
    for ((name, df) <- Seq("d42" -> Dedup.d42MinhashLsh(spark, dir),
                           "d43" -> Dedup.d43Simhash(spark, dir))) {
      // the inner join on `band` (BucketGuard's hinted anti-join is not)
      val bandJoins = df.queryExecution.optimizedPlan.collect {
        case j: Join if j.joinType == Inner &&
          j.condition.exists(_.references.exists(_.name == "band")) => j
      }
      assert(bandJoins.nonEmpty, s"$name: expected a band self-join")
      val hinted = bandJoins.filter(j => j.hint.leftHint.exists(_.strategy.isDefined) ||
        j.hint.rightHint.exists(_.strategy.isDefined))
      assert(hinted.isEmpty, s"$name: band self-join must be unhinted:\n${hinted.mkString("\n")}")
    }
  }

  test("t57 prefix sum windows by source — never a single-task global sort") {
    val plan = optimized(TextOps.t57SequencePack(spark, dir))
    assert(plan.contains("windowspecdefinition(source"),
      s"packing window must partition by source:\n$plan")
  }

  test("d47 election shuffles the md5 hash, not the chunk text") {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, ConcatWs}
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.WindowExec
    // Structural pin (ADVICE r06): the earlier string match on
    // "windowspecdefinition(h#" depended on the column being literally
    // named `h` and on Catalyst's attr-format — and never checked the
    // chunk text was absent from the exchange keys.
    val root = Dedup.d47ChunkDedup(spark, dir).queryExecution.executedPlan
    val plan = root match { case a: AdaptiveSparkPlanExec => a.executedPlan; case p => p }
    val windows = plan.collect { case w: WindowExec => w }
    assert(windows.nonEmpty, s"expected a keeper-election window in:\n$plan")
    val winKeys = windows.flatMap(_.partitionSpec)
    assert(winKeys.nonEmpty && winKeys.forall(_.isInstanceOf[AttributeReference]),
      s"election must partition on a materialized (hash) column, not an inline expression:\n$plan")
    val hashKeys = plan.collect { case e: ShuffleExchangeExec => e }
      .flatMap(_.outputPartitioning match {
        case h: HashPartitioning => h.expressions
        case _                   => Seq.empty
      })
    // the chunk text (a variable-width concat of token slices) must never
    // be a shuffle key — only its fixed-width md5 may move
    assert(hashKeys.forall(k => k.collectFirst { case c: ConcatWs => c }.isEmpty),
      s"a shuffle key embeds the chunk-text construction:\n$plan")
    val winIds = winKeys.collect { case a: AttributeReference => a.exprId }.toSet
    assert(hashKeys.exists {
      case a: AttributeReference => winIds.contains(a.exprId)
      case _                     => false
    }, s"no exchange co-partitions the election key:\n$plan")
  }

  test("rank slices: both consumers reuse ONE range exchange per rank site (boundary determinism)") {
    // rankByRange/rankQuantiles consume the sliced frame twice (offset
    // side table + ranked output); boundary sampling is per physical
    // exchange, so ranks are only exact because the two branches
    // canonicalize to the SAME exchange and AQE's stage cache dedupes
    // them. Execute each plan and assert every rank site resolved to a
    // reused stage — if a refactor or Spark upgrade ever breaks the
    // canonical match, this fails loudly instead of corrupting ranks
    // silently at scale (ADVICE r10; the checkpoint alternative was
    // measured at +30-90% per rank-path query and rejected).
    val frames = Seq(
      ("q83", graft.operators.Relational.q83DecileReport(spark, dir), 1),
      ("q94", graft.operators.Audits.q94Gini(spark, dir), 1),
      ("t73", graft.operators.Sampling.t73ShuffleShard(spark, dir), 1),
      ("q19", graft.operators.Relational.q19Percentiles(spark, dir), 2),
      // prefixSumByRange consumers (ECDF/rank-sum cumulatives) ride the
      // same slice frame twice — same boundary-determinism dependency
      ("q91", graft.operators.Audits.q91KsTest(spark, dir), 1),
      ("q99", graft.operators.Audits.q99MannWhitney(spark, dir), 1),
      // the r11 temporal batch: q103/q104 were REBUILT around this
      // invariant (their first drafts carried non-measure columns
      // through the slice frame — the projections diverged, the two
      // range exchanges sampled different boundaries, and the rank
      // sums corrupted exactly as ADVICE r10 predicted; caught at
      // sf0.01 by the oracle gate). Prefix inputs are now exactly
      // (keys, measure inputs) with the risk/cell columns joined back
      // by key — these pins keep it that way.
      ("q103", graft.operators.Audits.q103KruskalWallis(spark, dir), 1),
      ("q104", graft.operators.Temporal.q104KaplanMeier(spark, dir), 2),
      ("q106", graft.operators.Temporal.q106PsiDrift(spark, dir), 1),
      // round-12 prefix/rank users: q113's four rank maps, q117's
      // histogram prefix pair, c86's stacked-lane quantiles
      ("q113", graft.operators.Audits.q113Spearman(spark, dir), 4),
      ("q117", graft.operators.Audits.q117GiniSplit(spark, dir), 1),
      ("c86", graft.operators.Storage.c86ColumnStats(spark, dir), 1),
      // the ECDF-drift / survival / AP additions all ride the same
      // slice machinery: prefix inputs stay exactly (keys, measures).
      // q128 is pinned separately below — its prefix frame is
      // localCheckpoint'd (THREE consumers: totals, successor table,
      // main join), so there is no live range exchange to reuse.
      ("q129", graft.operators.Audits.q129CramerVonMises(spark, dir), 1),
      ("q130", graft.operators.Temporal.q130LogRank(spark, dir), 1),
      ("t88", graft.operators.TextOps.t88AveragePrecision(spark, dir), 1),
      // round-13 sweep: every remaining rankByRange/prefixSumByRange
      // user rides the same boundary-determinism dependency — the
      // memory-bank invariant says every prefix user gets a pin
      ("q119", graft.operators.Audits.q119Levene(spark, dir), 1),
      ("q120", graft.operators.Temporal.q120Acf(spark, dir), 1),
      ("q121", graft.operators.Temporal.q121TheilSen(spark, dir), 1),
      ("q126", graft.operators.Temporal.q126PageHinkley(spark, dir), 1),
      // q127 is NOT a slice user: its tau-b rides a checkpointed cell
      // frame (no range exchange), so it has nothing to reuse
      ("t85", graft.operators.TextOps.t85Calibration(spark, dir), 1),
      ("t86", graft.operators.TextOps.t86RocAuc(spark, dir), 1),
      ("t87", graft.operators.TextOps.t87GateAgreement(spark, dir), 1),
      ("t78", graft.operators.TextOps.t78PerplexityBuckets(spark, dir), 1),
      // round-13 additions: AD completes the drift quartet on the q91
      // grid; q143's Cliff side rides one prefix pass (c_a joins back
      // by key — the t86 discipline)
      ("q141", graft.operators.Audits.q141AndersonDarling(spark, dir), 1),
      ("q143", graft.operators.Audits.q143EffectSizes(spark, dir), 1),
      // q148's pooled-median prefix runs keyless (one global group) —
      // same slice machinery, same reuse dependency
      ("q148", graft.operators.Audits.q148MoodMedian(spark, dir), 1))
    for ((name, df, sites) <- frames) {
      df.collect() // reuse is decided during adaptive execution
      val plan = df.queryExecution.executedPlan.toString
      val reused = plan.linesIterator.count(l =>
        l.contains("ReusedQueryStage") || l.contains("ReusedExchange"))
      assert(reused >= sites,
        s"$name: expected >= $sites reused exchange(s) for its rank site(s), got $reused:\n$plan")
    }
    // q128's boundary determinism is by MATERIALIZATION, not reuse: the
    // prefix frame has three consumers (totals, rnk+1 successor table,
    // main join), so it is localCheckpoint'd once and every consumer
    // reads the same frozen ranks. Pin that form: the executed plan
    // must scan the checkpointed RDD and must NOT range-partition the
    // slice frame again downstream of it.
    // t78's rank input is the frozen KN model frame (ModelCache memo →
    // eager localCheckpoint): the executed plan must read it as an
    // ExistingRDD scan — the corpus-sized bigram/model chain can never
    // re-execute per slice consumer (VERDICT r12 item 1).
    val t78 = graft.operators.TextOps.t78PerplexityBuckets(spark, dir)
    t78.collect()
    assert(t78.queryExecution.executedPlan.toString.contains("Scan ExistingRDD"),
      "t78: expected the memoized KN score frame (Scan ExistingRDD) in the executed plan")
    val w = graft.operators.Audits.q128Wasserstein(spark, dir)
    w.collect()
    val wPlan = w.queryExecution.executedPlan.toString
    assert(wPlan.contains("Scan ExistingRDD"),
      s"q128: expected the localCheckpoint'd prefix frame (Scan ExistingRDD) in:\n$wPlan")
    // toString prints Final AND Initial plans — pin the final one only
    val finalSection = wPlan.split("== Initial Plan ==")(0)
    val rangeExchanges = finalSection.linesIterator.count(_.contains("Exchange rangepartitioning"))
    assert(rangeExchanges <= 1, // only the final ORDER BY may range-partition
      s"q128: prefix slices must come from the checkpoint, not a re-sort; got $rangeExchanges range exchanges:\n$wPlan")
  }

  test("d58 election is a combinable aggregate; span merge windows per doc — text never moves") {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, ConcatWs}
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.WindowExec
    val root = Dedup.d58SubstringSpans(spark, dir).queryExecution.executedPlan
    val plan = root match { case a: AdaptiveSparkPlanExec => a.executedPlan; case p => p }
    val windows = plan.collect { case w: WindowExec => w }
    assert(windows.nonEmpty, s"expected the per-doc island windows in:\n$plan")
    // the skew guard: NO window may partition by the window hash — the
    // election is the map-side-combined min-aggregate, so a hot
    // boilerplate hash partial-aggregates instead of serializing every
    // occurrence into one window reducer; only the bounded per-doc
    // island passes may window
    assert(windows.flatMap(_.partitionSpec).forall {
        case a: AttributeReference => a.name == "doc_id"
        case _                     => false
      },
      s"only per-doc windows allowed (election must stay an aggregate):\n$plan")
    // the d47 discipline: no shuffle key may embed the window-text
    // construction — only the fixed-width md5 (and ids) move
    val hashKeys = plan.collect { case e: ShuffleExchangeExec => e }
      .flatMap(_.outputPartitioning match {
        case h: HashPartitioning => h.expressions
        case _                   => Seq.empty
      })
    assert(hashKeys.nonEmpty &&
      hashKeys.forall(k => k.collectFirst { case c: ConcatWs => c }.isEmpty),
      s"a shuffle key embeds the window-text construction:\n$plan")
  }

  test("t80 first occurrences elect via aggregate — windows only on slices/offset tables") {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    def windowsOf(df: org.apache.spark.sql.DataFrame) = {
      val root = df.queryExecution.executedPlan
      val plan = root match { case a: AdaptiveSparkPlanExec => a.executedPlan; case p => p }
      plan.collect { case w: WindowExec => w }
    }
    // r18: the prefix sum runs over the NARROW (doc_id, n_toks) frame
    // behind a checkpoint, so the query's FINAL plan must carry NO
    // window at all — the token arrays and the vocabulary election
    // never ride a window reducer
    assert(windowsOf(TextOps.t80HeapsLaw(spark, dir)).isEmpty,
      "t80's final plan must be window-free (election is a min-aggregate; " +
        "prefix sums live behind the narrow checkpoint)")
    // the prefix-sum helper itself still windows only on the slice id
    // (__pid) / the bounded offset side table — never a data key
    import org.apache.spark.sql.functions._
    val narrow = Tables.documents(spark, dir)
      .select(col("doc_id"), length(col("text")).cast("long").as("n_toks"))
    val pre = graft.operators.Relational.prefixSumByRange(narrow, Seq.empty, Seq(col("doc_id")),
      Seq("cum" -> col("n_toks")))
    val windows = windowsOf(pre)
    assert(windows.nonEmpty, "expected the prefix-sum slice windows")
    assert(windows.forall(_.partitionSpec.forall {
        case a: AttributeReference => a.name == "__pid"
        case _                     => false
      }),
      s"unexpected window partitioning")
  }

  test("d49 probes the benchmark set via broadcast — no corpus-vs-benchmark shuffle join") {
    val plan = physical(Dedup.d49Decontaminate(spark, dir))
    assert(plan.contains("BroadcastHashJoin"),
      s"benchmark window set must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the corpus must not shuffle against the benchmark:\n$plan")
  }

  test("q49 PQ joins are broadcast-only (codebook and distance tables)") {
    val plan = physical(Similarity.q49AnnPq(spark, dir))
    assert(plan.contains("BroadcastHashJoin"),
      s"codebook/dtab must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"PQ scoring must not shuffle the corpus against the tables:\n$plan")
  }

  test("q56 joins the part dimension by broadcast — no fact-side shuffle join") {
    val plan = physical(graft.operators.Relational.q56Regression(spark, dir))
    assert(plan.contains("BroadcastHashJoin"),
      s"part must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"lineitem must not shuffle against the part dimension:\n$plan")
  }

  test("q59 plans ONE hash exchange shared by lag, lead and row_number") {
    val n = hashExchanges(graft.operators.Relational.q59Scd2(spark, dir))
    assert(n == 1, s"SCD2 windows must share a single customer-key exchange, got $n")
  }

  test("q60 plans ONE hash exchange for both the asc and desc windows") {
    val n = hashExchanges(graft.operators.EventWindows.q60OhlcBars(spark, dir))
    assert(n == 1, s"OHLC windows + aggregate must share one (type, day) exchange, got $n")
  }

  test("q61 plans two hash exchanges: user window reused by the user fold, then path fold") {
    val n = hashExchanges(graft.operators.EventWindows.q61PathMining(spark, dir))
    assert(n == 2, s"rank+collect must reuse the user_id exchange; path count adds one, got $n")
  }

  test("c73 fuses row-level checks: lineitem scanned 3x (row/unique/fk), events once") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val root = graft.operators.Curation.c73QualityAudit(spark, dir).queryExecution.executedPlan
    val plan = root match { case a: AdaptiveSparkPlanExec => a.executedPlan; case p => p }
    def scansOf(table: String): Int = plan.collect {
      case f: FileSourceScanExec
        if f.relation.location.rootPaths.exists(_.toString.contains(table)) => f
    }.size
    assert(scansOf("lineitem.parquet") == 3,
      s"two row-level lineitem checks must share ONE scan (plus unique + fk passes):\n$plan")
    assert(scansOf("events.parquet") == 1,
      s"three row-level events checks must share ONE scan:\n$plan")
  }

  test("q64 plans ONE hash exchange: frame sums and fence share the type window") {
    val n = hashExchanges(graft.operators.EventWindows.q64RollingAnomaly(spark, dir))
    assert(n == 1, s"rolling fence must reuse the single event_type exchange, got $n")
  }

  test("q65 plans ONE hash exchange: all 16 EWMA taps share the type window") {
    val n = hashExchanges(graft.operators.EventWindows.q65Ewma(spark, dir))
    assert(n == 1, s"16 lag taps must fuse into one event_type window pass, got $n")
  }

  test("q64/q65 plan exactly ONE Window node — no stacked re-sorting window passes") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    def windows(df: DataFrame): Int = {
      val plan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan; case p => p
      }
      plan.collect { case w: WindowExec => w }.size
    }
    // a computed sort key (unix_micros(ts) un-materialized) or per-tap
    // withColumns would stack one Window+Sort PER aggregate — measured
    // 7.0 s vs 1.1 s on q65 at sf0.1
    assert(windows(graft.operators.EventWindows.q65Ewma(spark, dir)) == 1)
    assert(windows(graft.operators.EventWindows.q64RollingAnomaly(spark, dir)) == 1)
  }

  test("q79 is ONE map-side-combined hash aggregate — a single exchange") {
    val n = hashExchanges(graft.operators.Relational.q79Moments(spark, dir))
    assert(n == 1, s"power sums must ride one partial+final aggregate, got $n")
  }

  test("q81 plans two hash exchanges: daily collapse, then the type windows") {
    // windows (prefix scan, totals, argmax pick) all partition by
    // event_type — they must share the post-aggregate exchange, never add
    // a third (a per-split rescan shape would)
    val n = hashExchanges(graft.operators.EventWindows.q81Changepoint(spark, dir))
    assert(n == 2, s"changepoint scan must reuse the event_type exchange, got $n")
  }

  test("q86 skyline plans NO join at all — dominance rides two window frames") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val root = graft.operators.Relational.q86Skyline(spark, dir)
      .queryExecution.executedPlan
    val plan = root match { case a: AdaptiveSparkPlanExec => a.executedPlan; case p => p }
    assert(plan.collect { case j: BaseJoinExec => j }.isEmpty,
      s"the NOT-EXISTS shape must be rewritten to window frames:\n$plan")
    val n = hashExchanges(graft.operators.Relational.q86Skyline(spark, dir))
    assert(n == 1, s"both dominance frames must share the brand exchange, got $n")
  }

  test("q85 RANGE frames share one customer exchange") {
    val n = hashExchanges(graft.operators.Relational.q85RangeFrame(spark, dir))
    assert(n == 1, s"count+sum value frames must ride one o_custkey exchange, got $n")
  }

  test("q84 fan-out feeds ONE bounded-state aggregate exchange") {
    // the sliding-window sketch must stay (fan-out → partial agg →
    // final agg): a per-window sort/rank plan would defeat the O(k)
    // state claim
    val df = graft.operators.EventWindows.q84WindowedKmv(spark, dir)
    val n = hashExchanges(df)
    assert(n == 1, s"windowed kmv must plan one aggregate exchange, got $n")
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan; case p => p
    }
    assert(plan.collect { case w: WindowExec => w }.isEmpty,
      s"no rank window may appear in the sketch path:\n$plan")
  }

  test("q88 broadcasts the eval side — the train corpus is never shuffle-joined") {
    val plan = physical(graft.operators.Similarity.q88KnnClassify(spark, dir))
    assert(!plan.contains("SortMergeJoin"),
      s"kNN scoring must scan the train corpus against a broadcast eval set:\n$plan")
    assert(plan.contains("Broadcast"), s"eval queries must broadcast:\n$plan")
  }

  test("q89 pairs come from the bucketed equi-join — never a cartesian") {
    val plan = physical(graft.operators.EventWindows.q89TimeToConvert(spark, dir))
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"),
      s"attribution pairs must ride the (user, bucket) equi-join:\n$plan")
  }

  test("q82 adjacency joins broadcast — corner counting never plans a cartesian") {
    val plan = physical(graft.operators.Graph.q82ClusteringCoeff(spark, dir))
    assert(plan.contains("BroadcastHashJoin"),
      s"sorted adjacency must broadcast onto the edge set:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"),
      s"per-node triangles must come from the oriented intersection:\n$plan")
  }

  test("d59 scores via broadcast model join and selects via top-K — no global sort, no shuffle join") {
    val plan = physical(graft.operators.Sampling.d59DsirSelect(spark, dir))
    assert(plan.contains("BroadcastHashJoin"),
      s"the B-row log-ratio model must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"per-doc counts must not shuffle against the model:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-K must be TakeOrdered, never a full corpus sort:\n$plan")
  }

  test("c81 pair counting rides per-hash source sets — no corpus self-join, sizes broadcast") {
    val plan = physical(graft.operators.Curation.c81SourceOverlap(spark, dir))
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"the shingle inventory must never self-join by shuffle:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the |sources|-row size table must broadcast:\n$plan")
    assert(plan.contains("collect_set"),
      s"pair fan-out must come from the bounded per-hash source set:\n$plan")
  }

  test("q95 is ONE hash exchange on the QI key — risk folding rides the bounded group frame") {
    val n = hashExchanges(graft.operators.Audits.q95KAnonymity(spark, dir))
    assert(n == 1, s"expected a single QI-key exchange, got $n")
  }

  test("q83/q94 ranks ride range-partitioned slices — no corpus-sized single-partition window") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.window.WindowExec
    val frames = Seq(
      "q83" -> graft.operators.Relational.q83DecileReport(spark, dir),
      "q94" -> graft.operators.Audits.q94Gini(spark, dir),
      "t73" -> graft.operators.Sampling.t73ShuffleShard(spark, dir),
      "t74" -> graft.operators.Sampling.t74ShardManifest(spark, dir),
      "t78" -> graft.operators.TextOps.t78PerplexityBuckets(spark, dir))
    for ((name, df) <- frames) {
      val plan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan; case p => p
      }
      assert(!plan.toString.contains("ntile("),
        s"$name: the unpartitioned ntile must be gone (VERDICT r09 #1):\n$plan")
      val windows = plan.collect { case w: WindowExec => w }
      assert(windows.nonEmpty, s"$name: rank machinery expected in:\n$plan")
      // every window is bounded: either its partition spec carries the
      // slice id (__pid — a slice-local sort), or its subtree aggregates
      // by __pid first (the parts-sized offset/report frame); a window
      // straight over the customer frame satisfies neither
      for (w <- windows) {
        val slicePartitioned = w.partitionSpec.exists(_.references.exists(
          _.name.startsWith("__pid")))
        val overSliceAgg = w.child.collect { case h: BaseAggregateExec
          if h.groupingExpressions.exists(_.name.startsWith("__pid")) => h
        }.nonEmpty
        assert(slicePartitioned || overSliceAgg,
          s"$name: window must be slice-local or ride the bounded slice frame:\n$plan")
      }
    }
  }

  test("d65 candidates ride the probed-cell equi-join — never an all-pairs vector join") {
    val plan = physical(graft.operators.Similarity.d65MutualEdges(spark, dir))
    // the ONLY nested-loop join allowed is the broadcast centroid
    // assignment (vectors x O(sqrt n) cells); vector-vector pairing must
    // be the cid equi-join
    assert(!plan.contains("CartesianProduct"),
      s"topic candidates must come from the shared-cell equi-join:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"the centroid set must broadcast:\n$plan")
    assert(plan.contains("ShuffledHashJoin") || plan.contains("SortMergeJoin"),
      s"the candidate pairing must be a cid equi-join:\n$plan")
  }

  test("StreamNearDup's signature projection is narrow — zero exchanges before the state operator") {
    val n = hashExchanges(
      graft.operators.Dedup.streamBandedSignaturesFrom(Tables.documents(spark, dir)))
    assert(n == 0,
      s"the streaming band projection must be aggregation/shuffle-free, got $n exchanges")
  }

  test("t67 top-V vocabulary rides TakeOrderedAndProject — no vocab-scale single-partition window") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    val qe = TextOps.t67OovRate(spark, dir).queryExecution
    val plan = qe.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan; case p => p
    }
    // the full train vocabulary must be reduced to V rows via
    // per-partition top-V heaps (TakeOrderedAndProject), never sorted on
    // one partition by an unpartitioned row_number window (VERDICT r15
    // item 4: ~1e8 terms on one task at 100 TB)
    assert(plan.toString.contains("TakeOrderedAndProject"),
      s"t67 must plan the vocab top-V as TakeOrderedAndProject:\n$plan")
    assert(plan.collect { case w: WindowExec => w }.isEmpty,
      s"t67 must carry no window at all after the top-V rewrite:\n$plan")
  }

  test("c77/t60 hash each row once: no Filter evaluates md5_bits60/fast_md5") {
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    // an equi-join on a hashed column infers isnotnull(column), which
    // Catalyst pushes below the projection that computes the hash: the
    // Filter then hashes every row once more (both queries join
    // null-safely for that reason)
    for (q <- Seq("c77_source_datasheet", "t60_heavy_hitters")) {
      val plan = SparkEntry.queries(q)(spark, dir).queryExecution.optimizedPlan
      val hashing = plan.collect { case f: Filter => f.condition.sql }
        .filter(c => c.contains("md5_bits60") || c.contains("fast_md5"))
      assert(hashing.isEmpty, s"$q: a Filter re-evaluates a hash:\n${hashing.mkString("\n")}")
    }
  }
}
