package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import graft.{QueryDef, Tables}
import graft.operators.Checkpoints.GraftCheckpointOps

/** c70: the end-to-end corpus-curation pipeline a training-data job
  * actually runs over a raw crawl — composed entirely from the engine's
  * own operators, each stage verified separately elsewhere:
  *
  *   1. exact dedup: keeper election (min doc_id) per content hash
  *      ([[Dedup.d40ExactGroups]] semantics);
  *   2. near-dup removal: MinHash+LSH candidate pairs
  *      ([[Dedup.minhashNearDupPairsFrom]]) resolved to connected
  *      components ([[Dedup.connectedComponents]]); the keeper is the
  *      CLUSTER-global min doc_id, every other member is dropped —
  *      pairwise loser-dropping both over-deletes chains (it can drop all
  *      of B, C for A~B, B~C even though B is C's only link) and leaves
  *      no audit trail; the cluster_id makes the election explainable;
  *   3. quality gate: [[TextOps.qualityScoreExpr]] >= 0.6;
  *   4. language tag: [[TextOps.bestLangFold]] argmax.
  *
  * Every stage is md5/integer/decimal-deterministic, so the WHOLE
  * pipeline is DuckDB-expressible and hash-checked — the composition, not
  * just the stages, is verified.
  *
  * Scale shape (100 TB): stage 1 is one shuffle on the content hash;
  * stage 2 is the sub-quadratic band join (never all-pairs); the
  * anti-join against losers shuffles ids only; stages 3-4 are per-row
  * map work on the survivors. No stage broadcasts or collects the
  * corpus.
  */
object Curation {

  private val QualityFloor = 0.6

  def c70Curation(spark: SparkSession, dir: String): DataFrame =
    curateFrom(Tables.documents(spark, dir))

  /** The from-scratch pipeline over any (doc_id, text, ...) frame —
    * c70's body, reusable by the incremental-equivalence spec.
    */
  private[graft] def curateFrom(docs: DataFrame): DataFrame = {
    // stage 1: exact dedup with explicit min-doc_id keeper election
    val deduped = Dedup.dedupExact(
        docs.withColumn("__h", graft.functions.HashFns.fastMd5(col("text"))), Seq("__h"), col("doc_id"))
      .drop("__h")
    // stage 2: near-dup losers = every cluster member except the
    // cluster-global min (keeper); cluster_id comes from connected
    // components over the candidate pair list
    val losers = Dedup.connectedComponents(
        Dedup.minhashNearDupPairsFrom(deduped), "doc_a", "doc_b")
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id"))
    val survivors = deduped.join(losers, Seq("doc_id"), "left_anti")
    // stages 3-4: quality gate + language tag
    scoreDocs(survivors)
      .filter(col("quality_score") >= QualityFloor)
      .select(col("doc_id"), col("pred_lang"), col("quality_score"))
      .orderBy(col("doc_id"))
  }

  /** Stages 3-4 as a per-doc map: (doc_id, pred_lang, quality_score). */
  private def scoreDocs(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id") +: col("text") +:
        TextOps.langsSorted.map(TextOps.langScore): _*)
      .withColumn("quality_score", TextOps.qualityScoreExpr)
      .select(col("doc_id"),
        TextOps.bestLangFold(l => col(s"${l}_score")).as("pred_lang"),
        col("quality_score"))

  // -------------------------------------------------------------------
  // Incremental curation (VERDICT r04 item 7): a real pipeline runs c70
  // over ARRIVING data, not from scratch. State after each batch:
  //
  //   hashKeepers (content_hash, keeper_id) — exact-dedup memory;
  //   bands       (doc_id, sig, band, bucket) of every stage-1 survivor
  //               — INCLUDING near-dup losers: a future doc may link two
  //               existing clusters only through a loser, so dropping
  //               loser bands would break transitivity vs from-scratch;
  //   clusters    (doc_id, cluster_id) current near-dup components;
  //   scored      (doc_id, pred_lang, quality_score) per survivor.
  //
  // Batch step: exact-dedup the batch within itself and against
  // hashKeepers; band the newcomers once; new candidate pairs = band
  // join of (all bands) × (new bands) — with batch-monotone doc ids
  // every pair's larger side is new exactly when the pair is new, so
  // this is precisely the pair-set delta; then connected components
  // over (old cluster STAR edges ∪ new pairs) — star contraction
  // preserves connectivity, so labels equal a from-scratch CC over the
  // full accumulated pair list. Per-doc scores are computed once on
  // arrival. `curated` then reads pure state: anti-join losers, quality
  // gate — no corpus rescan.
  //
  // Equivalence contract (pinned by IncrementalCurationSpec): with
  // batch-monotone doc ids and the hot-bucket cap not binding,
  // curated(advance*(batches)) ≡ curateFrom(union of batches) exactly.
  // (Monotone ids make min-id elections prefix-stable; a binding
  // BucketGuard cap is corpus-order-dependent by design — at a planted
  // degenerate bucket the incremental run admits the first `cap`
  // arrivals rather than a global sample.)
  //
  // Scale shape: each advance touches O(|batch|) texts for
  // hashing/banding/scoring, joins |batch| bands against the band
  // store on (band, bucket) — the same sub-quadratic candidate
  // generation as d42 — and runs CC over star edges (|survivors|) plus
  // the pair delta, converging in O(log n) rounds on the DELTA's
  // cluster merges. State frames are localCheckpoint'd per advance so
  // lineage stays O(1) across batches; on a cluster point
  // spark.graft.checkpointDir at reliable storage and persist the
  // four frames as tables between runs.
  // -------------------------------------------------------------------

  /** Incremental pipeline state; see the design note above. */
  final case class CurationState(hashKeepers: DataFrame, bands: DataFrame,
                                 clusters: DataFrame, scored: DataFrame)

  def emptyState(spark: SparkSession): CurationState = {
    import org.apache.spark.sql.types._
    def empty(schema: StructType) =
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    CurationState(
      hashKeepers = empty(StructType(Seq(
        StructField("__h", StringType), StructField("keeper_id", LongType)))),
      bands = empty(StructType(Seq(
        StructField("doc_id", LongType),
        StructField("sig", ArrayType(LongType, containsNull = false)),
        StructField("band", IntegerType), StructField("bucket", StringType)))),
      clusters = empty(StructType(Seq(
        StructField("doc_id", LongType), StructField("cluster_id", LongType)))),
      scored = empty(StructType(Seq(
        StructField("doc_id", LongType), StructField("pred_lang", StringType),
        StructField("quality_score", DoubleType)))))
  }

  /** Folds one batch of (doc_id, text) into the state. Doc ids must be
    * batch-monotone (every id in this batch > every id seen before) —
    * the natural shape of an append-only ingest.
    */
  def advance(state: CurationState, newDocs: DataFrame,
              threshold: Double = 0.35): CurationState = {
    // stage 1: within-batch exact dedup, then drop content already keyed
    val inBatch = Dedup.dedupExact(
      newDocs.withColumn("__h", graft.functions.HashFns.fastMd5(col("text"))), Seq("__h"), col("doc_id"))
    val fresh = inBatch.join(state.hashKeepers.select("__h"), Seq("__h"), "left_anti")
    val hashKeepers = state.hashKeepers.unionByName(
      fresh.select(col("__h"), col("doc_id").as("keeper_id"))).graftCheckpoint(true)
    // band the newcomers once; pair delta = all-bands × new-bands
    val newBands = Dedup.bandedSignaturesFrom(fresh.drop("__h")).graftCheckpoint(true)
    val allBands = state.bands.unionByName(newBands)
    val newPairs = Dedup.pairsFromBandJoin(allBands, newBands, threshold)
    // CC over star edges of the existing clustering + the pair delta
    val starEdges = state.clusters
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as("doc_a"), col("cluster_id").as("doc_b"))
    val clusters = Dedup.connectedComponents(
      starEdges.unionByName(newPairs.select("doc_a", "doc_b")), "doc_a", "doc_b")
      .graftCheckpoint(true)
    val scored = state.scored.unionByName(scoreDocs(fresh)).graftCheckpoint(true)
    CurationState(hashKeepers, allBands.graftCheckpoint(true), clusters, scored)
  }

  /** The curated corpus for the current state — c70's output shape. */
  def curated(state: CurationState): DataFrame = {
    val losers = state.clusters
      .filter(col("doc_id") =!= col("cluster_id")).select("doc_id")
    state.scored
      .join(losers, Seq("doc_id"), "left_anti")
      .filter(col("quality_score") >= QualityFloor)
      .orderBy(col("doc_id"))
  }

  val c70CurationSql: String = {
    val scoreCols = TextOps.langsSorted
      .map(l => s"    ${TextOps.langScoreSql(l)} AS ${l}_score").mkString(",\n")
    s"""WITH keepers AS (
       |  SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
       |docs0 AS (
       |  SELECT d.doc_id, d.text FROM documents d
       |  JOIN keepers k ON d.doc_id = k.doc_id),
       |${Dedup.shingleCtesFrom("docs0")},
       |${Dedup.minhashPairCtes},
       |edges AS MATERIALIZED (
       |  SELECT doc_a AS a, doc_b AS b FROM nd_pairs
       |  UNION SELECT doc_b, doc_a FROM nd_pairs),
       |${graft.operators.CcSql.stages()},
       |losers AS (
       |  SELECT id AS doc_id FROM ${graft.operators.CcSql.labels()}
       |  WHERE l <> id),
       |survivors AS (
       |  SELECT s.doc_id, s.text FROM docs0 s
       |  WHERE s.doc_id NOT IN (SELECT doc_id FROM losers)),
       |scored AS (
       |  SELECT doc_id, text,
       |$scoreCols,
       |    ${TextOps.qualityScoreSqlExpr} AS quality_score
       |  FROM survivors)
       |SELECT doc_id, ${TextOps.bestLangFoldSql} AS pred_lang, quality_score
       |FROM scored
       |WHERE quality_score >= $QualityFloor
       |ORDER BY doc_id""".stripMargin
  }

  /** c71: the incremental pipeline as a declared, oracle-checked query —
    * folds the corpus in as two id-ordered batches through [[advance]]
    * and emits [[curated]] of the merged state. Its oracle is c70's SQL
    * VERBATIM: incremental ≡ from-scratch is the operator's contract,
    * so the driver's hash gate checks the equivalence cross-engine,
    * not just the Scala-vs-Scala spec.
    */
  def c71IncrementalCuration(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    curated(Increments.monotoneHalves(docs, "doc_id")
      .foldLeft(emptyState(spark))(advance(_, _)))
  }

  // -------------------------------------------------------------------
  // c72: corpus-prep capstone — the round-6 operators composed into the
  // pipeline a pretraining data run actually executes:
  //
  //   exact-dedup keepers (d40's election)
  //   ∩ repetition gate (t55)  ∩ boilerplate gate (t56)
  //   → survivors packed into fixed token-budget shards (t57, per
  //     source)
  //
  // Every stage is itself an oracle-checked query; c72 hash-checks the
  // COMPOSITION (like c70 does for the near-dup pipeline): the oracle
  // SQL nests the stage SQLs as subqueries, so a semantic drift in any
  // stage OR in the join/packing glue flips the hash. Packing runs over
  // survivors only — offsets differ from t57's whole-corpus run, which
  // is the point: the shard layout is a function of what survived.
  //
  // Scale: the gates are the cheap scan-shaped passes (t55 shuffle-free,
  // t56 two aggregates), dedup is one hash shuffle, packing windows per
  // source — no stage is heavier than its standalone form, and the
  // joins are id-equi-joins on per-doc frames.
  // -------------------------------------------------------------------
  def c72PrepPipeline(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.LongType
    val docs = Tables.documents(spark, dir)
    val keepers = Dedup.dedupExact(
        docs.withColumn("__h", graft.functions.HashFns.fastMd5(col("text"))), Seq("__h"), col("doc_id"))
      .select(col("doc_id"))
    // Materialize each gate frame ONCE behind a checkpoint before the
    // survivor join (the d55/d57 shared-frame idiom): composed bare,
    // Catalyst rewrites `filter(passes_gate)` into the metric arithmetic
    // and pushes it through the repartition exchange onto the SCAN's
    // partitioning — a single row group locally, so the per-doc n-gram
    // work serialized into one 30 s task at sf0.1 (BASELINE.md round-10
    // reconciliation). The checkpoint pins the compute to the gates' own
    // 32-way plans; downstream sees only (doc_id, flag) pairs. Lazy
    // (eager=false): no definition-time job, the gate runs with the
    // first consumer and its (doc_id, flag) blocks are reused after.
    // Tradeoff, both modes: localCheckpoint blocks are executor-local —
    // an executor loss fails the job instead of recomputing. At 100 TB
    // that trades re-running one job on rare node loss against every
    // consumer recomputing the gates' n-gram arithmetic per query; for
    // gate frames that are two orders smaller than the corpus, the
    // frozen-blocks side wins (ADVICE r10).
    val rep = TextOps.t55Metrics(spark, dir)
      .select(col("doc_id"), col("passes_gate")).graftCheckpoint(eager = false)
      .filter(col("passes_gate") === 1).select(col("doc_id"))
    val boi = TextOps.t56Metrics(spark, dir)
      .select(col("doc_id"), col("keep")).graftCheckpoint(eager = false)
      .filter(col("keep") === 1).select(col("doc_id"))
    val survivors = docs
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast(LongType).as("n_tokens"))
      .join(keepers, Seq("doc_id"))
      .join(rep, Seq("doc_id"))
      .join(boi, Seq("doc_id"))
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    survivors
      .withColumn("end_offset", sum(col("n_tokens")).over(w))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        (col("end_offset") - col("n_tokens")).as("start_offset"),
        expr(s"(end_offset - n_tokens) div ${TextOps.PackBudget}").as("shard"))
      .orderBy(col("doc_id"))
  }

  val c72PrepPipelineSql: String =
    s"""WITH rep AS (
       |  SELECT doc_id FROM (${TextOps.t55RepetitionSql}) t WHERE passes_gate = 1),
       |boi AS (
       |  SELECT doc_id FROM (${TextOps.t56BoilerplateSql}) t WHERE keep = 1),
       |keepers AS (
       |  SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
       |m AS (
       |  SELECT doc_id, source,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |surv AS (
       |  SELECT m.* FROM m
       |  JOIN keepers USING (doc_id)
       |  JOIN rep USING (doc_id)
       |  JOIN boi USING (doc_id)),
       |packed AS (
       |  SELECT doc_id, source, n_tokens,
       |    CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS end_offset
       |  FROM surv)
       |SELECT doc_id, source, n_tokens,
       |  end_offset - n_tokens AS start_offset,
       |  (end_offset - n_tokens) // ${TextOps.PackBudget} AS shard
       |FROM packed
       |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // c89: c72 as an incremental fold — the capstone proving the
  // per-operator incremental stories COMPOSE (VERDICT r14 item 2): a
  // new id-monotone batch flows through exact-dedup keepers ∩ the
  // t55/t56 gates → packing against persisted prior state, and the
  // folded shard layout equals the from-scratch c72 run exactly (the
  // oracle is c72's SQL verbatim over the union — the c74 trick at
  // pipeline scope). Stage-by-stage why the fold is exact:
  //
  //  - exact dedup: ids are batch-monotone, so the global min-id keeper
  //    per content hash is the first batch's in-batch winner — the
  //    accumulated hash set makes later re-occurrences losers, exactly
  //    as from-scratch (c71's stage-1 discipline);
  //  - t55 repetition gate: per-doc arithmetic, batch-local by nature;
  //  - t56 boilerplate gate: corpus-df-dependent, so the gram df list +
  //    the corpus-relative minDf are fit ONCE on the horizon corpus and
  //    FROZEN across advances (the d64 frozen-quantizer discipline
  //    applied to a text gate — a production pipeline re-fits on drift,
  //    which implies re-gating, exactly as a quantizer re-fit implies
  //    re-clustering);
  //  - packing: per-source running offsets; each source's base after an
  //    advance is final (later docs have larger ids, so they append),
  //    so new-batch offsets = frozen base + within-batch prefix sums.
  //
  // State between advances: the content-hash set and the packed rows
  // (both per-doc-bounded, orders smaller than the corpus text); the
  // frozen boiler model is the third persisted artifact.
  // -------------------------------------------------------------------

  /** c89's between-advance state: accumulated content hashes and the
    * accumulated packed output rows (per-source offset bases derive
    * from the latter — max end offset per source).
    */
  final case class PrepState(hashes: DataFrame, packed: DataFrame)

  def emptyPrepState(spark: SparkSession): PrepState = {
    import org.apache.spark.sql.types._
    def empty(schema: StructType) =
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    PrepState(
      hashes = empty(StructType(Seq(StructField("__h", StringType)))),
      packed = empty(StructType(Seq(
        StructField("doc_id", LongType), StructField("source", StringType),
        StructField("n_tokens", LongType), StructField("start_offset", LongType),
        StructField("shard", LongType)))))
  }

  /** Fold one id-monotone (doc_id, text, source) batch through the
    * dedup → gates → packing pipeline against the frozen `boiler` gram
    * model.
    */
  private[graft] def advancePrep(state: PrepState, batch: DataFrame,
                                 boiler: DataFrame): PrepState = {
    // stage 1: within-batch exact dedup, then drop content already seen.
    // (r18 note: an explicit repartition here to parallelize the gate
    // projections was measured and REJECTED — wall unchanged, total
    // executor CPU 3x, see OPTIMIZATION_r18.md; the 1-task gate stages
    // are an AQE small-data artifact that disappears at real batch
    // sizes, where partitions are sized by bytes.)
    val inBatch = Dedup.dedupExact(
      batch.withColumn("__h", graft.functions.HashFns.fastMd5(col("text"))), Seq("__h"), col("doc_id"))
    val fresh = inBatch.join(state.hashes, Seq("__h"), "left_anti")
    val hashes = Checkpoints.fresh(
      state.hashes.unionByName(fresh.select(col("__h"))), "__h")
    // stage 2: the per-doc gates — t55 batch-local, t56 vs frozen model
    val rep = TextOps.repetitionMetricsFrom(fresh.select(col("doc_id"), col("text")))
      .filter(col("passes_gate") === 1).select(col("doc_id"))
    val boi = TextOps.boilerMetricsFrom(fresh.select(col("doc_id"), col("text")), boiler)
      .filter(col("keep") === 1).select(col("doc_id"))
    val survivors = fresh
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast(LongType).as("n_tokens"))
      .join(rep, Seq("doc_id"))
      .join(boi, Seq("doc_id"))
    // stage 3: packing — frozen per-source base + within-batch prefix
    val bases = state.packed.groupBy(col("source"))
      .agg(max(col("start_offset") + col("n_tokens")).as("__base"))
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val newPacked = survivors
      .withColumn("__rel_end", sum(col("n_tokens")).over(w))
      .join(bases, Seq("source"), "left")
      .withColumn("end_offset", col("__rel_end") + coalesce(col("__base"), lit(0L)))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        (col("end_offset") - col("n_tokens")).as("start_offset"),
        expr(s"(end_offset - n_tokens) div ${TextOps.PackBudget}").as("shard"))
    PrepState(hashes, Checkpoints.fresh(state.packed.unionByName(newPacked),
      "doc_id", "source", "n_tokens", "start_offset", "shard"))
  }

  /** c89: fold the corpus as two id-monotone batches; oracle = c72's
    * SQL verbatim.
    */
  def c89IncrementalPrep(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // the frozen gate model, fit once on the horizon corpus
    val boiler = Checkpoints.fresh(
      TextOps.boilerModelFrom(docs, TextOps.boilerMinDf(spark, dir)), "gram", "df")
    Increments.monotoneHalves(docs, "doc_id")
      .foldLeft(emptyPrepState(spark))(advancePrep(_, _, boiler))
      .packed.orderBy(col("doc_id"))
  }

  // -------------------------------------------------------------------
  // c73: data-quality audit — the constraint-validation report a
  // production pipeline runs before (and after) every load: null rates,
  // range and domain violations, primary-key uniqueness, and referential
  // integrity, one row per named check. The Deequ-shaped surface, built
  // from the engine's own primitives.
  //
  // Scale discipline: the ROW-LEVEL checks on a table are fused into ONE
  // scan each — the aggregate computes every violation counter as a
  // sum(when(...)) in a single pass, then a generator (explode over an
  // array of check structs) fans the one result row out to per-check
  // rows; three row-level checks never cost three scans. Uniqueness is
  // one shuffle on the key; referential integrity is one left
  // join whose single pass carries both the orphan count and the child
  // row count (AQE picks broadcast vs shuffle by dimension size). Every counter is
  // an exact integer.
  //
  // The check set is deliberately non-vacuous on this corpus: the
  // composite-key check documents the synthetic lineitem's known
  // (l_orderkey, l_linenumber) duplicate groups (118k at sf0.1 —
  // SURVEY §8 round 4), and the value-range fence fires at sf≥0.01 —
  // so the report exercises both pass and fail paths at every gated SF.
  // -------------------------------------------------------------------
  def c73QualityAudit(spark: SparkSession, dir: String): DataFrame = {
    def chk(name: String, viol: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      struct(lit(name).as("check_name"), viol.cast("long").as("n_violations"))

    // one scan: all row-level lineitem checks
    val liRow = Tables.lineitem(spark, dir)
      .agg(
        sum(when(col("l_discount") < 0.0 || col("l_discount") > 0.1, 1L).otherwise(0L)).as("v_disc"),
        sum(when(col("l_quantity") <= 0.0, 1L).otherwise(0L)).as("v_qty"),
        count(lit(1)).as("n"))
      .select(explode(array(
        chk("lineitem.l_discount_range", col("v_disc")),
        chk("lineitem.l_quantity_positive", col("v_qty")))).as("c"), col("n"))

    // one scan: all row-level events checks
    val evRow = Tables.events(spark, dir)
      .agg(
        sum(when(col("value").isNull, 1L).otherwise(0L)).as("v_null"),
        sum(when(col("value") < 0.0 || col("value") > 400.0, 1L).otherwise(0L)).as("v_range"),
        sum(when(!col("event_type").isin("click", "view", "purchase", "signup", "error"), 1L)
          .otherwise(0L)).as("v_dom"),
        count(lit(1)).as("n"))
      .select(explode(array(
        chk("events.value_nonnull", col("v_null")),
        chk("events.value_range_0_400", col("v_range")),
        chk("events.event_type_domain", col("v_dom")))).as("c"), col("n"))

    // uniqueness: one shuffle on the key; the SAME grouped pass yields
    // both the violation count (extra rows per duplicated key) and the
    // table row count (sum of group sizes) — no second scan, no
    // driver-side count() action.
    def unique(df: DataFrame, name: String, keys: Seq[String]): DataFrame =
      df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("c"))
        .agg(coalesce(sum(when(col("c") > 1, col("c") - 1).otherwise(0L)), lit(0L)).as("v"),
          coalesce(sum(col("c")), lit(0L)).as("n"))
        .select(chk(name, col("v")).as("c"), col("n"))

    // referential integrity: one left join carries both the orphan count
    // (parent side null) and the child row count out of a single pass.
    def fk(child: DataFrame, childKey: String, parent: DataFrame, parentKey: String,
           name: String): DataFrame =
      child.select(col(childKey))
        .join(parent.select(col(parentKey)).distinct(), col(childKey) === col(parentKey),
          "left_outer")
        .agg(sum(when(col(parentKey).isNull, 1L).otherwise(0L)).as("v"),
          count(lit(1)).as("n"))
        .select(chk(name, col("v")).as("c"), col("n"))

    val orders = Tables.orders(spark, dir)
    val all = liRow
      .unionAll(evRow)
      .unionAll(unique(orders, "orders.o_orderkey_unique", Seq("o_orderkey")))
      .unionAll(unique(Tables.lineitem(spark, dir), "lineitem.pk_unique",
        Seq("l_orderkey", "l_linenumber")))
      .unionAll(fk(orders, "o_custkey", Tables.customer(spark, dir), "c_custkey",
        "orders.o_custkey_fk_customer"))
      .unionAll(fk(Tables.lineitem(spark, dir), "l_orderkey", orders, "o_orderkey",
        "lineitem.l_orderkey_fk_orders"))
    all.select(col("c.check_name").as("check_name"),
        col("c.n_violations").as("n_violations"),
        col("n").cast("long").as("n_rows"),
        when(col("c.n_violations") === 0L, 1L).otherwise(0L).as("passed"))
      .orderBy(col("check_name"))
  }

  val c73QualityAuditSql: String =
    """WITH checks AS (
      |  SELECT 'lineitem.l_discount_range' AS check_name,
      |    (SELECT COUNT(*) FROM lineitem WHERE l_discount < 0.0 OR l_discount > 0.1) AS n_violations,
      |    (SELECT COUNT(*) FROM lineitem) AS n_rows
      |  UNION ALL
      |  SELECT 'lineitem.l_quantity_positive',
      |    (SELECT COUNT(*) FROM lineitem WHERE l_quantity <= 0.0),
      |    (SELECT COUNT(*) FROM lineitem)
      |  UNION ALL
      |  SELECT 'events.value_nonnull',
      |    (SELECT COUNT(*) FROM events WHERE value IS NULL),
      |    (SELECT COUNT(*) FROM events)
      |  UNION ALL
      |  SELECT 'events.value_range_0_400',
      |    (SELECT COUNT(*) FROM events WHERE value < 0.0 OR value > 400.0),
      |    (SELECT COUNT(*) FROM events)
      |  UNION ALL
      |  SELECT 'events.event_type_domain',
      |    (SELECT COUNT(*) FROM events
      |     WHERE event_type NOT IN ('click','view','purchase','signup','error')),
      |    (SELECT COUNT(*) FROM events)
      |  UNION ALL
      |  SELECT 'orders.o_orderkey_unique',
      |    (SELECT COALESCE(SUM(c - 1), 0) FROM
      |      (SELECT COUNT(*) AS c FROM orders GROUP BY o_orderkey) t WHERE c > 1),
      |    (SELECT COUNT(*) FROM orders)
      |  UNION ALL
      |  SELECT 'lineitem.pk_unique',
      |    (SELECT COALESCE(SUM(c - 1), 0) FROM
      |      (SELECT COUNT(*) AS c FROM lineitem GROUP BY l_orderkey, l_linenumber) t
      |     WHERE c > 1),
      |    (SELECT COUNT(*) FROM lineitem)
      |  UNION ALL
      |  SELECT 'orders.o_custkey_fk_customer',
      |    (SELECT COUNT(*) FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
      |     WHERE c.c_custkey IS NULL),
      |    (SELECT COUNT(*) FROM orders)
      |  UNION ALL
      |  SELECT 'lineitem.l_orderkey_fk_orders',
      |    (SELECT COUNT(*) FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
      |     WHERE o.o_orderkey IS NULL),
      |    (SELECT COUNT(*) FROM lineitem))
      |SELECT check_name, CAST(n_violations AS BIGINT) AS n_violations,
      |  CAST(n_rows AS BIGINT) AS n_rows,
      |  CAST(CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS BIGINT) AS passed
      |FROM checks ORDER BY check_name""".stripMargin

  // -------------------------------------------------------------------
  // c74: incremental SCD-2 merge — fold a new slice of orders into an
  // already-built dimension WITHOUT recomputing history: the CDC-merge
  // step a daily warehouse load runs, and q59's incremental sibling
  // (the same pairing as c71 vs c70).
  //
  // Algorithm: the base dimension (orders before the split date) is
  // frozen except its OPEN rows. Each customer's open row becomes a
  // SEED event (its priority + valid_from, a sentinel order key that
  // sorts before every delta order), unioned with the delta orders and
  // re-folded through the SAME scd2Build the from-scratch path uses —
  // the seed reproduces the open interval when nothing changed, or gets
  // closed by the first differing delta priority. Closed base rows pass
  // through untouched; tail versions are shifted by each customer's
  // closed-row count. Correctness rests on an SCD-2 invariant: every
  // trailing base order of a customer carries the open interval's
  // priority (a differing one would have opened a new interval), so
  // seeding with the open row is equivalent to replaying the full base
  // history across the boundary.
  //
  // THE ORACLE IS THE FROM-SCRATCH QUERY (q59's SQL verbatim): the
  // driver's hash gate proves incremental ≡ recompute AND cross-engine
  // equality in one check. Scale: history never re-shuffles — only open
  // rows (≤ one per customer) and the delta move; the fold's window
  // runs on seed+delta, not on all time.
  // -------------------------------------------------------------------
  private val Scd2SplitDate = "1999-01-01"

  def c74Scd2Merge(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"), col("o_orderpriority"))
    val split = lit(Scd2SplitDate).cast("timestamp")
    val baseDim = Relational.scd2Build(ev.where(col("o_orderdate") < split))
    val delta = ev.where(col("o_orderdate") >= split)
    val closed = baseDim.where(col("is_current") === 0L)
    val seed = baseDim.where(col("is_current") === 1L)
      .select(col("o_custkey"), col("valid_from").as("o_orderdate"),
        lit(-1L).as("o_orderkey"), col("priority").as("o_orderpriority"))
    val offsets = closed.groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("voff"))
    val tail = Relational.scd2Build(seed.unionByName(delta))
      .join(offsets, Seq("o_custkey"), "left")
      .withColumn("version", col("version") + coalesce(col("voff"), lit(0L)))
      .drop("voff")
    closed.unionByName(tail)
      .orderBy(col("o_custkey"), col("version"))
  }

  // -------------------------------------------------------------------
  // c75: domain-mixture KL diagnostic — the data-mixing health check
  // behind d52's resampler: how far each source domain's unigram
  // distribution sits from the corpus mixture, KL(p_source ‖ p_corpus)
  // = Σ_w p(w|s)·ln(p(w|s)/p(w)). Drives mixture reweighting and flags
  // domain drift between crawl snapshots.
  //
  // Shape: one corpus-sized explode feeding three hash aggregates; the
  // per-(source, term) table is |domains| × |vocab| — VOCABULARY-
  // bounded, orders of magnitude below corpus scale (t61's model-table
  // argument) — so the ratio join is a small-table join AQE broadcasts.
  // No windows, no sort until the |domains|-row output.
  //
  // Determinism: the single transcendental ln is nano-snapped per
  // DISTINCT (source, term) from the same left-associated double ratio
  // in both engines (t54's discipline). Per-source numerators then sum
  // exactly in DECIMAL(38,0)/HUGEINT — c_sw·lr_n reaches 2^63 around
  // 10^12 tokens/source, so int64 is NOT the production sum type — and
  // one floor division lands on the nano grid. Truncate-vs-floor on a
  // negative numerator cannot diverge: KL ≥ 0 with margin ≫ the snap
  // error bound (Σ c_sw·½ nano = n_s/2 ⇒ |error| ≤ ½ nano on the
  // quotient, while the smallest observed KL is ~10^7 nanos).
  // -------------------------------------------------------------------
  def c75DomainKl(spark: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(spark, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
    val nTot = tok.agg(count(lit(1)).as("n_tot"))
    val cs = tok.groupBy("source", "w").agg(count(lit(1)).as("c_sw"))
    val ns = cs.groupBy("source").agg(sum(col("c_sw")).as("n_s"))
    val cw = cs.groupBy("w").agg(sum(col("c_sw")).as("c_w"))
    val terms = cs.join(ns, "source").join(cw, "w").crossJoin(nTot)
      .withColumn("lr_n",
        floor(log((col("c_sw").cast(DoubleType) * col("n_tot").cast(DoubleType))
            / (col("n_s").cast(DoubleType) * col("c_w").cast(DoubleType)))
          * lit(1e9) + lit(0.5)).cast(LongType))
    terms.groupBy(col("source"))
      .agg(max(col("n_s")).as("n_tokens"),
        sum((col("c_sw") * col("lr_n")).cast(DecimalType(38, 0))).as("num"))
      .withColumn("kl_nanos", expr("CAST(num div n_tokens AS BIGINT)"))
      .select(col("source"), col("n_tokens"), col("kl_nanos"),
        round(col("kl_nanos").cast(DoubleType) / lit(1e9), 6).as("kl"))
      .orderBy(col("source"))
  }

  val c75DomainKlSql: String =
    """WITH tok AS (
      |  SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
      |nt AS (SELECT COUNT(*) AS n_tot FROM tok),
      |cs AS (SELECT source, w, COUNT(*) AS c_sw FROM tok GROUP BY source, w),
      |ns AS (SELECT source, SUM(c_sw) AS n_s FROM cs GROUP BY source),
      |cw AS (SELECT w, SUM(c_sw) AS c_w FROM cs GROUP BY w),
      |terms AS (
      |  SELECT cs.source, cs.c_sw, ns.n_s,
      |    CAST(floor(ln((CAST(c_sw AS DOUBLE) * CAST(n_tot AS DOUBLE))
      |        / (CAST(n_s AS DOUBLE) * CAST(c_w AS DOUBLE)))
      |      * 1000000000.0 + 0.5) AS BIGINT) AS lr_n
      |  FROM cs JOIN ns USING (source) JOIN cw USING (w) CROSS JOIN nt),
      |k AS (
      |  SELECT source, CAST(MAX(n_s) AS BIGINT) AS n_tokens,
      |    CAST(SUM(c_sw * lr_n) // MAX(n_s) AS BIGINT) AS kl_nanos
      |  FROM terms GROUP BY source)
      |SELECT source, n_tokens, kl_nanos,
      |  ROUND(CAST(kl_nanos AS DOUBLE) / 1000000000.0, 6) AS kl
      |FROM k ORDER BY source""".stripMargin

  // -------------------------------------------------------------------
  // c76: CDC apply (changelog → final table state) — the upsert/delete
  // compaction a lakehouse MERGE performs, and the stateless sibling of
  // c74's history-keeping SCD-2 merge: replay a keyed change stream and
  // keep only each key's LAST state, honoring delete tombstones. The
  // events table stands in as the changelog: per user, 'signup' is the
  // insert, 'error' a delete tombstone, everything else an upsert;
  // sequence order is the total (µs timestamp, event_id).
  //
  // Shape: ONE hash exchange on the key; row_number DESC elects the
  // final change, tombstones drop the key entirely, and n_changes
  // audits the applied depth. At 100 TB this is the standard
  // compact-on-read plan: no join against the base table is needed
  // because the changelog is self-contained — with a base table, union
  // base-as-oldest-change and the same election applies (c74's
  // incremental pattern). Values ride the exact cents grid (q64's
  // discipline), so the state is hash-identical cross-engine.
  // -------------------------------------------------------------------
  def c76CdcApply(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tus").desc, col("event_id").desc)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("tus"),
        when(col("event_type") === "error", lit("D"))
          .when(col("event_type") === "signup", lit("I"))
          .otherwise(lit("U")).as("op"),
        floor(col("value") * lit(100.0) + lit(0.5)).cast(LongType).as("vc"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n_changes", count(lit(1)).over(Window.partitionBy(col("user_id"))))
      .where(col("rn") === 1 && col("op") =!= "D")
      .select(col("user_id"), col("op").as("last_op"),
        (col("vc").cast(DoubleType) / lit(100.0)).as("last_value"),
        col("n_changes"))
      .orderBy(col("user_id"))
  }

  val c76CdcApplySql: String =
    """WITH ch AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS tus,
      |    CASE WHEN event_type = 'error' THEN 'D'
      |         WHEN event_type = 'signup' THEN 'I'
      |         ELSE 'U' END AS op,
      |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS vc
      |  FROM events),
      |r AS (
      |  SELECT user_id, op, vc,
      |    row_number() OVER (PARTITION BY user_id ORDER BY tus DESC, event_id DESC) AS rn,
      |    COUNT(*) OVER (PARTITION BY user_id) AS n_changes
      |  FROM ch)
      |SELECT user_id, op AS last_op, CAST(vc AS DOUBLE) / 100.0 AS last_value,
      |  CAST(n_changes AS BIGINT) AS n_changes
      |FROM r
      |WHERE rn = 1 AND op <> 'D'
      |ORDER BY user_id""".stripMargin

  // -- c76's incremental/streaming siblings ------------------------------
  // The foreachBatch MERGE form of the same CDC apply: state is one row
  // per key (last change + applied depth), each micro-batch folds in via
  // a commutative/associative combine — (max by (tus, event_id), sum) —
  // so batch boundaries cannot change the result (StreamingSpec pins
  // stream ≡ c76's batch window form, which doubles as an independent
  // cross-check of the window election). Tombstoned keys STAY in state
  // (a later upsert must compare against the delete's sequence number);
  // only the final report drops them — the discipline a lakehouse MERGE
  // gets wrong if it deletes eagerly. At 100 TB: state is |keys|-sized,
  // each merge is one hash agg on the key — the standard upsert-compact
  // loop, with no base-table join because the summary IS the base.

  /** Raw events → the keyed change rows c76 elects over (same wire
    * projection: sequence = (µs, event_id), exact cents values).
    */
  private[graft] def cdcChanges(events: DataFrame): DataFrame =
    events.select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("tus"),
      when(col("event_type") === "error", lit("D"))
        .when(col("event_type") === "signup", lit("I"))
        .otherwise(lit("U")).as("op"),
      floor(col("value") * lit(100.0) + lit(0.5)).cast(LongType).as("vc"))

  /** Change rows → per-key summary (last change struct + change count). */
  private[graft] def cdcSummarize(changes: DataFrame): DataFrame =
    changes
      .select(col("user_id"),
        struct(col("tus"), col("event_id"), col("op"), col("vc")).as("last"),
        lit(1L).as("n_changes"))
      .groupBy(col("user_id"))
      .agg(max(col("last")).as("last"), sum(col("n_changes")).as("n_changes"))

  /** MERGE one summary into another — both one-row-per-key; the combine
    * is associative+commutative so any batch split folds identically.
    */
  private[graft] def cdcCombine(state: DataFrame, batch: DataFrame): DataFrame =
    state.unionAll(batch)
      .groupBy(col("user_id"))
      .agg(max(col("last")).as("last"), sum(col("n_changes")).as("n_changes"))

  /** Final table state from the summary — c76's output shape. */
  private[graft] def cdcReport(state: DataFrame): DataFrame =
    state.where(col("last.op") =!= "D")
      .select(col("user_id"), col("last.op").as("last_op"),
        (col("last.vc").cast(DoubleType) / lit(100.0)).as("last_value"),
        col("n_changes"))
      .orderBy(col("user_id"))

  // -------------------------------------------------------------------
  // c77: per-source dataset datasheet — the "data card" table a corpus
  // release ships: per source, document and token volume, language mix
  // (count + modal language), duplicate exposure at BOTH granularities
  // (whole-document md5 groups per d40 — honestly zero on this corpus —
  // and docs carrying non-first 8-token chunks per d47, the signal that
  // actually fires here) and the t55 repetition-gate pass count.
  // Composes d40, d47 and t55 (each verified on its own elsewhere) into
  // one audit — the oracle nests the stage SQLs, hash-checking the
  // composition.
  //
  // Scale: three corpus scans (base projection, d47 chunks, t55
  // metrics) — the dup joins are on |distinct-hash| / doc-sized tables,
  // the language mode and final rollup are |sources|×|langs|-sized. All
  // outputs are exact integers; the modal language ties
  // deterministically (count DESC, lang ASC).
  // -------------------------------------------------------------------
  def c77SourceDatasheet(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    // null-safe on h over non-null texts: an equi-join on h infers
    // isnotnull(h), which Catalyst pushes below the projection as
    // isnotnull(fast_md5(text)), hashing every document twice
    val base = docs.filter(col("text").isNotNull)
      .select(col("source"), col("lang"), col("doc_id"),
        size(split(col("text"), " ")).cast(LongType).as("n_tokens"),
        graft.functions.HashFns.fastMd5(col("text")).as("h"))
    val dup = base.groupBy(col("h").as("dh")).agg(count(lit(1)).as("cnt"))
    val chunkDup = Dedup.d47ChunkDedup(spark, dir)
      .select(col("doc_id"),
        when(col("n_dup_chunks") > 0, 1L).otherwise(0L).as("cdup"))
    val gate = TextOps.t55Metrics(spark, dir)
      .select(col("doc_id"), col("passes_gate").cast(LongType).as("pg"))
    val perDoc = base.join(dup, col("h") <=> col("dh"))
      .join(chunkDup, "doc_id").join(gate, "doc_id")
      .withColumn("is_dup", when(col("cnt") > 1, 1L).otherwise(0L))
    val wl = Window.partitionBy(col("source"))
      .orderBy(col("lc").desc, col("lang").asc)
    val ls = docs.groupBy(col("source"), col("lang")).agg(count(lit(1)).as("lc"))
      .withColumn("lrn", row_number().over(wl))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_langs"),
        max(when(col("lrn") === 1, col("lang"))).as("top_lang"))
    perDoc.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"),
        sum(col("is_dup")).as("dup_docs"), sum(col("cdup")).as("chunk_dup_docs"),
        sum(col("pg")).as("gate_pass_docs"))
      .join(ls, "source")
      .select(col("source"), col("n_docs"), col("n_langs"), col("top_lang"),
        col("total_tokens"), col("dup_docs"), col("chunk_dup_docs"),
        col("gate_pass_docs"))
      .orderBy(col("source"))
  }

  val c77SourceDatasheetSql: String =
    s"""WITH base AS (
       |  SELECT source, lang, doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |    md5(text) AS h
       |  FROM documents),
       |dup AS (SELECT h, COUNT(*) AS cnt FROM base GROUP BY h),
       |chunkdup AS (
       |  SELECT doc_id, CASE WHEN n_dup_chunks > 0 THEN 1 ELSE 0 END AS cdup
       |  FROM (${Dedup.d47ChunkDedupSql})),
       |gate AS (SELECT doc_id, passes_gate FROM (${TextOps.t55RepetitionSql})),
       |perdoc AS (
       |  SELECT b.source, b.n_tokens,
       |    CASE WHEN d.cnt > 1 THEN 1 ELSE 0 END AS is_dup,
       |    c.cdup, g.passes_gate AS pg
       |  FROM base b JOIN dup d USING (h) JOIN chunkdup c USING (doc_id)
       |  JOIN gate g USING (doc_id)),
       |lmode AS (SELECT source, lang, COUNT(*) AS lc FROM base GROUP BY 1, 2),
       |lr AS (
       |  SELECT source, lang,
       |    ROW_NUMBER() OVER (PARTITION BY source
       |      ORDER BY lc DESC, lang ASC) AS lrn
       |  FROM lmode),
       |ls AS (
       |  SELECT source, COUNT(*) AS n_langs,
       |    MAX(CASE WHEN lrn = 1 THEN lang END) AS top_lang
       |  FROM lr GROUP BY source),
       |agg AS (
       |  SELECT source, COUNT(*) AS n_docs,
       |    CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       |    CAST(SUM(is_dup) AS BIGINT) AS dup_docs,
       |    CAST(SUM(cdup) AS BIGINT) AS chunk_dup_docs,
       |    CAST(SUM(pg) AS BIGINT) AS gate_pass_docs
       |  FROM perdoc GROUP BY source)
       |SELECT a.source, a.n_docs, ls.n_langs, ls.top_lang,
       |  a.total_tokens, a.dup_docs, a.chunk_dup_docs, a.gate_pass_docs
       |FROM agg a JOIN ls USING (source)
       |ORDER BY source""".stripMargin

  // -------------------------------------------------------------------
  // c79: train/eval split-leakage audit — d49 pointed at the pipeline's
  // OWN split boundary instead of an external benchmark: after d56's
  // hash split, do val/test docs share verbatim 8-token windows with any
  // train doc? (The leakage an eval suite silently inflates on; near-dup
  // pairs that straddle the split boundary are exactly how it happens.)
  // Composes d56's threshold assignment (re-derived per doc, bounds
  // shared via [[Sampling.TrainBound]]) with d49's window-hash gadget.
  //
  // Scale: one corpus fan-out into distinct per-doc windows; the
  // train-vs-eval probe joins ON THE 32-hex WINDOW HASH ONLY (d47's
  // payload discipline — the window text never shuffles). Unlike d49's
  // broadcast-able benchmark, the train side IS most of the corpus, so
  // this is an honest shuffle join on wh; output is |splits|-sized.
  // -------------------------------------------------------------------
  def c79SplitLeakage(spark: SparkSession, dir: String): DataFrame = {
    val sp = Tables.documents(spark, dir)
      .repartition(spark.sessionState.conf.numShufflePartitions)
      .withColumn("h", PortableHash.h60(col("doc_id")))
      .withColumn("split",
        when(col("h") < Sampling.TrainBound, "train")
          .when(col("h") < Sampling.ValBound, "val")
          .otherwise("test"))
    val wins = sp
      .withColumn("t", split(col("text"), " "))
      .select(col("doc_id"), col("split"),
        explode(array_distinct(TextOps.kgrams(col("t"), 8))).as("win"))
      .select(col("doc_id"), col("split"), graft.functions.HashFns.fastMd5(col("win")).as("wh"))
    val trainW = wins.filter(col("split") === "train").select(col("wh")).distinct()
    val hits = wins.filter(col("split") =!= "train")
      .join(trainW, Seq("wh"))
      .groupBy(col("split"))
      .agg(countDistinct(col("doc_id")).as("n_leaky_docs"),
        count(lit(1)).as("n_shared_windows"))
    sp.filter(col("split") =!= "train")
      .groupBy(col("split")).agg(count(lit(1)).as("n_docs"))
      .join(hits, Seq("split"), "left")
      .select(col("split"), col("n_docs"),
        coalesce(col("n_leaky_docs"), lit(0L)).as("n_leaky_docs"),
        coalesce(col("n_shared_windows"), lit(0L)).as("n_shared_windows"))
      .orderBy(col("split"))
  }

  val c79SplitLeakageSql: String =
    s"""WITH sp AS (
       |  SELECT doc_id, text,
       |    CASE WHEN ${PortableHash.h60Sql("doc_id")} < ${Sampling.TrainBound}
       |           THEN 'train'
       |         WHEN ${PortableHash.h60Sql("doc_id")} < ${Sampling.ValBound}
       |           THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM documents),
       |toks AS (SELECT doc_id, split, string_split(text, ' ') AS t FROM sp),
       |w AS (
       |  SELECT doc_id, split, md5(win) AS wh FROM (
       |    SELECT doc_id, split, unnest(list_distinct(${TextOps.kgramsSql(8)})) AS win
       |    FROM toks) x),
       |trainw AS (SELECT DISTINCT wh FROM w WHERE split = 'train'),
       |hits AS (
       |  SELECT split, COUNT(DISTINCT doc_id) AS n_leaky_docs,
       |    COUNT(*) AS n_shared_windows
       |  FROM w JOIN trainw USING (wh)
       |  WHERE split <> 'train' GROUP BY split),
       |tot AS (
       |  SELECT split, COUNT(*) AS n_docs FROM sp WHERE split <> 'train'
       |  GROUP BY split)
       |SELECT t.split, t.n_docs,
       |  CAST(COALESCE(h.n_leaky_docs, 0) AS BIGINT) AS n_leaky_docs,
       |  CAST(COALESCE(h.n_shared_windows, 0) AS BIGINT) AS n_shared_windows
       |FROM tot t LEFT JOIN hits h USING (split)
       |ORDER BY split""".stripMargin

  // -------------------------------------------------------------------
  // c80: dedup-savings datasheet — the "what did dedup buy us" report a
  // corpus owner reads before paying for a training run: per source, the
  // token budget before dedup, the tokens removed by whole-doc exact
  // dedup (d40 keeper election), the tokens a span-cut pass would remove
  // from the SURVIVING docs (d58 substring spans over the keeper corpus
  // — the Lee et al. pipeline order: exact dedup first, then span-level),
  // and what remains. COMPOSITION in the c-family discipline: the oracle
  // nests the d40 election and the full d58 span CTE chain over the
  // keeper corpus, so drift in either stage OR the composition glue
  // flips the hash.
  //
  // Scale: the d40 election is one hash shuffle (only md5 + ids move),
  // d58 inherits its skew-immune aggregate election, and the final
  // rollup is a map-side-combined per-source aggregate — |sources| rows
  // out. savings_ratio is an exact-long division, bit-identical in both
  // engines.
  // -------------------------------------------------------------------
  def c80DedupSavings(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text"),
        size(split(col("text"), " ")).cast(LongType).as("n_tokens"))
    val keepers = Dedup.dedupExact(
        docs.withColumn("__h", graft.functions.HashFns.fastMd5(col("text"))), Seq("__h"), col("doc_id"))
      .select(col("doc_id"))
    val flagged = docs
      .join(keepers.withColumn("__k", lit(1L)), Seq("doc_id"), "left")
      .withColumn("is_dup", col("__k").isNull.cast(LongType))
    val spanCut = Dedup.substringSpansFrom(
        docs.join(keepers, Seq("doc_id")).select(col("doc_id"), col("text")))
      .groupBy(col("doc_id")).agg(sum(col("span_tokens")).as("st"))
    flagged.join(spanCut, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("is_dup")).as("n_dup_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("is_dup") * col("n_tokens")).as("dup_doc_tokens"),
        sum(when(col("is_dup") === 0, coalesce(col("st"), lit(0L)))
          .otherwise(lit(0L))).as("span_dup_tokens"))
      .withColumn("tokens_after",
        col("n_tokens") - col("dup_doc_tokens") - col("span_dup_tokens"))
      .withColumn("savings_ratio",
        (col("dup_doc_tokens") + col("span_dup_tokens")) / col("n_tokens"))
      .orderBy(col("source"))
  }

  val c80DedupSavingsSql: String =
    s"""WITH k80 AS (
       |  SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
       |keep80 AS (
       |  SELECT d.doc_id, d.text FROM documents d JOIN k80 USING (doc_id)),
       |${Dedup.substringSpanCtesSql("keep80")},
       |sp80 AS (
       |  SELECT doc_id, CAST(SUM(span_tokens) AS BIGINT) AS st
       |  FROM spans58 GROUP BY doc_id),
       |m80 AS (
       |  SELECT d.source,
       |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS nt,
       |    CASE WHEN k.doc_id IS NULL THEN 1 ELSE 0 END AS is_dup,
       |    CASE WHEN k.doc_id IS NULL THEN 0 ELSE COALESCE(s.st, 0) END AS st
       |  FROM documents d
       |  LEFT JOIN k80 k ON k.doc_id = d.doc_id
       |  LEFT JOIN sp80 s ON s.doc_id = d.doc_id)
       |SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(is_dup) AS BIGINT) AS n_dup_docs,
       |  CAST(SUM(nt) AS BIGINT) AS n_tokens,
       |  CAST(SUM(is_dup * nt) AS BIGINT) AS dup_doc_tokens,
       |  CAST(SUM(st) AS BIGINT) AS span_dup_tokens,
       |  CAST(SUM(nt) - SUM(is_dup * nt) - SUM(st) AS BIGINT) AS tokens_after,
       |  (CAST(SUM(is_dup * nt) AS BIGINT) + CAST(SUM(st) AS BIGINT))
       |    / CAST(SUM(nt) AS BIGINT) AS savings_ratio
       |FROM m80
       |GROUP BY source
       |ORDER BY source""".stripMargin

  // ---------------------------------------------------------------------
  // c81: cross-source overlap matrix — pairwise shingle-level Jaccard
  // between source domains, the provenance-overlap panel of a corpus
  // datasheet (answers "how much of src_a is already in src_b" BEFORE
  // committing to a mixing ratio; whole-doc hashes miss it — at the gate
  // SF every document is unique yet sources share 10-15% of their
  // 3-gram inventories).
  //
  // Scale shape: the corpus collapses to the DISTINCT (source,
  // shingle-h60) set — only 60-bit hashes shuffle, never text — and
  // pair counting aggregates per-hash source SETS (collect_set is
  // bounded by |sources|, a config-sized constant) and fans each out to
  // its C(|sources|,2) pairs, so no corpus-sized self-join ever forms:
  // one shuffle on the hash, a |sources|²-row aggregate after it. The
  // |sources|-row size table broadcasts onto the result.
  //
  // Determinism: set arithmetic on exact integers end-to-end; the one
  // ratio is a final ROUND-6 projection on a bounded frame.
  // ---------------------------------------------------------------------
  def c81SourceOverlap(spark: SparkSession, dir: String): DataFrame =
    sourceOverlapFrom(Tables.documents(spark, dir))

  /** Overlap matrix over any (source, text) frame — spec entry point. */
  private[graft] def sourceOverlapFrom(d: DataFrame): DataFrame = {
    // distinct (source, shingle-hash) inventory; consumed by both the
    // size table and the pair counts → materialized once (t61 seam)
    val sh = d
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 3)
      .select(col("source"), explode(array_distinct(transform(
        sequence(lit(1), size(col("toks")) - 2),
        i => concat_ws(" ", element_at(col("toks"), i),
          element_at(col("toks"), i + 1), element_at(col("toks"), i + 2))))).as("shingle"))
      .select(col("source"), PortableHash.h60(col("shingle")).as("k"))
      .distinct()
      .graftCheckpoint(true)
    val sizes = sh.groupBy(col("source")).agg(count(lit(1)).as("n"))
    // per-hash source set → all ordered pairs inside it; |ss| ≤ |sources|
    val pairs = sh.groupBy(col("k"))
      .agg(sort_array(collect_set(col("source"))).as("ss"))
      .select(explode(flatten(transform(col("ss"), (a, i) =>
        transform(slice(col("ss"), i + 2, size(col("ss"))),
          b => struct(a.as("src_a"), b.as("src_b")))))).as("p"))
      .groupBy(col("p.src_a").as("src_a"), col("p.src_b").as("src_b"))
      .agg(count(lit(1)).as("n_common"))
    pairs
      .join(broadcast(sizes.select(col("source").as("src_a"), col("n").as("na"))), "src_a")
      .join(broadcast(sizes.select(col("source").as("src_b"), col("n").as("nb"))), "src_b")
      .select(col("src_a"), col("src_b"), col("na"), col("nb"), col("n_common"),
        round(col("n_common") / (col("na") + col("nb") - col("n_common")), 6).as("jaccard"))
      .orderBy(col("src_a"), col("src_b"))
  }

  val c81SourceOverlapSql: String =
    s"""WITH toks AS (
       |  SELECT source, string_split(text, ' ') AS t FROM documents
       |  WHERE len(string_split(text, ' ')) >= 3),
       |sh AS (
       |  SELECT DISTINCT source,
       |    ${PortableHash.h60Sql("shingle")} AS k
       |  FROM (
       |    SELECT source, unnest(list_distinct(list_transform(
       |      range(1, len(t) - 1),
       |      i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]))) AS shingle
       |    FROM toks)),
       |sizes AS (SELECT source, COUNT(*) AS n FROM sh GROUP BY source),
       |inter AS (
       |  SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_common
       |  FROM sh a JOIN sh b ON a.k = b.k AND a.source < b.source
       |  GROUP BY 1, 2)
       |SELECT src_a, src_b, sa.n AS na, sb.n AS nb, n_common,
       |  ROUND(n_common / (sa.n + sb.n - n_common), 6) AS jaccard
       |FROM inter
       |JOIN sizes sa ON inter.src_a = sa.source
       |JOIN sizes sb ON inter.src_b = sb.source
       |ORDER BY src_a, src_b""".stripMargin

  // ---------------------------------------------------------------------
  // c82: DoReMi-style domain reweighting (Xie et al. 2023, "DoReMi:
  // Optimizing Data Mixtures Speeds Up Language Model Pretraining") —
  // one exponentiated-gradient step on the source-mixture weights,
  // driven by each domain's EXCESS loss over the corpus-wide reference:
  //   w'_i ∝ w_i · exp(η · max(0, NLL_i − NLL_ref)),  then normalize.
  // The per-domain loss is the engine's own t61 bigram-LM negative
  // log-likelihood (the proxy-model loss slot in the paper), so the
  // whole mixture step — proxy scoring AND reweighting — is one plan.
  //
  // Scale shape: t61's model tables (vocabulary-bounded) + ONE pair scan
  // aggregated straight to |sources| rows — no per-doc intermediate at
  // all; the reweight arithmetic runs on that bounded frame (windows
  // over |sources| rows, the d52 allocation idiom).
  //
  // Determinism: per-bigram log-probs are t61's nano-snapped integers;
  // per-source sums are exact BIGINT; the one exp() is snapped to
  // integer nanos per source (bounded rows); weights are ratios of those
  // integers, ROUND-6 at the edge.
  // ---------------------------------------------------------------------
  private val DoremiEta = 1.0

  /** The |sources|-row DoReMi frame (source, n_bigrams, sl, ns, excess,
    * en9): t61's proxy-LM per-source NLL plus the snapped EG numerator —
    * shared by c82 (the reweight report) and c83 (the mixture-to-sample
    * capstone).
    */
  private def doremiFrame(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val t = col("__t")
    val grams = filter(
      transform(sequence(lit(1), greatest(size(t) - 1, lit(1))),
        i => struct(try_element_at(t, i).as("w1"),
          try_element_at(t, i + lit(1)).as("w2"))),
      s => s.getField("w2").isNotNull)
    // pair stream feeds the model aggregates AND the per-source scoring
    // join — materialized once (the t61 seam)
    val pairs = d.withColumn("__t", split(col("text"), " "))
      .select(col("source"), explode(grams).as("g"))
      .select(col("source"), col("g.w1").as("w1"), col("g.w2").as("w2"))
      .graftCheckpoint(true)
    val vocab = d.select(explode(split(col("text"), " ")).as("w"))
      .agg(countDistinct(col("w"))).collect()(0).getLong(0)
    val c2 = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    val c1 = c2.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    val model = c2.join(c1, "w1").withColumn("lp_n",
      floor(log((col("c2") + 1).cast(DoubleType) / (col("c1") + lit(vocab)).cast(DoubleType))
        * lit(1e9) + lit(0.5)).cast(LongType))
      .select(col("w1"), col("w2"), col("lp_n"))
    val perSrc = pairs.join(model, Seq("w1", "w2"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("lp_n")).as("sl"))
    val tot = perSrc.agg(sum(col("n_bigrams")).as("tb"), sum(col("sl")).as("tl"),
      count(lit(1)).as("ns"))
    perSrc.crossJoin(broadcast(tot))
      .withColumn("excess", greatest(lit(0.0),
        (col("tl").cast(DoubleType) / col("tb").cast(DoubleType)
          - col("sl").cast(DoubleType) / col("n_bigrams").cast(DoubleType)) / lit(1e9)))
      .withColumn("en9",
        floor(exp(lit(DoremiEta) * col("excess")) * lit(1e9) + lit(0.5)).cast(LongType))
  }

  def c82DoremiReweight(spark: SparkSession, dir: String): DataFrame = {
    val wN = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    doremiFrame(spark, dir)
      .withColumn("esum", sum(col("en9")).over(wN))
      .select(col("source"), col("n_bigrams"),
        round((lit(0.0) - col("sl").cast(DoubleType) / col("n_bigrams").cast(DoubleType))
          / lit(1e9), 6).as("nll"),
        round(col("excess"), 6).as("excess"),
        col("en9"),
        round(lit(1.0) / col("ns"), 6).as("w0"),
        round(col("en9").cast(DoubleType) / col("esum").cast(DoubleType), 6).as("w1"))
      .orderBy(col("source"))
  }

  /** The c82 CTE chain up to the per-source en9 frame (no leading WITH)
    * — shared by the c82 report and c83's allocation tail.
    */
  private val doremiCtes: String =
    s"""tk AS (
       |  SELECT source, string_split(text, ' ') AS t FROM documents),
       |pairs AS (
       |  SELECT source, struct_extract(g, 'w1') AS w1, struct_extract(g, 'w2') AS w2
       |  FROM (
       |    SELECT source, unnest(list_transform(range(1, len(t)),
       |      i -> struct_pack(w1 := t[i], w2 := t[i + 1]))) AS g
       |    FROM tk)),
       |${TextOps.addOneBigramModelCtesSql},
       |per_src AS (
       |  SELECT source, COUNT(*) AS n_bigrams, CAST(SUM(lp_n) AS BIGINT) AS sl
       |  FROM pairs JOIN model USING (w1, w2) GROUP BY source),
       |tot AS (
       |  SELECT CAST(SUM(n_bigrams) AS BIGINT) AS tb, CAST(SUM(sl) AS BIGINT) AS tl,
       |    COUNT(*) AS ns
       |  FROM per_src),
       |e AS (
       |  SELECT source, n_bigrams, sl, ns,
       |    GREATEST(0.0, (CAST(tl AS DOUBLE) / CAST(tb AS DOUBLE)
       |      - CAST(sl AS DOUBLE) / CAST(n_bigrams AS DOUBLE)) / 1000000000.0) AS excess
       |  FROM per_src, tot),
       |n AS (
       |  SELECT *, CAST(floor(exp($DoremiEta * excess) * 1000000000.0 + 0.5) AS BIGINT) AS en9
       |  FROM e)""".stripMargin

  val c82DoremiReweightSql: String =
    s"""WITH $doremiCtes
       |SELECT source, n_bigrams,
       |  ROUND((0.0 - CAST(sl AS DOUBLE) / CAST(n_bigrams AS DOUBLE)) / 1000000000.0, 6) AS nll,
       |  ROUND(excess, 6) AS excess,
       |  en9,
       |  ROUND(1.0 / ns, 6) AS w0,
       |  ROUND(CAST(en9 AS DOUBLE) / CAST(SUM(en9) OVER () AS DOUBLE), 6) AS w1
       |FROM n
       |ORDER BY source""".stripMargin

  // ---------------------------------------------------------------------
  // c83: mixture-to-sample capstone — the DoReMi loop closed end-to-end:
  // c82's EG weights (the snapped en9 integers, i.e. data-derived
  // importance instead of d52's config weights) are apportioned over a
  // global document budget by exact largest-remainder allocation, and
  // each source's quota is then drawn deterministically by hash rank
  // (the d46/d52 two-phase selection: cross-multiplied h60 threshold
  // prefilter, then a per-source rank window over ~Over·quota
  // survivors). Weights → quotas → rows, all in one oracle-checked plan.
  //
  // Scale shape: the proxy-LM scoring is c82's (vocabulary-bounded
  // model, |sources|-row output); allocation runs on that bounded frame
  // (unpartitioned windows over |sources| rows — the corpus never
  // passes through them); selection broadcasts the |sources|-row quota
  // table and rank-windows only the hash-threshold survivors.
  // ---------------------------------------------------------------------
  private val MixtureBudget = 211L
  private val MixtureOver = 4L // d46/d52's oversampling factor

  def c83WeightedMixture(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    val counts = d.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val wN = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wRem = Window.orderBy(col("rem").desc, col("source").asc)
    val alloc = doremiFrame(spark, dir).select(col("source"), col("en9"))
      .join(counts, "source") // both |sources|-row frames
      .withColumn("esum", sum(col("en9")).over(wN))
      .withColumn("base", expr(s"($MixtureBudget * en9) div esum"))
      .withColumn("rem", expr(s"($MixtureBudget * en9) % esum"))
      .withColumn("leftover", lit(MixtureBudget) - sum(col("base")).over(wN))
      .withColumn("seat", row_number().over(wRem))
      .withColumn("quota", least(col("base") +
        when(col("seat") <= col("leftover"), 1L).otherwise(0L), col("n")))
      .select(col("source"), col("n"), col("quota"))
    val dec = DecimalType(38, 0)
    val w = Window.partitionBy(col("source")).orderBy(col("h"), col("doc_id"))
    d.join(broadcast(alloc), "source")
      .withColumn("h", PortableHash.h60(col("doc_id")))
      .filter(col("h").cast(dec) * col("n").cast(dec) <
        lit(PortableHash.HashSpace.toLong).cast(dec)
          * (lit(MixtureOver) * col("quota")).cast(dec))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= col("quota"))
      .select(col("source"), col("quota"), col("rank"), col("doc_id"))
      .orderBy(col("source"), col("rank"))
  }

  val c83WeightedMixtureSql: String =
    s"""WITH $doremiCtes,
       |cnt AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
       |a AS (
       |  SELECT n.source, c.n, en9,
       |    ($MixtureBudget * en9) // SUM(en9) OVER () AS base,
       |    ($MixtureBudget * en9) % SUM(en9) OVER () AS rem
       |  FROM n JOIN cnt c USING (source)),
       |q AS (
       |  SELECT source, n,
       |    LEAST(base + CASE WHEN ROW_NUMBER() OVER (ORDER BY rem DESC, source ASC)
       |      <= $MixtureBudget - SUM(base) OVER () THEN 1 ELSE 0 END, n) AS quota
       |  FROM a),
       |f AS (
       |  SELECT d.source, q.quota, d.doc_id, ${PortableHash.h60Sql("d.doc_id")} AS h
       |  FROM documents d JOIN q USING (source)
       |  WHERE CAST(${PortableHash.h60Sql("d.doc_id")} AS HUGEINT) * q.n
       |    < ${PortableHash.HashSpaceSqlHugeInt} * ($MixtureOver * q.quota)),
       |r AS (
       |  SELECT source, quota, doc_id,
       |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY h, doc_id) AS rank
       |  FROM f)
       |SELECT source, CAST(quota AS BIGINT) AS quota, rank, doc_id
       |FROM r WHERE rank <= quota
       |ORDER BY source, rank""".stripMargin

  // ---------------------------------------------------------------------
  // c84: small-file compaction planner — the table-maintenance operation
  // every long-lived partitioned table needs: given per-partition row
  // counts (here lineitem by ship month), assign CONTIGUOUS partition
  // runs to merge tasks of roughly equal row mass, so a rewrite job can
  // fan the tasks out with no task reading non-adjacent partitions (and
  // range/partition pruning still works on the compacted layout).
  //
  // Assignment is a pure formula, not a greedy loop: with target
  // T = ceil(total / Tasks), task_id = cum_before div T — each task is a
  // contiguous month run, every task's mass is < T + its last
  // partition's rows (the classical next-fit bound), and the whole plan
  // is reproducible from the counts alone.
  //
  // Scale shape: the ONLY corpus-sized work is the one groupBy(month)
  // scan (map-side combined); the plan itself runs on the
  // |partitions|-bounded metadata frame (~84 months at ANY SF — q105's
  // domain-bounded-axis argument), so the unpartitioned cumsum window
  // is bounded by construction. At a real deployment the input would be
  // the table manifest's per-file stats — same frame shape, no scan at
  // all. Everything is exact integers; the one ratio is a final ROUND.
  // ---------------------------------------------------------------------
  private[operators] val CompactTasks = 16L

  def c84CompactionPlan(spark: SparkSession, dir: String): DataFrame =
    compactionPlanFrom(Tables.lineitem(spark, dir)
      .select(date_format(col("l_shipdate"), "yyyy-MM").as("month"))
      .groupBy(col("month")).agg(count(lit(1)).as("n_rows")))

  /** Plan over any (month, n_rows) partition-stats frame — spec entry
    * point.
    */
  private[graft] def compactionPlanFrom(parts: DataFrame): DataFrame = {
    val wCum = Window.orderBy(col("month"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val tot = parts.agg(sum(col("n_rows")).as("total"))
    val planned = parts
      .crossJoin(broadcast(tot))
      .withColumn("cum_before", coalesce(sum(col("n_rows")).over(wCum), lit(0L)))
      .withColumn("target", expr(s"(total + $CompactTasks - 1) div $CompactTasks"))
      .withColumn("task_id", expr("cum_before div target"))
    val wTask = Window.partitionBy(col("task_id"))
    planned
      .select(col("month"), col("n_rows"), col("task_id"),
        count(lit(1)).over(wTask).as("task_parts"),
        sum(col("n_rows")).over(wTask).as("task_rows"),
        col("target"))
      .select(col("month"), col("n_rows"), col("task_id"), col("task_parts"),
        col("task_rows"),
        round(col("task_rows").cast(DoubleType) / col("target").cast(DoubleType), 6)
          .as("fill_ratio"))
      .orderBy(col("month"))
  }

  val c84CompactionPlanSql: String =
    s"""WITH parts AS (
       |  SELECT strftime(CAST(l_shipdate AS DATE), '%Y-%m') AS month,
       |    COUNT(*) AS n_rows
       |  FROM lineitem GROUP BY 1),
       |tot AS (SELECT CAST(SUM(n_rows) AS BIGINT) AS total FROM parts),
       |planned AS (
       |  SELECT month, n_rows, total,
       |    CAST(COALESCE(SUM(n_rows) OVER (ORDER BY month
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS cum_before,
       |    (total + $CompactTasks - 1) // $CompactTasks AS target
       |  FROM parts CROSS JOIN tot),
       |tasks AS (
       |  SELECT *, cum_before // target AS task_id FROM planned)
       |SELECT month, n_rows, task_id,
       |  COUNT(*) OVER w AS task_parts,
       |  CAST(SUM(n_rows) OVER w AS BIGINT) AS task_rows,
       |  ROUND(CAST(SUM(n_rows) OVER w AS DOUBLE) / CAST(target AS DOUBLE), 6)
       |    AS fill_ratio
       |FROM tasks
       |WINDOW w AS (PARTITION BY task_id)
       |ORDER BY month""".stripMargin

  // ---------------------------------------------------------------------
  // c85: data-constrained epoch scheduling (Muennighoff et al. 2022,
  // "Scaling Data-Constrained Language Models") — the planner that turns
  // per-source token inventories into a concrete training allocation
  // when the token budget EXCEEDS the unique corpus: temperature-
  // weighted sampling weights p_i ∝ n_i^α (α = 0.7, the UL2/mT5-style
  // low-resource up-weighting), a fixed budget B = 2× the unique corpus,
  // exact largest-remainder apportionment of B over the sources, and
  // per-source epoch counts with an over-repetition flag (the paper's
  // ~4-epoch value-decay threshold).
  //
  // Determinism: the one pow() is snapped to an integer 1e6 grid per
  // source (|sources| rows — c82's en9 discipline); apportionment runs
  // entirely in integer arithmetic (products in DECIMAL(38,0): B·w6
  // overflows BIGINT once corpus tokens pass ~1e12/w6; DuckDB side is
  // HUGEINT natively), remainders ranked by (rem DESC, source) — a total
  // order, so the ±1 top-ups land identically in both engines.
  //
  // Scale shape: one scan aggregate → |sources| rows; every window after
  // that is over the bounded source dimension (the d52/c83 allocation
  // idiom). The corpus never shuffles.
  // ---------------------------------------------------------------------
  private val EpochAlpha = 0.7
  private val EpochBudgetMult = 2L
  private val EpochCap = 4L

  def c85EpochSchedule(spark: SparkSession, dir: String): DataFrame = {
    val wN = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val d38 = DecimalType(38, 0)
    val perSrc = Tables.documents(spark, dir)
      .select(col("source"), size(split(col("text"), " ")).cast(LongType).as("nt"))
      .groupBy(col("source")).agg(sum(col("nt")).as("n_tokens"))
    perSrc
      .withColumn("w6", floor(pow(col("n_tokens").cast(DoubleType), lit(EpochAlpha))
        * lit(1e6) + lit(0.5)).cast(LongType))
      .withColumn("budget", sum(col("n_tokens")).over(wN) * lit(EpochBudgetMult))
      .withColumn("wsum", sum(col("w6")).over(wN))
      .withColumn("num", col("budget").cast(d38) * col("w6").cast(d38))
      .withColumn("base", expr("CAST(num div CAST(wsum AS DECIMAL(38,0)) AS BIGINT)"))
      .withColumn("rem", expr("CAST(num % CAST(wsum AS DECIMAL(38,0)) AS BIGINT)"))
      .withColumn("leftover", col("budget") - sum(col("base")).over(wN))
      .withColumn("rk", row_number().over(Window.orderBy(col("rem").desc, col("source"))))
      .withColumn("alloc_tokens",
        col("base") + when(col("rk") <= col("leftover"), lit(1L)).otherwise(lit(0L)))
      .select(col("source"), col("n_tokens"), col("w6"), col("budget"),
        col("alloc_tokens"),
        round(col("alloc_tokens").cast(DoubleType) / col("n_tokens"), 6).as("epochs"),
        when(col("alloc_tokens") > lit(EpochCap) * col("n_tokens"), lit(1))
          .otherwise(lit(0)).as("over_cap"))
      .orderBy(col("source"))
  }

  val c85EpochScheduleSql: String =
    s"""WITH per_src AS (
       |  SELECT source,
       |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY source),
       |w AS (
       |  SELECT source, n_tokens,
       |    CAST(floor(pow(CAST(n_tokens AS DOUBLE), $EpochAlpha) * 1000000.0 + 0.5)
       |      AS BIGINT) AS w6,
       |    CAST(SUM(n_tokens) OVER () AS BIGINT) * $EpochBudgetMult AS budget,
       |    CAST(SUM(CAST(floor(pow(CAST(n_tokens AS DOUBLE), $EpochAlpha) * 1000000.0 + 0.5)
       |      AS BIGINT)) OVER () AS BIGINT) AS wsum
       |  FROM per_src),
       |b AS (
       |  SELECT *,
       |    CAST((CAST(budget AS HUGEINT) * w6) // wsum AS BIGINT) AS base,
       |    CAST((CAST(budget AS HUGEINT) * w6) % wsum AS BIGINT) AS rem
       |  FROM w),
       |r AS (
       |  SELECT *,
       |    budget - CAST(SUM(base) OVER () AS BIGINT) AS leftover,
       |    ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rk
       |  FROM b)
       |SELECT source, n_tokens, w6, budget,
       |  base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS alloc_tokens,
       |  ROUND(CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS DOUBLE)
       |    / n_tokens, 6) AS epochs,
       |  CASE WHEN base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
       |       > $EpochCap * n_tokens THEN 1 ELSE 0 END AS over_cap
       |FROM r
       |ORDER BY source""".stripMargin

  // -------------------------------------------------------------------
  // c87: pairwise Jensen-Shannon divergence matrix between source
  // domains — the SYMMETRIC, bounded companion of c75's KL-to-mixture
  // (Lin 1991): c75 scores each domain against the corpus mixture
  // (asymmetric, unbounded), c87 scores every domain PAIR on [0, ln 2]
  // — the distance matrix a mixture planner clusters before assigning
  // sampling weights, and the standard "did snapshot N drift from
  // snapshot M" corpus comparison.
  //   JSD(a,b) = ½·KL(p_a‖m) + ½·KL(p_b‖m),  m = (p_a + p_b)/2
  //
  // Shape: ONE corpus explode → the vocabulary-bounded (source, w)
  // count table (localCheckpoint'd — three consumers), then a
  // vocab-bounded self-join on w builds shared-word pair rows; words
  // private to either side never join — their whole contribution is
  // (1 − shared_mass)·ln 2, recovered from the pair's shared-count
  // sums. The 190-row pair scaffold (|domains|² — broadcast) left-joins
  // the aggregate so zero-overlap pairs still report (JSD = ln 2
  // exactly). No corpus-sized join, window, or sort anywhere.
  //
  // Exactness: both log ratios collapse to integer-argument forms
  //   ln(p_a/m) = ln(2·c_a·n_b / (c_a·n_b + c_b·n_a))
  // nano-snapped per shared row (the integer products are exact in
  // double far below 2^53); weights c_a·n_b are exact integers;
  // products accumulate in DECIMAL(38,0) (c·n·ln9 ≈ 10^24 at corpus
  // scale — int64 is NOT the production sum type); the private-word
  // masses multiply the SHARED constant LN2_9 = ⌊ln 2·10⁹ + ½⌋; and
  // JSD is ONE double division by 2·n_a·n_b·10⁹, rounded once.
  // -------------------------------------------------------------------
  private val Ln2Nanos = 693147181L // floor(ln(2)·1e9 + 0.5), both engines

  def c87DomainJsd(spark: SparkSession, dir: String): DataFrame = {
    val cs = Tables.documents(spark, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("cnt"))
    jsDivergenceFrom(cs)
  }

  /** JSD matrix over any (source, w, cnt) unigram table — spec entry
    * point.
    */
  private[graft] def jsDivergenceFrom(csRaw: DataFrame): DataFrame = {
    val d38 = DecimalType(38, 0)
    val cs = csRaw.graftCheckpoint(false)
    val ns = cs.groupBy(col("source")).agg(sum(col("cnt")).as("n_s"))
    val csn = cs.join(broadcast(ns), "source")
    val a = csn.select(col("source").as("src_a"), col("w"),
      col("cnt").as("c_a"), col("n_s").as("n_a"))
    val b = csn.select(col("source").as("src_b"), col("w"),
      col("cnt").as("c_b"), col("n_s").as("n_b"))
    def ln9(cx: Column, nx: Column, cy: Column, ny: Column): Column =
      floor(log((lit(2.0) * cx.cast(DoubleType) * ny.cast(DoubleType))
          / (cx.cast(DoubleType) * ny.cast(DoubleType)
            + cy.cast(DoubleType) * nx.cast(DoubleType)))
        * lit(1e9) + lit(0.5)).cast(LongType)
    val shared = a.join(b, "w").filter(col("src_a") < col("src_b"))
      .withColumn("la9", ln9(col("c_a"), col("n_a"), col("c_b"), col("n_b")))
      .withColumn("lb9", ln9(col("c_b"), col("n_b"), col("c_a"), col("n_a")))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_shared"),
        sum((col("c_a").cast(d38) * col("n_b") * col("la9"))
          + (col("c_b").cast(d38) * col("n_a") * col("lb9"))).as("tsum"),
        sum(col("c_a")).as("s_a"), sum(col("c_b")).as("s_b"))
    val scaffold = ns.select(col("source").as("src_a"), col("n_s").as("n_a"))
      .crossJoin(ns.select(col("source").as("src_b"), col("n_s").as("n_b")))
      .filter(col("src_a") < col("src_b"))
    scaffold.join(broadcast(shared), Seq("src_a", "src_b"), "left")
      .select(col("src_a"), col("src_b"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        round((coalesce(col("tsum"), lit(0L).cast(d38)).cast(DoubleType)
            + ((lit(2L) * col("n_a").cast(d38) * col("n_b")
              - coalesce(col("s_a"), lit(0L)).cast(d38) * col("n_b")
              - coalesce(col("s_b"), lit(0L)).cast(d38) * col("n_a"))
              * lit(Ln2Nanos)).cast(DoubleType))
          / (lit(2.0) * col("n_a").cast(DoubleType)
            * col("n_b").cast(DoubleType) * lit(1e9)), 6).as("jsd"))
      .orderBy(col("src_a"), col("src_b"))
  }

  val c87DomainJsdSql: String =
    """WITH tok AS (
      |  SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
      |cs AS (SELECT source, w, COUNT(*) AS cnt FROM tok GROUP BY source, w),
      |ns AS (SELECT source, CAST(SUM(cnt) AS BIGINT) AS n_s FROM cs GROUP BY source),
      |csn AS (SELECT cs.source, w, cnt, n_s FROM cs JOIN ns USING (source)),
      |sh AS (
      |  SELECT x.source AS src_a, y.source AS src_b,
      |    COUNT(*) AS n_shared,
      |    SUM(CAST(x.cnt AS HUGEINT) * y.n_s
      |      * CAST(floor(ln((2.0 * CAST(x.cnt AS DOUBLE) * CAST(y.n_s AS DOUBLE))
      |          / (CAST(x.cnt AS DOUBLE) * CAST(y.n_s AS DOUBLE)
      |            + CAST(y.cnt AS DOUBLE) * CAST(x.n_s AS DOUBLE)))
      |        * 1000000000.0 + 0.5) AS BIGINT)
      |      + CAST(y.cnt AS HUGEINT) * x.n_s
      |      * CAST(floor(ln((2.0 * CAST(y.cnt AS DOUBLE) * CAST(x.n_s AS DOUBLE))
      |          / (CAST(y.cnt AS DOUBLE) * CAST(x.n_s AS DOUBLE)
      |            + CAST(x.cnt AS DOUBLE) * CAST(y.n_s AS DOUBLE)))
      |        * 1000000000.0 + 0.5) AS BIGINT)) AS tsum,
      |    CAST(SUM(x.cnt) AS BIGINT) AS s_a, CAST(SUM(y.cnt) AS BIGINT) AS s_b
      |  FROM csn x JOIN csn y ON x.w = y.w AND x.source < y.source
      |  GROUP BY 1, 2),
      |sc AS (
      |  SELECT a.source AS src_a, b.source AS src_b, a.n_s AS n_a, b.n_s AS n_b
      |  FROM ns a CROSS JOIN ns b WHERE a.source < b.source)
      |SELECT src_a, src_b,
      |  CAST(COALESCE(n_shared, 0) AS BIGINT) AS n_shared,
      |  ROUND((CAST(COALESCE(tsum, 0) AS DOUBLE)
      |      + CAST((2 * CAST(n_a AS HUGEINT) * n_b
      |        - CAST(COALESCE(s_a, 0) AS HUGEINT) * n_b
      |        - CAST(COALESCE(s_b, 0) AS HUGEINT) * n_a) * 693147181 AS DOUBLE))
      |    / (2.0 * CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) * 1000000000.0), 6)
      |    AS jsd
      |FROM sc LEFT JOIN sh USING (src_a, src_b)
      |ORDER BY src_a, src_b""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef.sql("c70_curation", c70Curation _, c70CurationSql),
    QueryDef.sql("c85_epoch_schedule", c85EpochSchedule _, c85EpochScheduleSql),
    QueryDef.sql("c84_compaction_plan", c84CompactionPlan _, c84CompactionPlanSql),
    QueryDef.sql("c71_incremental_curation", c71IncrementalCuration _, c70CurationSql),
    QueryDef.sql("c72_prep_pipeline", c72PrepPipeline _, c72PrepPipelineSql),
    // c89 folds c72 incrementally: same verbatim oracle — the composed
    // incremental pipeline ≡ the from-scratch run, hash-proven
    QueryDef.sql("c89_incremental_prep", c89IncrementalPrep _, c72PrepPipelineSql),
    QueryDef.sql("c73_quality_audit", c73QualityAudit _, c73QualityAuditSql),
    QueryDef.sql("c74_scd2_merge", c74Scd2Merge _, Relational.q59Scd2Sql),
    QueryDef.sql("c75_domain_kl", c75DomainKl _, c75DomainKlSql),
    QueryDef.sql("c87_domain_jsd", c87DomainJsd _, c87DomainJsdSql),
    QueryDef.sql("c76_cdc_apply", c76CdcApply _, c76CdcApplySql),
    QueryDef.sql("c77_source_datasheet", c77SourceDatasheet _, c77SourceDatasheetSql),
    QueryDef.sql("c79_split_leakage", c79SplitLeakage _, c79SplitLeakageSql),
    QueryDef.sql("c80_dedup_savings", c80DedupSavings _, c80DedupSavingsSql),
    QueryDef.sql("c81_source_overlap", c81SourceOverlap _, c81SourceOverlapSql),
    QueryDef.sql("c82_doremi_reweight", c82DoremiReweight _, c82DoremiReweightSql),
    QueryDef.sql("c83_weighted_mixture", c83WeightedMixture _, c83WeightedMixtureSql),
  )
}
