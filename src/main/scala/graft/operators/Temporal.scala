package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, IntegerType, LongType}

import graft.{QueryDef, Tables}
import graft.operators.Checkpoints.GraftCheckpointOps

/** Temporal statistics and distribution-drift monitoring — the
  * time-axis siblings of the `Audits` battery: q104 asks "how long
  * until the event, given censoring" (Kaplan-Meier 1958), q105 asks
  * "what part of the series is calendar, what part is signal"
  * (classical additive decomposition), q106 asks "has the
  * distribution moved since the reference window" (Population
  * Stability Index — the standard model-monitoring drift score, and
  * the question every periodic retraining pipeline has to answer
  * about its incoming data).
  *
  * The reference engine has no batch/temporal surface at all (475
  * lines of per-batch DStream lambdas — SURVEY §0); these extend the
  * §2.7 statistical family along the time axis.
  *
  * Shared scale shape: every operator collapses the corpus to a
  * domain-bounded frame in ONE shuffle (distinct durations, calendar
  * days, decile cells) before any sequential machinery runs; the
  * sequential parts (ECDF-style running products, moving averages)
  * then ride either `Relational.prefixSumByRange` (range slices +
  * broadcast offsets — corpus-sized grids stay parallel) or a
  * calendar-bounded window (|days| rows regardless of SF). The q79/
  * q94/q98 determinism discipline applies throughout: exact cents/
  * count grids, decimal widening before any product, transcendental
  * terms nano-snapped per row (`floor(x·1e9 + 0.5)`) so every
  * accumulation is an integer sum, finals are ONE fixed-shape double
  * expression rounded once.
  */
object Temporal {

  /** The daily revenue series the time-series queries read, from orders:
    * (day: DATE, rev_c: BIGINT), or (grp, day, rev_c) per order status
    * when `byStatus`. Each order's price is snapped to integer cents
    * (`floor(price · 100 + 0.5)`) and a day's cents are summed exactly,
    * as in every oracle's `daily` CTE.
    */
  private def dailyRevenue(spark: SparkSession, dir: String,
      byStatus: Boolean = false): DataFrame = {
    val keys = if (byStatus) Seq(col("o_orderstatus").as("grp")) else Nil
    Tables.orders(spark, dir)
      .select(keys ++ Seq(to_date(col("o_orderdate")).as("day"),
        floor(col("o_totalprice") * lit(100.0) + lit(0.5)).cast(LongType).as("pc")): _*)
      .groupBy((if (byStatus) Seq(col("grp")) else Nil) :+ col("day"): _*)
      .agg(sum(col("pc")).as("rev_c"))
  }

  /** (day, x_c, y_c): daily order revenue cents beside daily shipped
    * quantity hundredths, on the days both occur — q142, q145, q147.
    */
  private def pairedDaily(spark: SparkSession, dir: String): DataFrame = {
    val x = Tables.orders(spark, dir)
      .select(to_date(col("o_orderdate")).as("day"),
        floor(col("o_totalprice") * lit(100.0) + lit(0.5)).cast(LongType).as("pc"))
      .groupBy(col("day")).agg(sum(col("pc")).as("x_c"))
    val y = Tables.lineitem(spark, dir)
      .select(to_date(col("l_shipdate")).as("day"),
        floor(col("l_quantity") * lit(100.0) + lit(0.5)).cast(LongType).as("qc"))
      .groupBy(col("day")).agg(sum(col("qc")).as("y_c"))
    x.join(y, "day")
  }

  /** (day, rev_c, i): a daily series with its 1-based day index,
    * checkpointed for the several passes each consumer makes over it.
    */
  private def dayIndexed(daily: DataFrame): DataFrame =
    daily.select(col("day"), col("rev_c"))
      .withColumn("i", row_number().over(Window.orderBy(col("day"))).cast(LongType))
      .graftCheckpoint(false)

  /** The oracles' `daily` CTE, written apart from [[dailyRevenue]]:
    * (day, rev_c), or (grp, day, rev_c) per order status.
    */
  private def dailyRevenueSql(byStatus: Boolean): String = {
    val (grp, keys) = if (byStatus) ("o_orderstatus AS grp, ", "1, 2") else ("", "1")
    s"""daily AS (
       |  SELECT ${grp}CAST(o_orderdate AS DATE) AS day,
       |    CAST(SUM(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS rev_c
       |  FROM orders GROUP BY $keys)""".stripMargin
  }

  /** `daily` with `idx`, its 1-based day index, and `d`, each day's
    * revenue centered on the n-scaled mean (dv = n·rev_c − Σrev_c).
    */
  private val centeredDaysCtesSql: String =
    s"""${dailyRevenueSql(byStatus = false)},
       |idx AS (SELECT ROW_NUMBER() OVER (ORDER BY day) AS i, rev_c FROM daily),
       |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(rev_c) AS BIGINT) AS s
       |  FROM idx),
       |d AS (SELECT i, n, n * rev_c - s AS dv FROM idx CROSS JOIN st)""".stripMargin

  /** q120's nano-snapped autocorrelations `r` (lag, n, r9) at lags 1..maxLag. */
  private def acfCtesSql(maxLag: Int): String =
    s"""$centeredDaysCtesSql,
       |den AS (SELECT SUM(CAST(dv AS HUGEINT) * dv) AS den FROM d),
       |num AS (
       |  SELECT a.i - b.i AS lag, SUM(CAST(a.dv AS HUGEINT) * b.dv) AS num,
       |    CAST(MAX(a.n) AS BIGINT) AS n
       |  FROM d a JOIN d b ON b.i < a.i AND a.i - b.i <= $maxLag
       |  GROUP BY 1),
       |r AS (
       |  SELECT lag, n,
       |    CAST(floor(CAST(num AS DOUBLE) / CAST(den AS DOUBLE) * 1e9 + 0.5) AS BIGINT) AS r9
       |  FROM num CROSS JOIN den)""".stripMargin

  /** Per-status `daily` with `idx`, each status's 1-based day index. */
  private val statusDayIndexCtesSql: String =
    s"""${dailyRevenueSql(byStatus = true)},
       |idx AS (
       |  SELECT grp, ROW_NUMBER() OVER (PARTITION BY grp ORDER BY day) AS i, rev_c
       |  FROM daily)""".stripMargin

  /** q133's per-status OLS trend fit: `r` holds `cols` and each day's
    * milli-cent residual r3 (statuses with fewer than 3 days drop).
    */
  private def olsResidualCtesSql(cols: String): String =
    s"""$statusDayIndexCtesSql,
       |st AS (
       |  SELECT grp, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(i) AS BIGINT) AS si,
       |    CAST(SUM(rev_c) AS BIGINT) AS sy, CAST(SUM(i * i) AS BIGINT) AS sii,
       |    SUM(CAST(i AS HUGEINT) * rev_c) AS siy
       |  FROM idx GROUP BY 1
       |  HAVING COUNT(*) >= 3),
       |vd AS (
       |  SELECT grp, n, si, sy,
       |    CAST(sii AS HUGEINT) * n - CAST(si AS HUGEINT) * si AS v,
       |    siy * n - CAST(si AS HUGEINT) * sy AS nm
       |  FROM st),
       |r AS (
       |  SELECT $cols,
       |    CAST(floor(CAST(CAST(rev_c AS HUGEINT) * v * n - v * sy + nm * si
       |        - nm * n * i AS DOUBLE)
       |      / CAST(v * n AS DOUBLE) * 1000.0 + 0.5) AS BIGINT) AS r3
       |  FROM idx JOIN vd USING (grp))""".stripMargin

  /** `ss`: each status's residual sum of squares, zero-residual statuses dropped. */
  private val residualSsCteSql: String =
    """ss AS (
      |  SELECT grp, SUM(CAST(r3 AS HUGEINT) * r3) AS ss2,
      |    CAST(MAX(n) AS BIGINT) AS nn
      |  FROM r GROUP BY 1
      |  HAVING SUM(CAST(r3 AS HUGEINT) * r3) > 0)""".stripMargin

  /** The paired daily series `x` (order revenue cents) and `y` (shipped
    * quantity hundredths) of q142, q145 and q147.
    */
  private val pairedDailySql: String =
    """x AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(SUM(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS x_c
      |  FROM orders GROUP BY 1),
      |y AS (
      |  SELECT CAST(l_shipdate AS DATE) AS day,
      |    CAST(SUM(CAST(floor(l_quantity * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS y_c
      |  FROM lineitem GROUP BY 1)""".stripMargin

  // ---------------------------------------------------------------------
  // q104: Kaplan-Meier survival estimate of click→purchase latency.
  // Cohort: each user's FIRST click opens an observation; the first
  // purchase at-or-after it is the event; users with no such purchase
  // are right-censored at their last observed event (the KM setting:
  // dropping censored users would bias the curve optimistic, counting
  // them as conversions would bias it pessimistic — the product-limit
  // estimator is the standard answer).
  //   S(t) = Π_{t_i ≤ t} (1 − d_i/n_i)
  // with d_i events and n_i at-risk at step t_i; ties follow the
  // standard convention (events at t precede censorings at t, so both
  // sit in the risk set at t).
  //
  // Scale shape: two user-keyed shuffles build (duration, observed) —
  // one row per user — then the corpus is GONE: the risk table lives
  // on the distinct-seconds duration grid. Both cumulative passes
  // (risk-set depletion, log-survival mass) are prefixSumByRange over
  // that grid, so no single-partition window ever sees it. The
  // survival product is exact-integer end-to-end: each step's
  // ln(1 − d/n) nano-snaps to BIGINT, the running product is a prefix
  // SUM of those integers, and exp() runs once per output row.
  // ---------------------------------------------------------------------
  /** Each clicking user's (user_id, c first click, l last event, pmin
    * first purchase at-or-after c, or null) in event micros: the
    * click→purchase cohort of q104 and q130.
    */
  private def clickToPurchase(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("tus"))
    val u = e.groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "click", col("tus"))).as("c"),
        max(col("tus")).as("l"))
      .filter(col("c").isNotNull)
    // first purchase at-or-after the first click: the open-cohort join
    // re-shuffles events on the SAME user key as u (AQE co-locates)
    val p = e.filter(col("event_type") === "purchase")
      .join(u.select(col("user_id"), col("c")), "user_id")
      .filter(col("tus") >= col("c"))
      .groupBy(col("user_id")).agg(min(col("tus")).as("pmin"))
    u.join(p, Seq("user_id"), "left")
  }

  /** The oracles' click→purchase cohort: `u` (user_id, c, l) and `p`
    * (user_id, pmin) over `e`, the events in micros.
    */
  private val clickPurchaseCtesSql: String =
    """e AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS tus FROM events),
      |u AS (
      |  SELECT user_id,
      |    MIN(CASE WHEN event_type = 'click' THEN tus END) AS c,
      |    CAST(MAX(tus) AS BIGINT) AS l
      |  FROM e GROUP BY 1
      |  HAVING MIN(CASE WHEN event_type = 'click' THEN tus END) IS NOT NULL),
      |p AS (
      |  SELECT e.user_id, CAST(MIN(tus) AS BIGINT) AS pmin
      |  FROM e JOIN u USING (user_id)
      |  WHERE event_type = 'purchase' AND tus >= c
      |  GROUP BY 1)""".stripMargin

  def q104KaplanMeier(spark: SparkSession, dir: String): DataFrame = {
    val dur = clickToPurchase(spark, dir)
      .select(
        expr("(coalesce(pmin, l) - c) div 1000000L").cast(LongType).as("dur_s"),
        when(col("pmin").isNotNull, 1L).otherwise(0L).as("obs"))
    kaplanMeierFrom(dur)
  }

  /** Product-limit curve over any (dur_s, obs) frame — spec entry point. */
  private[graft] def kaplanMeierFrom(dur: DataFrame): DataFrame = {
    val g = dur.groupBy(col("dur_s"))
      .agg(sum(col("obs")).as("d"), sum(lit(1L) - col("obs")).as("w"))
    val tot = g.agg(sum(col("d") + col("w")).as("n_total"))
    val c1 = Relational.prefixSumByRange(g, Nil, Seq(col("dur_s")),
        Seq("cum" -> (col("d") + col("w"))))
      .crossJoin(broadcast(tot))
      // at-risk = everyone whose duration has not elapsed strictly
      // before this step (exclusive prefix): censored-at-t users are
      // still at risk for events at t (the standard tie convention)
      .withColumn("n_risk", col("n_total") - col("cum") + col("d") + col("w"))
      // nano-snapped log survival factor; d = n_risk means the curve
      // hits exactly zero — flagged out-of-band (ln(0) has no grid)
      .withColumn("term9", when(col("d") < col("n_risk"),
        floor(log((col("n_risk") - col("d")).cast(DoubleType)
          / col("n_risk").cast(DoubleType)) * lit(1e9) + lit(0.5)).cast(LongType))
        .otherwise(0L))
      .withColumn("zf", when(col("d") === col("n_risk"), 1L).otherwise(0L))
    // second pass sees EXACTLY (key, measure inputs) — both internal
    // slice consumers then prune to the same projection, the range
    // exchange canonicalizes equal and boundary reuse fires (ADVICE
    // r10 / PlanShapeSpec); the risk-table columns join back by key.
    // c1's own pass-1 exchange appears under both outer consumers with
    // the same (dur_s, d, w) projection, so it dedupes the same way.
    val cums2 = Relational.prefixSumByRange(
        c1.select(col("dur_s"), col("term9"), col("zf")), Nil, Seq(col("dur_s")),
        Seq("cum9" -> col("term9"), "cumz" -> col("zf")))
      .select(col("dur_s"), col("cum9"), col("cumz"))
    c1.join(cums2, "dur_s")
      .filter(col("d") > 0L)
      .select(col("dur_s"), col("n_risk"), col("d").as("n_events"),
        col("w").as("n_censored"),
        when(col("cumz") > 0L, lit(0.0))
          .otherwise(round(exp(col("cum9").cast(DoubleType) / lit(1e9)), 6))
          .as("survival"))
      .orderBy(col("dur_s"))
  }

  val q104KaplanMeierSql: String =
    s"""WITH $clickPurchaseCtesSql,
      |dur AS (
      |  SELECT CAST((COALESCE(pmin, l) - c) // 1000000 AS BIGINT) AS dur_s,
      |    CASE WHEN pmin IS NOT NULL THEN 1 ELSE 0 END AS obs
      |  FROM u LEFT JOIN p USING (user_id)),
      |g AS (
      |  SELECT dur_s, CAST(SUM(obs) AS BIGINT) AS d,
      |    CAST(SUM(1 - obs) AS BIGINT) AS w
      |  FROM dur GROUP BY 1),
      |t AS (SELECT CAST(SUM(d + w) AS BIGINT) AS n_total FROM g),
      |c1 AS (
      |  SELECT g.*, n_total,
      |    n_total - CAST(SUM(d + w) OVER (ORDER BY dur_s ROWS UNBOUNDED PRECEDING) AS BIGINT)
      |      + d + w AS n_risk
      |  FROM g CROSS JOIN t),
      |c2 AS (
      |  SELECT *,
      |    CASE WHEN d < n_risk THEN
      |      CAST(floor(ln(CAST(n_risk - d AS DOUBLE) / CAST(n_risk AS DOUBLE))
      |        * 1e9 + 0.5) AS BIGINT) ELSE 0 END AS term9,
      |    CASE WHEN d = n_risk THEN 1 ELSE 0 END AS zf
      |  FROM c1),
      |c3 AS (
      |  SELECT *, CAST(SUM(term9) OVER w2 AS BIGINT) AS cum9,
      |    CAST(SUM(zf) OVER w2 AS BIGINT) AS cumz
      |  FROM c2 WINDOW w2 AS (ORDER BY dur_s ROWS UNBOUNDED PRECEDING))
      |SELECT dur_s, n_risk, d AS n_events, w AS n_censored,
      |  CASE WHEN cumz > 0 THEN 0.0
      |       ELSE ROUND(exp(CAST(cum9 AS DOUBLE) / 1e9), 6) END AS survival
      |FROM c3 WHERE d > 0
      |ORDER BY dur_s""".stripMargin

  // ---------------------------------------------------------------------
  // q105: classical additive decomposition of the daily revenue series
  // — revenue(day) = trend + seasonal(weekday) + residual, with the
  // trend a centered 7-day moving average (full windows only), the
  // seasonal the re-centered weekday mean of the detrended series, and
  // the residual what remains. The calendar window is a RANGE frame on
  // the epoch-day key, so a missing calendar day yields an incomplete
  // (excluded) window rather than silently widening the span (q85's
  // frame-mode lesson applied to a regular grid).
  //
  // Scale shape: ONE corpus shuffle (groupBy day, map-side combined)
  // collapses everything to the |calendar-days| frame — bounded by the
  // date domain (~2.4k rows for TPC-H's 7 years) at ANY scale factor,
  // so the unpartitioned range window and the 7-row weekday frame are
  // domain-bounded by construction, never corpus-sized (q92's 9-digit
  // discipline on a 2.4k-row axis).
  //
  // Exactness: day revenue on the cents grid; the 7-day sum is BIGINT;
  // detrended mass 7·rev − Σ7 stays integer (units: cents/7); weekday
  // means and the seasonal re-centering micro-snap (1e6 grid) through
  // fixed-shape double expressions of exact integers; residual finals
  // are one expression, rounded once.
  // ---------------------------------------------------------------------
  def q105SeasonalDecompose(spark: SparkSession, dir: String): DataFrame =
    seasonalDecomposeFrom(dailyRevenue(spark, dir))

  /** Decomposition over any (day: DATE, rev_c: BIGINT) daily series —
    * spec entry point.
    */
  private[graft] def seasonalDecomposeFrom(dailyIn: DataFrame): DataFrame = {
    val daily = dailyIn
      .withColumn("eday", datediff(col("day"), lit("1970-01-01")).cast(LongType))
      .withColumn("dow", (col("eday") % 7L).cast(IntegerType))
    // domain-bounded axis: |days| rows at any SF (see header)
    val w7 = Window.orderBy(col("eday")).rangeBetween(-3L, 3L)
    val trended = daily
      .withColumn("sum7", sum(col("rev_c")).over(w7))
      .withColumn("cnt7", count(lit(1)).over(w7))
      .filter(col("cnt7") === 7L)
      .withColumn("det7", lit(7L) * col("rev_c") - col("sum7"))
    // weekday seasonal: mean of detrended mass, micro-snapped; then
    // re-centered so the seven indices sum to ~0 (level stays in trend)
    val season = trended.groupBy(col("dow"))
      .agg(sum(col("det7")).as("sd7"), count(lit(1)).as("cd"))
      .withColumn("s6", floor(col("sd7").cast(DoubleType)
        / (lit(7.0) * col("cd").cast(DoubleType)) * lit(1e6) + lit(0.5)).cast(LongType))
    // center over the weekdays PRESENT (a sparse calendar can lose a
    // weekday entirely to the full-window filter; dividing by a fixed 7
    // would then leave the seasonal mass off-center)
    val center = season.agg(
      floor(sum(col("s6")).cast(DoubleType) / count(lit(1)).cast(DoubleType)
        + lit(0.5)).cast(LongType).as("m6"))
    val sAdj = season.crossJoin(broadcast(center))
      .select(col("dow"), (col("s6") - col("m6")).as("adj6"))
    val trendC = col("sum7").cast(DoubleType) / lit(7.0)
    val seasC = col("adj6").cast(DoubleType) / lit(1e6)
    trended.join(broadcast(sAdj), "dow")
      .select(col("day"),
        round(col("rev_c").cast(DoubleType) / lit(100.0), 2).as("revenue"),
        round(trendC / lit(100.0), 6).as("trend"),
        round(seasC / lit(100.0), 6).as("seasonal"),
        round((col("rev_c").cast(DoubleType) - trendC - seasC) / lit(100.0), 6)
          .as("residual"))
      .orderBy(col("day"))
  }

  val q105SeasonalDecomposeSql: String =
    s"""WITH ${dailyRevenueSql(byStatus = false)},
      |keyed AS (
      |  SELECT *, CAST(day - DATE '1970-01-01' AS BIGINT) AS eday,
      |    CAST((day - DATE '1970-01-01') % 7 AS INT) AS dow
      |  FROM daily),
      |tr AS (
      |  SELECT *,
      |    CAST(SUM(rev_c) OVER w7 AS BIGINT) AS sum7,
      |    COUNT(*) OVER w7 AS cnt7
      |  FROM keyed
      |  WINDOW w7 AS (ORDER BY eday RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      |full7 AS (
      |  SELECT *, 7 * rev_c - sum7 AS det7 FROM tr WHERE cnt7 = 7),
      |season AS (
      |  SELECT dow, CAST(SUM(det7) AS BIGINT) AS sd7, COUNT(*) AS cd
      |  FROM full7 GROUP BY 1),
      |snapped AS (
      |  SELECT dow,
      |    CAST(floor(CAST(sd7 AS DOUBLE) / (7.0 * CAST(cd AS DOUBLE)) * 1e6 + 0.5)
      |      AS BIGINT) AS s6
      |  FROM season),
      |center AS (
      |  SELECT CAST(floor(CAST(CAST(SUM(s6) AS BIGINT) AS DOUBLE)
      |    / CAST(COUNT(*) AS DOUBLE) + 0.5) AS BIGINT) AS m6 FROM snapped),
      |sadj AS (SELECT dow, s6 - m6 AS adj6 FROM snapped CROSS JOIN center)
      |SELECT day,
      |  ROUND(CAST(rev_c AS DOUBLE) / 100.0, 2) AS revenue,
      |  ROUND(CAST(sum7 AS DOUBLE) / 7.0 / 100.0, 6) AS trend,
      |  ROUND(CAST(adj6 AS DOUBLE) / 1e6 / 100.0, 6) AS seasonal,
      |  ROUND((CAST(rev_c AS DOUBLE) - CAST(sum7 AS DOUBLE) / 7.0
      |         - CAST(adj6 AS DOUBLE) / 1e6) / 100.0, 6) AS residual
      |FROM full7 JOIN sadj USING (dow)
      |ORDER BY day""".stripMargin

  // ---------------------------------------------------------------------
  // q106: Population Stability Index between the first and second half
  // of the order-date range — THE standard drift score a monitoring
  // pipeline computes between a reference window (training data) and
  // the current window (incoming data):
  //   PSI = Σ_bins (p_cur − p_ref) · ln(p_cur / p_ref)
  // over 10 equi-depth bins FIT ON THE REFERENCE (that asymmetry is
  // the point: bins follow the training distribution, and drift shows
  // up as current mass escaping them). Counts are Jeffreys-smoothed
  // (+½ per cell over +B/2 total) so an emptied cell reports a large
  // finite contribution instead of ±∞.
  //
  // Scale shape: the temporal split is one broadcast scalar (min/max
  // epoch-day → midpoint cut). Reference deciles ride
  // `Relational.rankByRange` + q83's rank formula — the corpus-sized
  // rank path that keeps its parallelism at 100× — and collapse to a
  // NINE-row edge frame, which broadcasts as one sorted array; bucket
  // assignment is then a per-row codegen'd filter(array) with no
  // fan-out join. The 2×10 histogram grid is literal-complete (q92:
  // a structurally empty cell still carries smoothed mass).
  // ---------------------------------------------------------------------
  private[operators] val PsiBins = 10

  def q106PsiDrift(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(floor(col("o_totalprice") * lit(100.0) + lit(0.5)).cast(LongType).as("cents"),
        col("o_orderkey"),
        datediff(to_date(col("o_orderdate")), lit("1970-01-01")).cast(LongType).as("eday"))
    val cut = o.agg(expr("(min(eday) + max(eday)) div 2").cast(LongType).as("cut"))
    val sided = o.crossJoin(broadcast(cut))
      .select(col("cents"), col("o_orderkey"),
        when(col("eday") <= col("cut"), 1L).otherwise(0L).as("is_ref"))
    psiDriftFrom(sided.sparkSession, sided)
  }

  /** PSI over any (cents, o_orderkey unique, is_ref ∈ {0,1}) frame —
    * spec entry point.
    */
  private[graft] def psiDriftFrom(spark: SparkSession, sidedIn: DataFrame): DataFrame = {
    // the side gate (one comparison) would otherwise re-evaluate per
    // consumer below; the frame is (cents, key, flag) — column-pruned
    val sided = sidedIn.graftCheckpoint(false)
    // equi-depth edges fit on the reference side only (q83's formula)
    val edges = Relational.rankByRange(sided.filter(col("is_ref") === 1L), Nil,
        Seq(col("cents").asc, col("o_orderkey").asc), "__rnk", "__n")
      .withColumn("bucket", expr(s"(__rnk - 1) * $PsiBins div __n + 1").cast(LongType))
      .filter(col("bucket") < PsiBins)
      .groupBy(col("bucket")).agg(max(col("cents")).as("edge"))
    // nine longs as ONE broadcast array row: bucket(v) = 1 + |{e < v}|
    // (upper-inclusive bins, mirroring max-per-bucket edges)
    val edgeArr = edges.agg(sort_array(collect_list(col("edge"))).as("earr"))
    val counted = sided.crossJoin(broadcast(edgeArr))
      .select(col("is_ref"),
        (lit(1) + size(filter(col("earr"), e => e < col("cents")))).cast(LongType)
          .as("bucket"))
      .groupBy(col("bucket"))
      .agg(sum(col("is_ref")).as("n_ref"), sum(lit(1L) - col("is_ref")).as("n_cur"))
    val grid = spark.range(1, PsiBins + 1).select(col("id").as("bucket"))
      .join(counted, Seq("bucket"), "left")
      .select(col("bucket"), coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
    val tot = grid.agg(sum(col("n_ref")).as("tr"), sum(col("n_cur")).as("tc"))
    val pRef = (col("n_ref").cast(DoubleType) + lit(0.5)) /
      (col("tr").cast(DoubleType) + lit(PsiBins * 0.5))
    val pCur = (col("n_cur").cast(DoubleType) + lit(0.5)) /
      (col("tc").cast(DoubleType) + lit(PsiBins * 0.5))
    val snapped = grid.crossJoin(broadcast(tot))
      .withColumn("p_ref", pRef).withColumn("p_cur", pCur)
      .withColumn("c9", floor((pCur - pRef) * log(pCur / pRef) * lit(1e9) + lit(0.5))
        .cast(LongType))
    val psi = snapped.agg(sum(col("c9")).as("psi9"))
    snapped.crossJoin(broadcast(psi))
      .select(col("bucket"), col("n_ref"), col("n_cur"),
        round(col("p_ref"), 6).as("p_ref"), round(col("p_cur"), 6).as("p_cur"),
        round(col("c9").cast(DoubleType) / lit(1e9), 6).as("psi_contrib"),
        round(col("psi9").cast(DoubleType) / lit(1e9), 6).as("psi"))
      .orderBy(col("bucket"))
  }

  val q106PsiDriftSql: String = {
    val pr = s"(CAST(n_ref AS DOUBLE) + 0.5) / (CAST(tr AS DOUBLE) + ${PsiBins * 0.5})"
    val pc = s"(CAST(n_cur AS DOUBLE) + 0.5) / (CAST(tc AS DOUBLE) + ${PsiBins * 0.5})"
    s"""WITH o AS (
       |  SELECT CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents,
       |    o_orderkey,
       |    CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS eday
       |  FROM orders),
       |cut AS (SELECT (MIN(eday) + MAX(eday)) // 2 AS cut FROM o),
       |sided AS (
       |  SELECT cents, o_orderkey,
       |    CASE WHEN eday <= cut THEN 1 ELSE 0 END AS is_ref
       |  FROM o CROSS JOIN cut),
       |rnk AS (
       |  SELECT cents,
       |    ROW_NUMBER() OVER (ORDER BY cents, o_orderkey) AS i,
       |    COUNT(*) OVER () AS n
       |  FROM sided WHERE is_ref = 1),
       |edges AS (
       |  SELECT CAST((i - 1) * $PsiBins // n + 1 AS BIGINT) AS bucket,
       |    CAST(MAX(cents) AS BIGINT) AS edge
       |  FROM rnk GROUP BY 1 HAVING CAST((i - 1) * $PsiBins // n + 1 AS BIGINT) < $PsiBins),
       |assigned AS (
       |  SELECT s.is_ref,
       |    1 + (SELECT COUNT(*) FROM edges e WHERE e.edge < s.cents) AS bucket
       |  FROM sided s),
       |counted AS (
       |  SELECT bucket, CAST(SUM(is_ref) AS BIGINT) AS n_ref,
       |    CAST(SUM(1 - is_ref) AS BIGINT) AS n_cur
       |  FROM assigned GROUP BY 1),
       |grid AS (
       |  SELECT CAST(g.bucket AS BIGINT) AS bucket,
       |    CAST(COALESCE(n_ref, 0) AS BIGINT) AS n_ref,
       |    CAST(COALESCE(n_cur, 0) AS BIGINT) AS n_cur
       |  FROM (SELECT unnest(range(1, ${PsiBins + 1})) AS bucket) g
       |  LEFT JOIN counted ON g.bucket = counted.bucket),
       |tot AS (
       |  SELECT CAST(SUM(n_ref) AS BIGINT) AS tr, CAST(SUM(n_cur) AS BIGINT) AS tc
       |  FROM grid),
       |snapped AS (
       |  SELECT *, $pr AS p_ref, $pc AS p_cur,
       |    CAST(floor((($pc) - ($pr)) * ln(($pc) / ($pr)) * 1e9 + 0.5) AS BIGINT) AS c9
       |  FROM grid CROSS JOIN tot),
       |x AS (SELECT CAST(SUM(c9) AS BIGINT) AS psi9 FROM snapped)
       |SELECT bucket, n_ref, n_cur,
       |  ROUND(p_ref, 6) AS p_ref, ROUND(p_cur, 6) AS p_cur,
       |  ROUND(CAST(c9 AS DOUBLE) / 1e9, 6) AS psi_contrib,
       |  ROUND(CAST(psi9 AS DOUBLE) / 1e9, 6) AS psi
       |FROM snapped CROSS JOIN x
       |ORDER BY bucket""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Streaming sibling of q106's current-side histogram: a STATELESS
  // per-row bucket stamp against literal reference edges (the fitted
  // edges ship to the monitor as a config constant — the monitoring
  // deployment shape, where reference bins are frozen artifacts of the
  // last training run), then an ordinary streaming groupBy count. Works
  // identically on a batch frame; StreamDriftSpec pins stream ≡ batch.
  // ---------------------------------------------------------------------
  private[graft] def bucketOf(value: Column, edges: Seq[Long]): Column =
    edges.foldLeft(lit(1L)) { (acc, e) =>
      acc + when(value > lit(e), 1L).otherwise(0L)
    }

  private[graft] def driftCountsFrom(df: DataFrame, valueCol: String,
                                     edges: Seq[Long]): DataFrame =
    df.select(bucketOf(col(valueCol), edges).as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"))

  // ---------------------------------------------------------------------
  // q120: autocorrelation function (lags 1..7) + Ljung-Box Q of the
  // daily revenue series — the standard "is there serial structure
  // left" diagnostic a forecasting/monitoring pipeline runs after
  // q105's decomposition (Box & Jenkins; Ljung & Box 1978):
  //   r_k = Σ_t (x_t − x̄)(x_{t−k} − x̄) / Σ_t (x_t − x̄)²
  //   Q_k = n(n+2) Σ_{j≤k} r_j² / (n−j)
  // over the row-sequence of observed days (rank index, so a missing
  // calendar day shortens the series instead of injecting a phantom
  // zero — the observed-sequence ACF convention).
  //
  // Scale shape: ONE corpus shuffle (groupBy day, map-side combined)
  // collapses everything to the |calendar-days| frame — bounded by the
  // date domain at ANY scale factor (q105's axis) — so the row_number
  // and the seven lag() reads ride one unpartitioned pass over ~2.4k
  // rows; the seven lag columns stack to a (lag, d, d_lag) frame and
  // the rest is a 7-row grid.
  //
  // Exactness: deviations stay integral by scaling — d_t = n·x_t − S
  // (cents·n grid, BIGINT); products widen to DECIMAL(38,0) before
  // summing (q90's discipline; d² ~ 5e24 at sf0.1, Σ ~ 1e28 — wide
  // headroom); r_k nano-snaps from ONE double division of two exact
  // decimals; each Ljung-Box term is pure BIGINT arithmetic on the
  // snapped grid ((r9² div (1e9·(n−k))) — exact integer division) and
  // Q's cumulative sum is an integer prefix over the 7-row lag frame.
  // Finals are one fixed-shape double expression each, rounded once.
  // ---------------------------------------------------------------------
  private[operators] val AcfMaxLag = 7

  def q120Acf(spark: SparkSession, dir: String): DataFrame =
    acfFrom(dailyRevenue(spark, dir))

  /** The nano-snapped autocorrelations (lag, r9, n) shared by q120 and
    * q140's Durbin-Levinson recursion.
    */
  private def acfR9From(daily: DataFrame): DataFrame = {
    // domain-bounded axis: |days| rows at any SF (q105's precedent);
    // checkpointed because idx fans out to the stats scalar, the
    // deviation frame, and the lag pass — without it each consumer
    // re-runs the corpus groupBy (q106's multi-consumer idiom)
    val wi = Window.orderBy(col("day"))
    val idx = daily.withColumn("i", row_number().over(wi).cast(LongType))
      .graftCheckpoint(false)
    val st = idx.agg(count(lit(1)).as("n"), sum(col("rev_c")).as("s"))
    val d = idx.crossJoin(broadcast(st))
      .select(col("i"), col("n"),
        (col("n") * col("rev_c") - col("s")).as("dv"))
    val wl = Window.orderBy(col("i"))
    val withLags = (1 to AcfMaxLag).foldLeft(d) { (df, k) =>
      df.withColumn(s"dl$k", lag(col("dv"), k).over(wl))
    }
    val stacked = withLags.select(col("dv"),
        explode(array((1 to AcfMaxLag).map(k =>
          struct(lit(k.toLong).as("lag"), col(s"dl$k").as("dl"))): _*)).as("p"))
      .select(col("dv"), col("p.lag").as("lag"), col("p.dl").as("dl"))
      .filter(col("dl").isNotNull)
    val den = d.agg(
      sum(col("dv").cast(DecimalType(38, 0)) * col("dv")).as("den"))
    val num = stacked.groupBy(col("lag"))
      .agg(sum(col("dv").cast(DecimalType(38, 0)) * col("dl")).as("num"))
    num.crossJoin(broadcast(den)).crossJoin(broadcast(st.select(col("n"))))
      .withColumn("r9", floor(col("num").cast(DoubleType)
        / col("den").cast(DoubleType) * lit(1e9) + lit(0.5)).cast(LongType))
  }

  /** ACF + Ljung-Box over any (day: DATE, rev_c: BIGINT) daily series —
    * spec entry point.
    */
  private[graft] def acfFrom(daily: DataFrame): DataFrame = {
    val wq = Window.orderBy(col("lag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    acfR9From(daily)
      .withColumn("term9", expr("(r9 * r9) div (1000000000L * (n - lag))"))
      .withColumn("q9", sum(col("term9")).over(wq))
      .select(col("lag"),
        round(col("r9").cast(DoubleType) / lit(1e9), 6).as("acf"),
        round((col("n") * (col("n") + lit(2L)) * col("q9")).cast(DoubleType)
          / lit(1e9), 4).as("lb_q"))
      .orderBy(col("lag"))
  }

  val q120AcfSql: String =
    s"""WITH ${acfCtesSql(AcfMaxLag)},
       |t AS (
       |  SELECT lag, n, r9,
       |    (r9 * r9) // (1000000000 * (n - lag)) AS term9
       |  FROM r),
       |q AS (
       |  SELECT *, CAST(SUM(term9) OVER (ORDER BY lag ROWS UNBOUNDED PRECEDING) AS BIGINT) AS q9
       |  FROM t)
       |SELECT lag, ROUND(CAST(r9 AS DOUBLE) / 1e9, 6) AS acf,
       |  ROUND(CAST(n * (n + 2) * q9 AS DOUBLE) / 1e9, 4) AS lb_q
       |FROM q ORDER BY lag""".stripMargin

  // ---------------------------------------------------------------------
  // q121: Theil-Sen robust trend of the daily revenue series (Theil
  // 1950; Sen 1968) — the median of all pairwise slopes, with the
  // matching median-residual intercept: the outlier-resistant sibling
  // of q56's least-squares fit (one corrupted day moves OLS, not this).
  //
  // Scale shape: the corpus collapses to the calendar-bounded daily
  // frame in ONE shuffle (q120's axis); the pairwise self-join is
  // |days|² — a constant of the DATE DOMAIN, not the corpus (~2.9M
  // pairs for 8 years of days at ANY scale factor) — and the slope
  // median rides `prefixSumByRange` over the distinct-slope grid, so
  // no single-partition sort ever sees the pair frame.
  //
  // Exactness: each pair's slope snaps once to the micro grid
  // (floor(Δrev/Δi·1e6 + 0.5) — identical IEEE division in both
  // engines); the median is BOTH middle order statistics summed on the
  // 2× grid (exact for even counts); residuals live on the integral
  // 2e6·rev − med2·i grid in DECIMAL(38,0); finals are one double
  // division each, rounded once.
  // ---------------------------------------------------------------------
  def q121TheilSen(spark: SparkSession, dir: String): DataFrame =
    theilSenFrom(dailyRevenue(spark, dir))

  /** Theil-Sen fit over any (day: DATE, rev_c: BIGINT) daily series —
    * spec entry point.
    */
  private[graft] def theilSenFrom(daily: DataFrame): DataFrame = {
    val d38 = DecimalType(38, 0)
    // calendar-bounded frame; three consumers (pairs×2, residuals)
    val idx = dayIndexed(daily)
    val a = idx.select(col("i").as("ia"), col("rev_c").as("ra"))
    val b = idx.select(col("i").as("ib"), col("rev_c").as("rb"))
    val slopes = a.join(b, col("ib") > col("ia"))
      .select(floor((col("rb") - col("ra")).cast(DoubleType)
        / (col("ib") - col("ia")).cast(DoubleType) * lit(1e6) + lit(0.5))
        .cast(LongType).as("s6"))
    // the |days|²/2 pair expansion is the expensive pass and the slope
    // grid has THREE consumers (both prefix passes + the pair-count
    // scalar) — checkpoint the grid (date-domain-bounded, ~2.9M rows at
    // 8 years of days regardless of SF) so the expansion runs ONCE
    val g = slopes.groupBy(col("s6")).agg(count(lit(1)).as("cnt"))
      .graftCheckpoint(false)
    val pre = Relational.prefixSumByRange(g, Nil, Seq(col("s6")),
      Seq("cum" -> col("cnt")))
    val np = g.agg(sum(col("cnt")).as("n_pairs"))
    val med = pre.crossJoin(broadcast(np))
      .agg(
        (min(when(col("cum") >= expr("(n_pairs + 1L) div 2L"), col("s6")))
          + min(when(col("cum") >= expr("n_pairs div 2L + 1L"), col("s6"))))
          .as("med2"),
        max(col("n_pairs")).as("n_pairs"))
    // residuals on the integral 2e6·rev − med2·i grid; |days| rows
    val res = idx.crossJoin(broadcast(med))
      .select(col("med2"), col("n_pairs"),
        (col("rev_c").cast(d38) * lit(2000000L)
          - col("med2").cast(d38) * col("i")).as("r2"))
    val wr = Window.orderBy(col("r2"))
    val rc = res
      .withColumn("crank", row_number().over(wr).cast(LongType))
      .withColumn("n_days", count(lit(1)).over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    rc.agg(
        max(col("n_days")).as("n_days"),
        max(col("n_pairs")).as("n_pairs"),
        max(col("med2")).as("med2"),
        (min(when(col("crank") === expr("(n_days + 1L) div 2L"), col("r2")))
          + min(when(col("crank") === expr("n_days div 2L + 1L"), col("r2"))))
          .as("int2"))
      .select(col("n_days"), col("n_pairs"),
        round(col("med2").cast(DoubleType) / lit(2e6), 6).as("slope_cents_per_day"),
        round(col("int2").cast(DoubleType) / lit(4e6), 6).as("intercept_cents"))
  }

  val q121TheilSenSql: String =
    s"""WITH ${dailyRevenueSql(byStatus = false)},
      |idx AS (SELECT ROW_NUMBER() OVER (ORDER BY day) AS i, rev_c FROM daily),
      |pairs AS (
      |  SELECT CAST(floor(CAST(b.rev_c - a.rev_c AS DOUBLE) / (b.i - a.i) * 1e6 + 0.5) AS BIGINT) AS s6
      |  FROM idx a JOIN idx b ON b.i > a.i),
      |g AS (SELECT s6, COUNT(*) AS cnt FROM pairs GROUP BY 1),
      |cum AS (
      |  SELECT s6,
      |    SUM(cnt) OVER (ORDER BY s6 ROWS UNBOUNDED PRECEDING) AS cum,
      |    SUM(cnt) OVER () AS np
      |  FROM g),
      |med AS (
      |  SELECT MIN(CASE WHEN cum >= (np + 1) // 2 THEN s6 END)
      |       + MIN(CASE WHEN cum >= np // 2 + 1 THEN s6 END) AS med2,
      |    CAST(MAX(np) AS BIGINT) AS n_pairs
      |  FROM cum),
      |res AS (
      |  SELECT med2, n_pairs,
      |    CAST(rev_c AS HUGEINT) * 2000000 - CAST(med2 AS HUGEINT) * i AS r2
      |  FROM idx CROSS JOIN med),
      |rc AS (
      |  SELECT *, ROW_NUMBER() OVER (ORDER BY r2) AS crank,
      |    COUNT(*) OVER () AS n_days
      |  FROM res)
      |SELECT CAST(MAX(n_days) AS BIGINT) AS n_days, MAX(n_pairs) AS n_pairs,
      |  ROUND(CAST(MAX(med2) AS DOUBLE) / 2e6, 6) AS slope_cents_per_day,
      |  ROUND(CAST(MIN(CASE WHEN crank = (n_days + 1) // 2 THEN r2 END)
      |    + MIN(CASE WHEN crank = n_days // 2 + 1 THEN r2 END) AS DOUBLE) / 4e6, 6) AS intercept_cents
      |FROM rc""".stripMargin

  // ---------------------------------------------------------------------
  // q122: Mann-Kendall trend test of the daily revenue series (Mann
  // 1945; Kendall 1975) — the nonparametric "is there ANY monotone
  // trend" significance test that pairs with q121's Theil-Sen slope
  // (the textbook pairing: MK decides IF a trend exists, Theil-Sen
  // says how steep it is):
  //   S = Σ_{i<j} sgn(x_j − x_i)
  //   Var(S)·18 = n(n−1)(2n+5) − Σ_g t_g(t_g−1)(2t_g+5)   (tie groups g)
  //   Z = (S − sgn(S)) / sqrt(Var(S))
  //
  // Scale shape: q121's axis exactly — the corpus collapses to the
  // calendar-bounded daily frame in ONE shuffle, the |days|² pair
  // frame is a constant of the DATE DOMAIN, and both reductions (sign
  // sum, tie-group mass) are scalar aggregates over domain-bounded
  // frames. Nothing here ever sees corpus-sized data after the first
  // groupBy.
  //
  // Exactness: S and the tie-corrected 18·Var(S) are exact BIGINTs
  // (revenue cents compare exactly; tie groups count exactly); Z is
  // ONE double expression — (S∓1)/sqrt(var18/18) — rounded once.
  // ---------------------------------------------------------------------
  def q122MannKendall(spark: SparkSession, dir: String): DataFrame =
    mannKendallFrom(dailyRevenue(spark, dir))

  /** Mann-Kendall statistics over any (day: DATE, rev_c: BIGINT) daily
    * series — spec entry point.
    */
  private[graft] def mannKendallFrom(daily: DataFrame): DataFrame = {
    // calendar-bounded frame; two consumers (pair frame ×2 sides, ties)
    val idx = dayIndexed(daily)
    val a = idx.select(col("i").as("ia"), col("rev_c").as("ra"))
    val b = idx.select(col("i").as("ib"), col("rev_c").as("rb"))
    val s = a.join(b, col("ib") > col("ia"))
      .agg(sum(signum(col("rb") - col("ra")).cast(LongType)).as("s_stat"))
    val ties = idx.groupBy(col("rev_c")).agg(count(lit(1)).as("t"))
      .agg(sum(col("t") * (col("t") - lit(1L)) * (lit(2L) * col("t") + lit(5L)))
        .as("tie18"),
        sum(col("t")).as("n_days"))
    s.crossJoin(broadcast(ties))
      .withColumn("var18",
        col("n_days") * (col("n_days") - lit(1L)) * (lit(2L) * col("n_days") + lit(5L))
          - col("tie18"))
      .select(col("n_days"), col("s_stat"), col("var18"),
        round(when(col("s_stat") > 0L,
            (col("s_stat") - lit(1L)).cast(DoubleType)
              / sqrt(col("var18").cast(DoubleType) / lit(18.0)))
          .when(col("s_stat") < 0L,
            (col("s_stat") + lit(1L)).cast(DoubleType)
              / sqrt(col("var18").cast(DoubleType) / lit(18.0)))
          .otherwise(lit(0.0)), 6).as("z"))
  }

  val q122MannKendallSql: String =
    s"""WITH ${dailyRevenueSql(byStatus = false)},
      |idx AS (SELECT ROW_NUMBER() OVER (ORDER BY day) AS i, rev_c FROM daily),
      |s AS (
      |  SELECT CAST(SUM(CASE WHEN b.rev_c > a.rev_c THEN 1
      |                       WHEN b.rev_c < a.rev_c THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
      |  FROM idx a JOIN idx b ON b.i > a.i),
      |ties AS (
      |  SELECT CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie18,
      |    CAST(SUM(t) AS BIGINT) AS n_days
      |  FROM (SELECT COUNT(*) AS t FROM idx GROUP BY rev_c)),
      |v AS (
      |  SELECT n_days, s_stat,
      |    n_days * (n_days - 1) * (2 * n_days + 5) - tie18 AS var18
      |  FROM s CROSS JOIN ties)
      |SELECT n_days, s_stat, var18,
      |  ROUND(CASE WHEN s_stat > 0 THEN (s_stat - 1) / sqrt(var18 / 18.0)
      |             WHEN s_stat < 0 THEN (s_stat + 1) / sqrt(var18 / 18.0)
      |             ELSE 0.0 END, 6) AS z
      |FROM v""".stripMargin

  // ---------------------------------------------------------------------
  // q123: CUSUM change-point scan of the daily revenue series (Page
  // 1954; the Pettitt-style single-change localization): the cumulative
  // deviation path C_t = Σ_{s≤t}(x_s − x̄) peaks (in absolute value) at
  // the most likely level-shift day; the report row carries the argmax
  // day, the normalized peak mass, and the exact before/after means the
  // monitoring runbook compares. q106 asks "did the DISTRIBUTION move
  // vs a reference"; q123 asks "WHEN did the level shift inside this
  // window" — the other half of a drift investigation.
  //
  // Scale shape: ONE corpus shuffle to the calendar-bounded daily frame
  // (q120's axis), then every pass — deviation prefix, argmax, the two
  // segment means — lives on |days| rows; the argmax is a 1-row
  // TakeOrdered (|C| desc, day asc — total order), never a full sort.
  //
  // Exactness: deviations live on the integral n·x − S grid (q120's
  // discipline) and the path prefix accumulates in DECIMAL(38,0), so
  // C'_t = n·C_t is exact; the argmax compares exact decimals with a
  // deterministic day tiebreak; segment means and the normalized peak
  // are one double division each, rounded once (the degenerate
  // peak-at-last-day case defines mean_after as 0 in both engines).
  // ---------------------------------------------------------------------
  def q123Cusum(spark: SparkSession, dir: String): DataFrame =
    cusumFrom(dailyRevenue(spark, dir))

  /** CUSUM change-point over any (day: DATE, rev_c: BIGINT) daily series
    * — spec entry point.
    */
  private[graft] def cusumFrom(daily: DataFrame): DataFrame = {
    val d38 = DecimalType(38, 0)
    val idx = dayIndexed(daily)
    val st = idx.agg(count(lit(1)).as("n"), sum(col("rev_c")).as("s"))
    // integral scaled path: c_t = Σ_{s≤t} (n·x_s − S) over |days| rows
    val wc = Window.orderBy(col("i"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val path = idx.crossJoin(broadcast(st))
      .withColumn("dv", (col("n") * col("rev_c") - col("s")).cast(d38))
      .withColumn("c", sum(col("dv")).over(wc))
      .withColumn("cum_rev", sum(col("rev_c")).over(wc))
    path
      .orderBy(abs(col("c")).desc, col("day").asc)
      .limit(1)
      .select(
        col("n").as("n_days"),
        col("day").as("cp_day"), col("i").as("cp_i"),
        round(abs(col("c")).cast(DoubleType) / col("n").cast(DoubleType), 4)
          .as("peak_cents"),
        round(col("cum_rev").cast(DoubleType) / col("i").cast(DoubleType), 4)
          .as("mean_before_cents"),
        when(col("n") > col("i"),
          round((col("s") - col("cum_rev")).cast(DoubleType)
            / (col("n") - col("i")).cast(DoubleType), 4))
          .otherwise(lit(0.0)).as("mean_after_cents"))
  }

  val q123CusumSql: String =
    s"""WITH ${dailyRevenueSql(byStatus = false)},
      |idx AS (SELECT ROW_NUMBER() OVER (ORDER BY day) AS i, day, rev_c FROM daily),
      |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(rev_c) AS BIGINT) AS s FROM idx),
      |path AS (
      |  SELECT i, day, n, s,
      |    SUM(CAST(n AS HUGEINT) * rev_c - s) OVER (ORDER BY i ROWS UNBOUNDED PRECEDING) AS c,
      |    CAST(SUM(rev_c) OVER (ORDER BY i ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_rev
      |  FROM idx CROSS JOIN st),
      |peak AS (SELECT * FROM path ORDER BY abs(c) DESC, day ASC LIMIT 1)
      |SELECT n AS n_days, day AS cp_day, i AS cp_i,
      |  ROUND(CAST(abs(c) AS DOUBLE) / n, 4) AS peak_cents,
      |  ROUND(CAST(cum_rev AS DOUBLE) / i, 4) AS mean_before_cents,
      |  CASE WHEN n > i
      |    THEN ROUND(CAST(s - cum_rev AS DOUBLE) / (n - i), 4)
      |    ELSE 0.0 END AS mean_after_cents
      |FROM peak""".stripMargin

  // ---------------------------------------------------------------------
  // q124: Wald-Wolfowitz runs test of the daily revenue series against
  // its own median (Wald & Wolfowitz 1940) — "is the sequence of
  // above/below-median days random, or does it clump?" The third leg of
  // the serial-structure battery: q120 measures linear autocorrelation,
  // q122 monotone trend, q124 catches ANY clumping (regime-switching,
  // level persistence) with no distributional assumption.
  //   R = #maximal same-sign runs, n1/n2 = #above/#below (ties dropped)
  //   E[R] = 1 + 2·n1·n2/n,  Var·n²(n−1) = 2n1n2(2n1n2−n),  n = n1+n2
  //   Z = (R − E[R]) / sqrt(Var)
  //
  // Scale shape: ONE corpus shuffle to the calendar-bounded daily frame
  // (q120's axis); the median lives on that |days| frame (2×median is
  // an exact integer — the house even-count discipline), the run-start
  // flags are one lag() pass over the same frame, and the test reduces
  // to a single scalar row.
  //
  // Exactness: classification compares 2·rev_c to the integer med2
  // exactly; R, n1, n2 are exact longs; Z is ONE double expression of
  // those integers — written with the same association order in both
  // engines — rounded once.
  // ---------------------------------------------------------------------
  def q124RunsTest(spark: SparkSession, dir: String): DataFrame =
    runsTestFrom(dailyRevenue(spark, dir))

  /** Runs-vs-median test over any (day: DATE, rev_c: BIGINT) daily
    * series — spec entry point.
    */
  private[graft] def runsTestFrom(daily: DataFrame): DataFrame = {
    val wv = Window.orderBy(col("rev_c"), col("day"))
    // |days| frame; two consumers (median scalar, signed sequence)
    val idx = daily.select(col("day"), col("rev_c"))
      .graftCheckpoint(false)
    val nRow = idx.agg(count(lit(1)).as("n_days"))
    val med = idx.withColumn("vrank", row_number().over(wv).cast(LongType))
      .crossJoin(broadcast(nRow))
      .agg((min(when(col("vrank") === expr("(n_days + 1L) div 2L"), col("rev_c")))
        + min(when(col("vrank") === expr("n_days div 2L + 1L"), col("rev_c"))))
        .as("med2"))
    val signed = idx.crossJoin(broadcast(med))
      .filter(lit(2L) * col("rev_c") =!= col("med2"))
      .withColumn("sgn", when(lit(2L) * col("rev_c") > col("med2"), 1L).otherwise(-1L))
    val wd = Window.orderBy(col("day"))
    signed
      .withColumn("newRun",
        when(lag(col("sgn"), 1).over(wd).isNull
          || lag(col("sgn"), 1).over(wd) =!= col("sgn"), 1L).otherwise(0L))
      .agg(
        sum(when(col("sgn") === 1L, 1L).otherwise(0L)).as("n_above"),
        sum(when(col("sgn") === -1L, 1L).otherwise(0L)).as("n_below"),
        sum(col("newRun")).as("runs"))
      .withColumn("n", col("n_above") + col("n_below"))
      .select(col("n").as("n_used"), col("n_above"), col("n_below"), col("runs"),
        round((col("runs").cast(DoubleType)
          - (lit(1.0) + lit(2.0) * col("n_above").cast(DoubleType)
            * col("n_below").cast(DoubleType) / col("n").cast(DoubleType)))
          / sqrt(lit(2.0) * col("n_above").cast(DoubleType)
            * col("n_below").cast(DoubleType)
            * (lit(2.0) * col("n_above").cast(DoubleType)
              * col("n_below").cast(DoubleType) - col("n").cast(DoubleType))
            / (col("n").cast(DoubleType) * col("n").cast(DoubleType)
              * (col("n").cast(DoubleType) - lit(1.0)))), 6).as("z"))
  }

  val q124RunsTestSql: String =
    s"""WITH ${dailyRevenueSql(byStatus = false)},
      |nrow AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM daily),
      |vr AS (
      |  SELECT rev_c, ROW_NUMBER() OVER (ORDER BY rev_c, day) AS vrank
      |  FROM daily),
      |med AS (
      |  SELECT MIN(CASE WHEN vrank = (n_days + 1) // 2 THEN rev_c END)
      |       + MIN(CASE WHEN vrank = n_days // 2 + 1 THEN rev_c END) AS med2
      |  FROM vr CROSS JOIN nrow),
      |signed AS (
      |  SELECT day, CASE WHEN 2 * rev_c > med2 THEN 1 ELSE -1 END AS sgn
      |  FROM daily CROSS JOIN med
      |  WHERE 2 * rev_c <> med2),
      |runs AS (
      |  SELECT sgn,
      |    CASE WHEN LAG(sgn) OVER (ORDER BY day) IS NULL
      |           OR LAG(sgn) OVER (ORDER BY day) <> sgn THEN 1 ELSE 0 END AS newRun
      |  FROM signed),
      |agg AS (
      |  SELECT CAST(SUM(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_above,
      |    CAST(SUM(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_below,
      |    CAST(SUM(newRun) AS BIGINT) AS runs
      |  FROM runs)
      |SELECT n_above + n_below AS n_used, n_above, n_below, runs,
      |  ROUND((CAST(runs AS DOUBLE)
      |    - (1.0 + 2.0 * CAST(n_above AS DOUBLE) * CAST(n_below AS DOUBLE)
      |      / CAST(n_above + n_below AS DOUBLE)))
      |    / sqrt(2.0 * CAST(n_above AS DOUBLE) * CAST(n_below AS DOUBLE)
      |      * (2.0 * CAST(n_above AS DOUBLE) * CAST(n_below AS DOUBLE)
      |        - CAST(n_above + n_below AS DOUBLE))
      |      / (CAST(n_above + n_below AS DOUBLE) * CAST(n_above + n_below AS DOUBLE)
      |        * (CAST(n_above + n_below AS DOUBLE) - 1.0))), 6) AS z
      |FROM agg""".stripMargin

  // ---------------------------------------------------------------------
  // q125: fixed-frequency periodogram of the daily revenue series — the
  // variance fraction a weekly/monthly/quarterly/annual harmonic
  // explains (Schuster 1898; the screening companion to q105: q105
  // ASSUMES the weekday period, q125 asks which candidate period the
  // data actually supports):
  //   a_p = Σ_t d_t·cos(2π(t mod p)/p),  b_p = Σ_t d_t·sin(…)
  //   power_p = 2(a_p² + b_p²) / (n·Σ d_t²)
  //
  // Scale shape: ONE corpus shuffle to the calendar-bounded daily frame
  // (q120's axis); the 4-period fan-out is a literal explode, so the
  // trig pass is 4·|days| rows collapsing straight into a 4-row hash
  // aggregate. Nothing downstream of the first groupBy scales with the
  // corpus.
  //
  // Exactness: deviations d_t live on the integral n·x − S grid;
  // cos/sin take the SMALL argument 2π·(t mod p)/p (bit-identical arg
  // in both engines — integer mod, one division, one multiply) and
  // micro-snap to the 1e6 grid, so a_p/b_p accumulate as exact
  // DECIMAL(38,0) sums of integer products; the power is ONE double
  // expression over those exact sums, rounded once.
  // ---------------------------------------------------------------------
  private[operators] val PeriodogramPeriods = Seq(7L, 30L, 91L, 365L)

  def q125Periodogram(spark: SparkSession, dir: String): DataFrame =
    periodogramFrom(dailyRevenue(spark, dir))

  /** Candidate-period spectral powers over any (day: DATE, rev_c:
    * BIGINT) daily series — spec entry point.
    */
  private[graft] def periodogramFrom(daily: DataFrame): DataFrame = {
    val d38 = DecimalType(38, 0)
    val idx = dayIndexed(daily)
    val st = idx.agg(count(lit(1)).as("n"), sum(col("rev_c")).as("s"))
    val d = idx.crossJoin(broadcast(st))
      .select(col("i"), col("n"),
        (col("n") * col("rev_c") - col("s")).as("dv"))
    val den = d.agg(sum(col("dv").cast(d38) * col("dv")).as("den"),
      max(col("n")).as("n"))
    val fan = d.select(col("i"), col("dv"),
        explode(array(PeriodogramPeriods.map(p => lit(p)): _*)).as("p"))
      .withColumn("arg",
        lit(2.0) * lit(math.Pi) * (col("i") % col("p")).cast(DoubleType)
          / col("p").cast(DoubleType))
      .withColumn("c6", floor(cos(col("arg")) * lit(1e6) + lit(0.5)).cast(LongType))
      .withColumn("s6", floor(sin(col("arg")) * lit(1e6) + lit(0.5)).cast(LongType))
    fan.groupBy(col("p"))
      .agg(sum(col("dv").cast(d38) * col("c6")).as("a6"),
        sum(col("dv").cast(d38) * col("s6")).as("b6"))
      .crossJoin(broadcast(den))
      .select(col("p").as("period"),
        round((col("a6").cast(DoubleType) * col("a6").cast(DoubleType)
          + col("b6").cast(DoubleType) * col("b6").cast(DoubleType)) * lit(2.0)
          / (col("n").cast(DoubleType) * col("den").cast(DoubleType) * lit(1e12)), 6)
          .as("power"))
      .orderBy(col("period"))
  }

  val q125PeriodogramSql: String = {
    val periods = PeriodogramPeriods.mkString(", ")
    s"""WITH $centeredDaysCtesSql,
       |den AS (SELECT SUM(CAST(dv AS HUGEINT) * dv) AS den, CAST(MAX(n) AS BIGINT) AS n
       |  FROM d),
       |fan AS (
       |  SELECT d.i, d.dv, p.p,
       |    2.0 * pi() * CAST(d.i % p.p AS DOUBLE) / CAST(p.p AS DOUBLE) AS arg
       |  FROM d CROSS JOIN (SELECT UNNEST(ARRAY[$periods]) AS p) p),
       |snapped AS (
       |  SELECT p, dv,
       |    CAST(floor(cos(arg) * 1e6 + 0.5) AS BIGINT) AS c6,
       |    CAST(floor(sin(arg) * 1e6 + 0.5) AS BIGINT) AS s6
       |  FROM fan),
       |g AS (
       |  SELECT p, SUM(CAST(dv AS HUGEINT) * c6) AS a6,
       |    SUM(CAST(dv AS HUGEINT) * s6) AS b6
       |  FROM snapped GROUP BY 1)
       |SELECT CAST(p AS BIGINT) AS period,
       |  ROUND((CAST(a6 AS DOUBLE) * CAST(a6 AS DOUBLE)
       |    + CAST(b6 AS DOUBLE) * CAST(b6 AS DOUBLE)) * 2.0
       |    / (CAST(n AS DOUBLE) * CAST(den AS DOUBLE) * 1e12), 6) AS power
       |FROM g CROSS JOIN den ORDER BY period""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q126: Page-Hinkley drift scan of the daily revenue series (Page
  // 1954) — the sequential-monitoring statistic the ONLINE detector
  // would have computed, replayed in batch: a frozen reference window
  // (first RefDays observed days) fixes μ0, then over the monitor tail
  //   m_t = Σ_{s≤t} (x_s − μ0),   PH↑_t = m_t − min_{s≤t} m_s,
  //   PH↓_t = max_{s≤t} m_s − m_t
  // and the report row carries both peak excursions and their days.
  // q123 localizes a shift against the FULL-window mean
  // (retrospective); q126 is the frozen-reference deployment shape —
  // the same statistic `streaming.PageHinkley` emits online, state
  // carried across micro-batches (stream ≡ batch pinned in
  // TemporalSpec).
  //
  // Scale shape: ONE corpus shuffle to the calendar-bounded daily
  // frame (q120's axis); the reference sum is a broadcast scalar and
  // the monitor path (prefix sum + running extrema + two 1-row
  // TakeOrdered argmaxes) lives on |days| rows.
  //
  // Exactness: deviations live on the integral RefDays·x − S_ref grid;
  // the path and extrema accumulate in DECIMAL(38,0); peaks rescale by
  // ONE double division each, rounded once.
  // ---------------------------------------------------------------------
  private[operators] val RefDays = 365L

  def q126PageHinkley(spark: SparkSession, dir: String): DataFrame =
    pageHinkleySummaryFrom(pageHinkleyPathFrom(dailyRevenue(spark, dir), RefDays))

  /** Den-scaled PH path over any (day: DATE, rev_c: BIGINT) daily
    * series: monitor rows (day, seq, ph_up, ph_dn) on the refN-scaled
    * cents grid — the exact frame `streaming.PageHinkley` emits, and
    * the spec's stream ≡ batch pivot.
    */
  private[graft] def pageHinkleyPathFrom(daily: DataFrame, refN: Long): DataFrame = {
    val d38 = DecimalType(38, 0)
    val idx = dayIndexed(daily)
    val ref = idx.filter(col("i") <= refN)
      .agg(sum(col("rev_c")).as("s_ref"), count(lit(1)).as("n_ref"))
    val wc = Window.orderBy(col("i"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    idx.filter(col("i") > refN).crossJoin(broadcast(ref))
      .withColumn("dev", (col("n_ref") * col("rev_c") - col("s_ref")).cast(d38))
      .withColumn("m", sum(col("dev")).over(wc))
      .select(col("day"), col("i").as("seq"), col("n_ref"), col("s_ref"),
        (col("m") - min(col("m")).over(wc)).cast(LongType).as("ph_up"),
        (max(col("m")).over(wc) - col("m")).cast(LongType).as("ph_dn"))
  }

  /** One-row report from a PH path frame — spec entry point. */
  private[graft] def pageHinkleySummaryFrom(path: DataFrame): DataFrame = {
    val up = path.orderBy(col("ph_up").desc, col("day").asc).limit(1)
      .select(col("n_ref"), col("s_ref"), col("day").as("up_peak_day"),
        col("ph_up").as("up_peak"))
    val dn = path.orderBy(col("ph_dn").desc, col("day").asc).limit(1)
      .select(col("day").as("dn_peak_day"), col("ph_dn").as("dn_peak"))
    val nm = path.agg(count(lit(1)).as("n_mon"))
    up.crossJoin(broadcast(dn)).crossJoin(broadcast(nm))
      .select(col("n_ref").as("n_ref"), col("n_mon"),
        round(col("s_ref").cast(DoubleType) / col("n_ref").cast(DoubleType), 4)
          .as("mu0_cents"),
        col("up_peak_day"),
        round(col("up_peak").cast(DoubleType) / col("n_ref").cast(DoubleType), 4)
          .as("max_ph_up_cents"),
        col("dn_peak_day"),
        round(col("dn_peak").cast(DoubleType) / col("n_ref").cast(DoubleType), 4)
          .as("max_ph_dn_cents"))
  }

  val q126PageHinkleySql: String =
    s"""WITH ${dailyRevenueSql(byStatus = false)},
       |idx AS (SELECT ROW_NUMBER() OVER (ORDER BY day) AS i, day, rev_c FROM daily),
       |ref AS (
       |  SELECT CAST(SUM(rev_c) AS BIGINT) AS s_ref, CAST(COUNT(*) AS BIGINT) AS n_ref
       |  FROM idx WHERE i <= $RefDays),
       |path AS (
       |  SELECT day, i, n_ref, s_ref,
       |    SUM(CAST(n_ref AS HUGEINT) * rev_c - s_ref)
       |      OVER (ORDER BY i ROWS UNBOUNDED PRECEDING) AS m
       |  FROM idx CROSS JOIN ref WHERE i > $RefDays),
       |ph AS (
       |  SELECT day, n_ref, s_ref,
       |    m - MIN(m) OVER (ORDER BY i ROWS UNBOUNDED PRECEDING) AS ph_up,
       |    MAX(m) OVER (ORDER BY i ROWS UNBOUNDED PRECEDING) - m AS ph_dn
       |  FROM path),
       |up AS (SELECT n_ref, s_ref, day AS up_peak_day, ph_up AS up_peak
       |  FROM ph ORDER BY ph_up DESC, day ASC LIMIT 1),
       |dn AS (SELECT day AS dn_peak_day, ph_dn AS dn_peak
       |  FROM ph ORDER BY ph_dn DESC, day ASC LIMIT 1),
       |nm AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_mon FROM ph)
       |SELECT n_ref, n_mon,
       |  ROUND(CAST(s_ref AS DOUBLE) / n_ref, 4) AS mu0_cents,
       |  up_peak_day,
       |  ROUND(CAST(up_peak AS DOUBLE) / n_ref, 4) AS max_ph_up_cents,
       |  dn_peak_day,
       |  ROUND(CAST(dn_peak AS DOUBLE) / n_ref, 4) AS max_ph_dn_cents
       |FROM up CROSS JOIN dn CROSS JOIN nm""".stripMargin

  // ---------------------------------------------------------------------
  // q130: log-rank test comparing the click→purchase survival curves of
  // the two user cohorts (even vs odd user_id) — the INFERENCE sibling
  // of q104's Kaplan-Meier ESTIMATE (Mantel 1966; Peto & Peto 1972):
  // q104 draws each curve, the log-rank test asks "are these two curves
  // the same curve", the first question any conversion-latency A/B
  // readout answers. At each pooled event time t_i with d_i events and
  // n_i at risk (n_1i of them in cohort 1):
  //   E_1i = d_i·n_1i/n_i                         (hypergeometric mean)
  //   V_i  = d_i·(n_1i/n_i)·(1−n_1i/n_i)·(n_i−d_i)/(n_i−1)
  //   Z    = (O_1 − ΣE_1i)/√(ΣV_i),   O_1 = Σd_1i
  //
  // Scale shape: exactly q104's — two user-keyed shuffles build one
  // (grp, dur_s, obs) row per user, then the corpus is GONE: the risk
  // table lives on the pooled distinct-seconds grid, both cohorts'
  // risk-set depletions ride ONE `prefixSumByRange` pass (two measures,
  // same slices), and the reduction is a single scalar aggregate.
  //
  // Exactness: risk/event counts are exact integers; E and V have
  // varying denominators (n_i resp. n_i²(n_i−1)) so each step's value
  // nano-snaps from a fixed-shape double expression (q104's term9
  // discipline) and accumulates in DECIMAL(38,0); Z is ONE double
  // division of the two snapped sums, rounded once. Ties follow q104's
  // convention (censored-at-t users are still at risk at t).
  // ---------------------------------------------------------------------
  def q130LogRank(spark: SparkSession, dir: String): DataFrame = {
    val dur = clickToPurchase(spark, dir)
      .select(
        (col("user_id") % lit(2L)).as("grp"),
        expr("(coalesce(pmin, l) - c) div 1000000L").cast(LongType).as("dur_s"),
        when(col("pmin").isNotNull, 1L).otherwise(0L).as("obs"))
    logRankFrom(dur)
  }

  /** Log-rank Z over any (grp: 0/1, dur_s, obs) frame — spec entry
    * point. Cohort 1 = grp == 1.
    */
  private[graft] def logRankFrom(dur: DataFrame): DataFrame = {
    val d38 = DecimalType(38, 0)
    val g = dur.groupBy(col("dur_s"))
      .agg(sum(col("obs")).as("d"), sum(lit(1L) - col("obs")).as("w"),
        sum(col("obs") * col("grp")).as("d1"),
        sum((lit(1L) - col("obs")) * col("grp")).as("w1"))
    val tot = g.agg(sum(col("d") + col("w")).as("n_total"),
      sum(col("d1") + col("w1")).as("n1_total"))
    val steps = Relational.prefixSumByRange(g, Nil, Seq(col("dur_s")),
        Seq("cum" -> (col("d") + col("w")), "cum1" -> (col("d1") + col("w1"))))
      .crossJoin(broadcast(tot))
      .withColumn("nr", col("n_total") - col("cum") + col("d") + col("w"))
      .withColumn("n1r", col("n1_total") - col("cum1") + col("d1") + col("w1"))
      .filter(col("d") > 0L)
      // fixed-shape snapped step terms: both engines evaluate the SAME
      // left-associated double expression before the one floor
      .withColumn("e9", floor(
        col("d").cast(DoubleType) * col("n1r").cast(DoubleType)
          / col("nr").cast(DoubleType) * lit(1e9) + lit(0.5)).cast(LongType))
      .withColumn("v9", when(col("nr") > 1L, floor(
        col("d").cast(DoubleType)
          * (col("n1r").cast(DoubleType) / col("nr").cast(DoubleType))
          * (lit(1.0) - col("n1r").cast(DoubleType) / col("nr").cast(DoubleType))
          * ((col("nr") - col("d")).cast(DoubleType)
            / (col("nr") - lit(1L)).cast(DoubleType))
          * lit(1e9) + lit(0.5)).cast(LongType)).otherwise(0L))
    steps.agg(count(lit(1)).as("n_steps"), sum(col("d1")).as("o1"),
        sum(col("e9").cast(d38)).as("e9s"), sum(col("v9").cast(d38)).as("v9s"))
      .select(col("n_steps"), col("o1"),
        round(col("e9s").cast(DoubleType) / lit(1e9), 6).as("e1"),
        round(col("v9s").cast(DoubleType) / lit(1e9), 6).as("v1"),
        when(col("v9s") > lit(0),
          round((col("o1").cast(DoubleType)
              - col("e9s").cast(DoubleType) / lit(1e9))
            / sqrt(col("v9s").cast(DoubleType) / lit(1e9)), 6))
          .otherwise(lit(0.0)).as("z"))
  }

  val q130LogRankSql: String =
    s"""WITH $clickPurchaseCtesSql,
      |dur AS (
      |  SELECT user_id % 2 AS grp,
      |    CAST((COALESCE(pmin, l) - c) // 1000000 AS BIGINT) AS dur_s,
      |    CASE WHEN pmin IS NOT NULL THEN 1 ELSE 0 END AS obs
      |  FROM u LEFT JOIN p USING (user_id)),
      |g AS (
      |  SELECT dur_s,
      |    CAST(SUM(obs) AS BIGINT) AS d, CAST(SUM(1 - obs) AS BIGINT) AS w,
      |    CAST(SUM(obs * grp) AS BIGINT) AS d1,
      |    CAST(SUM((1 - obs) * grp) AS BIGINT) AS w1
      |  FROM dur GROUP BY 1),
      |t AS (
      |  SELECT CAST(SUM(d + w) AS BIGINT) AS n_total,
      |    CAST(SUM(d1 + w1) AS BIGINT) AS n1_total FROM g),
      |c2 AS (
      |  SELECT dur_s, d, w, d1, w1,
      |    CAST(SUM(d + w) OVER (ORDER BY dur_s ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
      |    CAST(SUM(d1 + w1) OVER (ORDER BY dur_s ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum1
      |  FROM g),
      |s AS (
      |  SELECT d, d1,
      |    n_total - cum + d + w AS nr, n1_total - cum1 + d1 + w1 AS n1r
      |  FROM c2 CROSS JOIN t
      |  WHERE d > 0),
      |v AS (
      |  SELECT d, d1, nr, n1r,
      |    CAST(floor(CAST(d AS DOUBLE) * CAST(n1r AS DOUBLE)
      |      / CAST(nr AS DOUBLE) * 1e9 + 0.5) AS BIGINT) AS e9,
      |    CASE WHEN nr > 1 THEN
      |      CAST(floor(CAST(d AS DOUBLE)
      |        * (CAST(n1r AS DOUBLE) / CAST(nr AS DOUBLE))
      |        * (1.0 - CAST(n1r AS DOUBLE) / CAST(nr AS DOUBLE))
      |        * (CAST(nr - d AS DOUBLE) / CAST(nr - 1 AS DOUBLE))
      |        * 1e9 + 0.5) AS BIGINT)
      |    ELSE 0 END AS v9
      |  FROM s)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_steps,
      |  CAST(SUM(d1) AS BIGINT) AS o1,
      |  ROUND(CAST(SUM(e9) AS DOUBLE) / 1e9, 6) AS e1,
      |  ROUND(CAST(SUM(v9) AS DOUBLE) / 1e9, 6) AS v1,
      |  CASE WHEN SUM(v9) > 0 THEN
      |    ROUND((CAST(SUM(d1) AS DOUBLE) - CAST(SUM(e9) AS DOUBLE) / 1e9)
      |      / sqrt(CAST(SUM(v9) AS DOUBLE) / 1e9), 6)
      |  ELSE 0.0 END AS z
      |FROM v""".stripMargin

  // ---------------------------------------------------------------------
  // q133: Durbin-Watson serial-correlation test of the per-status daily
  // OLS residuals (Durbin & Watson 1950) — the residual-diagnostic
  // member of the serial-structure battery: q120's ACF asks "does the
  // RAW series autocorrelate", DW asks "after the trend fit, do the
  // RESIDUALS still drag" — the check that decides whether q56-style
  // OLS standard errors are trustworthy at all:
  //   DW = Σ_{t≥2} (e_t − e_{t−1})² / Σ_t e_t²   (≈ 2(1 − ρ₁))
  //
  // Scale shape: q120's axis — ONE corpus shuffle collapses orders to
  // the |status × calendar-days| frame (domain-bounded at ANY SF);
  // the fit moments come from one hash aggregate over that frame, the
  // residual pass is a broadcast join of the 3-row moment table back
  // onto it, and the lag differences ride a per-status window over the
  // bounded frame. Nothing corpus-sized ever sorts or windows.
  //
  // Exactness: residuals stay EXACT on the common n·V denominator —
  //   E_i = n·V·y_i − V·Σy + N·Σi − n·N·i   (DECIMAL(38,0); ≤ ~1e25)
  // with V = nΣi² − (Σi)², N = nΣiy − ΣiΣy — then snap ONCE to the
  // milli-cent grid via the same fixed-shape double division in both
  // engines; the DW numerator/denominator are pure integer sums of
  // squared snapped residuals (≤ ~1e27, DECIMAL(38,0) / HUGEINT) and
  // DW itself is ONE double division, rounded once. Groups need n ≥ 3
  // (guarantees V > 0); a zero-variance residual vector nulls out via
  // the den > 0 guard (q56's discipline).
  // ---------------------------------------------------------------------
  def q133DurbinWatson(spark: SparkSession, dir: String): DataFrame =
    durbinWatsonFrom(dailyRevenue(spark, dir, byStatus = true))

  /** Exact per-group OLS residual pass shared by q133/q136: (grp, i, n,
    * r3) with r3 the milli-cent-snapped residual of the linear day-index
    * fit (groups need n ≥ 3 observed days; V > 0 guaranteed).
    */
  private[graft] def olsResiduals(daily: DataFrame): DataFrame = {
    val d38 = DecimalType(38, 0)
    val wi = Window.partitionBy(col("grp")).orderBy(col("day"))
    // |grp × days| frame, two consumers (moment agg + residual pass)
    val idx = daily.withColumn("i", row_number().over(wi).cast(LongType))
      .graftCheckpoint(false)
    val st = idx.groupBy(col("grp"))
      .agg(count(lit(1)).as("n"), sum(col("i")).as("si"),
        sum(col("rev_c")).as("sy"),
        sum(col("i") * col("i")).as("sii"),
        sum(col("i").cast(d38) * col("rev_c")).as("siy"))
      .filter(col("n") >= lit(3L))
      .select(col("grp"), col("n"), col("si"), col("sy"),
        (col("sii").cast(d38) * col("n") - col("si").cast(d38) * col("si")).as("v"),
        (col("siy") * col("n") - col("si").cast(d38) * col("sy")).as("nm"))
    idx.join(broadcast(st), "grp")
      .select(col("grp"), col("i"), col("n"),
        floor((col("rev_c").cast(d38) * col("v") * col("n")
            - col("v") * col("sy") + col("nm") * col("si")
            - col("nm") * col("n") * col("i")).cast(DoubleType)
          / (col("v") * col("n")).cast(DoubleType) * lit(1000.0) + lit(0.5))
          .cast(LongType).as("r3"))
  }

  /** DW over any (grp, day: DATE, rev_c: BIGINT) daily series — spec
    * entry point.
    */
  private[graft] def durbinWatsonFrom(daily: DataFrame): DataFrame = {
    val d38 = DecimalType(38, 0)
    val r = olsResiduals(daily)
    val wl = Window.partitionBy(col("grp")).orderBy(col("i"))
    val dnum = col("num").cast(DoubleType)
    val dden = col("den").cast(DoubleType)
    r.withColumn("pr3", lag(col("r3"), 1).over(wl))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("r3").cast(d38) * col("r3")).as("den"),
        sum(when(col("pr3").isNotNull,
            (col("r3") - col("pr3")).cast(d38) * (col("r3") - col("pr3")))
          .otherwise(lit(0L).cast(d38))).as("num"))
      .select(col("grp"), col("n_days"),
        when(col("den") > 0, round(dnum / dden, 6)).as("dw"),
        when(col("den") > 0,
          round(lit(1.0) - dnum / dden / lit(2.0), 6)).as("rho1"))
      .orderBy(col("grp"))
  }

  val q133DurbinWatsonSql: String =
    s"""WITH ${olsResidualCtesSql("grp, i")},
      |l AS (
      |  SELECT grp, r3, LAG(r3) OVER (PARTITION BY grp ORDER BY i) AS pr3
      |  FROM r),
      |s AS (
      |  SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_days,
      |    SUM(CAST(r3 AS HUGEINT) * r3) AS den,
      |    SUM(CASE WHEN pr3 IS NOT NULL
      |      THEN CAST(r3 - pr3 AS HUGEINT) * (r3 - pr3) ELSE 0 END) AS num
      |  FROM l GROUP BY 1)
      |SELECT grp, n_days,
      |  CASE WHEN den > 0
      |    THEN ROUND(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) END AS dw,
      |  CASE WHEN den > 0
      |    THEN ROUND(1.0 - CAST(num AS DOUBLE) / CAST(den AS DOUBLE) / 2.0, 6)
      |    END AS rho1
      |FROM s ORDER BY grp""".stripMargin

  // ---------------------------------------------------------------------
  // q136: Breusch-Pagan heteroscedasticity test (Breusch & Pagan 1979,
  // Koenker 1981's studentized LM form) of the per-status daily OLS
  // fit — the variance sibling of q133: DW asks "do the residuals still
  // DRAG after the trend fit", BP asks "does their VARIANCE drift with
  // the regressor" — the check that decides between plain and robust
  // (White) standard errors. Auxiliary regression of the squared
  // standardized residual z² on the day index i:
  //   LM = n·R²_aux ~ χ²(1) under homoscedasticity.
  //
  // Scale shape: q133's axis — the corpus collapses to the bounded
  // |status × days| frame in ONE shuffle; residuals ride the shared
  // olsResiduals pass (broadcast moment join), the standardizing σ̂ is
  // a per-group scalar broadcast back, and the auxiliary R² comes from
  // one hash aggregate of integer moments over the bounded frame.
  //
  // Exactness: r3 is q133's exactly-snapped residual; z micro-snaps
  // (×1e6) from ONE fixed-shape double expression r3/√(Σr3²/n) —
  // identical in DuckDB — so the auxiliary moments Σz², Σi·z², Σz⁴
  // are pure integers (DECIMAL(38,0); z⁴ ≤ ~1.3e27 per row at a 6σ
  // residual, Σ bounded by the day domain, NOT the corpus). R² and LM
  // are each one double expression over those integers, rounded once.
  // Groups whose residuals are all zero (σ̂ = 0) drop, as do zero-
  // variance auxiliary vectors (vu ≤ 0) — the q56 degenerate guard.
  // ---------------------------------------------------------------------
  def q136BreuschPagan(spark: SparkSession, dir: String): DataFrame =
    breuschPaganFrom(dailyRevenue(spark, dir, byStatus = true))

  /** RMS-standardized residuals shared by q136/q137: (grp, i, n, zu6)
    * with zu6 = r3/√(Σr3²/n) micro-snapped; zero-variance groups drop.
    */
  private[graft] def standardizedResiduals(daily: DataFrame): DataFrame = {
    val d38 = DecimalType(38, 0)
    val r = olsResiduals(daily)
    val ss = r.groupBy(col("grp"))
      .agg(sum(col("r3").cast(d38) * col("r3")).as("ss2"), max(col("n")).as("nn"))
      .filter(col("ss2") > lit(0L))
    r.join(broadcast(ss), "grp")
      .select(col("grp"), col("i"), col("nn").as("n"),
        floor(col("r3").cast(DoubleType)
            / sqrt(col("ss2").cast(DoubleType) / col("nn").cast(DoubleType))
          * lit(1e6) + lit(0.5)).cast(LongType).as("zu6"))
  }

  /** Koenker-BP over any (grp, day: DATE, rev_c: BIGINT) daily series —
    * spec entry point.
    */
  private[graft] def breuschPaganFrom(daily: DataFrame): DataFrame = {
    val d38 = DecimalType(38, 0)
    val z = standardizedResiduals(daily)
    val u = col("zu6").cast(d38) * col("zu6")
    val mo = z.groupBy(col("grp"))
      .agg(max(col("n")).as("n"), sum(col("i")).as("si"),
        sum((col("i") * col("i")).cast(d38)).as("sii"),
        sum(u).as("su"),
        sum(col("i").cast(d38) * col("zu6") * col("zu6")).as("siu"),
        sum(u * u).as("suu"))
      .select(col("grp"), col("n"),
        (col("sii") * col("n") - col("si").cast(d38) * col("si")).as("vi"),
        (col("siu") * col("n") - col("si").cast(d38) * col("su")).as("nm"),
        (col("suu") * col("n") - col("su") * col("su")).as("vu"))
      .filter(col("vu") > lit(0L))
    val r2 = ((col("nm").cast(DoubleType) * col("nm").cast(DoubleType))
      / (col("vi").cast(DoubleType) * col("vu").cast(DoubleType)))
    mo.select(col("grp"), col("n").as("n_days"),
        round(r2, 6).as("r2_aux"),
        round(col("n").cast(DoubleType) * r2, 6).as("bp_lm"))
      .orderBy(col("grp"))
  }

  val q136BreuschPaganSql: String =
    s"""WITH ${olsResidualCtesSql("grp, i, n")},
      |$residualSsCteSql,
      |z AS (
      |  SELECT r.grp, r.i, ss.nn AS n,
      |    CAST(floor(CAST(r3 AS DOUBLE)
      |        / sqrt(CAST(ss2 AS DOUBLE) / CAST(ss.nn AS DOUBLE))
      |      * 1e6 + 0.5) AS BIGINT) AS zu6
      |  FROM r JOIN ss USING (grp)),
      |mo AS (
      |  SELECT grp, CAST(MAX(n) AS BIGINT) AS n, CAST(SUM(i) AS BIGINT) AS si,
      |    SUM(CAST(i * i AS HUGEINT)) AS sii,
      |    SUM(CAST(zu6 AS HUGEINT) * zu6) AS su,
      |    SUM(CAST(i AS HUGEINT) * zu6 * zu6) AS siu,
      |    SUM((CAST(zu6 AS HUGEINT) * zu6) * (CAST(zu6 AS HUGEINT) * zu6)) AS suu
      |  FROM z GROUP BY 1),
      |vv AS (
      |  SELECT grp, n,
      |    sii * n - CAST(si AS HUGEINT) * si AS vi,
      |    siu * n - CAST(si AS HUGEINT) * su AS nm,
      |    suu * n - su * su AS vu
      |  FROM mo)
      |SELECT grp, n AS n_days,
      |  ROUND(CAST(nm AS DOUBLE) * CAST(nm AS DOUBLE)
      |    / (CAST(vi AS DOUBLE) * CAST(vu AS DOUBLE)), 6) AS r2_aux,
      |  ROUND(CAST(n AS DOUBLE) * (CAST(nm AS DOUBLE) * CAST(nm AS DOUBLE)
      |    / (CAST(vi AS DOUBLE) * CAST(vu AS DOUBLE))), 6) AS bp_lm
      |FROM vv
      |WHERE vu > 0
      |ORDER BY grp""".stripMargin

  // ---------------------------------------------------------------------
  // q137: Jarque-Bera normality test (Jarque & Bera 1980) of the
  // per-status standardized OLS residuals — the distribution-SHAPE
  // member of the residual-diagnostic triple: q133's DW reads serial
  // drag, q136's BP reads variance drift, JB reads skew/fat tails —
  // the check that decides whether the χ²/t thresholds the other tests
  // quote are even meaningful:
  //   S = m₃/m₂^{3/2},  K = m₄/m₂²,  JB = n·(S²/6 + (K−3)²/24) ~ χ²(2)
  //
  // Scale shape: identical to q136 — the corpus collapses to the
  // bounded |status × days| frame once, residuals ride the shared
  // olsResiduals + standardizedResiduals passes (broadcast moment
  // joins), and S/K/JB come from ONE hash aggregate of integer moment
  // sums over the bounded frame.
  //
  // Exactness: zu6 is the shared micro-snapped standardized residual,
  // so Σz², Σz³ (signed), Σz⁴ are pure integers (DECIMAL(38,0); z⁴ ≤
  // ~1.3e27 per row at 6σ, Σ day-domain-bounded). m₂^{3/2} is written
  // m₂·√m₂ — sqrt is IEEE-correctly-rounded in BOTH engines, unlike
  // pow(x, 1.5), which is deliberately avoided. S, K, JB are each one
  // fixed-shape double expression over the exact sums, rounded once.
  // ---------------------------------------------------------------------
  def q137JarqueBera(spark: SparkSession, dir: String): DataFrame =
    jarqueBeraFrom(dailyRevenue(spark, dir, byStatus = true))

  /** JB over any (grp, day: DATE, rev_c: BIGINT) daily series — spec
    * entry point.
    */
  private[graft] def jarqueBeraFrom(daily: DataFrame): DataFrame = {
    val d38 = DecimalType(38, 0)
    val z2 = col("zu6").cast(d38) * col("zu6")
    val mo = standardizedResiduals(daily).groupBy(col("grp"))
      .agg(max(col("n")).as("n"), sum(z2).as("sz2"),
        sum(z2 * col("zu6")).as("sz3"), sum(z2 * z2).as("sz4"))
    def dd(c: String) = col(c).cast(DoubleType)
    val m2 = dd("sz2") / dd("n")
    val m3 = dd("sz3") / dd("n")
    val m4 = dd("sz4") / dd("n")
    // S and K are dimensionless, so the micro grid cancels exactly:
    // m₃ᵘ/(m₂ᵘ)^{3/2} = 1e18·m₃ / (1e18·m₂^{3/2}) = S
    val s = m3 / (m2 * sqrt(m2))
    val kk = m4 / (m2 * m2)
    mo.select(col("grp"), col("n").as("n_days"),
        round(s, 6).as("skewness"),
        round(kk, 6).as("kurtosis"),
        round(dd("n") * (s * s / lit(6.0)
          + (kk - lit(3.0)) * (kk - lit(3.0)) / lit(24.0)), 6).as("jb"))
      .orderBy(col("grp"))
  }

  val q137JarqueBeraSql: String =
    s"""WITH ${olsResidualCtesSql("grp, i, n")},
      |$residualSsCteSql,
      |z AS (
      |  SELECT r.grp, ss.nn AS n,
      |    CAST(floor(CAST(r3 AS DOUBLE)
      |        / sqrt(CAST(ss2 AS DOUBLE) / CAST(ss.nn AS DOUBLE))
      |      * 1e6 + 0.5) AS BIGINT) AS zu6
      |  FROM r JOIN ss USING (grp)),
      |mo AS (
      |  SELECT grp, CAST(MAX(n) AS BIGINT) AS n,
      |    SUM(CAST(zu6 AS HUGEINT) * zu6) AS sz2,
      |    SUM(CAST(zu6 AS HUGEINT) * zu6 * zu6) AS sz3,
      |    SUM((CAST(zu6 AS HUGEINT) * zu6) * (CAST(zu6 AS HUGEINT) * zu6)) AS sz4
      |  FROM z GROUP BY 1),
      |e AS (
      |  SELECT grp, n,
      |    (CAST(sz3 AS DOUBLE) / CAST(n AS DOUBLE))
      |      / ((CAST(sz2 AS DOUBLE) / CAST(n AS DOUBLE))
      |        * sqrt(CAST(sz2 AS DOUBLE) / CAST(n AS DOUBLE))) AS s,
      |    (CAST(sz4 AS DOUBLE) / CAST(n AS DOUBLE))
      |      / ((CAST(sz2 AS DOUBLE) / CAST(n AS DOUBLE))
      |        * (CAST(sz2 AS DOUBLE) / CAST(n AS DOUBLE))) AS kk
      |  FROM mo)
      |SELECT grp, n AS n_days,
      |  ROUND(s, 6) AS skewness,
      |  ROUND(kk, 6) AS kurtosis,
      |  ROUND(CAST(n AS DOUBLE) * (s * s / 6.0
      |    + (kk - 3.0) * (kk - 3.0) / 24.0), 6) AS jb
      |FROM e
      |ORDER BY grp""".stripMargin

  // ---------------------------------------------------------------------
  // q138: Engle's ARCH LM test (Engle 1982) — does the residual
  // VARIANCE cluster in time: the serial sibling of q136 (BP reads
  // variance drifting with the REGRESSOR, ARCH reads variance
  // following its own YESTERDAY — volatility clustering). First-order
  // auxiliary regression of the squared standardized residual on its
  // lag, u_t = a + b·u_{t−1}:
  //   LM = (n−1)·R²_aux ~ χ²(1) under "no ARCH effect".
  //
  // Scale shape: identical to q136/q137 — the corpus collapses to the
  // bounded |status × days| frame once; the lag pair rides one window
  // pass over the bounded frame and R² comes from ONE hash aggregate
  // of integer moments.
  //
  // Exactness: u = zu6² is the shared exact integer (≤ ~1.3e27-scale
  // fourth powers in the moment sums, DECIMAL(38,0), day-domain-
  // bounded); the five auxiliary moments are pure integer sums, R²/LM
  // are each one fixed-shape double expression rounded once, and
  // degenerate variance vectors (vx or vy ≤ 0) drop per the q56 guard.
  // ---------------------------------------------------------------------
  def q138ArchLm(spark: SparkSession, dir: String): DataFrame =
    archLmFrom(dailyRevenue(spark, dir, byStatus = true))

  /** ARCH(1) LM over any (grp, day: DATE, rev_c: BIGINT) daily series —
    * spec entry point.
    */
  private[graft] def archLmFrom(daily: DataFrame): DataFrame = {
    val d38 = DecimalType(38, 0)
    val wl = Window.partitionBy(col("grp")).orderBy(col("i"))
    val pairs = standardizedResiduals(daily)
      .withColumn("u", col("zu6").cast(d38) * col("zu6"))
      .withColumn("ul", lag(col("u"), 1).over(wl))
      .filter(col("ul").isNotNull)
    val mo = pairs.groupBy(col("grp"))
      .agg(count(lit(1)).as("np"),
        sum(col("u")).as("sy"), sum(col("ul")).as("sx"),
        sum(col("u") * col("ul")).as("sxy"),
        sum(col("u") * col("u")).as("syy"),
        sum(col("ul") * col("ul")).as("sxx"))
      .select(col("grp"), col("np"),
        (col("sxx") * col("np") - col("sx") * col("sx")).as("vx"),
        (col("syy") * col("np") - col("sy") * col("sy")).as("vy"),
        (col("sxy") * col("np") - col("sx") * col("sy")).as("nm"))
      .filter(col("vx") > lit(0L) && col("vy") > lit(0L))
    val r2 = ((col("nm").cast(DoubleType) * col("nm").cast(DoubleType))
      / (col("vx").cast(DoubleType) * col("vy").cast(DoubleType)))
    mo.select(col("grp"), col("np").as("n_pairs"),
        round(r2, 6).as("r2_aux"),
        round(col("np").cast(DoubleType) * r2, 6).as("arch_lm"))
      .orderBy(col("grp"))
  }

  val q138ArchLmSql: String =
    s"""WITH ${olsResidualCtesSql("grp, i, n")},
      |$residualSsCteSql,
      |z AS (
      |  SELECT r.grp, r.i,
      |    CAST(floor(CAST(r3 AS DOUBLE)
      |        / sqrt(CAST(ss2 AS DOUBLE) / CAST(ss.nn AS DOUBLE))
      |      * 1e6 + 0.5) AS BIGINT) AS zu6
      |  FROM r JOIN ss USING (grp)),
      |p AS (
      |  SELECT grp, CAST(zu6 AS HUGEINT) * zu6 AS u,
      |    LAG(CAST(zu6 AS HUGEINT) * zu6) OVER (PARTITION BY grp ORDER BY i) AS ul
      |  FROM z),
      |mo AS (
      |  SELECT grp, CAST(COUNT(*) AS BIGINT) AS np,
      |    SUM(u) AS sy, SUM(ul) AS sx, SUM(u * ul) AS sxy,
      |    SUM(u * u) AS syy, SUM(ul * ul) AS sxx
      |  FROM p WHERE ul IS NOT NULL GROUP BY 1),
      |vv AS (
      |  SELECT grp, np,
      |    sxx * np - sx * sx AS vx,
      |    syy * np - sy * sy AS vy,
      |    sxy * np - sx * sy AS nm
      |  FROM mo)
      |SELECT grp, np AS n_pairs,
      |  ROUND(CAST(nm AS DOUBLE) * CAST(nm AS DOUBLE)
      |    / (CAST(vx AS DOUBLE) * CAST(vy AS DOUBLE)), 6) AS r2_aux,
      |  ROUND(CAST(np AS DOUBLE) * (CAST(nm AS DOUBLE) * CAST(nm AS DOUBLE)
      |    / (CAST(vx AS DOUBLE) * CAST(vy AS DOUBLE))), 6) AS arch_lm
      |FROM vv
      |WHERE vx > 0 AND vy > 0
      |ORDER BY grp""".stripMargin

  // ---------------------------------------------------------------------
  // q139: Hurst exponent via rescaled-range (R/S) analysis (Hurst 1951;
  // Mandelbrot & Wallis 1969) of the per-status daily revenue — the
  // LONG-memory diagnostic the serial battery lacks: q120's ACF reads
  // lag-by-lag correlation, q133's DW reads lag-1 drag, H reads whether
  // deviations PERSIST across scales (H > ½ trending/persistent,
  // H < ½ mean-reverting, H ≈ ½ memoryless). For each block size
  // m ∈ {8,16,32,64}: tile the observed-day sequence into full blocks,
  // R = range of the mean-adjusted partial sums, S = block std;
  // H = slope of log E[R/S] on log m.
  //
  // Scale shape: the corpus collapses to the bounded |status × days|
  // frame once; a 4-way literal size fan-out, block tiling by integer
  // division, and the partial-sum window all live on that bounded
  // frame; the log-log fit runs on ≤4 points per group.
  //
  // Exactness: within-block deviations stay integral on the m·cent
  // grid (d_t = m·x_t − Σx), partial sums and the range R are exact
  // integers, Σd² accumulates in DECIMAL(38,0), and R/S collapses to
  // ONE fixed-shape double R·√m/√(Σd²) (identical in DuckDB; S never
  // divides alone), micro-snapped per block so per-size means are
  // exact integer ratios. The log points micro-snap (t66's discipline)
  // and H is one double division of integer moments, rounded once.
  // Zero-variance blocks drop; groups with < 2 surviving sizes drop.
  // ---------------------------------------------------------------------
  private val HurstSizes = Seq(8L, 16L, 32L, 64L)

  def q139Hurst(spark: SparkSession, dir: String): DataFrame =
    hurstFrom(dailyRevenue(spark, dir, byStatus = true))

  /** R/S Hurst fit over any (grp, day: DATE, rev_c: BIGINT) daily
    * series — spec entry point.
    */
  private[graft] def hurstFrom(daily: DataFrame): DataFrame = {
    val d38 = DecimalType(38, 0)
    val wi = Window.partitionBy(col("grp")).orderBy(col("day"))
    val sized = daily.withColumn("i", row_number().over(wi).cast(LongType))
      .select(col("grp"), col("i"), col("rev_c"),
        explode(array(HurstSizes.map(lit): _*)).as("m"))
      .withColumn("b", expr("(i - 1) div m"))
      .graftCheckpoint(false)
    val blocks = sized.groupBy(col("grp"), col("m"), col("b"))
      .agg(sum(col("rev_c")).as("bs"), count(lit(1)).as("bc"))
      .filter(col("bc") === col("m"))
    val wb = Window.partitionBy(col("grp"), col("m"), col("b")).orderBy(col("i"))
    val stats = sized.join(blocks, Seq("grp", "m", "b"))
      .withColumn("d", col("m") * col("rev_c") - col("bs"))
      .withColumn("cum", sum(col("d")).over(wb))
      .groupBy(col("grp"), col("m"), col("b"))
      .agg((max(col("cum")) - min(col("cum"))).as("r"),
        sum(col("d").cast(d38) * col("d")).as("sd2"))
      .filter(col("sd2") > lit(0L))
    val rs = stats.select(col("grp"), col("m"),
      floor(col("r").cast(DoubleType) * sqrt(col("m").cast(DoubleType))
        / sqrt(col("sd2").cast(DoubleType)) * lit(1e6) + lit(0.5))
        .cast(LongType).as("rsu6"))
    val perSize = rs.groupBy(col("grp"), col("m"))
      .agg(count(lit(1)).as("n_blocks"), sum(col("rsu6")).as("srs"))
      .filter(col("srs") > lit(0L))
      .withColumn("x", floor(log(col("m").cast(DoubleType)) * lit(1e6) + lit(0.5))
        .cast(LongType))
      .withColumn("y", floor(log(col("srs").cast(DoubleType)
          / col("n_blocks").cast(DoubleType) / lit(1e6)) * lit(1e6) + lit(0.5))
        .cast(LongType))
      .graftCheckpoint(false)
    val fit = perSize.groupBy(col("grp"))
      .agg(count(lit(1)).as("np"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      .filter(col("np") >= lit(2L))
      .select(col("grp"),
        ((col("np") * col("sxy") - col("sx") * col("sy")).cast(DoubleType)
          / (col("np") * col("sxx") - col("sx") * col("sx")).cast(DoubleType))
          .as("hraw"))
    perSize.join(broadcast(fit), "grp")
      .select(col("grp"), col("m"), col("n_blocks"),
        round(col("srs").cast(DoubleType) / col("n_blocks").cast(DoubleType)
          / lit(1e6), 6).as("mean_rs"),
        round(col("hraw"), 6).as("h"))
      .orderBy(col("grp"), col("m"))
  }

  val q139HurstSql: String = {
    val sizes = HurstSizes.mkString(", ")
    s"""WITH $statusDayIndexCtesSql,
       |sized AS (
       |  SELECT grp, i, rev_c, m, (i - 1) // m AS b
       |  FROM idx CROSS JOIN (SELECT CAST(unnest([$sizes]) AS BIGINT) AS m)),
       |blocks AS (
       |  SELECT grp, m, b, CAST(SUM(rev_c) AS BIGINT) AS bs
       |  FROM sized GROUP BY 1, 2, 3
       |  HAVING COUNT(*) = MAX(m)),
       |dev AS (
       |  SELECT s.grp, s.m, s.b, s.i, s.m * s.rev_c - bl.bs AS d
       |  FROM sized s JOIN blocks bl USING (grp, m, b)),
       |cums AS (
       |  SELECT grp, m, b,
       |    CAST(SUM(d) OVER (PARTITION BY grp, m, b ORDER BY i
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum, d
       |  FROM dev),
       |stats AS (
       |  SELECT grp, m, b, CAST(MAX(cum) - MIN(cum) AS BIGINT) AS r,
       |    SUM(CAST(d AS HUGEINT) * d) AS sd2
       |  FROM cums GROUP BY 1, 2, 3
       |  HAVING SUM(CAST(d AS HUGEINT) * d) > 0),
       |rsb AS (
       |  SELECT grp, m,
       |    CAST(floor(CAST(r AS DOUBLE) * sqrt(CAST(m AS DOUBLE))
       |      / sqrt(CAST(sd2 AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS rsu6
       |  FROM stats),
       |ps AS (
       |  SELECT grp, m, CAST(COUNT(*) AS BIGINT) AS n_blocks,
       |    CAST(SUM(rsu6) AS BIGINT) AS srs
       |  FROM rsb GROUP BY 1, 2
       |  HAVING SUM(rsu6) > 0),
       |pts AS (
       |  SELECT *,
       |    CAST(floor(ln(CAST(m AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS x,
       |    CAST(floor(ln(CAST(srs AS DOUBLE) / CAST(n_blocks AS DOUBLE) / 1e6)
       |      * 1e6 + 0.5) AS BIGINT) AS y
       |  FROM ps),
       |fit AS (
       |  SELECT grp,
       |    CAST(COUNT(*) AS BIGINT) AS np, CAST(SUM(x) AS BIGINT) AS sx,
       |    CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(x * y) AS BIGINT) AS sxy,
       |    CAST(SUM(x * x) AS BIGINT) AS sxx
       |  FROM pts GROUP BY 1
       |  HAVING COUNT(*) >= 2)
       |SELECT grp, m, n_blocks,
       |  ROUND(CAST(srs AS DOUBLE) / CAST(n_blocks AS DOUBLE) / 1e6, 6) AS mean_rs,
       |  ROUND(CAST(np * sxy - sx * sy AS DOUBLE)
       |    / CAST(np * sxx - sx * sx AS DOUBLE), 6) AS h
       |FROM pts JOIN fit USING (grp)
       |ORDER BY grp, m""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q140: partial autocorrelation function via the Durbin-Levinson
  // recursion (Durbin 1960; Box & Jenkins' identification toolkit) —
  // q120's missing half: the ACF says an AR(1) process correlates at
  // EVERY lag (geometric decay), the PACF says only lag 1 matters once
  // intermediate lags are regressed out. ACF-cuts-off ⇒ MA order,
  // PACF-cuts-off ⇒ AR order — together they are the Box-Jenkins model
  // identification pair. φ_kk comes from the standard recursion
  //   φ_kk = (r_k − Σ_j φ_{k−1,j}·r_{k−j}) / (1 − Σ_j φ_{k−1,j}·r_j)
  //   φ_kj = φ_{k−1,j} − φ_kk·φ_{k−1,k−j}
  // unrolled to lag 7 over q120's snapped autocorrelations.
  //
  // Scale shape: everything after acfR9From's bounded-frame work is a
  // SEVEN-value pivot — one row of named φ columns; corpus size is
  // irrelevant past the shared one-shuffle daily collapse.
  //
  // Exactness: inputs are the exact nano-snapped r9 integers; the
  // recursion is pure double arithmetic whose expression TREES are
  // generated from the same fold in both engines (left-associated
  // Σ-subtraction, identical parenthesization), so every φ is
  // bit-identical cross-engine; rounded once at the edge.
  // ---------------------------------------------------------------------
  def q140Pacf(spark: SparkSession, dir: String): DataFrame =
    pacfFrom(dailyRevenue(spark, dir))

  /** PACF over any (day: DATE, rev_c: BIGINT) daily series — spec entry
    * point.
    */
  private[graft] def pacfFrom(daily: DataFrame): DataFrame = {
    val L = AcfMaxLag
    val aggs = (1 to L).map(k =>
      max(when(col("lag") === k, col("r9"))).as(s"r9_$k"))
    var df = acfR9From(daily).agg(aggs.head, aggs.tail: _*)
    for (k <- 1 to L)
      df = df.withColumn(s"r_$k", col(s"r9_$k").cast(DoubleType) / lit(1e9))
    df = df.withColumn("p_1_1", col("r_1"))
    for (k <- 2 to L) {
      val num = (1 until k).foldLeft(col(s"r_$k"))((acc, j) =>
        acc - col(s"p_${k - 1}_$j") * col(s"r_${k - j}"))
      val den = (1 until k).foldLeft(lit(1.0): org.apache.spark.sql.Column)((acc, j) =>
        acc - col(s"p_${k - 1}_$j") * col(s"r_$j"))
      df = df.withColumn(s"p_${k}_$k", num / den)
      for (j <- 1 until k)
        df = df.withColumn(s"p_${k}_$j",
          col(s"p_${k - 1}_$j") - col(s"p_${k}_$k") * col(s"p_${k - 1}_${k - j}"))
    }
    df.select(explode(array((1 to L).map(k =>
        struct(lit(k.toLong).as("lag"),
          col(s"r_$k").as("acf"), col(s"p_${k}_$k").as("pacf"))): _*)).as("s"))
      .select(col("s.lag").as("lag"),
        round(col("s.acf"), 6).as("acf"), round(col("s.pacf"), 6).as("pacf"))
      .orderBy(col("lag"))
  }

  val q140PacfSql: String = {
    val L = AcfMaxLag
    val piv = (1 to L).map(k =>
      s"MAX(CASE WHEN lag = $k THEN r9 END) AS r9_$k").mkString(", ")
    val rcols = (1 to L).map(k =>
      s"CAST(r9_$k AS DOUBLE) / 1e9 AS r_$k").mkString(", ")
    val sb = new StringBuilder
    sb ++= s"pv AS (SELECT $piv FROM r),\n"
    sb ++= s"c0 AS (SELECT *, $rcols FROM pv),\n"
    sb ++= "cj1 AS (SELECT *, r_1 AS p_1_1 FROM c0)"
    for (k <- 2 to L) {
      val num = (1 until k).foldLeft(s"r_$k")((acc, j) =>
        s"($acc - p_${k - 1}_$j * r_${k - j})")
      val den = (1 until k).foldLeft("1.0")((acc, j) =>
        s"($acc - p_${k - 1}_$j * r_$j)")
      sb ++= s",\nck$k AS (SELECT *, $num / $den AS p_${k}_$k FROM cj${k - 1})"
      val pjs = (1 until k).map(j =>
        s"p_${k - 1}_$j - p_${k}_$k * p_${k - 1}_${k - j} AS p_${k}_$j").mkString(", ")
      sb ++= s",\ncj$k AS (SELECT *, $pjs FROM ck$k)"
    }
    val rows = (1 to L).map(k =>
      s"SELECT CAST($k AS BIGINT) AS lag, ROUND(r_$k, 6) AS acf, " +
        s"ROUND(p_${k}_$k, 6) AS pacf FROM cj$L").mkString("\nUNION ALL ")
    s"""WITH ${acfCtesSql(L)},
       |$sb
       |$rows
       |ORDER BY lag""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q142: cross-correlation function (lags −7..+7) between the daily
  // order-revenue series and the daily shipped-quantity series — the
  // TWO-series sibling of q120's ACF (Box & Jenkins ch. 11): "does
  // revenue lead shipping volume, and by how many days" is the lead-lag
  // diagnostic a forecasting pipeline runs before fitting any transfer
  // function. Over the common observed-day sequence (inner join of the
  // two daily frames; rank index, q120's observed-sequence convention):
  //   r_xy(k) = Σ_t (x_t − x̄)(y_{t+k} − ȳ)
  //           / sqrt(Σ(x − x̄)²) / sqrt(Σ(y − ȳ)²)
  // Negative k reads "y leads x", positive "x leads y"; r_xy(0) is the
  // plain Pearson correlation of the paired series.
  //
  // Scale shape: TWO corpus shuffles (one per table, map-side combined)
  // collapse everything to the |calendar-days| frame — date-domain-
  // bounded at any SF — and the ±7 shift pairing is an equi-join of
  // that bounded frame against its 15-lag fan-out (a projection), so
  // nothing corpus-sized is ever windowed or joined.
  //
  // Exactness: deviations stay integral by scaling (dx = n·x − Sx on
  // the cents·n grid, BIGINT; q120's discipline); lag products widen to
  // DECIMAL(38,0); each r_xy(k) nano-snaps from ONE fixed-shape double
  // expression (num / (sqrt(dx2)·sqrt(dy2)) — identical IEEE shape in
  // both engines), rounded once at report.
  // ---------------------------------------------------------------------
  private[operators] val CcfMaxLag = 7

  def q142Ccf(spark: SparkSession, dir: String): DataFrame =
    ccfFrom(pairedDaily(spark, dir))

  /** CCF over any (day: DATE, x_c: BIGINT, y_c: BIGINT) paired daily
    * series — spec entry point.
    */
  private[graft] def ccfFrom(daily: DataFrame): DataFrame = {
    val d38 = DecimalType(38, 0)
    val wi = Window.orderBy(col("day"))
    // bounded axis (|days| rows); checkpointed: the deviation frame
    // fans out to the moment scalar, the x side, and the y side
    val idx = daily.withColumn("i", row_number().over(wi).cast(LongType))
      .graftCheckpoint(false)
    val st = idx.agg(count(lit(1)).as("n"),
      sum(col("x_c")).as("sx"), sum(col("y_c")).as("sy"))
    val d = idx.crossJoin(broadcast(st))
      .select(col("i"), col("n"),
        (col("n") * col("x_c") - col("sx")).as("dx"),
        (col("n") * col("y_c") - col("sy")).as("dy"))
      .graftCheckpoint(false)
    val mo = d.agg(
      sum(col("dx").cast(d38) * col("dx")).as("dx2"),
      sum(col("dy").cast(d38) * col("dy")).as("dy2"))
    val fan = d.select(col("i"), col("dx"),
        explode(array((-CcfMaxLag to CcfMaxLag).map(k => lit(k.toLong)): _*)).as("lag"))
      .select(col("dx"), col("lag"), (col("i") + col("lag")).as("j"))
    val num = fan.join(d.select(col("i").as("j"), col("dy")), "j")
      .groupBy(col("lag"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("dx").cast(d38) * col("dy")).as("num"))
    num.crossJoin(broadcast(mo))
      .select(col("lag"), col("n_pairs"),
        // constant-series guard (ADVICE r13): dx2=0 or dy2=0 makes the
        // denominator 0 — Spark would emit NaN rows while DuckDB raises
        // on CAST(floor(NaN)); guarded NULL in both engines, the same
        // convention as the q144/q145/q146 siblings
        when(col("dx2") > 0 && col("dy2") > 0,
          round(floor(col("num").cast(DoubleType)
              / (sqrt(col("dx2").cast(DoubleType)) * sqrt(col("dy2").cast(DoubleType)))
              * lit(1e9) + lit(0.5)) / lit(1e9), 6)).as("ccf"))
      .orderBy(col("lag"))
  }

  val q142CcfSql: String =
    s"""WITH $pairedDailySql,
       |idx AS (
       |  SELECT ROW_NUMBER() OVER (ORDER BY day) AS i, x_c, y_c
       |  FROM x JOIN y USING (day)),
       |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x_c) AS BIGINT) AS sx,
       |    CAST(SUM(y_c) AS BIGINT) AS sy FROM idx),
       |d AS (SELECT i, n * x_c - sx AS dx, n * y_c - sy AS dy
       |  FROM idx CROSS JOIN st),
       |mo AS (SELECT SUM(CAST(dx AS HUGEINT) * dx) AS dx2,
       |    SUM(CAST(dy AS HUGEINT) * dy) AS dy2 FROM d),
       |lags AS (SELECT CAST(unnest(range(-$CcfMaxLag, ${CcfMaxLag + 1})) AS BIGINT) AS lag),
       |num AS (
       |  SELECT l.lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |    SUM(CAST(a.dx AS HUGEINT) * b.dy) AS num
       |  FROM d a CROSS JOIN lags l JOIN d b ON b.i = a.i + l.lag
       |  GROUP BY 1)
       |SELECT lag, n_pairs,
       |  CASE WHEN dx2 > 0 AND dy2 > 0 THEN
       |    ROUND(CAST(floor(CAST(num AS DOUBLE)
       |      / (sqrt(CAST(dx2 AS DOUBLE)) * sqrt(CAST(dy2 AS DOUBLE)))
       |      * 1e9 + 0.5) AS BIGINT) / 1e9, 6) END AS ccf
       |FROM num CROSS JOIN mo
       |ORDER BY lag""".stripMargin

  // ---------------------------------------------------------------------
  // q144: Dickey-Fuller unit-root test (constant, no trend; Dickey &
  // Fuller 1979) on the per-status daily revenue series — the
  // stationarity gate in front of every ARMA-family diagnostic this
  // battery already ships (q120 ACF, q138 ARCH, q140 PACF all assume a
  // stationary input; DF is the test that says whether differencing is
  // needed first). Regress the day-over-day change on the lagged level:
  //   Δx_t = α + γ·x_{t−1} + ε_t,   τ = γ̂ / SE(γ̂)
  // γ ≈ 0 (τ above ≈ −2.86) reads "random walk — difference it";
  // strongly negative τ reads "mean-reverting, model the level".
  //
  // Scale shape: q138's axis — ONE corpus shuffle to the per-status
  // daily frame (date-domain-bounded), one lag() pass over it, one
  // hash aggregate to five moments per status; the test itself is a
  // |status|-row computation.
  //
  // Exactness: (x_{t−1}, Δx_t) pairs are exact BIGINTs on the cents
  // grid; the five moments and the scaled second-moment matrix
  // (vx, vy, nm) stay EXACT in DECIMAL(38,0); γ̂ and
  // τ = nm·√(np−2) / √(vy·vx − nm²) are each ONE fixed-shape double
  // expression (vy·vx overflows any integer width — evaluated in
  // double, where Cauchy-Schwarz keeps the subtraction benign), with
  // guarded NULL τ on a perfect fit (vy·vx = nm²) — the t86/t88
  // convention.
  // ---------------------------------------------------------------------
  def q144DickeyFuller(spark: SparkSession, dir: String): DataFrame =
    dickeyFullerFrom(dailyRevenue(spark, dir, byStatus = true))

  /** DF τ over any (grp, day: DATE, rev_c: BIGINT) daily series — spec
    * entry point.
    */
  private[graft] def dickeyFullerFrom(daily: DataFrame): DataFrame = {
    val d38 = DecimalType(38, 0)
    val wi = Window.partitionBy(col("grp")).orderBy(col("day"))
    val pairs = daily
      .withColumn("xl", lag(col("rev_c"), 1).over(wi))
      .filter(col("xl").isNotNull)
      .select(col("grp"), col("xl"), (col("rev_c") - col("xl")).as("dx"))
    val mo = pairs.groupBy(col("grp"))
      .agg(count(lit(1)).as("np"),
        sum(col("xl").cast(d38)).as("sx"), sum(col("dx").cast(d38)).as("sy"),
        sum(col("xl").cast(d38) * col("dx")).as("sxy"),
        sum(col("xl").cast(d38) * col("xl")).as("sxx"),
        sum(col("dx").cast(d38) * col("dx")).as("syy"))
      .filter(col("np") >= 3L)
      .select(col("grp"), col("np"),
        (col("sxx") * col("np") - col("sx") * col("sx")).as("vx"),
        (col("syy") * col("np") - col("sy") * col("sy")).as("vy"),
        (col("sxy") * col("np") - col("sx") * col("sy")).as("nm"))
      .filter(col("vx") > lit(0L))
    val ss = (col("vy").cast(DoubleType) * col("vx").cast(DoubleType)
      - col("nm").cast(DoubleType) * col("nm").cast(DoubleType))
    mo.select(col("grp"), col("np").as("n_pairs"),
        round(col("nm").cast(DoubleType) / col("vx").cast(DoubleType), 9)
          .as("gamma"),
        when(ss > lit(0.0),
          round(col("nm").cast(DoubleType)
              * sqrt((col("np") - lit(2L)).cast(DoubleType)) / sqrt(ss), 6))
          .as("df_tau"))
      .orderBy(col("grp"))
  }

  val q144DickeyFullerSql: String =
    s"""WITH ${dailyRevenueSql(byStatus = true)},
      |p AS (
      |  SELECT grp,
      |    LAG(rev_c) OVER (PARTITION BY grp ORDER BY day) AS xl,
      |    rev_c - LAG(rev_c) OVER (PARTITION BY grp ORDER BY day) AS dx
      |  FROM daily),
      |mo AS (
      |  SELECT grp, CAST(COUNT(*) AS BIGINT) AS np,
      |    SUM(CAST(xl AS HUGEINT)) AS sx, SUM(CAST(dx AS HUGEINT)) AS sy,
      |    SUM(CAST(xl AS HUGEINT) * dx) AS sxy,
      |    SUM(CAST(xl AS HUGEINT) * xl) AS sxx,
      |    SUM(CAST(dx AS HUGEINT) * dx) AS syy
      |  FROM p WHERE xl IS NOT NULL
      |  GROUP BY 1 HAVING COUNT(*) >= 3),
      |v AS (
      |  SELECT grp, np,
      |    sxx * np - sx * sx AS vx,
      |    syy * np - sy * sy AS vy,
      |    sxy * np - sx * sy AS nm
      |  FROM mo),
      |w AS (
      |  SELECT grp, np, vx, vy, nm,
      |    CAST(vy AS DOUBLE) * CAST(vx AS DOUBLE)
      |      - CAST(nm AS DOUBLE) * CAST(nm AS DOUBLE) AS ss
      |  FROM v WHERE vx > 0)
      |SELECT grp, np AS n_pairs,
      |  ROUND(CAST(nm AS DOUBLE) / CAST(vx AS DOUBLE), 9) AS gamma,
      |  CASE WHEN ss > 0 THEN
      |    ROUND(CAST(nm AS DOUBLE) * sqrt(CAST(np - 2 AS DOUBLE)) / sqrt(ss), 6)
      |  END AS df_tau
      |FROM w
      |ORDER BY grp""".stripMargin

  // ---------------------------------------------------------------------
  // q145: Granger causality (order-1, both directions) between the
  // daily order-revenue and shipped-quantity series (Granger 1969) —
  // the inference sibling of q142's CCF: the CCF says the series co-move
  // at some lead; Granger asks whether yesterday's y IMPROVES the
  // prediction of today's x beyond yesterday's x (and vice versa), the
  // standard "which metric is the leading indicator" monitoring read.
  // Per direction, restricted x_t ~ x_{t−1} vs unrestricted
  // x_t ~ x_{t−1} + y_{t−1}:
  //   R²_u = (r1y² + r2y² − 2·r1y·r2y·r12) / (1 − r12²)
  //   F = (n−3)·(R²_u − r1y²) / (1 − R²_u)   ~ F(1, n−3) under H0
  //
  // Scale shape: q142's axis — two corpus shuffles to the joined daily
  // frame, ONE lag() pass, both directions stacked by a 2× projection
  // union, and ONE hash aggregate to 2 rows of ten exact moments.
  //
  // Exactness: q132's discipline — the ten moments are exact integers
  // in DECIMAL(38,0); each pairwise r nano-snaps from one fixed-shape
  // double expression (nm / (√v_a·√v_b) — the v products overflow any
  // integer width, so the sqrt split keeps factors exactly
  // representable); the F formula runs over the SNAPPED r's, with
  // guarded NULL on collinear regressors (r12² = 1) or a saturated fit
  // (R²_u ≥ 1 on the nano grid) — the t86/t88 convention.
  // ---------------------------------------------------------------------
  def q145Granger(spark: SparkSession, dir: String): DataFrame =
    grangerFrom(pairedDaily(spark, dir))

  /** Order-1 Granger F per direction over any (day: DATE, x_c, y_c)
    * paired daily series — spec entry point.
    */
  private[graft] def grangerFrom(daily: DataFrame): DataFrame = {
    val d38 = DecimalType(38, 0)
    val wi = Window.orderBy(col("day"))
    val lagged = daily
      .withColumn("xl", lag(col("x_c"), 1).over(wi))
      .withColumn("yl", lag(col("y_c"), 1).over(wi))
      .filter(col("xl").isNotNull && col("yl").isNotNull)
      .graftCheckpoint(false)
    val dirs = lagged.select(lit("y_to_x").as("dir"),
        col("x_c").as("yv"), col("xl").as("x1"), col("yl").as("x2"))
      .unionByName(lagged.select(lit("x_to_y").as("dir"),
        col("y_c").as("yv"), col("yl").as("x1"), col("xl").as("x2")))
    val mo = dirs.groupBy(col("dir"))
      .agg(count(lit(1)).as("np"),
        sum(col("x1").cast(d38)).as("s1"), sum(col("x2").cast(d38)).as("s2"),
        sum(col("yv").cast(d38)).as("sy"),
        sum(col("x1").cast(d38) * col("x1")).as("s11"),
        sum(col("x2").cast(d38) * col("x2")).as("s22"),
        sum(col("yv").cast(d38) * col("yv")).as("syy"),
        sum(col("x1").cast(d38) * col("x2")).as("s12"),
        sum(col("x1").cast(d38) * col("yv")).as("s1y"),
        sum(col("x2").cast(d38) * col("yv")).as("s2y"))
      .filter(col("np") >= 4L)
      .select(col("dir"), col("np"),
        (col("s11") * col("np") - col("s1") * col("s1")).as("v1"),
        (col("s22") * col("np") - col("s2") * col("s2")).as("v2"),
        (col("syy") * col("np") - col("sy") * col("sy")).as("vy"),
        (col("s12") * col("np") - col("s1") * col("s2")).as("nm12"),
        (col("s1y") * col("np") - col("s1") * col("sy")).as("nm1y"),
        (col("s2y") * col("np") - col("s2") * col("sy")).as("nm2y"))
      .filter(col("v1") > lit(0L) && col("v2") > lit(0L) && col("vy") > lit(0L))
    def r9(nm: String, va: String, vb: String): Column =
      floor(col(nm).cast(DoubleType)
        / (sqrt(col(va).cast(DoubleType)) * sqrt(col(vb).cast(DoubleType)))
        * lit(1e9) + lit(0.5))
    val snapped = mo
      .withColumn("r1y", r9("nm1y", "v1", "vy") / lit(1e9))
      .withColumn("r2y", r9("nm2y", "v2", "vy") / lit(1e9))
      .withColumn("r12", r9("nm12", "v1", "v2") / lit(1e9))
    val den12 = lit(1.0) - col("r12") * col("r12")
    val r2u = (col("r1y") * col("r1y") + col("r2y") * col("r2y")
      - lit(2.0) * col("r1y") * col("r2y") * col("r12")) / den12
    snapped
      .withColumn("r2u", when(den12 > lit(0.0), r2u))
      .select(col("dir"), col("np").as("n_pairs"),
        round(col("r1y") * col("r1y"), 6).as("r2_restricted"),
        round(col("r2u"), 6).as("r2_unrestricted"),
        when(col("r2u").isNotNull && col("r2u") < lit(1.0),
          round((col("np") - lit(3L)).cast(DoubleType)
            * (col("r2u") - col("r1y") * col("r1y"))
            / (lit(1.0) - col("r2u")), 6)).as("f_stat"))
      .orderBy(col("dir"))
  }

  val q145GrangerSql: String =
    s"""WITH $pairedDailySql,
      |lagged AS (
      |  SELECT x_c, y_c,
      |    LAG(x_c) OVER (ORDER BY day) AS xl,
      |    LAG(y_c) OVER (ORDER BY day) AS yl
      |  FROM x JOIN y USING (day)),
      |dirs AS (
      |  SELECT 'y_to_x' AS dir, x_c AS yv, xl AS x1, yl AS x2
      |  FROM lagged WHERE xl IS NOT NULL AND yl IS NOT NULL
      |  UNION ALL
      |  SELECT 'x_to_y' AS dir, y_c AS yv, yl AS x1, xl AS x2
      |  FROM lagged WHERE xl IS NOT NULL AND yl IS NOT NULL),
      |mo AS (
      |  SELECT dir, CAST(COUNT(*) AS BIGINT) AS np,
      |    SUM(CAST(x1 AS HUGEINT)) AS s1, SUM(CAST(x2 AS HUGEINT)) AS s2,
      |    SUM(CAST(yv AS HUGEINT)) AS sy,
      |    SUM(CAST(x1 AS HUGEINT) * x1) AS s11,
      |    SUM(CAST(x2 AS HUGEINT) * x2) AS s22,
      |    SUM(CAST(yv AS HUGEINT) * yv) AS syy,
      |    SUM(CAST(x1 AS HUGEINT) * x2) AS s12,
      |    SUM(CAST(x1 AS HUGEINT) * yv) AS s1y,
      |    SUM(CAST(x2 AS HUGEINT) * yv) AS s2y
      |  FROM dirs GROUP BY 1 HAVING COUNT(*) >= 4),
      |v AS (
      |  SELECT dir, np,
      |    s11 * np - s1 * s1 AS v1, s22 * np - s2 * s2 AS v2,
      |    syy * np - sy * sy AS vy,
      |    s12 * np - s1 * s2 AS nm12,
      |    s1y * np - s1 * sy AS nm1y,
      |    s2y * np - s2 * sy AS nm2y
      |  FROM mo WHERE s11 * np - s1 * s1 > 0 AND s22 * np - s2 * s2 > 0
      |    AND syy * np - sy * sy > 0),
      |r AS (
      |  SELECT dir, np,
      |    floor(CAST(nm1y AS DOUBLE)
      |      / (sqrt(CAST(v1 AS DOUBLE)) * sqrt(CAST(vy AS DOUBLE))) * 1e9 + 0.5) / 1e9 AS r1y,
      |    floor(CAST(nm2y AS DOUBLE)
      |      / (sqrt(CAST(v2 AS DOUBLE)) * sqrt(CAST(vy AS DOUBLE))) * 1e9 + 0.5) / 1e9 AS r2y,
      |    floor(CAST(nm12 AS DOUBLE)
      |      / (sqrt(CAST(v1 AS DOUBLE)) * sqrt(CAST(v2 AS DOUBLE))) * 1e9 + 0.5) / 1e9 AS r12
      |  FROM v),
      |u AS (
      |  SELECT dir, np, r1y,
      |    CASE WHEN 1.0 - r12 * r12 > 0.0 THEN
      |      (r1y * r1y + r2y * r2y - 2.0 * r1y * r2y * r12) / (1.0 - r12 * r12)
      |    END AS r2u
      |  FROM r)
      |SELECT dir, np AS n_pairs,
      |  ROUND(r1y * r1y, 6) AS r2_restricted,
      |  ROUND(r2u, 6) AS r2_unrestricted,
      |  CASE WHEN r2u IS NOT NULL AND r2u < 1.0 THEN
      |    ROUND(CAST(np - 3 AS DOUBLE) * (r2u - r1y * r1y) / (1.0 - r2u), 6)
      |  END AS f_stat
      |FROM u
      |ORDER BY dir""".stripMargin

  // ---------------------------------------------------------------------
  // q146: KPSS level-stationarity test (Kwiatkowski, Phillips, Schmidt
  // & Shin 1992) on the per-status daily revenue series — the COMPLEMENT
  // of q144's Dickey-Fuller: DF's null is "unit root" (failure to
  // reject says nothing), KPSS's null is "stationary", so the pair
  // brackets the decision the way a forecasting pipeline actually runs
  // them (reject in both ⇒ neither model fits; reject in one ⇒ clear
  // verdict). With e_t the mean deviations, S_t their partial sums, and
  // a Bartlett long-run variance at lag l = 7:
  //   η = Σ_t S_t² / (n² · (γ̂0 + 2·Σ_{j≤l} (1 − j/(l+1))·γ̂_j))
  //
  // Scale shape: q120's axis — ONE corpus shuffle to the per-status
  // daily frame; the partial-sum window, the seven lag() reads and both
  // aggregates all ride the date-domain-bounded frame.
  //
  // Exactness: deviations stay integral by scaling (dv = n·x − S, so
  // P_t = n·S_t and G_j = Σ dv·dv_lag = n³·γ̂_j are exact integers in
  // DECIMAL(38,0)); the Bartlett weights (8−j)/8 clear denominators, so
  //   η = 8·ΣP² / (n · (8·G0 + 2·Σ_j (8−j)·G_j))
  // is EXACT integer arithmetic up to ONE double division, rounded
  // once (guarded NULL on a constant series, where the LRV is 0).
  // ---------------------------------------------------------------------
  def q146Kpss(spark: SparkSession, dir: String): DataFrame =
    kpssFrom(dailyRevenue(spark, dir, byStatus = true))

  /** KPSS η over any (grp, day: DATE, rev_c: BIGINT) daily series —
    * spec entry point.
    */
  private[graft] def kpssFrom(daily: DataFrame): DataFrame = {
    val d38 = DecimalType(38, 0)
    val wi = Window.partitionBy(col("grp")).orderBy(col("day"))
    val st = daily.groupBy(col("grp"))
      .agg(count(lit(1)).as("n"), sum(col("rev_c")).as("s"))
    // bounded axis (|days| rows per status); checkpointed: dv fans out
    // to the partial-sum pass, the gamma-0 aggregate and the lag stack
    val d = daily.join(broadcast(st), "grp")
      .select(col("grp"), col("day"), col("n"),
        (col("n") * col("rev_c") - col("s")).as("dv"))
      .graftCheckpoint(false)
    val sp2 = d
      .withColumn("p", sum(col("dv")).over(
        wi.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("grp"))
      .agg(max(col("n")).as("n"),
        sum(col("p").cast(d38) * col("p")).as("sp2"),
        sum(col("dv").cast(d38) * col("dv")).as("g0"))
    val withLags = (1 to AcfMaxLag).foldLeft(d) { (df, k) =>
      df.withColumn(s"dl$k", lag(col("dv"), k).over(wi))
    }
    val gj = withLags.select(col("grp"), col("dv"),
        explode(array((1 to AcfMaxLag).map(k =>
          struct(lit(k.toLong).as("lag"), col(s"dl$k").as("dl"))): _*)).as("x"))
      .select(col("grp"), col("dv"), col("x.lag").as("lag"), col("x.dl").as("dl"))
      .filter(col("dl").isNotNull)
      .groupBy(col("grp"))
      .agg(sum((lit(8L) - col("lag")) * col("dv").cast(d38) * col("dl")).as("gw"))
    sp2.join(gj, "grp")
      .withColumn("lrv8", lit(8L).cast(d38) * col("g0") + lit(2L) * col("gw"))
      .select(col("grp"), col("n").as("n_days"),
        when(col("lrv8") > 0L,
          round(lit(8.0) * col("sp2").cast(DoubleType)
            / (col("n").cast(DoubleType) * col("lrv8").cast(DoubleType)), 6))
          .as("kpss_eta"))
      .orderBy(col("grp"))
  }

  val q146KpssSql: String =
    s"""WITH ${dailyRevenueSql(byStatus = true)},
       |st AS (
       |  SELECT grp, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(rev_c) AS BIGINT) AS s
       |  FROM daily GROUP BY 1),
       |d AS (
       |  SELECT daily.grp, day, n, n * rev_c - s AS dv
       |  FROM daily JOIN st ON st.grp = daily.grp),
       |sp AS (
       |  SELECT grp, CAST(MAX(n) AS BIGINT) AS n,
       |    SUM(CAST(p AS HUGEINT) * p) AS sp2,
       |    SUM(CAST(dv AS HUGEINT) * dv) AS g0
       |  FROM (SELECT grp, n, dv,
       |          SUM(dv) OVER (PARTITION BY grp ORDER BY day
       |                        ROWS UNBOUNDED PRECEDING) AS p
       |        FROM d)
       |  GROUP BY 1),
       |gj AS (
       |  SELECT a.grp, SUM((8 - (a.i - b.i)) * CAST(a.dv AS HUGEINT) * b.dv) AS gw
       |  FROM (SELECT grp, dv, ROW_NUMBER() OVER (PARTITION BY grp ORDER BY day) AS i
       |        FROM d) a
       |  JOIN (SELECT grp, dv, ROW_NUMBER() OVER (PARTITION BY grp ORDER BY day) AS i
       |        FROM d) b
       |    ON a.grp = b.grp AND b.i < a.i AND a.i - b.i <= $AcfMaxLag
       |  GROUP BY 1),
       |f AS (
       |  SELECT sp.grp, n, sp2,
       |    CAST(8 AS HUGEINT) * g0 + 2 * gw AS lrv8
       |  FROM sp JOIN gj ON gj.grp = sp.grp)
       |SELECT grp, n AS n_days,
       |  CASE WHEN lrv8 > 0 THEN
       |    ROUND(8.0 * CAST(sp2 AS DOUBLE)
       |      / (CAST(n AS DOUBLE) * CAST(lrv8 AS DOUBLE)), 6)
       |  END AS kpss_eta
       |FROM f
       |ORDER BY grp""".stripMargin

  // ---------------------------------------------------------------------
  // q147: Engle-Granger cointegration test (Engle & Granger 1987)
  // between the daily order-revenue and shipped-quantity LEVELS — the
  // third member of the lead-lag family: q142's CCF measures co-movement,
  // q145's Granger asks who leads, and Engle-Granger asks whether the
  // two levels share a common stochastic trend (regress y on x, then
  // run q144's Dickey-Fuller on the residual: stationary residual ⇒
  // cointegrated ⇒ a spread-monitoring alert on the PAIR is sound even
  // when each series alone is nonstationary).
  //
  // Scale shape: q142's axis — two corpus shuffles to the joined daily
  // frame; the OLS moments are one aggregate; the residual series and
  // its DF test live entirely on the date-domain-bounded frame.
  //
  // Exactness: the OLS moment matrix (vx, nm, c0 = vx·Σy − nm·Σx) is
  // exact in DECIMAL(38,0); the scaled residual R_t = n·(vx·y_t −
  // nm·x_t) − c0 (= n·vx · e_t) stays EXACT in DECIMAL(38,0) at test
  // SFs (≈3e36 worst term — on a cluster rescale the cents grid first),
  // and snaps ONCE to milli-cent units through one fixed-shape double
  // division by n·vx (the olsResiduals discipline); the DF τ on the
  // snapped residuals is [[dickeyFullerFrom]] verbatim, so the
  // augmenting machinery and its guards are shared, not re-derived.
  // ---------------------------------------------------------------------
  def q147EngleGranger(spark: SparkSession, dir: String): DataFrame =
    engleGrangerFrom(pairedDaily(spark, dir))

  /** Engle-Granger over any (day: DATE, x_c, y_c) paired daily series —
    * spec entry point.
    */
  private[graft] def engleGrangerFrom(daily: DataFrame): DataFrame = {
    val d38 = DecimalType(38, 0)
    val j = daily.graftCheckpoint(false)
    val st = j.agg(count(lit(1)).as("n"),
        sum(col("x_c").cast(d38)).as("sx"), sum(col("y_c").cast(d38)).as("sy"),
        sum(col("x_c").cast(d38) * col("x_c")).as("sxx"),
        sum(col("x_c").cast(d38) * col("y_c")).as("sxy"))
      .select(col("n"), col("sx"), col("sy"),
        (col("sxx") * col("n") - col("sx") * col("sx")).as("vx"),
        (col("sxy") * col("n") - col("sx") * col("sy")).as("nm"))
      .withColumn("c0", col("vx") * col("sy") - col("nm") * col("sx"))
      .filter(col("vx") > lit(0L))
    val resid = j.crossJoin(broadcast(st))
      .select(col("day"),
        floor((col("n") * (col("vx") * col("y_c") - col("nm") * col("x_c"))
            - col("c0")).cast(DoubleType)
          / (col("n").cast(DoubleType) * col("vx").cast(DoubleType))
          * lit(1e3) + lit(0.5)).cast(LongType).as("e3"))
      .select(lit("resid").as("grp"), col("day"), col("e3").as("rev_c"))
    val df = dickeyFullerFrom(resid)
    st.select(col("n").as("n_days"),
        round(col("nm").cast(DoubleType) / col("vx").cast(DoubleType), 9).as("beta"))
      .crossJoin(df.select(col("n_pairs"), col("gamma"),
        col("df_tau").as("coint_tau")))
      .select(col("n_days"), col("beta"), col("n_pairs"), col("gamma"),
        col("coint_tau"))
  }

  val q147EngleGrangerSql: String =
    s"""WITH $pairedDailySql,
      |j AS (SELECT day, x_c, y_c FROM x JOIN y USING (day)),
      |st AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    SUM(CAST(x_c AS HUGEINT)) AS sx, SUM(CAST(y_c AS HUGEINT)) AS sy,
      |    SUM(CAST(x_c AS HUGEINT) * x_c) AS sxx,
      |    SUM(CAST(x_c AS HUGEINT) * y_c) AS sxy
      |  FROM j),
      |v AS (
      |  SELECT n, sx, sy,
      |    sxx * n - sx * sx AS vx,
      |    sxy * n - sx * sy AS nm,
      |    (sxx * n - sx * sx) * sy - (sxy * n - sx * sy) * sx AS c0
      |  FROM st WHERE sxx * n - sx * sx > 0),
      |resid AS (
      |  SELECT day,
      |    CAST(floor(CAST(n * (vx * y_c - nm * x_c) - c0 AS DOUBLE)
      |      / (CAST(n AS DOUBLE) * CAST(vx AS DOUBLE)) * 1e3 + 0.5) AS BIGINT) AS e3
      |  FROM j CROSS JOIN v),
      |p AS (
      |  SELECT LAG(e3) OVER (ORDER BY day) AS xl,
      |    e3 - LAG(e3) OVER (ORDER BY day) AS dx
      |  FROM resid),
      |mo AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS np,
      |    SUM(CAST(xl AS HUGEINT)) AS rsx, SUM(CAST(dx AS HUGEINT)) AS rsy,
      |    SUM(CAST(xl AS HUGEINT) * dx) AS rsxy,
      |    SUM(CAST(xl AS HUGEINT) * xl) AS rsxx,
      |    SUM(CAST(dx AS HUGEINT) * dx) AS rsyy
      |  FROM p WHERE xl IS NOT NULL
      |  HAVING COUNT(*) >= 3),
      |dfv AS (
      |  SELECT np,
      |    rsxx * np - rsx * rsx AS dvx,
      |    rsyy * np - rsy * rsy AS dvy,
      |    rsxy * np - rsx * rsy AS dnm
      |  FROM mo),
      |dfw AS (
      |  SELECT np, dvx, dnm,
      |    CAST(dvy AS DOUBLE) * CAST(dvx AS DOUBLE)
      |      - CAST(dnm AS DOUBLE) * CAST(dnm AS DOUBLE) AS ss
      |  FROM dfv WHERE dvx > 0)
      |SELECT v.n AS n_days,
      |  ROUND(CAST(nm AS DOUBLE) / CAST(vx AS DOUBLE), 9) AS beta,
      |  np AS n_pairs,
      |  ROUND(CAST(dnm AS DOUBLE) / CAST(dvx AS DOUBLE), 9) AS gamma,
      |  CASE WHEN ss > 0 THEN
      |    ROUND(CAST(dnm AS DOUBLE) * sqrt(CAST(np - 2 AS DOUBLE)) / sqrt(ss), 6)
      |  END AS coint_tau
      |FROM v CROSS JOIN dfw""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef.sql("q104_kaplan_meier", q104KaplanMeier _, q104KaplanMeierSql),
    QueryDef.sql("q105_seasonal_decompose", q105SeasonalDecompose _, q105SeasonalDecomposeSql),
    QueryDef.sql("q106_psi_drift", q106PsiDrift _, q106PsiDriftSql),
    QueryDef.sql("q120_acf", q120Acf _, q120AcfSql),
    QueryDef.sql("q121_theil_sen", q121TheilSen _, q121TheilSenSql),
    QueryDef.sql("q122_mann_kendall", q122MannKendall _, q122MannKendallSql),
    QueryDef.sql("q123_cusum", q123Cusum _, q123CusumSql),
    QueryDef.sql("q124_runs_test", q124RunsTest _, q124RunsTestSql),
    QueryDef.sql("q125_periodogram", q125Periodogram _, q125PeriodogramSql),
    QueryDef.sql("q126_page_hinkley", q126PageHinkley _, q126PageHinkleySql),
    QueryDef.sql("q130_log_rank", q130LogRank _, q130LogRankSql),
    QueryDef.sql("q133_durbin_watson", q133DurbinWatson _, q133DurbinWatsonSql),
    QueryDef.sql("q136_breusch_pagan", q136BreuschPagan _, q136BreuschPaganSql),
    QueryDef.sql("q137_jarque_bera", q137JarqueBera _, q137JarqueBeraSql),
    QueryDef.sql("q138_arch_lm", q138ArchLm _, q138ArchLmSql),
    QueryDef.sql("q139_hurst", q139Hurst _, q139HurstSql),
    QueryDef.sql("q140_pacf", q140Pacf _, q140PacfSql),
    QueryDef.sql("q142_ccf", q142Ccf _, q142CcfSql),
    QueryDef.sql("q144_dickey_fuller", q144DickeyFuller _, q144DickeyFullerSql),
    QueryDef.sql("q145_granger", q145Granger _, q145GrangerSql),
    QueryDef.sql("q146_kpss", q146Kpss _, q146KpssSql),
    QueryDef.sql("q147_engle_granger", q147EngleGranger _, q147EngleGrangerSql),
  )
}
