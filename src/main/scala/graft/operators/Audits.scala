package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, DecimalType, DoubleType, IntegerType, LongType, StringType}

import graft.{QueryDef, Tables}
import graft.operators.Checkpoints.GraftCheckpointOps

/** Statistical data-audit operators over the order book — the
  * fraud/quality-screening siblings of the `documents` curation gates
  * (SURVEY §2.7 extension set; the reference has no batch surface at all,
  * SURVEY §0).
  *
  * All three are one-or-two-shuffle aggregates whose OUTPUT is tiny
  * (digits, qualifying pairs, nations) regardless of input scale — the
  * audit-report shape a 100 TB pipeline wants: scan once, aggregate to a
  * bounded result, never materialize row-level intermediates.
  */
object Audits {

  // ---------------------------------------------------------------------
  // q92: Benford first-significant-digit audit on l_extendedprice.
  // Digit extraction is integer-exact (floor → BIGINT → first decimal
  // char; prices are >= 1 by TPC-H construction), the 9-row digit
  // histogram is one partial/final hash agg over the scan, and the
  // expected-frequency / chi-square arithmetic runs on the 9-row result.
  // ---------------------------------------------------------------------
  def q92Benford(spark: SparkSession, dir: String): DataFrame = {
    val observed = Tables.lineitem(spark, dir)
      .select(substring(floor(col("l_extendedprice")).cast(LongType)
        .cast("string"), 1, 1).cast(IntegerType).as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    // every Benford cell contributes even at zero observed count — on a
    // skewed input an absent digit is exactly the deviation the audit
    // must flag, so the chi-square runs over all 9 cells, not just the
    // digits that happened to appear (ADVICE r09)
    val digits = spark.range(1, 10)
      .select(col("id").cast(IntegerType).as("digit"))
      .join(observed, Seq("digit"), "left")
      .select(col("digit"), coalesce(col("n"), lit(0L)).as("n"))
    // total as a broadcast scalar, not an unpartitioned window: same
    // 9-row result, but no single-partition WindowExec in the plan
    digits
      .crossJoin(broadcast(digits.agg(sum(col("n")).as("tot"))))
      .withColumn("obs_freq", round(col("n").cast(DoubleType) / col("tot"), 6))
      .withColumn("exp_freq", round(log10(lit(1.0) + lit(1.0) / col("digit")), 6))
      .withColumn("chi2_part", round(
        pow(col("n").cast(DoubleType) - col("tot") * log10(lit(1.0) + lit(1.0) / col("digit")), 2)
          / (col("tot") * log10(lit(1.0) + lit(1.0) / col("digit"))), 6))
      .select(col("digit"), col("n"), col("obs_freq"), col("exp_freq"), col("chi2_part"))
      .orderBy(col("digit"))
  }

  val q92BenfordSql: String =
    """WITH d AS (
      |  SELECT CAST(substr(CAST(CAST(floor(l_extendedprice) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
      |  FROM lineitem),
      |h0 AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY digit),
      |h AS (
      |  SELECT g.digit, CAST(COALESCE(h0.n, 0) AS BIGINT) AS n
      |  FROM (SELECT CAST(unnest(range(1, 10)) AS INT) AS digit) g
      |  LEFT JOIN h0 ON g.digit = h0.digit),
      |t AS (SELECT h.*, CAST(SUM(n) OVER () AS BIGINT) AS tot FROM h)
      |SELECT digit, n,
      |  ROUND(CAST(n AS DOUBLE) / tot, 6) AS obs_freq,
      |  ROUND(log10(1.0 + 1.0 / digit), 6) AS exp_freq,
      |  ROUND(pow(CAST(n AS DOUBLE) - tot * log10(1.0 + 1.0 / digit), 2)
      |        / (tot * log10(1.0 + 1.0 / digit)), 6) AS chi2_part
      |FROM t
      |ORDER BY digit""".stripMargin

  // ---------------------------------------------------------------------
  // q93: market-basket association rules (support / confidence / lift)
  // over within-order part pairs. The pair generator is a self-join on
  // the ORDER KEY — per-order fan-out is bounded by basket size (~4
  // lineitems → <=6 pairs), so candidate volume grows LINEARLY with
  // orders; the join key is the natural shuffle key and AQE handles any
  // hot order. Item counts and the basket total are separate bounded
  // aggregates; the totals scalar joins back by broadcast (it is one
  // row). MinSup=2 keeps the rule table output-bounded.
  // ---------------------------------------------------------------------
  private val MinSup = 2

  def q93BasketLift(spark: SparkSession, dir: String): DataFrame = {
    // the basket frame feeds FOUR consumers (n, item, both self-join
    // sides) — materialize the scan+distinct once instead of executing
    // it per consumer (ADVICE r09; the d55/d57 shared-frame idiom)
    val b = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .graftCheckpoint()
    val n = b.select(countDistinct(col("l_orderkey")).as("n_orders"))
    val item = b.groupBy(col("l_partkey")).agg(count(lit(1)).as("n_item"))
    val pairs = b.as("a").join(b.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("part_a"), col("b.l_partkey").as("part_b"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= MinSup)
    pairs
      .join(item.select(col("l_partkey").as("part_a"), col("n_item").as("n_a")), "part_a")
      .join(item.select(col("l_partkey").as("part_b"), col("n_item").as("n_b")), "part_b")
      .crossJoin(broadcast(n))
      .select(col("part_a"), col("part_b"), col("n_ab"), col("n_a"), col("n_b"),
        round(col("n_ab").cast(DoubleType) / col("n_a"), 6).as("confidence"),
        round(col("n_ab").cast(DoubleType) * col("n_orders") /
          (col("n_a").cast(DoubleType) * col("n_b")), 6).as("lift"))
      .orderBy(col("lift").desc, col("part_a"), col("part_b"))
  }

  val q93BasketLiftSql: String =
    s"""WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM b),
       |item AS (SELECT l_partkey, COUNT(*) AS n_item FROM b GROUP BY 1),
       |pairs AS (
       |  SELECT a.l_partkey AS part_a, b2.l_partkey AS part_b, COUNT(*) AS n_ab
       |  FROM b a JOIN b b2
       |    ON a.l_orderkey = b2.l_orderkey AND a.l_partkey < b2.l_partkey
       |  GROUP BY 1, 2
       |  HAVING COUNT(*) >= $MinSup)
       |SELECT part_a, part_b, n_ab, ia.n_item AS n_a, ib.n_item AS n_b,
       |  ROUND(CAST(n_ab AS DOUBLE) / ia.n_item, 6) AS confidence,
       |  ROUND(CAST(n_ab AS DOUBLE) * n.n_orders /
       |        (CAST(ia.n_item AS DOUBLE) * ib.n_item), 6) AS lift
       |FROM pairs
       |JOIN item ia ON ia.l_partkey = part_a
       |JOIN item ib ON ib.l_partkey = part_b
       |CROSS JOIN n
       |ORDER BY lift DESC, part_a, part_b""".stripMargin

  // ---------------------------------------------------------------------
  // q94: Gini concentration of customer revenue per nation (Lorenz-rank
  // formula G = 2·Σ i·x_i / (n·Σx) − (n+1)/n over revenue ascending).
  // Revenue lives on the exact cents grid (BIGINT) so the rank order and
  // the mass sums are engine-identical; ties rank by custkey but tied
  // revenues contribute the same Σ i·x_i under any tie permutation, so
  // the coefficient is order-independent anyway. Shape: lineitem⋈orders
  // aggregates to one row per CUSTOMER before anything sorts — the
  // Lorenz ranks cover |customers| rows per nation, never line items,
  // and come from `rankByRange` (range-partitioned slices + broadcast
  // offsets), so rank parallelism is the slice count, not |nations|
  // (VERDICT r09 #7).
  // ---------------------------------------------------------------------
  /** The exact per-customer revenue-cents grid with nation names —
    * shared by q94 (Gini) and q98 (Theil).
    */
  private def nationRevenue(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(sum(floor(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
        * lit(100.0) + lit(0.5)).cast(LongType)).as("rev_cents"))
    rev
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("c_custkey"), col("rev_cents"))
  }

  def q94Gini(spark: SparkSession, dir: String): DataFrame = {
    val named = nationRevenue(spark, dir)
    Relational.rankByRange(named, Seq("n_name"),
        Seq(col("rev_cents"), col("c_custkey")), "i", "__n")
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_cust"),
        sum(col("rev_cents")).as("sx"),
        // decimal accumulator: rank × cents summed as LongType wraps past
        // 2^63 around SF~1000 while the DuckDB oracle promotes to HUGEINT
        // — a silent cross-engine divergence exactly at scale (ADVICE
        // r09). The rank is widened to decimal BEFORE the multiply
        // (mirroring the oracle's CAST(i AS HUGEINT) * rev_cents): a cast
        // applied to the product would still compute it in long and can
        // wrap per-row at extreme rank×cents magnitudes (ADVICE r10)
        sum(col("i").cast(DecimalType(38, 0)) * col("rev_cents")).as("six"))
      .select(col("n_name"), col("n_cust"),
        round(col("sx").cast(DoubleType) / 100.0, 2).as("total_rev"),
        round(lit(2.0) * col("six") / (col("n_cust") * col("sx").cast(DoubleType))
          - (col("n_cust") + lit(1.0)) / col("n_cust"), 6).as("gini"))
      .orderBy(col("n_name"))
  }

  val q94GiniSql: String =
    """WITH rev AS (
      |  SELECT o_custkey,
      |    CAST(SUM(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  GROUP BY o_custkey),
      |ranked AS (
      |  SELECT n_name, rev_cents,
      |    ROW_NUMBER() OVER (PARTITION BY n_name ORDER BY rev_cents, c_custkey) AS i
      |  FROM rev
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey)
      |SELECT n_name, COUNT(*) AS n_cust,
      |  ROUND(CAST(CAST(SUM(rev_cents) AS BIGINT) AS DOUBLE) / 100.0, 2) AS total_rev,
      |  ROUND(2.0 * SUM(CAST(i AS HUGEINT) * rev_cents) / (COUNT(*) * CAST(CAST(SUM(rev_cents) AS BIGINT) AS DOUBLE))
      |        - (COUNT(*) + 1.0) / COUNT(*), 6) AS gini
      |FROM ranked
      |GROUP BY n_name
      |ORDER BY n_name""".stripMargin

  // ---------------------------------------------------------------------
  // q95: k-anonymity risk audit (Sweeney's k-anonymity) — the privacy
  // sibling of t62's PII redaction: a released table is k-anonymous when
  // every quasi-identifier combination covers at least k records; rows
  // in smaller groups are re-identifiable. Quasi-identifiers here:
  // (nation, market segment, account-balance band) over `customer`.
  //
  // Scale shape: one shuffle on the QI key (map-side combined) to a
  // group-size frame bounded by the QI domain (|nations|·|segments|·
  // |bands| — config-sized, never corpus-sized), then the risk profile
  // for every k level folds that frame into ONE row, unpivoted to
  // |levels| output rows (the t76 unpivot idiom). No window functions,
  // no second pass over the input.
  //
  // Determinism: integer counts end-to-end; the band floor is exact
  // IEEE division by 1000.0; the one ratio is a final ROUND-6.
  // ---------------------------------------------------------------------
  private[operators] val KAnonLevels: Seq[Long] = Seq(2L, 5L, 10L)

  def q95KAnonymity(spark: SparkSession, dir: String): DataFrame =
    kAnonymityFrom(Tables.customer(spark, dir))

  /** Risk profile over any customer-shaped frame — spec entry point. */
  private[graft] def kAnonymityFrom(c: DataFrame): DataFrame = {
    val g = c
      .groupBy(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / lit(1000.0)).cast(LongType).as("bal_band"))
      .agg(count(lit(1)).as("g"))
    val riskAggs = KAnonLevels.flatMap(k => Seq(
      sum(when(col("g") < k, 1L).otherwise(0L)).as(s"rg_$k"),
      sum(when(col("g") < k, col("g")).otherwise(0L)).as(s"rr_$k")))
    val folded = g.agg(count(lit(1)).as("n_groups"),
      (sum(col("g")).as("n_records") +: min(col("g")).as("min_group") +: riskAggs): _*)
    val rows = KAnonLevels.map(k => struct(lit(k).as("k"),
      col(s"rg_$k").as("groups_at_risk"), col(s"rr_$k").as("records_at_risk")))
    folded.select(col("n_groups"), col("n_records"), col("min_group"),
        explode(array(rows: _*)).as("r"))
      .select(col("r.k").as("k"), col("n_groups"), col("n_records"), col("min_group"),
        col("r.groups_at_risk"), col("r.records_at_risk"),
        round(col("r.records_at_risk") / col("n_records"), 6).as("risk_ratio"))
      .orderBy(col("k"))
  }

  val q95KAnonymitySql: String = {
    val riskCols = KAnonLevels.map(k =>
      s"""    CAST(SUM(CASE WHEN g < $k THEN 1 ELSE 0 END) AS BIGINT) AS rg_$k,
         |    CAST(SUM(CASE WHEN g < $k THEN g ELSE 0 END) AS BIGINT) AS rr_$k""".stripMargin)
      .mkString(",\n")
    val branches = KAnonLevels.map(k =>
      s"SELECT CAST($k AS BIGINT) AS k, n_groups, n_records, min_group, " +
        s"rg_$k AS groups_at_risk, rr_$k AS records_at_risk, " +
        s"ROUND(rr_$k / n_records, 6) AS risk_ratio FROM s")
    s"""WITH g AS (
       |  SELECT c_nationkey, c_mktsegment,
       |    CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
       |    COUNT(*) AS g
       |  FROM customer GROUP BY 1, 2, 3),
       |s AS (
       |  SELECT COUNT(*) AS n_groups, CAST(SUM(g) AS BIGINT) AS n_records,
       |    MIN(g) AS min_group,
       |$riskCols
       |  FROM g)
       |${branches.mkString("\nUNION ALL\n")}
       |ORDER BY k""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q96: l-diversity audit (Machanavajjhala et al.) — k-anonymity's
  // stronger sibling: a QI group that is large but carries only ONE
  // distinct sensitive value still leaks the attribute ("homogeneity
  // attack"). QIs here drop the segment to (nation, balance band); the
  // market segment becomes the SENSITIVE attribute whose within-group
  // diversity l = COUNT(DISTINCT segment) is audited.
  //
  // Scale shape: exactly q95's — one (two-phase, distinct-expanded)
  // shuffle on the QI key to a domain-bounded group frame, then the
  // risk fold to one row, unpivoted to |levels| rows.
  // ---------------------------------------------------------------------
  private[operators] val LDivLevels: Seq[Long] = Seq(2L, 3L)

  def q96LDiversity(spark: SparkSession, dir: String): DataFrame =
    lDiversityFrom(Tables.customer(spark, dir))

  private[graft] def lDiversityFrom(c: DataFrame): DataFrame = {
    val g = c
      .groupBy(col("c_nationkey"),
        floor(col("c_acctbal") / lit(1000.0)).cast(LongType).as("bal_band"))
      .agg(count(lit(1)).as("g"), countDistinct(col("c_mktsegment")).as("l"))
    val riskAggs = LDivLevels.flatMap(k => Seq(
      sum(when(col("l") < k, 1L).otherwise(0L)).as(s"lg_$k"),
      sum(when(col("l") < k, col("g")).otherwise(0L)).as(s"lr_$k")))
    val folded = g.agg(count(lit(1)).as("n_groups"),
      (sum(col("g")).as("n_records") +: min(col("l")).as("min_l") +: riskAggs): _*)
    val rows = LDivLevels.map(k => struct(lit(k).as("l_level"),
      col(s"lg_$k").as("groups_below"), col(s"lr_$k").as("records_below")))
    folded.select(col("n_groups"), col("n_records"), col("min_l"),
        explode(array(rows: _*)).as("r"))
      .select(col("r.l_level").as("l_level"), col("n_groups"), col("n_records"),
        col("min_l"), col("r.groups_below"), col("r.records_below"),
        round(col("r.records_below") / col("n_records"), 6).as("risk_ratio"))
      .orderBy(col("l_level"))
  }

  val q96LDiversitySql: String = {
    val riskCols = LDivLevels.map(k =>
      s"""    CAST(SUM(CASE WHEN l < $k THEN 1 ELSE 0 END) AS BIGINT) AS lg_$k,
         |    CAST(SUM(CASE WHEN l < $k THEN g ELSE 0 END) AS BIGINT) AS lr_$k""".stripMargin)
      .mkString(",\n")
    val branches = LDivLevels.map(k =>
      s"SELECT CAST($k AS BIGINT) AS l_level, n_groups, n_records, min_l, " +
        s"lg_$k AS groups_below, lr_$k AS records_below, " +
        s"ROUND(lr_$k / n_records, 6) AS risk_ratio FROM s")
    s"""WITH g AS (
       |  SELECT c_nationkey,
       |    CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
       |    COUNT(*) AS g, COUNT(DISTINCT c_mktsegment) AS l
       |  FROM customer GROUP BY 1, 2),
       |s AS (
       |  SELECT COUNT(*) AS n_groups, CAST(SUM(g) AS BIGINT) AS n_records,
       |    MIN(l) AS min_l,
       |$riskCols
       |  FROM g)
       |${branches.mkString("\nUNION ALL\n")}
       |ORDER BY l_level""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q97: t-closeness audit (Li et al.) — the third of the release-risk
  // trio: a QI group can be large (k-anonymous) and diverse
  // (l-diverse) yet still leak by DISTRIBUTION — e.g. 90% of one
  // segment where the population holds 20%. Per group, the
  // total-variation distance between the group's sensitive-value
  // distribution and the global one:
  //   TVD_g = ½ Σ_s |c_gs/g − c_s/n|
  // audited against thresholds t.
  //
  // Exactness: TVD never leaves the rationals — the per-cell numerator
  // |c_gs·n − c_s·g| and the absent-cell correction g·(n − Σ_present c_s)
  // are BIGINT (≤ n² ≈ 2.3e8 at sf0.1 — decades of headroom), and the
  // threshold compare cross-multiplies (10·num > t·10·2·g·n with t in
  // tenths) so no division ever happens on the audit path; the reported
  // max TVD is one final ROUND-6.
  //
  // Scale shape: one shuffle on (QI, segment) — map-side combined —
  // then a QI-bounded rollup; the 5-row global segment histogram and
  // the 1-row total ride in as broadcast literals via cross joins.
  // ---------------------------------------------------------------------
  private[operators] val TClosenessTenths: Seq[Long] = Seq(2L, 3L) // t = 0.2, 0.3

  def q97TCloseness(spark: SparkSession, dir: String): DataFrame =
    tClosenessFrom(Tables.customer(spark, dir))

  private[graft] def tClosenessFrom(c: DataFrame): DataFrame = {
    // one corpus shuffle to the (QI, segment) cell frame; everything
    // after runs on QI-domain-bounded frames
    val cells = c
      .groupBy(col("c_nationkey"),
        floor(col("c_acctbal") / lit(1000.0)).cast(LongType).as("bal_band"),
        col("c_mktsegment"))
      .agg(count(lit(1)).as("cgs"))
      .graftCheckpoint(false)
    val gsize = cells.groupBy(col("c_nationkey"), col("bal_band"))
      .agg(sum(col("cgs")).as("g"))
    val glob = cells.groupBy(col("c_mktsegment")).agg(sum(col("cgs")).as("cs"))
    val tot = glob.agg(sum(col("cs")).as("n"))
    val groups = cells
      .join(broadcast(glob), "c_mktsegment")
      .crossJoin(broadcast(tot))
      .join(broadcast(gsize), Seq("c_nationkey", "bal_band"))
      .groupBy(col("c_nationkey"), col("bal_band"), col("g"), col("n"))
      .agg(sum(abs(col("cgs") * col("n") - col("cs") * col("g"))).as("dev"),
        sum(col("cs")).as("present_cs"))
      // segments ABSENT from a group still deviate by their full global
      // mass: Σ_absent cs·g = g·(n − Σ_present cs)
      .withColumn("num", col("dev") + col("g") * (col("n") - col("present_cs")))
      .withColumn("tvd", round(col("num").cast(DoubleType)
        / (lit(2L) * col("g") * col("n")).cast(DoubleType), 6))
    val riskAggs = TClosenessTenths.flatMap(t => Seq(
      sum(when(lit(10L) * col("num") > lit(2L) * t * col("g") * col("n"), 1L)
        .otherwise(0L)).as(s"tg_$t"),
      sum(when(lit(10L) * col("num") > lit(2L) * t * col("g") * col("n"), col("g"))
        .otherwise(0L)).as(s"tr_$t")))
    val folded = groups.agg(count(lit(1)).as("n_groups"),
      (sum(col("g")).as("n_records") +: max(col("tvd")).as("max_tvd") +: riskAggs): _*)
    val rows = TClosenessTenths.map(t => struct(lit(t).as("t_tenths"),
      col(s"tg_$t").as("groups_above"), col(s"tr_$t").as("records_above")))
    folded.select(col("n_groups"), col("n_records"), col("max_tvd"),
        explode(array(rows: _*)).as("r"))
      .select(col("r.t_tenths").as("t_tenths"), col("n_groups"), col("n_records"),
        col("max_tvd"), col("r.groups_above"), col("r.records_above"),
        round(col("r.records_above") / col("n_records"), 6).as("risk_ratio"))
      .orderBy(col("t_tenths"))
  }

  val q97TClosenessSql: String = {
    val riskCols = TClosenessTenths.map(t =>
      s"""    CAST(SUM(CASE WHEN 10 * num > 2 * $t * g * n THEN 1 ELSE 0 END) AS BIGINT) AS tg_$t,
         |    CAST(SUM(CASE WHEN 10 * num > 2 * $t * g * n THEN g ELSE 0 END) AS BIGINT) AS tr_$t""".stripMargin)
      .mkString(",\n")
    val branches = TClosenessTenths.map(t =>
      s"SELECT CAST($t AS BIGINT) AS t_tenths, n_groups, n_records, max_tvd, " +
        s"tg_$t AS groups_above, tr_$t AS records_above, " +
        s"ROUND(tr_$t / n_records, 6) AS risk_ratio FROM s")
    s"""WITH cells AS (
       |  SELECT c_nationkey,
       |    CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
       |    c_mktsegment, COUNT(*) AS cgs
       |  FROM customer GROUP BY 1, 2, 3),
       |gsize AS (
       |  SELECT c_nationkey, bal_band, CAST(SUM(cgs) AS BIGINT) AS g
       |  FROM cells GROUP BY 1, 2),
       |seg AS (
       |  SELECT c_mktsegment, CAST(SUM(cgs) AS BIGINT) AS cs
       |  FROM cells GROUP BY 1),
       |tot AS (SELECT CAST(SUM(cs) AS BIGINT) AS n FROM seg),
       |grp AS (
       |  SELECT c.c_nationkey, c.bal_band, gs.g, t.n,
       |    CAST(SUM(abs(c.cgs * t.n - gl.cs * gs.g)) AS BIGINT) AS dev,
       |    CAST(SUM(gl.cs) AS BIGINT) AS present_cs
       |  FROM cells c
       |  JOIN seg gl USING (c_mktsegment)
       |  CROSS JOIN tot t
       |  JOIN gsize gs ON gs.c_nationkey = c.c_nationkey AND gs.bal_band = c.bal_band
       |  GROUP BY 1, 2, 3, 4),
       |g2 AS (
       |  SELECT *, dev + g * (n - present_cs) AS num,
       |    ROUND(CAST(dev + g * (n - present_cs) AS DOUBLE)
       |      / CAST(2 * g * n AS DOUBLE), 6) AS tvd
       |  FROM grp),
       |s AS (
       |  SELECT COUNT(*) AS n_groups, CAST(SUM(g) AS BIGINT) AS n_records,
       |    MAX(tvd) AS max_tvd,
       |$riskCols
       |  FROM g2)
       |${branches.mkString("\nUNION ALL\n")}
       |ORDER BY t_tenths""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q98: Theil T inequality index — q94's information-theoretic sibling
  // (Theil 1967): per nation, T = (1/n)·Σ (x/μ)·ln(x/μ) over the same
  // exact revenue-cents grid. Unlike Gini it needs NO ranks at all —
  // one broadcast of the |nations|-row (n, Σx) stats onto the customer
  // frame, one per-row snapped term, one rollup — so it is strictly
  // cheaper at scale (no range exchange) and decomposable (the classic
  // reason to publish Theil alongside Gini).
  //
  // Determinism: x, n, Σx are exact integers; the ratio r = x·n/Σx is
  // ONE fixed-shape double expression (multiply then divide — no
  // integer product that could wrap at scale); r·ln r is nano-snapped
  // per row; per-nation sums run in BIGINT.
  // ---------------------------------------------------------------------
  def q98Theil(spark: SparkSession, dir: String): DataFrame = {
    val named = nationRevenue(spark, dir)
    val stats = named.groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_cust"), sum(col("rev_cents")).as("sx"))
    named.join(broadcast(stats), "n_name")
      .withColumn("r", col("rev_cents").cast(DoubleType) * col("n_cust").cast(DoubleType)
        / col("sx").cast(DoubleType))
      .withColumn("term9",
        floor(col("r") * log(col("r")) * lit(1e9) + lit(0.5)).cast(LongType))
      .groupBy(col("n_name"), col("n_cust"), col("sx"))
      .agg(sum(col("term9")).as("s9"))
      .select(col("n_name"), col("n_cust"),
        round(col("sx").cast(DoubleType) / lit(100.0), 2).as("total_rev"),
        round(col("s9").cast(DoubleType)
          / (col("n_cust").cast(DoubleType) * lit(1e9)), 6).as("theil"))
      .orderBy(col("n_name"))
  }

  val q98TheilSql: String = {
    val r = "CAST(rev_cents AS DOUBLE) * CAST(n_cust AS DOUBLE) / CAST(sx AS DOUBLE)"
    s"""WITH rev AS (
       |  SELECT o_custkey,
       |    CAST(SUM(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  GROUP BY o_custkey),
       |named AS (
       |  SELECT n_name, c_custkey, rev_cents
       |  FROM rev
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN nation ON c_nationkey = n_nationkey),
       |st AS (
       |  SELECT n_name, COUNT(*) AS n_cust, CAST(SUM(rev_cents) AS BIGINT) AS sx
       |  FROM named GROUP BY n_name),
       |t AS (
       |  SELECT named.n_name, n_cust, sx,
       |    CAST(floor(($r) * ln($r) * 1000000000.0 + 0.5) AS BIGINT) AS term9
       |  FROM named JOIN st USING (n_name))
       |SELECT n_name, n_cust,
       |  ROUND(CAST(sx AS DOUBLE) / 100.0, 2) AS total_rev,
       |  ROUND(CAST(CAST(SUM(term9) AS BIGINT) AS DOUBLE)
       |    / (CAST(n_cust AS DOUBLE) * 1000000000.0), 6) AS theil
       |FROM t
       |GROUP BY n_name, n_cust, sx
       |ORDER BY n_name""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q90/q91/q99: two-sample inference suite — the hypothesis-test
  // siblings of the descriptive audits above (q92-q98 ask "what does the
  // distribution look like"; these ask "are these two populations the
  // SAME distribution", the question every A/B readout and every
  // source-vs-source curation comparison reduces to). Three tests, three
  // distinct distributional assumptions:
  //   q90  Welch's unequal-variance t-test   (parametric, mean shift)
  //   q91  Kolmogorov-Smirnov two-sample     (nonparametric, any shape)
  //   q99  Mann-Whitney U, tie-corrected     (nonparametric, rank shift)
  //
  // Shared determinism discipline (q79/q94/q98's): order totals snap to
  // the exact cents grid (BIGINT) at the scan, every accumulation is an
  // integer sum — squares and rank products widened to DecimalType(38,0)
  // BEFORE the multiply, mirroring the oracle's HUGEINT (q94's ADVICE
  // r09/r10 lesson) — and the final statistics are ONE fixed-shape
  // double expression over those exact sums, so both engines evaluate
  // identical IEEE trees. No per-row double is ever summed.
  //
  // Scale shape: q90 is a pure moment-sum fold (one shuffle, |nations|
  // rows of state — the form that needs no second pass at any scale).
  // q91/q99 need cumulative counts over the VALUE order; the corpus
  // first collapses to the distinct-cents grid per group (bounded by
  // the value domain), then `Relational.prefixSumByRange` computes the
  // running totals via range slices + broadcast offsets — never the
  // 3-reducer window that `Window.partitionBy(o_orderstatus)` would
  // plan (the q83/q94 single-partition-rank lesson, applied to ECDFs).
  // ---------------------------------------------------------------------
  private val SegA = "BUILDING"
  private val SegB = "MACHINERY"

  /** Shared two-sample base: one row per order of a SegA/SegB customer —
    * (n_name, the `keep` order columns, exact cents, is_a tag).
    * orders⋈customer shuffles on the customer key (both corpus-sized at
    * scale), nation names broadcast.
    */
  private def segmentOrderCents(spark: SparkSession, dir: String,
                                keep: Seq[String] = Nil): DataFrame =
    Tables.orders(spark, dir)
      .select((col("o_custkey") +: keep.map(col)) :+
        floor(col("o_totalprice") * lit(100.0) + lit(0.5)).cast(LongType).as("cents"): _*)
      .join(Tables.customer(spark, dir)
          .filter(col("c_mktsegment").isin(SegA, SegB))
          .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .select((col("n_name") +: keep.map(col)) ++ Seq(col("cents"),
        when(col("c_mktsegment") === SegA, 1L).otherwise(0L).as("is_a")): _*)

  /** SQL mirror of [[segmentOrderCents]] (CTE body, no leading WITH). */
  private val segmentOrderCentsSql: String =
    s"""j AS (
       |  SELECT n_name,
       |    CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents,
       |    CASE WHEN c_mktsegment = '$SegA' THEN 1 ELSE 0 END AS is_a
       |  FROM orders
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN nation ON c_nationkey = n_nationkey
       |  WHERE c_mktsegment IN ('$SegA', '$SegB'))""".stripMargin

  def q90WelchTtest(spark: SparkSession, dir: String): DataFrame = {
    val dec0 = lit(0L).cast(DecimalType(38, 0))
    val m = segmentOrderCents(spark, dir)
      .groupBy(col("n_name"))
      .agg(
        sum(col("is_a")).as("n_a"),
        sum(when(col("is_a") === 1L, col("cents")).otherwise(0L)).as("s_a"),
        sum(when(col("is_a") === 1L,
          col("cents").cast(DecimalType(38, 0)) * col("cents")).otherwise(dec0)).as("ss_a"),
        sum(lit(1L) - col("is_a")).as("n_b"),
        sum(when(col("is_a") === 0L, col("cents")).otherwise(0L)).as("s_b"),
        sum(when(col("is_a") === 0L,
          col("cents").cast(DecimalType(38, 0)) * col("cents")).otherwise(dec0)).as("ss_b"))
      .filter(col("n_a") >= 2L && col("n_b") >= 2L)
    val dna = col("n_a").cast(DoubleType)
    val dnb = col("n_b").cast(DoubleType)
    val ma = col("s_a").cast(DoubleType) / dna
    val mb = col("s_b").cast(DoubleType) / dnb
    val va = (col("ss_a").cast(DoubleType)
      - col("s_a").cast(DoubleType) * col("s_a").cast(DoubleType) / dna) / (dna - lit(1.0))
    val vb = (col("ss_b").cast(DoubleType)
      - col("s_b").cast(DoubleType) * col("s_b").cast(DoubleType) / dnb) / (dnb - lit(1.0))
    val sea = va / dna
    val seb = vb / dnb
    m.select(col("n_name"), col("n_a"), col("n_b"),
        round(ma / lit(100.0), 4).as("mean_a"),
        round(mb / lit(100.0), 4).as("mean_b"),
        round((ma - mb) / sqrt(sea + seb), 6).as("t_stat"),
        round((sea + seb) * (sea + seb)
          / (sea * sea / (dna - lit(1.0)) + seb * seb / (dnb - lit(1.0))), 2).as("df"))
      .orderBy(col("n_name"))
  }

  val q90WelchTtestSql: String = {
    val ma = "CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE)"
    val mb = "CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE)"
    val va = "(CAST(ss_a AS DOUBLE) - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE)) / (CAST(n_a AS DOUBLE) - 1.0)"
    val vb = "(CAST(ss_b AS DOUBLE) - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE)) / (CAST(n_b AS DOUBLE) - 1.0)"
    val sea = s"($va) / CAST(n_a AS DOUBLE)"
    val seb = s"($vb) / CAST(n_b AS DOUBLE)"
    s"""WITH $segmentOrderCentsSql,
       |m AS (
       |  SELECT n_name,
       |    CAST(SUM(is_a) AS BIGINT) AS n_a,
       |    CAST(SUM(CASE WHEN is_a = 1 THEN cents ELSE 0 END) AS BIGINT) AS s_a,
       |    SUM(CASE WHEN is_a = 1 THEN CAST(cents AS HUGEINT) * cents ELSE 0 END) AS ss_a,
       |    CAST(SUM(1 - is_a) AS BIGINT) AS n_b,
       |    CAST(SUM(CASE WHEN is_a = 0 THEN cents ELSE 0 END) AS BIGINT) AS s_b,
       |    SUM(CASE WHEN is_a = 0 THEN CAST(cents AS HUGEINT) * cents ELSE 0 END) AS ss_b
       |  FROM j GROUP BY n_name
       |  HAVING SUM(is_a) >= 2 AND SUM(1 - is_a) >= 2)
       |SELECT n_name, n_a, n_b,
       |  ROUND(($ma) / 100.0, 4) AS mean_a,
       |  ROUND(($mb) / 100.0, 4) AS mean_b,
       |  ROUND((($ma) - ($mb)) / sqrt(($sea) + ($seb)), 6) AS t_stat,
       |  ROUND((($sea) + ($seb)) * (($sea) + ($seb))
       |    / (($sea) * ($sea) / (CAST(n_a AS DOUBLE) - 1.0)
       |       + ($seb) * ($seb) / (CAST(n_b AS DOUBLE) - 1.0)), 2) AS df
       |FROM m
       |ORDER BY n_name""".stripMargin
  }

  def q91KsTest(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
      .select(col("o_orderstatus"),
        floor(col("o_totalprice") * lit(100.0) + lit(0.5)).cast(LongType).as("cents"),
        when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L).as("is_a"))
    val g = o.groupBy(col("o_orderstatus"), col("cents"))
      .agg(sum(col("is_a")).as("c_a"), sum(lit(1L) - col("is_a")).as("c_b"))
    val cums = Relational.prefixSumByRange(g, Seq("o_orderstatus"),
      Seq(col("cents")), Seq("cum_a" -> col("c_a"), "cum_b" -> col("c_b")))
    // sample sizes = the final cumulative value (increments are >= 0, so
    // max ≡ last); the sup statistic compares the two ECDFs on the
    // common-denominator integer grid |cum_a·n_b − cum_b·n_a| — exact in
    // decimal, divided once at the end — so D is never a max over
    // accumulated per-row doubles
    val tot = cums.groupBy(col("o_orderstatus"))
      .agg(max(col("cum_a")).as("n_a"), max(col("cum_b")).as("n_b"))
    val d = cums.join(broadcast(tot), "o_orderstatus")
      .select(col("o_orderstatus"), col("n_a"), col("n_b"),
        abs(col("cum_a").cast(DecimalType(38, 0)) * col("n_b")
          - col("cum_b").cast(DecimalType(38, 0)) * col("n_a")).as("num"))
      .groupBy(col("o_orderstatus"), col("n_a"), col("n_b"))
      .agg(max(col("num")).as("dnum"))
      .filter(col("n_a") >= 1L && col("n_b") >= 1L)
    val dStat = col("dnum").cast(DoubleType) /
      (col("n_a").cast(DoubleType) * col("n_b").cast(DoubleType))
    d.select(col("o_orderstatus"), col("n_a"), col("n_b"),
        round(dStat, 6).as("d_stat"),
        round(dStat * sqrt(col("n_a").cast(DoubleType) * col("n_b").cast(DoubleType)
          / (col("n_a") + col("n_b")).cast(DoubleType)), 6).as("ks_z"))
      .orderBy(col("o_orderstatus"))
  }

  val q91KsTestSql: String = {
    val dStat = "CAST(dnum AS DOUBLE) / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))"
    s"""WITH o AS (
       |  SELECT o_orderstatus,
       |    CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents,
       |    CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS is_a
       |  FROM orders
       |  WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
       |g AS (
       |  SELECT o_orderstatus, cents,
       |    CAST(SUM(is_a) AS BIGINT) AS c_a, CAST(SUM(1 - is_a) AS BIGINT) AS c_b
       |  FROM o GROUP BY 1, 2),
       |c AS (
       |  SELECT o_orderstatus, c_a, c_b,
       |    CAST(SUM(c_a) OVER w AS BIGINT) AS cum_a,
       |    CAST(SUM(c_b) OVER w AS BIGINT) AS cum_b
       |  FROM g
       |  WINDOW w AS (PARTITION BY o_orderstatus ORDER BY cents
       |               ROWS UNBOUNDED PRECEDING)),
       |t AS (
       |  SELECT o_orderstatus,
       |    CAST(MAX(cum_a) AS BIGINT) AS n_a, CAST(MAX(cum_b) AS BIGINT) AS n_b
       |  FROM c GROUP BY 1),
       |d AS (
       |  SELECT o_orderstatus, n_a, n_b,
       |    MAX(abs(CAST(cum_a AS HUGEINT) * n_b - CAST(cum_b AS HUGEINT) * n_a)) AS dnum
       |  FROM c JOIN t USING (o_orderstatus)
       |  GROUP BY 1, 2, 3
       |  HAVING n_a >= 1 AND n_b >= 1)
       |SELECT o_orderstatus, n_a, n_b,
       |  ROUND($dStat, 6) AS d_stat,
       |  ROUND(($dStat) * sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
       |    / CAST(n_a + n_b AS DOUBLE)), 6) AS ks_z
       |FROM d
       |ORDER BY o_orderstatus""".stripMargin
  }

  def q99MannWhitney(spark: SparkSession, dir: String): DataFrame = {
    val g = segmentOrderCents(spark, dir)
      .groupBy(col("n_name"), col("cents"))
      .agg(sum(col("is_a")).as("c_a"), sum(lit(1L) - col("is_a")).as("c_b"))
    val cums = Relational.prefixSumByRange(g, Seq("n_name"),
      Seq(col("cents")), Seq("cum_t" -> (col("c_a") + col("c_b"))))
    val t = col("c_a") + col("c_b")
    // average-rank method without per-row fractions: every rank quantity
    // is DOUBLED so it stays on the integer grid — 2·avgrank(v) =
    // 2·cum_before + t + 1 — and the rank-sum/tie accumulators widen to
    // decimal before multiplying (rank·count products reach n² and tie
    // cubes n³: long wraps at scale, q94's lesson)
    val a = cums
      .select(col("n_name"), col("c_a"), col("c_b"),
        (col("c_a").cast(DecimalType(38, 0))
          * (lit(2L) * (col("cum_t") - t) + t + lit(1L))).as("r2term"),
        (t.cast(DecimalType(38, 0)) * t * t - t).as("tie3"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("nv"), sum(col("c_a")).as("n_a"),
        sum(col("c_b")).as("n_b"), sum(col("r2term")).as("r2"),
        sum(col("tie3")).as("ties"))
      .filter(col("nv") >= 2L && col("n_a") >= 2L && col("n_b") >= 2L)
    val dna = col("n_a").cast(DoubleType)
    val dnb = col("n_b").cast(DoubleType)
    val dn = (col("n_a") + col("n_b")).cast(DoubleType)
    val ua = col("r2").cast(DoubleType) / lit(2.0) - dna * (dna + lit(1.0)) / lit(2.0)
    val varU = dna * dnb / lit(12.0) *
      ((dn + lit(1.0)) - col("ties").cast(DoubleType) / (dn * (dn - lit(1.0))))
    a.select(col("n_name"), col("n_a"), col("n_b"),
        round(ua, 1).as("u_a"),
        round((ua - dna * dnb / lit(2.0)) / sqrt(varU), 6).as("z"))
      .orderBy(col("n_name"))
  }

  val q99MannWhitneySql: String = {
    val ua = "CAST(r2 AS DOUBLE) / 2.0 - CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) + 1.0) / 2.0"
    val varU = "CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0 * ((CAST(n_a + n_b AS DOUBLE) + 1.0) - CAST(ties AS DOUBLE) / (CAST(n_a + n_b AS DOUBLE) * (CAST(n_a + n_b AS DOUBLE) - 1.0)))"
    s"""WITH $segmentOrderCentsSql,
       |g AS (
       |  SELECT n_name, cents,
       |    CAST(SUM(is_a) AS BIGINT) AS c_a, CAST(SUM(1 - is_a) AS BIGINT) AS c_b
       |  FROM j GROUP BY 1, 2),
       |c AS (
       |  SELECT n_name, c_a, c_b,
       |    CAST(SUM(c_a + c_b) OVER (PARTITION BY n_name ORDER BY cents
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_t
       |  FROM g),
       |a AS (
       |  SELECT n_name, COUNT(*) AS nv,
       |    CAST(SUM(c_a) AS BIGINT) AS n_a, CAST(SUM(c_b) AS BIGINT) AS n_b,
       |    SUM(CAST(c_a AS HUGEINT)
       |        * (2 * (cum_t - (c_a + c_b)) + (c_a + c_b) + 1)) AS r2,
       |    SUM(CAST(c_a + c_b AS HUGEINT) * (c_a + c_b) * (c_a + c_b)
       |        - (c_a + c_b)) AS ties
       |  FROM c GROUP BY 1
       |  HAVING COUNT(*) >= 2 AND SUM(c_a) >= 2 AND SUM(c_b) >= 2)
       |SELECT n_name, n_a, n_b,
       |  ROUND($ua, 1) AS u_a,
       |  ROUND((($ua) - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 2.0)
       |    / sqrt($varU), 6) AS z
       |FROM a
       |ORDER BY n_name""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q100/q101: the k-group completions of the two-sample suite —
  // one-way ANOVA (does ANY of the k priority classes shift the mean)
  // and the chi-square test of independence (are priority and status
  // associated at all). Both reduce to bounded contingency/moment
  // frames after one shuffle, so the test statistics cost nothing more
  // than the group-by that produces them.
  //
  // Float-sum determinism, two techniques: ANOVA's Σ s_j²/n_j is the
  // only double accumulation, and k is a FIXED public domain (the five
  // TPC-H priorities) — so the sum unrolls into one left-associated
  // five-term expression, identical text in both engines (no
  // aggregation order to diverge). Chi-square's cell contributions
  // nano-snap to the integer grid (q98's floor(x·1e6 + 0.5) gadget)
  // and sum exactly.
  // ---------------------------------------------------------------------
  private val Priorities =
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  /** One-way ANOVA across the order priorities, per order status, of the
    * value column `v` of `b`: the per-status moment frame, its group
    * count k and the between/within sums of squares (q100, q119).
    */
  private def priorityAnova(b: DataFrame, v: String): (DataFrame, Column, Column, Column) = {
    val aggs = Priorities.zipWithIndex.flatMap { case (p, i) =>
      Seq(sum(when(col("o_orderpriority") === p, 1L).otherwise(0L)).as(s"n_$i"),
        sum(when(col("o_orderpriority") === p, col(v)).otherwise(0L)).as(s"s_$i"))
    }
    val m = b.groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        (Seq(sum(col(v)).as("s"),
          sum(col(v).cast(DecimalType(38, 0)) * col(v)).as("ss")) ++ aggs): _*)
    val dn = col("n").cast(DoubleType)
    // the five group terms in fixed textual order — never an agg over
    // a double
    val terms = Priorities.indices.map { i =>
      when(col(s"n_$i") > 0L,
        col(s"s_$i").cast(DoubleType) * col(s"s_$i").cast(DoubleType)
          / col(s"n_$i").cast(DoubleType)).otherwise(lit(0.0))
    }
    val sumTerm = terms.reduceLeft(_ + _)
    val k = Priorities.indices.map(i =>
      when(col(s"n_$i") > 0L, 1L).otherwise(0L)).reduceLeft(_ + _)
    val ssb = sumTerm - col("s").cast(DoubleType) * col("s").cast(DoubleType) / dn
    val ssw = col("ss").cast(DoubleType) - sumTerm
    (m, k, ssb, ssw)
  }

  /** The ANOVA oracles' per-priority sums of value column `v` (n_i,
    * s_i), group count k and between/within sums of squares.
    */
  private def priorityAnovaSql(v: String): (String, String, String, String) = {
    val nAggs = Priorities.zipWithIndex.map { case (p, i) =>
      s"""    CAST(SUM(CASE WHEN o_orderpriority = '$p' THEN 1 ELSE 0 END) AS BIGINT) AS n_$i,
         |    CAST(SUM(CASE WHEN o_orderpriority = '$p' THEN $v ELSE 0 END) AS BIGINT) AS s_$i""".stripMargin
    }.mkString(",\n")
    val terms = Priorities.indices.map(i =>
      s"CASE WHEN n_$i > 0 THEN CAST(s_$i AS DOUBLE) * CAST(s_$i AS DOUBLE) / CAST(n_$i AS DOUBLE) ELSE 0.0 END")
      .mkString("(", " + ", ")")
    val k = Priorities.indices.map(i => s"CASE WHEN n_$i > 0 THEN 1 ELSE 0 END")
      .mkString("(", " + ", ")")
    val ssb = s"($terms - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))"
    val ssw = s"(CAST(ss AS DOUBLE) - $terms)"
    (nAggs, k, ssb, ssw)
  }

  def q100Anova(spark: SparkSession, dir: String): DataFrame = {
    val b = Tables.orders(spark, dir)
      .select(col("o_orderstatus"), col("o_orderpriority"),
        floor(col("o_totalprice") * lit(100.0) + lit(0.5)).cast(LongType).as("cents"))
    val (m, k, ssb, ssw) = priorityAnova(b, "cents")
    m.select(col("o_orderstatus"), col("n").as("n_orders"), k.as("k_groups"),
        round((ssb / (k - lit(1L)).cast(DoubleType))
          / (ssw / (col("n") - k).cast(DoubleType)), 6).as("f_stat"),
        round(ssb / (ssb + ssw), 6).as("eta_sq"))
      .filter(col("k_groups") >= 2L && col("n_orders") > col("k_groups"))
      .orderBy(col("o_orderstatus"))
  }

  val q100AnovaSql: String = {
    val (nAggs, k, ssb, ssw) = priorityAnovaSql("cents")
    s"""WITH b AS (
       |  SELECT o_orderstatus, o_orderpriority,
       |    CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
       |  FROM orders),
       |m AS (
       |  SELECT o_orderstatus, COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS s,
       |    SUM(CAST(cents AS HUGEINT) * cents) AS ss,
       |$nAggs
       |  FROM b GROUP BY o_orderstatus)
       |SELECT o_orderstatus, n AS n_orders, CAST($k AS BIGINT) AS k_groups,
       |  ROUND(($ssb / CAST($k - 1 AS DOUBLE))
       |    / ($ssw / CAST(n - $k AS DOUBLE)), 6) AS f_stat,
       |  ROUND($ssb / ($ssb + $ssw), 6) AS eta_sq
       |FROM m
       |WHERE $k >= 2 AND n > $k
       |ORDER BY o_orderstatus""".stripMargin
  }

  def q101Chi2Independence(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_orderpriority"), col("o_orderstatus"))
    val cells = o.groupBy(col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("obs"))
    // full R×C grid: a structurally-zero cell still carries expected
    // mass (q92's left-join discipline)
    val rows = cells.groupBy(col("o_orderpriority")).agg(sum(col("obs")).as("r"))
    val cols_ = cells.groupBy(col("o_orderstatus")).agg(sum(col("obs")).as("c"))
    val tot = cells.agg(sum(col("obs")).as("nn"),
      countDistinct(col("o_orderpriority")).as("nr"),
      countDistinct(col("o_orderstatus")).as("nc"))
    val grid = rows.crossJoin(cols_)
      .join(cells, Seq("o_orderpriority", "o_orderstatus"), "left")
      .select(col("o_orderpriority"), col("o_orderstatus"),
        col("r"), col("c"), coalesce(col("obs"), lit(0L)).as("obs"))
      .crossJoin(broadcast(tot))
    val e = col("r").cast(DoubleType) * col("c").cast(DoubleType) /
      col("nn").cast(DoubleType)
    val contrib = (col("obs").cast(DoubleType) - e) * (col("obs").cast(DoubleType) - e) / e
    val snapped = grid
      .withColumn("e", e)
      .withColumn("c6", floor(contrib * lit(1e6) + lit(0.5)).cast(LongType))
    val chi2 = snapped.agg(sum(col("c6")).as("chi6"))
    snapped.crossJoin(broadcast(chi2))
      .select(col("o_orderpriority"), col("o_orderstatus"), col("obs"),
        round(col("e"), 6).as("expected"),
        round(col("c6").cast(DoubleType) / lit(1e6), 6).as("contrib"),
        round(col("chi6").cast(DoubleType) / lit(1e6), 6).as("chi2"),
        ((col("nr") - 1L) * (col("nc") - 1L)).as("dof"))
      .orderBy(col("o_orderpriority"), col("o_orderstatus"))
  }

  val q101Chi2IndependenceSql: String = {
    val e = "CAST(r AS DOUBLE) * CAST(c AS DOUBLE) / CAST(nn AS DOUBLE)"
    val contrib = s"(CAST(obs AS DOUBLE) - $e) * (CAST(obs AS DOUBLE) - $e) / ($e)"
    s"""WITH cells AS (
       |  SELECT o_orderpriority, o_orderstatus, COUNT(*) AS obs
       |  FROM orders GROUP BY 1, 2),
       |rs AS (SELECT o_orderpriority, CAST(SUM(obs) AS BIGINT) AS r FROM cells GROUP BY 1),
       |cs AS (SELECT o_orderstatus, CAST(SUM(obs) AS BIGINT) AS c FROM cells GROUP BY 1),
       |tot AS (SELECT CAST(SUM(obs) AS BIGINT) AS nn,
       |    COUNT(DISTINCT o_orderpriority) AS nr,
       |    COUNT(DISTINCT o_orderstatus) AS nc
       |  FROM cells),
       |grid AS (
       |  SELECT rs.o_orderpriority, cs.o_orderstatus, r, c,
       |    CAST(COALESCE(obs, 0) AS BIGINT) AS obs, nn, nr, nc
       |  FROM rs CROSS JOIN cs
       |  LEFT JOIN cells USING (o_orderpriority, o_orderstatus)
       |  CROSS JOIN tot),
       |snapped AS (
       |  SELECT *, $e AS e,
       |    CAST(floor(($contrib) * 1e6 + 0.5) AS BIGINT) AS c6
       |  FROM grid),
       |x AS (SELECT CAST(SUM(c6) AS BIGINT) AS chi6 FROM snapped)
       |SELECT o_orderpriority, o_orderstatus, obs,
       |  ROUND(e, 6) AS expected,
       |  ROUND(CAST(c6 AS DOUBLE) / 1e6, 6) AS contrib,
       |  ROUND(CAST(chi6 AS DOUBLE) / 1e6, 6) AS chi2,
       |  CAST((nr - 1) * (nc - 1) AS BIGINT) AS dof
       |FROM snapped CROSS JOIN x
       |ORDER BY o_orderpriority, o_orderstatus""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q103: Kruskal-Wallis H — the k-group completion of the RANK branch
  // of the suite, closing the 2×2 test grid: q90→q100 generalizes the
  // parametric pair to k groups (ANOVA), q99→q103 does the same for the
  // rank pair. Per order status, do the five priority classes draw from
  // one distribution?
  //   H = 12/(N(N+1)) · Σ_j R_j²/n_j − 3(N+1),   H_adj = H / C,
  //   C = 1 − Σ(t³−t)/(N³−N)  (tie correction; cents grids tie heavily)
  //
  // Machinery is q99's wholesale: collapse to the distinct-cents grid,
  // running totals via prefixSumByRange, DOUBLED average ranks so rank
  // arithmetic stays on the integer grid, rank-sum accumulators widened
  // to decimal before the multiply. The only doubles are q100's: the
  // five R_j²/n_j terms unroll over the FIXED priority domain into one
  // left-associated expression — no aggregation over a double anywhere.
  // ---------------------------------------------------------------------
  def q103KruskalWallis(spark: SparkSession, dir: String): DataFrame = {
    // (status, priority, value) cell frame — ONE corpus shuffle; the
    // value grid per (status, value) derives from it by a second
    // (grid-bounded) aggregate
    val g2 = Tables.orders(spark, dir)
      .select(col("o_orderstatus"), col("o_orderpriority"),
        floor(col("o_totalprice") * lit(100.0) + lit(0.5)).cast(LongType).as("cents"))
      .groupBy(col("o_orderstatus"), col("o_orderpriority"), col("cents"))
      .agg(count(lit(1)).as("c"))
    val g = g2.groupBy(col("o_orderstatus"), col("cents"))
      .agg(sum(col("c")).as("t"))
    // the prefix frame is EXACTLY (keys, measure input): both internal
    // slice consumers prune to the same projection, so the range
    // exchange canonicalizes equal and reuse fires (the boundary-
    // determinism invariant, ADVICE r10 / PlanShapeSpec) — the
    // per-priority cells join the doubled ranks back by (status, value)
    // instead of riding through the slice machinery
    val cums = Relational.prefixSumByRange(g, Seq("o_orderstatus"),
      Seq(col("cents")), Seq("cum_t" -> col("t")))
    // 2·avgrank(v) = 2·cum_before + t + 1 — integer; per-group doubled
    // rank sums and the tie cubes widen to decimal before multiplying
    val b2 = lit(2L) * (col("cum_t") - col("t")) + col("t") + lit(1L)
    val joined = g2.join(cums.select(col("o_orderstatus"), col("cents"),
      b2.as("b2"), col("t")), Seq("o_orderstatus", "cents"))
    val rAggs = Priorities.zipWithIndex.flatMap { case (p, i) =>
      val isP = col("o_orderpriority") === p
      Seq(sum(when(isP, col("c")).otherwise(0L)).as(s"n_$i"),
        sum(when(isP, col("c").cast(DecimalType(38, 0)) * col("b2"))
          .otherwise(lit(0L).cast(DecimalType(38, 0)))).as(s"r2_$i"))
    }
    // Σ_j c_jv·(t_v²−1) telescopes to Σ_v (t³−t): the tie mass rides the
    // cell rows, no second read of the value grid
    val a = joined
      .groupBy(col("o_orderstatus"))
      .agg(countDistinct(col("cents")).as("nv"),
        (sum(col("c")).as("n") +:
          sum(col("c").cast(DecimalType(38, 0)) * col("t") * col("t")
            - col("c").cast(DecimalType(38, 0))).as("ties") +: rAggs): _*)
      .filter(col("nv") >= 2L)
    val dn = col("n").cast(DoubleType)
    val terms = Priorities.indices.map { i =>
      when(col(s"n_$i") > 0L,
        (col(s"r2_$i").cast(DoubleType) / lit(2.0))
          * (col(s"r2_$i").cast(DoubleType) / lit(2.0))
          / col(s"n_$i").cast(DoubleType)).otherwise(lit(0.0))
    }
    val sumTerm = terms.reduceLeft(_ + _)
    val k = Priorities.indices.map(i =>
      when(col(s"n_$i") > 0L, 1L).otherwise(0L)).reduceLeft(_ + _)
    val h = lit(12.0) / (dn * (dn + lit(1.0))) * sumTerm - lit(3.0) * (dn + lit(1.0))
    val tieC = lit(1.0) - col("ties").cast(DoubleType) / (dn * dn * dn - dn)
    a.select(col("o_orderstatus"), col("n").as("n_orders"), k.as("k_groups"),
        round(h, 6).as("h_stat"), round(h / tieC, 6).as("h_adj"))
      .filter(col("k_groups") >= 2L && col("n_orders") > col("k_groups"))
      .orderBy(col("o_orderstatus"))
  }

  val q103KruskalWallisSql: String = {
    val cAggs = Priorities.zipWithIndex.map { case (p, i) =>
      s"    CAST(SUM(CASE WHEN o_orderpriority = '$p' THEN 1 ELSE 0 END) AS BIGINT) AS c_$i"
    }.mkString(",\n")
    val rAggs = Priorities.indices.map { i =>
      s"""    CAST(SUM(c_$i) AS BIGINT) AS n_$i,
         |    SUM(CAST(c_$i AS HUGEINT) * (2 * (cum_t - t) + t + 1)) AS r2_$i""".stripMargin
    }.mkString(",\n")
    val terms = Priorities.indices.map(i =>
      s"CASE WHEN n_$i > 0 THEN (CAST(r2_$i AS DOUBLE) / 2.0) * (CAST(r2_$i AS DOUBLE) / 2.0) / CAST(n_$i AS DOUBLE) ELSE 0.0 END")
      .mkString("(", " + ", ")")
    val k = Priorities.indices.map(i => s"CASE WHEN n_$i > 0 THEN 1 ELSE 0 END")
      .mkString("(", " + ", ")")
    val h = s"(12.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)) * $terms" +
      s" - 3.0 * (CAST(n AS DOUBLE) + 1.0))"
    val tieC = "(1.0 - CAST(ties AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - CAST(n AS DOUBLE)))"
    s"""WITH o AS (
       |  SELECT o_orderstatus, o_orderpriority,
       |    CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
       |  FROM orders),
       |g AS (
       |  SELECT o_orderstatus, cents, COUNT(*) AS t,
       |$cAggs
       |  FROM o GROUP BY 1, 2),
       |c AS (
       |  SELECT *,
       |    CAST(SUM(t) OVER (PARTITION BY o_orderstatus ORDER BY cents
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_t
       |  FROM g),
       |a AS (
       |  SELECT o_orderstatus, COUNT(*) AS nv, CAST(SUM(t) AS BIGINT) AS n,
       |    SUM(CAST(t AS HUGEINT) * t * t - t) AS ties,
       |$rAggs
       |  FROM c GROUP BY 1
       |  HAVING COUNT(*) >= 2)
       |SELECT o_orderstatus, n AS n_orders, CAST($k AS BIGINT) AS k_groups,
       |  ROUND($h, 6) AS h_stat,
       |  ROUND($h / $tieC, 6) AS h_adj
       |FROM a
       |WHERE $k >= 2 AND n > $k
       |ORDER BY o_orderstatus""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q109: Benjamini-Hochberg FDR over the per-nation Mann-Whitney
  // battery — the MULTIPLE-TESTING layer the suite still lacked: q99
  // emits ~25 z-scores per run, and at α=0.05 one of them is expected
  // to "discover" by chance alone; BH (1995) is the standard step-up
  // control of the false-discovery rate. Rejections are all hypotheses
  // ranked at-or-below k* = max{i : p_(i) ≤ i·α/m} — including any
  // smaller rank whose OWN p briefly exceeds its threshold (the
  // step-up property; spec-planted).
  //
  // p-values need Φ, which neither engine ships: both sides evaluate
  // the IDENTICAL Abramowitz-Stegun 7.1.26 erf polynomial (max abs
  // error 1.5e-7 — far inside the round-6 reporting grid), nested the
  // same way textually, over z's that are themselves identical doubles
  // (fixed-shape trees over exact integer sums, q99). So p, the sorted
  // order, and the step-up cut are bit-identical cross-engine with no
  // snapping needed.
  //
  // Scale shape: the corpus work IS q99 (nested wholesale — t69's
  // composition discipline); BH itself runs on the m-row test frame
  // (|nations|-bounded), where the rank window and the k* fold are
  // domain-bounded by construction.
  // ---------------------------------------------------------------------
  private val BhAlpha = 0.05

  /** A&S 7.1.26 two-sided normal p-value 2·(1−Φ(|z|)) — fixed shape. */
  private def pTwoSided(z: Column): Column = {
    val x = abs(z) / lit(math.sqrt(2.0))
    val t = lit(1.0) / (lit(1.0) + lit(0.3275911) * x)
    val poly = ((((lit(1.061405429) * t - lit(1.453152027)) * t
      + lit(1.421413741)) * t - lit(0.284496736)) * t + lit(0.254829592)) * t
    val erf = lit(1.0) - poly * exp(-x * x)
    lit(1.0) - erf
  }

  private def pTwoSidedSql(z: String): String = {
    val x = s"(abs($z) / sqrt(2.0))"
    val t = s"(1.0 / (1.0 + 0.3275911 * $x))"
    val poly = s"(((((1.061405429 * $t - 1.453152027) * $t + 1.421413741) * $t - 0.284496736) * $t + 0.254829592) * $t)"
    s"(1.0 - (1.0 - $poly * exp(-$x * $x)))"
  }

  def q109BhFdr(spark: SparkSession, dir: String): DataFrame =
    bhFdrFrom(q99MannWhitney(spark, dir))

  /** BH step-up over any (n_name, ..., z) test frame — spec entry
    * point. The frame is m-row bounded (one row per test), so the rank
    * window and total fold are domain-bounded.
    */
  private[graft] def bhFdrFrom(tests: DataFrame): DataFrame = {
    val scored = tests.select(col("n_name"), col("z"))
      .withColumn("p", pTwoSided(col("z")))
    val ranked = scored
      .withColumn("p_rank", row_number().over(
        Window.orderBy(col("p").asc, col("n_name").asc)))
      .withColumn("m", count(lit(1)).over(Window.partitionBy()))
      .withColumn("bh_thresh",
        col("p_rank").cast(DoubleType) * lit(BhAlpha) / col("m").cast(DoubleType))
    val kStar = ranked.agg(coalesce(max(when(col("p") <= col("bh_thresh"),
      col("p_rank"))), lit(0)).cast(LongType).as("k_star"))
    ranked.crossJoin(broadcast(kStar))
      .select(col("n_name"), round(col("z"), 6).as("z"),
        round(col("p"), 6).as("p_value"), col("p_rank"), col("m").as("n_tests"),
        round(col("bh_thresh"), 6).as("bh_thresh"), col("k_star"),
        (col("p_rank") <= col("k_star")).as("discovery"))
      .orderBy(col("p_rank"))
  }

  val q109BhFdrSql: String = {
    val p = pTwoSidedSql("z")
    s"""WITH mw AS ($q99MannWhitneySql),
       |scored AS (SELECT n_name, z, $p AS p FROM mw),
       |ranked AS (
       |  SELECT n_name, z, p,
       |    ROW_NUMBER() OVER (ORDER BY p ASC, n_name ASC) AS p_rank,
       |    COUNT(*) OVER () AS m
       |  FROM scored),
       |thr AS (
       |  SELECT *, CAST(p_rank AS DOUBLE) * $BhAlpha / CAST(m AS DOUBLE) AS bh_thresh
       |  FROM ranked),
       |ks AS (
       |  SELECT CAST(COALESCE(MAX(CASE WHEN p <= bh_thresh THEN p_rank END), 0)
       |    AS BIGINT) AS k_star
       |  FROM thr)
       |SELECT n_name, ROUND(z, 6) AS z, ROUND(p, 6) AS p_value,
       |  CAST(p_rank AS INT) AS p_rank, CAST(m AS BIGINT) AS n_tests,
       |  ROUND(bh_thresh, 6) AS bh_thresh, k_star,
       |  p_rank <= k_star AS discovery
       |FROM thr CROSS JOIN ks
       |ORDER BY p_rank""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q110: Poisson-bootstrap confidence intervals for the per-nation mean
  // order value — the UNCERTAINTY layer under every point estimate the
  // suite reports. The classical bootstrap resamples n rows WITH
  // replacement per replicate — a shuffle per replicate, a non-starter
  // at corpus scale. The Poisson bootstrap (the standard distributed
  // approximation) instead weights each row independently w ~ Poisson(1)
  // per replicate: one constant ×B fan-out, one hash aggregate, no
  // resampling shuffle — and here w is a PURE FUNCTION of
  // (row key, replicate, seed) via the shared h60 gadget, so the whole
  // resample is reproducible and engine-identical.
  //
  // Determinism: w is an integer (inverse-CDF thresholds of Poisson(1),
  // identical literals both engines); replicate weight/mass sums are
  // integer/decimal; each replicate mean micro-snaps to BIGINT; the SE
  // and CI then come from exact integer moments and order statistics of
  // those snapped means. At B=32 the 2.5%/97.5% percentile ranks
  // ⌈p·B⌉ ∈ {1, 32} land on the extreme order statistics — min/max
  // aggregates, no window at all.
  //
  // Scale shape: ×B fan-out on the scan (constant factor), map-side
  // combined into a |nations|·B bounded frame; everything after is
  // bounded-frame arithmetic.
  // ---------------------------------------------------------------------
  private val BootB = 32
  private val BootSeed = 110
  private val HashSpaceDouble = 1152921504606846976.0 // 2^60
  // P(Poisson(1) <= k), k = 0..7 — w caps at 8 (P(>7) ~ 1e-5)
  private val PoisCdf = Seq(
    "0.36787944117144233", "0.7357588823428847", "0.9196986029286058",
    "0.9810118431238462", "0.9963401531726563", "0.9994058151824183",
    "0.9999167588507119", "0.9999897508033253")

  def q110BootstrapCi(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"),
        floor(col("o_totalprice") * lit(100.0) + lit(0.5)).cast(LongType).as("cents"))
      .join(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("o_orderkey"), col("cents"))
    bootstrapCiFrom(base)
  }

  /** Poisson-bootstrap CI over any (n_name, o_orderkey unique, cents)
    * frame — spec entry point.
    */
  private[graft] def bootstrapCiFrom(base: DataFrame): DataFrame = {
    val point = base.groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sx"))
    val u = (PortableHash.h60(concat_ws(":", col("o_orderkey"), col("b"),
      lit(BootSeed))).cast(DoubleType) + lit(0.5)) / lit(HashSpaceDouble)
    val w = PoisCdf.map(c => when(col("u") > lit(c.toDouble), 1L).otherwise(0L))
      .reduceLeft(_ + _)
    val reps = base
      .select(col("n_name"), col("o_orderkey"), col("cents"),
        explode(array((1 to BootB).map(lit(_)): _*)).as("b"))
      .withColumn("u", u)
      .withColumn("w", w)
      .groupBy(col("n_name"), col("b"))
      .agg(sum(col("w")).as("sw"),
        sum(col("w").cast(DecimalType(38, 0)) * col("cents")).as("swx"))
      .filter(col("sw") > 0L)
      // replicate mean, micro-cent grid: exact BIGINT per (nation, b)
      .withColumn("m6", floor(col("swx").cast(DoubleType)
        / col("sw").cast(DoubleType) * lit(1e6) + lit(0.5)).cast(LongType))
    val stats = reps.groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_reps"),
        sum(col("m6")).as("s1"),
        sum(col("m6").cast(DecimalType(38, 0)) * col("m6")).as("s2"),
        min(col("m6")).as("lo6"), max(col("m6")).as("hi6"))
    val dB = col("n_reps").cast(DoubleType)
    val varBoot = (col("s2").cast(DoubleType)
      - col("s1").cast(DoubleType) * col("s1").cast(DoubleType) / dB) / (dB - lit(1.0))
    point.join(stats, "n_name")
      .select(col("n_name"), col("n_orders"), col("n_reps"),
        round(col("sx").cast(DoubleType) / col("n_orders").cast(DoubleType)
          / lit(100.0), 4).as("mean_val"),
        round(sqrt(varBoot) / lit(1e6) / lit(100.0), 6).as("boot_se"),
        round(col("lo6").cast(DoubleType) / lit(1e6) / lit(100.0), 6).as("ci_lo"),
        round(col("hi6").cast(DoubleType) / lit(1e6) / lit(100.0), 6).as("ci_hi"))
      .orderBy(col("n_name"))
  }

  val q110BootstrapCiSql: String = {
    val uExpr = s"(CAST(${PortableHash.h60Sql(s"o_orderkey || ':' || b || ':$BootSeed'")} AS DOUBLE)" +
      " + 0.5) / 1152921504606846976.0"
    val wExpr = PoisCdf.map(c => s"CASE WHEN u > $c THEN 1 ELSE 0 END")
      .mkString("(", " + ", ")")
    val varBoot = "(CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n_reps AS DOUBLE)) / (CAST(n_reps AS DOUBLE) - 1.0)"
    s"""WITH base AS (
       |  SELECT n_name, o_orderkey,
       |    CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
       |  FROM orders
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN nation ON c_nationkey = n_nationkey),
       |point AS (
       |  SELECT n_name, COUNT(*) AS n_orders, CAST(SUM(cents) AS BIGINT) AS sx
       |  FROM base GROUP BY 1),
       |fan AS (
       |  SELECT n_name, o_orderkey, cents, b, $uExpr AS u
       |  FROM base CROSS JOIN (SELECT unnest(range(1, ${BootB + 1})) AS b)),
       |reps AS (
       |  SELECT n_name, b,
       |    CAST(SUM(w) AS BIGINT) AS sw,
       |    SUM(CAST(w AS HUGEINT) * cents) AS swx
       |  FROM (SELECT n_name, b, cents, $wExpr AS w FROM fan)
       |  GROUP BY 1, 2
       |  HAVING SUM(w) > 0),
       |snapped AS (
       |  SELECT *, CAST(floor(CAST(swx AS DOUBLE) / CAST(sw AS DOUBLE) * 1e6 + 0.5)
       |    AS BIGINT) AS m6
       |  FROM reps),
       |stats AS (
       |  SELECT n_name, COUNT(*) AS n_reps,
       |    CAST(SUM(m6) AS BIGINT) AS s1,
       |    SUM(CAST(m6 AS HUGEINT) * m6) AS s2,
       |    CAST(MIN(m6) AS BIGINT) AS lo6, CAST(MAX(m6) AS BIGINT) AS hi6
       |  FROM snapped GROUP BY 1)
       |SELECT n_name, n_orders, n_reps,
       |  ROUND(CAST(sx AS DOUBLE) / CAST(n_orders AS DOUBLE) / 100.0, 4) AS mean_val,
       |  ROUND(sqrt($varBoot) / 1e6 / 100.0, 6) AS boot_se,
       |  ROUND(CAST(lo6 AS DOUBLE) / 1e6 / 100.0, 6) AS ci_lo,
       |  ROUND(CAST(hi6 AS DOUBLE) / 1e6 / 100.0, 6) AS ci_hi
       |FROM point JOIN stats USING (n_name)
       |ORDER BY n_name""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q111: Monte-Carlo permutation test for the BUILDING-vs-MACHINERY
  // mean order difference — the assumption-free companion to q90 (which
  // trusts the t reference distribution) and q110's testing sibling
  // (bootstrap = interval, permutation = p-value). Each of B=64
  // replicates relabels every order independently with P(A) = n_a/n —
  // the standard large-n Monte-Carlo approximation to the permutation
  // null — and the p-value is the add-one-smoothed fraction of
  // replicates whose |mean difference| reaches the observed one.
  //
  // Determinism: the relabel is an INTEGER compare (h60·n < n_a·2^60,
  // in decimal — no float threshold), replicate sums are exact, both
  // the replicate and observed differences snap to the same micro-cent
  // grid before the ≥ compare, and p is a ratio of exact counts.
  // Scale shape: q110's — ×B fan-out, map-side combine to a
  // |nations|·B frame, bounded arithmetic after.
  // ---------------------------------------------------------------------
  private val PermB = 64
  private val PermSeed = 111

  def q111PermutationTest(spark: SparkSession, dir: String): DataFrame =
    permutationTestFrom(segmentOrderCents(spark, dir, Seq("o_orderkey")))

  /** Permutation test over any (n_name, o_orderkey unique, cents,
    * is_a ∈ {0,1}) frame — spec entry point.
    */
  private[graft] def permutationTestFrom(base: DataFrame): DataFrame = {
    val dec = DecimalType(38, 0)
    val obs = base.groupBy(col("n_name"))
      .agg(sum(col("is_a")).as("n_a"),
        sum(when(col("is_a") === 1L, col("cents")).otherwise(0L)).as("s_a"),
        sum(lit(1L) - col("is_a")).as("n_b"),
        sum(when(col("is_a") === 0L, col("cents")).otherwise(0L)).as("s_b"))
      .filter(col("n_a") >= 2L && col("n_b") >= 2L)
      .withColumn("n", col("n_a") + col("n_b"))
      // observed |mean difference|, micro-cent snapped
      .withColumn("obs6", abs(floor((col("s_a").cast(DoubleType) / col("n_a").cast(DoubleType)
        - col("s_b").cast(DoubleType) / col("n_b").cast(DoubleType)) * lit(1e6)
        + lit(0.5))).cast(LongType))
    // the replicate relabel reads (n_a, n) per nation — a |nations|-row
    // broadcast back onto the fanned-out scan
    val sizes = obs.select(col("n_name"), col("n_a").as("na_ref"), col("n").as("n_ref"))
    val toA = PortableHash.h60(concat_ws(":", col("o_orderkey"), col("b"),
        lit(PermSeed))).cast(dec) * col("n_ref")
      .cast(dec) < lit(PortableHash.HashSpace.toString).cast(dec) * col("na_ref")
    val reps = base
      .join(broadcast(sizes), "n_name")
      .select(col("n_name"), col("cents"), col("o_orderkey"), col("na_ref"), col("n_ref"),
        explode(array((1 to PermB).map(lit(_)): _*)).as("b"))
      .withColumn("to_a", toA)
      .groupBy(col("n_name"), col("b"))
      .agg(sum(when(col("to_a"), 1L).otherwise(0L)).as("pa"),
        sum(when(col("to_a"), col("cents")).otherwise(0L)).as("psa"),
        sum(when(!col("to_a"), 1L).otherwise(0L)).as("pb"),
        sum(when(!col("to_a"), col("cents")).otherwise(0L)).as("psb"))
      .filter(col("pa") > 0L && col("pb") > 0L)
      .withColumn("d6", abs(floor((col("psa").cast(DoubleType) / col("pa").cast(DoubleType)
        - col("psb").cast(DoubleType) / col("pb").cast(DoubleType)) * lit(1e6)
        + lit(0.5))).cast(LongType))
    val counts = reps.join(broadcast(obs.select(col("n_name"), col("obs6"))), "n_name")
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_reps"),
        sum(when(col("d6") >= col("obs6"), 1L).otherwise(0L)).as("n_ge"))
    obs.join(counts, "n_name")
      .select(col("n_name"), col("n_a"), col("n_b"),
        round(col("obs6").cast(DoubleType) / lit(1e6) / lit(100.0), 6).as("obs_diff"),
        col("n_reps"), col("n_ge"),
        round((col("n_ge") + lit(1L)).cast(DoubleType)
          / (col("n_reps") + lit(1L)).cast(DoubleType), 6).as("p_perm"))
      .orderBy(col("n_name"))
  }

  val q111PermutationTestSql: String = {
    val toA = s"CAST(${PortableHash.h60Sql(s"o_orderkey || ':' || b || ':$PermSeed'")} AS HUGEINT)" +
      s" * n_ref < ${PortableHash.HashSpaceSqlHugeInt} * na_ref"
    val mdiff = "(CAST(psa AS DOUBLE) / CAST(pa AS DOUBLE) - CAST(psb AS DOUBLE) / CAST(pb AS DOUBLE))"
    val odiff = "(CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE) - CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE))"
    s"""WITH base AS (
       |  SELECT n_name, o_orderkey,
       |    CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents,
       |    CASE WHEN c_mktsegment = '$SegA' THEN 1 ELSE 0 END AS is_a
       |  FROM orders
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN nation ON c_nationkey = n_nationkey
       |  WHERE c_mktsegment IN ('$SegA', '$SegB')),
       |obs AS (
       |  SELECT n_name,
       |    CAST(SUM(is_a) AS BIGINT) AS n_a,
       |    CAST(SUM(CASE WHEN is_a = 1 THEN cents ELSE 0 END) AS BIGINT) AS s_a,
       |    CAST(SUM(1 - is_a) AS BIGINT) AS n_b,
       |    CAST(SUM(CASE WHEN is_a = 0 THEN cents ELSE 0 END) AS BIGINT) AS s_b
       |  FROM base GROUP BY 1
       |  HAVING SUM(is_a) >= 2 AND SUM(1 - is_a) >= 2),
       |obs2 AS (
       |  SELECT *, n_a + n_b AS n,
       |    CAST(abs(floor($odiff * 1e6 + 0.5)) AS BIGINT) AS obs6
       |  FROM obs),
       |fan AS (
       |  SELECT base.n_name, cents, o_orderkey, b,
       |    o2.n_a AS na_ref, o2.n AS n_ref
       |  FROM base
       |  JOIN obs2 o2 USING (n_name)
       |  CROSS JOIN (SELECT unnest(range(1, ${PermB + 1})) AS b)),
       |reps AS (
       |  SELECT n_name, b,
       |    CAST(SUM(CASE WHEN to_a THEN 1 ELSE 0 END) AS BIGINT) AS pa,
       |    CAST(SUM(CASE WHEN to_a THEN cents ELSE 0 END) AS BIGINT) AS psa,
       |    CAST(SUM(CASE WHEN to_a THEN 0 ELSE 1 END) AS BIGINT) AS pb,
       |    CAST(SUM(CASE WHEN to_a THEN 0 ELSE cents END) AS BIGINT) AS psb
       |  FROM (SELECT n_name, cents, b, $toA AS to_a FROM fan)
       |  GROUP BY 1, 2
       |  HAVING SUM(CASE WHEN to_a THEN 1 ELSE 0 END) > 0
       |     AND SUM(CASE WHEN to_a THEN 0 ELSE 1 END) > 0),
       |snapped AS (
       |  SELECT n_name, b,
       |    CAST(abs(floor($mdiff * 1e6 + 0.5)) AS BIGINT) AS d6
       |  FROM reps),
       |counts AS (
       |  SELECT s.n_name, COUNT(*) AS n_reps,
       |    CAST(SUM(CASE WHEN d6 >= obs6 THEN 1 ELSE 0 END) AS BIGINT) AS n_ge
       |  FROM snapped s JOIN obs2 USING (n_name)
       |  GROUP BY 1)
       |SELECT n_name, n_a, n_b,
       |  ROUND(CAST(obs6 AS DOUBLE) / 1e6 / 100.0, 6) AS obs_diff,
       |  n_reps, n_ge,
       |  ROUND(CAST(n_ge + 1 AS DOUBLE) / CAST(n_reps + 1 AS DOUBLE), 6) AS p_perm
       |FROM obs2 JOIN counts USING (n_name)
       |ORDER BY n_name""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q113: Spearman rank-correlation matrix over the four lineitem
  // measures (quantity, extendedprice, discount, tax) — the robust,
  // monotone-association sibling of q57's Pearson matrix (outlier- and
  // distribution-free, the screen a curation pipeline runs before
  // trusting linear statistics). Standard average-rank tie handling.
  //
  // Scale design: the average rank of a row depends ONLY on its value —
  // avg_rank(v) = cnt_less(v) + (cnt_eq(v)+1)/2 — so ranks are computed
  // on the per-column VALUE-COUNT frames (distinct-value-sized, not
  // row-sized) via the q91 prefix-sum slice machinery, then joined back
  // to rows by value: the three grid-bounded columns (quantity ≤ ~50
  // cells, discount/tax ≤ ~11) broadcast, only the near-unique price map
  // is a real shuffle equi-join. To keep everything integer-exact the
  // engine carries 2×avg_rank = 2·cnt_less + cnt_eq + 1 (an integer;
  // Pearson is affine-invariant so rho is unchanged). Moment sums
  // accumulate in DECIMAL(38,0) (rank products reach ~1e18 at sf0.1 and
  // would overflow BIGINT at 100×; q94's discipline), and the final
  // cast-to-double + corr algebra is the q57 identical-IEEE-ops story:
  // same exact integers in, bit-identical doubles out in both engines.
  // ---------------------------------------------------------------------
  private val SpearmanCols = Seq("qv", "pv", "dv", "tv")

  def q113Spearman(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.lineitem(spark, dir).select(
      floor(col("l_quantity") + lit(0.5)).cast(LongType).as("qv"),
      floor(col("l_extendedprice") * lit(100.0) + lit(0.5)).cast(LongType).as("pv"),
      floor(col("l_discount") * lit(100.0) + lit(0.5)).cast(LongType).as("dv"),
      floor(col("l_tax") * lit(100.0) + lit(0.5)).cast(LongType).as("tv"))
    // 2×average-rank map for one column, keyed by value. cnt_less comes
    // from an INCLUSIVE running count over the sorted distinct values
    // (slice-parallel, never a single-partition window).
    def rankMap(name: String, small: Boolean): DataFrame = {
      val cnts = base.groupBy(col(name)).agg(count(lit(1)).as("__c"))
      val pre = Relational.prefixSumByRange(
        cnts, Nil, Seq(col(name)), Seq("__cum" -> col("__c")))
      val m = pre.select(col(name),
        (lit(2L) * col("__cum") - col("__c") + lit(1L)).as(s"r_$name"))
      if (small) broadcast(m) else m
    }
    val ranked = base
      .join(rankMap("qv", small = true), "qv")
      .join(rankMap("dv", small = true), "dv")
      .join(rankMap("tv", small = true), "tv")
      .join(rankMap("pv", small = false), "pv")
    val d19 = DecimalType(19, 0)
    val d38 = DecimalType(38, 0)
    def s1(a: String) = sum(col(s"r_$a").cast(d19)).as(s"s_$a")
    def s2(a: String, b: String) =
      sum((col(s"r_$a").cast(d19) * col(s"r_$b").cast(d19)).cast(d38)).as(s"s_${a}_$b")
    val pairs = SpearmanCols.combinations(2).map { case Seq(a, b) => (a, b) }.toSeq
    val moments = ranked.agg(
      count(lit(1)).as("n"),
      SpearmanCols.map(s1) ++ SpearmanCols.map(a => s2(a, a)) ++
        pairs.map { case (a, b) => s2(a, b) }: _*)
    def corr(a: String, b: String): Column = {
      val dn = col("n").cast(DoubleType)
      val (da, db) = (col(s"s_$a").cast(DoubleType), col(s"s_$b").cast(DoubleType))
      val (daa, dbb, dab) = (col(s"s_${a}_$a").cast(DoubleType),
        col(s"s_${b}_$b").cast(DoubleType), col(s"s_${a}_$b").cast(DoubleType))
      val (va, vb) = (dn * daa - da * da, dn * dbb - db * db)
      // zero-variance guard (q57's): constant column → null, not NaN
      when(va > 0 && vb > 0, (dn * dab - da * db) / sqrt(va * vb))
    }
    moments.select(col("n") +: pairs.map { case (a, b) => corr(a, b).as(s"rho_${a}_$b") }: _*)
      .orderBy(col("n"))
  }

  val q113SpearmanSql: String = {
    val cols = Seq(
      "qv" -> "CAST(floor(l_quantity + 0.5) AS BIGINT)",
      "pv" -> "CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)",
      "dv" -> "CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT)",
      "tv" -> "CAST(floor(l_tax * 100.0 + 0.5) AS BIGINT)")
    // 2·avg_rank = 2·rank + cnt_eq − 1 (rank() = cnt_less + 1)
    val ranks = cols.map { case (n, _) =>
      s"2 * RANK() OVER (ORDER BY $n) + COUNT(*) OVER (PARTITION BY $n) - 1 AS r_$n" }
    val pairs = SpearmanCols.combinations(2).map { case Seq(a, b) => (a, b) }.toSeq
    val sums =
      SpearmanCols.map(a => s"CAST(SUM(r_$a) AS DOUBLE) AS s_$a") ++
      SpearmanCols.map(a => s"CAST(SUM(r_$a * r_$a) AS DOUBLE) AS s_${a}_$a") ++
      pairs.map { case (a, b) => s"CAST(SUM(r_$a * r_$b) AS DOUBLE) AS s_${a}_$b" }
    val corrs = pairs.map { case (a, b) =>
      s"""CASE WHEN n * s_${a}_$a - s_$a * s_$a > 0 AND n * s_${b}_$b - s_$b * s_$b > 0
         |    THEN (n * s_${a}_$b - s_$a * s_$b)
         |      / sqrt((n * s_${a}_$a - s_$a * s_$a) * (n * s_${b}_$b - s_$b * s_$b)) END AS rho_${a}_$b""".stripMargin }
    s"""WITH b AS (
       |  SELECT ${cols.map { case (n, e) => s"$e AS $n" }.mkString(", ")} FROM lineitem),
       |r AS (
       |  SELECT ${ranks.mkString(",\n    ")}
       |  FROM b),
       |s AS (
       |  SELECT COUNT(*) AS n, ${sums.mkString(",\n    ")}
       |  FROM r),
       |d AS (SELECT CAST(n AS BIGINT) AS n_out, CAST(n AS DOUBLE) AS n, s.* EXCLUDE (n) FROM s)
       |SELECT n_out AS n,
       |  ${corrs.mkString(",\n  ")}
       |FROM d ORDER BY n""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q114: differentially-private release of the (event_type × day) count
  // histogram — Laplace mechanism with SEEDED noise (the q110/q111
  // reproducible-randomness discipline): the noise draw for a cell is a
  // pure function of the cell's identity through the portable 60-bit
  // md5 hash, so the release is bit-reproducible across engines and
  // runs. u ∈ (0,1) from h60, inverse-CDF Laplace(b = 1/ε), ε = 0.5 per
  // cell (count sensitivity 1). The domain is completed to the full
  // observed type × day grid (absent cells released as noisy zeros —
  // suppressing them would leak exact emptiness); output is
  // domain-bounded (|types| · |days| rows) at any input scale, and the
  // plan is one scan aggregate plus two tiny distinct frames cross-
  // joined and broadcast back. ln() is the one non-correctly-rounded
  // IEEE op in the chain; round(…, 6) carries ~9 orders of magnitude of
  // margin over its cross-engine ulp.
  // ---------------------------------------------------------------------
  private val DpEps = 0.5

  def q114DpCounts(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), col("ts").cast(DateType).as("day"))
    val counts = ev.groupBy(col("event_type"), col("day")).agg(count(lit(1)).as("n"))
    val domain = ev.select(col("event_type")).distinct()
      .crossJoin(ev.select(col("day")).distinct())
    val u = (PortableHash.h60(concat_ws(":", lit("dp"), col("event_type"),
        col("day").cast(StringType))).cast(DoubleType) + lit(0.5)) /
      lit(PortableHash.HashSpace.toDouble)
    val x = u - lit(0.5)
    val scale = lit(1.0 / DpEps)
    val noise = when(x < 0, scale * log(lit(1.0) + lit(2.0) * x))
      .otherwise(-scale * log(lit(1.0) - lit(2.0) * x))
    domain.join(counts, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"),
        coalesce(col("n"), lit(0L)).as("n"),
        round(coalesce(col("n"), lit(0L)).cast(DoubleType) + noise, 6).as("noisy_n"))
      .orderBy(col("event_type"), col("day"))
  }

  val q114DpCountsSql: String = {
    val h = PortableHash.h60Sql("'dp' || ':' || event_type || ':' || CAST(day AS VARCHAR)")
    s"""WITH ev AS (SELECT event_type, CAST(ts AS DATE) AS day FROM events),
       |counts AS (SELECT event_type, day, COUNT(*) AS n FROM ev GROUP BY 1, 2),
       |domain AS (
       |  SELECT t.event_type, d.day
       |  FROM (SELECT DISTINCT event_type FROM ev) t
       |  CROSS JOIN (SELECT DISTINCT day FROM ev) d),
       |noised AS (
       |  SELECT event_type, day, CAST(COALESCE(n, 0) AS BIGINT) AS n,
       |    (CAST($h AS DOUBLE) + 0.5) / ${PortableHash.HashSpace.toDouble} - 0.5 AS x
       |  FROM domain LEFT JOIN counts USING (event_type, day))
       |SELECT event_type, day, n,
       |  ROUND(CAST(n AS DOUBLE) + CASE WHEN x < 0
       |    THEN ${1.0 / DpEps} * ln(1.0 + 2.0 * x)
       |    ELSE -(${1.0 / DpEps}) * ln(1.0 - 2.0 * x) END, 6) AS noisy_n
       |FROM noised
       |ORDER BY event_type, day""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q117: distributed decision-stump split finding — the best Gini-gain
  // threshold on a continuous feature for a binary label (events.value
  // predicting event_type = 'purchase'), the inner-loop primitive of
  // every distributed tree learner (MLlib/XGBoost-style): histogram the
  // feature on its cents grid, prefix-sum (count, positives) over the
  // sorted distinct values, score every candidate threshold from the two
  // prefix pairs, keep the top 5.
  //
  // Scale shape: one scan hash-aggregate to the distinct-value frame,
  // prefix sums via the q91 slice machinery (never a single-partition
  // window even when the feature has corpus-many distinct values), and
  // the top-5 is an orderBy+limit → TakeOrdered, per-partition heads
  // only. Determinism: all counts are exact BIGINTs; the gain is double
  // algebra on identical integers SNAPPED to 6 dp BEFORE ordering (the
  // t54 rounded-sort-key discipline), ties broken by threshold.
  // ---------------------------------------------------------------------
  private val GiniTopK = 5

  def q117GiniSplit(spark: SparkSession, dir: String): DataFrame = {
    val b = Tables.events(spark, dir).select(
      floor(col("value") * lit(100.0) + lit(0.5)).cast(LongType).as("v"),
      when(col("event_type") === "purchase", lit(1L)).otherwise(lit(0L)).as("y"))
    val g = b.groupBy(col("v")).agg(count(lit(1)).as("nv"), sum(col("y")).as("pv"))
    val pre = Relational.prefixSumByRange(g, Nil, Seq(col("v")),
      Seq("cum_n" -> col("nv"), "cum_p" -> col("pv")))
    val tot = g.agg(sum(col("nv")).as("tn"), sum(col("pv")).as("tp"))
    def gini(p: Column, n: Column): Column = {
      val q = p.cast(DoubleType) / n.cast(DoubleType)
      lit(1.0) - q * q - (lit(1.0) - q) * (lit(1.0) - q)
    }
    pre.crossJoin(broadcast(tot))
      .filter(col("cum_n") < col("tn")) // a full-left split is no split
      .select(col("v").as("threshold_cents"),
        col("cum_n").as("n_left"), col("cum_p").as("pos_left"),
        round(
          gini(col("tp"), col("tn"))
            - (col("cum_n").cast(DoubleType) / col("tn")) * gini(col("cum_p"), col("cum_n"))
            - ((col("tn") - col("cum_n")).cast(DoubleType) / col("tn"))
              * gini(col("tp") - col("cum_p"), col("tn") - col("cum_n")),
          6).as("gain"))
      .orderBy(col("gain").desc, col("threshold_cents"))
      .limit(GiniTopK)
  }

  val q117GiniSplitSql: String =
    s"""WITH b AS (
       |  SELECT CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS v,
       |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
       |  FROM events),
       |g AS (
       |  SELECT v, COUNT(*) AS nv, CAST(SUM(y) AS BIGINT) AS pv
       |  FROM b GROUP BY v),
       |pre AS (
       |  SELECT v,
       |    CAST(SUM(nv) OVER w AS BIGINT) AS cum_n,
       |    CAST(SUM(pv) OVER w AS BIGINT) AS cum_p,
       |    CAST((SELECT SUM(nv) FROM g) AS BIGINT) AS tn,
       |    CAST((SELECT SUM(pv) FROM g) AS BIGINT) AS tp
       |  FROM g
       |  WINDOW w AS (ORDER BY v ROWS UNBOUNDED PRECEDING)),
       |q AS (
       |  SELECT v, cum_n, cum_p, tn, tp,
       |    CAST(tp AS DOUBLE) / CAST(tn AS DOUBLE) AS qa,
       |    CAST(cum_p AS DOUBLE) / CAST(cum_n AS DOUBLE) AS ql,
       |    CAST(tp - cum_p AS DOUBLE) / CAST(tn - cum_n AS DOUBLE) AS qr
       |  FROM pre WHERE cum_n < tn)
       |SELECT v AS threshold_cents, cum_n AS n_left, cum_p AS pos_left,
       |  ROUND(
       |    (1.0 - qa * qa - (1.0 - qa) * (1.0 - qa))
       |    - (CAST(cum_n AS DOUBLE) / CAST(tn AS DOUBLE))
       |      * (1.0 - ql * ql - (1.0 - ql) * (1.0 - ql))
       |    - (CAST(tn - cum_n AS DOUBLE) / CAST(tn AS DOUBLE))
       |      * (1.0 - qr * qr - (1.0 - qr) * (1.0 - qr)),
       |    6) AS gain
       |FROM q
       |WHERE cum_n < tn
       |ORDER BY gain DESC, threshold_cents
       |LIMIT $GiniTopK""".stripMargin

  // ---------------------------------------------------------------------
  // q119: Brown-Forsythe test (Levene's test with median centers —
  // Brown & Forsythe 1974, the robust standard) for variance
  // homogeneity of order totals across priorities, per order status —
  // the battery member that JUSTIFIES the choice between q90's Welch
  // and a pooled t: heteroscedasticity detection. The statistic is a
  // one-way ANOVA (q100's machinery) over z = |x − med_group|.
  //
  // Exactness: group medians come from the q19 slice-rank machinery on
  // the CENTS grid — for p50 the interpolation fraction is 0 or ½, so
  // 2·median is an exact integer and z2 = |2·cents − med2| stays on an
  // integer grid (F is a ratio of quadratics in z, so the factor 2
  // cancels). Moment sums are BIGINT/DECIMAL; the F algebra is q100's
  // fixed-textual-order double arithmetic on identical integers.
  //
  // Scale shape: one rank pass for the ≤|status|·|priority| medians
  // (bounded side table, broadcast back), one scan aggregate to the
  // |status|-row moment frame. The medians map joins by key — never a
  // whole-group buffer.
  // ---------------------------------------------------------------------
  def q119Levene(spark: SparkSession, dir: String): DataFrame = {
    val b = Tables.orders(spark, dir)
      .select(col("o_orderstatus"), col("o_orderpriority"),
        floor(col("o_totalprice") * lit(100.0) + lit(0.5)).cast(LongType).as("cents"))
      .withColumn("gkey", concat_ws("|", col("o_orderstatus"), col("o_orderpriority")))
    val med = Relational.rankQuantiles(b, "gkey", "cents", Seq("med" -> 0.5))
      .select(col("gkey"), floor(col("med") * 2 + lit(0.5)).cast(LongType).as("med2"))
    val z = b.join(broadcast(med), "gkey")
      .withColumn("z2", abs(lit(2L) * col("cents") - col("med2")))
    val (m, k, ssb, ssw) = priorityAnova(z, "z2")
    m.select(col("o_orderstatus"), col("n").as("n_orders"), k.as("k_groups"),
        round((ssb / (k - lit(1L)).cast(DoubleType))
          / (ssw / (col("n") - k).cast(DoubleType)), 6).as("f_bf"))
      .filter(col("k_groups") >= 2L && col("n_orders") > col("k_groups"))
      .orderBy(col("o_orderstatus"))
  }

  val q119LeveneSql: String = {
    val (nAggs, k, ssb, ssw) = priorityAnovaSql("z2")
    s"""WITH b AS (
       |  SELECT o_orderstatus, o_orderpriority,
       |    CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
       |  FROM orders),
       |med AS (
       |  SELECT o_orderstatus, o_orderpriority,
       |    CAST(floor(ROUND(quantile_cont(cents, 0.5), 6) * 2 + 0.5) AS BIGINT) AS med2
       |  FROM b GROUP BY 1, 2),
       |z AS (
       |  SELECT b.o_orderstatus, b.o_orderpriority,
       |    abs(2 * cents - med2) AS z2
       |  FROM b JOIN med USING (o_orderstatus, o_orderpriority)),
       |m AS (
       |  SELECT o_orderstatus, COUNT(*) AS n,
       |    CAST(SUM(z2) AS BIGINT) AS s,
       |    CAST(SUM(CAST(z2 AS HUGEINT) * z2) AS HUGEINT) AS ss,
       |$nAggs
       |  FROM z GROUP BY o_orderstatus)
       |SELECT o_orderstatus, n AS n_orders, $k AS k_groups,
       |  ROUND(($ssb / ($k - 1.0)) / ($ssw / CAST(n - $k AS DOUBLE)), 6) AS f_bf
       |FROM m
       |WHERE $k >= 2 AND n > $k
       |ORDER BY o_orderstatus""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q127: Kendall's tau-b between quantity and discount (Kendall 1938;
  // tau-b tie correction, Kendall 1945) — the pair-concordance rank
  // correlation that complements q113's Spearman: Spearman correlates
  // average ranks, tau-b asks directly "of all item pairs, how many
  // move together vs against", the standard choice for small-
  // cardinality ordinal columns like these.
  //   τ_b = (C − D) / sqrt((n0 − T_q)(n0 − T_d)),   n0 = n(n−1)/2
  //
  // Scale shape: the corpus collapses to the JOINT HISTOGRAM in ONE
  // map-side-combined shuffle — ≤ 50×11 cells, a constant of the VALUE
  // DOMAIN, not the corpus — and every pair statistic (concordant /
  // discordant cross-products, tie masses) is arithmetic on that
  // broadcast grid. The O(n²) pair semantics costs O(cells²) ≈ 3·10⁵
  // products at ANY corpus size: the same histogram trick as q117's
  // split scan.
  //
  // Exactness: C, D, and both tie masses are exact DECIMAL(38,0) sums
  // of count products; τ_b is ONE double expression over them,
  // rounded once.
  // ---------------------------------------------------------------------
  def q127KendallTau(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(floor(col("l_quantity") + lit(0.5)).cast(LongType).as("q"),
        floor(col("l_discount") * lit(100.0) + lit(0.5)).cast(LongType).as("d"))
    kendallTauFrom(li)
  }

  /** Tau-b over any two small-cardinality integer columns (q, d) —
    * spec entry point.
    */
  private[graft] def kendallTauFrom(pairsDf: DataFrame): DataFrame = {
    val d38 = DecimalType(38, 0)
    val h = pairsDf.groupBy(col("q"), col("d"))
      .agg(count(lit(1)).as("cnt"))
      .graftCheckpoint(false)
    val tot = h.agg(sum(col("cnt")).as("n"), count(lit(1)).as("n_cells"))
    val a = h.select(col("q").as("qa"), col("d").as("da"), col("cnt").as("ca"))
    val b = h.select(col("q").as("qb"), col("d").as("db"), col("cnt").as("cb"))
    val cd = a.join(broadcast(b),
        col("qb") > col("qa") && col("db") =!= col("da"))
      .agg(
        sum(when(col("db") > col("da"),
          col("ca").cast(d38) * col("cb")).otherwise(lit(0L).cast(d38))).as("c_pairs"),
        sum(when(col("db") < col("da"),
          col("ca").cast(d38) * col("cb")).otherwise(lit(0L).cast(d38))).as("d_pairs"))
    val tq = h.groupBy(col("q")).agg(sum(col("cnt")).as("m"))
      .agg(sum(col("m").cast(d38) * (col("m") - lit(1L))).as("tq2"))
    val td = h.groupBy(col("d")).agg(sum(col("cnt")).as("m"))
      .agg(sum(col("m").cast(d38) * (col("m") - lit(1L))).as("td2"))
    cd.crossJoin(broadcast(tot)).crossJoin(broadcast(tq)).crossJoin(broadcast(td))
      .withColumn("n02", col("n").cast(d38) * (col("n") - lit(1L)))
      .select(col("n").as("n_rows"), col("n_cells"),
        col("c_pairs").cast(LongType).as("c_pairs"),
        col("d_pairs").cast(LongType).as("d_pairs"),
        round((col("c_pairs") - col("d_pairs")).cast(DoubleType)
          / sqrt((col("n02") - col("tq2")).cast(DoubleType) / lit(2.0)
            * ((col("n02") - col("td2")).cast(DoubleType) / lit(2.0))), 6)
          .as("tau_b"))
  }

  val q127KendallTauSql: String =
    """WITH pairs AS (
      |  SELECT CAST(floor(l_quantity + 0.5) AS BIGINT) AS q,
      |    CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT) AS d
      |  FROM lineitem),
      |h AS (SELECT q, d, COUNT(*) AS cnt FROM pairs GROUP BY 1, 2),
      |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS n_cells
      |  FROM h),
      |cd AS (
      |  SELECT
      |    SUM(CASE WHEN b.d > a.d THEN CAST(a.cnt AS HUGEINT) * b.cnt ELSE 0 END) AS c_pairs,
      |    SUM(CASE WHEN b.d < a.d THEN CAST(a.cnt AS HUGEINT) * b.cnt ELSE 0 END) AS d_pairs
      |  FROM h a JOIN h b ON b.q > a.q AND b.d <> a.d),
      |tq AS (
      |  SELECT SUM(CAST(m AS HUGEINT) * (m - 1)) AS tq2
      |  FROM (SELECT CAST(SUM(cnt) AS BIGINT) AS m FROM h GROUP BY q)),
      |td AS (
      |  SELECT SUM(CAST(m AS HUGEINT) * (m - 1)) AS td2
      |  FROM (SELECT CAST(SUM(cnt) AS BIGINT) AS m FROM h GROUP BY d))
      |SELECT n AS n_rows, n_cells,
      |  CAST(c_pairs AS BIGINT) AS c_pairs, CAST(d_pairs AS BIGINT) AS d_pairs,
      |  ROUND(CAST(c_pairs - d_pairs AS DOUBLE)
      |    / sqrt(CAST(CAST(n AS HUGEINT) * (n - 1) - tq2 AS DOUBLE) / 2.0
      |      * (CAST(CAST(n AS HUGEINT) * (n - 1) - td2 AS DOUBLE) / 2.0)), 6) AS tau_b
      |FROM cd CROSS JOIN tot CROSS JOIN tq CROSS JOIN td""".stripMargin

  // ---------------------------------------------------------------------
  // q128: Wasserstein-1 (earth-mover) distance between the early-era
  // (< 1998) and late-era order-value distributions, per order status —
  // the MAGNITUDE companion to q91's KS sup-statistic and q106's PSI:
  // KS says "the worst ECDF gap is D", W₁ says "moving one
  // distribution onto the other costs this many cents per order"
  // (Villani 2003; the standard drift-size metric):
  //   W₁ = ∫ |F_A(x) − F_B(x)| dx
  //      = Σ_grid |F_A(v) − F_B(v)| · (next_v − v)
  //
  // Scale shape: q91's axis — ONE shuffle to the per-(status, cents)
  // count grid, cumulative counts via `prefixSumByRange` (range slices
  // + broadcast offsets), and the successor gap comes from an
  // EQUI-join on (status, rank+1) — no corpus-sized window anywhere;
  // the last grid row has F_A = F_B = 1, so dropping it (no successor)
  // is exact, not an approximation.
  //
  // Exactness: ECDF gaps live on the cross-multiplied integer grid
  // |cum_a·n_b − cum_b·n_a| (q91's discipline), the cents gap is an
  // exact integer, their products accumulate in DECIMAL(38,0), and W₁
  // is ONE double division by n_a·n_b, rounded once.
  // ---------------------------------------------------------------------
  def q128Wasserstein(spark: SparkSession, dir: String): DataFrame =
    wassersteinFrom(eraSplitFrom(spark, dir))

  /** The era-split oracles' `o` (grp, cents, is_a) and `g` (per-cents
    * era counts c_a, c_b).
    */
  private val eraCountsCtesSql: String =
    """o AS (
      |  SELECT o_orderstatus AS grp,
      |    CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents,
      |    CASE WHEN o_orderdate < DATE '1998-01-01' THEN 1 ELSE 0 END AS is_a
      |  FROM orders),
      |g AS (
      |  SELECT grp, cents,
      |    CAST(SUM(is_a) AS BIGINT) AS c_a, CAST(SUM(1 - is_a) AS BIGINT) AS c_b
      |  FROM o GROUP BY 1, 2)""".stripMargin

  /** [[eraCountsCtesSql]] with `c` (running counts cum_a, cum_b) and `t`
    * (era totals n_a, n_b).
    */
  private val eraCdfCtesSql: String =
    s"""$eraCountsCtesSql,
       |c AS (
       |  SELECT grp, c_a, c_b,
       |    CAST(SUM(c_a) OVER w AS BIGINT) AS cum_a,
       |    CAST(SUM(c_b) OVER w AS BIGINT) AS cum_b
       |  FROM g
       |  WINDOW w AS (PARTITION BY grp ORDER BY cents
       |               ROWS UNBOUNDED PRECEDING)),
       |t AS (
       |  SELECT grp,
       |    CAST(MAX(cum_a) AS BIGINT) AS n_a, CAST(MAX(cum_b) AS BIGINT) AS n_b
       |  FROM c GROUP BY 1)""".stripMargin

  /** Shared (grp, cents, is_a) era-split frame for the ECDF-drift pair. */
  private[graft] def eraSplitFrom(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(col("o_orderstatus").as("grp"),
        floor(col("o_totalprice") * lit(100.0) + lit(0.5)).cast(LongType).as("cents"),
        when(col("o_orderdate") < lit("1998-01-01"), 1L).otherwise(0L).as("is_a"))

  /** (grp, cents, c_a, c_b): each grp's era-A and era-B counts per
    * distinct cents value of an (grp, cents, is_a) frame.
    */
  private def eraCounts(o: DataFrame): DataFrame =
    o.groupBy(col("grp"), col("cents"))
      .agg(sum(col("is_a")).as("c_a"), sum(lit(1L) - col("is_a")).as("c_b"))

  /** [[eraCounts]] with both eras' running counts (cum_a, cum_b) up to
    * each cents value and their totals (n_a, n_b).
    */
  private def eraCdf(o: DataFrame): DataFrame = {
    val cums = Relational.prefixSumByRange(eraCounts(o), Seq("grp"),
      Seq(col("cents")), Seq("cum_a" -> col("c_a"), "cum_b" -> col("c_b")))
    val tot = cums.groupBy(col("grp"))
      .agg(max(col("cum_a")).as("n_a"), max(col("cum_b")).as("n_b"))
    cums.join(broadcast(tot), "grp")
  }

  /** W1 per grp over any (grp, cents, is_a) frame — spec entry point. */
  private[graft] def wassersteinFrom(o: DataFrame): DataFrame = {
    val d38 = DecimalType(38, 0)
    val g = eraCounts(o)
    val cums = Relational.prefixSumByRange(g, Seq("grp"),
        Seq(col("cents")),
        Seq("cum_a" -> col("c_a"), "cum_b" -> col("c_b"), "rnk" -> lit(1L)))
      .graftCheckpoint(false)
    val tot = cums.groupBy(col("grp"))
      .agg(max(col("cum_a")).as("n_a"), max(col("cum_b")).as("n_b"))
    val nxt = cums.select(col("grp"),
      (col("rnk") - lit(1L)).as("rnk"), col("cents").as("next_v"))
    cums.join(nxt, Seq("grp", "rnk"))
      .join(broadcast(tot), "grp")
      .select(col("grp"), col("n_a"), col("n_b"),
        (abs(col("cum_a").cast(d38) * col("n_b") - col("cum_b").cast(d38) * col("n_a"))
          * (col("next_v") - col("cents"))).as("mass"))
      .groupBy(col("grp"), col("n_a"), col("n_b"))
      .agg(sum(col("mass")).as("mass"))
      .filter(col("n_a") >= 1L && col("n_b") >= 1L)
      .select(col("grp"), col("n_a"), col("n_b"),
        round(col("mass").cast(DoubleType)
          / (col("n_a").cast(DoubleType) * col("n_b").cast(DoubleType)), 4)
          .as("w1_cents"))
      .orderBy(col("grp"))
  }

  val q128WassersteinSql: String =
    s"""WITH $eraCountsCtesSql,
      |c AS (
      |  SELECT grp, cents,
      |    CAST(SUM(c_a) OVER w AS BIGINT) AS cum_a,
      |    CAST(SUM(c_b) OVER w AS BIGINT) AS cum_b,
      |    LEAD(cents) OVER (PARTITION BY grp ORDER BY cents) AS next_v
      |  FROM g
      |  WINDOW w AS (PARTITION BY grp ORDER BY cents
      |               ROWS UNBOUNDED PRECEDING)),
      |t AS (
      |  SELECT grp,
      |    CAST(MAX(cum_a) AS BIGINT) AS n_a, CAST(MAX(cum_b) AS BIGINT) AS n_b
      |  FROM c GROUP BY 1),
      |m AS (
      |  SELECT grp, n_a, n_b,
      |    SUM(abs(CAST(cum_a AS HUGEINT) * n_b - CAST(cum_b AS HUGEINT) * n_a)
      |      * (next_v - cents)) AS mass
      |  FROM c JOIN t USING (grp)
      |  WHERE next_v IS NOT NULL
      |  GROUP BY 1, 2, 3)
      |SELECT grp, n_a, n_b,
      |  ROUND(CAST(mass AS DOUBLE) / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 4)
      |    AS w1_cents
      |FROM m WHERE n_a >= 1 AND n_b >= 1
      |ORDER BY grp""".stripMargin

  // ---------------------------------------------------------------------
  // q129: Cramér-von Mises two-sample statistic between the same
  // early/late-era order-value distributions (Anderson 1962) — the
  // INTEGRAL-square member of the ECDF family: q91's KS reacts to the
  // single worst gap (tail-blind), CvM accumulates (F_A − F_B)² over
  // EVERY pooled observation, so broad small divergence registers even
  // when no single gap is large:
  //   T = n_a·n_b / N² · Σ_pooled (F_A(x) − F_B(x))²
  //     = Σ_grid cnt_v · (cum_a·n_b − cum_b·n_a)² / (n_a·n_b·N²)
  //
  // Scale shape: exactly q91's — the same (status, cents) count grid,
  // the same `prefixSumByRange` cumulative pass, and ONE hash
  // aggregate over the grid; no successor join even needed (the sum is
  // over pooled points, not value gaps).
  //
  // Exactness: cnt·(cum_a·n_b − cum_b·n_a)² accumulates in
  // DECIMAL(38,0) (bounded ≈ N·(n_a·n_b)² — inside 38 digits at both
  // SFs with wide margin); T is ONE double division, rounded once.
  // ---------------------------------------------------------------------
  def q129CramerVonMises(spark: SparkSession, dir: String): DataFrame =
    cramerVonMisesFrom(eraSplitFrom(spark, dir))

  /** CvM T per grp over any (grp, cents, is_a) frame — spec entry point. */
  private[graft] def cramerVonMisesFrom(o: DataFrame): DataFrame = {
    val d38 = DecimalType(38, 0)
    eraCdf(o)
      .select(col("grp"), col("n_a"), col("n_b"),
        ((col("c_a") + col("c_b")).cast(d38)
          * (col("cum_a").cast(d38) * col("n_b") - col("cum_b").cast(d38) * col("n_a"))
          * (col("cum_a").cast(d38) * col("n_b") - col("cum_b").cast(d38) * col("n_a")))
          .as("m2"))
      .groupBy(col("grp"), col("n_a"), col("n_b"))
      .agg(sum(col("m2")).as("m2"))
      .filter(col("n_a") >= 1L && col("n_b") >= 1L)
      .select(col("grp"), col("n_a"), col("n_b"),
        round(col("m2").cast(DoubleType)
          / (col("n_a").cast(DoubleType) * col("n_b").cast(DoubleType)
            * (col("n_a") + col("n_b")).cast(DoubleType)
            * (col("n_a") + col("n_b")).cast(DoubleType)), 6).as("cvm_t"))
      .orderBy(col("grp"))
  }

  val q129CramerVonMisesSql: String =
    s"""WITH $eraCdfCtesSql,
      |m AS (
      |  SELECT grp, n_a, n_b,
      |    SUM(CAST(c_a + c_b AS HUGEINT)
      |      * (CAST(cum_a AS HUGEINT) * n_b - CAST(cum_b AS HUGEINT) * n_a)
      |      * (CAST(cum_a AS HUGEINT) * n_b - CAST(cum_b AS HUGEINT) * n_a)) AS m2
      |  FROM c JOIN t USING (grp)
      |  GROUP BY 1, 2, 3)
      |SELECT grp, n_a, n_b,
      |  ROUND(CAST(m2 AS DOUBLE)
      |    / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
      |      * CAST(n_a + n_b AS DOUBLE) * CAST(n_a + n_b AS DOUBLE)), 6) AS cvm_t
      |FROM m WHERE n_a >= 1 AND n_b >= 1
      |ORDER BY grp""".stripMargin

  // ---------------------------------------------------------------------
  // q141: Anderson-Darling two-sample statistic between the same
  // early/late-era order-value distributions (Pettitt 1976; the k=2
  // case of Scholz & Stephens 1987) — the TAIL-WEIGHTED member that
  // completes the ECDF-drift quartet: q91's KS reads the worst gap,
  // q128's W₁ the transport magnitude, q129's CvM the mean-square gap,
  // and AD re-weights each pooled point by 1/(F(1−F)) so divergence in
  // the distribution TAILS — where KS and CvM are least sensitive, and
  // where pricing drift actually starts — dominates the statistic:
  //   A² = (1/(n_a·n_b)) · Σ_{J<N} l·D² / (J·(N−J))
  // over the distinct pooled values, with l the pooled tie count at the
  // value, J the pooled cumulative count, and D = cum_a·n_b − cum_b·n_a
  // — EXACTLY the cross-multiplied ECDF-gap integer q128/q129 ride
  // (the J=N block contributes 0/0 and is excluded by definition).
  //
  // Scale shape: q91's axis verbatim — ONE shuffle to the per-(status,
  // cents) count grid, cumulative counts via `prefixSumByRange`, one
  // hash aggregate; no successor join, no corpus-sized window. The grid
  // scales with DISTINCT cents, not rows.
  //
  // Exactness: l, J, N−J are BIGINTs and D widens to DECIMAL(38,0)
  // (q128's discipline — BIGINT-safe at test SFs, 38-digit headroom at
  // cluster scale); each term l·D²/(J·(N−J)) is ONE fixed-shape IEEE
  // expression of those exact integers — bit-identical across engines —
  // milli-snapped per row (|term| ≤ l·N² keeps the ×1e3 product inside
  // 2^53) and summed in DECIMAL(38,0); A² is one double division by
  // n_a·n_b, rounded once.
  // ---------------------------------------------------------------------
  def q141AndersonDarling(spark: SparkSession, dir: String): DataFrame =
    andersonDarlingFrom(eraSplitFrom(spark, dir))

  /** AD A² per grp over any (grp, cents, is_a) frame — spec entry point. */
  private[graft] def andersonDarlingFrom(o: DataFrame): DataFrame = {
    val d38 = DecimalType(38, 0)
    eraCdf(o)
      .select(col("grp"), col("n_a"), col("n_b"),
        (col("c_a") + col("c_b")).as("l"),
        (col("cum_a") + col("cum_b")).as("j"),
        (col("n_a") + col("n_b")).as("nn"),
        (col("cum_a").cast(d38) * col("n_b") - col("cum_b").cast(d38) * col("n_a"))
          .as("dgap"))
      .filter(col("j") < col("nn"))
      .select(col("grp"), col("n_a"), col("n_b"),
        floor(col("l").cast(DoubleType) * col("dgap").cast(DoubleType)
            * col("dgap").cast(DoubleType)
            / (col("j").cast(DoubleType) * (col("nn") - col("j")).cast(DoubleType))
            * lit(1e3) + lit(0.5))
          .cast(d38).as("t3"))
      .groupBy(col("grp"), col("n_a"), col("n_b"))
      .agg(sum(col("t3")).as("t3"))
      .filter(col("n_a") >= 1L && col("n_b") >= 1L)
      .select(col("grp"), col("n_a"), col("n_b"),
        round(col("t3").cast(DoubleType) / lit(1e3)
          / (col("n_a").cast(DoubleType) * col("n_b").cast(DoubleType)), 6)
          .as("ad_a2"))
      .orderBy(col("grp"))
  }

  val q141AndersonDarlingSql: String =
    s"""WITH $eraCdfCtesSql,
      |r AS (
      |  SELECT grp, n_a, n_b,
      |    CAST(floor(CAST(c_a + c_b AS DOUBLE)
      |        * CAST(CAST(cum_a AS HUGEINT) * n_b - CAST(cum_b AS HUGEINT) * n_a AS DOUBLE)
      |        * CAST(CAST(cum_a AS HUGEINT) * n_b - CAST(cum_b AS HUGEINT) * n_a AS DOUBLE)
      |        / (CAST(cum_a + cum_b AS DOUBLE)
      |          * CAST((n_a + n_b) - (cum_a + cum_b) AS DOUBLE))
      |        * 1e3 + 0.5) AS HUGEINT) AS t3
      |  FROM c JOIN t USING (grp)
      |  WHERE cum_a + cum_b < n_a + n_b),
      |m AS (
      |  SELECT grp, n_a, n_b, SUM(t3) AS t3
      |  FROM r GROUP BY 1, 2, 3)
      |SELECT grp, n_a, n_b,
      |  ROUND(CAST(t3 AS DOUBLE) / 1e3
      |    / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 6) AS ad_a2
      |FROM m WHERE n_a >= 1 AND n_b >= 1
      |ORDER BY grp""".stripMargin

  // ---------------------------------------------------------------------
  // q143: effect sizes for the era drift — Cohen's d (standardized mean
  // difference, pooled SD; Cohen 1988) and Cliff's delta (the ordinal
  // dominance probability P(a>b) − P(a<b); Cliff 1993) between the same
  // early/late-era order-value distributions. The drift quartet
  // (q91/q128/q129/q141) says the distributions DIFFER; a release report
  // needs the magnitude in standardized units — d for the parametric
  // read, δ for the rank read that one heavy-tailed status can't move.
  //
  // Scale shape: q91's axis — the one (status, cents) count grid.
  // Cohen's d needs only SIX integer moments per group (ONE hash
  // aggregate over the grid, no prefix pass); Cliff's δ counts
  // dominance pairs from the SAME `prefixSumByRange` cumulative grid
  // the quartet rides: #(a>b) = Σ_v c_a·(cum_b − c_b) and
  // #(a<b) = Σ_v c_a·(n_b − cum_b) — exact integers, no pair join.
  //
  // Exactness: moment differences n·Σx² − (Σx)² stay EXACT in
  // DECIMAL(38,0) before the one double cast; d is one fixed-shape
  // double expression (identical IEEE shape in both engines); δ is a
  // ratio of exact integers. Degenerate guards: groups need n ≥ 2 and
  // a positive pooled variance for d (guarded NULL otherwise, the
  // t86/t88 convention); δ only needs n_a, n_b ≥ 1.
  // ---------------------------------------------------------------------
  def q143EffectSizes(spark: SparkSession, dir: String): DataFrame =
    effectSizesFrom(eraSplitFrom(spark, dir))

  /** Cohen's d + Cliff's δ per grp over any (grp, cents, is_a) frame —
    * spec entry point.
    */
  private[graft] def effectSizesFrom(o: DataFrame): DataFrame = {
    val d38 = DecimalType(38, 0)
    val g = eraCounts(o)
      .graftCheckpoint(false)
    // prefix input reduced to exactly (key, order, measure input) — the
    // t86 discipline; c_a rejoins by key so the two internal slice
    // consumers' projections stay identical
    val cums = Relational.prefixSumByRange(
        g.select(col("grp"), col("cents"), col("c_b")), Seq("grp"),
        Seq(col("cents")), Seq("cum_b" -> col("c_b")))
      .join(g.select(col("grp"), col("cents"), col("c_a")), Seq("grp", "cents"))
    val tot = cums.groupBy(col("grp")).agg(max(col("cum_b")).as("n_b"))
    val cliff = cums.join(broadcast(tot), "grp")
      .select(col("grp"),
        (col("c_a").cast(d38) * (col("cum_b") - col("c_b"))).as("gt"),
        (col("c_a").cast(d38) * (col("n_b") - col("cum_b"))).as("lt"))
      .groupBy(col("grp"))
      .agg(sum(col("gt")).as("gt"), sum(col("lt")).as("lt"))
    val mom = g.groupBy(col("grp"))
      .agg(sum(col("c_a")).as("n_a"), sum(col("c_b")).as("n_b"),
        sum(col("cents").cast(d38) * col("c_a")).as("sa1"),
        sum(col("cents").cast(d38) * col("c_b")).as("sb1"),
        sum(col("cents").cast(d38) * col("cents") * col("c_a")).as("sa2"),
        sum(col("cents").cast(d38) * col("cents") * col("c_b")).as("sb2"))
    mom.join(cliff, "grp")
      .filter(col("n_a") >= 1L && col("n_b") >= 1L)
      .withColumn("va_num", col("n_a") * col("sa2") - col("sa1") * col("sa1"))
      .withColumn("vb_num", col("n_b") * col("sb2") - col("sb1") * col("sb1"))
      .select(col("grp"), col("n_a"), col("n_b"),
        when(col("n_a") >= 2L && col("n_b") >= 2L
            && col("va_num") + col("vb_num") > 0L,
          round((col("sa1").cast(DoubleType) / col("n_a").cast(DoubleType)
              - col("sb1").cast(DoubleType) / col("n_b").cast(DoubleType))
            / sqrt((col("va_num").cast(DoubleType) / col("n_a").cast(DoubleType)
                + col("vb_num").cast(DoubleType) / col("n_b").cast(DoubleType))
              / (col("n_a") + col("n_b") - lit(2L)).cast(DoubleType)), 6))
          .as("cohen_d"),
        round((col("gt") - col("lt")).cast(DoubleType)
          / (col("n_a").cast(DoubleType) * col("n_b").cast(DoubleType)), 6)
          .as("cliffs_delta"))
      .orderBy(col("grp"))
  }

  val q143EffectSizesSql: String =
    s"""WITH $eraCountsCtesSql,
      |c AS (
      |  SELECT grp, c_a, c_b,
      |    CAST(SUM(c_b) OVER (PARTITION BY grp ORDER BY cents
      |                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_b
      |  FROM g),
      |t AS (SELECT grp, CAST(MAX(cum_b) AS BIGINT) AS n_b FROM c GROUP BY 1),
      |cl AS (
      |  SELECT grp,
      |    SUM(CAST(c_a AS HUGEINT) * (cum_b - c_b)) AS gt,
      |    SUM(CAST(c_a AS HUGEINT) * (n_b - cum_b)) AS lt
      |  FROM c JOIN t USING (grp) GROUP BY 1),
      |mo AS (
      |  SELECT grp,
      |    CAST(SUM(c_a) AS BIGINT) AS n_a, CAST(SUM(c_b) AS BIGINT) AS n_b,
      |    SUM(CAST(cents AS HUGEINT) * c_a) AS sa1,
      |    SUM(CAST(cents AS HUGEINT) * c_b) AS sb1,
      |    SUM(CAST(cents AS HUGEINT) * cents * c_a) AS sa2,
      |    SUM(CAST(cents AS HUGEINT) * cents * c_b) AS sb2
      |  FROM g GROUP BY 1),
      |w AS (
      |  SELECT mo.grp, n_a, n_b, sa1, sb1, gt, lt,
      |    n_a * sa2 - sa1 * sa1 AS va_num,
      |    n_b * sb2 - sb1 * sb1 AS vb_num
      |  FROM mo JOIN cl ON cl.grp = mo.grp
      |  WHERE n_a >= 1 AND n_b >= 1)
      |SELECT grp, n_a, n_b,
      |  CASE WHEN n_a >= 2 AND n_b >= 2 AND va_num + vb_num > 0 THEN
      |    ROUND((CAST(sa1 AS DOUBLE) / CAST(n_a AS DOUBLE)
      |        - CAST(sb1 AS DOUBLE) / CAST(n_b AS DOUBLE))
      |      / sqrt((CAST(va_num AS DOUBLE) / CAST(n_a AS DOUBLE)
      |          + CAST(vb_num AS DOUBLE) / CAST(n_b AS DOUBLE))
      |        / CAST(n_a + n_b - 2 AS DOUBLE)), 6)
      |  END AS cohen_d,
      |  ROUND(CAST(gt - lt AS DOUBLE)
      |    / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 6) AS cliffs_delta
      |FROM w
      |ORDER BY grp""".stripMargin

  // ---------------------------------------------------------------------
  // q131: Cochran-Mantel-Haenszel stratified association test — the
  // confounder-adjusted sibling of q101's pooled chi-square (Mantel &
  // Haenszel 1959): q101 asks "are segment and solvency associated in
  // the pooled table" — which Simpson's paradox can invert — q131 asks
  // "are they associated WITHIN nation strata", summing each stratum's
  // hypergeometric evidence instead of pooling rows. Per stratum k with
  // 2×2 cells (a,b,c,d), n = a+b+c+d:
  //   E_k = (a+b)(a+c)/n
  //   V_k = (a+b)(c+d)(a+c)(b+d)/(n²(n−1))
  //   χ²  = (Σa − ΣE_k)²/ΣV_k            (no continuity correction)
  //   OR_MH = Σ(a·d/n) / Σ(b·c/n)        (common odds ratio)
  //
  // Scale shape: ONE corpus scan, ONE hash aggregate to the |strata|-
  // row 2×2 table (25 nations — bounded output regardless of input
  // scale), then all test arithmetic runs on that bounded frame. No
  // joins, no windows.
  //
  // Exactness: cells are exact integers; each stratum's E, V, a·d/n,
  // b·c/n nano-snap from fixed-shape double expressions (integer
  // arguments exact in double far below 2^53) and accumulate in
  // DECIMAL(38,0); χ² and OR_MH are single double expressions over the
  // snapped sums, rounded once.
  // ---------------------------------------------------------------------
  def q131CmhTest(spark: SparkSession, dir: String): DataFrame =
    cmhFrom(Tables.customer(spark, dir).select(
      col("c_nationkey").as("stratum"),
      when(col("c_mktsegment") === lit("AUTOMOBILE"), 1L).otherwise(0L).as("e"),
      when(col("c_acctbal") > lit(0.0), 1L).otherwise(0L).as("y")))

  /** CMH χ² + MH common odds ratio over any (stratum, e: 0/1, y: 0/1)
    * frame — spec entry point.
    */
  private[graft] def cmhFrom(s: DataFrame): DataFrame = {
    val d38 = DecimalType(38, 0)
    val g = s.groupBy(col("stratum"))
      .agg(sum(col("e") * col("y")).as("a"),
        sum(col("e") * (lit(1L) - col("y"))).as("b"),
        sum((lit(1L) - col("e")) * col("y")).as("c"),
        sum((lit(1L) - col("e")) * (lit(1L) - col("y"))).as("d"))
      .withColumn("n", col("a") + col("b") + col("c") + col("d"))
      .withColumn("e9", floor(
        (col("a") + col("b")).cast(DoubleType) * (col("a") + col("c")).cast(DoubleType)
          / col("n").cast(DoubleType) * lit(1e9) + lit(0.5)).cast(LongType))
      .withColumn("v9", when(col("n") > 1L, floor(
        ((col("a") + col("b")).cast(DoubleType) * (col("c") + col("d")).cast(DoubleType)
          / col("n").cast(DoubleType))
          * ((col("a") + col("c")).cast(DoubleType) * (col("b") + col("d")).cast(DoubleType)
            / col("n").cast(DoubleType))
          / (col("n") - lit(1L)).cast(DoubleType) * lit(1e9) + lit(0.5))
        .cast(LongType)).otherwise(0L))
      .withColumn("ad9", floor(col("a").cast(DoubleType) * col("d").cast(DoubleType)
        / col("n").cast(DoubleType) * lit(1e9) + lit(0.5)).cast(LongType))
      .withColumn("bc9", floor(col("b").cast(DoubleType) * col("c").cast(DoubleType)
        / col("n").cast(DoubleType) * lit(1e9) + lit(0.5)).cast(LongType))
    g.agg(count(lit(1)).as("n_strata"), sum(col("a")).as("o_sum"),
        sum(col("e9").cast(d38)).as("e9s"), sum(col("v9").cast(d38)).as("v9s"),
        sum(col("ad9").cast(d38)).as("ad9s"), sum(col("bc9").cast(d38)).as("bc9s"))
      .select(col("n_strata"), col("o_sum"),
        round(col("e9s").cast(DoubleType) / lit(1e9), 6).as("e_sum"),
        when(col("v9s") > lit(0), round(
          (col("o_sum").cast(DoubleType) - col("e9s").cast(DoubleType) / lit(1e9))
            * (col("o_sum").cast(DoubleType) - col("e9s").cast(DoubleType) / lit(1e9))
            / (col("v9s").cast(DoubleType) / lit(1e9)), 6)).otherwise(lit(0.0))
          .as("chi2"),
        when(col("bc9s") > lit(0), round(
          col("ad9s").cast(DoubleType) / col("bc9s").cast(DoubleType), 6))
          .as("or_mh"))
  }

  val q131CmhTestSql: String =
    """WITH s AS (
      |  SELECT c_nationkey AS stratum,
      |    CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 0 END AS e,
      |    CASE WHEN c_acctbal > 0.0 THEN 1 ELSE 0 END AS y
      |  FROM customer),
      |g AS (
      |  SELECT stratum,
      |    CAST(SUM(e * y) AS BIGINT) AS a,
      |    CAST(SUM(e * (1 - y)) AS BIGINT) AS b,
      |    CAST(SUM((1 - e) * y) AS BIGINT) AS c,
      |    CAST(SUM((1 - e) * (1 - y)) AS BIGINT) AS d
      |  FROM s GROUP BY 1),
      |t AS (
      |  SELECT a, b, c, d, a + b + c + d AS n FROM g),
      |v AS (
      |  SELECT a,
      |    CAST(floor(CAST(a + b AS DOUBLE) * CAST(a + c AS DOUBLE)
      |      / CAST(n AS DOUBLE) * 1e9 + 0.5) AS BIGINT) AS e9,
      |    CASE WHEN n > 1 THEN
      |      CAST(floor((CAST(a + b AS DOUBLE) * CAST(c + d AS DOUBLE)
      |          / CAST(n AS DOUBLE))
      |        * (CAST(a + c AS DOUBLE) * CAST(b + d AS DOUBLE)
      |          / CAST(n AS DOUBLE))
      |        / CAST(n - 1 AS DOUBLE) * 1e9 + 0.5) AS BIGINT)
      |    ELSE 0 END AS v9,
      |    CAST(floor(CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
      |      / CAST(n AS DOUBLE) * 1e9 + 0.5) AS BIGINT) AS ad9,
      |    CAST(floor(CAST(b AS DOUBLE) * CAST(c AS DOUBLE)
      |      / CAST(n AS DOUBLE) * 1e9 + 0.5) AS BIGINT) AS bc9
      |  FROM t)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
      |  CAST(SUM(a) AS BIGINT) AS o_sum,
      |  ROUND(CAST(SUM(e9) AS DOUBLE) / 1e9, 6) AS e_sum,
      |  CASE WHEN SUM(v9) > 0 THEN
      |    ROUND((CAST(SUM(a) AS DOUBLE) - CAST(SUM(e9) AS DOUBLE) / 1e9)
      |      * (CAST(SUM(a) AS DOUBLE) - CAST(SUM(e9) AS DOUBLE) / 1e9)
      |      / (CAST(SUM(v9) AS DOUBLE) / 1e9), 6)
      |  ELSE 0.0 END AS chi2,
      |  CASE WHEN SUM(bc9) > 0 THEN
      |    ROUND(CAST(SUM(ad9) AS DOUBLE) / CAST(SUM(bc9) AS DOUBLE), 6)
      |  END AS or_mh
      |FROM v""".stripMargin

  // ---------------------------------------------------------------------
  // q132: partial correlation of quantity and price CONTROLLING for
  // discount — the continuous-variable member of the confounder-
  // adjusted pair (q131 adjusts a 2×2 association by stratification;
  // q132 adjusts a correlation by regression, Yule 1907):
  //   r_xy·z = (r_xy − r_xz·r_yz) / √((1 − r_xz²)(1 − r_yz²))
  // — the correlation left between x and y after projecting out the
  // part each shares with z. A pooled r_xy can be pure confounding
  // (both driven by z); r_xy·z is the standard first check.
  //
  // Scale shape: ONE map-side-combined hash aggregate over the scan —
  // ten integer moments (n, three sums, three squares, three cross
  // products), one output row. q56's moment discipline: no second
  // pass, no join, no window; the correlation algebra runs on the
  // 1-row result.
  //
  // Exactness: all moments are exact integers on the quantity/cents
  // grids summed in DECIMAL(38,0) (n·Sxy ≈ 10^31 at 100 TB — inside 38
  // digits, far beyond int64); each pairwise r nano-snaps from the
  // same decimal→double casts in both engines, and the partial formula
  // is ONE fixed-shape double expression over the three SNAPPED r's,
  // rounded once — so cross-engine equality is inherited from the
  // snap, not from transcendental luck.
  // ---------------------------------------------------------------------
  def q132PartialCorr(spark: SparkSession, dir: String): DataFrame =
    partialCorrFrom(Tables.lineitem(spark, dir).select(
      floor(col("l_quantity") + lit(0.5)).cast(LongType).as("x"),
      floor(col("l_extendedprice") * lit(100.0) + lit(0.5)).cast(LongType).as("y"),
      floor(col("l_discount") * lit(100.0) + lit(0.5)).cast(LongType).as("z")))

  /** r_xy, r_xz, r_yz (nano-snapped) and r_xy·z over any integer
    * (x, y, z) frame — spec entry point.
    */
  private[graft] def partialCorrFrom(v: DataFrame): DataFrame = {
    val d38 = DecimalType(38, 0)
    def m(c: Column): Column = sum(c.cast(d38))
    val g = v.agg(count(lit(1)).cast(d38).as("n"),
      m(col("x")).as("sx"), m(col("y")).as("sy"), m(col("z")).as("sz"),
      m(col("x") * col("x")).as("sxx"), m(col("y") * col("y")).as("syy"),
      m(col("z") * col("z")).as("szz"), m(col("x") * col("y")).as("sxy"),
      m(col("x") * col("z")).as("sxz"), m(col("y") * col("z")).as("syz"))
    def r9(num: Column, daa: Column, dbb: Column): Column =
      floor(num.cast(DoubleType)
        / sqrt(daa.cast(DoubleType) * dbb.cast(DoubleType))
        * lit(1e9) + lit(0.5)).cast(LongType)
    val c = g
      .withColumn("dxx", col("n") * col("sxx") - col("sx") * col("sx"))
      .withColumn("dyy", col("n") * col("syy") - col("sy") * col("sy"))
      .withColumn("dzz", col("n") * col("szz") - col("sz") * col("sz"))
      .withColumn("nxy", col("n") * col("sxy") - col("sx") * col("sy"))
      .withColumn("nxz", col("n") * col("sxz") - col("sx") * col("sz"))
      .withColumn("nyz", col("n") * col("syz") - col("sy") * col("sz"))
      .withColumn("rxy9", r9(col("nxy"), col("dxx"), col("dyy")))
      .withColumn("rxz9", r9(col("nxz"), col("dxx"), col("dzz")))
      .withColumn("ryz9", r9(col("nyz"), col("dyy"), col("dzz")))
      .withColumn("den2", (lit(1e18) - col("rxz9").cast(DoubleType) * col("rxz9"))
        * (lit(1e18) - col("ryz9").cast(DoubleType) * col("ryz9")))
    c.select(col("n").cast(LongType).as("n_rows"),
      round(col("rxy9").cast(DoubleType) / lit(1e9), 6).as("r_xy"),
      round(col("rxz9").cast(DoubleType) / lit(1e9), 6).as("r_xz"),
      round(col("ryz9").cast(DoubleType) / lit(1e9), 6).as("r_yz"),
      when(col("den2") > lit(0.0), round(
        (col("rxy9").cast(DoubleType) * lit(1e9)
          - col("rxz9").cast(DoubleType) * col("ryz9"))
          / sqrt(col("den2")), 6)).as("r_partial"))
  }

  val q132PartialCorrSql: String =
    """WITH v AS (
      |  SELECT CAST(floor(l_quantity + 0.5) AS BIGINT) AS x,
      |    CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS y,
      |    CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT) AS z
      |  FROM lineitem),
      |g AS (
      |  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
      |    CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
      |    CAST(SUM(z) AS HUGEINT) AS sz,
      |    CAST(SUM(x * x) AS HUGEINT) AS sxx, CAST(SUM(y * y) AS HUGEINT) AS syy,
      |    CAST(SUM(z * z) AS HUGEINT) AS szz, CAST(SUM(x * y) AS HUGEINT) AS sxy,
      |    CAST(SUM(x * z) AS HUGEINT) AS sxz, CAST(SUM(y * z) AS HUGEINT) AS syz
      |  FROM v),
      |c AS (
      |  SELECT n,
      |    CAST(floor(CAST(n * sxy - sx * sy AS DOUBLE)
      |      / sqrt(CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE))
      |      * 1e9 + 0.5) AS BIGINT) AS rxy9,
      |    CAST(floor(CAST(n * sxz - sx * sz AS DOUBLE)
      |      / sqrt(CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * szz - sz * sz AS DOUBLE))
      |      * 1e9 + 0.5) AS BIGINT) AS rxz9,
      |    CAST(floor(CAST(n * syz - sy * sz AS DOUBLE)
      |      / sqrt(CAST(n * syy - sy * sy AS DOUBLE) * CAST(n * szz - sz * sz AS DOUBLE))
      |      * 1e9 + 0.5) AS BIGINT) AS ryz9
      |  FROM g),
      |d AS (
      |  SELECT n, rxy9, rxz9, ryz9,
      |    (1e18 - CAST(rxz9 AS DOUBLE) * rxz9) * (1e18 - CAST(ryz9 AS DOUBLE) * ryz9)
      |      AS den2
      |  FROM c)
      |SELECT CAST(n AS BIGINT) AS n_rows,
      |  ROUND(CAST(rxy9 AS DOUBLE) / 1e9, 6) AS r_xy,
      |  ROUND(CAST(rxz9 AS DOUBLE) / 1e9, 6) AS r_xz,
      |  ROUND(CAST(ryz9 AS DOUBLE) / 1e9, 6) AS r_yz,
      |  CASE WHEN den2 > 0.0 THEN
      |    ROUND((CAST(rxy9 AS DOUBLE) * 1e9 - CAST(rxz9 AS DOUBLE) * ryz9)
      |      / sqrt(den2), 6)
      |  END AS r_partial
      |FROM d""".stripMargin

  // ---------------------------------------------------------------------
  // q148: Mood's median test — "do the market segments share one median
  // account balance" (Mood 1950), the k-sample median sibling of q103's
  // Kruskal-Wallis: KW compares full rank distributions (any shape
  // difference registers), Mood's test collapses each observation to
  // ONE bit — above the pooled median or not — so it stays valid under
  // wildly different tail shapes and is the robust first look at
  // k-group location. 2×k table of above/not-above vs segment, then
  // the ordinary chi-square:
  //   χ² = Σ_i [(a_i − n_i·A/N)²/(n_i·A/N) + ((n_i−a_i) − n_i·B/N)²/(n_i·B/N)]
  //
  // Scale shape: ONE corpus shuffle to the (segment, cents) count grid;
  // the pooled median comes from the grid's cumulative pass (distinct
  // cents, not rows — q119's axis) broadcast back; the table is a
  // |segments|-row aggregate.
  //
  // Exactness: the pooled 2×median is the SUM of both middle order
  // statistics (exact integer, even-count exact); the above/not
  // classification 2·cents > med2 is integer; each segment's χ² term
  // nano-snaps from one fixed-shape double expression of the five
  // exact integers (a, n, A, B, N) and the total is an integer sum.
  // ---------------------------------------------------------------------
  def q148MoodMedian(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
      .select(col("c_mktsegment").as("grp"),
        floor(col("c_acctbal") * lit(100.0) + lit(0.5)).cast(LongType).as("cents"))
    moodMedianFrom(cust)
  }

  /** Mood's median χ² over any (grp, cents) frame — spec entry point. */
  private[graft] def moodMedianFrom(o: DataFrame): DataFrame = {
    val d38 = DecimalType(38, 0)
    val g = o.groupBy(col("grp"), col("cents"))
      .agg(count(lit(1)).as("cnt"))
      .graftCheckpoint(false)
    // pooled median on the distinct-cents grid: both middle order stats
    val pooled = Relational.prefixSumByRange(
      g.groupBy(col("cents")).agg(sum(col("cnt")).as("pc")),
      Seq.empty, Seq(col("cents")), Seq("cum" -> col("pc")))
    val nTot = pooled.agg(max(col("cum")).as("nn"))
    val med2 = pooled.crossJoin(broadcast(nTot))
      .select(col("cents"), col("cum"), col("nn"))
      .agg(
        min(when(lit(2L) * col("cum") >= col("nn"), col("cents"))).as("v_lo"),
        min(when(lit(2L) * col("cum") >= col("nn") + lit(2L)
          - pmod(col("nn"), lit(2L)) * lit(1L), col("cents"))).as("v_hi_even"),
        max(col("nn")).as("nn"))
      .select((col("v_lo")
        + coalesce(col("v_hi_even"), col("v_lo"))).as("med2"), col("nn"))
    val tab = g.crossJoin(broadcast(med2))
      .groupBy(col("grp"))
      .agg(sum(col("cnt")).as("n_cust"),
        sum(when(lit(2L) * col("cents") > col("med2"), col("cnt"))
          .otherwise(0L)).as("n_above"),
        max(col("nn")).as("nn"))
      .graftCheckpoint(false)
    val marg = tab.agg(sum(col("n_above")).as("aa"), max(col("nn")).as("nn"))
      .select(col("aa"), (col("nn") - col("aa")).as("bb"), col("nn"))
    val terms = tab.drop("nn").crossJoin(broadcast(marg))
      .withColumn("ea", col("n_cust").cast(DoubleType) * col("aa").cast(DoubleType)
        / col("nn").cast(DoubleType))
      .withColumn("eb", col("n_cust").cast(DoubleType) * col("bb").cast(DoubleType)
        / col("nn").cast(DoubleType))
      // degenerate-corpus guard (ADVICE r13): aa=0 (no value above the
      // pooled median — an all-equal corpus) makes ea=0 and the χ² term
      // 0/0; bb=0 is its mirror. Spark would silently emit 0 (NaN→long)
      // while DuckDB raises on CAST(floor(NaN)) — guarded NULL in BOTH
      // engines instead, the t86/t88 convention. The guard is on the
      // GLOBAL margins, so t9 is all-or-nothing across groups.
      .withColumn("t9", when(col("aa") > 0 && col("bb") > 0, floor(
        ((col("n_above").cast(DoubleType) - col("ea"))
          * (col("n_above").cast(DoubleType) - col("ea")) / col("ea")
          + ((col("n_cust") - col("n_above")).cast(DoubleType) - col("eb"))
          * ((col("n_cust") - col("n_above")).cast(DoubleType) - col("eb")) / col("eb"))
          * lit(1e9) + lit(0.5)).cast(LongType)))
    val chi = terms.agg(sum(col("t9").cast(d38)).as("chi9"))
    terms.crossJoin(broadcast(chi))
      .select(col("grp"), col("n_cust"), col("n_above"),
        round(col("ea"), 6).as("expected_above"),
        round(col("chi9").cast(DoubleType) / lit(1e9), 6).as("chi2_mood"))
      .orderBy(col("grp"))
  }

  val q148MoodMedianSql: String =
    """WITH o AS (
      |  SELECT c_mktsegment AS grp,
      |    CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT) AS cents
      |  FROM customer),
      |g AS (SELECT grp, cents, CAST(COUNT(*) AS BIGINT) AS cnt FROM o GROUP BY 1, 2),
      |pooled AS (
      |  SELECT cents,
      |    CAST(SUM(pc) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      |  FROM (SELECT cents, CAST(SUM(cnt) AS BIGINT) AS pc FROM g GROUP BY 1)),
      |nt AS (SELECT CAST(MAX(cum) AS BIGINT) AS nn FROM pooled),
      |m AS (
      |  SELECT
      |    CAST(MIN(CASE WHEN 2 * cum >= nn THEN cents END)
      |      + COALESCE(MIN(CASE WHEN 2 * cum >= nn + 2 - (nn % 2) * 1 THEN cents END),
      |                 MIN(CASE WHEN 2 * cum >= nn THEN cents END)) AS BIGINT) AS med2,
      |    CAST(MAX(nn) AS BIGINT) AS nn
      |  FROM pooled CROSS JOIN nt),
      |tab AS (
      |  SELECT grp, CAST(SUM(cnt) AS BIGINT) AS n_cust,
      |    CAST(SUM(CASE WHEN 2 * cents > med2 THEN cnt ELSE 0 END) AS BIGINT) AS n_above,
      |    CAST(MAX(nn) AS BIGINT) AS nn
      |  FROM g CROSS JOIN m GROUP BY 1),
      |marg AS (
      |  SELECT CAST(SUM(n_above) AS BIGINT) AS aa,
      |    CAST(MAX(nn) - SUM(n_above) AS BIGINT) AS bb,
      |    CAST(MAX(nn) AS BIGINT) AS nn
      |  FROM tab),
      |terms AS (
      |  SELECT grp, n_cust, n_above, aa, bb,
      |    CAST(n_cust AS DOUBLE) * CAST(aa AS DOUBLE) / CAST(marg.nn AS DOUBLE) AS ea,
      |    CAST(n_cust AS DOUBLE) * CAST(bb AS DOUBLE) / CAST(marg.nn AS DOUBLE) AS eb
      |  FROM tab CROSS JOIN marg),
      |t9 AS (
      |  SELECT grp, n_cust, n_above, ea,
      |    CASE WHEN aa > 0 AND bb > 0 THEN CAST(floor(
      |      ((CAST(n_above AS DOUBLE) - ea) * (CAST(n_above AS DOUBLE) - ea) / ea
      |       + (CAST(n_cust - n_above AS DOUBLE) - eb)
      |       * (CAST(n_cust - n_above AS DOUBLE) - eb) / eb)
      |      * 1e9 + 0.5) AS BIGINT) END AS t9
      |  FROM terms),
      |chi AS (SELECT CAST(SUM(t9) AS BIGINT) AS chi9 FROM t9)
      |SELECT grp, n_cust, n_above,
      |  ROUND(ea, 6) AS expected_above,
      |  ROUND(CAST(chi9 AS DOUBLE) / 1e9, 6) AS chi2_mood
      |FROM t9 CROSS JOIN chi
      |ORDER BY grp""".stripMargin

  // ---------------------------------------------------------------------
  // q150: Bhattacharyya coefficient + Hellinger distance between the
  // early/late-era order-value distributions (Bhattacharyya 1943;
  // Hellinger 1909) — the bounded-[0,1] METRIC the drift battery still
  // lacked: PSI (q106) and the ECDF quartet are unbounded test
  // statistics, but a mixture-monitoring dashboard wants a saturating
  // distance it can threshold and average across slices:
  //   BC = Σ_v √(p_a(v)·p_b(v)),   H = √(1 − BC)
  // computed over the DISCRETE value distributions on the shared grid —
  // no binning step, so no fitted-edge artifact to version.
  //
  // Scale shape: q91's one-shuffle (status, cents) count grid and ONE
  // hash aggregate — not even a prefix pass (BC needs no cumulative);
  // rows where either side is absent contribute exactly 0.
  //
  // Exactness: each term √(c_a·c_b/(n_a·n_b)) nano-snaps from one
  // fixed-shape double expression of four exact integers (the q106 PSI
  // discipline) and the sum is an integer; H guards the snap residue
  // with greatest(0, 1 − BC) in BOTH engines (identical distributions
  // sum to 1e9 ± accumulated half-ulps by construction).
  // ---------------------------------------------------------------------
  def q150Hellinger(spark: SparkSession, dir: String): DataFrame =
    hellingerFrom(eraSplitFrom(spark, dir))

  /** BC + Hellinger per grp over any (grp, cents, is_a) frame — spec
    * entry point.
    */
  private[graft] def hellingerFrom(o: DataFrame): DataFrame = {
    val d38 = DecimalType(38, 0)
    val g = eraCounts(o)
      .graftCheckpoint(false)
    val tot = g.groupBy(col("grp"))
      .agg(sum(col("c_a")).as("n_a"), sum(col("c_b")).as("n_b"))
    val bc = g.join(broadcast(tot), "grp")
      .filter(col("n_a") >= 1L && col("n_b") >= 1L)
      .select(col("grp"), col("n_a"), col("n_b"),
        floor(sqrt(col("c_a").cast(DoubleType) * col("c_b").cast(DoubleType)
            / (col("n_a").cast(DoubleType) * col("n_b").cast(DoubleType)))
          * lit(1e9) + lit(0.5)).cast(LongType).as("t9"))
      .groupBy(col("grp"), col("n_a"), col("n_b"))
      .agg(sum(col("t9").cast(d38)).as("bc9"))
    bc.select(col("grp"), col("n_a"), col("n_b"),
        round(col("bc9").cast(DoubleType) / lit(1e9), 6).as("bhattacharyya"),
        round(sqrt(greatest(lit(0.0),
          lit(1.0) - col("bc9").cast(DoubleType) / lit(1e9))), 6).as("hellinger"))
      .orderBy(col("grp"))
  }

  val q150HellingerSql: String =
    s"""WITH $eraCountsCtesSql,
      |t AS (
      |  SELECT grp, CAST(SUM(c_a) AS BIGINT) AS n_a, CAST(SUM(c_b) AS BIGINT) AS n_b
      |  FROM g GROUP BY 1),
      |s AS (
      |  SELECT g.grp, n_a, n_b,
      |    CAST(floor(sqrt(CAST(c_a AS DOUBLE) * CAST(c_b AS DOUBLE)
      |        / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)))
      |      * 1e9 + 0.5) AS BIGINT) AS t9
      |  FROM g JOIN t ON t.grp = g.grp
      |  WHERE n_a >= 1 AND n_b >= 1),
      |b AS (
      |  SELECT grp, n_a, n_b, CAST(SUM(t9) AS BIGINT) AS bc9
      |  FROM s GROUP BY 1, 2, 3)
      |SELECT grp, n_a, n_b,
      |  ROUND(CAST(bc9 AS DOUBLE) / 1e9, 6) AS bhattacharyya,
      |  ROUND(sqrt(greatest(0.0, 1.0 - CAST(bc9 AS DOUBLE) / 1e9)), 6) AS hellinger
      |FROM b
      |ORDER BY grp""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef.sql("q90_welch_ttest", q90WelchTtest _, q90WelchTtestSql),
    QueryDef.sql("q113_spearman", q113Spearman _, q113SpearmanSql),
    QueryDef.sql("q127_kendall_tau", q127KendallTau _, q127KendallTauSql),
    QueryDef.sql("q128_wasserstein", q128Wasserstein _, q128WassersteinSql),
    QueryDef.sql("q129_cvm", q129CramerVonMises _, q129CramerVonMisesSql),
    QueryDef.sql("q141_anderson_darling", q141AndersonDarling _, q141AndersonDarlingSql),
    QueryDef.sql("q143_effect_sizes", q143EffectSizes _, q143EffectSizesSql),
    QueryDef.sql("q148_mood_median", q148MoodMedian _, q148MoodMedianSql),
    QueryDef.sql("q150_hellinger", q150Hellinger _, q150HellingerSql),
    QueryDef.sql("q131_cmh", q131CmhTest _, q131CmhTestSql),
    QueryDef.sql("q132_partial_corr", q132PartialCorr _, q132PartialCorrSql),
    QueryDef.sql("q114_dp_counts", q114DpCounts _, q114DpCountsSql),
    QueryDef.sql("q117_gini_split", q117GiniSplit _, q117GiniSplitSql),
    QueryDef.sql("q119_levene", q119Levene _, q119LeveneSql),
    QueryDef.sql("q103_kruskal_wallis", q103KruskalWallis _, q103KruskalWallisSql),
    QueryDef.sql("q109_bh_fdr", q109BhFdr _, q109BhFdrSql),
    QueryDef.sql("q110_bootstrap_ci", q110BootstrapCi _, q110BootstrapCiSql),
    QueryDef.sql("q111_permutation_test", q111PermutationTest _, q111PermutationTestSql),
    QueryDef.sql("q91_ks_test", q91KsTest _, q91KsTestSql),
    QueryDef.sql("q99_mann_whitney", q99MannWhitney _, q99MannWhitneySql),
    QueryDef.sql("q100_anova", q100Anova _, q100AnovaSql),
    QueryDef.sql("q101_chi2_indep", q101Chi2Independence _, q101Chi2IndependenceSql),
    QueryDef.sql("q92_benford", q92Benford _, q92BenfordSql),
    QueryDef.sql("q93_basket_lift", q93BasketLift _, q93BasketLiftSql),
    QueryDef.sql("q94_gini", q94Gini _, q94GiniSql),
    QueryDef.sql("q95_k_anonymity", q95KAnonymity _, q95KAnonymitySql),
    QueryDef.sql("q96_l_diversity", q96LDiversity _, q96LDiversitySql),
    QueryDef.sql("q97_t_closeness", q97TCloseness _, q97TClosenessSql),
    QueryDef.sql("q98_theil", q98Theil _, q98TheilSql),
  )
}
