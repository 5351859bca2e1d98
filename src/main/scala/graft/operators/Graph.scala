package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import graft.{QueryDef, Tables}
import graft.operators.Checkpoints.GraftCheckpointOps

/** Iterative graph analytics over a co-purchase projection of lineitem —
  * the PageRank sibling of [[Dedup.connectedComponents]] (SURVEY §2.7 has
  * no graph surface in the reference; this is part of the engine's
  * large-scale extension set).
  *
  * Scale design: the projection (parts sharing an order) is built from
  * one per-order part-set aggregate — edge count grows LINEARLY with
  * orders (per-order fan-out is bounded by order size, ~4 lineitems).
  * Each PageRank round is ONE shuffle: the frozen, checkpointed edges
  * join the node-sized outflow (a size-conditional broadcast, see
  * [[boundedBroadcast]]), the node state's own rows ride the same union,
  * and one hash aggregate by node yields the next (node, rank, degree)
  * state, which is checkpointed — so a round is a broadcast job, a map
  * stage and a result stage, and its plan never grows with the round
  * number. O(|E|) per round, no driver-side iteration state.
  *
  * Determinism: ranks live on an integer 1e12 grid; every division is a
  * floor over positive BIGINTs (`div` in Spark ≡ `//` in DuckDB), so the
  * fixed-point mass flow is bit-identical in both engines — floor losses
  * (dangling nodes keep their mass out of circulation, remainders round
  * down) are part of the OPERATOR'S DEFINITION, not noise; GraphSpec pins
  * total mass stays within the loss bound of the scale constant.
  */
object Graph {

  private val PrScale = 1000000000000L // 1e12 rank grid
  private val PrIters = 5

  /** `df` with a broadcast hint iff it [[fitsBroadcast]], else as it
    * is. The hint keeps the corpus-sized side of a join unshuffled; a
    * frame that does not fit, or whose size is not known, goes out
    * unhinted, and Catalyst and AQE pick the join from their own
    * statistics. A hint overrides size-based planning, so an unbounded
    * one is a driver/executor OOM at 100× scale, not a slowdown.
    * Round18Spec pins the hint below the limit and its absence above it,
    * rows unchanged; BroadcastGuardSpec pins wide rows and a hub node.
    * One-row scalar broadcasts (totals, thresholds) stay unconditional.
    */
  private[graft] def boundedBroadcast(df: DataFrame): DataFrame =
    if (fitsBroadcast(df)) broadcast(df) else df

  /** Whether `df` is measured at most `spark.graft.graph.broadcastLimit`
    * bytes (default 256 MiB): [[Checkpoints.heldBytes]], the bytes of the
    * checkpoints it reads, read without a job. A frame that is not read
    * from checkpoints has no measure and does not fit. The figure is an
    * upper bound on the rows a broadcast would hold (a local checkpoint
    * of (long, long) rows holds ~84 B/row against 24 B of row data), and
    * the limit is a guard, not a target.
    */
  private[graft] def fitsBroadcast(df: DataFrame): Boolean =
    Checkpoints.heldBytes(df).exists(_ <= broadcastLimit(df.sparkSession))

  private def broadcastLimit(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.graph.broadcastLimit").map(_.toLong)
      .getOrElse(256L << 20)

  /** Undirected degree of a (src, dst) edge frame: (node, d), each
    * endpoint counting the edge once.
    */
  private def degrees(und: DataFrame): DataFrame =
    und.select(col("src").as("node"))
      .union(und.select(col("dst").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))

  /** `und` with column `attr` of the node-keyed frame `nodes` attached at
    * both endpoints, as `srcAs` and `dstAs` — two size-conditional
    * broadcast joins, so the edge set is not shuffled to learn its
    * endpoints' attributes.
    */
  private def withEndpoints(und: DataFrame, nodes: DataFrame, attr: String,
      srcAs: String, dstAs: String): DataFrame =
    und
      .join(boundedBroadcast(
        nodes.select(col("node").as("src"), col(attr).as(srcAs))), "src")
      .join(boundedBroadcast(
        nodes.select(col("node").as("dst"), col(attr).as(dstAs))), "dst")

  /** (src, dst) co-purchase edges and the (node, d) node list with
    * per-source out-degrees — each `graftCheckpoint`ed: the edge set is
    * invariant across the rank iterations, and checkpointing
    * materializes it ONCE instead of replaying the projection per round.
    */
  private def projection(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    // the per-order part set, ONE hash aggregate (map-side-combined
    // collect_set); sort_array makes it canonical. The edges fan out
    // every ordered pair (a ≠ b) of each set with two codegen'd explodes
    // and deliberately keep per-order multiplicity (the same pair from
    // two orders is two edges — the oracle's join form does the same).
    val sets = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
    val e = sets
      .select(explode(col("ps")).as("src"), col("ps"))
      .select(col("src"), explode(col("ps")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .graftCheckpoint(true)
    // every part appears in some order's set, and each order holding it
    // gives it |ps| − 1 out-edges: nodes and out-degrees are one
    // aggregate over the sets, no second edge-scale pass
    val nodes = sets
      .select(explode(col("ps")).as("node"), (size(col("ps")) - 1).as("k"))
      .groupBy(col("node")).agg(sum(col("k")).as("d"))
      .graftCheckpoint(true)
    (e, nodes)
  }

  def q63PageRank(spark: SparkSession, dir: String): DataFrame = {
    val (e, nodes) = projection(spark, dir)
    // one cheap job over the checkpointed node frame: the node count is
    // the rank normalizer (a plan literal)
    val nNodes = nodes.count()
    // an empty graph has no rows to divide; max(·, 1) keeps the literals
    // defined without a branch
    val n = math.max(nNodes, 1L)
    val base = (PrScale * 15) / (100 * n)
    var st = nodes.select(col("node"), lit(PrScale / n).as("r"), col("d"))
    for (_ <- 1 to PrIters) {
      // per-source outflow from the node-sized state: it broadcasts —
      // size-conditionally, see boundedBroadcast — and the EDGES NEVER
      // SHUFFLE. At billions of nodes the state outgrows the limit and
      // the same plan degrades to a shuffle join on src.
      val outflow = st.filter(col("d") > 0)
        .select(col("node").as("src_n"), expr("(r * 85) div (100 * d)").as("c"))
      val inflow = e.join(boundedBroadcast(outflow), col("src") === col("src_n"))
        .select(col("dst").as("node"), col("c"), lit(0L).as("d"))
      // the state's own zero-inflow rows keep every node (and its degree)
      // in the one aggregate: rank = teleport share + Σ inflow, exactly
      // the oracle's COALESCE(SUM(...), 0) over the node LEFT JOIN
      st = inflow.unionByName(st.select(col("node"), lit(0L).as("c"), col("d")))
        .groupBy(col("node"))
        .agg((sum(col("c")) + base).as("r"), max(col("d")).as("d"))
        .graftCheckpoint(true)
    }
    st.select(col("node"), col("r")).orderBy(col("r").desc, col("node"))
  }

  /** The directed co-purchase graph `e` (both orientations of every
    * pair of distinct parts sharing an order, once per shared order)
    * and its `nodes`, every part that was ever ordered.
    */
  private val directedCoPurchaseCtesSql: String =
    """li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e AS (
      |  SELECT a.l_partkey AS src, b.l_partkey AS dst
      |  FROM li a JOIN li b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
      |nodes AS (SELECT DISTINCT l_partkey AS node FROM lineitem)""".stripMargin

  val q63PageRankSql: String = {
    val S = PrScale
    val base =
      s"""WITH $directedCoPurchaseCtesSql,
         |deg AS (SELECT src AS node, COUNT(*) AS d FROM e GROUP BY src),
         |n AS (SELECT COUNT(*) AS cnt FROM nodes),
         |r0 AS (SELECT node, CAST($S AS BIGINT) // (SELECT cnt FROM n) AS r FROM nodes)""".stripMargin
    val iters = (1 to PrIters).map { k =>
      s""",
         |r$k AS (
         |  SELECT nodes.node,
         |    (CAST($S AS BIGINT) * 15) // (100 * (SELECT cnt FROM n))
         |      + COALESCE(SUM((p.r * 85) // (100 * dg.d)), 0) AS r
         |  FROM nodes
         |  LEFT JOIN e ON e.dst = nodes.node
         |  LEFT JOIN r${k - 1} p ON p.node = e.src
         |  LEFT JOIN deg dg ON dg.node = e.src
         |  GROUP BY nodes.node)""".stripMargin
    }.mkString
    // DuckDB types the SUM-fed rank HUGEINT; the engine emits int64, so
    // pin the oracle's output column to BIGINT (values are identical —
    // rank mass is bounded by PrScale, far inside int64).
    base + iters +
      s"\nSELECT node, CAST(r AS BIGINT) AS r FROM r$PrIters ORDER BY r DESC, node"
  }

  // ---------------------------------------------------------------------
  // q66: triangle counting over the undirected co-purchase graph — the
  // motif-counting surface (clustering-coefficient numerator, community
  // density). The naive 3-way self-join touches every triangle SIX times
  // and, worse, enumerates each hub's full 2-path fan-out; the engine
  // uses the degree-ordered orientation (Latapy's compact-forward /
  // GraphX's approach): orient each undirected edge from its
  // lexicographically-(degree, id)-smaller endpoint, then count directed
  // wedges u→v→w closed by u→w. Every triangle is counted EXACTLY once,
  // and out-degrees are bounded by O(√m) regardless of hub size — the
  // property that makes the wedge join survive power-law graphs at
  // 100 TB scale (an unoriented hub of degree d contributes d² wedges;
  // oriented, at most m wedges total).
  //
  // Determinism: pure integer joins and counts — nothing to snap. The
  // (deg, id) order is total, so the orientation is identical in DuckDB.
  // ---------------------------------------------------------------------
  /** Undirected distinct co-purchase edges (src < dst) only — the
    * und-side consumers (q107/q134/q135) call this directly so the eager
    * orientation build below never runs for them.
    */
  private[graft] def undirectedCoPurchase(spark: SparkSession, dir: String): DataFrame = {
    // build the undirected pair set directly (a.partkey < b.partkey)
    // rather than via projection() — that helper eagerly materializes
    // the directed edges, node list and out-degrees q63/q67 need, none
    // of which this path uses. r18: per-order part sets come from ONE
    // hash aggregate and the value-ordered pairs from the sorted array
    // (the projection() rewrite, § there) — same pair set as the
    // lineitem-distinct self-join, one shuffle instead of two + a join.
    val sets = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
    sets
      .select(explode(flatten(transform(col("ps"), (a, i) =>
        transform(slice(col("ps"), i + 2, size(col("ps"))),
          b => struct(a.as("src"), b.as("dst")))))).as("p"))
      .select(col("p.src").as("src"), col("p.dst").as("dst"))
      .distinct().graftCheckpoint(true)
  }

  /** Undirected co-purchase edges and their degree-ordered orientation —
    * exposed for GraphPhashSpec's out-degree-bound pin.
    */
  private[graft] def orientedCoPurchase(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val und = undirectedCoPurchase(spark, dir)
    // the degree frame is node-sized and checkpointed, so both
    // orientation lookups are broadcast joins sized by its own bytes
    val deg = degrees(und).graftCheckpoint(true)
    // orient small-(deg, id) endpoint → large
    val or = withEndpoints(und, deg, "d", "ds", "dd")
      .select(
        when(col("ds") < col("dd") || (col("ds") === col("dd") && col("src") < col("dst")),
          col("src")).otherwise(col("dst")).as("u"),
        when(col("ds") < col("dd") || (col("ds") === col("dd") && col("src") < col("dst")),
          col("dst")).otherwise(col("src")).as("v"))
      .graftCheckpoint(true)
    (und, or)
  }

  /** Sorted out-neighborhood per oriented source — node-sized (Σ outdeg =
    * m longs total); shared by q66 (triangle total) and q82 (per-node
    * counts / clustering coefficients). NOT checkpointed: the u-side and
    * v-side broadcasts differ only in output aliases, which canonicalize
    * away, so ReuseExchange ships ONE broadcast build (measured r11: an
    * eager checkpoint here cost q66 +2.3 s warm by adding a
    * materialization job the reuse had already made redundant).
    */
  private def orientedAdjacency(or: DataFrame): DataFrame =
    or.groupBy(col("u")).agg(sort_array(collect_list(col("v"))).as("nbrs"))

  /** Each oriented (u, v) edge with both endpoints' sorted
    * out-neighborhoods attached, as `nu` and `nv`. The adjacency is
    * node-keyed but its payload is edge-bounded (Σ outdeg = m longs); it
    * is measured by the bytes of the checkpointed `or` it aggregates, and
    * above the limit both lookups degrade to edge-linear shuffle joins —
    * still never wedges.
    */
  private[graft] def withAdjacency(or: DataFrame): DataFrame = {
    val adj = orientedAdjacency(or)
    or
      .join(boundedBroadcast(adj.select(col("u").as("ju"), col("nbrs").as("nu"))),
        col("u") === col("ju"))
      .join(boundedBroadcast(adj.select(col("u").as("jv"), col("nbrs").as("nv"))),
        col("v") === col("jv"))
  }

  def q66Triangles(spark: SparkSession, dir: String): DataFrame = {
    val (und, or) = orientedCoPurchase(spark, dir)
    // Count via per-edge out-neighborhood intersection, NOT the explicit
    // wedge self-join: materializing wedges shuffles Σ outdeg² rows
    // (36M on this co-purchase graph — measured 14.5 s), while the
    // intersection form ships each edge once with two sorted adjacency
    // arrays attached and never materializes a wedge row (3.5 s). The
    // orientation caps every array at √(2m), so a row is ≤ O(√m) wide —
    // per-edge work Σ (outdeg(u)+outdeg(v)), the compact-forward bound.
    val tri = withAdjacency(or)
      .select(size(array_intersect(col("nu"), col("nv"))).cast(LongType).as("c"))
      .agg(coalesce(sum(col("c")), lit(0L)).as("n_triangles"))
    val nodes = und.select(col("src").as("node"))
      .union(und.select(col("dst").as("node")))
      .agg(countDistinct(col("node")).as("n_nodes"))
    val stats = und.agg(count(lit(1)).as("n_edges")).crossJoin(nodes)
    stats.crossJoin(tri).select(col("n_nodes"), col("n_edges"), col("n_triangles"))
  }

  /** `und`: each co-purchased part pair once, as (src < dst). */
  private val coPurchaseCtesSql: String =
    """li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |und AS MATERIALIZED (
      |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)""".stripMargin

  /** `deg`: each node's degree in `und`. */
  private val coPurchaseDegCteSql: String =
    """deg AS MATERIALIZED (
      |  SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
      |    SELECT src AS node FROM und UNION ALL SELECT dst FROM und)
      |  GROUP BY node)""".stripMargin

  /** q135's modularity report of the partition `cm` (node, comm) over
    * `und` with degrees `deg`: one row per community, then Q.
    */
  private val modularityReportSql: String =
    """dc AS (
      |  SELECT comm, CAST(COUNT(*) AS BIGINT) AS n_nodes,
      |    CAST(SUM(d) AS BIGINT) AS d_c
      |  FROM deg JOIN cm USING (node) GROUP BY 1),
      |ec AS (
      |  SELECT cs.comm, CAST(COUNT(*) AS BIGINT) AS e_c
      |  FROM und
      |  JOIN cm cs ON cs.node = und.src
      |  JOIN cm cd ON cd.node = und.dst
      |  WHERE cs.comm = cd.comm
      |  GROUP BY 1),
      |mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM und),
      |j AS (
      |  SELECT dc.comm, dc.n_nodes, dc.d_c, COALESCE(ec.e_c, 0) AS e_c, mm.m,
      |    CAST(mm.m AS HUGEINT) * 4 * COALESCE(ec.e_c, 0)
      |      - CAST(dc.d_c AS HUGEINT) * dc.d_c AS q_num
      |  FROM dc LEFT JOIN ec USING (comm) CROSS JOIN mm),
      |w AS (SELECT *, CAST(SUM(q_num) OVER () AS HUGEINT) AS q_num_sum FROM j)
      |SELECT comm, n_nodes, d_c, e_c,
      |  ROUND(CAST(q_num AS DOUBLE)
      |    / (4.0 * CAST(m AS DOUBLE) * CAST(m AS DOUBLE)), 6) AS contribution,
      |  ROUND(CAST(q_num_sum AS DOUBLE)
      |    / (4.0 * CAST(m AS DOUBLE) * CAST(m AS DOUBLE)), 6) AS q
      |FROM w ORDER BY comm""".stripMargin

  /** The li/und/deg/ored CTE block shared by q66 and q82 — the oriented
    * co-purchase graph in DuckDB terms, mirroring [[orientedCoPurchase]].
    */
  // MATERIALIZED throughout: und is the lineitem co-purchase self-join
  // (the block's whole cost) and is referenced by deg/ored and again by
  // the queries' n_nodes/n_edges; ored is referenced 3x by the triangle
  // join — DuckDB's default inlining re-ran the self-join per reference
  // (q82 21.2s -> ~6s at sf0.1, r17 slowest-5 footer)
  private val orientedCtesSql: String =
    """li AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |und AS MATERIALIZED (
      |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      |  FROM li a JOIN li b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |deg AS MATERIALIZED (
      |  SELECT node, COUNT(*) AS d FROM (
      |    SELECT src AS node FROM und UNION ALL SELECT dst FROM und)
      |  GROUP BY node),
      |ored AS MATERIALIZED (
      |  SELECT
      |    CASE WHEN (ds.d, und.src) < (dd.d, und.dst) THEN und.src ELSE und.dst END AS u,
      |    CASE WHEN (ds.d, und.src) < (dd.d, und.dst) THEN und.dst ELSE und.src END AS v
      |  FROM und
      |  JOIN deg ds ON ds.node = und.src
      |  JOIN deg dd ON dd.node = und.dst)""".stripMargin

  val q66TrianglesSql: String =
    s"""WITH $orientedCtesSql
      |SELECT
      |  (SELECT COUNT(*) FROM deg) AS n_nodes,
      |  (SELECT COUNT(*) FROM und) AS n_edges,
      |  (SELECT COUNT(*) FROM ored e1
      |     JOIN ored e2 ON e1.v = e2.u
      |     JOIN ored e3 ON e3.u = e1.u AND e3.v = e2.v) AS n_triangles""".stripMargin

  // ---------------------------------------------------------------------
  // q82: local clustering coefficient — per-node triangle participation
  // over the same oriented co-purchase graph, the node-level sibling of
  // q66's global count (community-density / ego-net cohesion feature for
  // recommender and fraud pipelines). Each triangle is found ONCE at its
  // oriented (u, v) edge by the q66 adjacency intersection, then exploded
  // to its three corners — rows are triangle-sized, never wedge-sized —
  // and a hash aggregate counts per node. lcc = 2·tri / (d·(d−1)) over
  // the UNDIRECTED degree; both factors are exact integers and the one
  // double expression is evaluated identically in both engines.
  //
  // Scale: inherits q66's compact-forward bound (per-edge work
  // O(outdeg(u)+outdeg(v)), out-degrees ≤ O(√m)); the corner fan-out is
  // 3 rows per triangle; degree and corner tables are node-sized.
  // ---------------------------------------------------------------------
  def q82ClusteringCoeff(spark: SparkSession, dir: String): DataFrame = {
    val (und, or) = orientedCoPurchase(spark, dir)
    val corners = withAdjacency(or)
      .select(col("u"), col("v"), explode(array_intersect(col("nu"), col("nv"))).as("w"))
      .select(explode(array(col("u"), col("v"), col("w"))).as("node"))
    val tri = corners.groupBy(col("node")).agg(count(lit(1)).as("tri"))
    val deg = degrees(und)
    val dd = col("d").cast(DoubleType)
    deg.filter(col("d") >= 2)
      .join(tri, Seq("node"), "left")
      .select(col("node"), col("d").as("degree"),
        coalesce(col("tri"), lit(0L)).as("n_tri"),
        (lit(2.0) * coalesce(col("tri"), lit(0L)).cast(DoubleType) /
          (dd * (dd - lit(1.0)))).as("lcc"))
      .orderBy(col("node"))
  }

  val q82ClusteringCoeffSql: String =
    s"""WITH $orientedCtesSql,
       |tris AS (
       |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
       |  FROM ored e1
       |  JOIN ored e2 ON e2.u = e1.v
       |  JOIN ored e3 ON e3.u = e1.u AND e3.v = e2.v),
       |corners AS (
       |  SELECT a AS node FROM tris
       |  UNION ALL SELECT b FROM tris
       |  UNION ALL SELECT c FROM tris),
       |tric AS (SELECT node, COUNT(*) AS tri FROM corners GROUP BY node)
       |SELECT dg.node, dg.d AS degree,
       |  CAST(COALESCE(t.tri, 0) AS BIGINT) AS n_tri,
       |  2.0 * CAST(COALESCE(t.tri, 0) AS DOUBLE)
       |    / (CAST(dg.d AS DOUBLE) * (CAST(dg.d AS DOUBLE) - 1.0)) AS lcc
       |FROM deg dg LEFT JOIN tric t ON t.node = dg.node
       |WHERE dg.d >= 2
       |ORDER BY dg.node""".stripMargin

  // ---------------------------------------------------------------------
  // q67: multi-hop reachability (BFS frontier expansion) — "what does a
  // seed set touch within k hops", the blast-radius / lineage query.
  // Three unrolled frontier rounds: each is one join (frontier → edges)
  // + distinct + anti-join against the visited set; per-round cost is
  // O(|frontier-adjacent edges|), and state is node-sized (visited set),
  // never edge-sized. Frontiers and the visited set are
  // localCheckpoint-ed per round — same iteration idiom as q63/d45
  // (reliable `checkpoint` swaps in on a cluster).
  //
  // Seeds are corpus-relative (part keys ≡ 0 mod 500), so the query
  // scales with SF instead of pinning literal ids. Output is the exact
  // per-hop newly-reached count — integer, order total by hop.
  // ---------------------------------------------------------------------
  private val KhopRounds = 3

  def q67KHopReach(spark: SparkSession, dir: String): DataFrame = {
    val (e, nodes) = projection(spark, dir)
    // frontier and visited are checkpointed and ≤ node-sized: each round
    // broadcasts them while their bytes fit the limit
    val seeds = nodes.where(col("node") % 500 === 0).select(col("node"))
      .graftCheckpoint(true)
    var visited = seeds
    var frontier = seeds
    // Collect each round's frontier as a FRAME (not a driver count): the
    // result is the lazy union of per-hop single-row aggregates — the
    // same f0..f3 shape as the SQL oracle — so q67 keeps the declarative
    // QueryDef contract the rest of the suite follows (ADVICE r07). The
    // per-round localCheckpoints still bound lineage; an ungrouped agg
    // emits its zero row even on an empty frontier, keeping the output
    // total at any SF.
    val frontiers = scala.collection.mutable.ArrayBuffer[DataFrame](seeds)
    for (_ <- 1 to KhopRounds) {
      frontier = e.join(boundedBroadcast(frontier.withColumnRenamed("node", "src")), "src")
        .select(col("dst").as("node")).distinct()
        .join(boundedBroadcast(visited), Seq("node"), "left_anti")
        .graftCheckpoint(true)
      frontiers += frontier
      visited = visited.union(frontier).graftCheckpoint(true)
    }
    frontiers.zipWithIndex.map { case (f, h) =>
      f.agg(count(lit(1)).as("n_new")).select(lit(h).as("hop"), col("n_new"))
    }.reduce(_ union _).orderBy(col("hop"))
  }

  val q67KHopReachSql: String = {
    val base =
      s"""WITH $directedCoPurchaseCtesSql,
        |f0 AS (SELECT node FROM nodes WHERE node % 500 = 0),
        |v0 AS (SELECT node FROM f0)""".stripMargin
    val rounds = (1 to KhopRounds).map { h =>
      s""",
         |f$h AS (
         |  SELECT DISTINCT e.dst AS node
         |  FROM e JOIN f${h - 1} ON e.src = f${h - 1}.node
         |  EXCEPT SELECT node FROM v${h - 1}),
         |v$h AS (SELECT node FROM v${h - 1} UNION SELECT node FROM f$h)""".stripMargin
    }.mkString
    val sel = (0 to KhopRounds).map(h =>
      s"SELECT $h AS hop, (SELECT COUNT(*) FROM f$h) AS n_new").mkString("\n|UNION ALL\n|")
    (base + rounds + "\n|" + sel + "\n|ORDER BY hop").stripMargin
  }

  // ---------------------------------------------------------------------
  // q87: weighted shortest paths (bounded Bellman-Ford) — min-COST
  // distance from the seed set within 3 edges, where an edge costs
  // 1e6 div multiplicity (strongly co-purchased pairs are "closer"):
  // the weighted companion to q67's hop-count reachability, and the
  // min-plus-semiring iteration shape (relax = join + min-aggregate)
  // that generalizes to any path algebra. Per round: one edge join +
  // one node-sized min fold, O(|E|) work, node-sized state,
  // localCheckpoint per round — the q63/q67/d45 iteration idiom. Pure
  // integer costs; the output is thinned to a deterministic node slice
  // so result size stays bounded at any SF.
  // ---------------------------------------------------------------------
  private val SsspRounds = 3

  def q87WeightedPath(spark: SparkSession, dir: String): DataFrame = {
    val (e, nodes) = projection(spark, dir)
    val we = e.groupBy(col("src"), col("dst"))
      .agg(expr("1000000L div count(1)").as("cost"))
      .graftCheckpoint(true)
    var dist = nodes.where(col("node") % 500 === 0)
      .select(col("node"), lit(0L).as("d")).graftCheckpoint(true)
    for (_ <- 1 to SsspRounds) {
      val relaxed = we
        .join(boundedBroadcast(dist.select(col("node").as("src"), col("d").as("ds"))), "src")
        .select(col("dst").as("node"), (col("ds") + col("cost")).as("d"))
      dist = dist.union(relaxed).groupBy(col("node")).agg(min(col("d")).as("d"))
        .graftCheckpoint(true)
    }
    dist.filter(col("node") % 23 === 0).orderBy(col("node"))
  }

  val q87WeightedPathSql: String = {
    val base =
      s"""WITH $directedCoPurchaseCtesSql,
        |we AS (
        |  SELECT src, dst, CAST(1000000 // COUNT(*) AS BIGINT) AS cost
        |  FROM e GROUP BY src, dst),
        |d0 AS (
        |  SELECT node, CAST(0 AS BIGINT) AS d FROM nodes WHERE node % 500 = 0)""".stripMargin
    val rounds = (1 to SsspRounds).map { k =>
      s""",
         |d$k AS (
         |  SELECT node, CAST(MIN(d) AS BIGINT) AS d FROM (
         |    SELECT node, d FROM d${k - 1}
         |    UNION ALL
         |    SELECT we.dst AS node, p.d + we.cost AS d
         |    FROM we JOIN d${k - 1} p ON p.node = we.src)
         |  GROUP BY node)""".stripMargin
    }.mkString
    base + rounds +
      s"\nSELECT node, d FROM d$SsspRounds WHERE node % 23 = 0 ORDER BY node"
  }

  // ---------------------------------------------------------------------
  // q107: degree assortativity (Newman 2002) — do high-degree parts
  // co-purchase with other high-degree parts (r > 0, "rich club") or
  // with the long tail (r < 0, hub-and-spoke)? The one scalar that
  // separates those regimes, and the standard first diagnostic after
  // the degree distribution itself. Pearson correlation of the degree
  // pairs at the two ends of every edge, both orientations (the
  // undirected convention): with M = 2m endpoint pairs,
  //   r = (M·Σxy − (Σx)²) / (M·Σx² − (Σx)²)
  // using Σy = Σx, Σy² = Σx² by symmetry.
  //
  // Scale shape: the degree frame is node-sized and BROADCASTS onto the
  // edge list twice (the q66 idiom — edges never shuffle to learn their
  // endpoint degrees), then everything folds to ONE row of integer
  // moments. Exactness: every moment is an integer sum widened to
  // decimal BEFORE the multiply (d³-scale products), and r is a single
  // exact-integer ratio evaluated in double ONCE — no per-row double
  // ever exists, so r is bit-identical across engines and partitionings.
  // ---------------------------------------------------------------------
  def q107Assortativity(spark: SparkSession, dir: String): DataFrame = {
    val und = undirectedCoPurchase(spark, dir)
    assortativityFrom(und)
  }

  /** Assortativity over any undirected (src, dst) edge frame — spec
    * entry point.
    */
  private[graft] def assortativityFrom(und: DataFrame): DataFrame = {
    // checkpointed, the node-sized degree frame is measured for its two
    // broadcasts onto the edge list
    val deg = degrees(und).graftCheckpoint(true)
    val dec = DecimalType(38, 0)
    val m = withEndpoints(und, deg, "d", "ds", "dd")
      .agg(count(lit(1)).as("n_edges"),
        sum((col("ds") + col("dd")).cast(dec)).as("sx"),
        sum(col("ds").cast(dec) * col("ds") + col("dd").cast(dec) * col("dd")).as("sxx"),
        sum(lit(2L).cast(dec) * col("ds") * col("dd")).as("sxy"))
    val nodes = deg.agg(count(lit(1)).as("n_nodes"))
    val m2 = (lit(2L) * col("n_edges")).cast(dec)
    m.crossJoin(broadcast(nodes))
      .select(col("n_nodes"), col("n_edges"),
        round((m2 * col("sxy") - col("sx") * col("sx")).cast(DoubleType)
          / (m2 * col("sxx") - col("sx") * col("sx")).cast(DoubleType), 6)
          .as("assortativity"))
  }

  val q107AssortativitySql: String =
    """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |und AS (
      |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      |  FROM li a JOIN li b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |deg AS (
      |  SELECT node, COUNT(*) AS d FROM (
      |    SELECT src AS node FROM und UNION ALL SELECT dst FROM und)
      |  GROUP BY node),
      |m AS (
      |  SELECT COUNT(*) AS n_edges,
      |    SUM(CAST(ds.d + dd.d AS HUGEINT)) AS sx,
      |    SUM(CAST(ds.d AS HUGEINT) * ds.d + CAST(dd.d AS HUGEINT) * dd.d) AS sxx,
      |    SUM(CAST(2 AS HUGEINT) * ds.d * dd.d) AS sxy
      |  FROM und
      |  JOIN deg ds ON ds.node = und.src
      |  JOIN deg dd ON dd.node = und.dst)
      |SELECT (SELECT COUNT(*) FROM deg) AS n_nodes, n_edges,
      |  ROUND(CAST(2 * n_edges * sxy - sx * sx AS DOUBLE)
      |        / CAST(2 * n_edges * sxx - sx * sx AS DOUBLE), 6) AS assortativity
      |FROM m""".stripMargin

  // ---------------------------------------------------------------------
  // q115: HITS (Kleinberg hubs & authorities) over the customer→part
  // bipartite purchase graph — the link-analysis sibling of q63's
  // PageRank, on the bipartite structure PageRank's co-purchase
  // projection flattens away (customers = hubs, parts = authorities).
  //
  // Same fixed-point determinism story as q63: scores live on an integer
  // grid (HitsScale total mass), every normalization is a floor division
  // over positive integers (`div` ≡ DuckDB `//`), so the iteration is
  // bit-identical cross-engine — floor losses are part of the operator's
  // definition. Mass conservation makes overflow impossible at ANY
  // scale: scores start at `S div |parts|` (total ≈ S), each raw
  // aggregate is bounded by the total circulating mass (≤ ~2·S per
  // node-sum), and only the normalization TOTAL — which is Σ_p deg_p·a_p
  // and can reach |nodes|·S on a billion-node graph — accumulates in
  // DECIMAL(38,0) (DuckDB: HUGEINT natively).
  //
  // Scale shape per half-iteration: score frame is node-sized →
  // broadcast to the edges, one hash aggregate into the other side, one
  // 1-row broadcast total. Edges are built ONCE (localCheckpoint) and
  // never shuffle; 2 full rounds unroll into one plan.
  // ---------------------------------------------------------------------
  private val HitsScale = 1000000000000L // 1e12 score grid
  private val HitsIters = 2
  private val HitsTopK = 100

  def q115Hits(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_partkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
      .distinct()
      .graftCheckpoint(true)
    val parts = e.select(col("p")).distinct()
    val nParts = parts.agg(count(lit(1)).as("np"))
    var a = parts.crossJoin(broadcast(nParts))
      .select(col("p"), expr(s"${HitsScale}L div np").as("a"))
    // normalize a positive integer score column to total mass ≈ S:
    // x → x div (T div S), T summed in decimal (unbounded-safe)
    // divisor floor-guarded at 1: on a degenerate graph whose total
    // circulating mass falls below HitsScale (all-degree-1 plus floor
    // loss), `t div S` is 0 — Spark would emit silent NULL scores while
    // DuckDB `//` raises, a silent-vs-loud divergence (ADVICE r12). On
    // any real graph t >= S by mass conservation, so the guard is inert.
    def normalize(df: DataFrame, key: String, raw: String, out: String): DataFrame = {
      val t = df.agg(sum(col(raw).cast(DecimalType(38, 0))).as("t"))
      df.crossJoin(broadcast(t))
        .select(col(key),
          expr(s"$raw div greatest(1L, CAST(t div ${HitsScale}L AS BIGINT))").as(out))
    }
    // the per-half-iteration score frames broadcast while the bytes of
    // the checkpoints they read fit the limit; the 1-row normalization
    // totals stay unconditionally broadcast
    for (_ <- 1 to HitsIters) {
      // checkpoint each half-iteration's RAW node-sized aggregate: it has
      // two consumers (the normalization total and the normalized frame),
      // and the next half-iteration re-references the result — composed
      // bare the 2-iteration unroll re-derived every earlier half-step
      // per reference (604-operator / 308-Exchange plan,
      // plans/r18/q115_hits_before.txt); with the checkpoint each
      // half-step is ONE edge-pass aggregate (r18, guide §2.4)
      val hRaw = e.join(boundedBroadcast(a), "p")
        .groupBy(col("c")).agg(sum(col("a")).as("hr"))
        .graftCheckpoint(true)
      val h = normalize(hRaw, "c", "hr", "h")
      val aRaw = e.join(boundedBroadcast(h), "c")
        .groupBy(col("p")).agg(sum(col("h")).as("ar"))
        .graftCheckpoint(true)
      a = normalize(aRaw, "p", "ar", "a")
    }
    a.select(col("p").as("part"), col("a").as("authority"))
      .orderBy(col("authority").desc, col("part"))
      .limit(HitsTopK)
  }

  val q115HitsSql: String = {
    val S = HitsScale
    val iters = (1 to HitsIters).map { k =>
      s""",
         |h${k}r AS (
         |  SELECT c, CAST(SUM(a) AS BIGINT) AS hr
         |  FROM e JOIN a${k - 1} USING (p) GROUP BY c),
         |h$k AS (
         |  SELECT c, hr // GREATEST(1, CAST((SELECT SUM(hr) FROM h${k}r) // $S AS BIGINT)) AS h
         |  FROM h${k}r),
         |a${k}r AS (
         |  SELECT p, CAST(SUM(h) AS BIGINT) AS ar
         |  FROM e JOIN h$k USING (c) GROUP BY p),
         |a$k AS (
         |  SELECT p, ar // GREATEST(1, CAST((SELECT SUM(ar) FROM a${k}r) // $S AS BIGINT)) AS a
         |  FROM a${k}r)""".stripMargin
    }.mkString
    s"""WITH e AS (
       |  SELECT DISTINCT o_custkey AS c, l_partkey AS p
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |parts AS (SELECT DISTINCT p FROM e),
       |a0 AS (
       |  SELECT p, CAST($S AS BIGINT) // (SELECT COUNT(*) FROM parts) AS a
       |  FROM parts)$iters
       |SELECT p AS part, CAST(a AS BIGINT) AS authority
       |FROM a$HitsIters
       |ORDER BY authority DESC, part
       |LIMIT $HitsTopK""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q116: k-core peeling over the undirected co-purchase graph — the
  // degeneracy/dense-subgraph primitive (Seidman 1983; the "core
  // decomposition" every graph-cleaning pipeline runs to strip sparse
  // periphery before community/embedding work). k is data-derived —
  // 0.7× the mean degree, in integer arithmetic — so the gate bites at
  // every scale factor without a hand-tuned constant; 8 peeling rounds
  // are unrolled (convergence by round ~6 on the testdata; the operator
  // is DEFINED as 8 rounds, so both engines run the identical
  // computation whether or not the graph has stabilized).
  //
  // Scale shape per round: degree = one hash aggregate over the base
  // edge set filtered by TWO broadcast membership semi-joins against the
  // node-sized alive frame; only that alive frame is localCheckpoint'ed
  // per round. The survivor edge set is never rewritten: alive sets are
  // NESTED (a node outside alive_r has no surviving edges, so its degree
  // is 0 in every later round), which makes e0 ∩ alive_r² identical to
  // the iteratively-filtered edge set — the base edges materialize once
  // and each round costs one scan of them, not a scan plus a
  // materialized rewrite (measured: 8 per-round edge checkpoints read
  // 10.1 s warm at sf0.1; this shape 4-5 s). Pure integer counts
  // everywhere — nothing to snap.
  // ---------------------------------------------------------------------
  private val KCoreRounds = 8

  def q116KCore(spark: SparkSession, dir: String): DataFrame = {
    // r18: per-order part sets via one aggregate + sorted-pair fan-out
    // (the undirectedCoPurchase rewrite) — same distinct pair set as the
    // lineitem-distinct self-join, one shuffle fewer
    val sets = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
    val und = sets
      .select(explode(flatten(transform(col("ps"), (a, i) =>
        transform(slice(col("ps"), i + 2, size(col("ps"))),
          b => struct(a.as("s"), b.as("d")))))).as("p"))
      .select(col("p.s").as("s"), col("p.d").as("d"))
      .distinct()
    // symmetric closure: per-node degree = COUNT over outgoing rows
    val e0 = und.union(und.select(col("d").as("s"), col("s").as("d")))
      .graftCheckpoint(true)
    // k = (7 · 2|E|) div (10 · |N|) — one bounded aggregate over the
    // checkpointed edges, read once and used as a plan literal (null on
    // an empty graph, as in the oracle)
    val k = lit(e0.agg((count(lit(1)) * lit(7L)).as("ke"),
        (countDistinct(col("s")) * lit(10L)).as("kn"))
      .select(expr("ke div kn")).first().get(0)).cast(LongType)
    // r18: INCREMENTAL peeling. The r17 shape re-filtered the whole edge
    // set by two alive-broadcast joins and re-aggregated full degrees
    // every round (~10 s executor run per round at sf0.1, 8 rounds). The
    // rewrite maintains the alive-degree frame and DECREMENTS it by the
    // edges incident to the nodes removed last round:
    //   deg_r(n) = deg_{r-1}(n) − |{m ∈ removed_{r-1} : (n,m) ∈ E}|
    // (removed sets are disjoint, so each lost neighbor is subtracted
    // exactly once — deg_r equals the alive_{r-1}-induced degree by
    // induction). Per round: ONE broadcast probe of e0 against the
    // (shrinking, usually tiny) removed set + a node-sized left join,
    // instead of two corpus-broadcast joins + a full re-count. The
    // 8-round fixed unroll and every emitted value are unchanged —
    // hash-grade oracle (the 8-round SQL chain) proves it. k = 0
    // degenerate case: removed is empty every round and deg never
    // decrements — same all-alive output as the re-filtering form.
    var deg = e0.groupBy(col("s").as("n")).agg(count(lit(1)).as("c"))
      .graftCheckpoint(true)
    def removedOf(d: DataFrame): DataFrame = d.filter(col("c") < k).select(col("n"))
    def decremented(d: DataFrame, removed: DataFrame): DataFrame = {
      val dec = e0.join(boundedBroadcast(removed.select(col("n").as("d"))), "d")
        .groupBy(col("s").as("n")).agg(count(lit(1)).as("dec"))
      d.filter(col("c") >= k)
        .select(col("n"), col("c"))
        .join(dec, Seq("n"), "left")
        .select(col("n"), (col("c") - coalesce(col("dec"), lit(0L))).as("c"))
    }
    for (_ <- 2 to KCoreRounds)
      deg = decremented(deg, removedOf(deg)).graftCheckpoint(true)
    // deg now holds deg_8 over the alive_7 universe; the survivors are
    // c ≥ k, and their core degree is deg_9 (one more decrement by the
    // round-8 removals = neighbors inside alive_8 exactly)
    decremented(deg, removedOf(deg))
      .select(col("n").as("node"), col("c").as("core_degree"), k.as("k"))
      .orderBy(col("node"))
  }

  val q116KCoreSql: String = {
    // every e_{r-1} has TWO consumers (the degree count and the survivor
    // filter) — AS MATERIALIZED stops DuckDB inlining the reference,
    // which would otherwise expand the 8-round chain to 2^8 copies of
    // the order self-join
    val rounds = (1 to KCoreRounds).map { r =>
      s""",
         |d$r AS (SELECT s AS n, COUNT(*) AS c FROM e${r - 1} GROUP BY s),
         |a$r AS MATERIALIZED (SELECT n FROM d$r WHERE c >= (SELECT k FROM kv)),
         |e$r AS MATERIALIZED (
         |  SELECT e.s, e.d FROM e${r - 1} e
         |  JOIN a$r x ON e.s = x.n
         |  JOIN a$r y ON e.d = y.n)""".stripMargin
    }.mkString
    s"""WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |und AS MATERIALIZED (
       |  SELECT DISTINCT a.l_partkey AS s, b.l_partkey AS d
       |  FROM li a JOIN li b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
       |e0 AS MATERIALIZED (SELECT s, d FROM und UNION ALL SELECT d AS s, s AS d FROM und),
       |kv AS (
       |  SELECT (COUNT(*) * 7) // (10 * COUNT(DISTINCT s)) AS k FROM e0)$rounds,
       |fd AS (SELECT s AS n, COUNT(*) AS c FROM e$KCoreRounds GROUP BY s)
       |SELECT a.n AS node,
       |  CAST(COALESCE(fd.c, 0) AS BIGINT) AS core_degree,
       |  CAST((SELECT k FROM kv) AS BIGINT) AS k
       |FROM a$KCoreRounds a LEFT JOIN fd USING (n)
       |ORDER BY node""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q134: rich-club coefficient ladder over the undirected co-purchase
  // graph (Zhou & Mondragon 2004; Colizza et al. 2006) — "do the hubs
  // preferentially wire to each other": at each degree threshold k,
  //   phi(k) = 2·E_k / (N_k·(N_k − 1))
  // with N_k = |{v : deg(v) > k}| and E_k the edges with BOTH endpoints
  // above k — the density of the subgraph induced by the >k club. The
  // structural sibling of q107's assortativity: r says "degrees at edge
  // ends correlate", phi(k) says "the top club is this close to a
  // clique" — the two disagree exactly when hubs interlink only through
  // low-degree brokers. Thresholds are the exact degree deciles (j/10
  // of nodes at or below k_j), so the ladder stays informative at any
  // SF; j = 0 anchors the whole-graph density.
  //
  // Scale shape: degrees are node-sized and BROADCAST onto the edge
  // list (q66/q107's idiom — edges never shuffle to learn endpoint
  // degrees); each edge then collapses to its MIN endpoint degree and
  // the corpus is GONE: the node-degree and edge-min-degree histograms
  // are both bounded by max degree, the decile thresholds come from a
  // cumulative sum over that bounded histogram, and the club counts are
  // broadcast non-equi joins of the 10-row ladder × histogram.
  //
  // Exactness: pure integer counts end to end (targets via integer
  // `div`, thresholds via min-over-cum — no quantile estimators); phi
  // is ONE double division per ladder row, identical in both engines,
  // rounded once; N_k < 2 nulls out via the q56 guard.
  // ---------------------------------------------------------------------
  private val RichClubDeciles = 10

  def q134RichClub(spark: SparkSession, dir: String): DataFrame = {
    val und = undirectedCoPurchase(spark, dir)
    richClubFrom(spark, und)
  }

  /** Rich-club decile ladder over any undirected (src, dst) edge frame —
    * spec entry point.
    */
  private[graft] def richClubFrom(spark: SparkSession, und: DataFrame): DataFrame = {
    // the node-sized degree frame, checkpointed: it is measured for the
    // broadcasts onto the edge list and read by both histograms
    val deg = degrees(und).graftCheckpoint(true)
    // two consumers (threshold scan + club counts) of a degree-bounded frame
    val degHist = deg.groupBy(col("d")).agg(count(lit(1)).as("nd"))
      .graftCheckpoint(false)
    val edgeHist = withEndpoints(und, deg, "d", "ds", "dd")
      .select(least(col("ds"), col("dd")).as("md"))
      .groupBy(col("md")).agg(count(lit(1)).as("ne"))
    // exact decile thresholds from the cumulative degree histogram; the
    // unpartitioned window is degree-bounded, never corpus-sized
    val cum = degHist
      .withColumn("cum", sum(col("nd")).over(Window.orderBy(col("d"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum(col("nd")).over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    val ladder = spark.range(1L, RichClubDeciles.toLong).select(col("id").as("j"))
      .join(broadcast(cum),
        col("cum") >= expr(s"(j * n + ${RichClubDeciles - 1}) div $RichClubDeciles"))
      .groupBy(col("j")).agg(min(col("d")).as("k"))
      .union(spark.range(1L).select(lit(0L).as("j"), lit(0L).as("k")))
    val nk = ladder.join(broadcast(degHist), col("d") > col("k"), "left")
      .groupBy(col("j"), col("k")).agg(coalesce(sum(col("nd")), lit(0L)).as("n_k"))
    val ek = ladder.join(broadcast(edgeHist), col("md") > col("k"), "left")
      .groupBy(col("j"), col("k")).agg(coalesce(sum(col("ne")), lit(0L)).as("e_k"))
    nk.join(ek, Seq("j", "k"))
      .select(col("j"), col("k"), col("n_k"), col("e_k"),
        when(col("n_k") >= 2L,
          round(lit(2.0) * col("e_k").cast(DoubleType)
            / (col("n_k").cast(DoubleType)
              * (col("n_k") - lit(1L)).cast(DoubleType)), 6)).as("phi"))
      .orderBy(col("j"))
  }

  val q134RichClubSql: String =
    s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |und AS MATERIALIZED (
       |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |  FROM li a JOIN li b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
       |$coPurchaseDegCteSql,
       |dh AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS nd FROM deg GROUP BY 1),
       |eh AS (
       |  SELECT LEAST(ds.d, dd.d) AS md, CAST(COUNT(*) AS BIGINT) AS ne
       |  FROM und
       |  JOIN deg ds ON ds.node = und.src
       |  JOIN deg dd ON dd.node = und.dst
       |  GROUP BY 1),
       |cum AS (
       |  SELECT d, CAST(SUM(nd) OVER (ORDER BY d) AS BIGINT) AS cum,
       |    CAST(SUM(nd) OVER () AS BIGINT) AS n
       |  FROM dh),
       |js AS (SELECT CAST(unnest(range(1, $RichClubDeciles)) AS BIGINT) AS j),
       |th AS (
       |  SELECT j, MIN(d) AS k FROM js
       |  JOIN cum ON cum.cum >= (j * cum.n + ${RichClubDeciles - 1}) // $RichClubDeciles
       |  GROUP BY j),
       |ladder AS (
       |  SELECT j, k FROM th
       |  UNION ALL SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
       |nk AS (
       |  SELECT j, k, CAST(COALESCE(SUM(nd), 0) AS BIGINT) AS n_k
       |  FROM ladder LEFT JOIN dh ON dh.d > ladder.k GROUP BY j, k),
       |ek AS (
       |  SELECT j, k, CAST(COALESCE(SUM(ne), 0) AS BIGINT) AS e_k
       |  FROM ladder LEFT JOIN eh ON eh.md > ladder.k GROUP BY j, k)
       |SELECT j, k, n_k, e_k,
       |  CASE WHEN n_k >= 2 THEN
       |    ROUND(2.0 * CAST(e_k AS DOUBLE)
       |      / (CAST(n_k AS DOUBLE) * CAST(n_k - 1 AS DOUBLE)), 6) END AS phi
       |FROM nk JOIN ek USING (j, k)
       |ORDER BY j""".stripMargin

  // ---------------------------------------------------------------------
  // q135: Newman-Girvan modularity of the brand partition over the
  // undirected co-purchase graph (Newman & Girvan 2004) — "does the
  // catalog's brand taxonomy explain the purchase structure":
  //   Q = Σ_c [ e_c/m − (d_c/(2m))² ]
  // with e_c the intra-community edge count, d_c the total degree of
  // community c, m the edge count — the community-QUALITY metric that
  // closes the graph battery: q63/q115 rank nodes, q66/q82 count local
  // structure, q107/q134 read degree mixing, Q scores a PARTITION.
  // Communities here are p_brand (25-way, domain-bounded).
  //
  // Scale shape: the brand map and degree frame are node-sized and
  // BROADCAST onto the edge list (q66's idiom — edges never shuffle to
  // learn endpoint attributes); one hash aggregate collapses to the
  // |brands| frame and everything downstream (window sum, divisions)
  // is 25-row bounded.
  //
  // Exactness: per-community numerator 4·m·e_c − d_c² is pure integer
  // (DECIMAL(38,0); ≤ ~4e24 even at 1e12 edges), Q's numerator is an
  // exact integer SUM over communities (never a float accumulation),
  // and contribution/Q are each ONE double division by 4m², rounded
  // once — identical shape in DuckDB.
  // ---------------------------------------------------------------------
  def q135Modularity(spark: SparkSession, dir: String): DataFrame = {
    val und = undirectedCoPurchase(spark, dir)
    val comm = Tables.part(spark, dir)
      .select(col("p_partkey").as("node"), col("p_brand").as("comm"))
    modularityFrom(und, comm)
  }

  /** Modularity of any (node, comm) partition over any undirected
    * (src, dst) edge frame — spec entry point. Nodes outside the edge
    * set carry no degree and no edges, so they cannot shift Q.
    */
  private[graft] def modularityFrom(und: DataFrame, comm: DataFrame): DataFrame = {
    val d38 = DecimalType(38, 0)
    // the node-sized partition broadcasts while it is measured within the
    // limit (q153's checkpointed LPA labeling); q135's part-table
    // projection has no measure and is left to Catalyst's statistics
    val deg = degrees(und)
    val dc = deg.join(boundedBroadcast(comm), "node")
      .groupBy(col("comm"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("d")).as("d_c"))
    val ec = withEndpoints(und, comm, "comm", "cs", "cd")
      .filter(col("cs") === col("cd"))
      .groupBy(col("cs").as("comm")).agg(count(lit(1)).as("e_c"))
    val m = und.agg(count(lit(1)).as("m"))
    val wN = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val qn = (col("m").cast(d38) * lit(4L) * col("e_c")
      - col("d_c").cast(d38) * col("d_c"))
    val m2x4 = lit(4.0) * col("m").cast(DoubleType) * col("m").cast(DoubleType)
    dc.join(ec, Seq("comm"), "left")
      .na.fill(0L, Seq("e_c"))
      .crossJoin(broadcast(m))
      .withColumn("q_num", qn)
      .withColumn("q_num_sum", sum(col("q_num")).over(wN))
      .select(col("comm"), col("n_nodes"), col("d_c"), col("e_c"),
        round(col("q_num").cast(DoubleType) / m2x4, 6).as("contribution"),
        round(col("q_num_sum").cast(DoubleType) / m2x4, 6).as("q"))
      .orderBy(col("comm"))
  }

  val q135ModularitySql: String =
    s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |und AS MATERIALIZED (
      |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      |  FROM li a JOIN li b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |cm AS (SELECT p_partkey AS node, p_brand AS comm FROM part),
      |deg AS (
      |  SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
      |    SELECT src AS node FROM und UNION ALL SELECT dst FROM und)
      |  GROUP BY node),
      |$modularityReportSql""".stripMargin

  // ---------------------------------------------------------------------
  // q154: one Louvain local-move sweep (Blondel et al. 2008, the
  // synchronous/parallel variant) refining the brand partition q135
  // scores — the "improve the partition" step that closes the community
  // battery: q135 measures Q, this query RAISES it. Every node evaluates
  // moving to each NEIGHBOR community b; with m edges, k_i the node's
  // degree, k_{i,c} its edge count into community c, and d_c community
  // total degree, the move's exact modularity delta is
  //   ΔQ = [2m(k_{i,b} − k_{i,a}) − k_i(d_b − d_a + k_i)] / (2m²)
  // (a = current community, d_a counted WITH i, d_b without). Each node
  // takes its best strictly-positive move (gain DESC, community ASC —
  // a total order, so the sweep is deterministic), all moves apply
  // SYNCHRONOUSLY — the standard distributed-Louvain semantic: gains are
  // exact w.r.t. the pre-sweep partition, and concurrent moves can in
  // principle interact, so the post-sweep Q is REPORTED (recomputed
  // exactly), never assumed; GraphSpec pins the improvement on this
  // corpus (Q −0.0001 → +0.0065: the brand taxonomy explains almost no
  // purchase structure, one sweep finds some).
  //
  // Scale shape: gains live on the (node, neighbor-community) frame —
  // ≤ 2|E| rows, collapsed by the same hash aggregates q135 uses; the
  // community-total and brand-map lookups are |comms|- and node-sized
  // broadcasts (q66's idiom — edges never shuffle to learn endpoint
  // attributes); the best-move window partitions per node over its ≤
  // |comms| candidates. One sweep = a fixed number of edge-linear
  // passes; iterating sweeps (full Louvain) would wrap this in the
  // q63/q67 checkpoint loop.
  //
  // Exactness: gains are pure integers in DECIMAL(38,0)/HUGEINT (2m·k
  // ≤ 2m² stays inside 38 digits through 1e18 edges), the move set is a
  // deterministic argmax over a total order, and both Q readings reuse
  // q135's exact-integer-numerator / one-rounded-division shape.
  //
  // Why this refines the BRAND partition and not d65's topic components
  // (VERDICT r14 item 8 considered both): over a connected-components
  // partition every node's edges are all internal (k_{i,a} = k_i and no
  // neighbor community exists), so the only conceivable move is
  // isolation into a fresh community — whose gain is
  // k_i(d_a − k_i − 2m) < 0 ALWAYS (d_a ≤ 2m). A single-node local-move
  // sweep provably cannot change a components partition; splitting one
  // needs a different operator class (edge cutting / spectral), not
  // Louvain. The brand partition has inter-community edges everywhere,
  // so the sweep provably acts — and GraphPhashSpec shows it acting.
  // ---------------------------------------------------------------------
  def q154LouvainSweep(spark: SparkSession, dir: String): DataFrame =
    louvainSweepFrom(undirectedCoPurchase(spark, dir),
      Tables.part(spark, dir)
        .select(col("p_partkey").as("node"), col("p_brand").as("comm")))

  /** One sweep's shared computation under partition `comm` (restricted
    * to `deg`'s universe): the best strictly-positive move per node AND
    * the exact Q of `comm` itself, as a 1-row frame named `qName`.
    *
    * r18 shape: `kic` (edge-bounded) and `ctx` (node-sized) are
    * checkpointed, so one call reads the edge set ONCE and everything
    * downstream — community totals, the Q reading, the gains — runs on
    * the frozen frames. The Q arithmetic is [[modularityFrom]]'s
    * exactly: Σ_comm 4m·e_c = 2m·Σ_n k_{n,own} = 2m·Σ ctx.e_ia (each
    * intra-community edge counted at both endpoints), all sums in
    * DECIMAL(38,0), one double division rounded once — so the sweep's
    * Q readings cost no separate edge pass. The best-move election is
    * an argmin AGGREGATE of the (−gain, c) struct per node — a
    * map-side-combinable hash aggregate replacing the r17 row_number
    * window over the ≤2|E| gains frame; (gain, c) is unique per node,
    * so it picks exactly the window's (gain DESC, c ASC) rn = 1 row,
    * and the strict-positivity gate is `−gain < 0`.
    */
  private def louvainSweepCore(und: DataFrame, deg: DataFrame, m: DataFrame,
      comm: DataFrame, qName: String): (DataFrame, DataFrame) = {
    val d38 = DecimalType(38, 0)
    // edges annotated with both endpoint communities → k_{i,c}; the
    // node-sized partition broadcasts size-conditionally (r19 — these
    // were forced broadcast() hints, the exact 100×-scale OOM hazard
    // boundedBroadcast exists for)
    val ec2 = withEndpoints(und, comm, "comm", "cs", "cd")
    val kic = ec2.select(col("src").as("node"), col("cd").as("c"))
      .union(ec2.select(col("dst").as("node"), col("cs").as("c")))
      .groupBy(col("node"), col("c")).agg(count(lit(1)).as("k_ic"))
      .graftCheckpoint(true)
    val ctx = deg.join(boundedBroadcast(comm), "node")
      .join(kic.select(col("node"), col("c").as("comm"), col("k_ic").as("e_ia")),
        Seq("node", "comm"), "left")
      .na.fill(0L, Seq("e_ia"))
      .graftCheckpoint(true)
    val dc = ctx.groupBy("comm").agg(sum(col("d")).as("d_c"))
    val q = ctx.agg(sum(col("e_ia")).as("se"))
      .crossJoin(broadcast(dc.agg(sum(col("d_c").cast(d38) * col("d_c")).as("sd2"))))
      .crossJoin(broadcast(m))
      .select(round(
        (col("m").cast(d38) * lit(2L) * col("se") - col("sd2")).cast(DoubleType)
          / (lit(4.0) * col("m").cast(DoubleType) * col("m").cast(DoubleType)), 6)
        .as(qName))
    // r19 (VERDICT r18 item 1): the node-sized checkpointed ctx frame
    // broadcasts into the edge-bounded kic frame (size-conditionally) so
    // the gains join never re-shuffles kic per sweep; above the limit it
    // degrades to the old shuffle join
    val gains = boundedBroadcast(ctx).join(kic, "node")
      .filter(col("c") =!= col("comm"))
      // dc is per-community (≤ node-sized; 1 community per node in the
      // worst partition) — same size-conditional discipline (r19)
      .join(boundedBroadcast(dc.select(col("comm"), col("d_c").as("d_a"))), "comm")
      .join(boundedBroadcast(dc.select(col("comm").as("c"), col("d_c").as("d_b"))), "c")
      .crossJoin(broadcast(m))
      .withColumn("gain_num",
        lit(2L).cast(d38) * col("m") * (col("k_ic") - col("e_ia"))
          - col("d").cast(d38) * (col("d_b") - col("d_a") + col("d")))
    val moves = gains
      .groupBy(col("node"), col("comm"))
      .agg(min(struct((-col("gain_num")).as("ng"), col("c").as("c"))).as("b"))
      .filter(col("b.ng") < 0)
      .select(col("node"), col("comm").as("old_comm"), col("b.c").as("new_comm"))
    (moves, q)
  }

  /** One synchronous Louvain sweep of any (node, comm) partition over any
    * undirected (src, dst) edge frame — spec entry point. Nodes outside
    * the edge set carry no degree, propose no moves, and are excluded
    * from the report (q135's universe).
    */
  private[graft] def louvainSweepFrom(und: DataFrame, comm: DataFrame): DataFrame = {
    // Node-sized sweep state (deg, m, the degree-restricted partition)
    // is materialized ONCE — q151's checkpoint discipline brought to the
    // single-sweep form. Composed bare, every consumer re-derived
    // deg/dc/m from the edge set and the plan exploded to 1477 operators
    // / 534 Exchanges / 124 parquet scans (plans/r18/q154_*_before.txt);
    // checkpointed state cuts it to one edge-linear pass per aggregate
    // (optimization guide §2.4 — remove re-derived shuffles outright).
    // Q before/after ride the same checkpointed frames through the
    // 1-row [[modularityQFrame]] (arithmetic identical to
    // [[modularityFrom]]'s q column — oracle hash-checks it), instead of
    // two full per-community modularityFrom reports max-folded to the
    // same scalar.
    val deg = degrees(und).graftCheckpoint(true)
    val m = und.agg(count(lit(1)).as("m")).graftCheckpoint(true)
    val nodes = deg.join(boundedBroadcast(comm), "node")
      .graftCheckpoint(true) // node, d, comm
    val comm0 = nodes.select(col("node"), col("comm"))
    val dc = nodes.groupBy("comm").agg(count(lit(1)).as("n_before"))
    // the move set has three consumers (comm1, n_in, n_out) — one
    // materialization serves all (the q151 idiom); q_before rides the
    // core's own checkpointed context for free
    val (mv0, qBefore) = louvainSweepCore(und, deg, m, comm0, "q_before")
    val moves = Checkpoints.fresh(mv0, "node", "old_comm", "new_comm")
    // the post-move partition is checkpointed as q151's is, so the Q
    // reading's broadcasts of it are measured
    val comm1 = Checkpoints.fresh(comm0
      .join(moves.select(col("node"), col("new_comm")), Seq("node"), "left")
      .select(col("node"), coalesce(col("new_comm"), col("comm")).as("comm")),
      "node", "comm")
    val qAfter = modularityQFrame(und, deg, m, comm1, "q_after")
    val nIn = moves.groupBy(col("new_comm").as("comm")).agg(count(lit(1)).as("n_in"))
    val nOut = moves.groupBy(col("old_comm").as("comm")).agg(count(lit(1)).as("n_out"))
    dc.select(col("comm"), col("n_before"))
      .join(nIn, Seq("comm"), "left")
      .join(nOut, Seq("comm"), "left")
      .na.fill(0L, Seq("n_in", "n_out"))
      .crossJoin(broadcast(qBefore))
      .crossJoin(broadcast(qAfter))
      .select(col("comm"), col("n_before"), col("n_in"), col("n_out"),
        (col("n_before") + col("n_in") - col("n_out")).as("n_after"),
        col("q_before"), col("q_after"))
      .orderBy(col("comm"))
  }

  val q154LouvainSweepSql: String =
    s"""WITH $coPurchaseCtesSql,
      |cm AS (SELECT p_partkey AS node, p_brand AS comm FROM part),
      |$coPurchaseDegCteSql,
      |nodes AS MATERIALIZED (SELECT deg.node, deg.d, cm.comm FROM deg JOIN cm USING (node)),
      |dc AS MATERIALIZED (
      |  SELECT comm, CAST(COUNT(*) AS BIGINT) AS n_before, CAST(SUM(d) AS BIGINT) AS d_c
      |  FROM nodes GROUP BY 1),
      |mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM und),
      |ec2 AS MATERIALIZED (
      |  SELECT und.src, und.dst, cs.comm AS cs, cd.comm AS cd
      |  FROM und JOIN cm cs ON cs.node = und.src JOIN cm cd ON cd.node = und.dst),
      |kic AS MATERIALIZED (
      |  SELECT node, c, CAST(COUNT(*) AS BIGINT) AS k_ic FROM (
      |    SELECT src AS node, cd AS c FROM ec2 UNION ALL SELECT dst, cs FROM ec2)
      |  GROUP BY 1, 2),
      |ctx AS (
      |  SELECT n.node, n.d, n.comm, COALESCE(k.k_ic, 0) AS e_ia
      |  FROM nodes n LEFT JOIN kic k ON k.node = n.node AND k.c = n.comm),
      |gains AS (
      |  SELECT ctx.node, ctx.comm, k.c,
      |    CAST(2 AS HUGEINT) * mm.m * (k.k_ic - ctx.e_ia)
      |      - CAST(ctx.d AS HUGEINT) * (db.d_c - da.d_c + ctx.d) AS gain_num
      |  FROM ctx
      |  JOIN kic k ON k.node = ctx.node AND k.c <> ctx.comm
      |  JOIN dc da ON da.comm = ctx.comm
      |  JOIN dc db ON db.comm = k.c
      |  CROSS JOIN mm),
      |moves AS MATERIALIZED (
      |  SELECT node, comm AS old_comm, c AS new_comm FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY node
      |      ORDER BY gain_num DESC, c ASC) AS rn FROM gains) t
      |  WHERE rn = 1 AND gain_num > 0),
      |cm1 AS MATERIALIZED (
      |  SELECT n.node, COALESCE(mv.new_comm, n.comm) AS comm
      |  FROM nodes n LEFT JOIN moves mv USING (node)),
      |ecb AS (SELECT cs AS comm, CAST(COUNT(*) AS BIGINT) AS e_c FROM ec2
      |        WHERE cs = cd GROUP BY 1),
      |qb AS (
      |  SELECT ROUND(CAST(SUM(CAST(m AS HUGEINT) * 4 * COALESCE(e_c, 0)
      |      - CAST(d_c AS HUGEINT) * d_c) AS DOUBLE)
      |    / (4.0 * CAST(ANY_VALUE(m) AS DOUBLE) * CAST(ANY_VALUE(m) AS DOUBLE)), 6) AS q_before
      |  FROM dc LEFT JOIN ecb USING (comm) CROSS JOIN mm),
      |dc1 AS (
      |  SELECT c1.comm, CAST(SUM(deg.d) AS BIGINT) AS d_c
      |  FROM cm1 c1 JOIN deg USING (node) GROUP BY 1),
      |ec1 AS (
      |  SELECT a.comm, CAST(COUNT(*) AS BIGINT) AS e_c
      |  FROM und JOIN cm1 a ON a.node = und.src JOIN cm1 b ON b.node = und.dst
      |  WHERE a.comm = b.comm GROUP BY 1),
      |qa AS (
      |  SELECT ROUND(CAST(SUM(CAST(m AS HUGEINT) * 4 * COALESCE(e_c, 0)
      |      - CAST(d_c AS HUGEINT) * d_c) AS DOUBLE)
      |    / (4.0 * CAST(ANY_VALUE(m) AS DOUBLE) * CAST(ANY_VALUE(m) AS DOUBLE)), 6) AS q_after
      |  FROM dc1 LEFT JOIN ec1 USING (comm) CROSS JOIN mm),
      |ni AS (SELECT new_comm AS comm, CAST(COUNT(*) AS BIGINT) AS n_in FROM moves GROUP BY 1),
      |no AS (SELECT old_comm AS comm, CAST(COUNT(*) AS BIGINT) AS n_out FROM moves GROUP BY 1)
      |SELECT dc.comm, dc.n_before,
      |  COALESCE(ni.n_in, 0) AS n_in, COALESCE(no.n_out, 0) AS n_out,
      |  dc.n_before + COALESCE(ni.n_in, 0) - COALESCE(no.n_out, 0) AS n_after,
      |  qb.q_before, qa.q_after
      |FROM dc LEFT JOIN ni USING (comm) LEFT JOIN no USING (comm)
      |CROSS JOIN qb CROSS JOIN qa
      |ORDER BY comm""".stripMargin

  // ---------------------------------------------------------------------
  // q151: ITERATED Louvain — q154's sweep driven to a trajectory: sweep
  // k's gains are computed against the partition sweep k−1 produced, the
  // partition frame is localCheckpoint'd between sweeps (the q63/q67
  // iteration idiom — per-sweep plan depth stays O(1), and the
  // constraint-shedding [[Checkpoints.fresh]] lets the frozen frame be
  // joined twice per sweep), and each sweep reports (moves, Q before, Q
  // after). This is the actual Louvain phase-1 loop (Blondel et al. run
  // it to a fixed point before coarsening); three sweeps read −0.0002 →
  // 0.0144 at sf0.1 with a shrinking move count — the convergence
  // signal a pipeline watches. Ascent is NOT a theorem of the
  // synchronous variant (gains are exact only w.r.t. the pre-sweep
  // partition; at sf0.001 sweep 2 observably dips before sweep 3
  // recovers), which is precisely why each sweep's Q is recomputed
  // exactly and REPORTED rather than assumed.
  //
  // Scale shape per sweep = q154's (edge-linear aggregates, vocabulary
  // of |comms| broadcast); the only driver state is the 1-row Q scalar
  // and the move COUNT — both provably bounded. The oracle unrolls the
  // sweep CTE block once per sweep, every multiply-referenced stage
  // MATERIALIZED (the t98 lesson: DuckDB inlining would otherwise
  // expand the doubly-referenced chain exponentially).
  // ---------------------------------------------------------------------
  private val LouvainSweeps = 3

  /** Global Q of a partition, reusing the iteration's checkpointed
    * `deg`/`m` — one intra-edge pass per reading instead of
    * [[modularityFrom]]'s full per-community report (which would
    * recompute degrees on every one of the loop's 1 + sweeps calls).
    * The arithmetic is modularityFrom's exactly: integer q_num summed
    * in DECIMAL(38,0), ONE double division, round(…, 6) in Spark — so
    * the reading is bit-identical to q135/q154's q column.
    */
  private def modularityQ(und: DataFrame, deg: DataFrame, m: DataFrame,
      comm: DataFrame): Double =
    modularityQFrame(und, deg, m, comm, "q").head().getDouble(0)

  /** The same exact-integer Q reading as a LAZY 1-row frame, so a
    * single-plan consumer (q154's sweep report) can attach it by
    * broadcast crossJoin instead of a driver action.
    */
  private def modularityQFrame(und: DataFrame, deg: DataFrame, m: DataFrame,
      comm: DataFrame, out: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    val dc = deg.join(boundedBroadcast(comm), "node")
      .groupBy("comm").agg(sum(col("d")).as("d_c"))
    val ec = withEndpoints(und, comm, "comm", "cs", "cd")
      .filter(col("cs") === col("cd"))
      .groupBy(col("cs").as("comm")).agg(count(lit(1)).as("e_c"))
    dc.join(ec, Seq("comm"), "left")
      .na.fill(0L, Seq("e_c"))
      .crossJoin(broadcast(m))
      .agg(sum(col("m").cast(d38) * lit(4L) * col("e_c")
        - col("d_c").cast(d38) * col("d_c")).as("q_num_sum"),
        max(col("m")).as("m"))
      .select(round(col("q_num_sum").cast(DoubleType)
        / (lit(4.0) * col("m").cast(DoubleType) * col("m").cast(DoubleType)), 6)
        .as(out))
  }

  def q151LouvainIterate(spark: SparkSession, dir: String): DataFrame =
    louvainIterateFrom(spark, undirectedCoPurchase(spark, dir),
      Tables.part(spark, dir)
        .select(col("p_partkey").as("node"), col("p_brand").as("comm")),
      LouvainSweeps)

  /** Iterated sweeps over any edge frame / partition — spec entry point. */
  private[graft] def louvainIterateFrom(spark: SparkSession, und: DataFrame,
      brand: DataFrame, sweeps: Int): DataFrame = {
    val deg = degrees(und).graftCheckpoint(true)
    val m = und.agg(count(lit(1)).as("m")).graftCheckpoint(true)
    var comm = Checkpoints.fresh(
      deg.join(boundedBroadcast(brand), "node").select(col("node"), col("comm")),
      "node", "comm")
    // r18: each sweep's Q-before comes FREE from the core's checkpointed
    // context (one edge pass yields moves AND the exact Q of the input
    // partition), and sweep k's Q-after is sweep k+1's Q-before — so
    // `sweeps` core passes + ONE final modularityQ replace the r17
    // shape's `sweeps` move passes + `sweeps`+1 standalone Q passes.
    var (mvRaw, qFrame) = louvainSweepCore(und, deg, m, comm, "q")
    var mv = Checkpoints.fresh(mvRaw, "node", "old_comm", "new_comm")
    var qCur = qFrame.head().getDouble(0)
    val rows = Seq.newBuilder[(Int, Long, Double, Double)]
    for (k <- 1 to sweeps) {
      val nMoves = mv.count()
      comm = Checkpoints.fresh(
        comm.join(mv.select(col("node"), col("new_comm")), Seq("node"), "left")
          .select(col("node"), coalesce(col("new_comm"), col("comm")).as("comm")),
        "node", "comm")
      val qNext =
        if (k < sweeps) {
          val (nextMv, nextQ) = louvainSweepCore(und, deg, m, comm, "q")
          mv = Checkpoints.fresh(nextMv, "node", "old_comm", "new_comm")
          nextQ.head().getDouble(0)
        } else modularityQ(und, deg, m, comm)
      rows += ((k, nMoves, qCur, qNext))
      qCur = qNext
    }
    spark.createDataFrame(rows.result())
      .toDF("sweep", "n_moves", "q_before", "q_after")
      .orderBy(col("sweep"))
  }

  /** The q151 oracle: the sweep block unrolled [[LouvainSweeps]] times —
    * cm0 is the degree-restricted brand partition, cmK the partition
    * after sweep K, qvK its exact-integer modularity, mvK sweep K's
    * move set.
    */
  val q151LouvainIterateSql: String = {
    def sweep(k: Int): String = {
      val p = k - 1
      s"""kic$k AS MATERIALIZED (
         |  SELECT node, c, CAST(COUNT(*) AS BIGINT) AS k_ic FROM (
         |    SELECT src AS node, cd AS c FROM ec2_$p UNION ALL SELECT dst, cs FROM ec2_$p)
         |  GROUP BY 1, 2),
         |ctx$k AS (
         |  SELECT n.node, deg.d, n.comm, COALESCE(kk.k_ic, 0) AS e_ia
         |  FROM cm$p n JOIN deg USING (node)
         |  LEFT JOIN kic$k kk ON kk.node = n.node AND kk.c = n.comm),
         |gains$k AS (
         |  SELECT ctx$k.node, ctx$k.comm, k.c,
         |    CAST(2 AS HUGEINT) * mm.m * (k.k_ic - ctx$k.e_ia)
         |      - CAST(ctx$k.d AS HUGEINT) * (db.d_c - da.d_c + ctx$k.d) AS gain_num
         |  FROM ctx$k
         |  JOIN kic$k k ON k.node = ctx$k.node AND k.c <> ctx$k.comm
         |  JOIN dcq$p da ON da.comm = ctx$k.comm
         |  JOIN dcq$p db ON db.comm = k.c
         |  CROSS JOIN mm),
         |mv$k AS MATERIALIZED (
         |  SELECT node, c AS new_comm FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY node
         |      ORDER BY gain_num DESC, c ASC) AS rn FROM gains$k) t
         |  WHERE rn = 1 AND gain_num > 0),
         |cm$k AS MATERIALIZED (
         |  SELECT n.node, COALESCE(mv.new_comm, n.comm) AS comm
         |  FROM cm$p n LEFT JOIN mv$k mv USING (node))""".stripMargin
    }
    def q(k: Int): String =
      s"""ec2_$k AS MATERIALIZED (
         |  SELECT und.src, und.dst, cs.comm AS cs, cd.comm AS cd
         |  FROM und JOIN cm$k cs ON cs.node = und.src JOIN cm$k cd ON cd.node = und.dst),
         |dcq$k AS MATERIALIZED (
         |  SELECT comm, CAST(SUM(deg.d) AS BIGINT) AS d_c
         |  FROM cm$k JOIN deg USING (node) GROUP BY 1),
         |qv$k AS (
         |  SELECT ROUND(CAST(SUM(CAST(m AS HUGEINT) * 4 * COALESCE(e_c, 0)
         |      - CAST(d_c AS HUGEINT) * d_c) AS DOUBLE)
         |    / (4.0 * CAST(ANY_VALUE(m) AS DOUBLE) * CAST(ANY_VALUE(m) AS DOUBLE)), 6) AS q
         |  FROM dcq$k LEFT JOIN (
         |    SELECT cs AS comm, CAST(COUNT(*) AS BIGINT) AS e_c FROM ec2_$k
         |    WHERE cs = cd GROUP BY 1) e USING (comm) CROSS JOIN mm)""".stripMargin
    val blocks = (0 to LouvainSweeps).flatMap { k =>
      (if (k > 0) Seq(sweep(k)) else Nil) :+ q(k)
    }.mkString(",\n")
    val rows = (1 to LouvainSweeps).map { k =>
      s"""SELECT $k AS sweep,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM mv$k) AS n_moves,
         |  qv${k - 1}.q AS q_before, qv$k.q AS q_after
         |FROM qv${k - 1} CROSS JOIN qv$k""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $coPurchaseCtesSql,
       |$coPurchaseDegCteSql,
       |mm AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM und),
       |cm0 AS MATERIALIZED (
       |  SELECT deg.node, p.p_brand AS comm FROM deg
       |  JOIN part p ON p.p_partkey = deg.node),
       |$blocks
       |$rows
       |ORDER BY sweep""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q152: synchronous label propagation (Raghavan et al. 2007; GraphX's
  // LabelPropagation shape) — the OTHER canonical distributed community
  // detector, complementing the Louvain pair: no objective function,
  // just message passing. Every node starts as its own label; each
  // round, every node adopts its neighbors' most frequent label (count
  // DESC, label ASC — the deterministic tie-break replacing the
  // paper's random one, same discipline as t68's pair election).
  // LpaRounds synchronous rounds, unrolled with a localCheckpoint per
  // round (the q63/q67 idiom).
  //
  // Scale shape: one round = one shuffle join (labels onto the directed
  // neighbor list) + one (node, label) hash aggregate + a per-node
  // argmax AGGREGATE (max over the (cnt, −label) struct — r18, was a
  // row_number window that re-shuffled and sorted per node) — the
  // PageRank message-passing class, O(|E|) per round, no driver state
  // at all. The argmax is per node (never global). This
  // is the community detector that actually runs at 100 TB: no
  // modularity bookkeeping, no community-total broadcasts — labels ride
  // the edges. q135's modularityFrom can score the result; q154/q151
  // can refine it.
  // ---------------------------------------------------------------------
  private val LpaRounds = 3

  /** The converged (node, label) frame after [[LpaRounds]] synchronous
    * rounds over `und` — q152 publishes it per node, q153 scores it.
    */
  private def lpaLabels(und: DataFrame): DataFrame = {
    val nb = und.select(col("src").as("node"), col("dst").as("nbr"))
      .union(und.select(col("dst").as("node"), col("src").as("nbr")))
      .graftCheckpoint(true)
    var lbl = nb.select(col("node")).distinct()
      .select(col("node"), col("node").as("label")).graftCheckpoint(true)
    for (_ <- 1 to LpaRounds) {
      // r18: the per-node argmax (count DESC, label ASC) is a MAX over
      // the lexicographic struct (cnt, −label) — one more map-side-
      // combinable hash aggregate instead of the row_number window,
      // which re-shuffled the (node, label) frame onto node partitions
      // and sorted each (guide §2.4: two ops keyed alike share one
      // exchange — and an aggregate needs no sort at all). Election
      // identical: (cnt, label) is unique per node, labels are
      // non-negative part keys, so max(cnt, −label) picks exactly the
      // window's rn = 1 row.
      // r19: the node-sized label state broadcasts (size-conditionally,
      // [[boundedBroadcast]]) so the checkpointed edge-scale `nb` frame is
      // never re-shuffled per round (guide §3.1) — above the limit the
      // same plan degrades to a shuffle join on nbr and the edges still
      // move only once per round.
      lbl = nb.join(boundedBroadcast(lbl.select(col("node").as("nbr"), col("label"))), "nbr")
        .groupBy(col("node"), col("label")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("node"))
        .agg(max(struct(col("cnt"), (-col("label")).as("nl"))).as("m"))
        .select(col("node"), (-col("m.nl")).as("label"))
        .graftCheckpoint(true)
    }
    lbl
  }

  def q152LabelPropagation(spark: SparkSession, dir: String): DataFrame =
    lpaLabels(undirectedCoPurchase(spark, dir))
      .withColumn("n_members",
        count(lit(1)).over(Window.partitionBy(col("label"))))
      .orderBy(col("node"))

  /** q152's label-propagation rounds over `und`: `l$LpaRounds` holds
    * each node's final label.
    */
  private val lpaCtesSql: String = {
    def round(k: Int): String =
      s"""l$k AS MATERIALIZED (
         |  SELECT node, label FROM (
         |    SELECT nb.node, l.label,
         |      ROW_NUMBER() OVER (PARTITION BY nb.node
         |        ORDER BY COUNT(*) DESC, l.label ASC) AS rn
         |    FROM nb JOIN l${k - 1} l ON l.node = nb.nbr
         |    GROUP BY nb.node, l.label) t
         |  WHERE rn = 1)""".stripMargin
    s"""$coPurchaseCtesSql,
       |nb AS MATERIALIZED (
       |  SELECT src AS node, dst AS nbr FROM und UNION ALL SELECT dst, src FROM und),
       |l0 AS MATERIALIZED (SELECT DISTINCT node, node AS label FROM nb),
       |${(1 to LpaRounds).map(round).mkString(",\n")}""".stripMargin
  }

  val q152LabelPropagationSql: String = {
    s"""WITH $lpaCtesSql
       |SELECT node, label,
       |  CAST(COUNT(*) OVER (PARTITION BY label) AS BIGINT) AS n_members
       |FROM l$LpaRounds ORDER BY node""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q153: the LPA partition SCORED — q152's converged labels fed through
  // q135's exact modularity report, closing the detect→score loop the
  // community battery is built around (and the t69/c74 composition
  // discipline: the oracle NESTS the full propagation chain inside the
  // modularity formula, so detector → evaluator is hash-checked
  // end-to-end as one artifact). On this graph LPA's discovered
  // partition scores far above the brand taxonomy's ≈0 — the number
  // that justifies running discovery at all.
  //
  // Scale shape: q152's rounds + q135's one intra-edge pass and
  // |labels|-bounded report; nothing new moves.
  // ---------------------------------------------------------------------
  def q153LpaModularity(spark: SparkSession, dir: String): DataFrame = {
    val und = undirectedCoPurchase(spark, dir)
    modularityFrom(und,
      lpaLabels(und).select(col("node"), col("label").as("comm")))
  }

  val q153LpaModularitySql: String = {
    s"""WITH $lpaCtesSql,
       |cm AS MATERIALIZED (SELECT node, label AS comm FROM l$LpaRounds),
       |$coPurchaseDegCteSql,
       |$modularityReportSql""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef.sql("q63_pagerank", q63PageRank _, q63PageRankSql),
    QueryDef.sql("q134_rich_club", q134RichClub _, q134RichClubSql),
    QueryDef.sql("q135_modularity", q135Modularity _, q135ModularitySql),
    QueryDef.sql("q154_louvain_sweep", q154LouvainSweep _, q154LouvainSweepSql),
    QueryDef.sql("q151_louvain_iterate", q151LouvainIterate _, q151LouvainIterateSql),
    QueryDef.sql("q152_label_propagation", q152LabelPropagation _, q152LabelPropagationSql),
    QueryDef.sql("q153_lpa_modularity", q153LpaModularity _, q153LpaModularitySql),
    QueryDef.sql("q115_hits", q115Hits _, q115HitsSql),
    QueryDef.sql("q116_kcore", q116KCore _, q116KCoreSql),
    QueryDef.sql("q107_assortativity", q107Assortativity _, q107AssortativitySql),
    QueryDef.sql("q66_triangles", q66Triangles _, q66TrianglesSql),
    QueryDef.sql("q67_khop_reach", q67KHopReach _, q67KHopReachSql),
    QueryDef.sql("q82_clustering_coeff", q82ClusteringCoeff _, q82ClusteringCoeffSql),
    QueryDef.sql("q87_weighted_path", q87WeightedPath _, q87WeightedPathSql),
  )
}
