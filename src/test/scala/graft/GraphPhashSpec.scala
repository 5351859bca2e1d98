package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Graph, Multimodal}

/** q63 fixed-point PageRank and m64 perceptual-hash candidates. */
class GraphPhashSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.builder("local[4]", 4).getOrCreate()
  val dir = "/root/testdata/sf0.001"

  test("q63 conserves mass within the floor-loss bound; base rank is the floor") {
    val ranks = Graph.q63PageRank(spark, dir).collect().map(r => (r.getLong(0), r.getLong(1)))
    val n = ranks.length
    assert(n > 0)
    val S = 1000000000000L
    val mass = ranks.map(_._2).sum
    // each floor division loses < 1 unit per (edge, iteration) + per-node base;
    // the loss is bounded far below 1% of S
    assert(mass <= S && mass > S - S / 100, s"mass $mass vs scale $S")
    // every node holds at least the teleport base share
    val base = S * 15 / (100 * n)
    assert(ranks.forall(_._2 >= base))
    // ranks must differentiate (a uniform vector means the flow did nothing)
    assert(ranks.map(_._2).distinct.length > 1)
  }

  test("q66 degree-ordered orientation: exact edge bijection and √(2m) out-degree cap") {
    val (und, or) = Graph.orientedCoPurchase(spark, dir)
    val m = und.count()
    // orientation is a bijection on edges — nothing dropped or duplicated
    assert(or.count() == m)
    val maxOut = or.groupBy("u").count().agg(max("count")).head().getLong(0)
    val cap = math.ceil(math.sqrt(2.0 * m)).toLong
    // the hub-taming property the 100 TB wedge join relies on: if a node
    // had out-degree k, its k out-neighbors each have degree ≥ k, so
    // k(k+1)/2 ≤ m ⇒ k ≤ √(2m)
    assert(maxOut <= cap, s"max oriented out-degree $maxOut exceeds √(2m)=$cap")
    val maxUndirected = und.select(col("src").as("n"))
      .union(und.select(col("dst").as("n")))
      .groupBy("n").count().agg(max("count")).head().getLong(0)
    assert(maxOut < maxUndirected,
      s"orientation should tame hubs: out $maxOut !< undirected $maxUndirected")
  }

  test("q67 frontiers partition the reachable set: disjoint, and sum ≤ |V|") {
    val rows = Graph.q67KHopReach(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    assert(rows.map(_._1).sameElements(0 to 3))
    val nParts = Tables.lineitem(spark, dir).select("l_partkey").distinct().count()
    // new-node counts are an anti-joined partition of reachable nodes —
    // their sum can never exceed the vertex count
    assert(rows.map(_._2).sum <= nParts)
    assert(rows.head._2 > 0, "seed set must be non-empty at every SF")
  }

  test("q63 rank order is stable across thread counts") {
    val a = Graph.q63PageRank(spark, dir).collect().map(r => (r.getLong(0), r.getLong(1)))
    val b = Graph.q63PageRank(spark, dir).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(a.sameElements(b))
  }

  test("m64 candidates share a band by construction and the strict bar stays honest") {
    val rows = Multimodal.m64PhashCandidates(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty, "banding found no candidates — join shape broken")
    assert(rows.forall { case (a, b, h) => a < b && h >= 0 && h <= 64 })
    // fake-image corpus: no candidate clears a strict visual-dup bar —
    // the report must not be vacuously 'all duplicates'
    assert(rows.forall(_._3 > 6), "unexpected near-identical pair in synthetic corpus")
  }

  test("m64 pigeonhole: byte-identical twins collide on every band, hamming 0") {
    import spark.implicits._
    val planted = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "zzz completely different payload with other characters zzzz a")
    ).toDF("media_id", "text")
    val rows = Multimodal.phashCandidatesFrom(planted).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.contains((1L, 2L, 0L)), s"twins must collide with hamming 0: ${rows.toSeq}")
    assert(!rows.exists { case (a, b, h) => Set(a, b) != Set(1L, 2L) && h == 0 },
      "distinct payloads must not report hamming 0")
  }

  // ---------------------------------------------------------------- q134
  test("q134 rich-club: planted hub clique reads phi=1; j=0 anchors whole-graph density") {
    import spark.implicits._
    // 5-hub clique (10 edges), each hub with 6 pendant leaves: deg(hub)=10,
    // deg(leaf)=1, 35 nodes / 40 edges total
    val hubs = for (a <- 1 to 5; b <- (a + 1) to 5) yield (a.toLong, b.toLong)
    val leaves = for (h <- 1 to 5; l <- 0 until 6)
      yield (h.toLong, (100 + h * 10 + l).toLong)
    val got = Graph.richClubFrom(spark, (hubs ++ leaves).toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got.size == 10)
    // j=0: whole graph, phi = 2*40/(35*34)
    assert(got(0L).getLong(2) == 35 && got(0L).getLong(3) == 40)
    assert(math.abs(got(0L).getDouble(4) - 80.0 / (35.0 * 34.0)) < 1e-6)
    // j=8: target=ceil(8*35/10)=28 ≤ 30 leaves → k=1 → club = 5 hubs, a clique
    assert(got(8L).getLong(1) == 1 && got(8L).getLong(2) == 5
      && got(8L).getLong(3) == 10 && got(8L).getDouble(4) == 1.0)
    // j=9: target=32 lands on the hub degree → empty >k club → guarded null
    assert(got(9L).getLong(2) == 0 && got(9L).isNullAt(4))
  }

  test("q134 matches a naive ladder recompute on sf0.001") {
    val (und, _) = Graph.orientedCoPurchase(spark, dir)
    val edges = und.collect().map(r => (r.getLong(0), r.getLong(1)))
    val degm = (edges.map(_._1) ++ edges.map(_._2)).groupBy(identity)
      .map { case (k, v) => k -> v.length.toLong }
    val n = degm.size.toLong
    val degs = degm.values.toSeq.sorted
    val ladder = (0L, 0L) +: (1L to 9L).map { j =>
      val target = (j * n + 9) / 10
      j -> degs((target - 1).toInt)
    }
    val want = ladder.map { case (j, k) =>
      val nk = degm.values.count(_ > k).toLong
      val ek = edges.count { case (a, b) => degm(a) > k && degm(b) > k }.toLong
      val phi = if (nk >= 2)
        Some(BigDecimal(2.0 * ek / (nk.toDouble * (nk - 1).toDouble))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      else None
      j -> ((k, nk, ek, phi))
    }.toMap
    val got = Graph.q134RichClub(spark, dir).collect().map { r =>
      r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4))))
    }.toMap
    assert(got == want, s"got $got\nwant $want")
  }

  // ---------------------------------------------------------------- q135
  test("q135 modularity: clique-aligned partition reads 0.5, odd/even anti-partition -0.1") {
    import spark.implicits._
    val c1 = for (a <- 1 to 5; b <- (a + 1) to 5) yield (a.toLong, b.toLong)
    val c2 = for (a <- 6 to 10; b <- (a + 1) to 10) yield (a.toLong, b.toLong)
    val und = (c1 ++ c2).toDF("src", "dst")
    // communities = the cliques: e_c=10, d_c=20, m=20 → per-clique 0.25, Q=0.5
    val aligned = (1 to 10).map(i => (i.toLong, if (i <= 5) "A" else "B"))
      .toDF("node", "comm")
    val ga = Graph.modularityFrom(und, aligned).collect()
    assert(ga.map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getDouble(4), r.getDouble(5))).toSet ==
      Set(("A", 5L, 20L, 10L, 0.25, 0.5), ("B", 5L, 20L, 10L, 0.25, 0.5)))
    // communities cutting across both cliques: e_c=4 each → Q = -0.1
    val anti = (1 to 10).map(i => (i.toLong, if (i % 2 == 1) "O" else "E"))
      .toDF("node", "comm")
    val gb = Graph.modularityFrom(und, anti).collect()
    assert(gb.forall(r => r.getDouble(5) == -0.1), gb.mkString(","))
  }

  test("q135 matches a naive recompute on sf0.001") {
    val (und, _) = Graph.orientedCoPurchase(spark, dir)
    val edges = und.collect().map(r => (r.getLong(0), r.getLong(1)))
    val brand = Tables.part(spark, dir).select("p_partkey", "p_brand").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val m = edges.length.toLong
    val degm = (edges.map(_._1) ++ edges.map(_._2)).groupBy(identity)
      .map { case (k, v) => k -> v.length.toLong }
    val dc = degm.toSeq.groupBy { case (n, _) => brand(n) }
      .map { case (c, xs) => c -> ((xs.length.toLong, xs.map(_._2).sum)) }
    val ec = edges.filter { case (a, b) => brand(a) == brand(b) }
      .groupBy { case (a, _) => brand(a) }.map { case (c, xs) => c -> xs.length.toLong }
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val qn = dc.map { case (c, (_, d)) =>
      c -> (BigInt(4) * m * BigInt(ec.getOrElse(c, 0L)) - BigInt(d) * d)
    }
    val qTot = r6(qn.values.sum.toDouble / (4.0 * m.toDouble * m.toDouble))
    val want = dc.map { case (c, (nn, d)) =>
      c -> ((nn, d, ec.getOrElse(c, 0L),
        r6(qn(c).toDouble / (4.0 * m.toDouble * m.toDouble)), qTot))
    }
    val got = Graph.q135Modularity(spark, dir).collect().map { r =>
      r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5)))
    }.toMap
    assert(got == want, s"got $got\nwant $want")
  }

  // ---------------------------------------------------------------- q154
  test("q154 sweep: a planted misfit clique node takes the one positive move") {
    import spark.implicits._
    val c1 = for (a <- 1 to 5; b <- (a + 1) to 5) yield (a.toLong, b.toLong)
    val c2 = for (a <- 6 to 10; b <- (a + 1) to 10) yield (a.toLong, b.toLong)
    val und = (c1 ++ c2).toDF("src", "dst")
    // node 6 (clique B) mislabeled into A. Hand gains (m=20, k=4,
    // d_A=24, d_B=16): node 6 → B: 2·20·(4−0) − 4·(16−24+4) = 176 > 0;
    // every clique-A node sees no foreign community (k_{i,B}=0 rows
    // don't exist); every B-labeled node moving to A: 2·20·(1−3) −
    // 4·(24−16+4) = −128 < 0. Exactly one move; partition becomes the
    // clique alignment: Q 0.28 → 0.5.
    val planted = (1 to 10).map(i => (i.toLong, if (i <= 6) "A" else "B"))
      .toDF("node", "comm")
    val got = Graph.louvainSweepFrom(und, planted).collect().map { r =>
      r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6)))
    }.toMap
    assert(got == Map(
      "A" -> ((6L, 0L, 1L, 5L, 0.28, 0.5)),
      "B" -> ((4L, 1L, 0L, 5L, 0.28, 0.5))), got.toString)
  }

  test("q154 sweep: concurrent moves reassemble both cliques from the anti-partition") {
    import spark.implicits._
    val c1 = for (a <- 1 to 5; b <- (a + 1) to 5) yield (a.toLong, b.toLong)
    val c2 = for (a <- 6 to 10; b <- (a + 1) to 10) yield (a.toLong, b.toLong)
    val und = (c1 ++ c2).toDF("src", "dst")
    // odd/even labels cut both cliques. Hand gains (m=20, d_O=d_E=20,
    // k=4): a node with a 2/2 odd-even neighbor split gains −k² < 0 and
    // stays (1,3,5,6,8,10); a node with a 3/1 split toward the foreign
    // label gains 2·20·(3−1) − 4·4 = 64 > 0 and crosses (2,4 → O;
    // 7,9 → E). The four SYNCHRONOUS moves cooperate: O becomes clique
    // one, E clique two — Q rises from the anti-partition's −0.1 to the
    // alignment's 0.5 in one sweep.
    val anti = (1 to 10).map(i => (i.toLong, if (i % 2 == 1) "O" else "E"))
      .toDF("node", "comm")
    val got = Graph.louvainSweepFrom(und, anti).collect().map { r =>
      r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6)))
    }.toMap
    assert(got == Map(
      "O" -> ((5L, 2L, 2L, 5L, -0.1, 0.5)),
      "E" -> ((5L, 2L, 2L, 5L, -0.1, 0.5))), got.toString)
  }

  test("q151 iterate: the anti-partition converges to the clique optimum and stays fixed") {
    import spark.implicits._
    val c1 = for (a <- 1 to 5; b <- (a + 1) to 5) yield (a.toLong, b.toLong)
    val c2 = for (a <- 6 to 10; b <- (a + 1) to 10) yield (a.toLong, b.toLong)
    val und = (c1 ++ c2).toDF("src", "dst")
    val anti = (1 to 10).map(i => (i.toLong, if (i % 2 == 1) "O" else "E"))
      .toDF("node", "comm")
    val got = Graph.louvainIterateFrom(spark, und, anti, 3).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSeq
    // sweep 1 reassembles the cliques (the q154 pin); sweeps 2 and 3 are
    // the fixed point: zero moves, Q pinned at the 0.5 optimum
    assert(got == Seq((1, 4L, -0.1, 0.5), (2, 0L, 0.5, 0.5), (3, 0L, 0.5, 0.5)), got)
  }

  test("q151 on the corpus: Q trajectory chains, first sweep gains, moves shrink") {
    val rows = Graph.q151LouvainIterate(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSeq
    assert(rows.map(_._1) == Seq(1, 2, 3))
    rows.sliding(2).foreach { case Seq(a, b) =>
      assert(b._3 == a._4, "each sweep's q_before must chain from the prior q_after")
      assert(b._2 <= a._2, "the move count must not grow on this graph")
    }
    // only the FIRST sweep's gain is pinned: synchronous moves are
    // exact w.r.t. the pre-sweep partition, so later sweeps can
    // oscillate (observed at sf0.001: sweep 2 reads Q down 0.0025 →
    // 0.0018 while sweep 3 recovers) — exactly why the operator
    // REPORTS the recomputed trajectory instead of assuming ascent
    assert(rows.head._4 > rows.head._3,
      s"the first sweep must raise Q here: $rows")
  }

  // ---------------------------------------------------------------- q152
  test("q152 LPA: two cliques converge to their min-id labels by hand-traced rounds") {
    import spark.implicits._
    // trace: round 1 — every neighbor label is distinct (count 1), so
    // each node takes its SMALLEST neighbor id: clique one becomes
    // {1→2, others→1}, clique two {6→7, others→6}; round 2 — majority
    // flips the two strays back (node 1 sees 1,1,1,1; node 6 sees
    // 6,6,6,6); round 3 — fixed point. Final: labels 1 and 6, 5 members
    // each.
    val c1 = for (a <- 1 to 5; b <- (a + 1) to 5) yield (a.toLong, b.toLong)
    val c2 = for (a <- 6 to 10; b <- (a + 1) to 10) yield (a.toLong, b.toLong)
    val d = java.nio.file.Files.createTempDirectory("graft-lpa").toString
    // q152 reads lineitem: encode the two cliques as (orderkey=edge id,
    // partkey=endpoint) pairs — each order holds exactly one edge
    (c1 ++ c2).zipWithIndex
      .flatMap { case ((a, b), i) => Seq((i.toLong, a), (i.toLong, b)) }
      .toDF("l_orderkey", "l_partkey")
      .coalesce(1).write.parquet(s"$d/lineitem.parquet")
    val got = graft.operators.Graph.q152LabelPropagation(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == ((1 to 5).map(i => (i.toLong, 1L, 5L))
      ++ (6 to 10).map(i => (i.toLong, 6L, 5L))), got)
  }

  test("q152 on the corpus: labels partition the node set and name member nodes") {
    val rows = Graph.q152LabelPropagation(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val nodes = rows.map(_._1).toSet
    assert(rows.map(_._1).length == nodes.size, "one label per node")
    assert(rows.map(_._2).toSet.subsetOf(nodes), "labels are member node ids")
    val sizes = rows.groupBy(_._2).map { case (l, xs) => l -> xs.length.toLong }
    assert(rows.forall(r => sizes(r._2) == r._3), "n_members must be exact")
  }

  test("q153 on the planted cliques: LPA's partition scores the 0.5 optimum") {
    import spark.implicits._
    val c1 = for (a <- 1 to 5; b <- (a + 1) to 5) yield (a.toLong, b.toLong)
    val c2 = for (a <- 6 to 10; b <- (a + 1) to 10) yield (a.toLong, b.toLong)
    val d = java.nio.file.Files.createTempDirectory("graft-lpa-q").toString
    (c1 ++ c2).zipWithIndex
      .flatMap { case ((a, b), i) => Seq((i.toLong, a), (i.toLong, b)) }
      .toDF("l_orderkey", "l_partkey")
      .coalesce(1).write.parquet(s"$d/lineitem.parquet")
    val got = Graph.q153LpaModularity(spark, d).collect().map { r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5))
    }.toSet
    // LPA converges to labels {1, 6} (the q152 trace); the clique
    // alignment scores e_c=10, d_c=20, m=20 → 0.25 each, Q=0.5
    assert(got == Set((1L, 5L, 20L, 10L, 0.25, 0.5),
      (6L, 5L, 20L, 10L, 0.25, 0.5)), got.toString)
  }

  test("q153 on the corpus: discovery outscores the brand taxonomy") {
    val lpaQ = Graph.q153LpaModularity(spark, dir).collect()
    val brandQ = Graph.q135Modularity(spark, dir).collect().head.getDouble(5)
    assert(lpaQ.nonEmpty)
    val q = lpaQ.head.getDouble(5)
    assert(lpaQ.forall(r => r.getDouble(5) == q), "q is a global reading")
    assert(q > brandQ,
      s"LPA's discovered partition ($q) must outscore the brand taxonomy ($brandQ)")
  }

  test("q154 on the corpus: the sweep conserves nodes and raises Q") {
    val rows = Graph.q154LouvainSweep(spark, dir).collect()
    assert(rows.nonEmpty)
    val qb = rows.head.getDouble(5)
    val qa = rows.head.getDouble(6)
    assert(rows.forall(r => r.getDouble(5) == qb && r.getDouble(6) == qa))
    assert(qa > qb, s"one sweep must raise Q here: $qb -> $qa")
    assert(rows.map(_.getLong(1)).sum == rows.map(_.getLong(4)).sum,
      "moves must conserve the node mass")
    assert(rows.forall(r => r.getLong(4) == r.getLong(1) + r.getLong(2) - r.getLong(3)))
  }
}
