package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Vectors
import graft.operators.{BucketGuard, Dedup, Similarity}

class DedupSimilaritySpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.builder("local[4]", 4).getOrCreate()
  val dir = "/root/testdata/sf0.001"

  test("vec_cosine/vec_dot native expressions: known values and null handling") {
    Vectors.register(spark)
    import spark.implicits._
    val df = Seq(
      (Array(1.0f, 2.0f), Array(2.0f, 1.0f)),
      (Array(1.0f, 0.0f), Array(1.0f, 0.0f)),
      (Array(0.0f, 0.0f), Array(1.0f, 1.0f))).toDF("a", "b")
    val rows = df.select(
      Vectors.vecDot(col("a"), col("b")).as("dot"),
      Vectors.vecCosine(col("a"), col("b")).as("cos")).collect()
    assert(rows(0).getDouble(0) == 4.0)
    assert(math.abs(rows(0).getDouble(1) - 0.8) < 1e-12)
    assert(rows(1).getDouble(1) == 1.0)
    assert(rows(2).isNullAt(1), "zero-norm vector → null cosine, not NaN")
    // SQL surface works too
    assert(spark.sql("SELECT vec_dot(array(1.0f,1.0f), array(2.0f,3.0f))")
      .collect()(0).getDouble(0) == 5.0)
  }

  test("vec_cosine matches an independent scala computation on real data") {
    Vectors.register(spark)
    val rows = Tables.embeddings(spark, dir).limit(20).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val expected = {
      val (idA, a) = rows(0); val (idB, b) = rows(1)
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
      (idA, idB, dot / (na * nb))
    }
    val e = Tables.embeddings(spark, dir)
    val got = e.as("a").join(e.as("b"),
        col("a.vec_id") === expected._1 && col("b.vec_id") === expected._2)
      .select(Vectors.vecCosine(col("a.embedding"), col("b.embedding")))
      .collect()(0).getDouble(0)
    assert(math.abs(got - expected._3) < 1e-12)
  }

  test("minhash estimate correlates with exact jaccard on near-dup pairs") {
    val exact = Dedup.d41NgramJaccard(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    val est = Dedup.d42MinhashLsh(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(exact.nonEmpty, "testdata should contain planted near-dups")
    // every strongly-similar pair (J>=0.7) must be found by LSH with a
    // sane estimate (32 hashes → sd ~ 0.08)
    val strong = exact.filter(_._2 >= 0.7)
    assert(strong.nonEmpty)
    strong.foreach { case (pair, j) =>
      assert(est.contains(pair), s"LSH missed strong pair $pair (J=$j)")
      assert(math.abs(est(pair) - j) <= 0.3, s"estimate off: ${est(pair)} vs $j")
    }
  }

  test("simhash finds the planted near-dup pairs found by exact jaccard") {
    val exact = Dedup.d41NgramJaccard(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sim = Dedup.d43Simhash(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sim.nonEmpty, "simhash should fire on planted near-dups")
    // simhash(ham<=4 of 60 bits) is stricter than J>=0.5; it must not
    // invent pairs the exact measure rejects outright
    val invented = sim -- exact
    assert(invented.isEmpty, s"simhash-only pairs (suspicious): $invented")
  }

  test("LSH ANN achieves useful recall against brute force") {
    val brute = Similarity.q30AnnBrute(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val lsh = Similarity.q31AnnLsh(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (brute intersect lsh).size.toDouble / brute.size
    info(f"LSH recall@5 = $recall%.2f (${lsh.size} returned)")
    assert(recall >= 0.4, f"recall@5 $recall%.2f below floor")
  }

  test("corpus-wide LSH near-dup is a subset of exact pairs with good recall") {
    val exact = Dedup.d44EmbeddingNearDup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.q32CorpusNearDup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    // the exact-cosine re-rank guarantees precision 1.0: every returned
    // pair must also pass the exact >=0.4 filter
    val invented = lsh -- exact
    assert(invented.isEmpty, s"LSH returned pairs below the exact threshold: $invented")
    val recall = (exact intersect lsh).size.toDouble / exact.size
    info(f"corpus near-dup recall = $recall%.2f (${lsh.size}/${exact.size})")
    assert(recall >= 0.6, f"recall $recall%.2f below floor 0.6")
  }

  test("IVF ANN achieves useful recall and only broadcasts centroids/probes") {
    val brute = Similarity.q30AnnBrute(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = Similarity.q34AnnIvf(spark, dir)
    val got = ivf.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (brute intersect got).size.toDouble / brute.size
    info(f"IVF recall@5 = $recall%.2f (${got.size} returned)")
    assert(recall >= 0.4, f"recall@5 $recall%.2f below floor")
    // the corpus is never broadcast: every BroadcastExchange in the plan
    // builds on the (filtered) centroid/probe side, not the full scan
    val plan = ivf.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"))
  }

  test("IVF-SQ8 recall meets the IVF floor; candidates score integer-exact") {
    val brute = Similarity.q30AnnBrute(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val df = Similarity.q48AnnIvfSq8(spark, dir)
    val rows = df.collect()
    val got = rows.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (brute intersect got).size.toDouble / brute.size
    info(f"IVF-SQ8 recall@5 = $recall%.2f (${got.size} returned)")
    assert(recall >= 0.4, f"recall@5 $recall%.2f below the q34 floor")
    // scores are exact integer dots — a LongType column, no rounding
    assert(df.schema("qdot").dataType ==
      org.apache.spark.sql.types.LongType)
    // corpus is never broadcast — only centroids and probed queries
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"))
  }

  test("IVF centroid sample is ~sqrt(n), sublinear across corpus sizes") {
    // exact threshold arithmetic (floor(2^60 * ceil(sqrt(n)) / n)) —
    // pinned to the values DuckDB's HUGEINT replay computes
    assert(Similarity.centroidThreshold(500) == 53034389211914960L)
    assert(Similarity.centroidThreshold(2000) == 25940733853654056L)
    def nlist(d: String): (Long, Long) = {
      val e = Tables.embeddings(spark, d)
      (e.count(), Similarity.sampleCentroids(e).count())
    }
    val (n1, c1) = nlist("/root/testdata/sf0.001")
    val (n2, c2) = nlist("/root/testdata/sf0.1")
    def target(n: Long): Long = math.ceil(math.sqrt(n.toDouble)).toLong
    // binomial sample around the sqrt target: within [k/2, 2k] at both
    // corpus sizes, and the sampled FRACTION must shrink as n grows —
    // the property the old mod-sample (constant fraction) lacked
    assert(c1 >= target(n1) / 2 && c1 <= 2 * target(n1), s"nlist($n1) = $c1")
    assert(c2 >= target(n2) / 2 && c2 <= 2 * target(n2), s"nlist($n2) = $c2")
    assert(c2.toDouble / n2 < c1.toDouble / n1,
      s"centroid fraction must shrink with n: $c1/$n1 vs $c2/$n2")
  }

  test("Lloyd-refined IVF matches or beats the sampled quantizer's recall") {
    val brute = Similarity.q30AnnBrute(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      (brute intersect got).size.toDouble / brute.size
    }
    val sampled = recall(Similarity.q34AnnIvf(spark, dir))
    val lloyd = recall(Similarity.q35AnnIvfLloyd(spark, dir))
    info(f"IVF recall@5: sampled=$sampled%.2f lloyd=$lloyd%.2f")
    assert(lloyd >= 0.4, f"refined recall $lloyd%.2f below floor")
    // refinement should not lose recall on the same nprobe budget
    assert(lloyd >= sampled - 0.1, f"lloyd=$lloyd%.2f much worse than sampled=$sampled%.2f")
  }

  test("SQ8 quantized ANN keeps useful recall against the exact float path") {
    val brute = Similarity.q30AnnBrute(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val sq8 = Similarity.q47AnnSq8(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (brute intersect sq8).size.toDouble / brute.size
    info(f"SQ8 recall@5 = $recall%.2f")
    assert(recall >= 0.4, f"recall@5 $recall%.2f below floor")
  }

  test("hot-bucket guard bounds candidates from a planted degenerate bucket") {
    import spark.implicits._
    // one degenerate bucket with 100 members + 50 normal 2-member buckets
    val bands = ((0 until 100).map(i => (i.toLong, 0, "hot")) ++
      (0 until 100).map(i => (i.toLong, 1, s"b${i / 2}"))).toDF("doc_id", "band", "bucket")
    val hot = BucketGuard.hotBuckets(bands, Seq("band", "bucket"), 10).collect()
    assert(hot.length == 1 && hot(0).getAs[String]("bucket") == "hot" &&
      hot(0).getAs[Long]("members") == 100)
    val kept = BucketGuard.capHotBuckets(bands, Seq("band", "bucket"), 10)
    // the 100-member bucket (which alone would contribute 4950 candidate
    // pairs) is gone; every bounded bucket survives intact
    assert(kept.filter(col("bucket") === "hot").count() == 0)
    assert(kept.count() == 100)
    val pairs = kept.as("x").join(kept.as("y"),
      col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
      col("x.doc_id") < col("y.doc_id")).count()
    assert(pairs == 50)
  }

  test("hot-bucket guard is a no-op end-to-end on a normal corpus, bounded on a degenerate one") {
    import spark.implicits._
    // degenerate corpus: 60 near-identical docs (same 20-token text, one
    // varying token) land in shared signature buckets; a tight cap keeps
    // the band join from going quadratic within that bucket
    val base = (1 to 20).map(i => s"tok$i").mkString(" ")
    val docs = (0 until 60).map(i => (i.toLong, s"$base tail$i")).toDF("doc_id", "text")
    val unguarded = Dedup.minhashNearDupPairsFrom(docs, 0.35, maxBucket = 1000).count()
    val guarded = Dedup.minhashNearDupPairsFrom(docs, 0.35, maxBucket = 10).count()
    assert(unguarded > 1000, s"planted corpus should be degenerate, got $unguarded pairs")
    assert(guarded < unguarded,
      s"cap should bound the degenerate bucket: $guarded vs $unguarded")
    // and on the real (non-degenerate) corpus the default cap changes nothing
    val real = Tables.documents(spark, dir)
    val a = Dedup.minhashNearDupPairsFrom(real).collect().toSet
    val b = Dedup.minhashNearDupPairsFrom(real, 0.35, maxBucket = Int.MaxValue).collect().toSet
    assert(a == b)
  }

  test("connected components: chains, cliques, cycles collapse to min-id clusters") {
    import spark.implicits._
    // chain 1-2-3-4-5 (diameter stress), clique {10,11,12}, cycle
    // 20-21-22-20, isolated pair (30,31)
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (10L, 12L), (11L, 12L),
      (20L, 21L), (21L, 22L), (22L, 20L),
      (30L, 31L)).toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(pairs, "doc_a", "doc_b").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L,
      30L -> 30L, 31L -> 30L)
    assert(got == want)
  }

  test("connectedComponents reliable-checkpoint mode matches local and writes files") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    def run(): Map[Long, Long] =
      Dedup.connectedComponents(pairs, "doc_a", "doc_b").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val local = run()
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-ckpt").toString
    spark.conf.set("spark.graft.checkpointDir", dir)
    try {
      assert(run() == local, "reliable mode must produce identical clusters")
      def files(p: java.io.File): Int =
        if (p.isFile) 1 else Option(p.listFiles).map(_.map(files).sum).getOrElse(0)
      assert(files(new java.io.File(dir)) > 0,
        "reliable mode must write checkpoint files into the configured dir")
    } finally spark.conf.unset("spark.graft.checkpointDir")
  }

  test("c70 cluster-global keeper: only cluster minima survive near-dup removal") {
    val clusters = Dedup.d45NearDupClusters(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(clusters.nonEmpty)
    // every cluster_id is a member of its own cluster and is the min
    val byCluster = clusters.groupBy(_._2)
    byCluster.foreach { case (cid, members) =>
      assert(members.map(_._1).min == cid)
    }
  }

  test("d47 chunk dedup: fractions consistent, election is first-occurrence, duplicates exist") {
    val rows = Dedup.d47ChunkDedup(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_chunks")
      val d = r.getAs[Long]("n_dup_chunks")
      assert(n >= 1 && d >= 0 && d <= n)
      assert(math.abs(r.getAs[Double]("dup_chunk_frac") - d.toDouble / n) < 1e-12)
    }
    // the synthetic corpus's near-dup docs share verbatim 8-token runs:
    // the operator must find at least one cross-doc duplicate chunk
    assert(rows.map(_.getAs[Long]("n_dup_chunks")).sum > 0)
    // global chunk accounting: duplicated instances = instances - distinct hashes
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"), posexplode(col("t")))
      .withColumn("chunk_idx", floor(col("pos") / 8))
      .groupBy(col("doc_id"), col("chunk_idx"))
      // order within the chunk restored explicitly: collect_list order is
      // not contractual
      .agg(array_join(transform(array_sort(collect_list(struct(col("pos"), col("col")))),
        s => s.getField("col")), " ").as("chunk"))
    val inst = docs.count()
    val distinct = docs.select("chunk").distinct().count()
    assert(rows.map(_.getAs[Long]("n_dup_chunks")).sum == inst - distinct)
  }

  test("q49 PQ-ADC: recall floor over exact-L2, distances positive and ranked") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DoubleType
    val pq = Similarity.q49AnnPq(spark, dir).collect()
    assert(pq.nonEmpty)
    // per-query ranking sane: rn 1..5, adist non-decreasing, positive
    pq.groupBy(_.getAs[Long]("query_id")).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getAs[Int]("rn"))
      assert(sorted.map(_.getAs[Int]("rn")).toSeq == (1 to sorted.length))
      val ds = sorted.map(_.getAs[Double]("adist"))
      assert(ds.forall(_ > 0.0))
      assert(ds.zip(ds.tail).forall { case (a, b) => a <= b })
    }
    // exact-L2 top-5 brute force (the geometry PQ approximates)
    val e = Tables.embeddings(spark, dir)
    def l2 = {
      import org.apache.spark.sql.functions._
      aggregate(zip_with(col("qe"), col("ne"), (x, y) =>
          (x.cast(DoubleType) - y.cast(DoubleType)) *
          (x.cast(DoubleType) - y.cast(DoubleType))),
        lit(0.0), (acc, v) => acc + v)
    }
    val w = Window.partitionBy(col("query_id")).orderBy(col("d").asc, col("neighbor_id").asc)
    val exact = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
      .crossJoin(e.select(col("vec_id").as("neighbor_id"), col("embedding").as("ne")))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("d", l2)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .collect()
      .groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("neighbor_id")).toSet }
    val recalls = pq.groupBy(_.getAs[Long]("query_id")).map { case (q, rs) =>
      val hit = rs.map(_.getAs[Long]("neighbor_id")).count(exact(q).contains)
      hit.toDouble / exact(q).size
    }
    val mean = recalls.sum / recalls.size
    // 8 bytes/vector with a 16-word codebook per subspace on
    // structure-free synthetic data: modest recall is expected; the
    // floor pins "far above chance" (chance ≈ 5/n ≈ 1%), not parity
    // with SQ8 (q47 keeps 0.96 at 8× the memory)
    assert(mean >= 0.1, s"PQ mean recall@5 vs exact L2 too low: $mean")
  }

  test("q51 IVF-PQ: well-formed ranking and above-chance recall vs exact L2") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DoubleType
    val out = Similarity.q51AnnIvfPq(spark, dir).collect()
    assert(out.nonEmpty)
    out.groupBy(_.getAs[Long]("query_id")).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getAs[Int]("rn"))
      assert(sorted.map(_.getAs[Int]("rn")).toSeq == (1 to sorted.length))
      val ds = sorted.map(_.getAs[Double]("adist"))
      assert(ds.forall(_ > 0.0))
      assert(ds.zip(ds.tail).forall { case (a, b) => a <= b })
    }
    val e = Tables.embeddings(spark, dir)
    def l2 = aggregate(zip_with(col("qe"), col("ne"), (x, y) =>
        (x.cast(DoubleType) - y.cast(DoubleType)) *
        (x.cast(DoubleType) - y.cast(DoubleType))),
      lit(0.0), (acc, v) => acc + v)
    val w = Window.partitionBy(col("query_id")).orderBy(col("d").asc, col("neighbor_id").asc)
    val exact = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
      .crossJoin(e.select(col("vec_id").as("neighbor_id"), col("embedding").as("ne")))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("d", l2)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .collect()
      .groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("neighbor_id")).toSet }
    val recalls = out.groupBy(_.getAs[Long]("query_id")).map { case (q, rs) =>
      rs.map(_.getAs[Long]("neighbor_id")).count(exact(q).contains).toDouble / exact(q).size
    }
    val mean = recalls.sum / recalls.size
    // stacked losses (cell pruning + 8 B/vector codes) on structure-free
    // data: the floor pins above-chance, the ladder's recall ordering is
    // documented in BASELINE.md, not asserted (sandbox corpora are small)
    assert(mean >= 0.05, s"IVF-PQ mean recall@5 too low: $mean")
  }

  test("q50 hybrid search: candidates come from the lexical stage, ranks by cosine") {
    val out = Similarity.q50HybridSearch(spark, dir).collect()
    assert(out.nonEmpty)
    out.groupBy(_.getAs[Long]("query_id")).foreach { case (q, rs) =>
      assert(q < 5)
      val sorted = rs.sortBy(_.getAs[Int]("rn"))
      assert(sorted.map(_.getAs[Int]("rn")).toSeq == (1 to sorted.length))
      val sims = sorted.map(_.getAs[Double]("sim"))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
      // a returned candidate shares at least one token with its query
      // (overlap 0 can only appear if fewer than HybridCand docs share
      // any token — not this corpus)
      assert(sorted.forall(_.getAs[Int]("overlap") > 0))
      assert(sorted.forall(_.getAs[Long]("doc_id") != q))
    }
    // Coverage pin (ADVICE r06): the corpus is semi-joined to embeddings
    // before the lexical stage, so every candidate is rankable by
    // construction and no query comes back short of K because the
    // re-rank join dropped an embedding-less candidate.
    val perQuery = out.groupBy(_.getAs[Long]("query_id")).view.mapValues(_.length)
    assert(perQuery.size == 5, s"expected 5 query groups, got ${perQuery.size}")
    perQuery.foreach { case (q, n) =>
      assert(n == 5, s"query $q returned $n results, expected K=5 — " +
        "a candidate was dropped between the lexical and re-rank stages")
    }
  }

  test("d48 semantic dedup: dominance rule holds and agrees with in-cell exact cosine") {
    val out = Similarity.d48SemDedup(spark, dir).collect()
    assert(out.nonEmpty)
    val byId = out.map(r => r.getAs[Long]("vec_id") -> r).toMap
    out.foreach { r =>
      val kept = r.getAs[Int]("kept")
      val dupOf = r.getAs[Long]("dup_of")
      if (kept == 1) assert(dupOf == -1L)
      else {
        // the dominating vector is a lower id in the SAME cell
        assert(dupOf >= 0 && dupOf < r.getAs[Long]("vec_id"))
        assert(byId(dupOf).getAs[Long]("cid") == r.getAs[Long]("cid"))
      }
    }
    // every vector got exactly one cell, and cells come from the bounded
    // sqrt(n) sample (cid is itself a corpus vec_id)
    val ids = out.map(_.getAs[Long]("vec_id")).toSet
    assert(out.forall(r => ids.contains(r.getAs[Long]("cid"))))
  }

  test("d49 decontamination: flags exactly the docs sharing a verbatim 8-token window") {
    val out = Dedup.d49Decontaminate(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_shared_windows")).toMap
    assert(out.nonEmpty, "the planted near-dups of benchmark docs must be flagged")
    assert(out.keys.forall(_ >= 20), "benchmark docs must never flag themselves")
    assert(out.values.forall(_ > 0))
    // independent recomputation in plain scala on the raw text
    val docs = Tables.documents(spark, dir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq).toMap
    def wins(t: Seq[String]): Set[Seq[String]] =
      if (t.length < 8) Set(t) else t.sliding(8).map(_.toSeq).toSet
    val benchWins = docs.filter(_._1 < 20).values.flatMap(wins).toSet
    val expected = docs.filter(_._1 >= 20)
      .map { case (id, t) => id -> wins(t).count(benchWins.contains).toLong }
      .filter(_._2 > 0)
    assert(out == expected)
  }

  test("dedupExact keeps exactly the min-keeper row per duplicate group") {
    import spark.implicits._
    val df = Seq((2L, "same text"), (1L, "same text"), (3L, "other"))
      .toDF("doc_id", "text")
    val out = Dedup.dedupExact(df, Seq("text"), col("doc_id"))
    val kept = out.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L), s"keeper election must pick min doc_id, got $kept")
  }

  test("d54 bloom prefilter: zero false negatives, near-exact selectivity") {
    import org.apache.spark.sql.functions.col
    val (dim, pre) = Dedup.bloomPrefiltered(spark, dir)
    val dimKeys = dim.collect().map(_.getLong(0)).toSet
    val exact = Tables.lineitem(spark, dir)
      .where(col("l_partkey").isInCollection(dimKeys))
    val exactCount = exact.count()
    val preCount = pre.count()
    // no false negatives: every true member must survive the bloom
    assert(preCount >= exactCount)
    val preKeys = pre.select("l_partkey").distinct()
      .collect().map(_.getLong(0)).toSet
    val exactKeys = exact.select("l_partkey").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(exactKeys.subsetOf(preKeys), "bloom dropped a true member")
    // near-exact selectivity: 65536 bits over ~|dim|·3 set bits gives a
    // per-probe FP rate ≪ 1e-3; the prefilter must not wave rows through
    assert(preCount <= exactCount * 3 / 2 + 10,
      s"bloom passed $preCount rows vs $exactCount exact — FP rate off the design")
  }

  test("d55 prefix filter prunes candidates strictly below d41's shared-shingle volume") {
    val (candPrefix, candFull) = Dedup.d55CandidateCount(spark, dir)
    assert(candPrefix > 0 && candFull > 0)
    assert(candPrefix < candFull,
      s"prefix join must generate fewer candidates than the full shingle join " +
        s"($candPrefix !< $candFull)")
    // the oracle gate proves losslessness; this pins that the filter
    // actually filters (at θ=0.5 the prefix is ~half of each set, so the
    // candidate pair space should drop well below the all-shared volume)
    assert(candPrefix <= candFull * 9 / 10,
      s"pruning ratio too weak: $candPrefix of $candFull")
  }

  // -- d61 cluster cap / d62 MMR --------------------------------------

  /** Driver-side cosine matching VecCosine's accumulation order. */
  private def cos(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  private lazy val allVecs: Map[Long, Array[Float]] =
    Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap

  test("d61 caps every cell at CapPerCell and keeps exactly the most prototypical") {
    val rows = Similarity.d61ClusterCap(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3),
        r.getLong(4), r.getInt(5)))
    assert(rows.length == allVecs.size, "selection mask must cover every vector")
    val byCell = rows.groupBy(_._2)
    for ((cid, members) <- byCell) {
      val n = members.length.toLong
      assert(members.forall(_._5 == n), s"cell $cid cell_n")
      assert(members.map(_._4).sorted.toSeq == (1L to n), s"cell $cid ranks not 1..n")
      val kept = members.filter(_._6 == 1)
      assert(kept.length == math.min(n, 8L), s"cell $cid kept count")
      // kept = rank prefix: every kept (csim, -id) dominates every dropped
      val ord = implicitly[Ordering[(Double, Long)]]
      val worstKept = kept.map(m => (m._3, -m._1)).min(ord)
      for (d <- members.filter(_._6 == 0))
        assert(ord.lteq((d._3, -d._1), worstKept), s"cell $cid: dropped $d beats kept")
    }
    // cells are the q34 quantizer: every vector's cell is its true argmax centroid
    val cents = byCell.keySet.map(c => c -> allVecs(c)).toMap
    for ((vid, cid, _, _, _, _) <- rows.take(50)) {
      val best = cents.toSeq.map { case (c, ce) => (cos(allVecs(vid), ce), -c) }.max
      assert(-best._2 == cid || math.abs(best._1 - cos(allVecs(vid), cents(cid))) < 1e-12,
        s"vec $vid assigned to $cid, argmax is ${-best._2}")
    }
  }

  test("d62 ≡ naive greedy MMR over the top-20 brute candidates") {
    val lambda = 0.7
    val got = Similarity.d62MmrRerank(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    val queries = allVecs.keys.filter(_ < 10).toSeq.sorted
    assert(got.map(_._1).distinct.toSeq == queries)
    for (q <- queries) {
      val qe = allVecs(q)
      val cand = allVecs.toSeq.filter(_._1 != q)
        .map { case (id, v) => (id, cos(qe, v)) }
        .sortBy { case (id, rel) => (-rel, id) }.take(20)
      var sel = Vector.empty[(Long, Double)] // (id, score)
      for (_ <- 1 to 5) {
        val remaining = cand.filterNot(c => sel.exists(_._1 == c._1))
        val scored = remaining.map { case (id, rel) =>
          val msim = if (sel.isEmpty) 0.0
            else sel.map(s => cos(allVecs(id), allVecs(s._1))).max
          val score = if (sel.isEmpty) rel else lambda * rel - (1 - lambda) * msim
          (id, score)
        }
        sel = sel :+ scored.minBy { case (id, s) => (-s, id) }
      }
      val gotQ = got.filter(_._1 == q).sortBy(_._2)
      assert(gotQ.map(_._3).toSeq == sel.map(_._1),
        s"query $q picks: ${gotQ.map(_._3).toSeq} vs ${sel.map(_._1)}")
      for ((g, (_, s)) <- gotQ.zip(sel))
        assert(math.abs(g._5 - s) < 1e-5, s"query $q score ${g._5} vs $s")
      // diversity sanity: the MMR list never repeats a neighbor
      assert(gotQ.map(_._3).distinct.length == 5)
    }
  }

  test("q102 NDCG ≡ naive graded-relevance recompute; perfect prefix ⇒ ndcg = 1") {
    val labels = Tables.embeddings(spark, dir).select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val got = Similarity.q102NdcgEval(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))
    assert(got.length == 10)
    var n9sum = 0.0
    for ((qid, qlabel, hits, dcg, ndcg, _) <- got) {
      assert(qlabel == labels(qid))
      val qe = allVecs(qid)
      val top = allVecs.toSeq.filter(_._1 != qid)
        .map { case (id, v) => (id, cos(qe, v)) }
        .sortBy { case (id, s) => (-s, id) }.take(5)
      val gains = top.map { case (id, _) => if (labels(id) == qlabel) 1.0 else 0.0 }
      assert(hits == gains.sum.toLong)
      val nDcg = gains.zipWithIndex.map { case (g, i) => g / (math.log(i + 2) / math.log(2)) }.sum
      val ideal = gains.sortBy(-_).zipWithIndex
        .map { case (g, i) => g / (math.log(i + 2) / math.log(2)) }.sum
      assert(math.abs(dcg - nDcg) < 1e-6, s"q$qid dcg $dcg vs $nDcg")
      val nd = if (ideal == 0.0) 0.0 else nDcg / ideal
      assert(math.abs(ndcg - nd) < 1e-6, s"q$qid ndcg $ndcg vs $nd")
      assert(ndcg >= 0.0 && ndcg <= 1.0 + 1e-9)
      // all hits leading the list ⇒ the ideal ordering ⇒ ndcg exactly 1
      if (hits > 0 && gains.take(hits.toInt).forall(_ == 1.0))
        assert(math.abs(ndcg - 1.0) < 1e-9, s"q$qid perfect prefix must score 1")
      n9sum += nd
    }
    assert(math.abs(got.head._6 - n9sum / 10) < 1e-6, "mean_ndcg")
  }
}
