package graft.operators

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.{QueryDef, Tables}
import graft.functions.{Vectors, VecLshSketch}
import graft.operators.Checkpoints.GraftCheckpointOps

/** Similarity search over the `embeddings` table (`Array[Float]`, dim 64)
  * — the ANN extension (SURVEY.md §4.2). Two paths:
  *
  *  - q30 brute-force cosine top-k: the exact baseline. Queries are the
  *    SMALL side → broadcast; the corpus streams through the codegen'd
  *    [[graft.functions.VecCosine]] scorer — at 100 TB this is a single
  *    scan, no shuffle until the (tiny) per-query top-k reduction.
  *  - q31 random-hyperplane LSH: the sub-quadratic scale path. Sign
  *    sketches bucket the corpus; candidate generation is an equi-join
  *    on (table, bucket), exact cosine re-ranks candidates only.
  *    Recall vs q30 is pinned by SimilaritySpec.
  */
object Similarity {

  private val K = 5
  private val NumQueries = 10 // queries = vec_id < 10

  /** Each query's K nearest candidates by exact cosine, ties by
    * neighbor id, from (query_id, qe, neighbor_id, ne) candidate pairs.
    */
  private def topKByCosine(pairs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    pairs
      .withColumn("sim", Vectors.vecCosine(col("qe"), col("ne")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= K)
      .select(col("query_id"), col("rn"), col("neighbor_id"), round(col("sim"), 6).as("sim"))
      .orderBy(col("query_id"), col("rn"))
  }

  /** [[topKByCosine]] on the int8 grid: exact integer dot products of
    * each pair's query vector `qq` and neighbor vector `nv`.
    */
  private def topKByQdot(pairs: DataFrame, nv: String): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("qdot").desc, col("neighbor_id").asc)
    pairs
      .withColumn("qdot", aggregate(zip_with(col("qq"), col(nv), (a, b) => a * b),
        lit(0L), (acc, v) => acc + v))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= K)
      .select(col("query_id"), col("rn"), col("neighbor_id"), col("qdot"))
      .orderBy(col("query_id"), col("rn"))
  }

  /** Each query's K nearest by asymmetric PQ distance: sums the table
    * distance `dn` of every (query_id, vec_id) candidate's codes.
    */
  private def topKByAdist(codes: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adist_n").asc, col("neighbor_id").asc)
    codes
      .groupBy(col("query_id"), col("vec_id").as("neighbor_id"))
      .agg(sum(col("dn")).as("adist_n"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= K)
      .select(col("query_id"), col("rn"), col("neighbor_id"),
        (col("adist_n").cast(DoubleType) / lit(1e9)).as("adist"))
      .orderBy(col("query_id"), col("rn"))
  }

  /** The oracles' top-K by cosine over `scored` (query_id, neighbor_id,
    * sim), ties by neighbor id.
    */
  private val cosineTopKSql: String =
    s"""ranked AS (
       |  SELECT query_id, neighbor_id, sim,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rn
       |  FROM scored)
       |SELECT query_id, rn, neighbor_id, ROUND(sim, 6) AS sim
       |FROM ranked
       |WHERE rn <= $K
       |ORDER BY query_id, rn""".stripMargin

  /** [[cosineTopKSql]] on the int8 grid: `scored` carries qdot. */
  private val qdotTopKSql: String =
    s"""ranked AS (
       |  SELECT query_id, neighbor_id, qdot,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY qdot DESC, neighbor_id ASC) AS rn
       |  FROM scored)
       |SELECT query_id, rn, neighbor_id, qdot
       |FROM ranked WHERE rn <= $K
       |ORDER BY query_id, rn""".stripMargin

  /** Top-K by asymmetric PQ distance over `scored` (query_id,
    * neighbor_id, adist_n).
    */
  private val adistTopKSql: String =
    s"""ranked AS (
       |  SELECT query_id, neighbor_id, adist_n,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY adist_n ASC, neighbor_id ASC) AS rn
       |  FROM scored)
       |SELECT query_id, rn, neighbor_id,
       |  CAST(adist_n AS DOUBLE) / 1000000000.0 AS adist
       |FROM ranked WHERE rn <= $K
       |ORDER BY query_id, rn""".stripMargin

  // -------------------------------------------------------------------
  // q30: exact brute-force top-k per query.
  // -------------------------------------------------------------------
  def q30AnnBrute(spark: SparkSession, dir: String): DataFrame = {
    Vectors.register(spark)
    val e = Tables.embeddings(spark, dir)
    val queries = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    topKByCosine(e.select(col("vec_id").as("neighbor_id"), col("embedding").as("ne"))
      .repartition(spark.sessionState.conf.numShufflePartitions)
      .crossJoin(broadcast(queries))
      .filter(col("neighbor_id") =!= col("query_id")))
  }

  val q30AnnBruteSql: String =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
       |           WHERE vec_id < $NumQueries),
       |scored AS (
       |  SELECT query_id, e.vec_id AS neighbor_id,
       |    list_sum(list_transform(list_zip(qe, e.embedding),
       |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) /
       |    (sqrt(list_sum(list_transform(qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
       |     sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS sim
       |  FROM q CROSS JOIN embeddings e
       |  WHERE e.vec_id <> query_id),
       |$cosineTopKSql""".stripMargin

  // -------------------------------------------------------------------
  // q31: LSH-bucketed ANN. md5-derived Rademacher hyperplanes (seeded),
  // NumTables independent sketches of BitsPerTable sign bits each;
  // candidates = corpus vectors sharing any (table, bucket) with the
  // query; exact cosine re-rank of candidates only. Fully oracle-checked:
  // the ±1 plane constants are embedded as literals in generated DuckDB
  // SQL that replays the identical sketch arithmetic (see
  // VecLshSketch.planeSigns), so candidate sets — not just sims — must
  // match bit-for-bit. Recall vs q30 additionally pinned by
  // DedupSimilaritySpec.
  // -------------------------------------------------------------------
  // 12 tables × 6 bits: measured recall@5 = 0.54 on sf0.001 (floor 0.4,
  // seed-scanned; ±1 planes need ~1.5× the tables Gaussian planes did for
  // the same recall — the price of SQL-exact plane constants)
  private val LshSeed = 1
  private val NumTables = 12
  private val BitsPerTable = 6
  private val Dim = 64

  /** (tbl, bucket) rows for one embedding column: posexplode of the
    * native [[graft.functions.VecLshSketch]] (pos = table index). The
    * seeded plane matrix lives inside the expression as one reference
    * object — the previous per-plane `vec_dot(emb, lit(plane))` formulation
    * put tables×bits 64-float literals in the plan, and optimizer + codegen
    * + task-deser over those trees dominated q31's runtime (8.4 s for a
    * 2000-vector corpus).
    */
  private def bucketed(df: DataFrame, idCol: String, idAs: String, emb: Column,
                       seed: Int, tables: Int, bits: Int): DataFrame =
    df.select(col(idCol).as(idAs),
        posexplode(Vectors.vecLshSketch(emb, seed, tables, bits, Dim)))
      .select(col(idAs), col("pos").as("tbl"), col("col").as("bucket"))

  // --- generated-SQL mirrors of the sketch pipeline ------------------

  /** `list_sum` over per-element `±1.0 * x` — the exact operation
    * sequence of [[VecLshSketch.compute]]'s inner loop.
    */
  private def dotSql(emb: String, signs: Array[Double]): String = {
    val lst = signs.map(s => if (s > 0) "1.0" else "-1.0").mkString("[", ",", "]")
    s"list_sum(list_transform(list_zip($emb, $lst), p -> CAST(p[1] AS DOUBLE) * p[2]))"
  }

  /** Bucket expression for table `t`: the `bits` sign bits packed into a
    * BIGINT, mirroring the sketch's `if (dot >= 0) bucket |= 1L << j`.
    */
  private def bucketSql(emb: String, planes: Array[Array[Double]],
                        t: Int, bits: Int): String =
    (0 until bits).map(b =>
      s"(CASE WHEN ${dotSql(emb, planes(t * bits + b))} >= 0 THEN ${1L << b} ELSE 0 END)")
      .mkString("(", " + ", ")")

  /** `sk`/`cb` CTE chain (no leading WITH): per-vector bucket arrays,
    * exploded to (vec_id, tbl, bucket) — the SQL mirror of [[bucketed]].
    */
  private def sketchCtes(seed: Int, tables: Int, bits: Int): String = {
    val planes = VecLshSketch.planeSigns(seed, tables, bits, Dim)
    val buckets = (0 until tables)
      .map(t => bucketSql("embedding", planes, t, bits)).mkString(",\n      ")
    s"""sk AS (
       |  SELECT vec_id, [
       |      $buckets
       |    ] AS bks
       |  FROM embeddings),
       |cb AS (
       |  SELECT vec_id, i - 1 AS tbl, bks[i] AS bucket
       |  FROM sk CROSS JOIN range(1, ${tables + 1}) r(i))""".stripMargin
  }

  /** Exact-cosine SQL fragment (same shape as d44/q30, hash-validated
    * against the codegen'd VecCosine).
    */
  private def cosSql(a: String, b: String): String =
    s"""list_sum(list_transform(list_zip($a, $b),
       |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) /
       |    (sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
       |     sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))""".stripMargin

  def q31AnnLshSql: String =
    s"""WITH ${sketchCtes(LshSeed, NumTables, BitsPerTable)},
       |qb AS (SELECT vec_id AS query_id, tbl, bucket FROM cb WHERE vec_id < $NumQueries),
       |cand AS (
       |  SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id
       |  FROM cb c JOIN qb q ON c.tbl = q.tbl AND c.bucket = q.bucket
       |  WHERE c.vec_id <> q.query_id),
       |scored AS (
       |  SELECT query_id, neighbor_id,
       |    ${cosSql("qe.embedding", "ne.embedding")} AS sim
       |  FROM cand
       |  JOIN embeddings ne ON ne.vec_id = neighbor_id
       |  JOIN embeddings qe ON qe.vec_id = query_id),
       |$cosineTopKSql""".stripMargin

  def q31AnnLsh(spark: SparkSession, dir: String): DataFrame =
    annLshConfigurable(spark, dir, LshSeed, NumTables, BitsPerTable)

  def annLshConfigurable(spark: SparkSession, dir: String, seed: Int,
                         tables: Int, bits: Int): DataFrame = {
    Vectors.register(spark)
    val e = Tables.embeddings(spark, dir)
    val corpus = e.repartition(spark.sessionState.conf.numShufflePartitions)
    val queries = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    // candidates carry ids only — the distinct shuffles narrow rows, and
    // the embeddings are re-attached afterwards (corpus via equi-join,
    // queries via broadcast) instead of riding through the dedup
    val corpusBuckets = bucketed(corpus, "vec_id", "neighbor_id",
      col("embedding"), seed, tables, bits)
    val queryBuckets = bucketed(queries, "query_id", "query_id", col("qe"),
      seed, tables, bits)
    val cand = corpusBuckets.join(broadcast(queryBuckets), Seq("tbl", "bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"))
      .distinct()
    topKByCosine(cand
      .join(corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("ne")), "neighbor_id")
      .join(broadcast(queries), "query_id"))
  }

  // -------------------------------------------------------------------
  // q32: corpus × corpus near-neighbor pairs — the symmetric bucketed
  // SELF-join form of the hyperplane LSH: both sides sketched, NO
  // broadcast anywhere. This is the operator a 100 TB dedup-by-embedding
  // pipeline actually runs (d44 is its quadratic oracle baseline, q31
  // its small-query-set sibling). Candidates = ids-only distinct over
  // the (tbl, bucket) equi-join (identical sides → one sketch
  // computation via AQE exchange reuse); embeddings re-attach by
  // equi-join; exact cosine keeps only sim >= threshold, so the output
  // is a SUBSET of d44's exact pairs — recall pinned by
  // DedupSimilaritySpec. More tables × fewer bits than q31
  // (16×5 vs 8×6): pair recall at the 0.4 threshold needs higher
  // per-table collision probability; at larger corpora, scale bits up
  // (bucket occupancy ~ n/2^bits drives the candidate count).
  // -------------------------------------------------------------------
  private val PairTables = 16
  private val PairBits = 5
  private val PairThreshold = 0.4

  def q32CorpusNearDupSql: String =
    s"""WITH ${sketchCtes(43, PairTables, PairBits)},
       |cand AS (
       |  SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
       |  FROM cb x JOIN cb y
       |    ON x.tbl = y.tbl AND x.bucket = y.bucket AND x.vec_id < y.vec_id),
       |scored AS (
       |  SELECT vec_a, vec_b,
       |    ROUND(${cosSql("a.embedding", "b.embedding")}, 6) AS sim
       |  FROM cand
       |  JOIN embeddings a ON a.vec_id = vec_a
       |  JOIN embeddings b ON b.vec_id = vec_b)
       |SELECT vec_a, vec_b, sim
       |FROM scored
       |WHERE sim >= $PairThreshold
       |ORDER BY vec_a, vec_b""".stripMargin

  /** q32 bucket occupancy is density-driven (~n/2^bits ≈ 62 avg / 134 max
    * at sf0.1): the cap is a skew brake ≥7× the observed max, not a
    * density control — at larger corpora scale PairBits up first.
    */
  private val PairBucketCap = 1000

  def q32CorpusNearDup(spark: SparkSession, dir: String): DataFrame = {
    Vectors.register(spark)
    val e = Tables.embeddings(spark, dir)
      .repartition(spark.sessionState.conf.numShufflePartitions)
    val buckets = BucketGuard.capHotBuckets(
      bucketed(e, "vec_id", "vec_id", col("embedding"), 43, PairTables, PairBits),
      Seq("tbl", "bucket"), PairBucketCap)
    val cand = buckets.as("x").join(buckets.as("y"),
        col("x.tbl") === col("y.tbl") && col("x.bucket") === col("y.bucket") &&
        col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
      .distinct()
    cand
      .join(e.select(col("vec_id").as("vec_a"), col("embedding").as("ea")), "vec_a")
      .join(e.select(col("vec_id").as("vec_b"), col("embedding").as("eb")), "vec_b")
      .withColumn("sim", round(Vectors.vecCosine(col("ea"), col("eb")), 6))
      .filter(col("sim") >= PairThreshold)
      .select(col("vec_a"), col("vec_b"), col("sim"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  // -------------------------------------------------------------------
  // q34: IVF-flat ANN — the second scale path beside LSH (q31). Coarse
  // quantizer = a BOUNDED deterministic sample of the corpus: vec_id is
  // a centroid iff its md5-60-bit hash falls below
  // T = floor(2^60 * ceil(sqrt(n)) / n), so nlist ≈ ceil(sqrt(n)) —
  // sublinear in the corpus, per the classic IVF guidance. (A mod-sample
  // like `vec_id % 24` would be a constant FRACTION: linear nlist, an
  // O(n) centroid broadcast and an O(n²/24) assignment at 100 TB.) The
  // threshold is the same md5-60-bit gadget as d42/d43, so the whole
  // quantizer stays oracle-expressible: DuckDB derives the identical
  // threshold from the identical COUNT(*). Every corpus vector is
  // assigned to its nearest centroid cell, queries probe the IvfProbe
  // nearest cells, and the exact re-rank touches only the probed cells'
  // members.
  //
  // Scale shape: centroids are the ONLY broadcast (O(sqrt(n)) vectors);
  // assignment is one corpus scan × nlist codegen'd cosines
  // (O(n·sqrt(n)) total); candidate selection is a broadcast join of the
  // (tiny) probed-cell list against the assigned corpus — the corpus
  // itself never shuffles. Every number is a deterministic function of
  // the input through IEEE-identical arithmetic, so the whole operator —
  // cell assignment included — is oracle-checked, not just spec-pinned.
  // -------------------------------------------------------------------
  private val IvfProbe = 6

  /** Centroid-sample threshold: floor(2^60 * ceil(sqrt(n)) / n), exact
    * integer arithmetic (BigInt — 2^60 * sqrt(n) overflows a long), so
    * DuckDB's HUGEINT replay is bit-identical.
    */
  private[graft] def centroidThreshold(n: Long): Long = {
    require(n > 0, "empty corpus has no centroids")
    val k = math.ceil(math.sqrt(n.toDouble)).toLong
    (PortableHash.HashSpace * k / n).toLong
  }

  /** The bounded coarse quantizer: ≈ceil(sqrt(n)) corpus vectors chosen
    * by md5 threshold ([[PortableHash.h60]]). The one `count()` action
    * is a cheap columnar metadata scan; its result becomes a literal in
    * the plan, keeping the filter codegen'd. The centroid spec pins
    * nlist ≈ sqrt(n) at two corpus sizes.
    */
  private[graft] def sampleCentroids(e: DataFrame): DataFrame = sampleCentroids(e, e.count())

  /** [[sampleCentroids]] for a caller that already measured n = |e|. */
  private[graft] def sampleCentroids(e: DataFrame, n: Long): DataFrame =
    e.filter(PortableHash.h60(col("vec_id")) < centroidThreshold(n))
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))

  /** SQL mirror of [[sampleCentroids]] (no leading WITH): DuckDB computes
    * floor(2^60 * ceil(sqrt(n)) / n) in HUGEINT — both engines floor a
    * positive exact-integer quotient, so the centroid SET matches
    * bit-for-bit.
    */
  private def centsSqlCte(name: String): String =
    s"""$name AS (
       |  SELECT vec_id AS cid, embedding AS ce FROM embeddings
       |  WHERE ${PortableHash.h60Sql("vec_id")} <
       |    (SELECT CAST(${PortableHash.HashSpaceSqlHugeInt}
       |       * CAST(CEIL(SQRT(COUNT(*))) AS BIGINT) / COUNT(*) AS BIGINT)
       |     FROM embeddings))""".stripMargin

  def q34AnnIvf(spark: SparkSession, dir: String): DataFrame = {
    Vectors.register(spark)
    val raw = Tables.embeddings(spark, dir)
    val e = raw.repartition(spark.sessionState.conf.numShufflePartitions)
    // centroids sample the RAW scan: sampling through `e` would force the
    // full repartition exchange just to run count() and the tiny filter
    val cents = sampleCentroids(raw)
    val wAssign = Window.partitionBy(col("vec_id"))
      .orderBy(col("csim").desc, col("cid").asc)
    val assigned = e.crossJoin(broadcast(cents))
      .withColumn("csim", Vectors.vecCosine(col("embedding"), col("ce")))
      .withColumn("crn", row_number().over(wAssign))
      .filter(col("crn") === 1)
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("ne"), col("cid"))
    val probed = nearest(
        e.filter(col("vec_id") < NumQueries)
          .select(col("vec_id").as("query_id"), col("embedding").as("qe")),
        "query_id", "qe", cents, IvfProbe)
    topKByCosine(assigned.join(broadcast(probed), Seq("cid"))
      .filter(col("neighbor_id") =!= col("query_id")))
  }

  /** The IVF oracles' `assigned` (each vector's nearest centroid in
    * `cents`), `probed` (each query's IvfProbe nearest) and `scored`
    * (cosine of every query to the members of its probed cells).
    */
  private def ivfScoredCtesSql(cents: String): String =
    s"""assigned AS (
       |  SELECT vec_id AS neighbor_id, embedding AS ne, cid FROM (
       |    SELECT e.vec_id, e.embedding, c.cid,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosSql("e.embedding", "c.ce")} DESC, c.cid ASC) AS crn
       |    FROM embeddings e CROSS JOIN $cents c) t
       |  WHERE crn = 1),
       |probed AS (
       |  SELECT query_id, qe, cid FROM (
       |    SELECT q.vec_id AS query_id, q.embedding AS qe, c.cid,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${cosSql("q.embedding", "c.ce")} DESC, c.cid ASC) AS crn
       |    FROM embeddings q CROSS JOIN $cents c
       |    WHERE q.vec_id < $NumQueries) t
       |  WHERE crn <= $IvfProbe),
       |scored AS (
       |  SELECT query_id, neighbor_id, ${cosSql("qe", "ne")} AS sim
       |  FROM probed JOIN assigned USING (cid)
       |  WHERE neighbor_id <> query_id)""".stripMargin

  def q34AnnIvfSql: String =
    s"""WITH ${centsSqlCte("cents")},
       |${ivfScoredCtesSql("cents")},
       |$cosineTopKSql""".stripMargin

  // -------------------------------------------------------------------
  // q35: IVF with LloydRounds k-means refinement rounds — q34's bounded
  // coarse quantizer, then per round: assign corpus → recompute each
  // cell's centroid as the per-dimension MEAN of its members; finally
  // re-assign → probe → exact re-rank. The refinement is the piece that
  // makes IVF a learned quantizer rather than a random sample, and it
  // stays oracle-checkable because the means run in decimal space (the
  // q33 recipe: round(x,7) → DECIMAL(30,7) sums → one double division),
  // so the refined centroids — and every assignment made with them —
  // are bit-identical across engines. Refined centroids are rebuilt as
  // float vectors (deterministic IEEE cast) so the same codegen'd
  // VecCosine kernel scores them. Cells that attract no members drop
  // out (standard k-means cell death) — identically in both engines,
  // since both group only over assigned cids.
  //
  // Scale: each round is one assignment pass (n × nlist codegen'd
  // cosines, nlist ≈ sqrt(n)) plus one posexplode + hash-aggregate on
  // (cid, dim) (map-side combine), and centroids stay the only
  // broadcast. The round count is a declared constant: the oracle SQL
  // generator unrolls the same CTE pair per round, so the iteration
  // pattern — not just one step — is hash-checked cross-engine.
  // -------------------------------------------------------------------
  private[graft] val LloydRounds = 2

  def q35AnnIvfLloyd(spark: SparkSession, dir: String): DataFrame =
    annIvfLloyd(spark, dir, LloydRounds)

  /** Nearest-centroid assignment: broadcast the (small) centroid set,
    * score with the codegen'd VecCosine, keep the `keep` best cells per
    * row (1 = assignment, IvfProbe = query probe).
    */
  private def nearest(side: DataFrame, idCol: String, embCol: String,
                      cents: DataFrame, keep: Int): DataFrame = {
    val w = Window.partitionBy(col(idCol)).orderBy(col("csim").desc, col("cid").asc)
    side.crossJoin(broadcast(cents))
      .withColumn("csim", Vectors.vecCosine(col(embCol), col("ce")))
      .withColumn("crn", row_number().over(w))
      .filter(col("crn") <= keep)
      .drop("csim", "crn", "ce")
  }

  /** One Lloyd round: assign every corpus vector to its nearest
    * centroid, recompute cell centroids as decimal-exact per-dimension
    * means, rebuilt as float vectors.
    */
  private def lloydRound(e: DataFrame, cents: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType, FloatType}
    nearest(e, "vec_id", "embedding", cents, 1)
      .select(col("cid"), posexplode(col("embedding")))
      .groupBy(col("cid"), col("pos"))
      .agg(sum(round(col("col").cast(DoubleType), 7).cast(DecimalType(30, 7))).as("s"),
        count(lit(1)).as("n"))
      .select(col("cid"), col("pos"),
        (col("s").cast(DoubleType) / col("n")).cast(FloatType).as("m"))
      .groupBy(col("cid"))
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("cid"), transform(col("pm"), p => p.getField("m")).as("ce"))
  }

  def annIvfLloyd(spark: SparkSession, dir: String, rounds: Int): DataFrame = {
    Vectors.register(spark)
    val raw = Tables.embeddings(spark, dir)
    val e = raw.repartition(spark.sessionState.conf.numShufflePartitions)
    // raw scan for the sample — see q34AnnIvf
    val cents = (1 to rounds).foldLeft(sampleCentroids(raw))((c, _) => lloydRound(e, c))
    val assigned = nearest(e, "vec_id", "embedding", cents, 1)
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("ne"), col("cid"))
    val probed = nearest(
        e.filter(col("vec_id") < NumQueries)
          .select(col("vec_id").as("query_id"), col("embedding").as("qe")),
        "query_id", "qe", cents, IvfProbe)
    topKByCosine(assigned.join(broadcast(probed), Seq("cid"))
      .filter(col("neighbor_id") =!= col("query_id")))
  }

  def q35AnnIvfLloydSql: String = annIvfLloydSql(LloydRounds)

  /** SQL mirror of [[annIvfLloyd]]: unrolls one (assignment, means) CTE
    * pair per Lloyd round — cents0 is the md5-threshold sample, centsR
    * the round-R refinement; the final assignment/probe read cents<rounds>.
    */
  private[graft] def annIvfLloydSql(rounds: Int): String = {
    val roundCtes = (1 to rounds).map { r =>
      s"""asg${r - 1} AS (
         |  SELECT vec_id, embedding, cid FROM (
         |    SELECT e.vec_id, e.embedding, c.cid,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${cosSql("e.embedding", "c.ce")} DESC, c.cid ASC) AS crn
         |    FROM embeddings e CROSS JOIN cents${r - 1} c) t
         |  WHERE crn = 1),
         |dims$r AS (
         |  SELECT cid, j - 1 AS dim,
         |    SUM(CAST(ROUND(CAST(embedding[j] AS DOUBLE), 7) AS DECIMAL(30,7))) AS s,
         |    COUNT(*) AS n
         |  FROM asg${r - 1} CROSS JOIN range(1, ${Dim + 1}) rng(j)
         |  GROUP BY cid, j),
         |cents$r AS (
         |  SELECT cid, list(CAST(CAST(s AS DOUBLE) / n AS REAL) ORDER BY dim) AS ce
         |  FROM dims$r GROUP BY cid)""".stripMargin
    }.mkString(",\n")
    val fin = s"cents$rounds"
    s"""WITH ${centsSqlCte("cents0")},
       |$roundCtes,
       |${ivfScoredCtesSql(fin)},
       |$cosineTopKSql""".stripMargin
  }

  // -------------------------------------------------------------------
  // q33: per-group embedding centroids — the aggregation primitive of
  // embedding pipelines (cluster seeds, per-domain mean vectors).
  // Exploded to (group, dim) so the aggregate is an ordinary partial+
  // final hash agg (one shuffle on (lang, dim), map-side combine); the
  // per-dim sums run in exact decimal over round(x, 7) so partition
  // order cannot perturb the double sum, then ONE double division —
  // bit-identical in DuckDB.
  // -------------------------------------------------------------------
  def q33LangCentroids(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    Tables.embeddings(spark, dir)
      .join(Tables.documents(spark, dir)
        .select(col("doc_id").as("vec_id"), col("lang")), "vec_id")
      .select(col("lang"), posexplode(col("embedding")))
      .groupBy(col("lang"), col("pos").as("dim"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(round(col("col").cast(DoubleType), 7).cast(DecimalType(30, 7))).as("s"))
      .select(col("lang"), col("dim"), col("n_vecs"),
        round(col("s").cast(DoubleType) / col("n_vecs"), 6).as("centroid"))
      .orderBy(col("lang"), col("dim"))
  }

  val q33LangCentroidsSql: String =
    s"""WITH joined AS (
       |  SELECT d.lang, e.embedding
       |  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id),
       |exploded AS (
       |  SELECT lang, j - 1 AS dim, embedding[j] AS x
       |  FROM joined CROSS JOIN range(1, ${Dim + 1}) r(j))
       |SELECT lang, dim, COUNT(*) AS n_vecs,
       |  ROUND(CAST(SUM(CAST(ROUND(CAST(x AS DOUBLE), 7) AS DECIMAL(30,7))) AS DOUBLE)
       |        / COUNT(*), 6) AS centroid
       |FROM exploded
       |GROUP BY lang, dim
       |ORDER BY lang, dim""".stripMargin

  // -------------------------------------------------------------------
  // q47: int8 scalar-quantized ANN (SQ8) — the memory-compression path:
  // each float is snapped to an integer grid (floor(x·200 + 0.5); the
  // corpus lies in (−0.58, 0.52) so values stay within ±116, an int8
  // range). At 100 TB the quantized corpus is 4× smaller — the scan,
  // the cache footprint, and the shuffle all shrink with it — and
  // scoring becomes EXACT integer dot products, which removes every
  // floating-point determinism concern at once: no rounding, no margin,
  // ties broken by neighbor id. Ranking by raw dot ≈ cosine for the
  // near-unit-norm corpus; recall vs the exact float path is pinned by
  // spec. Same broadcast-queries/scan-corpus shape as q30.
  // -------------------------------------------------------------------
  private val SqScale = 200.0

  private def quantized(c: Column): Column = {
    import org.apache.spark.sql.types.{DoubleType, LongType}
    transform(c, x => floor(x.cast(DoubleType) * SqScale + lit(0.5)).cast(LongType))
  }

  def q47AnnSq8(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), quantized(col("embedding")).as("qe"))
      .repartition(spark.sessionState.conf.numShufflePartitions)
    val queries = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("qe").as("qq"))
    topKByQdot(e.select(col("vec_id").as("neighbor_id"), col("qe"))
      .crossJoin(broadcast(queries))
      .filter(col("neighbor_id") =!= col("query_id")), "qe")
  }

  val q47AnnSq8Sql: String =
    s"""WITH qz AS (
       |  SELECT vec_id, list_transform(embedding,
       |    x -> CAST(floor(CAST(x AS DOUBLE) * $SqScale + 0.5) AS BIGINT)) AS qe
       |  FROM embeddings),
       |q AS (SELECT vec_id AS query_id, qe AS qq FROM qz WHERE vec_id < $NumQueries),
       |scored AS (
       |  SELECT q.query_id, c.vec_id AS neighbor_id,
       |    CAST(list_sum(list_transform(list_zip(q.qq, c.qe),
       |      p -> p[1] * p[2])) AS BIGINT) AS qdot
       |  FROM q CROSS JOIN qz c
       |  WHERE c.vec_id <> q.query_id),
       |$qdotTopKSql""".stripMargin

  // -------------------------------------------------------------------
  // q48: IVF-SQ8 — the composition a 100 TB corpus actually runs: q34's
  // bounded ≈sqrt(n) coarse quantizer prunes the search to IvfProbe
  // cells, and INSIDE the probed cells the re-rank runs on q47's int8
  // grid (4× smaller candidate scan; cell lists store quantized vectors
  // only). Cell assignment and query probing keep the float-cosine
  // geometry (the same codegen'd VecCosine that is already
  // oracle-proven bit-identical in q34); the candidate scoring — the
  // part that touches O(n/nlist · probe) vectors per query — is exact
  // integer dot products: no rounding margin, ties by neighbor id, zero
  // FP determinism surface where the volume is. Memory shape at scale:
  // the full-precision corpus is read ONCE (assignment); everything
  // that persists or shuffles downstream (cell membership, candidate
  // join) carries the int8 vectors.
  // -------------------------------------------------------------------
  def q48AnnIvfSq8(spark: SparkSession, dir: String): DataFrame = {
    Vectors.register(spark)
    val raw = Tables.embeddings(spark, dir)
    val e = raw.repartition(spark.sessionState.conf.numShufflePartitions)
    val cents = sampleCentroids(raw)
    val wAssign = Window.partitionBy(col("vec_id"))
      .orderBy(col("csim").desc, col("cid").asc)
    val assigned = e.crossJoin(broadcast(cents))
      .withColumn("csim", Vectors.vecCosine(col("embedding"), col("ce")))
      .withColumn("crn", row_number().over(wAssign))
      .filter(col("crn") === 1)
      .select(col("vec_id").as("neighbor_id"),
        quantized(col("embedding")).as("nq"), col("cid"))
    val probed = nearest(
        e.filter(col("vec_id") < NumQueries)
          .select(col("vec_id").as("query_id"), col("embedding").as("qe")),
        "query_id", "qe", cents, IvfProbe)
      .select(col("query_id"), quantized(col("qe")).as("qq"), col("cid"))
    topKByQdot(assigned.join(broadcast(probed), Seq("cid"))
      .filter(col("neighbor_id") =!= col("query_id")), "nq")
  }

  val q48AnnIvfSq8Sql: String =
    s"""WITH ${centsSqlCte("cents")},
       |assigned AS (
       |  SELECT neighbor_id, list_transform(ne,
       |    x -> CAST(floor(CAST(x AS DOUBLE) * $SqScale + 0.5) AS BIGINT)) AS nq, cid
       |  FROM (
       |    SELECT e.vec_id AS neighbor_id, e.embedding AS ne, c.cid,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosSql("e.embedding", "c.ce")} DESC, c.cid ASC) AS crn
       |    FROM embeddings e CROSS JOIN cents c) t
       |  WHERE crn = 1),
       |probed AS (
       |  SELECT query_id, list_transform(qe,
       |    x -> CAST(floor(CAST(x AS DOUBLE) * $SqScale + 0.5) AS BIGINT)) AS qq, cid
       |  FROM (
       |    SELECT q.vec_id AS query_id, q.embedding AS qe, c.cid,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${cosSql("q.embedding", "c.ce")} DESC, c.cid ASC) AS crn
       |    FROM embeddings q CROSS JOIN cents c
       |    WHERE q.vec_id < $NumQueries) t
       |  WHERE crn <= $IvfProbe),
       |scored AS (
       |  SELECT query_id, neighbor_id,
       |    CAST(list_sum(list_transform(list_zip(qq, nq),
       |      p -> p[1] * p[2])) AS BIGINT) AS qdot
       |  FROM probed JOIN assigned USING (cid)
       |  WHERE neighbor_id <> query_id),
       |$qdotTopKSql""".stripMargin

  // -------------------------------------------------------------------
  // q49: product-quantization ANN (PQ with asymmetric distance, the
  // FAISS "IVF-free PQ/ADC" baseline): the 64-dim vector space is split
  // into PqM=8 subspaces of 8 dims; each subspace gets a ≈PqK-entry
  // codebook (the md5-threshold sample gadget again — fixed EXPECTED
  // size PqK, not a corpus fraction, so the codebook broadcast is O(1)
  // in the corpus); every corpus vector is encoded as its per-subspace
  // nearest codeword (8 small ids ≈ 8 BYTES a production layout stores
  // per vector — the most compressed representation in the ANN family:
  // float 256 B → SQ8 64 B → PQ 8 B). Queries stay raw (asymmetric):
  // per query, an L2² distance TABLE to every codeword is built
  // (PqM × |book| entries), and a candidate's approximate distance is
  // the sum of 8 table lookups — no per-pair float math at all.
  //
  // Determinism discipline: the per-subspace L2² runs in a fixed-order
  // array fold (identical IEEE doubles in both engines); table entries
  // are snapped to integer nanos (the t54 fixed-point recipe) BEFORE the
  // lookup-sum, so the 8-term sum is exact integer arithmetic in any
  // aggregation order and the ranking (asc distance, id tiebreak) can
  // never be flipped by summation order. Encoding ties break by
  // codeword id. The whole operator — codebook, encoding, tables,
  // ranking — is one deterministic function of the input, so it is
  // oracle-checked end-to-end like q34/q48.
  //
  // Scale shape: codebook ≈ PqM·PqK subvectors is the ONLY broadcast;
  // encoding is one corpus scan × PqK codewords per subspace; the
  // distance tables are queries × PqM·PqK (tiny, broadcast); the
  // scoring join never shuffles the corpus. Recall at a given budget is
  // below IVF-SQ8's (8 B/vector is the aggressive end of the
  // memory/recall trade) — DedupSimilaritySpec pins the floor.
  // -------------------------------------------------------------------
  private val PqM = 8
  private val PqSub = 8
  private val PqK = 16L

  /** Codebook-sample threshold: floor(2^60 · PqK / n) — expected PqK
    * codewords independent of n (vs centroidThreshold's ceil(√n)).
    */
  private[graft] def pqThreshold(n: Long): Long = {
    require(n > 0, "empty corpus has no codebook")
    (PortableHash.HashSpace * PqK / n).toLong
  }

  /** Fixed-order L2² fold over two float subvectors, in double. */
  private def l2sq(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) =>
        (x.cast(org.apache.spark.sql.types.DoubleType) -
         y.cast(org.apache.spark.sql.types.DoubleType)) *
        (x.cast(org.apache.spark.sql.types.DoubleType) -
         y.cast(org.apache.spark.sql.types.DoubleType))),
      lit(0.0), (acc, v) => acc + v)

  private def l2sqSql(a: String, b: String): String =
    s"""list_sum(list_transform(list_zip($a, $b),
       |      p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
       |         * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))""".stripMargin

  /** The PQ subspace view of a vector frame: one row per (vector,
    * subspace), carrying the PqSub-dim subvector. Shared by q49 and q51.
    */
  private def pqSubvectors(df: DataFrame, idAs: String, svAs: String): DataFrame =
    df.select(col("vec_id").as(idAs), posexplode(array((0 until PqM).map(m =>
        slice(col("embedding"), m * PqSub + 1, PqSub)): _*)))
      .select(col(idAs), col("pos").as("m"), col("col").as(svAs))

  /** (m, bid, sub): the md5-threshold-sampled per-subspace codebook —
    * one broadcast object of ≈PqM·PqK subvectors.
    */
  private def pqBook(raw: DataFrame): DataFrame =
    pqSubvectors(raw.filter(
      PortableHash.h60(col("vec_id")) < pqThreshold(raw.count())), "bid", "sub")

  /** Nearest-codeword encoding of every vector: (vec_id, m, code). */
  private def pqEncode(e: DataFrame, book: DataFrame): DataFrame = {
    val wEnc = Window.partitionBy(col("vec_id"), col("m"))
      .orderBy(col("d").asc, col("bid").asc)
    pqSubvectors(e, "vec_id", "sv")
      .join(broadcast(book), Seq("m"))
      .withColumn("d", l2sq(col("sv"), col("sub")))
      .withColumn("rn", row_number().over(wEnc))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("m"), col("bid").as("code"))
  }

  /** Per-query ADC distance tables in integer nanos:
    * (query_id, m, code, dn).
    */
  private def pqDistTables(e: DataFrame, book: DataFrame): DataFrame =
    pqSubvectors(e.filter(col("vec_id") < NumQueries), "query_id", "qv")
      .join(broadcast(book), Seq("m"))
      .select(col("query_id"), col("m"), col("bid").as("code"),
        floor(l2sq(col("qv"), col("sub")) * lit(1e9) + lit(0.5))
          .cast(org.apache.spark.sql.types.LongType).as("dn"))

  def q49AnnPq(spark: SparkSession, dir: String): DataFrame = {
    val raw = Tables.embeddings(spark, dir)
    val e = raw.repartition(spark.sessionState.conf.numShufflePartitions)
    val book = pqBook(raw)
    val encoded = pqEncode(e, book)
    val dtab = pqDistTables(e, book)
    topKByAdist(encoded.join(broadcast(dtab), Seq("m", "code"))
      .filter(col("vec_id") =!= col("query_id")))
  }

  /** Shared SQL fragments mirroring [[pqSubvectors]]/[[pqBook]]/
    * [[pqEncode]]/[[pqDistTables]] — q49 and q51 splice the same CTEs.
    */
  private def pqSubCte(src: String, idAs: String, svAs: String): String =
    s"""SELECT vec_id AS $idAs, m, list_slice(embedding, m * $PqSub + 1, (m + 1) * $PqSub) AS $svAs
       |  FROM $src CROSS JOIN range(0, $PqM) r(m)""".stripMargin

  private def pqBookCte: String =
    s"""book AS (
       |  ${pqSubCte("embeddings", "bid", "sub")}
       |  WHERE ${PortableHash.h60Sql("vec_id")} <
       |    (SELECT CAST(${PortableHash.HashSpaceSqlHugeInt} * $PqK / COUNT(*) AS BIGINT)
       |     FROM embeddings))""".stripMargin

  private def pqEncodedCtes: String =
    s"""corpus_sub AS (
       |  ${pqSubCte("embeddings", "vec_id", "sv")}),
       |encoded AS (
       |  SELECT vec_id, m, bid AS code FROM (
       |    SELECT c.vec_id, c.m, b.bid,
       |      ROW_NUMBER() OVER (PARTITION BY c.vec_id, c.m
       |        ORDER BY ${l2sqSql("c.sv", "b.sub")} ASC, b.bid ASC) AS rn
       |    FROM corpus_sub c JOIN book b USING (m)) t
       |  WHERE rn = 1)""".stripMargin

  private def pqDtabCte: String =
    s"""dtab AS (
       |  SELECT q.query_id, q.m, b.bid AS code,
       |    CAST(floor(${l2sqSql("q.sv", "b.sub")} * 1000000000.0 + 0.5) AS BIGINT) AS dn
       |  FROM (${pqSubCte("embeddings", "query_id", "sv")}
       |        WHERE vec_id < $NumQueries) q
       |  JOIN book b USING (m))""".stripMargin

  val q49AnnPqSql: String =
    s"""WITH $pqBookCte,
       |$pqEncodedCtes,
       |$pqDtabCte,
       |scored AS (
       |  SELECT d.query_id, e.vec_id AS neighbor_id,
       |    CAST(SUM(d.dn) AS BIGINT) AS adist_n
       |  FROM encoded e JOIN dtab d ON e.m = d.m AND e.code = d.code
       |  WHERE e.vec_id <> d.query_id
       |  GROUP BY 1, 2),
       |$adistTopKSql""".stripMargin

  // -------------------------------------------------------------------
  // q51: IVF-PQ — the remaining cell of the IVF × {flat, SQ8, PQ}
  // matrix (q34, q48, q49): the bounded ≈√n coarse quantizer prunes the
  // search to IvfProbe cells, and INSIDE the probed cells candidates are
  // scored with q49's asymmetric PQ distance tables — the classic FAISS
  // IVFPQ layout, where the inverted lists store 8-BYTE codes and the
  // only full-precision reads are the one assignment scan and the query
  // vectors. Distance tables stay integer nanos (exact sum in any
  // order); candidate ranking ties by neighbor id; cell assignment and
  // probing reuse the oracle-proven float-cosine geometry of q34.
  //
  // Scale: broadcasts are the √n centroid set, the PqM·PqK codebook,
  // and the per-query tables — all corpus-independent or sublinear; the
  // corpus is scanned once for assignment and once for encoding (a real
  // index build fuses these in one pass; declaratively they are two
  // scans of the same cached-nothing parquet), and the scoring join
  // touches only probed-cell members.
  // -------------------------------------------------------------------
  def q51AnnIvfPq(spark: SparkSession, dir: String): DataFrame = {
    Vectors.register(spark)
    val raw = Tables.embeddings(spark, dir)
    val e = raw.repartition(spark.sessionState.conf.numShufflePartitions)
    val cents = sampleCentroids(raw)
    // cell membership (IVF) — q48's assignment, ids only
    val assigned = nearest(e.select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", cents, 1)
      .select(col("vec_id"), col("cid"))
    // PQ codes per corpus vector + per-query ADC tables — q49's machinery
    val book = pqBook(raw)
    val encoded = pqEncode(e, book)
    val dtab = pqDistTables(e, book)
    // probed cells per query
    val probed = nearest(
        e.filter(col("vec_id") < NumQueries)
          .select(col("vec_id").as("query_id"), col("embedding").as("qe")),
        "query_id", "qe", cents, IvfProbe)
      .select(col("query_id"), col("cid"))
    // candidates = corpus members of probed cells; score by table lookup
    val cand = assigned.join(broadcast(probed), Seq("cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))
    topKByAdist(cand.join(encoded, Seq("vec_id"))
      .join(broadcast(dtab), Seq("query_id", "m", "code")))
  }

  val q51AnnIvfPqSql: String =
    s"""WITH ${centsSqlCte("cents")},
       |assigned AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT e.vec_id, c.cid,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosSql("e.embedding", "c.ce")} DESC, c.cid ASC) AS crn
       |    FROM embeddings e CROSS JOIN cents c) t
       |  WHERE crn = 1),
       |$pqBookCte,
       |$pqEncodedCtes,
       |probed AS (
       |  SELECT query_id, cid FROM (
       |    SELECT q.vec_id AS query_id, c.cid,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${cosSql("q.embedding", "c.ce")} DESC, c.cid ASC) AS crn
       |    FROM embeddings q CROSS JOIN cents c
       |    WHERE q.vec_id < $NumQueries) t
       |  WHERE crn <= $IvfProbe),
       |$pqDtabCte,
       |cand AS (
       |  SELECT p.query_id, a.vec_id
       |  FROM assigned a JOIN probed p USING (cid)
       |  WHERE a.vec_id <> p.query_id),
       |scored AS (
       |  SELECT c.query_id, c.vec_id AS neighbor_id,
       |    CAST(SUM(d.dn) AS BIGINT) AS adist_n
       |  FROM cand c
       |  JOIN encoded e ON e.vec_id = c.vec_id
       |  JOIN dtab d ON d.query_id = c.query_id AND d.m = e.m AND d.code = e.code
       |  GROUP BY 1, 2),
       |$adistTopKSql""".stripMargin

  // -------------------------------------------------------------------
  // q50: hybrid retrieval — the two-stage lexical→semantic search a
  // RAG/retrieval pipeline runs: stage 1 scores every corpus doc by
  // DISTINCT-token overlap with the query doc's tokens (the cheap,
  // inverted-index-shaped signal) and keeps the top HybridCand; stage 2
  // re-ranks only those candidates by embedding cosine (doc_id joins
  // vec_id; the corpus is semi-joined to embeddings up front so every
  // candidate is rankable by construction) and returns the top K.
  //
  // Scale shape: the query set is the only broadcast (both its token
  // arrays and its embeddings); stage 1 is one corpus scan × |queries|
  // intersect-counts; stage 2 touches HybridCand rows per query — the
  // expensive float kernel runs on 50 rows/query, not the corpus. At
  // real scale stage 1 is served by an inverted index (term →
  // postings); the declarative form here IS that join's semantics, with
  // the token arrays standing in for postings lists. Lexical ranks tie
  // by doc id; the cosine re-rank ties by doc id — fully deterministic,
  // oracle-checked end-to-end.
  // -------------------------------------------------------------------
  private val HybridQueries = 5
  private val HybridCand = 50

  def q50HybridSearch(spark: SparkSession, dir: String): DataFrame = {
    Vectors.register(spark)
    val e = Tables.embeddings(spark, dir)
    // Semi-join the corpus against embeddings BEFORE the lexical ranking:
    // a lexical candidate without an embedding would silently vanish at
    // the stage-2 re-rank join and shrink the per-query result below K.
    // At the gated SFs coverage happens to be total over the top-50
    // (doc-id-ASC ties bias candidates low), but that was an unchecked
    // accident (ADVICE r06) — this makes "candidate" mean "rankable" by
    // construction, in both engines.
    val base = Tables.documents(spark, dir)
      .repartition(spark.sessionState.conf.numShufflePartitions)
      .join(e.select(col("vec_id").as("doc_id")), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("ts"))
    val qs = base.filter(col("doc_id") < HybridQueries)
      .select(col("doc_id").as("query_id"), col("ts").as("qts"))
    val wLex = Window.partitionBy(col("query_id"))
      .orderBy(col("overlap").desc, col("doc_id").asc)
    val cand = base.crossJoin(broadcast(qs))
      .filter(col("doc_id") =!= col("query_id"))
      .withColumn("overlap", size(array_intersect(col("ts"), col("qts"))))
      .withColumn("lrn", row_number().over(wLex))
      .filter(col("lrn") <= HybridCand)
      .select(col("query_id"), col("doc_id"), col("overlap"))
    val wSim = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("doc_id").asc)
    cand
      .join(e.select(col("vec_id").as("doc_id"), col("embedding").as("ne")), "doc_id")
      .join(broadcast(e.filter(col("vec_id") < HybridQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"))), "query_id")
      .withColumn("sim", Vectors.vecCosine(col("qe"), col("ne")))
      .withColumn("rn", row_number().over(wSim))
      .filter(col("rn") <= K)
      .select(col("query_id"), col("rn"), col("doc_id"), col("overlap"),
        round(col("sim"), 6).as("sim"))
      .orderBy(col("query_id"), col("rn"))
  }

  val q50HybridSearchSql: String =
    s"""WITH base AS (
       |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS ts FROM documents
       |  WHERE doc_id IN (SELECT vec_id FROM embeddings)),
       |qs AS (
       |  SELECT doc_id AS query_id, ts AS qts FROM base WHERE doc_id < $HybridQueries),
       |lex AS (
       |  SELECT query_id, doc_id, overlap FROM (
       |    SELECT q.query_id, b.doc_id,
       |      len(list_intersect(b.ts, q.qts)) AS overlap,
       |      ROW_NUMBER() OVER (PARTITION BY q.query_id
       |        ORDER BY len(list_intersect(b.ts, q.qts)) DESC, b.doc_id ASC) AS lrn
       |    FROM base b CROSS JOIN qs q
       |    WHERE b.doc_id <> q.query_id) t
       |  WHERE lrn <= $HybridCand),
       |scored AS (
       |  SELECT l.query_id, l.doc_id, l.overlap,
       |    ${cosSql("qe.embedding", "ne.embedding")} AS sim
       |  FROM lex l
       |  JOIN embeddings ne ON ne.vec_id = l.doc_id
       |  JOIN embeddings qe ON qe.vec_id = l.query_id),
       |ranked AS (
       |  SELECT query_id, doc_id, overlap, sim,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY sim DESC, doc_id ASC) AS rn
       |  FROM scored)
       |SELECT query_id, rn, doc_id, overlap, ROUND(sim, 6) AS sim
       |FROM ranked WHERE rn <= $K
       |ORDER BY query_id, rn""".stripMargin

  // -------------------------------------------------------------------
  // d48: semantic dedup (the SemDeDup recipe): cluster the corpus with
  // the bounded ≈sqrt(n) coarse quantizer (q34's md5-threshold sample —
  // the SAME oracle-portable cell assignment), then compare vectors only
  // WITHIN their cell and mark each vector that has a lower-id cell-mate
  // with cosine >= PairThreshold as a duplicate of the smallest such id.
  // The id-ordered dominance rule makes the keeper election a pure
  // function of the input (d40's discipline, lifted to semantic space).
  //
  // Scale shape: centroids are the only broadcast (O(sqrt(n))); the
  // pair stage is an equi-join on cid, so pair cost is sum over cells of
  // |cell|²/2 — with the sqrt(n) quantizer that's O(n^1.5) worst-case,
  // and nlist is the density knob: a production run sizes nlist ∝ n/c
  // for a constant c-sized cell (SemDeDup's k), making the stage linear.
  // Hot cells are the q32 story: cap with BucketGuard when a real
  // corpus's density demands it (the gated SFs stay far below any cap,
  // so the oracle mirrors the uncapped form, as q32 does).
  //
  // dup_of uses -1 (never a vec_id) for "kept": the sentinel keeps the
  // output column non-null for the driver's value hash.
  // -------------------------------------------------------------------
  def d48SemDedup(spark: SparkSession, dir: String): DataFrame = {
    Vectors.register(spark)
    val raw = Tables.embeddings(spark, dir)
    val e = raw.repartition(spark.sessionState.conf.numShufflePartitions)
    val cents = sampleCentroids(raw)
    val assigned = nearest(e.select(col("vec_id"), col("embedding")),
      "vec_id", "embedding", cents, 1)
    val dupOf = assigned.as("a").join(assigned.as("b"),
        col("a.cid") === col("b.cid") && col("a.vec_id") < col("b.vec_id"))
      .withColumn("sim", round(Vectors.vecCosine(col("a.embedding"), col("b.embedding")), 6))
      .filter(col("sim") >= PairThreshold)
      .groupBy(col("b.vec_id").as("vec_id"))
      .agg(min(col("a.vec_id")).as("dup_min"))
    assigned.select(col("vec_id"), col("cid"))
      .join(dupOf, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"),
        coalesce(col("dup_min"), lit(-1L)).as("dup_of"),
        col("dup_min").isNull.cast(org.apache.spark.sql.types.IntegerType).as("kept"))
      .orderBy(col("vec_id"))
  }

  val d48SemDedupSql: String =
    s"""WITH ${centsSqlCte("cents")},
       |assigned AS (
       |  SELECT vec_id, embedding, cid FROM (
       |    SELECT e.vec_id, e.embedding, c.cid,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosSql("e.embedding", "c.ce")} DESC, c.cid ASC) AS crn
       |    FROM embeddings e CROSS JOIN cents c) t
       |  WHERE crn = 1),
       |dup AS (
       |  SELECT b.vec_id AS vec_id, MIN(a.vec_id) AS dup_min
       |  FROM assigned a JOIN assigned b
       |    ON a.cid = b.cid AND a.vec_id < b.vec_id
       |  WHERE ROUND(${cosSql("a.embedding", "b.embedding")}, 6) >= $PairThreshold
       |  GROUP BY b.vec_id)
       |SELECT s.vec_id, s.cid,
       |  COALESCE(d.dup_min, -1) AS dup_of,
       |  CAST(d.dup_min IS NULL AS INTEGER) AS kept
       |FROM assigned s LEFT JOIN dup d USING (vec_id)
       |ORDER BY s.vec_id""".stripMargin

  // -------------------------------------------------------------------
  // d64: incremental SemDeDup against a persisted quantizer + cell
  // index — the embedding-path sibling of d63 (VERDICT r13 item 1),
  // closing the last dedup path without an incremental story. State
  // between advances:
  //  - the FROZEN coarse quantizer: the ≈√n md5-sampled centroid set of
  //    the reference corpus — the artifact a production pipeline fits on
  //    its first full snapshot and re-fits only on drift (a re-fit
  //    implies replaying affected cells, exactly as d63's banding scheme
  //    change would imply re-banding);
  //  - the accumulated cell-assignment index (vec_id, cid, embedding) —
  //    assignments are NEVER recomputed; and
  //  - the accumulated per-vector dup minima.
  // A new id-monotone batch is assigned to the frozen cells ONCE (one
  // broadcast-centroid scan over the batch), then compared against the
  // accumulated index WITHIN its cells — per-advance work is
  // O(|batch| × cell-mates), never a corpus re-cluster. Because ids are
  // batch-monotone, every (a < b) duplicate pair surfaces exactly when
  // b's batch arrives (all lower-id cell-mates are already indexed), so
  // each advance's per-vector MIN(a) is FINAL — deltas union, they never
  // merge. The folded result is EXACTLY the from-scratch d48 run under
  // the same quantizer: the oracle is d48's SQL VERBATIM over the union,
  // making incremental ≡ recompute a cross-engine hash check (the
  // d63/c71 discipline, here for the embedding path).
  // -------------------------------------------------------------------

  /** The fold's between-advance state: the FROZEN quantizer, the
    * accumulated cell-assignment index (vec_id, embedding, cid), and
    * the accumulated per-vector dup minima (final per row). `null`
    * index/dups = the empty pre-first-advance state.
    */
  final case class SemDedupState(cents: DataFrame, index: DataFrame, dups: DataFrame)

  /** One advance: assign the id-monotone batch to the frozen cells ONCE,
    * compare it against the accumulated index within its cells, union
    * the (final) per-vector dup-min delta.
    */
  private[graft] def advanceSemDedup(state: SemDedupState, b: DataFrame): SemDedupState = {
    // assign the newcomers once; the index is never re-assigned
    // constraint-shedding checkpoint: see [[Checkpoints.fresh]]
    val newAssigned = Checkpoints.fresh(
      nearest(b.select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", state.cents, 1),
      "vec_id", "embedding", "cid")
    val all = if (state.index == null) newAssigned
      else state.index.unionByName(newAssigned)
    // dup delta = every pair whose LATER member is in this batch; its
    // per-vector min is final (all lower ids are already in `all`)
    val delta = all.as("a").join(newAssigned.as("b"),
        col("a.cid") === col("b.cid") && col("a.vec_id") < col("b.vec_id"))
      .withColumn("sim", round(Vectors.vecCosine(col("a.embedding"), col("b.embedding")), 6))
      .filter(col("sim") >= PairThreshold)
      .groupBy(col("b.vec_id").as("vec_id"))
      .agg(min(col("a.vec_id")).as("dup_min"))
    val dups = if (state.dups == null) Checkpoints.fresh(delta, "vec_id", "dup_min")
      else Checkpoints.fresh(state.dups.unionByName(delta), "vec_id", "dup_min")
    SemDedupState(state.cents, all.graftCheckpoint(true), dups)
  }

  /** d48's (vec_id, cid, dup_of, kept) shape for everything folded so
    * far. Unordered.
    */
  private[graft] def semDedupOf(state: SemDedupState): DataFrame =
    state.index.select(col("vec_id"), col("cid"))
      .join(state.dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"),
        coalesce(col("dup_min"), lit(-1L)).as("dup_of"),
        col("dup_min").isNull.cast(org.apache.spark.sql.types.IntegerType).as("kept"))

  /** Fold id-monotone (vec_id, embedding) batches against the frozen
    * centroid set `cents`; returns d48's (vec_id, cid, dup_of, kept)
    * shape over the batches' union — ≡ [[d48SemDedup]] when `cents` is
    * the union's quantizer. Unordered.
    */
  private[graft] def incrementalSemDedup(batches: Seq[DataFrame],
                                         cents: DataFrame): DataFrame =
    semDedupOf(batches.foldLeft(SemDedupState(cents, null, null))(advanceSemDedup))

  def d64IncrementalSemDedup(spark: SparkSession, dir: String): DataFrame = {
    Vectors.register(spark)
    val raw = Tables.embeddings(spark, dir)
    // empty-corpus guard (ADVICE r14): no corpus → no quantizer to fit
    // (sampleCentroids requires n > 0); return the empty d48 shape
    if (raw.isEmpty)
      return raw.select(col("vec_id"), col("vec_id").as("cid"),
        lit(-1L).as("dup_of"),
        lit(1).cast(org.apache.spark.sql.types.IntegerType).as("kept"))
    // the persisted quantizer: d48's centroid sample over the horizon
    // corpus, fit once and frozen across both advances
    val cents = sampleCentroids(raw)
    incrementalSemDedup(Increments.monotoneHalves(raw, "vec_id"), cents)
      .orderBy(col("vec_id"))
  }

  // -------------------------------------------------------------------
  // d67: the SemDeDup fold RESUMED FROM DISK — d64's operator promoted
  // to a pipeline (VERDICT r14 item 1, embedding path): the frozen
  // quantizer, the accumulated cell index, and the dup minima persist
  // as parquet between runs; each run loads them, folds its batch, and
  // writes the advanced state back. The quantizer's float vectors
  // round-trip parquet bit-exactly, so every post-resume cell
  // assignment — and therefore the whole folded result — still matches
  // d48's SQL VERBATIM over the union (the oracle), now across a
  // durability boundary.
  // -------------------------------------------------------------------

  private[graft] def saveSemDedupState(state: SemDedupState, path: String): Unit =
    Increments.saveState(path, "quantizer" -> state.cents,
      "cell_index" -> state.index, "dup_minima" -> state.dups)

  private[graft] def loadSemDedupState(spark: SparkSession, path: String): SemDedupState =
    SemDedupState(
      Increments.loadState(spark, path, "quantizer", "cid", "ce"),
      Increments.loadState(spark, path, "cell_index", "vec_id", "embedding", "cid"),
      Increments.loadState(spark, path, "dup_minima", "vec_id", "dup_min"))

  def d67ResumedSemDedup(spark: SparkSession, dir: String): DataFrame = {
    Vectors.register(spark)
    val raw = Tables.embeddings(spark, dir)
    if (raw.isEmpty) // no corpus → no quantizer to fit (d64's guard)
      return raw.select(col("vec_id"), col("vec_id").as("cid"),
        lit(-1L).as("dup_of"),
        lit(1).cast(org.apache.spark.sql.types.IntegerType).as("kept"))
    val batches = Increments.monotoneHalves(raw, "vec_id")
    val stateDir = java.nio.file.Files.createTempDirectory("graft_d67_state").toString
    try {
      // run 1: fit + freeze the quantizer, fold batch 1, persist all
      saveSemDedupState(advanceSemDedup(
        SemDedupState(sampleCentroids(raw), null, null), batches.head), stateDir)
      // run 2: the resumed fold sees ONLY the disk state
      val resumed = batches.tail.foldLeft(loadSemDedupState(spark, stateDir))(
        advanceSemDedup)
      saveSemDedupState(resumed, stateDir) // the nightly write-back
      semDedupOf(resumed).orderBy(col("vec_id"))
    } finally Increments.deleteRecursively(stateDir)
  }

  // -------------------------------------------------------------------
  // d65: corpus kNN-graph topic clustering — the domain-DISCOVERY
  // operator in front of the mixture machinery (c87's divergence audit
  // and c82's DoReMi reweighting both take domain labels as GIVEN; this
  // derives them from embedding space): build the mutual-kNN graph over
  // IVF-probed candidates and read topics off its connected components
  // (mutual-kNN components are the standard density-robust clustering —
  // a one-directional kNN edge chains through hubs, the mutuality
  // requirement cuts them).
  //
  // Pipeline: q34's bounded ≈√n quantizer → every vector assigned to its
  // TopicProbe nearest cells (multi-probe, so topics can BRIDGE adjacent
  // cells — single-cell edges would make components mere cell
  // subdivisions) → candidate pairs = vectors sharing a probed cell
  // (equi-join, never all-pairs) → per-vector top-TopicK by cosine →
  // keep edges present in BOTH directions → d45's pointer-jumping
  // components → singletons label themselves.
  //
  // Scale shape: centroids are the only broadcast; candidates are
  // cell-bounded (the d48 density-knob argument); the top-k windows
  // partition per vector over its own candidates; the mutual filter is
  // an equi-self-join of an n·k frame; components run on ≤ n·k/2 edges
  // (pointer jumping, log-diameter rounds). Every stage is the same
  // IEEE-deterministic arithmetic as q34, so the whole operator — graph
  // construction AND community resolution — is oracle-checked.
  // -------------------------------------------------------------------
  private val TopicK = 3
  private val TopicProbe = 2

  /** The mutual-kNN edge frame (va < vb) — d65's graph-construction
    * stage, exposed pre-components so PlanShapeSpec can pin its shape
    * (the components loop executes eagerly, hiding these subplans from
    * the final frame's plan).
    */
  /** Scored candidate pairs (va < vb, raw cosine) from a multi-probe
    * cell-assignment frame — one cosine per unordered pair, however many
    * cells it shares (first() is deterministic here: same pair → same
    * embeddings). `left` is the full assignment frame; `right` the
    * subset whose pairs to surface (= `left` for from-scratch, = the
    * new batch's rows for an incremental advance).
    */
  private def scoredCellPairs(left: DataFrame, right: DataFrame): DataFrame =
    left.as("a").join(right.as("b"),
        col("a.cid") === col("b.cid") && col("a.vec_id") < col("b.vec_id"))
      .groupBy(col("a.vec_id").as("va"), col("b.vec_id").as("vb"))
      .agg(first(col("a.embedding")).as("ea"), first(col("b.embedding")).as("eb"))
      .withColumn("sim", Vectors.vecCosine(col("ea"), col("eb")))
      .select(col("va"), col("vb"), col("sim"))

  /** Mutual top-k filter over scored candidate pairs: per-vector
    * top-TopicK directed edges, kept only when present in BOTH
    * directions.
    */
  private def mutualTopkEdges(cand: DataFrame): DataFrame = {
    val dirEdges = cand.select(col("va").as("src"), col("vb").as("dst"), col("sim"))
      .unionByName(cand.select(col("vb").as("src"), col("va").as("dst"), col("sim")))
    val wK = Window.partitionBy(col("src")).orderBy(col("sim").desc, col("dst").asc)
    val topk = dirEdges
      .withColumn("rn", row_number().over(wK))
      .filter(col("rn") <= TopicK)
      .select(col("src"), col("dst"))
    topk.as("x").join(topk.as("y"),
        col("x.src") === col("y.dst") && col("x.dst") === col("y.src"))
      .filter(col("x.src") < col("x.dst"))
      .select(col("x.src").as("va"), col("x.dst").as("vb"))
  }

  private[graft] def d65MutualEdges(spark: SparkSession, dir: String): DataFrame = {
    Vectors.register(spark)
    val raw = Tables.embeddings(spark, dir)
    val e = raw.repartition(spark.sessionState.conf.numShufflePartitions)
    val cents = sampleCentroids(raw)
    val assigned = nearest(e.select(col("vec_id"), col("embedding")),
      "vec_id", "embedding", cents, TopicProbe)
    mutualTopkEdges(scoredCellPairs(assigned, assigned))
  }

  /** d65's output shape: every vector labeled with its mutual-kNN
    * component (singletons label themselves) and the component size.
    */
  private def topicClustersFrom(ids: DataFrame, mutualEdges: DataFrame): DataFrame = {
    val comp = Dedup.connectedComponents(mutualEdges, "va", "vb")
      .withColumnRenamed("doc_id", "vec_id")
    ids
      .join(comp, Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(col("cluster_id"), col("vec_id")).as("cluster_id"))
      .withColumn("n_members",
        count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
      .orderBy(col("vec_id"))
  }

  def d65KnnTopicClusters(spark: SparkSession, dir: String): DataFrame = {
    val raw = Tables.embeddings(spark, dir)
    val e = raw.repartition(spark.sessionState.conf.numShufflePartitions)
    topicClustersFrom(e.select(col("vec_id")), d65MutualEdges(spark, dir))
  }

  // -------------------------------------------------------------------
  // d68: d65's fold — incremental topic clustering against the frozen
  // quantizer (VERDICT r14 item 5, the one round-14 surface without an
  // incremental story). What folds and what doesn't, honestly split:
  //
  //  - The EXPENSIVE stages fold. Cell assignment (one broadcast-
  //    centroid scan per batch, never re-assigned) and candidate
  //    scoring (batch × accumulated cell-mates, one cosine per new
  //    unordered pair) follow the d64 advance discipline: ids are
  //    batch-monotone and probe sets are fixed at arrival, so every
  //    (a < b) pair's EVERY shared cell exists the moment b arrives —
  //    scored deltas are final and union, never merge.
  //  - The CHEAP resolution recomputes. Top-k is a global property (a
  //    later neighbor can displace an earlier one from a vector's
  //    top-3), so per-vector top-k, the mutuality filter, and the
  //    components re-run at read time — over the accumulated n·k-ish
  //    SCORED PAIR frame (corpus-orders smaller than the corpus; no
  //    embedding is touched again).
  //
  // Folded result ≡ from-scratch d65 under the same quantizer: the
  // oracle is d65's SQL VERBATIM over the union.
  // -------------------------------------------------------------------

  /** The fold's between-advance state: the frozen quantizer, the
    * accumulated multi-probe assignment index (TopicProbe rows per
    * vector), and the accumulated scored candidate pairs.
    */
  final case class TopicState(cents: DataFrame, index: DataFrame, cand: DataFrame)

  private[graft] def advanceTopics(state: TopicState, b: DataFrame): TopicState = {
    // probe-assign the newcomers once; the index is never re-assigned
    val newAssigned = Checkpoints.fresh(
      nearest(b.select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", state.cents, TopicProbe),
      "vec_id", "embedding", "cid")
    // the first batch's index IS its (already checkpointed) assignment
    val index = if (state.index == null) newAssigned
      else state.index.unionByName(newAssigned).graftCheckpoint(true)
    // scored delta = every pair whose LATER member is in this batch
    val delta = scoredCellPairs(index, newAssigned)
    val cand = if (state.cand == null) Checkpoints.fresh(delta, "va", "vb", "sim")
      else Checkpoints.fresh(state.cand.unionByName(delta), "va", "vb", "sim")
    TopicState(state.cents, index, cand)
  }

  /** d65's cluster labeling for everything folded so far. */
  private[graft] def topicClustersOf(state: TopicState): DataFrame =
    topicClustersFrom(state.index.select(col("vec_id")).distinct(),
      mutualTopkEdges(state.cand))

  def d68IncrementalTopics(spark: SparkSession, dir: String): DataFrame = {
    Vectors.register(spark)
    val raw = Tables.embeddings(spark, dir)
    // one scan sizes the whole fold: n fits the quantizer, max(id) splits
    // the batches
    val size = raw.agg(count(lit(1)), max(col("vec_id"))).head()
    if (size.getLong(0) == 0) // no corpus → no quantizer to fit (d64's guard)
      return raw.select(col("vec_id"), col("vec_id").as("cluster_id"),
        lit(1L).as("n_members"))
    val cents = sampleCentroids(raw, size.getLong(0))
    val maxId = if (size.isNullAt(1)) None else Some(size.getLong(1))
    topicClustersOf(Increments.halvesAt(raw, "vec_id", maxId)
      .foldLeft(TopicState(cents, null, null))(advanceTopics))
  }

  val d65KnnTopicClustersSql: String = {
    // VERDICT r16 item 5: the former WITH RECURSIVE transitive closure
    // materializes O(sum of component^2) reachability pairs — fine at the
    // gate SFs, >20 min at sf1's 20k vectors. The shared unrolled
    // FastSV chain ([[CcSql]]) is O(rounds * |E|) and converges at sf1.
    s"""WITH ${centsSqlCte("cents")},
       |assigned AS MATERIALIZED (
       |  SELECT vec_id, cid FROM (
       |    SELECT e.vec_id, c.cid,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosSql("e.embedding", "c.ce")} DESC, c.cid ASC) AS crn
       |    FROM embeddings e CROSS JOIN cents c) t
       |  WHERE crn <= $TopicProbe),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
       |  FROM assigned a JOIN assigned b
       |    ON a.cid = b.cid AND a.vec_id < b.vec_id),
       |scored AS MATERIALIZED (
       |  SELECT va, vb, ${cosSql("ea.embedding", "eb.embedding")} AS sim
       |  FROM cand
       |  JOIN embeddings ea ON ea.vec_id = va
       |  JOIN embeddings eb ON eb.vec_id = vb),
       |dirs AS (
       |  SELECT va AS src, vb AS dst, sim FROM scored
       |  UNION ALL SELECT vb, va, sim FROM scored),
       |topk AS MATERIALIZED (
       |  SELECT src, dst FROM (
       |    SELECT src, dst,
       |      ROW_NUMBER() OVER (PARTITION BY src
       |        ORDER BY sim DESC, dst ASC) AS rn
       |    FROM dirs) t
       |  WHERE rn <= $TopicK),
       |mutual AS (
       |  SELECT x.src AS a, x.dst AS b
       |  FROM topk x JOIN topk y ON x.src = y.dst AND x.dst = y.src
       |  WHERE x.src < x.dst),
       |edges AS MATERIALIZED (
       |  SELECT a, b FROM mutual UNION SELECT b, a FROM mutual),
       |${CcSql.stages()},
       |comp AS (SELECT id, l AS cluster_id FROM ${CcSql.labels()})
       |SELECT e.vec_id,
       |  COALESCE(c.cluster_id, e.vec_id) AS cluster_id,
       |  CAST(COUNT(*) OVER (
       |    PARTITION BY COALESCE(c.cluster_id, e.vec_id)) AS BIGINT) AS n_members
       |FROM embeddings e LEFT JOIN comp c ON c.id = e.vec_id
       |ORDER BY e.vec_id""".stripMargin
  }

  // -------------------------------------------------------------------
  // d61: cluster-cap diversity selection — the density-equalization
  // step a curated training mix runs AFTER near-dup removal (the D4 /
  // SSL-prototypes recipe): assign every vector to its nearest bounded
  // coarse cell (q34's ≈√n md5-sampled centroids), rank each cell's
  // members by prototypicality (cosine to own centroid DESC, id ASC),
  // and keep at most CapPerCell per cell — over-dense regions of
  // embedding space lose their long tail instead of dominating the mix.
  //
  // Scale shape: the one broadcast is the O(√n) centroid set; cell
  // assignment is the q34 oracle-proven scan; the per-cell rank windows
  // over ~√n-sized partitions (cells), never a global sort. Output is
  // the full per-vector selection mask (the operator's contract — it
  // feeds a keeper join downstream), kept flag derived from the rank.
  // -------------------------------------------------------------------
  private val CapPerCell = 8

  def d61ClusterCap(spark: SparkSession, dir: String): DataFrame = {
    Vectors.register(spark)
    val raw = Tables.embeddings(spark, dir)
    val e = raw.repartition(spark.sessionState.conf.numShufflePartitions)
    val cents = sampleCentroids(raw)
    val wA = Window.partitionBy(col("vec_id")).orderBy(col("csim").desc, col("cid").asc)
    val assigned = e.crossJoin(broadcast(cents))
      .withColumn("csim", Vectors.vecCosine(col("embedding"), col("ce")))
      .withColumn("crn", row_number().over(wA))
      .filter(col("crn") === 1)
      .select(col("vec_id"), col("cid"), col("csim"))
    val wC = Window.partitionBy(col("cid")).orderBy(col("csim").desc, col("vec_id").asc)
    assigned
      .withColumn("rnk", row_number().over(wC).cast(org.apache.spark.sql.types.LongType))
      .withColumn("cell_n", count(lit(1)).over(Window.partitionBy(col("cid"))))
      .select(col("vec_id"), col("cid"), round(col("csim"), 6).as("csim"),
        col("rnk"), col("cell_n"),
        (col("rnk") <= CapPerCell).cast(org.apache.spark.sql.types.IntegerType).as("kept"))
      .orderBy(col("vec_id"))
  }

  val d61ClusterCapSql: String =
    s"""WITH ${centsSqlCte("cents")},
       |assigned AS (
       |  SELECT vec_id, cid, csim FROM (
       |    SELECT e.vec_id, c.cid,
       |      ${cosSql("e.embedding", "c.ce")} AS csim,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosSql("e.embedding", "c.ce")} DESC, c.cid ASC) AS crn
       |    FROM embeddings e CROSS JOIN cents c) t
       |  WHERE crn = 1)
       |SELECT vec_id, cid, ROUND(csim, 6) AS csim,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY cid
       |    ORDER BY csim DESC, vec_id ASC) AS BIGINT) AS rnk,
       |  CAST(COUNT(*) OVER (PARTITION BY cid) AS BIGINT) AS cell_n,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY cid
       |    ORDER BY csim DESC, vec_id ASC) <= $CapPerCell AS INTEGER) AS kept
       |FROM assigned
       |ORDER BY vec_id""".stripMargin

  // -------------------------------------------------------------------
  // d62: MMR (maximal-marginal-relevance) re-ranking — the diversity
  // pass a retrieval stack runs over its ANN candidates before they
  // reach a context window: greedily pick k results balancing relevance
  // to the query against redundancy with what is already picked,
  // score(c) = λ·sim(q,c) − (1−λ)·max_{s∈S} sim(c,s) (Carbonell &
  // Goldstein 1998). k is a CONSTANT, so the greedy loop unrolls into k
  // declarative stages — no recursion, no driver loop — and the oracle
  // replays the identical k-stage chain in SQL.
  //
  // Scale shape: candidate generation is the q30 single-scan brute
  // kernel (broadcast queries, per-query top-MmrCand reduction); the
  // MMR stages then touch only |queries|·MmrCand rows — localCheckpoint
  // materializes that bounded frame once because all k stages re-read
  // it (q93's shared-frame idiom; at 100 TB the alternative re-scores
  // the corpus k times).
  // -------------------------------------------------------------------
  private val MmrCand = 20
  private val MmrK = 5
  private val MmrLambda = 0.7

  def d62MmrRerank(spark: SparkSession, dir: String): DataFrame = {
    Vectors.register(spark)
    val raw = Tables.embeddings(spark, dir)
    val e = raw.repartition(spark.sessionState.conf.numShufflePartitions)
    val queries = raw.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val wTop = Window.partitionBy(col("query_id")).orderBy(col("rel").desc, col("neighbor_id").asc)
    val cand = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("ne"))
      .crossJoin(broadcast(queries))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("rel", Vectors.vecCosine(col("qe"), col("ne")))
      .withColumn("rn", row_number().over(wTop))
      .filter(col("rn") <= MmrCand)
      .select(col("query_id"), col("neighbor_id"), col("ne"), col("rel"))
      .graftCheckpoint()
    val first = cand.withColumn("rn", row_number().over(wTop)).filter(col("rn") === 1)
      .select(col("query_id"), col("neighbor_id"), col("ne"), col("rel"),
        col("rel").as("score"), lit(1).as("pick_rank"))
    val selected = (2 to MmrK).foldLeft(first) { case (sel, i) =>
      // the selected set is <= |queries|·(i-1) rows — broadcast both
      // stage joins (the checkpointed cand frame carries no stats, so
      // the planner would otherwise fall back to sort-merge)
      val rem = cand.join(broadcast(sel.select(col("query_id"), col("neighbor_id"))),
        Seq("query_id", "neighbor_id"), "left_anti")
      val wPick = Window.partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("neighbor_id").asc)
      val pick = rem
        .join(broadcast(sel.select(col("query_id"), col("ne").as("se"))), Seq("query_id"))
        .groupBy(col("query_id"), col("neighbor_id"), col("ne"), col("rel"))
        .agg(max(Vectors.vecCosine(col("ne"), col("se"))).as("msim"))
        .withColumn("score",
          lit(MmrLambda) * col("rel") - lit(1.0 - MmrLambda) * col("msim"))
        .withColumn("prn", row_number().over(wPick))
        .filter(col("prn") === 1)
        .select(col("query_id"), col("neighbor_id"), col("ne"), col("rel"),
          col("score"), lit(i).as("pick_rank"))
      sel.unionAll(pick)
    }
    selected
      .select(col("query_id"), col("pick_rank"), col("neighbor_id"),
        round(col("rel"), 6).as("rel"), round(col("score"), 6).as("mmr_score"))
      .orderBy(col("query_id"), col("pick_rank"))
  }

  val d62MmrRerankSql: String = {
    def stage(i: Int): String = {
      val prev = s"sel${i - 1}"
      // MATERIALIZED is load-bearing: each stage references its
      // predecessor 3x (anti-filter, score join, union), so DuckDB's
      // default inlining re-expands the chain per reference — the
      // 10s-at-any-SF oracle the r17 slowest-5 footer surfaced
      s"""rem$i AS MATERIALIZED (
         |  SELECT c.* FROM cand c
         |  WHERE NOT EXISTS (SELECT 1 FROM $prev s
         |    WHERE s.query_id = c.query_id AND s.neighbor_id = c.neighbor_id)),
         |sc$i AS MATERIALIZED (
         |  SELECT r.query_id, r.neighbor_id, r.ne, r.rel,
         |    $MmrLambda * r.rel - ${1.0 - MmrLambda} * MAX(${cosSql("r.ne", "s.ne")}) AS score
         |  FROM rem$i r JOIN $prev s ON s.query_id = r.query_id
         |  GROUP BY r.query_id, r.neighbor_id, r.ne, r.rel),
         |pick$i AS MATERIALIZED (
         |  SELECT query_id, neighbor_id, ne, rel, score, $i AS pick_rank FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, neighbor_id ASC) AS prn FROM sc$i) t
         |  WHERE prn = 1),
         |sel$i AS MATERIALIZED (SELECT * FROM $prev UNION ALL SELECT * FROM pick$i)""".stripMargin
    }
    s"""WITH q AS (
       |  SELECT vec_id AS query_id, embedding AS qe FROM embeddings
       |  WHERE vec_id < $NumQueries),
       |cand AS MATERIALIZED (
       |  SELECT query_id, neighbor_id, ne, rel FROM (
       |    SELECT q.query_id, e.vec_id AS neighbor_id, e.embedding AS ne,
       |      ${cosSql("q.qe", "e.embedding")} AS rel,
       |      ROW_NUMBER() OVER (PARTITION BY q.query_id
       |        ORDER BY ${cosSql("q.qe", "e.embedding")} DESC, e.vec_id ASC) AS rn
       |    FROM embeddings e CROSS JOIN q
       |    WHERE e.vec_id <> q.query_id) t
       |  WHERE rn <= $MmrCand),
       |sel1 AS MATERIALIZED (
       |  SELECT query_id, neighbor_id, ne, rel, rel AS score, 1 AS pick_rank FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY rel DESC, neighbor_id ASC) AS rn2 FROM cand) t
       |  WHERE rn2 = 1),
       |${(2 to MmrK).map(stage).mkString(",\n")}
       |SELECT query_id, pick_rank, neighbor_id,
       |  ROUND(rel, 6) AS rel, ROUND(score, 6) AS mmr_score
       |FROM sel$MmrK
       |ORDER BY query_id, pick_rank""".stripMargin
  }

  // -------------------------------------------------------------------
  // q102: retrieval-quality evaluation — NDCG@K of the exact brute
  // ranking under label-agreement gain (neighbor shares the query's
  // class ⇒ gain 1), the graded companion of q88's majority-vote
  // accuracy and the recall-floor specs: every retrieval stack ships
  // this table per index build. DCG terms 1/log2(rank+1) nano-snap to
  // the integer grid before summing (per-query AND for the corpus mean
  // — no double ever accumulates, q98's discipline); IDCG re-ranks the
  // same gains ideally, so NDCG = 1 exactly when all hits lead.
  //
  // Scale: one brute scan (broadcast queries), per-query top-K windows,
  // then everything lives on |queries|·K rows.
  // -------------------------------------------------------------------
  def q102NdcgEval(spark: SparkSession, dir: String): DataFrame = {
    Vectors.register(spark)
    val e = Tables.embeddings(spark, dir)
    val queries = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("label").as("qlabel"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    val top = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("ne"),
        col("label").as("nlabel"))
      .repartition(spark.sessionState.conf.numShufflePartitions)
      .crossJoin(broadcast(queries))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", Vectors.vecCosine(col("qe"), col("ne")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= K)
      .select(col("query_id"), col("qlabel"), col("rn"),
        (col("nlabel") === col("qlabel")).cast(LongType).as("gain"))
    // discount at the ACTUAL rank vs at the IDEAL rank (gains re-sorted
    // desc, ties by actual rank) — both snapped to nano-ints
    val wIdeal = Window.partitionBy(col("query_id"))
      .orderBy(col("gain").desc, col("rn").asc)
    val terms = top
      .withColumn("irn", row_number().over(wIdeal))
      .select(col("query_id"), col("qlabel"), col("gain"),
        floor(col("gain").cast(DoubleType) /
          log2(col("rn").cast(DoubleType) + lit(1.0)) * lit(1e9) + lit(0.5))
          .cast(LongType).as("d9"),
        floor(col("gain").cast(DoubleType) /
          log2(col("irn").cast(DoubleType) + lit(1.0)) * lit(1e9) + lit(0.5))
          .cast(LongType).as("i9"))
    val perQ = terms.groupBy(col("query_id"), col("qlabel"))
      .agg(sum(col("gain")).as("hits"), sum(col("d9")).as("dcg9"),
        sum(col("i9")).as("idcg9"))
      .withColumn("n9", when(col("idcg9") > 0L,
        floor(col("dcg9").cast(DoubleType) / col("idcg9").cast(DoubleType)
          * lit(1e9) + lit(0.5)).cast(LongType)).otherwise(0L))
    val mean = perQ.agg(sum(col("n9")).as("sn9"), count(lit(1)).as("nq"))
    perQ.crossJoin(broadcast(mean))
      .select(col("query_id"), col("qlabel"), col("hits"),
        round(col("dcg9").cast(DoubleType) / lit(1e9), 6).as("dcg"),
        round(col("n9").cast(DoubleType) / lit(1e9), 6).as("ndcg"),
        round(col("sn9").cast(DoubleType) / col("nq").cast(DoubleType) / lit(1e9), 6)
          .as("mean_ndcg"))
      .orderBy(col("query_id"))
  }

  val q102NdcgEvalSql: String =
    s"""WITH q AS (
       |  SELECT vec_id AS query_id, embedding AS qe, label AS qlabel
       |  FROM embeddings WHERE vec_id < $NumQueries),
       |scored AS (
       |  SELECT query_id, qlabel, e.vec_id AS neighbor_id,
       |    CAST(e.label = qlabel AS BIGINT) AS gain,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY ${cosSql("qe", "e.embedding")} DESC, e.vec_id ASC) AS rn
       |  FROM embeddings e CROSS JOIN q
       |  WHERE e.vec_id <> q.query_id),
       |top AS (SELECT * FROM scored WHERE rn <= $K),
       |terms AS (
       |  SELECT query_id, qlabel, gain,
       |    CAST(floor(CAST(gain AS DOUBLE) / log2(CAST(rn AS DOUBLE) + 1.0)
       |      * 1e9 + 0.5) AS BIGINT) AS d9,
       |    CAST(floor(CAST(gain AS DOUBLE) / log2(CAST(irn AS DOUBLE) + 1.0)
       |      * 1e9 + 0.5) AS BIGINT) AS i9
       |  FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY gain DESC, rn ASC) AS irn
       |    FROM top) t),
       |perq AS (
       |  SELECT query_id, qlabel,
       |    CAST(SUM(gain) AS BIGINT) AS hits,
       |    CAST(SUM(d9) AS BIGINT) AS dcg9, CAST(SUM(i9) AS BIGINT) AS idcg9
       |  FROM terms GROUP BY 1, 2),
       |n AS (
       |  SELECT *, CASE WHEN idcg9 > 0 THEN
       |      CAST(floor(CAST(dcg9 AS DOUBLE) / CAST(idcg9 AS DOUBLE) * 1e9 + 0.5) AS BIGINT)
       |    ELSE 0 END AS n9
       |  FROM perq),
       |m AS (SELECT CAST(SUM(n9) AS BIGINT) AS sn9, COUNT(*) AS nq FROM n)
       |SELECT query_id, qlabel, hits,
       |  ROUND(CAST(dcg9 AS DOUBLE) / 1e9, 6) AS dcg,
       |  ROUND(CAST(n9 AS DOUBLE) / 1e9, 6) AS ndcg,
       |  ROUND(CAST(sn9 AS DOUBLE) / CAST(nq AS DOUBLE) / 1e9, 6) AS mean_ndcg
       |FROM n CROSS JOIN m
       |ORDER BY query_id""".stripMargin

  // -------------------------------------------------------------------
  // q71: per-dimension embedding standardization (z-score feature
  // scaling) — the feature-prep pass in front of clustering/ANN when
  // dimensions carry different scales. One posexplode + one hash agg on
  // dim computes each dimension's moments; the standardized values then
  // need only a map-side join of 64 constants — at scale this is a
  // broadcast of the per-dim stats, never a second shuffle of vectors.
  //
  // Determinism: q33's discipline — moments sum in exact DECIMAL over
  // round(x, 7) (partition order cannot perturb them), then double
  // arithmetic mirrored expression-for-expression. sqrt() is CORRECTLY
  // ROUNDED under IEEE 754 (unlike ln, it needs no nano-snap), so
  // std, z, and the |z| > 2 outlier comparison are bit-identical in
  // DuckDB. Output: per-dim n/mean/std plus the outlier count — the
  // count pins every z value through the comparison without dumping
  // |vectors|×dims rows.
  // -------------------------------------------------------------------
  def q71Standardize(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val vals = Tables.embeddings(spark, dir)
      .select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("dim"), round(col("x").cast(DoubleType), 7).as("xd"))
    val stats = vals.groupBy(col("dim"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("xd").cast(DecimalType(30, 7))).as("s"),
        sum((col("xd") * col("xd")).cast(DecimalType(30, 14))).as("s2"))
      .select(col("dim"), col("n_vecs"),
        (col("s").cast(DoubleType) / col("n_vecs")).as("mean"),
        sqrt((col("s2").cast(DoubleType)
          - col("s").cast(DoubleType) * col("s").cast(DoubleType) / col("n_vecs"))
          / col("n_vecs")).as("std"))
    vals.join(broadcast(stats), "dim")
      .groupBy(col("dim"))
      .agg(max(col("n_vecs")).as("n_vecs"),
        round(max(col("mean")), 6).as("mean"),
        round(max(col("std")), 6).as("std"),
        sum(when(abs((col("xd") - col("mean")) / col("std")) > 2.0, 1L)
          .otherwise(0L)).as("n_outliers"))
      .orderBy(col("dim"))
  }

  val q71StandardizeSql: String =
    s"""WITH vals AS (
      |  SELECT j - 1 AS dim, round(CAST(embedding[j] AS DOUBLE), 7) AS xd
      |  FROM embeddings CROSS JOIN range(1, ${Dim + 1}) r(j)),
      |stats AS (
      |  SELECT dim, COUNT(*) AS n_vecs,
      |    SUM(CAST(xd AS DECIMAL(30,7))) AS s,
      |    SUM(CAST(xd * xd AS DECIMAL(30,14))) AS s2
      |  FROM vals GROUP BY dim),
      |st AS (
      |  SELECT dim, n_vecs,
      |    CAST(s AS DOUBLE) / n_vecs AS mean,
      |    sqrt((CAST(s2 AS DOUBLE)
      |      - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n_vecs) / n_vecs) AS std
      |  FROM stats)
      |SELECT vals.dim, CAST(MAX(n_vecs) AS BIGINT) AS n_vecs,
      |  ROUND(MAX(mean), 6) AS mean, ROUND(MAX(std), 6) AS std,
      |  CAST(SUM(CASE WHEN abs((xd - mean) / std) > 2.0 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_outliers
      |FROM vals JOIN st ON vals.dim = st.dim
      |GROUP BY vals.dim
      |ORDER BY vals.dim""".stripMargin

  // -------------------------------------------------------------------
  // c78: embedding-space class audit — the label-separation matrix an
  // embedding QA pass reads before training on labeled vectors: per
  // label pair, the cosine between class centroids (well-separated
  // classes ⇒ low off-diagonal cosines). Cosine is scale-invariant, so
  // the centroids' 1/n never has to be computed: snap each float to
  // q47's integer grid, sum per (label, dim) — exact int64 — and take
  // cosines of the integer SUM vectors directly. The only FP op in the
  // whole query is the final division/sqrt over exact-integer operands,
  // identical in both engines (q57's discipline); everything upstream
  // is integer arithmetic.
  //
  // Scale: one corpus fan-out (|vecs|×Dim rows) into a map-side-
  // combined hash aggregate; everything after is |labels|×Dim-sized
  // (pairs join, norms). Int64 headroom: |q| ≤ 116, so per-dim sums
  // reach 2^63 only past ~8e16 vectors per label; DECIMAL(38,0) is the
  // escape hatch beyond.
  // -------------------------------------------------------------------
  def c78EmbeddingAudit(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val snapped = Tables.embeddings(spark, dir)
      .select(col("label").cast(LongType).as("label"), posexplode(col("embedding")))
      .select(col("label"), col("pos").as("dim"),
        floor(col("col").cast(DoubleType) * lit(SqScale) + lit(0.5))
          .cast(LongType).as("q"))
    val sums = snapped.groupBy(col("label"), col("dim"))
      .agg(sum(col("q")).as("sq"))
    val nrm = sums.groupBy(col("label")).agg(sum(col("sq") * col("sq")).as("nrm"))
    val nvec = Tables.embeddings(spark, dir)
      .groupBy(col("label").cast(LongType).as("label"))
      .agg(count(lit(1)).as("n"))
    val dots = sums.as("a").join(sums.as("b"),
        col("a.dim") === col("b.dim") && col("a.label") < col("b.label"))
      .groupBy(col("a.label").as("label_a"), col("b.label").as("label_b"))
      .agg(sum(col("a.sq") * col("b.sq")).as("dot"))
    dots
      .join(nvec.select(col("label").as("label_a"), col("n").as("n_a")), "label_a")
      .join(nvec.select(col("label").as("label_b"), col("n").as("n_b")), "label_b")
      .join(nrm.select(col("label").as("label_a"), col("nrm").as("na")), "label_a")
      .join(nrm.select(col("label").as("label_b"), col("nrm").as("nb")), "label_b")
      .select(col("label_a"), col("label_b"), col("n_a"), col("n_b"),
        (col("dot").cast(DoubleType) /
          sqrt(col("na").cast(DoubleType) * col("nb").cast(DoubleType)))
          .as("centroid_cos"))
      .orderBy(col("label_a"), col("label_b"))
  }

  val c78EmbeddingAuditSql: String =
    s"""WITH snapped AS (
       |  SELECT CAST(label AS BIGINT) AS label, j - 1 AS dim,
       |    CAST(floor(CAST(embedding[j] AS DOUBLE) * $SqScale + 0.5) AS BIGINT) AS q
       |  FROM embeddings CROSS JOIN range(1, ${Dim + 1}) r(j)),
       |sums AS (
       |  SELECT label, dim, CAST(SUM(q) AS BIGINT) AS sq
       |  FROM snapped GROUP BY 1, 2),
       |nrm AS (
       |  SELECT label, CAST(SUM(sq * sq) AS BIGINT) AS nrm FROM sums GROUP BY label),
       |nvec AS (
       |  SELECT CAST(label AS BIGINT) AS label, COUNT(*) AS n
       |  FROM embeddings GROUP BY 1),
       |dots AS (
       |  SELECT a.label AS label_a, b.label AS label_b,
       |    CAST(SUM(a.sq * b.sq) AS BIGINT) AS dot
       |  FROM sums a JOIN sums b ON a.dim = b.dim AND a.label < b.label
       |  GROUP BY 1, 2)
       |SELECT d.label_a, d.label_b, va.n AS n_a, vb.n AS n_b,
       |  CAST(d.dot AS DOUBLE)
       |    / sqrt(CAST(na.nrm AS DOUBLE) * CAST(nb.nrm AS DOUBLE)) AS centroid_cos
       |FROM dots d
       |JOIN nvec va ON va.label = d.label_a
       |JOIN nvec vb ON vb.label = d.label_b
       |JOIN nrm na ON na.label = d.label_a
       |JOIN nrm nb ON nb.label = d.label_b
       |ORDER BY label_a, label_b""".stripMargin

  // -------------------------------------------------------------------
  // q88: k-NN classification eval — the end of the embedding pipeline
  // this module builds (index → search → classify → audit): split the
  // vectors with d56's hash thresholds, predict each eval vector's
  // label by majority vote of its 5 nearest TRAIN vectors (exact cosine,
  // q30's kernel; vote ties break (count DESC, label ASC) — the same
  // deterministic argmax as t50/q74), and emit the confusion matrix
  // against gold labels. On this corpus the labels are synthetic, so
  // the matrix reads near-uniform — the SEMANTICS are the point, and
  // they are oracle-checked end-to-end including the vote.
  //
  // Scale: eval queries broadcast (the small side by construction);
  // the train corpus is scanned once, never shuffled; per-eval state is
  // the k-row window + a |labels|-bounded vote. At larger eval sets the
  // brute kernel swaps for q34/q48's IVF probes unchanged downstream.
  // -------------------------------------------------------------------
  private val KnnK = 5

  def q88KnnClassify(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.LongType
    Vectors.register(spark)
    val e = Tables.embeddings(spark, dir)
      .withColumn("h", PortableHash.h60(col("vec_id")))
    val train = e.filter(col("h") < Sampling.TrainBound)
      .select(col("vec_id").as("train_id"), col("embedding").as("te"),
        col("label").cast(LongType).as("train_label"))
    val ev = e.filter(col("h") >= Sampling.TrainBound)
      .select(col("vec_id").as("eval_id"), col("embedding").as("qe"),
        col("label").cast(LongType).as("true_label"))
    val scored = train
      .repartition(spark.sessionState.conf.numShufflePartitions)
      .crossJoin(broadcast(ev))
      .withColumn("sim", Vectors.vecCosine(col("qe"), col("te")))
    val wN = Window.partitionBy(col("eval_id"))
      .orderBy(col("sim").desc, col("train_id").asc)
    val votes = scored.withColumn("rn", row_number().over(wN))
      .filter(col("rn") <= KnnK)
      .groupBy(col("eval_id"), col("true_label"), col("train_label"))
      .agg(count(lit(1)).as("v"))
    val wV = Window.partitionBy(col("eval_id"))
      .orderBy(col("v").desc, col("train_label").asc)
    votes.withColumn("vr", row_number().over(wV)).filter(col("vr") === 1)
      .select(col("true_label"), col("train_label").as("pred_label"))
      .groupBy(col("true_label"), col("pred_label"))
      .agg(count(lit(1)).as("n_vecs"))
      .orderBy(col("true_label"), col("pred_label"))
  }

  val q88KnnClassifySql: String =
    s"""WITH e AS (
       |  SELECT vec_id, embedding, CAST(label AS BIGINT) AS label,
       |    ${PortableHash.h60Sql("vec_id")} AS h
       |  FROM embeddings),
       |train AS (
       |  SELECT vec_id AS train_id, embedding AS te, label AS train_label
       |  FROM e WHERE h < ${Sampling.TrainBound}),
       |ev AS (
       |  SELECT vec_id AS eval_id, embedding AS qe, label AS true_label
       |  FROM e WHERE h >= ${Sampling.TrainBound}),
       |scored AS (
       |  SELECT eval_id, true_label, train_id, train_label,
       |    ${cosSql("qe", "te")} AS sim
       |  FROM ev CROSS JOIN train),
       |knn AS (
       |  SELECT eval_id, true_label, train_label,
       |    ROW_NUMBER() OVER (PARTITION BY eval_id
       |      ORDER BY sim DESC, train_id ASC) AS rn
       |  FROM scored),
       |votes AS (
       |  SELECT eval_id, true_label, train_label, COUNT(*) AS v
       |  FROM knn WHERE rn <= $KnnK GROUP BY 1, 2, 3),
       |pick AS (
       |  SELECT eval_id, true_label, train_label AS pred_label,
       |    ROW_NUMBER() OVER (PARTITION BY eval_id
       |      ORDER BY v DESC, train_label ASC) AS vr
       |  FROM votes)
       |SELECT true_label, pred_label, COUNT(*) AS n_vecs
       |FROM pick WHERE vr = 1
       |GROUP BY 1, 2
       |ORDER BY true_label, pred_label""".stripMargin

  // -------------------------------------------------------------------
  // q108: dimension-ablation recall — the Matryoshka question every
  // embedding-storage budget decision turns on: how much top-K recall
  // survives truncating vectors to their leading d dimensions? For each
  // d in the ladder, exact brute-force cosine top-K over the TRUNCATED
  // vectors, scored against the full-dimension top-K as ground truth;
  // one recall@K number per d (d = full dim is the sanity row, recall
  // 1 by construction).
  //
  // Scale shape: q30's eval pattern — the bounded query set broadcasts
  // onto the corpus, the ×|dims| fan-out is a constant factor on the
  // scored rows (never a second corpus scan), top-K rides per-
  // (dim, query) windows after the one fan-out exchange, and the
  // recall join runs on K·|queries|·|dims| rows — eval-sized. Truth
  // and candidates come from the SAME ranked frame (hash exchanges
  // only, so the double-consumption is deterministic; no range
  // sampling anywhere). Recall is exact-integer hits over a constant
  // denominator, divided once.
  // -------------------------------------------------------------------
  private val AblationDims = Seq(8, 16, 32, 64)
  private val FullDim = 64

  def q108DimAblation(spark: SparkSession, dir: String): DataFrame = {
    Vectors.register(spark)
    val e = Tables.embeddings(spark, dir)
    val queries = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val scored = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("ne"))
      .repartition(spark.sessionState.conf.numShufflePartitions)
      .crossJoin(broadcast(queries))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        explode(array(AblationDims.map(lit(_)): _*)).as("dim"),
        col("qe"), col("ne"))
      .withColumn("sim", Vectors.vecCosine(
        slice(col("qe"), lit(1), col("dim")), slice(col("ne"), lit(1), col("dim"))))
    val w = Window.partitionBy(col("dim"), col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    val topk = scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= K)
      .select(col("dim"), col("query_id"), col("neighbor_id"))
    val truth = topk.filter(col("dim") === FullDim)
      .select(col("query_id"), col("neighbor_id"))
    val hits = topk.join(truth, Seq("query_id", "neighbor_id"))
      .groupBy(col("dim")).agg(count(lit(1)).as("n_hits"))
    spark.range(1).select(explode(array(AblationDims.map(lit(_)): _*)).as("dim"))
      .join(hits, Seq("dim"), "left")
      .select(col("dim"), lit(NumQueries.toLong).as("n_queries"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(col("n_hits"), lit(0L)).cast(DoubleType)
          / lit((NumQueries * K).toDouble), 6).as("recall_at_k"))
      .orderBy(col("dim"))
  }

  val q108DimAblationSql: String = {
    val cos =
      """list_sum(list_transform(list_zip(qe[1:dim], ne[1:dim]),
        |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) /
        |    (sqrt(list_sum(list_transform(qe[1:dim], x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
        |     sqrt(list_sum(list_transform(ne[1:dim], x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))""".stripMargin
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
       |           WHERE vec_id < $NumQueries),
       |dims AS (SELECT unnest([${AblationDims.mkString(", ")}]) AS dim),
       |scored AS (
       |  SELECT dim, query_id, e.vec_id AS neighbor_id, e.embedding AS ne, qe,
       |    $cos AS sim
       |  FROM q CROSS JOIN embeddings e CROSS JOIN dims
       |  WHERE e.vec_id <> query_id),
       |ranked AS (
       |  SELECT dim, query_id, neighbor_id,
       |    ROW_NUMBER() OVER (PARTITION BY dim, query_id
       |      ORDER BY sim DESC, neighbor_id ASC) AS rn
       |  FROM scored),
       |topk AS (SELECT dim, query_id, neighbor_id FROM ranked WHERE rn <= $K),
       |truth AS (SELECT query_id, neighbor_id FROM topk WHERE dim = $FullDim),
       |hits AS (
       |  SELECT dim, COUNT(*) AS n_hits
       |  FROM topk JOIN truth USING (query_id, neighbor_id)
       |  GROUP BY 1)
       |SELECT CAST(d.dim AS INT) AS dim, CAST($NumQueries AS BIGINT) AS n_queries,
       |  CAST(COALESCE(n_hits, 0) AS BIGINT) AS n_hits,
       |  ROUND(CAST(COALESCE(n_hits, 0) AS DOUBLE) / ${NumQueries * K}.0, 6) AS recall_at_k
       |FROM dims d LEFT JOIN hits ON d.dim = hits.dim
       |ORDER BY dim""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef.sql("q30_ann_brute", q30AnnBrute _, q30AnnBruteSql),
    QueryDef.sql("q108_dim_ablation", q108DimAblation _, q108DimAblationSql),
    QueryDef.sql("q31_ann_lsh", q31AnnLsh _, q31AnnLshSql),
    QueryDef.sql("q32_corpus_neardup", q32CorpusNearDup _, q32CorpusNearDupSql),
    QueryDef.sql("q33_lang_centroids", q33LangCentroids _, q33LangCentroidsSql),
    QueryDef.sql("q34_ann_ivf", q34AnnIvf _, q34AnnIvfSql),
    QueryDef.sql("q35_ann_ivf_lloyd", q35AnnIvfLloyd _, q35AnnIvfLloydSql),
    QueryDef.sql("q47_ann_sq8", q47AnnSq8 _, q47AnnSq8Sql),
    QueryDef.sql("q48_ann_ivf_sq8", q48AnnIvfSq8 _, q48AnnIvfSq8Sql),
    QueryDef.sql("q49_ann_pq", q49AnnPq _, q49AnnPqSql),
    QueryDef.sql("q50_hybrid_search", q50HybridSearch _, q50HybridSearchSql),
    QueryDef.sql("q51_ann_ivf_pq", q51AnnIvfPq _, q51AnnIvfPqSql),
    QueryDef.sql("d48_semdedup", d48SemDedup _, d48SemDedupSql),
    // incremental ≡ recompute: d64's oracle is d48's SQL verbatim
    QueryDef.sql("d64_incremental_semdedup", d64IncrementalSemDedup _, d48SemDedupSql),
    // d67 resumes the fold from parquet state: same verbatim oracle —
    // resume-from-disk ≡ from-scratch, hash-proven across the boundary
    QueryDef.sql("d67_resumed_semdedup", d67ResumedSemDedup _, d48SemDedupSql),
    QueryDef.sql("d65_knn_topic_clusters", d65KnnTopicClusters _, d65KnnTopicClustersSql),
    // d68 folds id-monotone batches against the frozen quantizer: same
    // verbatim oracle — incremental ≡ from-scratch, hash-proven
    QueryDef.sql("d68_incremental_topics", d68IncrementalTopics _, d65KnnTopicClustersSql),
    QueryDef.sql("d61_cluster_cap", d61ClusterCap _, d61ClusterCapSql),
    QueryDef.sql("d62_mmr_rerank", d62MmrRerank _, d62MmrRerankSql),
    QueryDef.sql("q102_ndcg_eval", q102NdcgEval _, q102NdcgEvalSql),
    QueryDef.sql("q71_standardize", q71Standardize _, q71StandardizeSql),
    QueryDef.sql("c78_embedding_audit", c78EmbeddingAudit _, c78EmbeddingAuditSql),
    QueryDef.sql("q88_knn_classify", q88KnnClassify _, q88KnnClassifySql),
  )
}
