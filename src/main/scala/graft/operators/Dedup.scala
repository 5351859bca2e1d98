package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{QueryDef, Tables}
import graft.functions.Vectors
import graft.operators.Checkpoints.GraftCheckpointOps

/** Deduplication suite over the `documents` / `embeddings` tables — the
  * training-data-pipeline extension (absent from the reference; SURVEY.md
  * §2.7 / §4.2 "dedup" row).
  *
  * Scale design: the only all-pairs quadratic here is the exact n-gram
  * Jaccard (d41), kept as the *oracle baseline* for the sub-quadratic
  * paths — MinHash+LSH band-bucket join (d42) and SimHash band join (d43)
  * are the 100 TB operators: candidate generation is an equi-join on
  * band buckets (shuffle on bucket key, no cross product), verification
  * touches only candidates.
  *
  * Everything is built from engine-portable primitives (md5, which is
  * bit-identical in Spark and DuckDB, drives every hash) so even the LSH
  * pipelines are SQL-expressible and hash-compared against the oracle.
  */
object Dedup {

  private def tokens: Column = split(col("text"), " ")

  /** Distinct word 3-gram shingles per doc (docs with < 3 tokens drop out).
    *
    * The scan is byte-small but the downstream work (shingling, hashing)
    * is compute-dense, so a single input split would serialize it; the
    * up-front repartition spreads the rows across all cores before the
    * explode. On a real cluster the scan already arrives in many splits
    * and this is a cheap reshuffle of raw docs, not of shingles.
    */
  /** As [[shingled]] but keeps the per-doc distinct-shingle count, known
    * for free before the explode. Takes any (doc_id, text) frame so
    * pipeline operators (e.g. [[Curation]]) can shingle a filtered
    * corpus.
    */
  private[operators] def shingledCountedFrom(docs: DataFrame): DataFrame =
    docs
      .repartition(docs.sparkSession.sessionState.conf.numShufflePartitions)
      // materialize the token array once per row: referencing split()
      // inside the transform lambda would re-split the whole text for
      // every shingle position (O(tokens²) per doc)
      .withColumn("toks", tokens)
      .filter(size(col("toks")) >= 3)
      .withColumn("shingles", array_distinct(transform(
        sequence(lit(1), size(col("toks")) - 2),
        i => concat_ws(" ", element_at(col("toks"), i), element_at(col("toks"), i + 1),
          element_at(col("toks"), i + 2)))))
      .select(col("doc_id"), size(col("shingles")).as("n_shingles"),
        explode(col("shingles")).as("shingle"))

  private def shingledCounted(spark: SparkSession, dir: String): DataFrame =
    shingledCountedFrom(Tables.documents(spark, dir))

  private def shingled(spark: SparkSession, dir: String): DataFrame =
    shingledCounted(spark, dir).select(col("doc_id"), col("shingle"))

  /** The shingle CTE chain (no leading WITH) over a caller-chosen source
    * relation, so pipeline SQL can prepend its own CTEs.
    */
  private[operators] def shingleCtesFrom(src: String): String =
    s"""toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM $src
       |              WHERE len(string_split(text, ' ')) >= 3),
       |shingles AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    range(1, len(t) - 1),
       |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle
       |  FROM toks)""".stripMargin

  private val shingleSqlView: String = "WITH " + shingleCtesFrom("documents")

  // ---------------------------------------------------------------------
  // d40: exact dedup — content-hash grouping with keeper election
  // (min doc_id). The library-facing `dedupExact` drops the losers; the
  // query form exposes the group structure for the oracle.
  // ---------------------------------------------------------------------
  /** Exact dedup with explicit keeper election: within each key group the
    * row with the smallest `keeper` value survives — deterministic, unlike
    * `dropDuplicates` (which keeps an arbitrary partition-order-dependent
    * row). One shuffle: rank within the key partition, keep rank 1.
    *
    * `keeper` must be UNIQUE within each key group (e.g. a row id): on a
    * keeper tie, `row_number` falls back to partition order and the
    * election is arbitrary again. Callers with non-unique keepers should
    * pass a composite (`struct(keeper, rowId)`) to restore determinism.
    */
  def dedupExact(df: DataFrame, keyCols: Seq[String], keeper: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(keeper.asc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  def d40ExactGroups(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(graft.functions.HashFns.fastMd5(col("text")).as("text_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keep_id"))
      .orderBy(col("text_hash"))

  val d40ExactGroupsSql: String =
    """SELECT md5(text) AS text_hash, COUNT(*) AS n_copies,
      |  MIN(doc_id) AS keep_id
      |FROM documents
      |GROUP BY md5(text)
      |ORDER BY text_hash""".stripMargin

  // ---------------------------------------------------------------------
  // d41: exact n-gram Jaccard near-dup — the quadratic oracle baseline.
  // Pairs come from a shingle-equality self-join (docs sharing no shingle
  // never meet — already far better than a cross product), intersections
  // from a count, Jaccard from |A|+|B|-|A∩B|.
  // ---------------------------------------------------------------------
  def d41NgramJaccard(spark: SparkSession, dir: String): DataFrame = {
    // join + aggregate on a 60-bit hash of the shingle instead of the
    // string (narrower shuffle rows, cheaper key compares; the oracle
    // joins on the same md5-derived key, so any collision is shared),
    // and carry each side's shingle count through the join — the count is
    // known before the explode, so no per-doc size table and no rejoins.
    // No cache: the identical self-join sides shuffle on the same key, so
    // the shingle pipeline runs once (AQE exchange reuse, verified in the
    // plan) — and at 100 TB pinning a corpus-wide shingle table in
    // executor memory would be a hazard, not a win.
    // shuffle_hash is this site's measured choice: the build side is a
    // ~260k-row highly-duplicated shingle table, where the hash join
    // skips the sort that sort-merge pays on both duplicated sides. In
    // the round-18 sweep (idle / IO-contended, BASELINE.md) the hint won
    // every paired cell, by about 15-25%; every other candidate join in
    // Dedup/Similarity is left to AQE.
    val sh = shingledCounted(spark, dir)
      .select(col("doc_id"), col("n_shingles"),
        PortableHash.h60(col("shingle")).as("k"))
    sh.as("a").join(sh.as("b").hint("shuffle_hash"),
        col("a.k") === col("b.k") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.n_shingles").as("na"), col("b.n_shingles").as("nb"))
      .agg(count(lit(1)).as("n_common"))
      .withColumn("jaccard", round(col("n_common") /
        (col("na") + col("nb") - col("n_common")), 6))
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"), col("n_common"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val d41NgramJaccardSql: String =
    s"""$shingleSqlView,
       |hashed AS (
       |  SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS k FROM shingles),
       |sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM hashed GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
       |  FROM hashed a JOIN hashed b
       |    ON a.k = b.k AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b, n_common,
       |  ROUND(n_common / (sa.n_shingles + sb.n_shingles - n_common), 6) AS jaccard
       |FROM inter
       |JOIN sizes sa ON sa.doc_id = doc_a
       |JOIN sizes sb ON sb.doc_id = doc_b
       |WHERE ROUND(n_common / (sa.n_shingles + sb.n_shingles - n_common), 6) >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------------
  // d42: MinHash + LSH — the sub-quadratic scale path. 32 hash slots from
  // 16 md5 digests: digest_j = md5(j || ':' || shingle), slot 2j = 60-bit
  // window hex[1..15], slot 2j+1 = hex[17..31] — disjoint bit windows of
  // one digest are independent uniform hashes, so slot independence (what
  // a minhash estimator needs; cheap h1+i·h2 families lose it — their
  // argmin shingle is shared across slots, collapsing estimator variance)
  // is kept at half the hashing cost. The digest array is materialized in
  // a projection BEFORE the aggregate so each digest is computed once per
  // shingle row, not once per min-slot. Signature = ONE hash-aggregate of
  // 32 mins (map-side partial combine, no per-seed row blowup through the
  // shuffle). 8 bands x 4 rows; candidates = band-bucket equi-join;
  // estimate = matching signature fraction. All md5-derived →
  // bit-identical across engines → fully oracle-checked.
  // ---------------------------------------------------------------------
  private[graft] val NumHashes = 32
  private[graft] val NumBands = 8
  private[graft] val RowsPerBand = NumHashes / NumBands
  private val NumDigests = NumHashes / 2
  private def windowOff(i: Int): Int = if (i % 2 == 0) 1 else 17

  def minhashSignaturesFrom(docs: DataFrame): DataFrame = {
    val digests = array((0 until NumDigests).map(j =>
      graft.functions.HashFns.fastMd5(concat(lit(s"$j:"), col("shingle")))): _*)
    // HexBits60 = conv(substring(.., off, 15), 16, 10) as a direct nibble
    // parse (r18 fast path — the 32 window extractions per shingle row
    // were the projection's dominant cost; HashFnsSpec pins equality)
    val mins = (0 until NumHashes).map(i =>
      min(graft.functions.HashFns.hexBits60(
        element_at(col("ds"), i / 2 + 1), windowOff(i))).as(s"m$i"))
    shingledCountedFrom(docs)
      .select(col("doc_id"), col("shingle"))
      .withColumn("ds", digests)
      .groupBy(col("doc_id"))
      .agg(mins.head, mins.tail: _*)
      .select(col("doc_id"),
        array((0 until NumHashes).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** Default band-bucket membership cap for the document LSH joins: doc
    * buckets collide only through genuine shingle similarity (md5 keys are
    * uniform otherwise) — observed max membership on the test corpora is
    * single digits, so 500 is a pure runaway brake (see [[BucketGuard]]).
    */
  private[graft] val DocBucketCap = 500

  /** Near-dup candidate pairs (doc_a < doc_b) with their signature-match
    * estimate, over any (doc_id, text) frame — the reusable core of d42
    * (also the near-dup stage of [[Curation]]). Unordered.
    */
  /** Banded minhash signatures of a (doc_id, text) frame: one row per
    * (doc, band) with the band's bucket digest AND the full signature —
    * carrying the ~300 B signature through the (small) band shuffle is
    * far cheaper than signature-rejoin stages after the bucket join.
    */
  private[graft] def bandedSignaturesFrom(docs: DataFrame): DataFrame =
    minhashSignaturesFrom(docs)
      .select(col("doc_id"), col("sig"), posexplode(transform(
        sequence(lit(0), lit(NumBands - 1)),
        b => graft.functions.HashFns.fastMd5(concat_ws(",", transform(
          slice(col("sig"), b * RowsPerBand + 1, lit(RowsPerBand)),
          x => x.cast(StringType)))))))
      .select(col("doc_id"), col("sig"), col("pos").as("band"), col("col").as("bucket"))

  /** Narrow (aggregation-free) sibling of [[minhashSignaturesFrom]] +
    * [[bandedSignaturesFrom]] for STREAMING inputs — a streaming plan
    * cannot put a running groupBy(doc_id) aggregate in front of a keyed
    * state operator, so the per-doc signature is computed with array
    * expressions over the doc's own shingle set instead: `array_min`
    * replaces the min aggregate (duplicate-insensitive → identical
    * values), the digest array is materialized once per shingle exactly
    * as the batch projection does, and the band digests are the same
    * expression. Output schema and VALUES equal [[bandedSignaturesFrom]]
    * row-for-row (StreamNearDupSpec pins it on a batch frame).
    */
  private[graft] def streamBandedSignaturesFrom(docs: DataFrame): DataFrame = {
    val sigSlots = (0 until NumHashes).map { i =>
      array_min(transform(col("ds"),
        d => graft.functions.HashFns.hexBits60(
          element_at(d, i / 2 + 1), windowOff(i)))).as(s"m$i")
    }
    docs
      .withColumn("toks", tokens)
      .filter(size(col("toks")) >= 3)
      .withColumn("shingles", array_distinct(transform(
        sequence(lit(1), size(col("toks")) - 2),
        i => concat_ws(" ", element_at(col("toks"), i), element_at(col("toks"), i + 1),
          element_at(col("toks"), i + 2)))))
      .withColumn("ds", transform(col("shingles"),
        s => array((0 until NumDigests).map(j => graft.functions.HashFns.fastMd5(concat(lit(s"$j:"), s))): _*)))
      .select(col("doc_id") +: sigSlots: _*)
      .select(col("doc_id"),
        array((0 until NumHashes).map(i => col(s"m$i")): _*).as("sig"))
      .select(col("doc_id"), col("sig"), posexplode(transform(
        sequence(lit(0), lit(NumBands - 1)),
        b => graft.functions.HashFns.fastMd5(concat_ws(",", transform(
          slice(col("sig"), b * RowsPerBand + 1, lit(RowsPerBand)),
          x => x.cast(StringType)))))))
      .select(col("doc_id"), col("sig"), col("pos").as("band"), col("col").as("bucket"))
  }

  /** Candidate pairs from a band-bucket join of two banded frames
    * (x.doc_id < y.doc_id), estimate-filtered at `threshold`. With
    * x = y this is d42's self-join core; [[Curation.advance]] passes
    * x = all docs, y = the new batch to get exactly the pairs touching
    * a new doc (ids are batch-monotone there).
    */
  private[operators] def pairsFromBandJoin(x: DataFrame, y: DataFrame,
                                           threshold: Double): DataFrame =
    x.as("x").join(y.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.sig").as("sig_a"), col("y.sig").as("sig_b"))
      // docs can collide in several bands: reduce to one row per pair
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(first(col("sig_a")).as("sig_a"), first(col("sig_b")).as("sig_b"))
      .withColumn("est_jaccard", round(
        size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), b => b))
          / lit(NumHashes.toDouble), 6))
      .filter(col("est_jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"))

  def minhashNearDupPairsFrom(docs: DataFrame, threshold: Double = 0.35,
                              maxBucket: Int = DocBucketCap): DataFrame = {
    // the identical self-join sides reuse one signature computation
    // (AQE exchange reuse, verified in the plan), so no cache needed
    val bands = BucketGuard.capHotBuckets(
      bandedSignaturesFrom(docs), Seq("band", "bucket"), maxBucket)
    pairsFromBandJoin(bands, bands, threshold)
  }

  def d42MinhashLsh(spark: SparkSession, dir: String): DataFrame =
    minhashNearDupPairsFrom(Tables.documents(spark, dir))
      .orderBy(col("doc_a"), col("doc_b"))

  /** sigs/bands/cand/nd_pairs CTE chain (no leading WITH); expects the
    * `shingles` CTE in scope. nd_pairs = (doc_a, doc_b, est_jaccard >=
    * threshold) — the SQL mirror of [[minhashNearDupPairsFrom]].
    */
  private[operators] val minhashPairCtes: String =
    s"""sigs AS (
       |  SELECT doc_id,
       |    [${(0 until NumHashes).map(i =>
              s"MIN(('0x' || substr(md5('${i / 2}:' || shingle), ${windowOff(i)}, 15))::BIGINT)").mkString(", ")}] AS sig
       |  FROM shingles GROUP BY doc_id),
       |bands AS (
       |  SELECT doc_id, b AS band,
       |    md5(array_to_string(list_slice(sig, b * $RowsPerBand + 1, b * $RowsPerBand + $RowsPerBand), ',')) AS bucket
       |  FROM sigs CROSS JOIN range(0, $NumBands) r(b)),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
       |nd_pairs AS (
       |  SELECT doc_a, doc_b,
       |    ROUND(list_sum(list_transform(list_zip(sa.sig, sb.sig),
       |      p -> CASE WHEN p[1] = p[2] THEN 1 ELSE 0 END)) / $NumHashes.0, 6) AS est_jaccard
       |  FROM cand
       |  JOIN sigs sa ON sa.doc_id = doc_a
       |  JOIN sigs sb ON sb.doc_id = doc_b
       |  WHERE list_sum(list_transform(list_zip(sa.sig, sb.sig),
       |      p -> CASE WHEN p[1] = p[2] THEN 1 ELSE 0 END)) / $NumHashes.0 >= 0.35)""".stripMargin

  val d42MinhashLshSql: String =
    s"""$shingleSqlView,
       |$minhashPairCtes
       |SELECT doc_a, doc_b, est_jaccard FROM nd_pairs
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------------
  // d43: SimHash near-dup. 60-bit token-hash simhash (md5-derived), then
  // 5 bands x 12 bits: any pair at Hamming distance <= 4 shares at least
  // one band (pigeonhole) → the band equi-join is lossless for the
  // threshold while staying sub-quadratic.
  // ---------------------------------------------------------------------
  private val SimBits = 60
  private val SimBands = 5
  private val SimBandBits = SimBits / SimBands
  private val MaxHamming = SimBands - 1 // completeness guarantee

  /** SimHash over the same distinct 3-gram shingle features as d41/d42,
    * so the three near-dup measures agree on what "similar" means —
    * Hamming distance then tracks shingle-set overlap, and ham<=4/60 is a
    * strictly-tighter filter than J>=0.5 in practice.
    *
    * One hash-aggregate of 60 per-bit set-counts + the shingle count (no
    * row blowup, map-side partial combine, single shuffle on doc_id) —
    * the explode-per-bit formulation pushed 60× the shingle rows through
    * TWO shuffles and was the slowest dedup stage at sf0.1. Bit b of the
    * simhash is set iff its ±1 contribution sum is positive, i.e.
    * 2·ones_b > n_shingles.
    */
  def simhashes(spark: SparkSession, dir: String): DataFrame = {
    // r19 (guide §1.2 step 2): two 32-bit bit-counters packed per SUM
    // column — 30 aggregate buffer slots instead of 60. Fields cannot
    // carry into each other: each 32-bit field counts 0/1 per shingle
    // row, so it would take 2^32 shingle rows in ONE document (a 4 GB
    // text) to overflow. Extraction back to per-bit counts happens on
    // the doc-sized aggregate output; the resulting simhash is
    // bit-identical (sums are exact, the oracle recomputes the per-bit
    // form and hash-matches).
    val packed = (0 until SimBits / 2).map(j =>
      sum(expr(s"shiftright(h, ${2 * j})").bitwiseAND(lit(1L)) +
        expr(s"shiftright(h, ${2 * j + 1})").bitwiseAND(lit(1L)) * lit(1L << 32))
        .as(s"p$j"))
    def ones(b: Int): Column = {
      val p = col(s"p${b / 2}")
      if (b % 2 == 0) p.bitwiseAND(lit(0xFFFFFFFFL)) else shiftright(p, 32)
    }
    shingled(spark, dir)
      .withColumn("h", PortableHash.h60(col("shingle")))
      .groupBy(col("doc_id"))
      .agg(packed.head, (packed.tail :+ count(lit(1)).as("n")): _*)
      .select(col("doc_id"),
        (0 until SimBits).map(b =>
          when(ones(b) * 2 > col("n"), lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  def d43Simhash(spark: SparkSession, dir: String): DataFrame = {
    // band rows carry the full simhash (one long), so pairs leave the
    // band join with both hashes — no rejoin stages, no cache; the
    // identical self-join sides reuse one simhash computation
    // (AQE exchange reuse, verified in the plan)
    val mask = (1L << SimBandBits) - 1
    val rawBands = simhashes(spark, dir)
      .select(col("doc_id"), col("simhash"), posexplode(transform(
        sequence(lit(0), lit(SimBands - 1)),
        b => call_function("shiftright", col("simhash"), b * lit(SimBandBits))
          .bitwiseAND(lit(mask)))))
      .select(col("doc_id"), col("simhash"), col("pos").as("band"), col("col").as("bval"))
    val bands = BucketGuard.capHotBuckets(rawBands, Seq("band", "bval"), DocBucketCap)
    // no strategy hint: AQE picks. The r17 4-cell profile (idle /
    // 16-spinner / 32-spinner × shuffle_hash / none, BASELINE.md
    // round-17 table) read AQE ~10% faster in EVERY cell and no worse
    // under contention — and at cluster scale AQE's runtime choice
    // (broadcast when a capped band side is small, sort-merge when the
    // hash side would spill, skew-split when a bucket runs hot) beats a
    // frozen hint.
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bval") === col("y.bval") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.simhash").as("ha"), col("y.simhash").as("hb"))
      .distinct()
      .withColumn("hamming", bit_count(col("ha").bitwiseXOR(col("hb"))))
      .filter(col("hamming") <= MaxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val d43SimhashSql: String =
    s"""$shingleSqlView,
       |hashed AS (
       |  SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h FROM shingles),
       |bits AS (
       |  SELECT doc_id, bit, SUM(((h >> bit) & 1) * 2 - 1) AS s
       |  FROM hashed CROSS JOIN range(0, $SimBits) r(bit)
       |  GROUP BY 1, 2),
       |sh AS (
       |  SELECT doc_id,
       |    CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS simhash
       |  FROM bits GROUP BY 1),
       |bands AS (
       |  SELECT doc_id, b AS band, (simhash >> (b * $SimBandBits)) & ${(1L << SimBandBits) - 1} AS bval
       |  FROM sh CROSS JOIN range(0, $SimBands) r(b)),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.bval = y.bval AND x.doc_id < y.doc_id)
       |SELECT doc_a, doc_b,
       |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
       |FROM cand
       |JOIN sh a ON a.doc_id = doc_a
       |JOIN sh b ON b.doc_id = doc_b
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= $MaxHamming
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------------
  // d44: embedding-cosine near-dup — brute pair scan with the native
  // VecCosine expression. Quadratic: serves as the oracle baseline for
  // the LSH-bucketed ANN path (Similarity.q31).
  // ---------------------------------------------------------------------
  def d44EmbeddingNearDup(spark: SparkSession, dir: String): DataFrame = {
    Vectors.register(spark)
    val e = Tables.embeddings(spark, dir)
    // broadcast one side, spread the streamed side across all cores: the
    // nested-loop pair scan parallelizes over streamed-side partitions.
    // Norms are precomputed once per vector BEFORE the pair join, so the
    // O(n²) inner loop does one dot product instead of three — same
    // doubles as cosine's fused form (dot / (sqrt(Σa²)·sqrt(Σb²)), the
    // oracle's exact shape), ~3× less pair-scan CPU.
    def sided(idAs: String, embAs: String, nrmAs: String) =
      e.select(col("vec_id").as(idAs), col("embedding").as(embAs),
        sqrt(Vectors.vecDot(col("embedding"), col("embedding"))).as(nrmAs))
    sided("vec_a", "ea", "na")
      .repartition(spark.sessionState.conf.numShufflePartitions).as("a")
      .join(broadcast(sided("vec_b", "eb", "nb")).as("b"), col("vec_a") < col("vec_b"))
      .withColumn("sim",
        round(Vectors.vecDot(col("ea"), col("eb")) / (col("na") * col("nb")), 6))
      .filter(col("sim") >= 0.4)
      .select(col("vec_a"), col("vec_b"), col("sim"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  val d44EmbeddingNearDupSql: String =
    """WITH pairs AS (
      |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      |    list_sum(list_transform(list_zip(a.embedding, b.embedding),
      |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) /
      |    (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
      |     sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS sim
      |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
      |SELECT vec_a, vec_b, ROUND(sim, 6) AS sim
      |FROM pairs
      |WHERE ROUND(sim, 6) >= 0.4
      |ORDER BY vec_a, vec_b""".stripMargin

  // ---------------------------------------------------------------------
  // d45: connected-component near-dup clusters. Pairwise candidate lists
  // under-specify dedup semantics: A~B, B~C is one cluster even when A and
  // C don't pair directly, and a keeper election must be CLUSTER-global
  // (min id of the whole component) to be auditable. No external graph
  // library; two paths, chosen by the MEASURED size of the pair list:
  //
  //  - Local finish (the common case — near-dup pair lists are orders
  //    smaller than the corpus). When the checkpointed symmetric pair
  //    frame fits the broadcast bound every node-sized frame the driver
  //    may hold already obeys (`spark.graft.graph.broadcastLimit`,
  //    measured as the bytes the checkpoint holds, [[Graph.fitsBroadcast]]
  //    — no job), it is collected once and resolved by union-find over
  //    primitive arrays, the root of every set being its minimum id. One
  //    collect after the pair checkpoint instead of ~12 jobs per
  //    contraction round; the driver's working set (collected pairs, id
  //    and parent arrays, the result rows) is a small constant multiple
  //    of that same bound, as a broadcast's collect-and-build is.
  //  - Distributed contraction, the only path for pair lists the driver
  //    cannot hold — iterative min-label propagation on the contracted
  //    label graph:
  //
  //      each round:  label(v) ← min(label(v), min over neighbors' labels)
  //                   then one pointer-jump: label(v) ← label(label(v))
  //                   edges relabeled through each label GROUP's new label
  //
  //    It converges in O(log n) rounds on the chain/clique mixes near-dup
  //    graphs produce (plain propagation alone is O(diameter)); each
  //    round is a few shuffled joins + an aggregation on the CONTRACTED
  //    graph, which shrinks geometrically. Every round is checkpointed
  //    (ids only, O(pair-list) bytes, never corpus-scale), and the loop
  //    raises past [[CcMaxRounds]] as its oracle twin [[CcSql]] does.
  // ---------------------------------------------------------------------

  /** Contraction-round cap of the distributed path. Every round merges
    * at least the group holding each component's minimum label with a
    * neighbor, and the contraction converges in O(log n) rounds on
    * near-dup graphs; reaching the cap means the loop is not converging,
    * which must fail loudly, not spin (CcPropertySpec pins the raise).
    */
  private val CcMaxRounds = 64

  /** (doc_id, cluster_id) for every node in `pairs`, cluster_id = min id
    * of the node's connected component.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    // materialize the (possibly expensive) pair pipeline ONCE before
    // sizing and resolving it — every later action would otherwise
    // re-execute the full upstream candidate-generation pipeline. Every
    // checkpoint here is the [[Checkpoints]] switch (reliable when
    // `spark.graft.checkpointDir` is set, local otherwise); both modes are
    // exercised by DedupSimilaritySpec's "connectedComponents
    // reliable-checkpoint mode" test
    val sym = pairs.select(col(aCol).as("a"), col(bCol).as("b"))
      .union(pairs.select(col(bCol).as("a"), col(aCol).as("b")))
      .graftCheckpoint(true)
    val integralIds = sym.schema("a").dataType match {
      case LongType | IntegerType => true
      case _ => false
    }
    if (integralIds && Graph.fitsBroadcast(sym)) localComponents(sym)
    else distributedComponents(sym)
  }

  /** Union-find over the collected symmetric pair frame; the result is a
    * local relation with the distributed path's schema.
    */
  private def localComponents(sym: DataFrame): DataFrame = {
    val spark = sym.sparkSession
    import spark.implicits._
    val idType = sym.schema("a").dataType
    // one direction of each symmetric pair carries every node
    val half = sym.filter(col("a") <= col("b"))
      .select(col("a").cast(LongType), col("b").cast(LongType)).as[(Long, Long)].collect()
    val ids = new Array[Long](2 * half.length)
    for (i <- half.indices) { ids(2 * i) = half(i)._1; ids(2 * i + 1) = half(i)._2 }
    java.util.Arrays.sort(ids)
    var n = 0
    for (i <- ids.indices if i == 0 || ids(i) != ids(i - 1)) { ids(n) = ids(i); n += 1 }
    // node index = rank in id order, so the smaller index is the smaller
    // id and linking every root under the smaller one leaves each set
    // rooted at its minimum id
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    def index(id: Long): Int = java.util.Arrays.binarySearch(ids, 0, n, id)
    for ((a, b) <- half) {
      val ra = find(index(a))
      val rb = find(index(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    (0 until n).map(i => (ids(i), ids(find(i)))).toDF("doc_id", "cluster_id")
      .select(col("doc_id").cast(idType), col("cluster_id").cast(idType))
  }

  private[graft] def distributedComponents(sym: DataFrame,
                                           maxRounds: Int = CcMaxRounds): DataFrame = {
    var labels = sym.select(col("a").as("id")).distinct()
      .withColumn("label", col("id")).graftCheckpoint(true)
    // label-graph edges; contracted (relabeled + dedup'd) every round
    var edges = sym.distinct().graftCheckpoint(true)
    var rounds = 0
    // the contracted edge set is SYMMETRIC at every round (`sym` is,
    // relabeling maps both directions, the a≠b filter and distinct
    // preserve it), so "some node sees a smaller neighbor label" ⟺ "any
    // contracted edge remains"; the probe reads the round's checkpoint
    while (!edges.isEmpty) {
      rounds += 1
      if (rounds > maxRounds)
        throw new IllegalStateException(
          s"connectedComponents did not converge in $maxRounds contraction rounds")
      // min neighbor label per label-graph node
      val minN = edges.groupBy(col("a").as("label")).agg(min(col("b")).as("nl"))
        .filter(col("nl") < col("label"))
      // apply update, then pointer-jump: label(v) ← label(label(v)) —
      // every label value is itself a node id, so the lookup is a
      // self-join of the updated table (halves chain depth per round).
      // A second jump per round was measured in r19 and REJECTED: round
      // counts at sf0.1 are bound by basin-graph diameter (the per-round
      // contraction already gives minN the FastSV hook's label-keyed
      // semantics), so extra jumps added broadcast sub-jobs without
      // cutting a single round (m66 stayed at 3, d45 at 1).
      val updated = labels.join(minN, Seq("label"), "left")
        .select(col("id"), least(col("label"), col("nl")).as("label"))
      val jump = updated.select(col("id").as("jid"), col("label").as("jl"))
      val next = updated.join(jump, col("label") === col("jid"), "left")
        .select(col("id"), coalesce(col("jl"), col("label")).as("label"))
        .graftCheckpoint(true)
      // every member of a group moves to the same new label, but node L
      // itself need not belong to group L (it may have hooked elsewhere),
      // so an endpoint L is relabeled through its group, never through
      // node L's own label — that would strand the group's edges and
      // split its component
      val moved = labels.join(next.withColumnRenamed("label", "to"), "id")
        .select(col("label").as("from"), col("to")).distinct()
      edges = edges
        .join(moved.withColumnRenamed("from", "a").withColumnRenamed("to", "la"), Seq("a"))
        .join(moved.withColumnRenamed("from", "b").withColumnRenamed("to", "lb"), Seq("b"))
        .select(col("la").as("a"), col("lb").as("b"))
        .filter(col("a") =!= col("b"))
        .distinct()
        .graftCheckpoint(true)
      labels = next
    }
    labels.select(col("id").as("doc_id"), col("label").as("cluster_id"))
  }

  def d45NearDupClusters(spark: SparkSession, dir: String): DataFrame =
    connectedComponents(
        minhashNearDupPairsFrom(Tables.documents(spark, dir)), "doc_a", "doc_b")
      .orderBy(col("doc_id"))

  /** Oracle: components via the shared unrolled FastSV chain
    * ([[CcSql]]; was a recursive-CTE transitive closure — 13s per query
    * at sf0.1 across the three queries sharing this SQL, VERDICT r16).
    */
  val d45NearDupClustersSql: String =
    s"""WITH ${shingleCtesFrom("documents")},
       |$minhashPairCtes,
       |edges AS MATERIALIZED (
       |  SELECT doc_a AS a, doc_b AS b FROM nd_pairs
       |  UNION SELECT doc_b, doc_a FROM nd_pairs),
       |${CcSql.stages()}
       |SELECT id AS doc_id, l AS cluster_id
       |FROM ${CcSql.labels()}
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // d63: incremental near-dup against a persisted band index — the op a
  // continuously-ingesting 100 TB pipeline hits weekly: a new id-monotone
  // batch is shingled/banded ONCE ([[bandedSignaturesFrom]]) and joined
  // against the accumulated (band, bucket) index, so candidate work per
  // advance is O(|batch| × bucket-mates), never a corpus re-signature.
  // Pairs accumulate; clusters resolve over the union — and because every
  // (a < b) pair surfaces exactly when b's batch arrives (the index holds
  // all earlier bands, ids are batch-monotone), the folded result is
  // EXACTLY the from-scratch d42+d45 run: the oracle is d45's SQL
  // verbatim, making incremental ≡ recompute a cross-engine hash check
  // (the c71 discipline, here for the MinHash-LSH path — VERDICT r12
  // item 4). The hot-bucket cap is evaluated on the full index each
  // advance; as in d42 it is a non-binding runaway brake on real corpora
  // (a binding cap is corpus-order-dependent by design).
  //
  // Scale state between advances: the band index (8 rows × ~300 B per
  // doc) and the pair list (near-dups only) — both orders smaller than
  // the corpus; persist them as tables between runs on a real cluster.
  // ---------------------------------------------------------------------

  /** The fold's between-advance state: the accumulated (doc_id, sig,
    * band, bucket) band index and the accumulated near-dup pair list.
    * `null` frames = the empty pre-first-advance state (an aggregate
    * schema can't be conjured without data).
    */
  final case class NearDupState(index: DataFrame, pairs: DataFrame)

  /** One advance: band the id-monotone batch ONCE, join it against the
    * accumulated index, union the pair delta (every pair's LATER member
    * is in this batch, so deltas are final — they union, never merge).
    */
  private[graft] def advanceNeardup(state: NearDupState, b: DataFrame,
      threshold: Double = 0.35, maxBucket: Int = DocBucketCap): NearDupState = {
    // band the newcomers once; the index is never re-signed
    val newBands = bandedSignaturesFrom(b).graftCheckpoint(true)
    val all = if (state.index == null) newBands
      else state.index.unionByName(newBands)
    // ADVICE r13: the incremental ≡ from-scratch contract (oracle =
    // d45's SQL verbatim, uncapped) silently depended on the hot-bucket
    // cap never binding — a bucket crossing the cap only in a LATER
    // batch would keep its earlier-batch pairs while the from-scratch
    // run drops the whole bucket. A binding cap therefore surfaces as
    // a LOUD failure here (raise the cap or re-run d42/d45 from
    // scratch), never as a silent cross-engine hash mismatch. The
    // check is one hash-aggregate over the (checkpointed, corpus-
    // orders-smaller) band index per advance — d42's brake cost, with
    // fail-stop instead of drop semantics.
    val hot = BucketGuard.hotBuckets(all, Seq("band", "bucket"), maxBucket).take(1)
    require(hot.isEmpty,
      s"incremental near-dup advance: band-bucket cap $maxBucket binds (${hot.mkString}); " +
        "a binding cap breaks incremental ≡ recompute — raise the cap or recompute from scratch")
    // pair delta = every pair whose LATER member is in this batch
    val delta = pairsFromBandJoin(all,
      all.join(b.select(col("doc_id")), Seq("doc_id"), "left_semi"), threshold)
    val pairs = if (state.pairs == null) delta.graftCheckpoint(true)
      else state.pairs.unionByName(delta).graftCheckpoint(true)
    NearDupState(all.graftCheckpoint(true), pairs)
  }

  /** Resolve the state's accumulated pairs to (doc_id, cluster_id) —
    * ≡ [[d45NearDupClusters]] of everything folded so far.
    */
  private[graft] def neardupClustersOf(state: NearDupState): DataFrame =
    connectedComponents(state.pairs, "doc_a", "doc_b")

  /** Fold id-monotone (doc_id, text) batches through a persisted band
    * index; returns (doc_id, cluster_id) over every near-dup node, ≡
    * [[d45NearDupClusters]] of the batches' union.
    */
  private[graft] def incrementalNeardupClusters(batches: Seq[DataFrame],
      threshold: Double = 0.35, maxBucket: Int = DocBucketCap): DataFrame =
    neardupClustersOf(batches.foldLeft(NearDupState(null, null))(
      advanceNeardup(_, _, threshold, maxBucket)))

  def d63IncrementalNeardup(spark: SparkSession, dir: String): DataFrame =
    incrementalNeardupClusters(
        Increments.monotoneHalves(Tables.documents(spark, dir), "doc_id"))
      .orderBy(col("doc_id"))

  // ---------------------------------------------------------------------
  // d66: the same fold RESUMED FROM DISK — what turns d63's incremental
  // operator into an incremental PIPELINE (VERDICT r14 item 1): a real
  // 100 TB nightly ingest persists the band index and pair list between
  // runs, and each night's job loads them, folds the new batch, and
  // writes the advanced state back. State on disk is parquet (columnar,
  // partition-parallel at any size) and corpus-orders smaller than the
  // documents it indexes. The oracle is STILL d45's SQL verbatim over
  // the union: resume-from-disk ≡ from-scratch is hash-proven
  // cross-engine, now across a durability boundary (the reloaded frames
  // are the fold's ONLY link to run 1).
  // ---------------------------------------------------------------------

  private[graft] def saveNeardupState(state: NearDupState, path: String): Unit =
    Increments.saveState(path,
      "band_index" -> state.index, "pairs" -> state.pairs)

  private[graft] def loadNeardupState(spark: SparkSession, path: String): NearDupState =
    NearDupState(
      Increments.loadState(spark, path, "band_index", "doc_id", "sig", "band", "bucket"),
      Increments.loadState(spark, path, "pairs", "doc_a", "doc_b", "est_jaccard"))

  def d66ResumedNeardup(spark: SparkSession, dir: String): DataFrame = {
    val batches = Increments.monotoneHalves(Tables.documents(spark, dir), "doc_id")
    val stateDir = java.nio.file.Files.createTempDirectory("graft_d66_state").toString
    try {
      // run 1: fold the first batch from empty state, persist, forget
      saveNeardupState(advanceNeardup(NearDupState(null, null), batches.head), stateDir)
      // run 2: the resumed fold sees ONLY the disk state
      val resumed = batches.tail.foldLeft(loadNeardupState(spark, stateDir))(
        advanceNeardup(_, _))
      // the nightly write-back (loadState's eager checkpoint detached
      // the fold from the files, so overwrite is safe mid-plan)
      saveNeardupState(resumed, stateDir)
      neardupClustersOf(resumed).orderBy(col("doc_id"))
    } finally Increments.deleteRecursively(stateDir)
  }

  // ---------------------------------------------------------------------
  // d47: chunk-level (paragraph-style) exact dedup — the sub-document
  // granularity between d40's whole-doc hash and d42/d43's fuzzy
  // matching: split each doc into fixed 8-token chunks, hash each chunk,
  // elect the globally-first occurrence per hash (min (doc_id,
  // chunk_idx)), and report each doc's duplicated-chunk fraction. This is
  // the "remove repeated paragraphs/boilerplate blocks" pass of a
  // training-data pipeline, where near-dup docs share long verbatim runs
  // that whole-doc hashing misses.
  //
  // Scale shape: ONE shuffle keyed on the chunk hash (the row_number
  // window), one on doc_id (the per-doc rollup). Only the 32-hex md5 —
  // never the chunk text — crosses the wire: at 100 TB the shuffle
  // payload is 32 bytes/chunk regardless of chunk width. The election is
  // deterministic ((doc_id, chunk_idx) total order), so "keeper" is
  // auditable, same discipline as d40.
  // ---------------------------------------------------------------------
  private val ChunkTokens = 8

  def d47ChunkDedup(spark: SparkSession, dir: String): DataFrame = {
    val nChunks = ceil(size(col("toks")) / lit(ChunkTokens.toDouble)).cast(IntegerType)
    val chunks = Tables.documents(spark, dir)
      .repartition(spark.sessionState.conf.numShufflePartitions)
      .withColumn("toks", tokens)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), greatest(nChunks, lit(1))),
        i => struct(i.as("chunk_idx"),
          graft.functions.HashFns.fastMd5(concat_ws(" ",
            slice(col("toks"), (i - 1) * ChunkTokens + 1, lit(ChunkTokens)))).as("h")))).as("c"))
      .select(col("doc_id"), col("c.chunk_idx"), col("c.h"))
    val w = Window.partitionBy(col("h")).orderBy(col("doc_id").asc, col("chunk_idx").asc)
    chunks
      .withColumn("rn", row_number().over(w))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum((col("rn") > 1).cast(LongType)).as("n_dup_chunks"))
      .withColumn("dup_chunk_frac", col("n_dup_chunks") / col("n_chunks"))
      .orderBy(col("doc_id"))
  }

  val d47ChunkDedupSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |chunks AS (
       |  SELECT doc_id, i AS chunk_idx,
       |    md5(list_aggregate(t[(i-1)*$ChunkTokens+1 : i*$ChunkTokens],
       |      'string_agg', ' ')) AS h
       |  FROM toks, unnest(range(1,
       |    greatest(CAST(ceil(len(t) / $ChunkTokens.0) AS BIGINT), 1) + 1)) AS u(i)),
       |elected AS (
       |  SELECT doc_id,
       |    ROW_NUMBER() OVER (PARTITION BY h
       |      ORDER BY doc_id ASC, chunk_idx ASC) AS rn
       |  FROM chunks)
       |SELECT doc_id, COUNT(*) AS n_chunks,
       |  CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
       |  SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) * 1.0 / COUNT(*) AS dup_chunk_frac
       |FROM elected
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // d49: benchmark decontamination — the overlap-removal pass every
  // serious training run applies: any corpus doc sharing a VERBATIM
  // 8-token window with a held-out benchmark/eval set is flagged (with
  // its shared-window count as the contamination score). Distinct from
  // near-dup (d42/d43): the test is asymmetric (huge corpus vs tiny
  // benchmark), exact (one verbatim window is disqualifying — no
  // similarity threshold), and sliding (any alignment, not chunk
  // boundaries).
  //
  // Scale shape: the benchmark's window-hash set is tiny and BROADCAST;
  // the corpus explodes its (per-doc distinct) windows once, hashes each
  // to md5, and probes the broadcast — one corpus scan, one per-doc
  // aggregate, the corpus never shuffles against the benchmark. Here the
  // benchmark set is the first DecontamBench doc ids (the testdata's
  // stand-in for an eval suite); hits are the planted near-dups of those
  // docs, so the flag list is small and nonzero at every gated SF.
  // ---------------------------------------------------------------------
  private val DecontamBench = 20

  def d49Decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val wins = Tables.documents(spark, dir)
      .repartition(spark.sessionState.conf.numShufflePartitions)
      .withColumn("t", tokens)
      .select(col("doc_id"),
        explode(array_distinct(TextOps.kgrams(col("t"), 8))).as("win"))
      .select(col("doc_id"), graft.functions.HashFns.fastMd5(col("win")).as("wh"))
    val bench = wins.filter(col("doc_id") < DecontamBench)
      .select(col("wh")).distinct()
    wins.filter(col("doc_id") >= DecontamBench)
      .join(broadcast(bench), Seq("wh"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared_windows"))
      .orderBy(col("doc_id"))
  }

  val d49DecontaminateSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |w AS (
       |  SELECT doc_id, md5(win) AS wh FROM (
       |    SELECT doc_id, unnest(list_distinct(${TextOps.kgramsSql(8)})) AS win
       |    FROM toks) x),
       |bench AS (
       |  SELECT DISTINCT wh FROM w WHERE doc_id < $DecontamBench)
       |SELECT doc_id, COUNT(*) AS n_shared_windows
       |FROM w JOIN bench USING (wh)
       |WHERE doc_id >= $DecontamBench
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // d58: intra-corpus exact substring dedup — the span-level granularity
  // between d47's fixed chunks and d40's whole documents (Lee et al.,
  // "Deduplicating Training Data Makes Language Models Better": remove
  // any ≥L-token substring that appears verbatim more than once in the
  // corpus, keeping the first occurrence). Sliding L-token window hashes
  // at EVERY alignment (d49's machinery, positions kept), elect the
  // globally-first occurrence per hash (min (doc_id, pos) — d40/d47's
  // auditable-keeper discipline), then merge each doc's non-first window
  // positions into maximal token spans via the q72 interval-union idiom.
  // Output: one row per maximal duplicated span — exactly the byte
  // ranges a cleaning pass would cut.
  //
  // Scale shape: the corpus-sized shuffle carries ONLY (wh md5, doc_id,
  // pos) — 32 hex chars + two longs per window, never text (the paper's
  // suffix-array build is a single-machine design; window hashing is the
  // shuffle-native equivalent and finds the same ≥L repeats, quantized
  // to window alignment). The election is a map-side-combined
  // min-aggregate joined back (skew-immune — see the inline note), the
  // join's build side is pre-pruned to repeated hashes only, the span
  // merge windows by doc_id — per-doc bounded — and the interval union
  // is the running-max form, never a buffered span list.
  // ---------------------------------------------------------------------
  private[operators] val SpanL = 10

  /** Spans over any (doc_id, text) frame — the corpus entry point below
    * plus the spec's planted-duplicate harness.
    */
  private[graft] def substringSpansFrom(df: DataFrame): DataFrame = {
    val toks = df
      .withColumn("t", tokens)
      .filter(size(col("t")) >= SpanL) // full L-token windows only
    val wins = toks.select(col("doc_id"), posexplode(
        transform(sequence(lit(1), size(col("t")) - (SpanL - 1)),
          i => graft.functions.HashFns.fastMd5(concat_ws(" ",
            (0 until SpanL).map(j => try_element_at(col("t"), i + lit(j))): _*)))))
      .select(col("doc_id"), (col("pos") + 1).cast(LongType).as("pos"),
        col("col").as("wh"))
    // First-occurrence election via min-aggregate + join, NOT a
    // per-hash row_number window (d47's shape): the election only needs
    // "am I the min (doc_id, pos) for my hash", and the aggregate form
    // is map-side combined — a boilerplate window repeated across 1% of
    // a 100 TB corpus partial-aggregates to one row per map task
    // instead of serializing every occurrence into one window reducer,
    // and the remaining equi-join is AQE-skew-splittable where window
    // skew is not.
    val firsts = wins.groupBy(col("wh"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("first"),
        count(lit(1)).as("occ"))
    val dup = wins
      .join(firsts.where(col("occ") > 1), Seq("wh"))
      .where(struct(col("doc_id"), col("pos")) =!= col("first"))
      .select(col("doc_id"), col("pos").as("s"),
        (col("pos") + (SpanL - 1)).as("e"))
    // q72 interval union, keyed per doc: a window starts a new island iff
    // it begins past every preceding window's covered end + 1
    val wPrev = Window.partitionBy(col("doc_id")).orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy(col("doc_id")).orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dup
      .withColumn("ni",
        (col("s") > coalesce(max(col("e")).over(wPrev), lit(-1L)) + 1).cast(LongType))
      .withColumn("island", sum(col("ni")).over(wRun))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("s")).as("span_start"), max(col("e")).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"),
        col("n_windows"))
      .orderBy(col("doc_id"), col("span_start"))
  }

  def d58SubstringSpans(spark: SparkSession, dir: String): DataFrame =
    substringSpansFrom(Tables.documents(spark, dir)
      .repartition(spark.sessionState.conf.numShufflePartitions)
      .select(col("doc_id"), col("text")))

  /** The d58 span CTE chain over any relation `rel` exposing (doc_id,
    * text), ending in `spans58(doc_id, island, span_start, span_end,
    * span_tokens, n_windows)` — embeddable (c80 composes it over the
    * post-d40 keeper corpus). The oracle election stays the naive
    * ROW_NUMBER form on purpose; the engine's min-aggregate election is
    * hash-proven equivalent against it.
    */
  private[operators] def substringSpanCtesSql(rel: String): String =
    s"""toks58 AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM $rel),
       |wins58 AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
       |    md5(array_to_string(t[i : i + ${SpanL - 1}], ' ')) AS wh
       |  FROM toks58, unnest(range(1, len(t) - $SpanL + 2)) AS u(i)),
       |dup58 AS (
       |  SELECT doc_id, pos AS s, pos + ${SpanL - 1} AS e FROM (
       |    SELECT doc_id, pos,
       |      ROW_NUMBER() OVER (PARTITION BY wh ORDER BY doc_id, pos) AS rn
       |    FROM wins58) x
       |  WHERE rn > 1),
       |isl58 AS (
       |  SELECT doc_id, s, e,
       |    CASE WHEN s > COALESCE(MAX(e) OVER (PARTITION BY doc_id ORDER BY s
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
       |      THEN 1 ELSE 0 END AS ni
       |  FROM dup58),
       |grp58 AS (
       |  SELECT doc_id, s, e,
       |    SUM(ni) OVER (PARTITION BY doc_id ORDER BY s
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
       |  FROM isl58),
       |spans58 AS (
       |  SELECT doc_id, island, MIN(s) AS span_start, MAX(e) AS span_end,
       |    CAST(MAX(e) - MIN(s) + 1 AS BIGINT) AS span_tokens,
       |    COUNT(*) AS n_windows
       |  FROM grp58
       |  GROUP BY doc_id, island)""".stripMargin

  val d58SubstringSpansSql: String =
    s"""WITH ${substringSpanCtesSql("documents")}
       |SELECT doc_id, span_start, span_end, span_tokens, n_windows
       |FROM spans58
       |ORDER BY doc_id, span_start""".stripMargin

  // ---------------------------------------------------------------------
  // d50: edit-distance near-dup verification — the fuzzy-match verifier
  // the hash-family dedupers (d42/d43) can't express: candidate pairs
  // come from the SAME sub-quadratic minhash band join as d42, then each
  // candidate is CONFIRMED by character-level Levenshtein distance
  // relative to the longer text (the record-linkage "block then verify"
  // pattern). Cost is O(len²) per candidate but only candidates pay it.
  //
  // Scale: the candidate set is orders smaller than the corpus, so
  // Catalyst broadcasts it for the two text-fetch joins — the corpus is
  // scanned, never shuffled, for the fetch; the only corpus shuffle is
  // the band-bucket join already bounded by BucketGuard. levenshtein()
  // is the classic unit-cost DP in both engines → oracle hash-grade.
  // ---------------------------------------------------------------------
  private val EditRelMax = 0.05

  def d50EditDistance(spark: SparkSession, dir: String): DataFrame = {
    // r19 (guide §1.2 step 2): BANDED verification. The full Levenshtein
    // DP is O(|a|·|b|) per candidate and was the engine's single largest
    // CPU concentration; the 3-arg levenshtein (Spark 3.5+) runs the
    // banded O(threshold·n) DP and returns −1 above the threshold.
    // Semantics proof (the output must be bit-identical to the full DP,
    // and the oracle still spells the full DP):
    //  - kept rows: a row survives iff round(dist/len_max, 6) ≤ 0.05,
    //    i.e. dist ≤ len_max·(0.05 + 5e-7 rounding slack) < T where
    //    T = floor(0.06·len_max) + 1 — for every such row the banded DP
    //    returns the EXACT distance (threshold not exceeded), so dist,
    //    rel_dist and the filter are unchanged;
    //  - dropped rows: banded −1 means dist > T ≥ 0.06·len_max, so
    //    rel_dist ≥ 0.06; the 0.01 margin over the 0.05 gate is 4 orders
    //    of magnitude above the 1e-6 rounding granularity, so no −1 row
    //    could have passed the original filter. Rows with an exact
    //    distance in the (0.05, 0.06] band are computed exactly and then
    //    dropped by the same rel_dist filter as before.
    // The 0.06 band still cuts the DP matrix to ~12% of cells; a doc
    // would need len_max > 2e6 chars for the margin to matter, and even
    // then the proof only needs dist/len_max − 0.05 > 5e-7.
    val d = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    minhashNearDupPairsFrom(Tables.documents(spark, dir))
      .join(d.as("da"), col("doc_a") === col("da.doc_id"))
      .join(d.as("db"), col("doc_b") === col("db.doc_id"))
      .withColumn("len_max",
        greatest(length(col("da.text")), length(col("db.text"))))
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"),
        expr(s"levenshtein(da.text, db.text, cast($EditRelMax * 1.2 * len_max as int) + 1)")
          .as("dist"),
        col("len_max"))
      .filter(col("dist") >= 0)
      .withColumn("rel_dist", round(col("dist") / col("len_max"), 6))
      .filter(col("rel_dist") <= EditRelMax)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val d50EditDistanceSql: String =
    s"""$shingleSqlView,
       |$minhashPairCtes
       |SELECT doc_a, doc_b, est_jaccard,
       |  levenshtein(da.text, db.text) AS dist,
       |  GREATEST(len(da.text), len(db.text)) AS len_max,
       |  ROUND(levenshtein(da.text, db.text) / GREATEST(len(da.text), len(db.text)), 6)
       |    AS rel_dist
       |FROM nd_pairs
       |JOIN documents da ON da.doc_id = doc_a
       |JOIN documents db ON db.doc_id = doc_b
       |WHERE ROUND(levenshtein(da.text, db.text) / GREATEST(len(da.text), len(db.text)), 6)
       |  <= $EditRelMax
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------------
  // d53: record linkage with deterministic blocking — entity resolution
  // over a structured catalog (part listings) rather than free text: the
  // "are these two product records the same thing" primitive. Blocking
  // key = (noun token of the name, size); within a block, candidate
  // pairs are verified by Levenshtein distance ≤ 4 on the full name.
  //
  // The scale move: pairs are generated over DISTINCT entity keys
  // (name, size), not raw listings — the distinct shuffle collapses the
  // corpus to its vocabulary first, so the quadratic step is bounded by
  // |vocab per block|², which is CONSTANT in corpus size (measured:
  // 1.5k pairs at sf0.01 → 7.6k at sf0.1, plateauing at the vocabulary
  // bound while raw listings grow 10×). Each entity carries its listing
  // count and min-id canonical representative back to the pair output —
  // the same keeper-election convention as d40. This is the classic
  // blocking+verification linkage shape (Fellegi-Sunter style candidate
  // generation); d50 is its unstructured-text sibling (minhash
  // candidates verified by edit distance).
  // ---------------------------------------------------------------------
  def d53RecordLinkage(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.part(spark, dir)
      .groupBy(col("p_name"), col("p_size"))
      .agg(count(lit(1)).as("n_listings"), min(col("p_partkey")).as("canonical_id"))
      .withColumn("noun", split(col("p_name"), " ").getItem(1))
    val a = e.select(col("p_name").as("name_a"), col("p_size"), col("noun"),
      col("n_listings").as("n_a"), col("canonical_id").as("id_a"))
    val b = e.select(col("p_name").as("name_b"), col("p_size").as("size_b"),
      col("noun").as("noun_b"), col("n_listings").as("n_b"), col("canonical_id").as("id_b"))
    a.join(b, col("noun") === col("noun_b") && col("p_size") === col("size_b") &&
        col("name_a") < col("name_b"))
      .where(levenshtein(col("name_a"), col("name_b")) <= 4)
      .select(col("name_a"), col("name_b"), col("p_size"),
        levenshtein(col("name_a"), col("name_b")).cast(LongType).as("dist"),
        col("n_a"), col("n_b"), col("id_a"), col("id_b"))
      .orderBy(col("p_size"), col("name_a"), col("name_b"))
  }

  val d53RecordLinkageSql: String =
    """WITH e AS (
      |  SELECT p_name, p_size, COUNT(*) AS n_listings,
      |    CAST(MIN(p_partkey) AS BIGINT) AS canonical_id,
      |    string_split(p_name, ' ')[2] AS noun
      |  FROM part GROUP BY p_name, p_size)
      |SELECT a.p_name AS name_a, b.p_name AS name_b, a.p_size AS p_size,
      |  CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist,
      |  a.n_listings AS n_a, b.n_listings AS n_b,
      |  a.canonical_id AS id_a, b.canonical_id AS id_b
      |FROM e a JOIN e b
      |  ON a.noun = b.noun AND a.p_size = b.p_size AND a.p_name < b.p_name
      |WHERE levenshtein(a.p_name, b.p_name) <= 4
      |ORDER BY p_size, name_a, name_b""".stripMargin

  // -------------------------------------------------------------------
  // d54: bloom-prefiltered semi-join — the engine's runtime-filter
  // pattern as a USER-LEVEL operator (RuntimeFilterSpec pins Spark's
  // injected version; this one is explicit, so it composes with any
  // membership source). Three stages:
  //   1. build: the dim keys are folded into a fixed 65536-bit bloom
  //      bitmap (1024 int64 words, k=3 portable-hash probes) by one
  //      bit_or aggregate; the WORD-sized result (8 KiB, constant in the
  //      data) comes to the driver — the d46 bounded-aggregate idiom,
  //      and exactly how Spark's own runtime filters merge at the
  //      driver before re-broadcast;
  //   2. prefilter: facts probe the bitmap as a plan literal — three
  //      codegen'd shift/mask tests per row, NO join, no shuffle; false
  //      positives pass, false negatives are impossible (spec-pinned);
  //   3. verify: survivors take the EXACT semi-join. The oracle IS the
  //      plain semi-join — the bloom must be a pure no-op on results.
  //
  // Why it matters at 100 TB: a broadcast hash SET of a 10^9-key build
  // side is tens of GB (dead), while its bloom at 10 bits/key is ~1 GB
  // streamed once — and the prefilter drops the 96%+ of fact rows that
  // would otherwise carry through the shuffle to a join that rejects
  // them. Here the dim is small (one brand) so stage 3 broadcasts; the
  // STRUCTURE is what scales.
  // -------------------------------------------------------------------
  private val BloomWords = 1024 // 64 Ki bits
  private val BloomHashes = 3
  private val BloomBits = BloomWords * 64L

  /** Fold the `k` column of `keys` into a BloomWords-long word array. */
  private def bloomBitmap(keys: DataFrame): Seq[Long] = {
    val posCols = (0 until BloomHashes).map { i =>
      pmod(PortableHash.h60(concat(col("k").cast(StringType), lit("#" + i))),
        lit(BloomBits))
    }
    val rows = keys.select(explode(array(posCols: _*)).as("pos"))
      .select(expr("CAST(pos div 64 AS INT) AS w"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT)) AS b"))
      .groupBy("w").agg(expr("bit_or(b) AS bits"))
      .collect()
    val arr = new Array[Long](BloomWords)
    rows.foreach(r => arr(r.getInt(0)) = r.getLong(1))
    arr.toSeq
  }

  /** The brand-dim build side and the bloom-prefiltered (not yet exactly
    * verified) lineitem rows — split out so DedupSimilaritySpec can pin
    * zero false negatives and the prefilter's selectivity.
    */
  private[graft] def bloomPrefiltered(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val dim = Tables.part(spark, dir).where(col("p_brand") === lit("Brand#12"))
      .select(col("p_partkey").as("k"))
    val bm = bloomBitmap(dim)
    val fact = (0 until BloomHashes).foldLeft(
      Tables.lineitem(spark, dir).withColumn("bm", typedLit(bm))) { (df, i) =>
      df.withColumn(s"p$i",
        pmod(PortableHash.h60(concat(col("l_partkey").cast(StringType), lit("#" + i))),
          lit(BloomBits)))
    }
    val pass = (0 until BloomHashes).map(i => expr(
      s"(shiftright(element_at(bm, CAST(p$i div 64 AS INT) + 1), CAST(p$i % 64 AS INT)) & 1) = 1"))
      .reduce(_ && _)
    (dim, fact.where(pass))
  }

  def d54BloomSemiJoin(spark: SparkSession, dir: String): DataFrame = {
    val (dim, pre) = bloomPrefiltered(spark, dir)
    pre.join(broadcast(dim), col("l_partkey") === col("k"), "left_semi")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        Relational.dsum(col("l_extendedprice")).as("sum_price"))
      .orderBy(col("l_returnflag"))
  }

  val d54BloomSemiJoinSql: String =
    s"""SELECT l_returnflag, COUNT(*) AS n_rows,
       |  ${Relational.dsumSql("l_extendedprice")} AS sum_price
       |FROM lineitem
       |WHERE l_partkey IN
       |  (SELECT p_partkey FROM part WHERE p_brand = 'Brand#12')
       |GROUP BY l_returnflag
       |ORDER BY l_returnflag""".stripMargin

  // -------------------------------------------------------------------
  // d55: EXACT sub-quadratic set-similarity join via prefix filtering
  // (SSJoin / ppjoin family) — the third point on the near-dup design
  // space: d41 is exact-but-join-on-every-shared-shingle, d42/d43 are
  // sub-quadratic-but-approximate; this is exact AND sub-quadratic.
  // Same contract as d41 (3-gram shingle Jaccard ≥ 0.5 pairs), and the
  // registered oracle IS d41's quadratic SQL — the hash gate proves the
  // pruning is lossless, not just plausible.
  //
  // How: order every doc's shingle set by GLOBAL rarity (document
  // frequency asc, then hash — one total order, no global rank
  // assignment, no single-partition window: the (df, k) PAIR is the sort
  // key). For Jaccard ≥ θ, two sets must share an element within their
  // first |x| − ⌈θ|x|⌉ + 1 rarest shingles (if all prefix elements
  // differ, the overlap is too small to reach θ) — so candidates come
  // from a PREFIX×PREFIX equi-join instead of d41's full shingle join,
  // and the rarity order makes those prefixes the least-shared shingles
  // in the corpus. Survivors are verified exactly (two id-joins back to
  // the full sets + a count). At θ=0.5 the prefix is ~half of each set;
  // at the θ≥0.8 of production dedup it is a small constant slice, and
  // candidate volume collapses accordingly (DedupSimilaritySpec pins
  // candidates strictly below d41's shared-shingle pair volume).
  // -------------------------------------------------------------------
  def d55PrefixFilterJoin(spark: SparkSession, dir: String): DataFrame = {
    // the hashed shingle frame feeds dfreq, the prefix window AND both
    // verification joins — localCheckpoint materializes the (compute-
    // dense) shingling once instead of four times (the Graph.projection
    // idiom; measured ~6 s → ~3.5 s warm on the sf0.1 suite run)
    val sh = shingledCounted(spark, dir)
      .select(col("doc_id"), col("n_shingles"),
        PortableHash.h60(col("shingle")).as("k"))
      .graftCheckpoint(true)
    val dfreq = sh.groupBy(col("k")).agg(count(lit(1)).as("dfreq"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("dfreq"), col("k"))
    val prefix = sh.join(dfreq, "k")
      .withColumn("rn", row_number().over(w))
      // prefix length for Jaccard θ=0.5: n − ⌈n/2⌉ + 1 (integer div)
      .where(col("rn") <= expr("n_shingles - ((n_shingles + 1) div 2) + 1"))
      .select(col("doc_id"), col("k"))
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.k") === col("b.k") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val a = sh.select(col("doc_id").as("doc_a"), col("n_shingles").as("na"), col("k"))
    val b = sh.select(col("doc_id").as("doc_b"), col("n_shingles").as("nb"), col("k"))
    cand.join(a, "doc_a").join(b, Seq("doc_b", "k"))
      .groupBy(col("doc_a"), col("doc_b"), col("na"), col("nb"))
      .agg(count(lit(1)).as("n_common"))
      .withColumn("jaccard", round(col("n_common") /
        (col("na") + col("nb") - col("n_common")), 6))
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"), col("n_common"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Candidate pairs surviving d55's prefix filter — exposed so the spec
    * can pin the pruning ratio against d41's shared-shingle pair volume.
    */
  private[graft] def d55CandidateCount(spark: SparkSession, dir: String): (Long, Long) = {
    val sh = shingledCounted(spark, dir)
      .select(col("doc_id"), col("n_shingles"),
        PortableHash.h60(col("shingle")).as("k"))
    val dfreq = sh.groupBy(col("k")).agg(count(lit(1)).as("dfreq"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("dfreq"), col("k"))
    val prefix = sh.join(dfreq, "k")
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= expr("n_shingles - ((n_shingles + 1) div 2) + 1"))
      .select(col("doc_id"), col("k"))
    val candPrefix = prefix.as("a").join(prefix.as("b"),
        col("a.k") === col("b.k") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id")).distinct().count()
    val candFull = sh.as("a").join(sh.as("b"),
        col("a.k") === col("b.k") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id")).distinct().count()
    (candPrefix, candFull)
  }

  // -------------------------------------------------------------------
  // d57: EXACT containment join (asymmetric set overlap) — find ordered
  // pairs where ≥ θ of src's shingles appear in dst: the quote/clone/
  // near-superset detector (d55 finds mutually-similar pairs; a long doc
  // that swallowed a short one has low Jaccard but high containment —
  // THE case symmetric dedup misses). Same prefix-filter discipline as
  // d55, adapted to the one-sided threshold: order src's shingles by
  // global rarity (dfreq, hash); if C(src→dst) ≥ θ then one of src's
  // first n − ⌈θn⌉ + 1 rarest shingles must hit dst (pigeonhole), so
  // candidates come from src-PREFIX × dst-FULL — the dst side cannot be
  // prefix-pruned (containment says nothing about dst's size), which is
  // exactly why the filter is still worth it: candidate volume scales
  // with |prefix|, a constant slice at production θ. Survivors verify
  // exactly; the θ gate is the pure-integer cross-multiplication
  // n_common·10 ≥ n_src·8. ORACLE is the naive full shingle join — the
  // pruning is hash-proven lossless (d55's design point, one-sided).
  // -------------------------------------------------------------------
  /** The containment join over ANY (doc_id, text) frame — split out so
    * the spec can plant a true one-directional case (a short doc
    * swallowed by a long one), which this corpus's same-length near-dup
    * edits never produce (every corpus pair ≥ θ is mutual).
    */
  private[graft] def containmentJoinFrom(docs: DataFrame): DataFrame = {
    // shared-frame localCheckpoint, same rationale as d55
    val sh = shingledCountedFrom(docs)
      .select(col("doc_id"), col("n_shingles"),
        PortableHash.h60(col("shingle")).as("k"))
      .graftCheckpoint(true)
    val dfreq = sh.groupBy(col("k")).agg(count(lit(1)).as("dfreq"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("dfreq"), col("k"))
    val prefix = sh.join(dfreq, "k")
      .withColumn("rn", row_number().over(w))
      // prefix length for containment θ=0.8: n − ⌈8n/10⌉ + 1
      .where(col("rn") <= expr("n_shingles - ((8 * n_shingles + 9) div 10) + 1"))
      .select(col("doc_id"), col("k"))
    val cand = prefix.as("a")
      .join(sh.select(col("doc_id"), col("k")).as("b"),
        col("a.k") === col("b.k") && col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id").as("src_id"), col("b.doc_id").as("dst_id"))
      .distinct()
    val a = sh.select(col("doc_id").as("src_id"), col("n_shingles").as("n_src"), col("k"))
    val b = sh.select(col("doc_id").as("dst_id"), col("k"))
    cand.join(a, "src_id").join(b, Seq("dst_id", "k"))
      .groupBy(col("src_id"), col("dst_id"), col("n_src"))
      .agg(count(lit(1)).as("n_common"))
      .filter(col("n_common") * 10 >= col("n_src") * 8)
      .select(col("src_id"), col("dst_id"), col("n_src"), col("n_common"),
        round(col("n_common") / col("n_src"), 6).as("containment"))
      .orderBy(col("src_id"), col("dst_id"))
  }

  def d57ContainmentJoin(spark: SparkSession, dir: String): DataFrame =
    containmentJoinFrom(Tables.documents(spark, dir))

  val d57ContainmentJoinSql: String =
    s"""$shingleSqlView,
       |hashed AS (
       |  SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS k FROM shingles),
       |sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM hashed GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS src_id, b.doc_id AS dst_id, COUNT(*) AS n_common
       |  FROM hashed a JOIN hashed b
       |    ON a.k = b.k AND a.doc_id <> b.doc_id
       |  GROUP BY 1, 2)
       |SELECT src_id, dst_id, s.n_shingles AS n_src, n_common,
       |  ROUND(n_common / s.n_shingles, 6) AS containment
       |FROM inter
       |JOIN sizes s ON s.doc_id = src_id
       |WHERE n_common * 10 >= s.n_shingles * 8
       |ORDER BY src_id, dst_id""".stripMargin

  // ---------------------------------------------------------------------
  // t93: per-document n-gram novelty — the fraction of a doc's 8-gram
  // windows that appear in NO other document (Lee et al. 2022's
  // cross-document granularity, read per doc): d58 marks the repeated
  // SPANS for removal, t55 reads WITHIN-doc repetition, t93 scores each
  // doc's cross-corpus originality — the memorization-risk /
  // novelty-filter signal a data-selection stage ranks on. Same-doc
  // repeats deliberately do NOT count (that is t55's axis): a window is
  // shared iff its hash occurs in ≥ 2 DISTINCT documents.
  //
  // Scale shape: the window fan-out is a per-row projection (d58's
  // shape); only (doc_id, window-hash) tuples ever shuffle — once for
  // the distinct-doc census, once for the join back (same hash
  // partitioning, exchange reused) — text never moves. The census is
  // bounded by distinct 8-grams, the output by doc count.
  //
  // Exactness: md5-keyed integer counts; novelty is one double division
  // rounded once. Docs shorter than 8 tokens have no windows and emit
  // no row (both engines).
  // ---------------------------------------------------------------------
  private val NoveltyL = 8

  def t93NgramNovelty(spark: SparkSession, dir: String): DataFrame =
    ngramNoveltyFrom(Tables.documents(spark, dir)
      .repartition(spark.sessionState.conf.numShufflePartitions)
      .select(col("doc_id"), col("text")))

  /** Cross-doc 8-gram novelty over any (doc_id, text) frame — spec
    * entry point.
    */
  private[graft] def ngramNoveltyFrom(df: DataFrame): DataFrame = {
    val toks = df.withColumn("t", tokens).filter(size(col("t")) >= NoveltyL)
    // NOT checkpointed: the explode is recomputed per consumer on
    // purpose — materializing corpus×len window rows would dwarf the
    // recompute cost at any scale (d58's judgment call, shared here)
    val wins = toks.select(col("doc_id"), posexplode(
        transform(sequence(lit(1), size(col("t")) - (NoveltyL - 1)),
          i => graft.functions.HashFns.fastMd5(concat_ws(" ",
            (0 until NoveltyL).map(j => try_element_at(col("t"), i + lit(j))): _*)))))
      .select(col("doc_id"), col("col").as("wh"))
    val census = wins.groupBy(col("wh"))
      .agg(countDistinct(col("doc_id")).as("nd"))
    wins.join(census, "wh")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("nd") >= 2L, 1L).otherwise(0L)).as("n_shared"))
      .select(col("doc_id"), col("n_windows"), col("n_shared"),
        round(lit(1.0) - col("n_shared").cast(DoubleType)
          / col("n_windows").cast(DoubleType), 6).as("novelty"))
      .orderBy(col("doc_id"))
  }

  val t93NgramNoveltySql: String =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |wins AS (
       |  SELECT doc_id, md5(array_to_string(t[i : i + ${NoveltyL - 1}], ' ')) AS wh
       |  FROM toks, unnest(range(1, len(t) - $NoveltyL + 2)) AS u(i)
       |  WHERE len(t) >= $NoveltyL),
       |census AS (
       |  SELECT wh, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS nd
       |  FROM wins GROUP BY 1)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_windows,
       |  CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
       |  ROUND(1.0 - CAST(CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE)
       |    / CAST(CAST(COUNT(*) AS BIGINT) AS DOUBLE), 6) AS novelty
       |FROM wins JOIN census USING (wh)
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef.sql("d40_dedup_exact", d40ExactGroups _, d40ExactGroupsSql),
    QueryDef.sql("t93_ngram_novelty", t93NgramNovelty _, t93NgramNoveltySql),
    QueryDef.sql("d41_ngram_jaccard", d41NgramJaccard _, d41NgramJaccardSql),
    QueryDef.sql("d42_minhash_lsh", d42MinhashLsh _, d42MinhashLshSql),
    QueryDef.sql("d43_simhash", d43Simhash _, d43SimhashSql),
    QueryDef.sql("d45_neardup_clusters", d45NearDupClusters _, d45NearDupClustersSql),
    // d63's oracle is d45's SQL VERBATIM: incremental ≡ from-scratch is
    // the operator's contract, hash-checked cross-engine (c71 discipline)
    QueryDef.sql("d63_incremental_neardup", d63IncrementalNeardup _, d45NearDupClustersSql),
    // d66 resumes the fold from parquet state: same verbatim oracle —
    // resume-from-disk ≡ from-scratch, hash-proven across the boundary
    QueryDef.sql("d66_resumed_neardup", d66ResumedNeardup _, d45NearDupClustersSql),
    QueryDef.sql("d44_embedding_neardup", d44EmbeddingNearDup _, d44EmbeddingNearDupSql),
    QueryDef.sql("d47_chunk_dedup", d47ChunkDedup _, d47ChunkDedupSql),
    QueryDef.sql("d49_decontaminate", d49Decontaminate _, d49DecontaminateSql),
    QueryDef.sql("d50_edit_distance", d50EditDistance _, d50EditDistanceSql),
    QueryDef.sql("d53_record_linkage", d53RecordLinkage _, d53RecordLinkageSql),
    QueryDef.sql("d54_bloom_semijoin", d54BloomSemiJoin _, d54BloomSemiJoinSql),
    QueryDef.sql("d55_prefix_filter_join", d55PrefixFilterJoin _, d41NgramJaccardSql),
    QueryDef.sql("d57_containment_join", d57ContainmentJoin _, d57ContainmentJoinSql),
    QueryDef.sql("d58_substring_spans", d58SubstringSpans _, d58SubstringSpansSql),
  )
}
