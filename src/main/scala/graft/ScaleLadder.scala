package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-ladder harness (VERDICT r15 item 6): produce a synthetic sf1
  * from the driver's sf0.1 and time the expensive query families at
  * sf0.01 → sf0.1 → sf1, so BASELINE.md can record measured scaling
  * exponents for the 100 TB claims instead of structural argument alone.
  *
  * '''gen mode''' (`runMain graft.ScaleLadder gen <srcDir> <dstDir>
  * <factor>`): writes `factor`× replicas of the scaling tables with
  * deterministic, structure-preserving perturbation. Replica 0 is the
  * source verbatim; the constructions are chosen so the per-replica
  * combinatorics mirror the source corpus and cross-replica interaction
  * is negligible — i.e. the ladder measures how the ENGINE scales, not
  * an artifact of duplicated data:
  *
  *  - `documents`: per-replica VOCABULARY bijection — every token gets a
  *    2-letter replica suffix drawn from the corpus's own 24-char
  *    alphabet (so the BPE alphabet, and with it t98's round count,
  *    stays fixed). A bijection on tokens is a bijection on word-3-gram
  *    shingles, so within-replica Jaccard (and the MinHash near-dup
  *    structure d42 measures) is EXACTLY the source's, while replicas
  *    share zero shingles — pair count scales exactly ×factor, the
  *    honest linear target.
  *  - `embeddings`: per-replica deterministic perturbation
  *    (hash-uniform ±0.25/component, then renormalized to unit — the
  *    corpus invariant) — replicas occupy the same cluster geography
  *    without being exact/semantic duplicates of their source.
  *  - `part`/`orders`/`lineitem`: key-offset replicas (partkey, orderkey
  *    shifted per replica) — the co-purchase graph gains ×factor nodes
  *    and edges at unchanged degree distribution, the TPC-H-like growth
  *    shape (part count scales with sf, per-order line count does not).
  *  - remaining tables copied verbatim (not on the measured paths).
  *
  * '''time mode''' (`runMain graft.ScaleLadder time <sfDir>
  * <q1,q2,...>`): runs each named registry query end-to-end into a
  * `noop` sink (full materialization, no collect) and prints one JSON
  * line of seconds per query — two samples per query, min reported
  * alongside both.
  */
object ScaleLadder {

  // replica suffixes: 2 letters from the corpus's own alphabet (replica
  // 0 = verbatim source). Supports factor <= 10.
  private val Suffixes = Array("", "aa", "bb", "cc", "dd", "ee", "ff",
    "gg", "hh", "ii")

  private def withReplica(df: DataFrame, factor: Int): DataFrame =
    df.crossJoin(
      df.sparkSession.range(factor.toLong).select(col("id").cast("int").as("__r")))

  def gen(spark: SparkSession, src: String, dst: String, factor: Int,
          dense: Boolean = false): Unit = {
    require(factor >= 1 && factor <= Suffixes.length)
    // some testdata generations carry int64-nanos event timestamps; a
    // session from GraftSession.builder reads them as long, and the
    // verbatim copy writes them back as BIGINT, which Tables.events
    // also handles
    def read(t: String) = {
      val df = spark.read.parquet(s"$src/$t.parquet")
      require(!df.isEmpty, s"scale-ladder source table $t at $src is empty")
      df
    }
    def write(df: DataFrame, t: String): Unit =
      df.coalesce(8).write.mode("overwrite").parquet(s"$dst/$t.parquet")

    // ---- documents -----------------------------------------------------
    // default: vocabulary bijection per replica (disjoint shingle spaces —
    // per-replica combinatorics exactly the source's).
    // dense: SAME vocabulary, per-(doc, replica) word permutation — fresh
    // documents over a fixed token space, so inverted-index postings
    // densify ×factor. This is the regime that separates the all-pairs
    // d41 baseline (cost Σ_shingle count² → super-linear at fixed
    // vocabulary) from the banded d42 path; the default ladder cannot
    // show that contrast because disjoint replicas never co-post.
    val d = read("documents")
    val dStep = d.agg(max("doc_id")).head().getLong(0) + 1L
    val sfx = array(Suffixes.map(lit): _*)
    val replicaText =
      if (dense)
        array_join(transform(
          array_sort(transform(split(col("text"), " "),
            (w, i) => struct(xxhash64(w, i, col("doc_id"), col("__r")).as("h"),
              w.as("w")))),
          s => s.getField("w")), " ")
      else
        array_join(transform(split(col("text"), " "),
          w => concat(w, element_at(sfx, col("__r") + 1))), " ")
    write(withReplica(d, factor)
      .withColumn("doc_id", col("doc_id") + col("__r").cast("long") * dStep)
      .withColumn("text",
        when(col("__r") === 0, col("text")).otherwise(replicaText))
      .withColumn("n_chars", length(col("text")))
      .drop("__r"), "documents")

    // ---- embeddings: perturbed + renormalized replicas -----------------
    val e = read("embeddings")
    val eStep = e.agg(max("vec_id")).head().getLong(0) + 1L
    val perturbed = withReplica(e, factor)
      .withColumn("vec_id", col("vec_id") + col("__r").cast("long") * eStep)
      .withColumn("raw",
        when(col("__r") === 0, col("embedding"))
          .otherwise(zip_with(col("embedding"),
            sequence(lit(1), size(col("embedding"))),
            (x, i) => x + (pmod(xxhash64(col("vec_id"), i, col("__r")), lit(2001L))
              .cast("double") / 1000.0 - 1.0) * 0.25)))
      .withColumn("norm", sqrt(aggregate(col("raw"), lit(0.0d),
        (acc, x) => acc + x * x)))
      // replica 0 stays VERBATIM: renormalizing it too (norm≈1 but not
      // exactly) would drift source vectors by 1 ulp and perturb
      // exact-duplicate structure (ADVICE r16)
      .withColumn("embedding",
        when(col("__r") === 0, col("embedding"))
          .otherwise(transform(col("raw"), x => (x / col("norm")).cast("float"))))
    write(perturbed.select("vec_id", "embedding", "label"), "embeddings")

    // ---- star tables: key-offset replicas ------------------------------
    val p = read("part")
    val pStep = p.agg(max("p_partkey")).head().getLong(0) + 1L
    val o = read("orders")
    val oStep = o.agg(max("o_orderkey")).head().getLong(0) + 1L
    write(withReplica(p, factor)
      .withColumn("p_partkey", col("p_partkey") + col("__r").cast("long") * pStep)
      .drop("__r"), "part")
    write(withReplica(o, factor)
      .withColumn("o_orderkey", col("o_orderkey") + col("__r").cast("long") * oStep)
      .drop("__r"), "orders")
    write(withReplica(read("lineitem"), factor)
      .withColumn("l_orderkey", col("l_orderkey") + col("__r").cast("long") * oStep)
      .withColumn("l_partkey", col("l_partkey") + col("__r").cast("long") * pStep)
      .drop("__r"), "lineitem")

    for (t <- Seq("region", "nation", "customer", "supplier", "events"))
      write(read(t), t)
    println(s"[scale-ladder] wrote $dst at factor $factor")
  }

  def time(spark: SparkSession, sfDir: String, names: Seq[String]): Unit = {
    val results = names.map { name =>
      val fn = SparkEntry.queries(name)
      val samples = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        ModelCache.releaseTransient(spark)
        (System.nanoTime() - t0) / 1e9
      }
      name -> samples
    }
    val q = results.map { case (n, s) =>
      f""""$n": {"min": ${s.min}%.2f, "samples": [${s.map(v => f"$v%.2f").mkString(",")}]}"""
    }.mkString(", ")
    println(s"""{"metric":"scale_ladder","sf_dir":"$sfDir","queries":{$q}}""")
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.get()
    args.toList match {
      case "gen" :: src :: dst :: f :: Nil => gen(spark, src, dst, f.toInt)
      case "gen-dense" :: src :: dst :: f :: Nil =>
        gen(spark, src, dst, f.toInt, dense = true)
      case "time" :: dir :: qs :: Nil =>
        time(spark, dir, qs.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      case other => sys.error(s"usage: gen <src> <dst> <factor> | time <dir> <q1,q2,...>; got $other")
    }
    spark.stop()
  }
}
