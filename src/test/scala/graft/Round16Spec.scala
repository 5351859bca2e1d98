package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Checkpoints, TextOps}

/** Round-16 contracts (VERDICT r15 items 3 and ADVICE r15).
  *
  *  - '''One reliable-checkpoint switch for every iterative loop.'''
  *    `spark.graft.checkpointDir` flips EVERY `graftCheckpoint`
  *    site — Louvain/LPA sweeps, the BPE budget fold, the incremental
  *    dedup/SemDeDup folds — from executor-local blocks to reliable
  *    `checkpoint()` files. The pin runs representative loops from each
  *    family in both modes and requires (a) bit-identical results and
  *    (b) checkpoint files actually written under a `graft-` run subdir
  *    of the configured base.
  *  - '''BPE oracle-unroll assumption''' (ADVICE r15): the 16-stage
  *    unrolled t98/t99 oracle is exact only while the corpus alphabet
  *    is ≥ budget − unroll = 24; the generator emits exactly 24 at
  *    every SF. alpha > 24 is guarded inside the SQL stages, so this
  *    pins the unguarded direction at the gated SFs — a generator
  *    drift fails HERE at build time, not as an opaque oracle
  *    row-count mismatch.
  */
class Round16Spec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.builder("local[4]", 4).getOrCreate()
  private val dir = "/root/testdata/sf0.001"

  private def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toSeq.map {
      case a: scala.collection.Seq[_] => a.mkString("[", ",", "]")
      case v => String.valueOf(v)
    }.mkString("|"))

  private def fileCount(p: java.io.File): Int =
    if (p.isFile) 1
    else Option(p.listFiles).map(_.map(fileCount).sum).getOrElse(0)

  /** Run `names` from the registry in default mode, then again with the
    * reliable switch set; assert identical rows and files on disk.
    */
  private def checkReliable(names: String*): Unit = {
    val local = names.map(n => n -> rows(SparkEntry.queries(n)(spark, dir))).toMap
    val base = java.nio.file.Files.createTempDirectory("graft_r16_ckpt").toString
    spark.conf.set("spark.graft.checkpointDir", base)
    try {
      names.foreach { n =>
        assert(rows(SparkEntry.queries(n)(spark, dir)) == local(n),
          s"$n: reliable-checkpoint mode must be row-identical to local mode")
      }
      val run = Option(new java.io.File(base).listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("graft-"))
      assert(run.nonEmpty, s"a graft- run subdir must exist under $base")
      assert(run.map(fileCount).sum > 0,
        "reliable mode must write checkpoint files into the run subdir")
    } finally spark.conf.unset("spark.graft.checkpointDir")
  }

  test("reliable-checkpoint switch: iterated Louvain + LPA loops (graph family)") {
    checkReliable("q151_louvain_iterate", "q152_label_propagation")
  }

  test("reliable-checkpoint switch: BPE budget fold (text family)") {
    checkReliable("t98_bpe_budget_train")
  }

  test("reliable-checkpoint switch: incremental folds (dedup/embedding family)") {
    checkReliable("d63_incremental_neardup", "d64_incremental_semdedup")
  }

  test("reliable-checkpoint switch: the one key flips the label-propagation loop") {
    val localRows = rows(SparkEntry.queries("q152_label_propagation")(spark, dir))
    val base = java.nio.file.Files.createTempDirectory("graft_r16_key").toString
    spark.conf.set("spark.graft.checkpointDir", base)
    try {
      assert(rows(SparkEntry.queries("q152_label_propagation")(spark, dir)) == localRows)
      assert(fileCount(new java.io.File(base)) > 0,
        "the key must route loops to reliable checkpoints")
    } finally spark.conf.unset("spark.graft.checkpointDir")
  }

  test("JobConfig multi-topic + minPartitions parity (AVG:41-45 topicMap)") {
    val c = graft.jobs.JobConfig.parse(Array(
      "--source", "kafka://h:9092/bms,bms2", "--min-partitions", "8",
      "--sink", "kafka://h:9092/stream_processing_results"))
    assert(c.minPartitions == 8)
    // comma-list subscribe passes through verbatim (the DSv2 multi-topic
    // subscription standing in for the reference's Map<topic, threads>)
    assert(c.kafkaParts(c.source) == ("h:9092", "bms,bms2"))
    // the producer side stays single-topic (PROD:52-54)
    assert(c.kafkaSinkParts(c.sink) == ("h:9092", "stream_processing_results"))
    intercept[IllegalArgumentException] {
      c.kafkaSinkParts("kafka://h:9092/a,b")
    }
    intercept[IllegalArgumentException] { c.kafkaParts("kafka://h:9092/") }
  }

  test("ScaleLadder replicas preserve near-dup combinatorics exactly (×factor pairs)") {
    // the sf1 ladder's headline claim (BASELINE round-16): the
    // vocabulary-bijection replicas reproduce the source corpus's
    // MinHash near-dup structure precisely — pair count scales EXACTLY
    // ×factor and the BPE alphabet (t98's round count) stays fixed
    val out = java.nio.file.Files.createTempDirectory("graft_ladder").toString
    ScaleLadder.gen(spark, dir, out, 2)
    val basePairs = SparkEntry.queries("d42_minhash_lsh")(spark, dir).count()
    val genPairs = SparkEntry.queries("d42_minhash_lsh")(spark, out).count()
    assert(basePairs > 0, "fixture must contain near-dup pairs")
    assert(genPairs == 2 * basePairs,
      s"factor-2 ladder corpus must carry exactly 2× the pairs " +
        s"($genPairs vs 2×$basePairs)")
    assert(TextOps.bpeAlphabetSize(spark, out) == TextOps.bpeAlphabetSize(spark, dir),
      "replica suffixes must not grow the BPE alphabet")
  }

  test("BPE corpus alphabet is exactly 24 at the gated SFs (oracle-unroll pin)") {
    for (sf <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
                   "/root/testdata/sf0.1")) {
      val alpha = TextOps.bpeAlphabetSize(spark, sf)
      assert(alpha == TextOps.BpeVocabBudget - TextOps.BpeBudgetUnroll,
        s"$sf: alphabet $alpha != 24 — the unrolled t98/t99 oracle depth " +
          "(BpeBudgetUnroll) no longer matches the Scala fold's round count")
    }
  }
}
