package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Checkpoints, Graph}
import graft.operators.Checkpoints.GraftCheckpointOps

/** The graph broadcast guard on adversarial shapes. `Graph.fitsBroadcast`
  * measures a frame by [[Checkpoints.heldBytes]], the bytes its
  * checkpoints hold. A count times a per-row guess undersizes these
  * shapes: 56 B per edge for the triangle adjacency, and `defaultSize` +
  * 24 B per row for node frames, which reads a string as 20 B whatever
  * its length. Each shape below sits under the limit by that guess and
  * over it by the held bytes, and must degrade to an unhinted join with
  * rows unchanged.
  */
class BroadcastGuardSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.builder("local[4]", 4).getOrCreate()
  private val LimitKey = "spark.graft.graph.broadcastLimit"

  private def withLimit[T](limit: Long)(body: => T): T = {
    spark.conf.set(LimitKey, limit.toString)
    try body finally spark.conf.unset(LimitKey)
  }

  /** Output columns of each join side that carries a strategy hint. */
  private def hintedSides(df: DataFrame): Seq[Seq[String]] =
    df.queryExecution.optimizedPlan.collect { case j: LJoin =>
      Seq(j.hint.leftHint -> j.left, j.hint.rightHint -> j.right).collect {
        case (Some(h), side) if h.strategy.isDefined => side.output.map(_.name)
      }
    }.flatten

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** Bytes of `df`'s rows in Spark's UnsafeRow format. */
  private def rowBytes(df: DataFrame): Long =
    df.queryExecution.toRdd.map(_.asInstanceOf[UnsafeRow].getSizeInBytes.toLong).fold(0L)(_ + _)

  test("a hub's 1e5-wide adjacency row degrades under a limit the 56·m estimate passes") {
    val m = 100000L
    val or = spark.range(1L, m + 1).select(lit(0L).as("u"), col("id").as("v"))
      .union(spark.range(1L, 4L).select(col("id").as("u"), (col("id") + 1).as("v")))
      .graftCheckpoint(true)
    val edges = m + 3
    val limit = 56L * edges // the edge-count estimate passes this limit
    val held = Checkpoints.heldBytes(or).get
    assert(held > limit, s"held $held B must exceed the 56·m estimate ${56L * edges} B")
    val hinted = Graph.withAdjacency(or)
    assert(hintedSides(hinted).size == 2, s"default limit: ${hintedSides(hinted)}")
    withLimit(limit) {
      val degraded = Graph.withAdjacency(or)
      assert(hintedSides(degraded).isEmpty,
        s"the hub adjacency must go unhinted at limit $limit: ${hintedSides(degraded)}")
      assert(rows(degraded.select(col("u"), col("v"), size(col("nu")), size(col("nv")))) ==
        rows(hinted.select(col("u"), col("v"), size(col("nu")), size(col("nv")))))
    }
  }

  test("1,000 partition labels of 10 kB degrade under a limit the rows × (defaultSize + 24) estimate passes") {
    val n = 1000L
    val comm = spark.range(n)
      .select(col("id").as("node"),
        concat(lit("x" * 10000), (col("id") % 7).cast("string")).as("comm"))
      .graftCheckpoint(true)
    val und = spark.range(n - 1).select(col("id").as("src"), (col("id") + 1).as("dst"))
    val estimate = n * (8 + 20 + 24) // long + string defaultSize + entry overhead
    val limit = 1L << 20
    assert(estimate <= limit)
    assert(Checkpoints.heldBytes(comm).get > limit)
    val labelled = (cols: Seq[String]) => cols.exists(Set("comm", "cs", "cd"))
    val hinted = Graph.modularityFrom(und, comm)
    assert(hintedSides(hinted).count(labelled) == 3, s"default limit: ${hintedSides(hinted)}")
    withLimit(limit) {
      val degraded = Graph.modularityFrom(und, comm)
      assert(!hintedSides(degraded).exists(labelled),
        s"the 10 kB labels must go unhinted at limit $limit: ${hintedSides(degraded)}")
      assert(rows(degraded) == rows(hinted))
    }
  }

  test("heldBytes bounds the UnsafeRow bytes from above, within 2×, in both checkpoint modes") {
    // (node, 46-char label) rows: 72 B each as UnsafeRows. Narrow rows
    // carry more per-row overhead in a local checkpoint's deserialized
    // blocks: (long, long) rows hold ~84 B against 24 B of row data, so
    // that shape is pinned as an upper bound within 4×
    def labels = spark.range(20000L).select(col("id").as("node"),
      concat(lit("label-"), lpad(col("id").cast("string"), 40, "0")).as("comm"))
    def pairs = spark.range(20000L).select(col("id").as("u"), (col("id") * 7).as("v"))
    def check(mode: String): Unit =
      for ((frame, factor) <- Seq(labels -> 2, pairs -> (if (mode == "local") 4 else 2))) {
        val ck = frame.graftCheckpoint(true)
        val held = Checkpoints.heldBytes(ck).get
        val exact = rowBytes(ck)
        assert(held >= exact && held <= factor * exact,
          s"$mode ${frame.columns.mkString(",")}: held $held B, rows $exact B")
      }
    check("local")
    val base = java.nio.file.Files.createTempDirectory("graft_guard_ckpt").toString
    spark.conf.set("spark.graft.checkpointDir", base)
    try check("reliable") finally spark.conf.unset("spark.graft.checkpointDir")
  }

  test("frames not read from checkpoints, or with row-multiplying operators, are not measured") {
    val ck = spark.range(100L).select(col("id").as("node"), (col("id") % 5).as("d"))
      .graftCheckpoint(true)
    val path = java.nio.file.Files.createTempDirectory("graft_guard_parquet").resolve("t").toString
    spark.range(100L).select(col("id").as("node"), col("id").cast("string").as("comm"))
      .write.parquet(path)
    val parquet = spark.read.parquet(path)
    assert(Checkpoints.heldBytes(parquet).isEmpty)
    assert(hintedSides(Graph.boundedBroadcast(parquet).join(ck, "node")).isEmpty,
      "a parquet frame must go out unhinted")
    assert(Checkpoints.heldBytes(ck.select(explode(array(col("node"), col("d"))))).isEmpty)
    assert(Checkpoints.heldBytes(ck.join(ck.select(col("d")), "d")).isEmpty)
    assert(Checkpoints.heldBytes(ck.graftCheckpoint(false).filter(col("d") > 0)).isEmpty,
      "a lazy checkpoint holds nothing yet")
    // row-preserving and row-reducing operators keep the measure
    val held = Checkpoints.heldBytes(ck).get
    assert(Checkpoints.heldBytes(ck.filter(col("d") > 0).groupBy("d").count()).contains(held))
    assert(Checkpoints.heldBytes(ck.crossJoin(ck.agg(max(col("d")).as("m")))).contains(2 * held))
    assert(Checkpoints.heldBytes(ck.crossJoin(broadcast(ck.agg(max(col("d")).as("m")))))
      .contains(2 * held))
    assert(Checkpoints.heldBytes(ck.union(ck)).contains(2 * held))
  }
}
