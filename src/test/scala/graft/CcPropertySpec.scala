package graft

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** Connected components, both paths against a reference: the driver-side
  * union-find finish (pair list within `spark.graft.graph.broadcastLimit`)
  * and the distributed contraction rounds (forced with limit = 1) must
  * both label every node with the minimum id of its component, on the
  * shapes that stress label contraction — paths with shuffled ids, a hub,
  * many small components, sparse random graphs and the mutual-kNN graphs
  * of random embeddings (the d65/d68 shape).
  */
class CcPropertySpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.builder("local[4]", 4).getOrCreate()

  /** Reference labeling: min id per component, by graph search. */
  private def reference(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = (edges ++ edges.map(_.swap)).groupMap(_._1)(_._2)
    val label = scala.collection.mutable.Map.empty[Long, Long]
    for (start <- adj.keys.toSeq.sorted if !label.contains(start)) {
      val stack = scala.collection.mutable.Stack(start)
      label(start) = start
      while (stack.nonEmpty)
        for (m <- adj(stack.pop()) if !label.contains(m)) { label(m) = start; stack.push(m) }
    }
    label.toMap
  }

  private def components(pairs: DataFrame): Map[Long, Long] =
    Dedup.connectedComponents(pairs, "x", "y").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def distributed[T](body: => T): T = {
    spark.conf.set("spark.graft.graph.broadcastLimit", "1")
    try body finally spark.conf.unset("spark.graft.graph.broadcastLimit")
  }

  private def checkBothPaths(name: String, edges: Seq[(Long, Long)]): Unit = {
    import spark.implicits._
    val pairs = edges.toDF("x", "y")
    val want = reference(edges)
    assert(components(pairs) == want, s"$name: local finish")
    assert(distributed(components(pairs)) == want, s"$name: distributed rounds")
  }

  private def ids(rnd: Random, n: Int): IndexedSeq[Long] =
    rnd.shuffle((1 to n * 10).map(_.toLong)).take(n).toIndexedSeq

  test("paths with shuffled and descending ids, a hub and many small components") {
    val rnd = new Random(11)
    val path = ids(rnd, 64)
    checkBothPaths("path", path.zip(path.tail))
    // each node's label group moves under a smaller node every round: the
    // shape that strands edges relabeled through a node's own label
    val down = (64L to 1L by -1L).toIndexedSeq
    checkBothPaths("descending path", down.zip(down.tail))
    val hub = ids(rnd, 50)
    val spokes = hub.tail.map(hub.head -> _) ++
      hub.tail.sliding(2, 7).collect { case Seq(a, b) => a -> b } ++
      hub.takeRight(3).zip(ids(rnd, 3).map(_ + 1000))
    checkBothPaths("hub", spokes)
    val small = ids(rnd, 120).grouped(3).flatMap(g => g.zip(g.tail)).toSeq
    checkBothPaths("small components", small)
  }

  test("sparse random graphs") {
    for (seed <- 1 to 3) {
      val rnd = new Random(seed)
      val nodes = ids(rnd, 80)
      val edges = Seq.fill(70)(nodes(rnd.nextInt(80)) -> nodes(rnd.nextInt(80)))
        .filter { case (a, b) => a != b }
      checkBothPaths(s"random graph $seed", edges)
    }
  }

  test("mutual top-3 kNN graphs of 500 random unit embeddings") {
    for (seed <- Seq(1, 2, 3)) {
      val rnd = new Random(seed)
      val vecs = Array.fill(500) {
        val v = Array.fill(64)(rnd.nextGaussian().toFloat)
        val norm = math.sqrt(v.map(x => x.toDouble * x).sum)
        v.map(x => (x / norm).toFloat)
      }
      def dot(a: Array[Float], b: Array[Float]): Double =
        a.indices.map(i => a(i).toDouble * b(i)).sum
      val top3 = vecs.indices.map { i =>
        vecs.indices.filter(_ != i).sortBy(j => (-dot(vecs(i), vecs(j)), j)).take(3).toSet
      }
      val mutual = for (i <- vecs.indices; j <- top3(i) if i < j && top3(j)(i))
        yield (i.toLong, j.toLong)
      checkBothPaths(s"mutual kNN $seed", mutual)
    }
  }

  test("both paths keep the id type: int ids stay int") {
    import spark.implicits._
    val pairs = Seq((3, 1), (1, 2), (7, 8)).toDF("x", "y")
    val local = Dedup.connectedComponents(pairs, "x", "y")
    val dist = distributed(Dedup.connectedComponents(pairs, "x", "y"))
    assert(local.schema.map(f => f.name -> f.dataType) ==
      dist.schema.map(f => f.name -> f.dataType))
    assert(local.schema("doc_id").dataType == org.apache.spark.sql.types.IntegerType)
    assert(local.orderBy(col("doc_id")).collect().map(r => r.getInt(0) -> r.getInt(1)).toSeq ==
      Seq(1 -> 1, 2 -> 1, 3 -> 1, 7 -> 7, 8 -> 7))
  }

  test("the distributed rounds raise when they reach the round cap") {
    import spark.implicits._
    val path = (1L to 16L).reverse
    val edges = path.zip(path.tail)
    val sym = (edges ++ edges.map(_.swap)).toDF("a", "b")
    val e = intercept[IllegalStateException] {
      Dedup.distributedComponents(sym, maxRounds = 1)
    }
    assert(e.getMessage.contains("did not converge"))
    assert(Dedup.distributedComponents(sym).collect().forall(_.getLong(1) == 1L))
  }
}
