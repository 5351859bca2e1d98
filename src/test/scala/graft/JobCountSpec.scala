package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** Spark jobs per iterative round, counted through a `SparkListener`.
  * Per-job driver and scheduling latency, not executor work, dominates
  * these loops at small scale, so the job count of a round is its cost:
  *
  *  - a PageRank round is one shuffle — a broadcast job, a map stage and
  *    a result stage, at most 3 jobs;
  *  - connected components below `spark.graft.graph.broadcastLimit`
  *    finish on the driver: the pair checkpoint and one collect, and no
  *    contraction round;
  *  - broadcast decisions read the bytes a checkpoint holds and run no
  *    action of their own.
  *
  * Jobs are grouped by the SQL execution (one Dataset action or eager
  * checkpoint) that started them.
  */
class JobCountSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.builder("local[4]", 4).getOrCreate()
  private val dir = "/root/testdata/sf0.001"

  /** Job counts of the SQL executions `body` runs, in execution order. */
  private def jobsPerExecution(body: => Unit): Seq[Int] = {
    val sc = spark.sparkContext
    org.apache.spark.graft.ListenerBusDrain(sc)
    val jobs = new ConcurrentHashMap[Long, AtomicInteger]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val exec = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .map(_.toLong).getOrElse(-1L)
        jobs.computeIfAbsent(exec, _ => new AtomicInteger()).incrementAndGet()
      }
    }
    sc.addSparkListener(listener)
    try {
      body
      org.apache.spark.graft.ListenerBusDrain(sc)
    } finally sc.removeSparkListener(listener)
    jobs.asScala.toSeq.sortBy(_._1).map(_._2.get)
  }

  test("a PageRank round runs at most 3 jobs") {
    val perExec = jobsPerExecution(SparkEntry.queries("q63_pagerank")(spark, dir))
    // the builder's last five actions are the five round checkpoints
    assert(perExec.size >= 5, s"executions: $perExec")
    val rounds = perExec.takeRight(5)
    assert(rounds.forall(_ <= 3), s"jobs per PageRank round: $rounds (all: $perExec)")
  }

  test("connected components below the broadcast limit run no contraction round") {
    import spark.implicits._
    val pairs = Seq((5L, 4L), (4L, 3L), (3L, 2L), (2L, 1L), (10L, 11L)).toDF("x", "y")
    val local = jobsPerExecution(Dedup.connectedComponents(pairs, "x", "y").collect())
    // the pair checkpoint and the collect — the returned frame is a local
    // relation, so reading it adds no further action
    assert(local.size <= 2, s"jobs per execution below the limit: $local")
    spark.conf.set("spark.graft.graph.broadcastLimit", "1")
    val rounds = try jobsPerExecution(Dedup.connectedComponents(pairs, "x", "y").collect())
      finally spark.conf.unset("spark.graft.graph.broadcastLimit")
    assert(rounds.size > 3, s"the distributed path must take contraction rounds: $rounds")
  }

  test("q67, q115 and q116 run one SQL execution fewer than with row-count broadcast sizing") {
    // executions with the row-count guard: q67 counted its nodes, q115
    // read two countDistincts, q116 checkpointed its threshold frame and
    // counted its nodes
    val rowCounted = Map("q67_khop_reach" -> 11, "q115_hits" -> 7, "q116_kcore" -> 12)
    for ((q, n) <- rowCounted) {
      val perExec = jobsPerExecution(SparkEntry.queries(q)(spark, dir))
      assert(perExec.size == n - 1, s"$q executions: $perExec")
    }
  }
}
