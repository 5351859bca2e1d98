package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** [[SmallFinalSort]]: a final `ORDER BY` over a small materialized input
  * sorts in the stage that reads it, with no range exchange and no
  * range-sample job, and every other sort keeps its exchange. Each case
  * compares rows, in order, with the same frame run with the rule
  * excluded through Spark's `spark.sql.adaptive.optimizer.excludedRules`.
  */
class FinalSortSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.builder("local[4]", 4).getOrCreate()
  private val sf001 = "/root/testdata/sf0.01"
  private val sf0001 = "/root/testdata/sf0.001"
  private val range = "Exchange rangepartitioning"

  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val before = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def ruleOff[T](body: => T): T =
    withConf("spark.sql.adaptive.optimizer.excludedRules" -> SmallFinalSort.ruleName)(body)

  /** AQE's final plan, without the initial plan printed below it. */
  private def finalPlan(qe: QueryExecution): String =
    qe.executedPlan.toString.split("== Initial Plan ==")(0)

  /** The rows of `df`, in order, and its final executed plan. */
  private def run(df: => DataFrame): (Seq[Row], String) = {
    val d = df
    val rows = d.collect().toSeq
    (rows, finalPlan(d.queryExecution))
  }

  /** Jobs a parquet write of `df` runs, and the write's executed plan. */
  private def write(df: => DataFrame): (Int, String) = {
    val sc = spark.sparkContext
    val d = df
    val out = Files.createTempDirectory("graft_final_sort").resolve("out").toString
    val jobs = new AtomicInteger()
    val plans = ArrayBuffer.empty[String]
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val planListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.synchronized(plans += finalPlan(qe))
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    org.apache.spark.graft.ListenerBusDrain(sc)
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    try {
      d.write.parquet(out)
      org.apache.spark.graft.ListenerBusDrain(sc)
    } finally {
      sc.removeSparkListener(jobListener)
      spark.listenerManager.unregister(planListener)
    }
    (jobs.get, plans.synchronized(plans.mkString("\n")))
  }

  for (q <- Seq("q9_rollup", "q1_pricing_summary"))
    test(s"$q sorts in its last stage: no range exchange, 2 jobs fewer, same rows") {
      val query = SparkEntry.queries(q)
      val (rowsOn, planOn) = run(query(spark, sf001))
      val (rowsOff, planOff) = ruleOff(run(query(spark, sf001)))
      assert(rowsOn == rowsOff)
      assert(!planOn.contains(range), planOn)
      assert(planOn.contains("Coalesce 1"), planOn)
      assert(planOff.contains(range), planOff)

      val (jobsOn, writeOn) = write(query(spark, sf001))
      val (jobsOff, writeOff) = ruleOff(write(query(spark, sf001)))
      assert(!writeOn.contains(range), writeOn)
      assert(writeOff.contains(range), writeOff)
      // the range sample and the range exchange's map stage
      assert(jobsOn == jobsOff - 2, s"write jobs with the rule $jobsOn, without $jobsOff")
    }

  test("a coalesce(1) above the sort (Verify's write) still sorts in place") {
    def q9 = SparkEntry.queries("q9_rollup")(spark, sf001).coalesce(1)
    val (rows, plan) = run(q9)
    assert(!plan.contains(range), plan)
    assert(rows == ruleOff(run(q9))._1)
  }

  test("a threshold below the input's size keeps the range exchange") {
    val (rows, plan) = withConf(
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1b",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1b") {
      run(SparkEntry.queries("q9_rollup")(spark, sf001))
    }
    assert(plan.contains(range), plan)
    assert(rows == ruleOff(run(SparkEntry.queries("q9_rollup")(spark, sf001)))._1)
  }

  test("an explode between the stage and the sort keeps the range exchange") {
    def exploded = Tables.orders(spark, sf0001)
      .groupBy(col("o_orderstatus"))
      .agg(sort_array(collect_set(col("o_orderpriority"))).as("ps"))
      .select(col("o_orderstatus"), explode(col("ps")).as("p"))
      .orderBy(col("o_orderstatus"), col("p"))
    val (rows, plan) = run(exploded)
    assert(plan.contains(range), plan)
    assert(plan.contains("Generate"), plan)
    assert(rows.nonEmpty && rows == ruleOff(run(exploded))._1)
  }

  test("a repartition(n) input (d44's shape) keeps the range exchange") {
    val d44 = SparkEntry.queries("d44_embedding_neardup")
    val (rows, plan) = run(d44(spark, sf0001))
    assert(plan.contains(range), plan)
    assert(plan.contains("REPARTITION_BY_NUM"), plan)
    // nor is a coalesce added above the range stage once it has run
    assert(!plan.contains("Coalesce 1"), plan)
    assert(rows == ruleOff(run(d44(spark, sf0001)))._1)
  }

  test("orderBy + limit still plans TakeOrderedAndProject") {
    def top = Tables.lineitem(spark, sf0001)
      .groupBy(col("l_suppkey")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("l_suppkey")).limit(5)
    val (rows, plan) = run(top)
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Coalesce 1"), plan)
    assert(rows.size == 5 && rows == ruleOff(run(top))._1)
  }
}
