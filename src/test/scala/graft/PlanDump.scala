package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** Writes the formatted physical plans of each query to `<outDir>/<query>.txt`:
  * every SQL execution its builder runs (eager checkpoints, driver
  * reads) in order, as executed, then the returned frame's run (a
  * `noop` write), as executed, then the returned frame's plan as
  * planned. An executed plan shows AQE's final plan above its initial
  * one. Expression, plan and RDD ids are masked, so a `diff -r` of two
  * dumps shows plan changes (and the few orderings Catalyst does not fix,
  * such as an `Expand`'s projections).
  *
  * {{{
  * sbt "Test/runMain graft.PlanDump /path/to/sf0.01 /tmp/plans [query ...]"
  * }}}
  */
object PlanDump {
  private val masks = Seq(
    "#\\d+" -> "#x",                  // expression ids
    "plan_id=\\d+" -> "plan_id=x",
    "\\[id=#?\\d+\\]" -> "[id=x]",
    "RDD\\[\\d+\\]" -> "RDD[x]",
    "\\.scala:\\d+" -> ".scala:x",        // call sites of checkpointed RDDs
    "Subquery:\\s*\\d+" -> "Subquery: x",
    "graft-[0-9a-f-]{36}" -> "graft-x",  // reliable checkpoint run dirs
    "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}" -> "uuid")

  def mask(plan: String): String =
    masks.foldLeft(plan) { case (s, (re, to)) => s.replaceAll(re, to) }

  private def formatted(qe: QueryExecution): String = mask(qe.explainString(FormattedMode))

  def main(args: Array[String]): Unit = {
    val sfDir +: outDir +: only = args.toSeq
    val spark = GraftSession.get()
    val sc = spark.sparkContext
    Files.createDirectories(Paths.get(outDir))
    val runs = ArrayBuffer.empty[String]
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        runs.synchronized(runs += s"-- execution: $funcName\n${formatted(qe)}")
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only.contains(name) }
    for ((name, fn) <- queries) {
      org.apache.spark.graft.ListenerBusDrain(sc)
      runs.synchronized(runs.clear())
      val df = fn(spark, sfDir)
      val planned = formatted(df.queryExecution)
      // run it too: AQE may re-plan a join once its inputs are measured
      df.write.format("noop").mode("overwrite").save()
      org.apache.spark.graft.ListenerBusDrain(sc)
      val text = s"${runs.synchronized(runs.mkString("\n"))}\n-- returned frame, planned\n$planned"
      Files.writeString(Paths.get(outDir, s"$name.txt"), text)
      ModelCache.releaseTransient(spark)
    }
    println(s"[plan-dump] ${queries.size} queries -> $outDir")
    spark.stop()
  }
}
