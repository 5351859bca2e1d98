package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryListener, Trigger}

import graft.GraftSession
import graft.streaming.{ProgressLog, RunningStats, Sources}

/** Job 1 of the reference, rebuilt on Structured Streaming: consume JSON
  * readings, maintain cumulative per-key statistics, emit one JSON record
  * per updated key per trigger (KafkaStreamAverageCalculator.java:38-190).
  *
  * CLI parity with the reference's endpoints (AVG:39-59): Kafka in
  * (default topic `bms`), Kafka/console out (default console, like the
  * reference's `print()`), `./spark_cache` checkpoint dir (AVG:70), 2 s
  * trigger (AVG:65). A file source replays the events table as the
  * stream (the sandbox has no broker). Each epoch's progress goes to
  * stderr as one JSON line ([[graft.streaming.ProgressLog]]):
  *
  * {{{
  * sbt "runMain graft.jobs.AverageCalculatorJob \
  *   --source file:/root/testdata/sf0.001 --once"
  * }}}
  */
object AverageCalculatorJob {
  def main(args: Array[String]): Unit = {
    val conf = JobConfig.parse(args)
    val spark = GraftSession.get()
    run(spark, conf)
    spark.stop()
  }

  def run(spark: SparkSession, conf: JobConfig,
          progress: StreamingQueryListener = new ProgressLog()): Unit = {
    spark.streams.addListener(progress)
    val readings: DataFrame =
      if (conf.isFileSource)
        Sources.eventsStream(spark, conf.sourcePath)
          .select(col("event_type").as("readTag_id"), col("value"))
      else {
        val (servers, topics) = conf.kafkaParts(conf.source)
        Sources.parseReadings(Sources.kafkaStream(spark, servers, topics,
          minPartitions = conf.minPartitions))
      }

    // --fidelity: the imperative transformWithState state machine (real
    // delta leak, Double counter) instead of the declarative aggregate
    val wire: DataFrame =
      if (conf.fidelity) {
        spark.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        graft.fidelity.StatefulStats.toWire(
          graft.fidelity.StatefulStats(readings, col("readTag_id"), col("value")))
      } else
        RunningStats.toWire(RunningStats(readings, col("readTag_id"), col("value")))

    val writer =
      if (conf.sink == "console")
        // Update mode + 10-row cap: the observable behavior of the
        // reference's stat_writer.print() (AVG:185-188)
        wire.writeStream
          .format("console")
          .option("numRows", 10)
          .option("truncate", false)
          .option("checkpointLocation", conf.checkpoint)
          .outputMode(OutputMode.Update())
          .trigger(Trigger.ProcessingTime(conf.trigger))
      else {
        val (servers, topic) = conf.kafkaSinkParts(conf.sink)
        RunningStats.kafkaWireWriter(wire, servers, topic, conf.checkpoint)
      }

    val query = writer.start()
    if (conf.once) { query.processAllAvailable(); query.stop() }
    else query.awaitTermination()
  }
}
