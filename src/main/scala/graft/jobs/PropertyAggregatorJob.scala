package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}

import graft.GraftSession
import graft.streaming.{ProgressLog, Sources, WordCount}

/** Job 2 of the reference, rebuilt on Structured Streaming: extract the
  * tag id from each JSON record, whitespace-tokenize, count tokens PER
  * MICRO-BATCH — counts reset every trigger, the reference's plain
  * `reduceByKey` semantics (KafkaStreamPropertyAggregator.java:59-96,
  * SURVEY.md §2.4 A1) — and print the first rows of each batch. Each
  * epoch's progress goes to stderr as one JSON line
  * ([[graft.streaming.ProgressLog]]).
  *
  * {{{
  * sbt "runMain graft.jobs.PropertyAggregatorJob \
  *   --source file:/root/testdata/sf0.001 --once"
  * }}}
  */
object PropertyAggregatorJob {
  def main(args: Array[String]): Unit = {
    val conf = JobConfig.parse(args)
    val spark = GraftSession.get()
    run(spark, conf)
    spark.stop()
  }

  def run(spark: SparkSession, conf: JobConfig,
          progress: StreamingQueryListener = new ProgressLog()): Unit = {
    spark.streams.addListener(progress)
    val lines: DataFrame =
      if (conf.isFileSource)
        Sources.eventsStream(spark, conf.sourcePath)
          .select(col("event_type").as("line"))
      else {
        val (servers, topics) = conf.kafkaParts(conf.source)
        Sources.extractTagIds(Sources.kafkaStream(spark, servers, topics,
          minPartitions = conf.minPartitions))
      }

    // per-batch aggregate inside foreachBatch = the DStream per-batch
    // reduceByKey; the show(10) mirrors wordCounts.print() (AGG:96)
    val query = lines.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        println(s"-------- batch $id --------")
        WordCount(batch, col("line")).orderBy(desc("n"), col("word")).show(10, false)
      }
      .option("checkpointLocation", conf.checkpoint)
      .trigger(Trigger.ProcessingTime(conf.trigger))
      .start()

    if (conf.once) { query.processAllAvailable(); query.stop() }
    else query.awaitTermination()
  }
}
