package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

import graft.functions.FlatJsonTuple

/** Stream sources. The reference ingests JSON `{readTag_id, readValue}`
  * records from a Kafka 0.8 receiver (`KafkaUtils.createStream`,
  * KafkaStreamAverageCalculator.java:66-67); here that's the direct
  * `kafka` DSv2 source — offsets planned by the driver and tracked in the
  * checkpoint, no receivers, no ZooKeeper.
  *
  * The zero-egress test environment has no broker — and no Kafka jars at
  * all (neither kafka-clients nor spark-sql-kafka ships in
  * /opt/spark/jars), so an embedded-KRaft e2e spec is impossible offline
  * (VERDICT r15 item 2's fallback applies). Kafka paths are carried as
  * configuration behind this seam and exercised through the
  * payload-shape parsers below with file/memory sources (SURVEY.md
  * §7.5); the producer-side wire contract is pinned at the BYTE level
  * against golden Jackson output of the reference's POJO
  * (StreamingSpec "golden bytes").
  */
object Sources {

  /** `topics` is a comma-separated list — the reference subscribes via a
    * `Map<topic, numThreads>` (`AVG:41-45`, one receiver thread pool per
    * topic); the DSv2 equivalents are a multi-topic `subscribe` and
    * `minPartitions` (minimum read-split parallelism across all
    * subscribed partitions — the driver plans offset ranges, so "threads
    * per topic" becomes "splits across the subscription"). `minPartitions
    * <= 0` leaves the source's 1-split-per-Kafka-partition default.
    */
  def kafkaStream(spark: SparkSession, bootstrapServers: String, topics: String,
                  startingOffsets: String = "latest",
                  minPartitions: Int = 0): DataFrame = {
    val r = spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("subscribe", topics)
      .option("startingOffsets", startingOffsets)
    (if (minPartitions > 0) r.option("minPartitions", minPartitions.toString)
     else r).load()
  }

  /** P1 (`AVG:80-81`): Kafka value bytes → (readTag_id, value: double).
    * The reference's record is `{readTag_id, readValue}` with `readValue` a
    * JSON *string* carrying a number (`AVG:202-214`: `getString`, then
    * `Double.parseDouble`); here the two steps are [[readingFields]] and
    * `try_cast`.
    *
    * Each record is parsed once, by a generator. A `Generate` is a
    * barrier that filter pushdown cannot copy the parser through. A parser
    * in a projection (`from_json`, `get_json_object`) is not: Catalyst
    * pushes the not-null filter below the projection and copies the parser
    * into the predicate (three `from_json` parses per record, two
    * `get_json_object`). In the benchmark's `stream_jobs` workload
    * `from_json` alone took half of the executor CPU samples.
    *
    * The generator is [[graft.functions.FlatJsonTuple]], which reads a
    * record in one scan of its bytes, without a JSON parser, when the
    * record has the flat wire shape: one object of `"key":"value"` pairs
    * (JSON whitespace around the tokens), every key and value a string of
    * printable ASCII without `\` or `"`, no requested field twice, at
    * most 32 KiB. Every other record goes to Spark's `json_tuple` and
    * reads as it did through `json_tuple` alone (FlatJsonTupleSpec).
    *
    * Malformed records produce nulls instead of the reference's
    * task-killing JSONException — filtered, not fatal. That includes a
    * non-numeric `readValue`: `try_cast` yields null where an ANSI cast
    * would raise `CAST_INVALID_INPUT` and stop the stream. Two records
    * read differently from `from_json`: on a duplicate key the last
    * non-null value wins (`"readValue":"1","readValue":null` keeps 1.0,
    * where `from_json` read null; the reference's org.json rejects
    * duplicate keys outright), and a raw control character inside a
    * string is accepted, as `get_json_object` accepts it (ReadingParseSpec).
    */
  def parseReadings(raw: DataFrame): DataFrame =
    raw.select(readingFields("readTag_id", "readValue").as(Seq("readTag_id", "readValue")))
      .select(col("readTag_id"), col("readValue").try_cast(DoubleType).as("value"))
      .filter(col("readTag_id").isNotNull && col("value").isNotNull)

  /** P2 (`AGG:64-72`): extract just the tag id for the wordcount job, with
    * one parse per record for the reason given at [[parseReadings]]. On a
    * duplicate `readTag_id` the last one wins, the tag [[parseReadings]]
    * takes.
    */
  def extractTagIds(raw: DataFrame): DataFrame =
    raw.select(readingFields("readTag_id").as("line"))
      .filter(col("line").isNotNull)

  /** `json_tuple(value, fields…)` over the `value` column (string or
    * Kafka's binary), read through [[graft.functions.FlatJsonTuple]].
    */
  private def readingFields(fields: String*): Column =
    ColumnBridge.column(FlatJsonTuple(
      (col("value").cast(StringType) +: fields.map(lit)).map(ColumnBridge.expression)))

  /** Raw on-disk events schema, probed from the parquet footers (the file
    * stream source needs an explicit schema). `ts` has been int64 nanos
    * in one testdata generation and TIMESTAMP(MICROS) in another — see
    * Tables.events; [[eventsStreamFrom]] branches on what it finds.
    */
  private def rawEventsSchema(spark: SparkSession, glob: String): StructType = {
    // nanosAsLong is session-wide on purpose: the streaming scan that
    // later reads these files resolves footer types under the same conf
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // an empty glob at stream-DEFINITION time (source dir populated after
    // start — the normal file-stream deployment) must not be fatal: fall
    // back to the explicit events layout (ADVICE r09). ONLY the two
    // nothing-to-probe conditions fall back — a corrupt footer or
    // misconfigured path stays fatal rather than silently defining a
    // wrong-schema stream (ADVICE r10)
    try spark.read.parquet(glob).schema
    catch {
      case e: org.apache.spark.sql.AnalysisException
          if Option(e.getCondition).exists(c =>
            c == "PATH_NOT_FOUND" || c == "UNABLE_TO_INFER_SCHEMA") =>
        fallbackEventsSchema(spark)
    }
  }

  /** Explicit events layout for a stream defined before any file exists
    * to probe. Default = the CURRENT testdata generation: TIMESTAMP
    * (MICROS), resolved as TIMESTAMP_NTZ the same way Tables.events sees
    * it (ADVICE r10 — the previous int64-nanos default made late
    * current-generation arrivals fail the long-vs-timestamp parquet
    * conversion). Deployments replaying the legacy nanos generation set
    * `graft.streaming.eventsFallback=nanos`.
    */
  private def fallbackEventsSchema(spark: SparkSession): StructType = {
    val nanos = spark.conf.get("graft.streaming.eventsFallback", "micros") == "nanos"
    StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", if (nanos) LongType else TimestampNTZType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType)))
  }

  /** File-replay source: the events table as a stream (the test/bench
    * stand-in for the Kafka topic — event_type plays readTag_id,
    * value plays readValue).
    */
  def eventsStream(spark: SparkSession, sfDir: String,
                   maxFilesPerTrigger: Int = 1): DataFrame =
    // glob (not the bare file path): the file stream source requires a
    // directory basePath and re-lists the glob each trigger
    eventsStreamFrom(spark, s"$sfDir/events*.parquet", maxFilesPerTrigger)

  /** Same source over an arbitrary parquet glob — one micro-batch per
    * `maxFilesPerTrigger` files, so a replay staged as N files drives N
    * steady-state epochs (StreamBench).
    */
  def eventsStreamFrom(spark: SparkSession, glob: String,
                       maxFilesPerTrigger: Int = 1): DataFrame = {
    val onDisk = rawEventsSchema(spark, glob)
    val raw = spark.readStream
      .schema(onDisk)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(glob)
    onDisk("ts").dataType match {
      case LongType =>
        // integer division (`div`): long/1000 via `/` casts through double
        // and loses low bits above 2^53 — see Tables.events
        raw.withColumn("ts", timestamp_micros(expr("CAST(ts AS BIGINT) div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }
}
