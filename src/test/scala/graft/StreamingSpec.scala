package graft

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.jobs.{AverageCalculatorJob, JobConfig, PropertyAggregatorJob}
import graft.streaming.{ProgressLog, RunningStats, Sources, StreamJoin, WordCount}

/** Streaming-semantics tests (SURVEY.md §5.2.2): per-epoch Update-mode
  * emissions match the reference's once-per-updated-key-per-batch cadence
  * (A2), wordcount resets per batch (A1), and the file-replayed events
  * stream converges to the batch answer.
  */
class StreamingSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.builder("local[4]", 4).getOrCreate()

  test("update-mode stats emit once per updated key per batch and cumulate") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(String, Double)]
    val stats = RunningStats(input.toDF().toDF("readTag_id", "value"),
      col("readTag_id"), col("value"))
    val q = stats.writeStream.format("memory").queryName("stats_updates")
      .outputMode("update").start()
    try {
      input.addData(("a", 1.0), ("a", 3.0), ("b", 10.0))
      q.processAllAvailable()
      val afterB1 = spark.table("stats_updates").collect()
      assert(afterB1.length == 2, "batch 1: one emission per key")
      val a1 = afterB1.find(_.getString(0) == "a").get
      assert(a1.getAs[Double]("summer") == 4.0 && a1.getAs[Long]("counter") == 2)
      assert(a1.getAs[Double]("mean") == 2.0 && a1.getAs[Double]("var") == 2.0)

      input.addData(("a", 5.0)) // only 'a' updates in batch 2
      q.processAllAvailable()
      val all = spark.table("stats_updates").collect()
      assert(all.length == 3, "batch 2 emitted only the updated key")
      val a2 = all.filter(_.getString(0) == "a")
        .maxBy(_.getAs[Long]("counter"))
      assert(a2.getAs[Double]("summer") == 9.0 && a2.getAs[Long]("counter") == 3)
      assert(a2.getAs[Double]("mean") == 3.0 && a2.getAs[Double]("var") == 4.0)
      assert(a2.getAs[Double]("bestmin") == 1.0 && a2.getAs[Double]("bestmax") == 5.0)
    } finally q.stop()
  }

  test("stream-static enrich: per-batch broadcast join, left keeps unmatched with nulls") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dim = Seq(("click", 1), ("purchase", 5)).toDF("event_type", "weight")
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("event_id", "event_type")
    val q = StreamJoin.enrich(stream, dim, "event_type", "left")
      .writeStream.format("memory").queryName("enriched").outputMode("append").start()
    try {
      input.addData((1L, "click"), (2L, "view"), (3L, "purchase"))
      q.processAllAvailable()
      val rows = spark.table("enriched").collect()
        .map(r => r.getAs[Long]("event_id") ->
          Option(r.getAs[Integer]("weight")).map(_.toInt)).toMap
      assert(rows == Map(1L -> Some(1), 2L -> None, 3L -> Some(5)))
      // second batch joins against the same static dim — no state carried
      input.addData((4L, "click"))
      q.processAllAvailable()
      assert(spark.table("enriched").count() == 4)
      // the dim side must be broadcast, never a shuffle of the stream
      val plan = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
    } finally q.stop()
  }

  test("t55 repetition gate runs stateless on a stream, identical to batch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = Seq(
      (1L, "spam spam spam spam spam spam spam spam spam spam"),
      (2L, "one two three four five six seven eight nine ten"))
    val input = MemoryStream[(Long, String)]
    val q = graft.operators.TextOps.repetitionMetricsFrom(
        input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("gated").outputMode("append").start()
    try {
      input.addData(docs: _*)
      q.processAllAvailable()
      val streamed = spark.table("gated").collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("passes_gate")).toMap
      // identical expression tree over the same rows in batch
      val batch = graft.operators.TextOps.repetitionMetricsFrom(
          docs.toDF("doc_id", "text")).collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("passes_gate")).toMap
      assert(streamed == batch)
      assert(streamed(1L) == 0) // the degenerate doc fails on a stream too
      assert(streamed(2L) == 1)
    } finally q.stop()
  }

  test("t75 learned quality gate runs stateless on a stream, identical to batch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = Seq(
      (1L, "the of and to in is that a the of common words flow here nicely " +
        "and the text keeps a sane mixture of the usual stopwords to score"),
      (2L, "x!!! y??? z@@@ ### $$$ %%% ^^^ &&& *** ((("))
    val input = MemoryStream[(Long, String)]
    val q = graft.operators.TextOps.qualityScoresFrom(
        input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("qc_gated").outputMode("append").start()
    try {
      input.addData(docs: _*)
      q.processAllAvailable()
      val streamed = spark.table("qc_gated").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Double]("z"), r.getAs[Long]("score_n9"), r.getAs[Long]("keep")))).toMap
      val batch = graft.operators.TextOps.qualityScoresFrom(docs.toDF("doc_id", "text"))
        .collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Double]("z"), r.getAs[Long]("score_n9"), r.getAs[Long]("keep")))).toMap
      assert(streamed == batch)
      assert(streamed(1L)._3 == 1L, "stopword-rich prose passes")
      assert(streamed(2L)._3 == 0L, "punctuation soup fails")
    } finally q.stop()
  }

  test("d59 frozen-model DSIR gate scores a stream statelessly, identical to batch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.operators.Sampling
    // freeze a model on a tiny labeled corpus, then score unlabeled
    // arrivals against it — the production shape: fit offline, gate the
    // ingest stream with the frozen table
    val fit = Seq(
      (1L, "en", "alpha beta gamma alpha beta gamma delta"),
      (2L, "de", "omega psi chi omega psi chi phi")).toDF("doc_id", "lang", "text")
    val model = Sampling.dsirModelFrom(fit).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val occ = Sampling.dsirGramsFrom(fit)
    val (tr, tt) = (occ.count(), occ.filter($"lang" === "en").count())
    val lr9 = (0 until 256).map(b => model.getOrElse(b.toLong, Sampling.dsirOovLr9(tt, tr)))
    val docs = Seq(
      (10L, "xx", "alpha beta gamma"),   // target-like
      (11L, "xx", "omega psi chi"),      // off-target
      (12L, "xx", "unseen tokens here")) // pure OOV prior
    val input = MemoryStream[(Long, String, String)]
    val q = Sampling.dsirScoresFrom(input.toDF().toDF("doc_id", "lang", "text"), lr9)
      .writeStream.format("memory").queryName("dsir_scored").outputMode("append").start()
    try {
      input.addData(docs: _*)
      q.processAllAvailable()
      val streamed = spark.table("dsir_scored").collect()
        .map(r => r.getLong(0) -> r.getLong(2)).toMap
      val batch = Sampling.dsirScoresFrom(docs.toDF("doc_id", "lang", "text"), lr9)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(streamed == batch, "stream scores must equal batch scores")
      assert(streamed(10L) > streamed(11L), s"target vocab must outrank off-target: $streamed")
    } finally q.stop()
  }

  test("t71 entropy/TTR gate runs stateless on a stream, identical to batch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = Seq(
      (1L, "aaaa"), // zero-entropy degenerate
      (2L, "one two three four one two three four"),
      (3L, "all tokens here are unique words"))
    val input = MemoryStream[(Long, String)]
    val q = graft.operators.TextOps.entropyMetricsFrom(
        input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("entropy_gate")
      .outputMode("append").start()
    try {
      input.addData(docs: _*)
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) = r.getLong(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      val streamed = spark.table("entropy_gate").collect().map(key).toMap
      // identical per-row expression tree over the same rows in batch
      val batch = graft.operators.TextOps.entropyMetricsFrom(
        docs.toDF("doc_id", "text")).collect().map(key).toMap
      assert(streamed == batch)
      assert(streamed(1L)._1 == 0.0 && streamed(1L)._2 == 0.0) // degenerate
      assert(streamed(2L)._3 == 0.5 && streamed(3L)._3 == 1.0) // TTR
    } finally q.stop()
  }

  test("t72 chunker runs stateless on a stream, identical to batch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val long = (1 to 50).map(i => s"w$i").mkString(" ") // 50 toks -> 2 chunks
    val docs = Seq((1L, "short doc"), (2L, long))
    val input = MemoryStream[(Long, String)]
    val q = graft.operators.TextOps.chunksFrom(
        input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("chunks")
      .outputMode("append").start()
    try {
      input.addData(docs: _*)
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3), r.getString(4)))
      val streamed = spark.table("chunks").collect().map(key).toMap
      val batch = graft.operators.TextOps.chunksFrom(
        docs.toDF("doc_id", "text")).collect().map(key).toMap
      assert(streamed == batch)
      assert(streamed.keySet == Set((1L, 0L), (2L, 0L), (2L, 1L)))
      assert(streamed((2L, 1L))._2 == 26L) // last chunk: 50 - 24 tokens
    } finally q.stop()
  }

  test("wire payload has the reference's 10-field JSON shape") {
    import spark.implicits._
    val stats = RunningStats(
      Seq(("t1", 2.0), ("t1", 4.0)).toDF("readTag_id", "value"),
      col("readTag_id"), col("value"))
    val wire = RunningStats.toWire(stats).collect()
    assert(wire.length == 1)
    assert(wire(0).getAs[String]("key") == "t1")
    val json = wire(0).getAs[String]("value")
    for (f <- Seq("readTag_id", "summer", "counter", "sumsqr", "delta",
        "bestmin", "bestmax", "mean", "m2", "var"))
      assert(json.contains("\"" + f + "\""), s"missing field $f in $json")
  }

  test("fidelity wire bytes equal the reference's Jackson serialization (golden bytes)") {
    // VERDICT r15 item 2 fallback: the sandbox has no Kafka broker AND no
    // kafka-clients/spark-sql-kafka jars (zero kafka jars in
    // /opt/spark/jars), so an embedded-KRaft round-trip is impossible
    // offline. The wire contract is pinned at the byte level instead:
    // these golden strings were produced by running the reference's own
    // POJO (model/SparkStreamingStatisticsProcessingResult.java:5-14)
    // through Jackson ObjectMapper.writeValueAsString — the exact code
    // path of AVG:193-198 — on this machine's Jackson jars. They cover
    // integral doubles ("2.0" not "2"), fractional, negative, and
    // scientific-notation magnitudes (Double.toString semantics both
    // engines share).
    import spark.implicits._
    val golden = Map(
      "t1" -> ("""{"readTag_id":"t1","summer":6.0,"counter":2.0,"sumsqr":20.0,""" +
        """"delta":0.0,"bestmin":2.0,"bestmax":4.0,"mean":3.0,"m2":2.0,"var":2.0}"""),
      "t2" -> ("""{"readTag_id":"t2","summer":2.75,"counter":2.0,"sumsqr":6.3125,""" +
        """"delta":0.25,"bestmin":0.25,"bestmax":2.5,"mean":1.375,"m2":2.53125,"var":2.53125}"""),
      "t3" -> ("""{"readTag_id":"t3","summer":1.0E-7,"counter":1.0,""" +
        """"sumsqr":1.0000000000000002E14,"delta":0.0,"bestmin":-1.5E300,""" +
        """"bestmax":1.0E300,"mean":0.1,"m2":0.3333333333333333,"var":1.23456789123456E8}"""))
    val stats = Seq(
      graft.fidelity.KeyedStats("t1", 6.0, 2.0, 20.0, 0.0, 2.0, 4.0, 3.0, 2.0, 2.0),
      graft.fidelity.KeyedStats("t2", 2.75, 2.0, 6.3125, 0.25, 0.25, 2.5, 1.375, 2.53125, 2.53125),
      graft.fidelity.KeyedStats("t3", 1.0e-7, 1.0, 1.0000000000000002e14, 0.0,
        -1.5e300, 1.0e300, 0.1, 0.3333333333333333, 123456789.123456)).toDS()
    val wire = graft.fidelity.StatefulStats.toWire(stats).collect()
      .map(r => r.getAs[String]("key") -> r.getAs[String]("value")).toMap
    assert(wire == golden,
      "fidelity wire payloads must be byte-identical to the reference's Jackson output")
  }

  test("kafka producer profile: idempotent default, reference-lossy opt-in (K3)") {
    val opts = RunningStats.producerOptions()
    assert(opts("kafka.enable.idempotence") == "true")
    assert(opts("kafka.acks") == "all")
    // enable.idempotence implies retries=MAX_INT — pinning retries here
    // would silently cap the idempotent producer's recovery
    assert(!opts.contains("kafka.retries"))
    val lossy = RunningStats.producerOptions(idempotent = false)
    assert(lossy("kafka.enable.idempotence") == "false")
    assert(lossy("kafka.retries") == "0" && lossy("kafka.acks") == "all",
      "lossy profile must reproduce the reference's acks=all/retries=0 (PROD:34-35)")

    // the profile must land on the writer, not just exist as a Map: the
    // writer's option store is private, so scrape every Map-typed field
    // off it reflectively and merge
    def writerOptions(w: AnyRef): Map[String, String] = {
      def fields(c: Class[_]): Seq[java.lang.reflect.Field] =
        if (c == null) Seq.empty else c.getDeclaredFields.toSeq ++ fields(c.getSuperclass)
      fields(w.getClass).flatMap { f =>
        f.setAccessible(true)
        f.get(w) match {
          case m: scala.collection.Map[_, _] =>
            m.collect { case (k: String, v: String) => k -> v }
          case _ => Nil
        }
      }.toMap
    }
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val wire = MemoryStream[String].toDF()
      .select(col("value").as("key"), col("value"))
    val defaults = writerOptions(
      RunningStats.kafkaWireWriter(wire, "b:9092", "t", "/tmp/ck"))
    assert(defaults.get("kafka.enable.idempotence").contains("true"))
    assert(defaults.get("kafka.acks").contains("all"))
    val reference = writerOptions(
      RunningStats.kafkaWireWriter(wire, "b:9092", "t", "/tmp/ck", idempotent = false))
    assert(reference.get("kafka.retries").contains("0"))
    assert(reference.get("kafka.enable.idempotence").contains("false"))
  }

  test("parseReadings drops a non-numeric readValue and the stream keeps running") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[String]
    val q = Sources.parseReadings(input.toDF()).writeStream.format("memory")
      .queryName("parsed_readings").outputMode("append").start()
    try {
      input.addData("""{"readTag_id":"b1 t1","readValue":"2.5"}""",
        """{"readTag_id":"b1 t2","readValue":"n/a"}""")
      q.processAllAvailable()
      input.addData("""{"readTag_id":"b1 t3","readValue":"4"}""")
      q.processAllAvailable()
      assert(q.isActive && q.exception.isEmpty)
      val got = spark.table("parsed_readings").collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(got == Map("b1 t1" -> 2.5, "b1 t3" -> 4.0))
    } finally q.stop()
  }

  test("per-batch wordcount resets between micro-batches (A1 semantics)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[String]
    val batches = mutable.Map[Long, Map[String, Long]]()
    val q = input.toDF().toDF("line").writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val counts = WordCount(batch, col("line")).collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        batches.synchronized { batches(id) = counts }
        ()
      }
      .start()
    try {
      input.addData("tag one", "tag two")
      q.processAllAvailable()
      input.addData("tag three")
      q.processAllAvailable()
      val byBatch = batches.synchronized(batches.toMap)
      assert(byBatch(0L) == Map("tag" -> 2L, "one" -> 1L, "two" -> 1L))
      // counts reset: batch 1 sees only its own records, like the
      // reference's per-batch reduceByKey (AGG:81-94)
      assert(byBatch(1L) == Map("tag" -> 1L, "three" -> 1L))
    } finally q.stop()
  }

  test("cumulative wordcount carries counts across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[String]
    val counts = WordCount.cumulative(input.toDF().toDF("line"), col("line"))
    val q = counts.writeStream.format("memory").queryName("cum_counts")
      .outputMode("complete").start()
    try {
      input.addData("tag one", "tag two")
      q.processAllAvailable()
      input.addData("tag three")
      q.processAllAvailable()
      val now = spark.table("cum_counts").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      // unlike the per-batch A1 form, 'tag' accumulates to 3 across batches
      assert(now == Map("tag" -> 3L, "one" -> 1L, "two" -> 1L, "three" -> 1L))
    } finally q.stop()
  }

  test("streaming top-k word rank re-emits the exact cumulative top-k each epoch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[String]
    val topk = WordCount.topK(input.toDF().toDF("line"), col("line"), k = 3)
    val q = topk.writeStream.format("memory").queryName("topk_words")
      .outputMode("complete").start()
    def now(): Seq[(String, Long)] = spark.table("topk_words").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq
      .sortBy { case (w, n) => (-n, w) }
    try {
      input.addData("a a a b b c d")
      q.processAllAvailable()
      // exactly k rows, ordered by count desc then word asc ("c" beats
      // "d" on the tie; "d" is cut)
      assert(spark.table("topk_words").count() == 3)
      assert(now() == Seq("a" -> 3L, "b" -> 2L, "c" -> 1L))
      // epoch 2 flips the ranking: "d" overtakes, "b" and "c" tie at 2
      // and the word tiebreak keeps "b"; Complete mode REPLACES the sink
      input.addData("d d d d c")
      q.processAllAvailable()
      assert(spark.table("topk_words").count() == 3)
      assert(now() == Seq("d" -> 5L, "a" -> 3L, "b" -> 2L))
    } finally q.stop()
  }

  test("P2 extractTagIds feeds the wordcount job end-to-end (AGG:64-94)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[String]
    val batches = mutable.Map[Long, Map[String, Long]]()
    val lines = Sources.extractTagIds(input.toDF().toDF("value"))
    val q = lines.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val counts = WordCount(batch, col("line")).collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        batches.synchronized { batches(id) = counts }
        ()
      }
      .start()
    try {
      input.addData(
        """{"readTag_id":"pump one","readValue":"1.5"}""",
        """{"readTag_id":"pump two","readValue":"2.5"}""",
        "not json at all") // malformed record is filtered, not fatal
      q.processAllAvailable()
      val byBatch = batches.synchronized(batches.toMap)
      assert(byBatch(0L) == Map("pump" -> 2L, "one" -> 1L, "two" -> 1L))
    } finally q.stop()
  }

  test("both jobs log one progress JSON line per epoch, consecutive batchIds") {
    val staged = java.nio.file.Files.createTempDirectory("graft_progress").toString
    // one parquet directory of 3 files: the glob events*.parquet matches
    // it and the file source replays one file per epoch
    spark.range(0, 300).select(
        concat(lit("tag "), (col("id") % 5).cast("string")).as("event_type"),
        (col("id") * 0.5).as("value"), timestamp_seconds(col("id")).as("ts"))
      .repartitionByRange(3, col("ts")).write.parquet(s"$staged/events.parquet")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def progressOf(run: (JobConfig, ProgressLog) => Unit): Seq[Long] = {
      val buf = new java.io.ByteArrayOutputStream()
      val log = new ProgressLog(new java.io.PrintStream(buf, true, "UTF-8"))
      val ckpt = java.nio.file.Files.createTempDirectory("graft_progress_ckpt").toString
      try run(JobConfig(source = s"file:$staged", checkpoint = ckpt,
        trigger = "0 seconds", once = true), log)
      finally {
        org.apache.spark.graft.ListenerBusDrain(spark.sparkContext)
        spark.streams.removeListener(log)
      }
      val lines = buf.toString("UTF-8").split("\n").toSeq.filter(_.nonEmpty)
      lines.map { l =>
        val p = mapper.readTree(l)
        assert(p.get("durationMs").has("walCommit") && p.get("durationMs").has("addBatch"))
        p.get("batchId").asLong
      }
    }
    val avg = progressOf((c, log) => AverageCalculatorJob.run(spark, c, log))
    assert(avg == Seq(0L, 1L, 2L))
    val agg = progressOf((c, log) => PropertyAggregatorJob.run(spark, c, log))
    assert(agg == Seq(0L, 1L, 2L))
  }

  test("file-replayed events stream converges to the batch stats") {
    val stream = Sources.eventsStream(spark, "/root/testdata/sf0.001")
    val stats = RunningStats(stream, col("event_type"), col("value"))
    val q = stats.writeStream.format("memory").queryName("replay_stats")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("replay_stats").collect()
        .map(r => r.getAs[String]("readTag_id") -> r).toMap
      val batch = RunningStats(Tables.events(spark, "/root/testdata/sf0.001"),
        col("event_type"), col("value")).collect()
        .map(r => r.getAs[String]("readTag_id") -> r).toMap
      assert(streamed.keySet == batch.keySet && streamed.nonEmpty)
      for ((k, b) <- batch; s = streamed(k)) {
        assert(s.getAs[Long]("counter") == b.getAs[Long]("counter"))
        for (c <- Seq("summer", "bestmin", "bestmax", "mean", "var")) {
          val bv = b.getAs[Double](c); val sv = s.getAs[Double](c)
          assert(math.abs(bv - sv) <= math.max(1e-9, math.abs(bv) * 1e-9),
            s"$k.$c: stream=$sv batch=$bv")
        }
      }
    } finally q.stop()
  }

  test("foreachBatch CDC merge converges to c76's batch apply (tombstones survive in state)") {
    import graft.operators.Curation
    val sf = "/root/testdata/sf0.001"
    val stream = Sources.eventsStream(spark, sf)
    // state: one summary row per key, folded per micro-batch; the var is
    // a bounded |keys|-sized frame, lineage truncated every merge
    var state: Option[org.apache.spark.sql.DataFrame] = None
    var batches = 0
    val q = stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val summary = Curation.cdcSummarize(Curation.cdcChanges(batch))
        state = Some(state.fold(summary)(s => Curation.cdcCombine(s, summary))
          .localCheckpoint())
        batches += 1
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    val got = Curation.cdcReport(state.get).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3))).toSeq
    val want = Curation.c76CdcApply(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3))).toSeq
    assert(got == want, s"incremental CDC diverged: ${got.diff(want).take(3)}...")
    // tombstoned keys are IN state (awaiting possible re-insert) but not
    // in the report — and the state is exactly one row per user
    val stateKeys = state.get.select("user_id").collect().map(_.getLong(0))
    assert(stateKeys.length == stateKeys.distinct.length)
    assert(stateKeys.length >= want.length)
    val allKeys = Tables.events(spark, sf).select("user_id").distinct().count()
    assert(stateKeys.length == allKeys, "every key incl. tombstoned must hold state")
  }

  /** Stage one single-file parquet write and move its part file to
    * `dest` — a late arrival under an already-defined stream glob.
    */
  private def stageLateFile(df: DataFrame, dest: String): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-late-write").toString
    df.coalesce(1).write.mode("overwrite").parquet(s"$tmp/out")
    val part = java.nio.file.Files.list(java.nio.file.Paths.get(s"$tmp/out"))
      .filter(p => p.getFileName.toString.endsWith(".parquet")).findFirst.get
    java.nio.file.Files.copy(part, java.nio.file.Paths.get(dest))
  }

  test("events stream defines on an EMPTY glob and reads CURRENT-generation files") {
    // the normal file-stream deployment: the source dir is populated
    // AFTER the stream starts; stream definition must not require
    // pre-existing files to probe (ADVICE r09), and the default fallback
    // layout must match what the driver generates TODAY — TIMESTAMP
    // (MICROS) stored as NTZ, like Tables.events resolves (ADVICE r10)
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft-empty-glob").toString
    val stream = Sources.eventsStreamFrom(spark, s"$d/*.parquet") // must not throw
    val q = stream.select(col("event_id"), col("ts"), col("event_type"), col("value"))
      .writeStream.format("memory").queryName("late_files")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("late_files").count() == 0, "no files yet, no rows")
      stageLateFile(
        Seq((1L, 7L, "click", 1.5, "{}"))
          .toDF("event_id", "user_id", "event_type", "value", "props")
          .withColumn("ts", timestamp_micros(lit(3600L * 1000 * 1000))
            .cast(org.apache.spark.sql.types.TimestampNTZType))
          .select("event_id", "ts", "user_id", "event_type", "value", "props"),
        s"$d/ev1.parquet")
      q.processAllAvailable()
      val rows = spark.table("late_files").collect()
      assert(rows.length == 1)
      val r = rows.head
      assert(r.getAs[Long]("event_id") == 1L)
      assert(r.getAs[String]("event_type") == "click" && r.getAs[Double]("value") == 1.5)
      assert(r.getAs[java.sql.Timestamp]("ts").toInstant.getEpochSecond == 3600L)
    } finally q.stop()
  }

  test("nanos-generation replay still works behind the fallback conf") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft-empty-glob-ns").toString
    spark.conf.set("graft.streaming.eventsFallback", "nanos")
    val stream =
      try Sources.eventsStreamFrom(spark, s"$d/*.parquet")
      finally spark.conf.unset("graft.streaming.eventsFallback")
    val q = stream.select(col("event_id"), col("ts"), col("event_type"), col("value"))
      .writeStream.format("memory").queryName("late_files_ns")
      .outputMode("append").start()
    try {
      stageLateFile(
        Seq((1L, 3600L * 1000 * 1000 * 1000, 7L, "click", 1.5, "{}"))
          .toDF("event_id", "ts", "user_id", "event_type", "value", "props"),
        s"$d/ev1.parquet")
      q.processAllAvailable()
      val rows = spark.table("late_files_ns").collect()
      assert(rows.length == 1)
      // 3.6e12 ns → 3600 s epoch through the ns→µs integer-division path
      assert(rows.head.getAs[java.sql.Timestamp]("ts").toInstant.getEpochSecond == 3600L)
    } finally q.stop()
  }

  // ---- imperative transformWithState fidelity path -------------------

  private def withRocksDb[T](body: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val old = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("imperative transformWithState stats ≡ declarative RunningStats epoch-by-epoch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    withRocksDb {
      val inputI = MemoryStream[(String, Double)]
      val inputD = MemoryStream[(String, Double)]
      val imp = graft.fidelity.StatefulStats(
        inputI.toDF().toDF("readTag_id", "value"), col("readTag_id"), col("value"))
      val decl = RunningStats(
        inputD.toDF().toDF("readTag_id", "value"), col("readTag_id"), col("value"))
      val ckpt = java.nio.file.Files.createTempDirectory("graft_tws").toString
      val qi = imp.writeStream.format("memory").queryName("imp_stats")
        .option("checkpointLocation", s"$ckpt/imp").outputMode("update").start()
      val qd = decl.writeStream.format("memory").queryName("decl_stats")
        .option("checkpointLocation", s"$ckpt/decl").outputMode("update").start()
      // driver-side strictly-sequential replay = the reference's loop
      val agg = new graft.fidelity.WelfordAggregator(sentinelInit = false)
      val replay = mutable.Map[String, graft.fidelity.StatsBuf]()
      val batches = Seq(
        Seq(("a", 1.0), ("a", 3.0), ("b", 10.0)),
        Seq(("a", 5.0), ("b", -2.0), ("b", 7.5)),
        Seq(("c", 0.25), ("a", -1.5)))
      try {
        var emitted = 0L
        for (batch <- batches) {
          inputI.addData(batch: _*); inputD.addData(batch: _*)
          qi.processAllAvailable(); qd.processAllAvailable()
          for ((k, x) <- batch)
            replay(k) = agg.reduce(replay.getOrElse(k, agg.zero), x)
          // cadence: exactly one emission per updated key per epoch
          val updatedKeys = batch.map(_._1).distinct.size
          val impRows = spark.table("imp_stats").collect()
          assert(impRows.length == emitted + updatedKeys,
            s"expected $updatedKeys new emissions, table has ${impRows.length}")
          emitted = impRows.length
          // current state per key = the row with the max counter
          def latest(t: String) = spark.table(t).collect()
            .groupBy(_.getString(0))
            .map { case (k, rs) => k -> rs.maxBy(_.getAs[Number]("counter").doubleValue) }
          val imps = latest("imp_stats"); val decls = latest("decl_stats")
          assert(imps.keySet == replay.keySet && decls.keySet == replay.keySet)
          for ((k, buf) <- replay) {
            val i = imps(k); val d = decls(k)
            // imperative path vs sequential replay: same statement order
            assert(i.getAs[Number]("counter").doubleValue == buf.counter)
            assert(i.getAs[Double]("bestmin") == buf.bestmin)
            assert(i.getAs[Double]("bestmax") == buf.bestmax)
            for ((c, want) <- Seq("summer" -> buf.summer, "sumsqr" -> buf.sumsqr,
                "mean" -> buf.mean, "m2" -> buf.m2, "variance" -> buf.variance)) {
              val got = i.getAs[Double](c)
              assert(math.abs(got - want) <= math.max(1e-9, math.abs(want) * 1e-12),
                s"epoch imp $k.$c: got=$got want=$want")
            }
            // and the declarative aggregate agrees (Chan merges → ulps)
            assert(d.getAs[Number]("counter").longValue == buf.counter.toLong)
            for ((c, want) <- Seq("summer" -> buf.summer, "bestmin" -> buf.bestmin,
                "bestmax" -> buf.bestmax, "mean" -> buf.mean,
                "var" -> buf.variance)) {
              val got = d.getAs[Double](c)
              assert(math.abs(got - want) <= math.max(1e-9, math.abs(want) * 1e-9),
                s"epoch decl $k.$c: got=$got want=$want")
            }
          }
        }
      } finally { qi.stop(); qd.stop() }
    }
  }

  test("transformWithState single-record batches are bit-identical to the reference loop (incl. delta, Q1 sentinels)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    withRocksDb {
      val input = MemoryStream[(String, Double)]
      val imp = graft.fidelity.StatefulStats(
        input.toDF().toDF("readTag_id", "value"), col("readTag_id"), col("value"),
        sentinelInit = true)
      val ckpt = java.nio.file.Files.createTempDirectory("graft_tws1").toString
      val q = imp.writeStream.format("memory").queryName("imp_sentinel")
        .option("checkpointLocation", ckpt).outputMode("update").start()
      val agg = new graft.fidelity.WelfordAggregator(sentinelInit = true)
      var buf = agg.zero
      try {
        // one record per batch → per-key arrival order is fully
        // deterministic → every field, including the order-dependent
        // delta leak, must match the reference loop bit-for-bit
        for (x <- Seq(5.0, 2.0, 9.0)) {
          input.addData(("t", x))
          q.processAllAvailable()
          buf = agg.reduce(buf, x)
          val row = spark.table("imp_sentinel").collect()
            .maxBy(_.getAs[Double]("counter"))
          assert(row.getAs[Double]("summer") == buf.summer)
          assert(row.getAs[Double]("counter") == buf.counter)
          assert(row.getAs[Double]("sumsqr") == buf.sumsqr)
          assert(row.getAs[Double]("delta") == buf.delta)
          assert(row.getAs[Double]("bestmin") == buf.bestmin)
          assert(row.getAs[Double]("bestmax") == buf.bestmax)
          assert(row.getAs[Double]("mean") == buf.mean)
          assert(row.getAs[Double]("m2") == buf.m2)
          assert(row.getAs[Double]("variance") == buf.variance)
        }
        // Q1 sentinel: all values were > -10, so bestmin is stuck at -10
        assert(buf.bestmin == -10.0)
      } finally q.stop()
    }
  }
}
