package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, GetJsonObject, JsonToStructs, JsonTuple}
import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.FlatJsonTuple
import graft.streaming.Sources

/** The record parsers of both reference jobs: `Sources.parseReadings`
  * (P1) and `Sources.extractTagIds` (P2) parse each record once, through
  * one `FlatJsonTuple` generator, and return the rows of the earlier
  * `from_json` / `get_json_object` forms on adversarial input, apart from
  * the pinned duplicate-key and control-character cases.
  */
class ReadingParseSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.builder("local[4]", 4).getOrCreate()

  /** The earlier P1 form: `from_json` to strings, then `try_cast`. */
  private def fromJsonReadings(raw: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("readTag_id", StringType), StructField("readValue", StringType)))
    raw.select(from_json(col("value").cast(StringType), schema).as("j"))
      .select(col("j.readTag_id").as("readTag_id"),
        col("j.readValue").try_cast(DoubleType).as("value"))
      .filter(col("readTag_id").isNotNull && col("value").isNotNull)
  }

  /** The earlier P2 form. */
  private def getJsonObjectTags(raw: DataFrame): DataFrame =
    raw.select(get_json_object(col("value").cast(StringType), "$.readTag_id").as("line"))
      .filter(col("line").isNotNull)

  import ReadingParseSpec.sameAsBefore

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private def records(rs: String*): DataFrame = {
    import spark.implicits._
    rs.toDF("value")
  }

  test("parseReadings and extractTagIds keep the earlier rows on adversarial records") {
    for (r <- sameAsBefore) {
      val in = records(r)
      assert(rows(Sources.parseReadings(in)) == rows(fromJsonReadings(in)), s"P1 on [$r]")
      assert(rows(Sources.extractTagIds(in)) == rows(getJsonObjectTags(in)), s"P2 on [$r]")
    }
    // and over the whole set at once, with a binary value column like Kafka's
    val all = records(sameAsBefore: _*).select(col("value").cast(BinaryType).as("value"))
    assert(rows(Sources.parseReadings(all)) == rows(fromJsonReadings(all)))
    assert(rows(Sources.parseReadings(all)).contains("b01 t00001|20.125"))
    assert(rows(Sources.extractTagIds(all)) == rows(getJsonObjectTags(all)))
  }

  test("duplicate keys: the last non-null value wins, on both paths") {
    val nullAfter = records("""{"readTag_id":"d","readValue":"1","readValue":null}""")
    assert(rows(fromJsonReadings(nullAfter)).isEmpty)
    assert(rows(Sources.parseReadings(nullAfter)) == Seq("d|1.0"))

    val twoTags = records("""{"readTag_id":"a","readTag_id":"b","readValue":"1"}""")
    assert(rows(getJsonObjectTags(twoTags)) == Seq("a"))
    assert(rows(Sources.extractTagIds(twoTags)) == Seq("b"))
    // the stats path took the last tag before and still does
    assert(rows(fromJsonReadings(twoTags)) == Seq("b|1.0"))
    assert(rows(Sources.parseReadings(twoTags)) == Seq("b|1.0"))
  }

  test("a raw control character inside a string is read, as the wordcount path did") {
    val tab = records("{\"readTag_id\":\"b1\tt1\",\"readValue\":\"1\"}")
    assert(rows(getJsonObjectTags(tab)) == Seq("b1\tt1"))
    assert(rows(Sources.extractTagIds(tab)) == Seq("b1\tt1"))
    assert(rows(fromJsonReadings(tab)).isEmpty)
    assert(rows(Sources.parseReadings(tab)) == Seq("b1\tt1|1.0"))
  }

  private def exprs(plan: SparkPlan): Seq[Expression] =
    plan.collect { case p => p.expressions.flatMap(_.collect { case e => e }) }.flatten

  /** The executed plan of one streamed micro-batch of `parse` over
    * JSON-lines records.
    */
  private def streamedPlan(parse: DataFrame => DataFrame, name: String): SparkPlan = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[String]
    val q = parse(input.toDF().toDF("value")).writeStream.format("memory")
      .queryName(name).outputMode("append").start()
    try {
      input.addData("""{"readTag_id":"b1 t1","readValue":"2.5"}""")
      q.processAllAvailable()
      q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
    } finally q.stop()
  }

  for ((name, parse) <- Seq[(String, DataFrame => DataFrame)](
      "parseReadings" -> Sources.parseReadings, "extractTagIds" -> Sources.extractTagIds))
    // FlatJsonTuple is json_tuple with a byte-scan fast path; Spark's
    // JsonTuple is its private fallback, never a plan expression
    test(s"$name runs one json_tuple generator per record and no other JSON parser") {
      val plan = streamedPlan(parse, s"parse_plan_$name")
      val generators = plan.collect { case g: GenerateExec => g.generator }
      assert(generators.size == 1 && generators.head.isInstanceOf[FlatJsonTuple], plan.treeString)
      val parsers = exprs(plan).filter {
        case _: JsonTuple | _: JsonToStructs | _: GetJsonObject => true
        case _ => false
      }
      assert(parsers.isEmpty, plan.treeString)
    }
}

object ReadingParseSpec {
  // adversarial wire records, FlatJsonTupleSpec's first set too; each is
  // parsed on its own (one record per DataFrame) so a difference names
  // the record that caused it
  val sameAsBefore = Seq(
    """{"readTag_id":"b01 t00001","readValue":"20.125"}""",
    """{"readTag_id":"b01 t00002","readV""", // truncated
    """{"readValue":"3.5"}""", // no tag
    """{"readTag_id":"b01 t00003","readValue":"n/a"}""",
    """{"readTag_id":"u1","readValue":12.5}""", // unquoted numbers
    """{"readTag_id":"u2","readValue":1.50}""",
    """{"readTag_id":"u3","readValue":1e3}""",
    """{"readTag_id":"u4","readValue":true}""",
    """{"readTag_id":"n1","readValue":null}""", // JSON null
    """{"readTag_id":null,"readValue":"1"}""",
    """{"readTag_id":{"x":"y"},"readValue":"1"}""", // nested
    """{"readTag_id":"nest","readValue":{"v":"1"}}""",
    """{"readTag_id":"arr","readValue":["1"]}""",
    """{"readTag_id":"b\"q\" té\\n","readValue":"2"}""", // escaped and unicode
    "{\"readTag_id\":\"bâ t☃\",\"readValue\":\"2\"}",
    """{"readTag_id":42,"readValue":"3"}""", // numeric tag
    """{"readTag_id":4.20,"readValue":"3"}""",
    """[{"readTag_id":"top","readValue":"1"}]""", // top-level array / scalars
    """"scalar"""",
    "12",
    "",
    """{"readTag_id":"tg","readValue":"1"} trailing""",
    """{"readTag_id":"c1","readValue":"1"}{"readTag_id":"c2","readValue":"2"}""",
    """{'readTag_id':'sq','readValue':'1'}""", // single quotes
    """{"readTag_id":"","readValue":"1"}""", // empty tag
    """{"readTag_id":"d2","readValue":"1","readValue":"2"}""",
    """  {"readTag_id":"ws","readValue":" 7 "}  """,
    """{"readTag_id":"nan","readValue":"NaN"}""",
    "not json at all")
}
