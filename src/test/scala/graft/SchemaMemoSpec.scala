package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType
import org.scalatest.funsuite.AnyFunSuite

/** `Tables.load` infers each table's schema once per session: a later load
  * reads with that schema, runs no footer job, and is otherwise the same
  * relation a bare `spark.read.parquet` gives; a table rewritten in place
  * is inferred again. Every load is a fresh relation.
  */
class SchemaMemoSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.builder("local[4]", 4).getOrCreate()
  private val dir = "/root/testdata/sf0.001"

  private def jobs(body: => Unit): Int = {
    val sc = spark.sparkContext
    org.apache.spark.graft.ListenerBusDrain(sc)
    val n = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      body
      org.apache.spark.graft.ListenerBusDrain(sc)
    } finally sc.removeSparkListener(l)
    n.get
  }

  private def optimized(df: DataFrame): String =
    PlanDump.mask(df.queryExecution.optimizedPlan.toString)

  for (t <- Tables.names)
    test(s"$t: a memoized load equals a bare read (schema, optimized plan, rows)") {
      Tables.load(spark, dir, t)
      var memo: DataFrame = null
      assert(jobs { memo = Tables.load(spark, dir, t) } == 0)
      val bare = spark.read.parquet(s"$dir/$t.parquet")
      assert(memo.schema == bare.schema)
      assert(optimized(memo) == optimized(bare))
      assert(memo.collect().toSeq == bare.collect().toSeq)
    }

  test("the first load of a table in a session infers its schema, the second runs no job") {
    val session = spark.newSession()
    val first = jobs(Tables.load(session, dir, "part"))
    val second = jobs(Tables.load(session, dir, "part"))
    assert(first > 0 && second == 0, s"first load $first jobs, second $second")
  }

  test("a table rewritten in place is read with its new schema") {
    val root = Files.createTempDirectory("graft_schema_memo").toString
    val path = s"$root/t.parquet"
    spark.range(3).select(col("id").as("k")).write.parquet(path)
    assert(Tables.load(spark, root, "t").columns.toSeq == Seq("k"))
    spark.range(3).select(col("id").as("k"), (col("id") * 2).as("v"))
      .write.mode("overwrite").parquet(path)
    val again = Tables.load(spark, root, "t")
    assert(again.columns.toSeq == Seq("k", "v"))
    assert(again.orderBy("k").collect().map(r => r.getLong(1)).toSeq == Seq(0L, 2L, 4L))
  }

  test("two loads of one table self-join: the attribute ids differ") {
    val a = Tables.nation(spark, dir)
    val b = Tables.nation(spark, dir)
    val ids = (df: DataFrame) => df.queryExecution.analyzed.output.map(_.exprId).toSet
    assert(ids(a).intersect(ids(b)).isEmpty)
    val rows = Tables.nation(spark, dir).collect()
      .map(r => (r.getAs[Int]("n_nationkey"), r.getAs[Int]("n_regionkey")))
    val expected = (for ((k, _) <- rows; (_, r) <- rows if k == r) yield 1).length
    assert(a.join(b, a("n_nationkey") === b("n_regionkey")).count() == expected)
  }

  test("Tables.events leaves the session conf unchanged; ts reads as a UTC timestamp") {
    val before = spark.conf.getAll
    val ev = Tables.events(spark, dir)
    assert(spark.conf.getAll == before)
    assert(ev.schema("ts").dataType == TimestampType)
    val bare = spark.read.parquet(s"$dir/events.parquet")
      .withColumn("ts", col("ts").cast(TimestampType))
    assert(ev.schema == bare.schema)
    assert(ev.collect().toSeq == bare.collect().toSeq)
  }
}
