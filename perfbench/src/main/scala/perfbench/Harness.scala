package perfbench

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.{GraftSession, ModelCache}

/** The benchmark's JVM side. `run.py` builds the classpath and launches
  * this main; it writes one raw JSON record (times, counts, samples) to
  * `--out`, which `run.py` turns into metrics, and, for a traced run, the
  * spans to `--spans`.
  *
  * {{{
  * Harness --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *         --data <dir> --work <dir> --out <file> [--spans <file>]
  * }}}
  */
object Harness {

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, data: String, work: String, out: String,
                        spans: Option[String])

  private def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", kv("data"), kv("work"), kv("out"), kv.get("spans"))
  }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(-1.0)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = GraftSession.get()
    ErrorLog.install()
    val sessionReadyMs = System.currentTimeMillis().toDouble
    val spans = if (a.trace) Some(new Spans) else None
    val jobs = spans.map { sp =>
      val l = new JobListener(sp)
      spark.sparkContext.addSparkListener(l)
      l
    }
    val body: Map[String, Any] = a.workload match {
      case "baseline35" | "iterative_loops" =>
        new BatchWorkload(spark, a, spans, jobs).run()
      case "stream_jobs" =>
        new StreamWorkload(spark, a, spans, jobs).run()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val record = body ++ Map(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "cores" -> spark.sparkContext.defaultParallelism,
      "session_ready_ms" -> sessionReadyMs,
      "peak_rss_mb" -> peakRssMb(),
      "error_log_events" -> ErrorLog.events,
      "error_log_sample" -> ErrorLog.sample)
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    a.spans.foreach { path =>
      val lines = spans.map(_.all).getOrElse(Nil).map(s => mapper.writeValueAsString(Map(
        "id" -> s.id, "parent" -> s.parent, "trace" -> s.trace, "name" -> s.name,
        "start_ms" -> s.start, "end_ms" -> s.end, "attrs" -> s.attrs)))
      Files.write(Paths.get(path), lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    }
    Files.writeString(Paths.get(a.out), mapper.writeValueAsString(record))
    ModelCache.releaseAll(spark)
    spark.stop()
  }

  /** Runs `f` under a job group, so the listener can attribute its jobs. */
  def inGroup[T](spark: SparkSession, group: String)(f: => T): T = {
    spark.sparkContext.setJobGroup(group, group)
    try f finally spark.sparkContext.clearJobGroup()
  }
}
