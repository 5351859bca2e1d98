package graft

import java.io.File
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FileAlreadyExistsException, Path,
  RawLocalFileSystem}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.fidelity.{KeyedStats, StatefulStats}
import graft.streaming.{LocalCheckpointFiles, RunningStats, Sources}

/** A local FS under a scheme of its own, with an `AbstractFileSystem`
  * binding, so FileContext accepts it: a non-`file` scheme for which
  * Spark's default is the FileContext manager, without any remote host.
  */
class SchemeLocalFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("graftfs:///")
  override def getScheme: String = "graftfs"
}
class SchemeLocalAfs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new SchemeLocalFs, conf, "graftfs", false)

/** Streaming checkpoints under [[GraftSession]]: local locations write
  * through Spark's FileSystem-based manager (no link-status probes per
  * rename), other schemes keep Spark's own choice, the offset log's
  * no-overwrite guard and the `.crc` sidecars hold, and a RocksDB query
  * restarts from a local checkpoint with its state intact.
  */
class CheckpointFilesSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.builder("local[4]", 4).getOrCreate()

  private def tmpDir(prefix: String): File = Files.createTempDirectory(prefix).toFile

  test("file: checkpoints get the FileSystem-based manager, other schemes Spark's default") {
    val conf = spark.sessionState.newHadoopConf()
    def installed(p: Path): CheckpointFileManager = CheckpointFileManager.create(p, conf) match {
      case m: LocalCheckpointFiles => m.underlying
      case other => fail(s"session manager is ${other.getClass.getName}")
    }
    val dir = tmpDir("graft_ckfm")
    assert(installed(new Path(dir.toURI)).isInstanceOf[FileSystemBasedCheckpointFileManager])
    // scheme-less, like the jobs' default ./spark_cache: fs.defaultFS is file:///
    assert(installed(new Path(dir.getPath)).isInstanceOf[FileSystemBasedCheckpointFileManager])

    conf.set("fs.AbstractFileSystem.graftfs.impl", classOf[SchemeLocalAfs].getName)
    val remote = new Path(s"graftfs://${dir.getPath}/ckpt")
    val unset = new Configuration(conf)
    unset.unset(LocalCheckpointFiles.ConfKey)
    val sparkDefault = CheckpointFileManager.create(remote, unset)
    assert(sparkDefault.isInstanceOf[FileContextBasedCheckpointFileManager])
    assert(installed(remote).getClass == sparkDefault.getClass)
  }

  test("a non-overwriting atomic write refuses an existing local file and leaves it intact") {
    val dir = tmpDir("graft_ckfm_guard")
    val fm = CheckpointFileManager.create(new Path(dir.toURI),
      spark.sessionState.newHadoopConf())
    val target = new Path(new Path(dir.toURI), "0")
    def write(overwrite: Boolean, body: String): Unit = {
      val out = fm.createAtomic(target, overwrite)
      out.write(body.getBytes(UTF_8))
      out.close()
    }
    write(overwrite = false, "v1\n{\"batchWatermarkMs\":0}")
    val file = new File(dir, "0")
    val before = Files.readAllBytes(file.toPath)
    assert(new File(dir, ".0.crc").exists(), "checksummed local FS writes the .crc sidecar")

    intercept[FileAlreadyExistsException](write(overwrite = false, "second writer"))
    assert(Files.readAllBytes(file.toPath).sameElements(before))

    write(overwrite = true, "replaced")
    assert(new String(Files.readAllBytes(file.toPath), UTF_8) == "replaced")
  }

  test("RocksDB StatefulStats restarted on a local checkpoint ends at the batch stats") {
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val staged = tmpDir("graft_ckfm_staged").getPath
    val events = spark.range(0, 800).select(
      concat(lit("k"), (col("id") % 7).cast("string")).as("event_type"),
      (col("id") * 0.25 - 40.0).as("value"),
      timestamp_seconds(col("id")).as("ts"))
    events.repartitionByRange(4, col("ts")).write.mode("overwrite").parquet(staged)
    val parts = new File(staged).listFiles().filter(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).sortBy(_.getName)
    assert(parts.length == 4)
    val src = tmpDir("graft_ckfm_src")
    def arrive(fs: Seq[File]): Unit = fs.foreach(f =>
      Files.move(f.toPath, new File(src, f.getName).toPath, StandardCopyOption.ATOMIC_MOVE))
    val ckpt = tmpDir("graft_ckfm_ckpt")
    val emitted = mutable.ArrayBuffer[KeyedStats]()

    def runToEnd(): Int = {
      val old = spark.conf.getOption(providerKey)
      spark.conf.set(providerKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val stream = Sources.eventsStreamFrom(spark, s"${src.getPath}/part-*.parquet")
      val q = StatefulStats(stream, col("event_type"), col("value"))
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckpt.getPath)
        .foreachBatch { (ds: Dataset[KeyedStats], _: Long) =>
          val rows = ds.collect()
          emitted.synchronized(emitted ++= rows)
          ()
        }
        .start()
      try { q.processAllAvailable(); q.recentProgress.count(_.numInputRows > 0) }
      finally {
        q.stop()
        old.fold(spark.conf.unset(providerKey))(spark.conf.set(providerKey, _))
      }
    }

    arrive(parts.take(2))
    assert(runToEnd() == 2, "run 1: one batch per file")
    arrive(parts.drop(2))
    assert(runToEnd() == 2, "run 2 resumes after the committed batches")

    val latest = emitted.groupBy(_.readTag_id).map { case (k, rs) => k -> rs.maxBy(_.counter) }
    val batch = RunningStats(events, col("event_type"), col("value")).collect()
      .map(r => r.getAs[String]("readTag_id") -> r).toMap
    assert(latest.keySet == batch.keySet && batch.nonEmpty)
    for ((k, b) <- batch; s = latest(k)) {
      assert(s.counter == b.getAs[Long]("counter").toDouble, s"$k.counter")
      assert(s.bestmin == b.getAs[Double]("bestmin") && s.bestmax == b.getAs[Double]("bestmax"))
      val want = b.getAs[Double]("summer")
      assert(math.abs(s.summer - want) <= math.max(1e-9, math.abs(want) * 1e-9),
        s"$k.summer: stream=${s.summer} batch=$want")
    }

    // fault detection is kept: .crc beside offset, commit and state files
    def crcsUnder(d: File): Seq[String] =
      Option(d.listFiles()).toSeq.flatten.flatMap(f =>
        if (f.isDirectory) crcsUnder(f) else Seq(f.getName).filter(_.endsWith(".crc")))
    for (d <- Seq("offsets", "commits", "state"))
      assert(crcsUnder(new File(ckpt, d)).nonEmpty, s"no .crc under $d/")
  }
}
