package graft

import org.apache.spark.sql.SparkSession

import graft.streaming.LocalCheckpointFiles

/** Canonical session factory for jobs and tests.
  *
  * Settings chosen for the 100 TB design target (see SURVEY.md §4.2):
  * AQE on (runtime partition coalescing, skew-join splitting, join-strategy
  * switch), UTC session time zone for oracle parity, shuffle partitions
  * sized to the local core count rather than the 200 default — on a real
  * cluster this would be `spark.sql.adaptive.coalescePartitions` doing the
  * sizing from `advisoryPartitionSizeInBytes`.
  *
  * Streaming checkpoints go through [[graft.streaming.LocalCheckpointFiles]].
  * Spark's default manager renames each checkpoint file (and its `.crc`)
  * through FileContext, and on the local FS each rename probes the link
  * status of its paths; Hadoop 3.4 without libhadoop answers every probe
  * by forking `readlink`. In one 10 s run of the repository benchmark's
  * `stream_jobs` workload (three queries, seed 7, 4 cores) that manager
  * made the JVM fork 4,437 processes, 3,304 of them `readlink` (JFR
  * `jdk.ProcessStart`); through the FileSystem-based manager the local
  * rename is one `File.renameTo`, and the same run forked 1,308
  * processes, none of them `readlink` (the rest were Hadoop's `chmod` on
  * file create and Spark's `rm -rf`). Non-local schemes keep Spark's
  * choice.
  *
  * `file:` paths go through [[NioLocalFileSystem]], which sets the
  * permission bits of each new file and directory without forking
  * `chmod`.
  *
  * Reliable RDD checkpoints (`spark.graft.checkpointDir`) are written
  * uncompressed, where Spark 4.1 compresses them by default: the graph
  * broadcast guard measures a checkpointed frame by its file bytes, and
  * compressed bytes read 2.6–7.4× under the rows they hold (BroadcastGuardSpec
  * shapes), which is no upper bound. The files grow by the same factor;
  * local checkpoints, the default, are not affected.
  */
object GraftSession {
  /** Local threads and shuffle partitions: `SPARK_GRAFT_CPUS` when set,
    * else the cores this JVM may use.
    */
  def cpus(env: Map[String, String] = sys.env): Int =
    env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())

  def builder(master: String = s"local[${cpus()}]",
              shufflePartitions: Int = cpus()): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // InferFiltersFromGenerate clones the generator's input expression
      // into a pre-Generate guard; predicate pushdown then sinks that
      // clone below exchanges, re-running expensive array builders (e.g.
      // shingling) once per guard term in the narrow pre-shuffle stage.
      // Our generators always run post-repartition on compute-dense
      // arrays, so the inferred guard only duplicates work.
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(LocalCheckpointFiles.ConfKey, classOf[LocalCheckpointFiles].getName)
      .config(NioLocalFileSystem.ConfKey, classOf[NioLocalFileSystem].getName)
      // reliable checkpoint files hold serialized rows uncompressed, so
      // their bytes bound the rows from above (Checkpoints.heldBytes)
      .config("spark.checkpoint.compress", "false")

  def get(): SparkSession = {
    val spark = builder().getOrCreate()
    // ERROR, not WARN: the harness mains (Bench/Verify) print ONE
    // machine-parsed line each, and a 262-query run otherwise emits
    // thousands of benign localCheckpoint-unpersist WARNs — r15's driver
    // bench artifact captured only WARN spam and recorded parsed=null
    // (the same artifact-failure class as CORRECTNESS_r15={}). Anything
    // at ERROR still surfaces.
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
