package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.graft.RddBlockBytes
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.plans.{LeftAnti, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col

/** Lineage-truncation points for every iterative loop and multi-consumer
  * materialization in the engine, behind ONE fault-tolerance switch
  * (VERDICT r15 item 3).
  *
  * Default (switch unset — the bench profile): `localCheckpoint` —
  * executor-local blocks, no DFS write. Fast, and right for a single-JVM
  * run; but local checkpoint blocks die with their executor, and the
  * truncated lineage cannot recompute them, so a long production run on
  * a real cluster should set '''`spark.graft.checkpointDir`''' to a DFS
  * path: every `graftCheckpoint` site then uses reliable `checkpoint()`
  * into a fresh per-run subdirectory of that path, and an executor loss
  * only recomputes from the checkpoint files.
  * The trade is one distributed write per retained frame; retention is
  * bounded at every site (iteration state is ids/labels/vocab-sized,
  * never corpus-scale — each site's comment carries its bound). Spark
  * does not delete reliable checkpoints while the app runs, so the
  * per-run subdir is the cleanup unit for the caller (or set
  * `spark.cleaner.referenceTracking.cleanCheckpoints=true`).
  * Round16Spec pins both modes end-to-end on the Louvain/BPE/incremental
  * loops; DedupSimilaritySpec pins connectedComponents.
  */
object Checkpoints {
  private val Key = "spark.graft.checkpointDir"

  private[graft] def configuredDir(spark: SparkSession): Option[String] =
    spark.conf.getOption(Key).filter(_.nonEmpty)

  /** One run subdirectory per configured base, cached for the JVM's
    * lifetime — so a session running many operators shares one run
    * directory (the documented cleanup unit). Both the cache KEY and the
    * idempotence check use the HADOOP-QUALIFIED base, not the raw
    * configured string: the context stores its checkpoint dir fully
    * qualified with one extra Spark-minted UUID level, so a base spelled
    * `file:///x` (or any form that qualifies differently than it was
    * written) would never substring-match and every call would mint a new
    * run dir (ADVICE r16); and two spellings of the same base (`/x` vs
    * `file:///x`) must resolve to the SAME cache entry, or a session that
    * flips spelling mid-run mints two run dirs (VERDICT r17 item 5-minor,
    * Round18Spec pins the two-spelling case).
    */
  private val runDirs = scala.collection.concurrent.TrieMap.empty[String, String]

  private def ensureDir(spark: SparkSession, base: String): Unit = {
    val sc = spark.sparkContext
    val basePath = new org.apache.hadoop.fs.Path(base)
    val fs = basePath.getFileSystem(sc.hadoopConfiguration)
    val qualifiedBase =
      basePath.makeQualified(fs.getUri, fs.getWorkingDirectory).toString
    val dir = runDirs.getOrElseUpdate(qualifiedBase,
      s"${qualifiedBase.stripSuffix("/")}/graft-${java.util.UUID.randomUUID()}")
    // `dir` is built from the qualified base, so it is already qualified;
    // setCheckpointDir appends one UUID level of its own: compare the
    // current dir's PARENT against our run dir
    val qualified = new org.apache.hadoop.fs.Path(dir)
    val current = sc.getCheckpointDir.map(new org.apache.hadoop.fs.Path(_))
    if (!current.exists(c => Option(c.getParent).contains(qualified)))
      sc.setCheckpointDir(dir)
  }

  /** Chain-position drop-in for `localCheckpoint(eager)`: reliable
    * `checkpoint(eager)` when the switch is set, `localCheckpoint`
    * otherwise. Type-preserving so typed Dataset pipelines keep their
    * encoders. An eager checkpoint runs its frame's plan as a SQL
    * execution of its own, so the per-round plans of iterative operators
    * never appear in the final frame's explain; Spark's event log
    * (`spark.eventLog.enabled`) records each one.
    */
  implicit final class GraftCheckpointOps[T](private val ds: Dataset[T])
      extends AnyVal {
    def graftCheckpoint(eager: Boolean = true): Dataset[T] = {
      val spark = ds.sparkSession
      configuredDir(spark) match {
        case Some(base) => ensureDir(spark, base); ds.checkpoint(eager)
        case None => ds.localCheckpoint(eager)
      }
    }
  }

  /** Bytes held by the checkpoints `df` reads, or `None` when that is no
    * bound on `df`'s size. Each materialized checkpoint in `df`'s plan
    * counts once per occurrence: a local checkpoint at the memory + disk
    * bytes the block manager holds for its blocks, a reliable one at the
    * bytes of its part files. The figure needs no job and is an upper
    * bound only while nothing above the checkpoints multiplies rows, so
    * the plan may hold nothing but checkpoints and row-preserving or
    * row-reducing operators (projections, filters, aggregates, windows,
    * unions, limits, semi/anti joins, and joins with a side of at most
    * one row). Any other leaf (a file scan, a local relation, a lazy
    * checkpoint not yet materialized) or operator (`Generate`, `Expand`,
    * a general join, typed operators) gives `None`. A projection that
    * adds columns can still widen each row a little; the figure is a
    * guard, not an exact size.
    */
  private[graft] def heldBytes(df: DataFrame): Option[Long] = {
    val held = scala.collection.mutable.ArrayBuffer.empty[RDD[_]]
    // a hinted side (`crossJoin(broadcast(total))`) hides its child's maxRows
    def oneRow(p: LogicalPlan): Boolean = p match {
      case h: ResolvedHint => oneRow(h.child)
      case _ => p.maxRows.exists(_ <= 1)
    }
    def bounded(p: LogicalPlan): Boolean = p match {
      case r: LogicalRDD => r.rdd.isCheckpointed && { held += r.rdd; true }
      case j: Join if !(j.joinType == LeftSemi || j.joinType == LeftAnti ||
          oneRow(j.left) || oneRow(j.right)) => false
      case _: Join | _: Project | _: Filter | _: Aggregate | _: Window | _: Sort
          | _: Distinct | _: Deduplicate | _: Union | _: Intersect | _: Except
          | _: SubqueryAlias | _: ResolvedHint | _: RepartitionOperation | _: Sample
          | _: GlobalLimit | _: LocalLimit => p.children.forall(bounded)
      case _ => false
    }
    if (!bounded(df.queryExecution.analyzed)) None
    else {
      val sc = df.sparkSession.sparkContext
      val (reliable, local) = held.toSeq.partition(_.getCheckpointFile.isDefined)
      val blockBytes =
        if (local.isEmpty) Map.empty[Int, Long] else RddBlockBytes(sc, local.map(_.id).toSet)
      val fileBytes = reliable.map { r =>
        val dir = new Path(r.getCheckpointFile.get)
        dir.getFileSystem(sc.hadoopConfiguration).listStatus(dir)
          .filter(_.getPath.getName.startsWith("part-")).map(_.getLen).sum
      }
      Some(fileBytes.sum + local.map(r => blockBytes.getOrElse(r.id, 0L)).sum)
    }
  }

  /** Constraint-shedding checkpoint for incremental folds' persisted
    * state (d64, m70).
    *
    * A checkpoint copies the source plan's attribute-level constraints
    * into the LogicalRDD, but Catalyst's relation dedup re-instances a
    * LogicalRDD that appears in two plan positions (or whose attribute
    * ids collide across union children) WITHOUT remapping those origin
    * constraints — the union constraint rewrite then crashes on the
    * stale ids (`key not found: vec_id#N`). The typed identity map
    * inserts a serialize boundary that mints fresh attribute ids per
    * call and sheds every filter-derived constraint (only
    * nullability-derived isnotnull of the frame's own outputs can
    * remain), so the frozen state frame can be unioned and self-joined
    * freely across advances — union children stay id-distinct, so
    * re-instancing never rewrites their constraints. The row round-trip
    * is paid ONCE per advance, at checkpoint materialization, on state
    * that is orders smaller than the corpus. (d63's band index dodges
    * the same trap only because its aggregate/generate outputs happen
    * to carry no constraints.) Round14Spec pins the contract.
    */
  private[graft] def fresh(df: DataFrame, names: String*): DataFrame = {
    val pruned = df.select(names.map(col): _*)
    implicit val enc: org.apache.spark.sql.Encoder[org.apache.spark.sql.Row] =
      org.apache.spark.sql.Encoders.row(pruned.schema)
    pruned.map(identity).graftCheckpoint(true)
  }
}
