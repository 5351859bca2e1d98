package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, max}

/** Shared plumbing for the incremental folds (d63/d64/m70/c71 and their
  * resume-from-disk siblings d66/d67/m71):
  *
  *  - [[monotoneHalves]] — the two-advance batch split every in-job
  *    incremental query uses, with the empty-corpus guard (ADVICE r14:
  *    `agg(max(id)).head().getLong(0)` NPEs when max is NULL; an empty
  *    corpus folds as ONE empty batch instead, which every advance
  *    handles — empty deltas, empty clusters).
  *  - [[saveState]] / [[loadState]] — the durable form of the folds'
  *    between-advance state (VERDICT r14 item 1): each named state frame
  *    is one parquet dir under `path`. The frames are the
  *    corpus-orders-smaller index/pair/model tables (a band index is
  *    8 rows × ~300 B per doc; a phash index 4 longs per image), so the
  *    write is a rounding error next to the advance that produced it.
  *    [[loadState]] routes every reloaded frame through
  *    [[Checkpoints.fresh]]: the resumed fold unions and self-joins the
  *    state frames across further advances, exactly the plan shapes
  *    whose constraint re-instancing `fresh` exists to defuse — and the
  *    eager checkpoint also detaches the fold from the files, so a
  *    caller may overwrite the state dir with the advanced state
  *    immediately. Resume ≡ from-scratch is hash-proven by giving the
  *    resumed queries the SAME verbatim oracles as their from-scratch
  *    siblings (the d63/d64/m70 discipline, now across a disk boundary).
  */
object Increments {

  /** Split an id-monotone frame at max(id)/2 — two advances, the
    * standard incremental-query shape. Empty input → one empty batch.
    */
  private[graft] def monotoneHalves(df: DataFrame, idCol: String): Seq[DataFrame] = {
    val mx = df.agg(max(col(idCol))).head()
    halvesAt(df, idCol, if (mx.isNullAt(0)) None else Some(mx.getLong(0)))
  }

  /** [[monotoneHalves]] from an already-measured max(id) (None: empty). */
  private[graft] def halvesAt(df: DataFrame, idCol: String, maxId: Option[Long]): Seq[DataFrame] =
    maxId match {
      case None => Seq(df)
      case Some(mx) =>
        val cut = mx / 2
        Seq(df.filter(col(idCol) <= cut), df.filter(col(idCol) > cut))
    }

  /** Persist named state frames, one parquet dir per name. */
  private[graft] def saveState(path: String, frames: (String, DataFrame)*): Unit =
    frames.foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$path/$name")
    }

  /** Remove a (temp) state dir once a fold has detached from it. */
  private[graft] def deleteRecursively(path: String): Unit = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get(path)
    if (Files.exists(root)) {
      val all = Files.walk(root).iterator().asScala.toSeq
      all.sortBy(-_.getNameCount).foreach(Files.deleteIfExists(_))
    }
  }

  /** Reload one named state frame, constraint-shed and eagerly
    * checkpointed (see object doc) — `cols` is the frame's declared
    * column order, which parquet does not owe the reader.
    */
  private[graft] def loadState(spark: SparkSession, path: String, name: String,
                               cols: String*): DataFrame =
    Checkpoints.fresh(spark.read.parquet(s"$path/$name"), cols: _*)
}
