package graft

import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Expand, Filter, Join, LogicalPlan, Project, Repartition, Sort, Union, Window, WindowGroupLimit}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.adaptive.{LogicalQueryStage, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommand
import org.apache.spark.sql.execution.datasources.WriteFiles
import org.apache.spark.sql.execution.exchange.ENSURE_REQUIREMENTS
import org.apache.spark.sql.internal.SQLConf

/** AQE runtime rule: a query's final global sort over a small,
  * materialized input sorts in the stage that reads that input, with no
  * range exchange.
  *
  * A global `Sort` plans as a range exchange and a sort. The exchange's
  * `RangePartitioner` first runs a job of its own that recomputes the
  * sort's input to sample its keys, then the exchange's map stage
  * computes it again; when that input is small, AQE coalesces the range
  * shuffle to one partition and the sort runs in one task anyway. The
  * rule rewrites `Sort(global, child)` to
  * `Sort(global, Repartition(1, shuffle = false, child))`:
  * `CoalesceExec(1)` reports `SinglePartition`, which satisfies the
  * sort's ordered distribution, so no exchange is planned and no sample
  * job runs, and the sort's input, the sort and the write share the last
  * stage. A single-partition sort keeps tied rows in the order the range
  * sort gave them: child partition order, then row order.
  *
  * It fires only where AQE would already run that input in one task:
  *  - the sort is the plan's last operator below projections, a
  *    `coalesce` and the write (a sort under a limit stays a top-k);
  *  - every leaf of its input is a materialized stage read (a
  *    `LogicalQueryStage` whose physical leaves are shuffle stages
  *    planned for a required distribution), never a scan, a checkpoint,
  *    a `repartition(n)` stage or the sort's own range exchange;
  *  - between those stages and the sort, only operators whose size
  *    estimate bounds their output from above (projections, filters,
  *    aggregates, joins, `Expand`, unions, windows), so no `Generate`;
  *  - `spark.sql.adaptive.coalescePartitions.enabled` is on;
  *  - the stages' bytes and the input's estimate are at most the size AQE
  *    coalesces into one partition: `coalescePartitions.minPartitionSize`
  *    under the default `coalescePartitions.parallelismFirst`, else
  *    `advisoryPartitionSizeInBytes`.
  *
  * Large inputs keep the range exchange, so at scale the plan is
  * unchanged. Exclude the rule with Spark's
  * `spark.sql.adaptive.optimizer.excludedRules=graft.SmallFinalSort`.
  */
object SmallFinalSort extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case s: Sort if s.global && fits(s.child) =>
      s.copy(child = Repartition(1, shuffle = false, s.child))
    case p @ (_: Project | _: WriteFiles | _: DataWritingCommand | Repartition(_, false, _)) =>
      p.withNewChildren(p.children.map(apply))
    case other => other
  }

  private def fits(input: LogicalPlan): Boolean = {
    val oneTask =
      if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))
        conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
      else conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    conf.coalesceShufflePartitionsEnabled && input.find(!bounded(_)).isEmpty &&
      input.collectLeaves().map(_.stats.sizeInBytes).sum <= oneTask &&
      input.stats.sizeInBytes <= oneTask
  }

  /** A materialized stage read, or an operator whose size estimate bounds
    * its output from above. A range-partitioned stage is the sort's own
    * exchange, already run: the sort keeps it. */
  private def bounded(p: LogicalPlan): Boolean = p match {
    case q: LogicalQueryStage => q.isMaterialized && q.physicalPlan.collectLeaves().forall {
      case s: ShuffleQueryStageExec => s.shuffle.shuffleOrigin == ENSURE_REQUIREMENTS &&
        !s.shuffle.outputPartitioning.isInstanceOf[RangePartitioning]
      case _ => false
    }
    case _: Project | _: Filter | _: Aggregate | _: Join | _: Expand | _: Union | _: Window |
         _: WindowGroupLimit => true
    case _ => false
  }
}
