package graft.core

import org.apache.spark.sql.catalyst.plans.logical.{Generate, LogicalPlan, LogicalQueryStage, Repartition, Sort}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf

/** AQE runtime rule: a global sort whose input AQE would fold into one
  * partition anyway sorts that input in place, in one task.
  *
  * A global `Sort` plans as a range exchange: one job samples the input
  * for the `RangePartitioner` bounds, a second stage shuffles by range.
  * When the input is small, `CoalesceShufflePartitions` then reads the
  * whole range shuffle back as a single partition, so the sort ran in one
  * task and the sampling job and the shuffle bought nothing. During AQE
  * re-optimization this rule rewrites such a sort to
  * `Sort(global, Repartition(1, shuffle = false, child))`. The physical
  * `CoalesceExec(1)` outputs `SinglePartition`, which satisfies the sort's
  * `OrderedDistribution`, so `EnsureRequirements` plans no exchange.
  *
  * It fires only when all of these hold:
  *  - every leaf under the sort is a materialized query stage, so the
  *    size below is runtime statistics, not a guess over a scan;
  *  - no `Generate` sits between those stages and the sort: its row
  *    count is not part of Spark's size estimate;
  *  - Spark's size estimate of the sort input (`child.stats.sizeInBytes`)
  *    is at most the size that `CoalesceShufflePartitions` would fold into
  *    one partition: `coalescePartitions.minPartitionSize` when
  *    `coalescePartitions.parallelismFirst` is on, else
  *    `advisoryPartitionSizeInBytes`. With coalescing off it never fires.
  *
  * Spark estimates a join's size as the product of its sides' sizes, so a
  * sort over a join fires only when even that product is small. At scale
  * the rule touches only tiny final aggregates; the sort keeps the single
  * task it already had.
  */
object SmallSortInPlace extends Rule[LogicalPlan] {

  /** The input size that `CoalesceShufflePartitions` always reads back as
    * one partition, or `None` when it does not coalesce. */
  private def foldBytes(conf: SQLConf): Option[BigInt] =
    if (!conf.coalesceShufflePartitionsEnabled) None
    else Some(BigInt(
      if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))
        conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
      else conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)))

  def apply(plan: LogicalPlan): LogicalPlan = foldBytes(conf) match {
    case None => plan
    case Some(limit) => plan.transformUp {
      case s @ Sort(_, true, child, _) if !inPlace(child) &&
          child.collectLeaves().forall {
            case q: LogicalQueryStage => q.isMaterialized
            case _ => false
          } &&
          !child.exists(_.isInstanceOf[Generate]) &&
          child.stats.sizeInBytes <= limit =>
        s.copy(child = Repartition(1, shuffle = false, child))
    }
  }

  private def inPlace(child: LogicalPlan): Boolean = child match {
    case Repartition(1, false, _) => true
    case _ => false
  }
}
