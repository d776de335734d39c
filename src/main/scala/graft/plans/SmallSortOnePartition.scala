package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.internal.SQLConf

/** AQE query-stage preparation rule: a global sort over a child that
  * materialized query stages prove small shuffles into ONE partition
  * instead of range partitions. A range exchange samples its child to
  * compute the range bounds, which is a job that runs the child (say, a
  * finished final aggregate) a second time; a single-partition exchange
  * needs no sample.
  *
  * It rewrites `ShuffleExchangeExec(RangePartitioning(_, n > 1), child,
  * ENSURE_REQUIREMENTS)`, with coalescing on, when two runtime facts about
  * the child hold:
  *   - its row bound times the estimated row size is at most
  *     `spark.sql.adaptive.coalescePartitions.minPartitionSize`. Below
  *     that size AQE would coalesce the ranges into one partition anyway.
  *   - the materialized stages it reads measure at most
  *     `spark.sql.adaptive.advisoryPartitionSizeInBytes` in total. The row
  *     size estimate counts a string as 20 bytes; this caps what a wrong
  *     estimate can put into the one task at the size AQE itself targets
  *     for one partition.
  * One partition is always a correct global order; the bounds only decide
  * when it is also cheaper.
  *
  * Both facts come from materialized stages' runtime statistics (row
  * counts and UnsafeRow bytes) and pass through project, filter, sort,
  * aggregate and AQE shuffle reads. A join's row bound is the product of
  * its sides plus both sides (outer joins keep unmatched rows); any other
  * operator is unbounded. Before its input stages materialize the child is
  * unbounded, so the rule fires on AQE's re-planning, and never with AQE
  * off.
  */
object SmallSortOnePartition extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan =
    if (!conf.coalesceShufflePartitionsEnabled) plan
    else plan.transformUp {
      case e @ ShuffleExchangeExec(r: RangePartitioning, child, ENSURE_REQUIREMENTS, _)
          if r.numPartitions > 1 && bounds(child).exists { case (rows, inputBytes) =>
            rows * EstimationUtils.getSizePerRow(child.output) <=
              conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE) &&
            inputBytes <= conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
          } =>
        e.copy(outputPartitioning = SinglePartition)
    }

  /** (row bound of `p`, measured bytes of the stages it reads). */
  private[plans] def bounds(p: SparkPlan): Option[(BigInt, BigInt)] = p match {
    case s: QueryStageExec =>
      s.computeStats().flatMap(st => st.rowCount.map(_ -> st.sizeInBytes))
    case _: AQEShuffleReadExec | _: ProjectExec | _: FilterExec | _: SortExec |
         _: BaseAggregateExec => bounds(p.children.head)
    case j: BaseJoinExec =>
      for ((l, lb) <- bounds(j.left); (r, rb) <- bounds(j.right)) yield (l * r + l + r, lb + rb)
    case _ => None
  }
}
