package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.internal.SQLConf

/** AQE stage-prep rule: a global sort whose input fits in one advisory
  * partition is exchanged into a single partition instead of range
  * partitions.
  *
  * A range exchange builds a `RangePartitioner`, which first runs a
  * sampling job that recomputes the whole upstream stage; AQE then
  * coalesces the range partitions of a small input back into one task.
  * `SinglePartition` satisfies the sort's `OrderedDistribution`, so the
  * sort keeps its exchange (and its rows and order) but loses the
  * sampling job. It fires only while coalescing is on and the size of the
  * nearest logical plan under the exchange is at most
  * `spark.sql.adaptive.advisoryPartitionSizeInBytes`; AQE refines that
  * size from runtime statistics as upstream stages materialize. Only
  * exchanges that `EnsureRequirements` added are rewritten: a
  * `repartitionByRange` keeps the partitions it asked for.
  */
case class SmallSortSinglePartition(session: SparkSession) extends Rule[SparkPlan] {
  override def apply(plan: SparkPlan): SparkPlan = {
    val conf = session.sessionState.conf
    if (!conf.coalesceShufflePartitionsEnabled) return plan
    val advisory = conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    plan.transformUp {
      case e @ ShuffleExchangeExec(_: RangePartitioning, child, ENSURE_REQUIREMENTS, _)
          if child.collectFirst { case p if p.logicalLink.isDefined => p.logicalLink.get }
            .exists(_.stats.sizeInBytes <= advisory) =>
        e.copy(outputPartitioning = SinglePartition)
    }
  }
}
