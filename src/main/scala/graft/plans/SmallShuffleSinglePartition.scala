package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.PlanExpression
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution,
  HashPartitioning, Partitioning, PartitioningCollection, RangePartitioning, SinglePartition}
import org.apache.spark.sql.catalyst.plans.logical.Command
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CoalesceExec, FileSourceScanExec, SparkPlan,
  UnaryExecNode, UnionExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ENSURE_REQUIREMENTS,
  Exchange, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.internal.SQLConf

/** AQE stage-prep rule: a shuffle whose input AQE would coalesce into one
  * partition anyway is planned as one partition up front, a shuffle whose
  * input is already one partition is not run at all, and the exchange
  * after either, which then has nothing to redistribute, goes away.
  *
  * The keyed slices, scans and as-of joins each lower to a hash exchange
  * on the key, a sort and a window, and then the final `orderBy`'s range
  * exchange. On a small input AQE coalesces both exchanges to one task
  * each, so the second one costs a stage and a job (the range sampling
  * pass) and buys no parallelism; over a small file scan the first one
  * also only copies the rows from its scan tasks into one. The rule
  *
  *  1. turns a hash or range exchange that `EnsureRequirements` added into
  *     `SinglePartition` when the size of the nearest logical plan under
  *     it is within [[SmallShuffleSinglePartition.gate]], the size under
  *     which AQE's own coalescing leaves one partition. `SinglePartition`
  *     satisfies every later distribution but a broadcast, so neither
  *     this rule nor `EnsureRequirements` on a re-plan would shuffle again
  *     above it: the estimate of every operator above the exchange, up to
  *     the root or to a broadcast or repartition, must be within the same
  *     size (a write command's estimate is a placeholder and does not
  *     count), or a join or explode that multiplies the rows would run in
  *     that one task. AQE refines the sizes from runtime statistics as
  *     upstream stages materialize;
  *  2. replaces such an exchange, or a `SinglePartition` one that
  *     `EnsureRequirements` planned, under the same size test, by
  *     `CoalesceExec(1)` when its input reads file scans through narrow
  *     operators: unary ones and unions, down to non-bucketed file scans
  *     of one split each with no dynamic-pruning filter. The coalesce
  *     runs those scans and the operators above them in one task (a union
  *     of two such scans in one task, not two), also reports
  *     `SinglePartition`, and yields one partition for an empty input.
  *     An exchange keeps its
  *     stage where AQE reads its runtime size: when it occurs more than
  *     once in the plan (AQE reuses it), and when a join is above it (AQE
  *     re-plans the join, its build side too, from the sizes of its sides);
  *  3. drops an `EnsureRequirements` exchange whose child already reports
  *     `SinglePartition`, under the same size test, so the window,
  *     aggregate and final sort above a small exchange run in the same
  *     task;
  *  4. keeps every parent's requirement met: the children of an operator
  *     that co-partitions them (sort-merge and shuffled-hash joins,
  *     cogroup) are rewritten all together or not at all, so no join
  *     pairs a single-partition side with a hash-partitioned one (a side
  *     that is already a materialized multi-partition stage keeps the
  *     others as they were), and a child whose new partitioning no longer
  *     satisfies its parent is left as it was.
  *
  * It fires only while coalescing is on. `repartition` and
  * `repartitionByRange` exchanges keep the partitions they asked for,
  * broadcasts are not shuffles, and plans that run without AQE, such as
  * a streaming micro-batch, never see the rule.
  */
case class SmallShuffleSinglePartition(session: SparkSession) extends Rule[SparkPlan] {
  override def apply(plan: SparkPlan): SparkPlan = {
    val gate = SmallShuffleSinglePartition.gate(session.sessionState.conf)
    if (gate.isEmpty) return plan
    val limit = gate.get
    def small(child: SparkPlan) =
      child.collectFirst { case p if p.logicalLink.isDefined => p.logicalLink.get }
        .exists(_.stats.sizeInBytes <= limit)
    // exchanges AQE can reuse (step 2)
    val shared = plan.collect { case e: ShuffleExchangeExec => e.canonicalized }
      .groupBy(identity).collect { case (c, es) if es.size > 1 => c }.toSet

    // `fitsAbove`: every operator between the root and `plan`, up to a
    // broadcast or a repartition, fits the gate too (step 1 above);
    // `joinAbove`: a join is between them (step 2)
    def rewrite(plan: SparkPlan, fitsAbove: Boolean, joinAbove: Boolean): SparkPlan = {
      val fits = plan match {
        case _: BroadcastExchangeLike => true
        case e: ShuffleExchangeExec if e.shuffleOrigin != ENSURE_REQUIREMENTS => true
        case p => fitsAbove && p.logicalLink.forall {
          // a write consumes the rows it is given; its estimate is a placeholder
          case _: Command => true
          case l => l.stats.sizeInBytes <= limit
        }
      }
      val joins = joinAbove || plan.isInstanceOf[BaseJoinExec]
      val rewritten = plan.children.map(rewrite(_, fits, joins))
      val required = plan.requiredChildDistribution
      def meets(child: SparkPlan, d: Distribution) = child.outputPartitioning.satisfies(d)
      val coPartitioned = required.count(_.isInstanceOf[ClusteredDistribution]) > 1
      val children =
        if (coPartitioned && rewritten.forall(c => single(c.outputPartitioning)) &&
            rewritten.lazyZip(required).forall(meets)) rewritten
        else plan.children.lazyZip(rewritten).lazyZip(required).map { (old, now, d) =>
          val keeps = meets(now, d) &&
            (!coPartitioned || now.outputPartitioning == old.outputPartitioning)
          if (keeps) now else old
        }
      plan.withNewChildren(children) match {
        case e: ShuffleExchangeExec if e.shuffleOrigin == ENSURE_REQUIREMENTS &&
            single(e.child.outputPartitioning) && fitsAbove && small(e.child) =>
          e.child
        case e @ ShuffleExchangeExec(_: HashPartitioning | _: RangePartitioning | SinglePartition,
            child, ENSURE_REQUIREMENTS, _) if fitsAbove && small(child) =>
          if (!joinAbove && narrowScan(child) && !shared(plan.canonicalized))
            CoalesceExec(1, child)
          else if (e.outputPartitioning == SinglePartition) e
          else {
            val one = e.copy(outputPartitioning = SinglePartition)
            one.copyTagsFrom(e)
            one
          }
        case other => other
      }
    }
    rewrite(plan, fitsAbove = true, joinAbove = false)
  }

  // whether a plan reads one-split file scans through unary, narrow
  // operators and unions only
  private def narrowScan(p: SparkPlan): Boolean = p match {
    case s: FileSourceScanExec =>
      !s.bucketedScan && s.inputRDD.getNumPartitions <= 1 &&
        !s.partitionFilters.exists(_.exists(_.isInstanceOf[PlanExpression[_]]))
    case u: UnionExec => u.children.forall(narrowScan)
    case _: Exchange => false
    case u: UnaryExecNode => narrowScan(u.child)
    case _ => false
  }

  // a join's partitioning collection holds each side's; one single side
  // means all of its rows are in one partition
  private def single(p: Partitioning): Boolean = p match {
    case SinglePartition => true
    case PartitioningCollection(ps) => ps.exists(single)
    case _ => false
  }
}

object SmallShuffleSinglePartition {
  /** The size at or under which AQE's coalescing leaves a shuffle one
    * partition, or None while coalescing is off:
    * `coalescePartitions.minPartitionSize` while
    * `coalescePartitions.parallelismFirst` is on (the default),
    * `advisoryPartitionSizeInBytes` otherwise. The rule and
    * `operators.DistributedScan` both read it here. */
  def gate(conf: SQLConf): Option[Long] =
    if (!conf.coalesceShufflePartitionsEnabled) None
    else if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))
      Some(conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE))
    else Some(conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
}
