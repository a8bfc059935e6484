package graft.plans

import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf

/** A small presentation sort runs in one partition, without a range
  * exchange.
  *
  * A global `Sort` plans a range exchange, and its `RangePartitioner`
  * samples the sort's input with a job of its own, which re-runs the
  * whole stage below the sort before the sort's shuffle starts. When the
  * input is small, AQE then coalesces that exchange to one partition
  * anyway: the sampling bought nothing. This rule puts `Repartition(1)`
  * under such a sort; the sort's ordered distribution is then already
  * satisfied, so `EnsureRequirements` plans no range exchange and no
  * sampling job runs. The result is the same sorted rows in the one
  * partition AQE would have produced.
  *
  * It fires only when all of these hold:
  *  - AQE and its partition coalescing are on (the loop scope turns AQE
  *    off; its plans keep their fixed-width range exchange);
  *  - the sort is the one whose order the result or a write exposes:
  *    it is reached from the plan's root through `Project`, `Filter`,
  *    `SubqueryAlias` and command nodes only. A sort under a `Limit`,
  *    `Offset` or `Tail` is left to Spark (an ordered limit plans as
  *    TakeOrderedAndProject); a sort under an aggregate or join is
  *    Spark's `EliminateSorts`' business;
  *  - the sort's child is estimated (`stats.sizeInBytes`) at or under
  *    the size at which AQE coalescing yields one partition:
  *    `coalescePartitions.minPartitionSize` with `parallelismFirst` on
  *    (Spark's default), else `advisoryPartitionSizeInBytes`. Estimates
  *    err large (a join's estimate is the product of its sides), so a
  *    large input keeps its range exchange.
  *
  * A sort over an explicit repartition keeps the partitioning its author
  * chose; the same check keeps the rule idempotent in the fixed-point
  * batch. */
object SmallSortOnePartition extends Rule[LogicalPlan] {

  private def onePartitionBytes: Long =
    if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))
      conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
    else conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)

  /** Is `p` (under projections and filters) an explicit repartition,
    * this rule's own included? */
  private def repartitioned(p: LogicalPlan): Boolean = p match {
    case _: RepartitionOperation | _: RebalancePartitions => true
    case u @ (_: Project | _: Filter) => repartitioned(u.children.head)
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!conf.adaptiveExecutionEnabled || !conf.coalesceShufflePartitionsEnabled)
      return plan
    val gate = BigInt(onePartitionBytes)
    def small(p: LogicalPlan): Boolean =
      // an estimate failure must never fail the query
      try p.stats.sizeInBytes <= gate
      catch { case scala.util.control.NonFatal(_) => false }
    def exposed(p: LogicalPlan): LogicalPlan = p match {
      case s @ Sort(_, true, child, _) =>
        if (repartitioned(child) || !small(child)) s
        else s.copy(child = Repartition(1, shuffle = true, child))
      case _: Project | _: Filter | _: SubqueryAlias | _: Command => p.mapChildren(exposed)
      case _ => p
    }
    exposed(plan)
  }
}
