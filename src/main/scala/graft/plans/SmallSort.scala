package graft.plans

import graft.SizeGate
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{CoGroup, FlatMapGroupsWithState, Generate, LogicalPlan, MapGroups, MapPartitions, Sort}
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.{SortExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Global sorts of small results on one partition.
  *
  * Spark plans every global `ORDER BY` as a range shuffle, whose
  * partitioner first runs a sampling job over the sort's input stage:
  * for a result of a few rows that job re-runs the whole upstream
  * stage to pick range bounds nobody needs. When the sort's input is
  * estimated at or under [[SizeGate.SortBytes]], this strategy plans
  * the sort over a single-partition shuffle instead: the upstream
  * stages stay parallel, and no sampling job runs.
  *
  * It does not fire under the `distributed` size-gate mode, so the
  * oracle sweep still covers the range path, nor when the input holds
  * an operator that can emit more rows than it reads without Spark
  * scaling its size estimate (an `explode`'s `Generate`, the typed
  * `flatMap`-style nodes): there the estimate is no upper bound.
  */
object SmallSortStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Sort(order, true, child, _) if SmallSort.fits(child) =>
      SortExec(order, global = true,
        ShuffleExchangeExec(SinglePartition, planLater(child))) :: Nil
    case _ => Nil
  }
}

object SmallSort {
  private[plans] def fits(child: LogicalPlan): Boolean =
    !child.exists {
      case _: Generate | _: MapPartitions | _: MapGroups | _: CoGroup |
          _: FlatMapGroupsWithState => true
      case _ => false
    } &&
      SizeGate.local(SparkSession.active, SizeGate.SortBytes)(
        child.stats.sizeInBytes.min(BigInt(Long.MaxValue)).toLong)

  def register(spark: SparkSession): Unit =
    if (!spark.experimental.extraStrategies.contains(SmallSortStrategy)) {
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ SmallSortStrategy
    }
}
