package graft.expressions

import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SortExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.internal.SQLConf

/** AQE query-stage preparation rule: a global sort whose input fits one
  * advisory partition sorts in ONE range partition.
  *
  * A global `orderBy` plans as `Sort ← Exchange rangepartitioning(order,
  * n)`, and the exchange's `RangePartitioner` first runs a sampling job
  * to pick its n − 1 bounds. That job computes the whole upstream stage,
  * and the shuffle-map job then computes it again; for a small output
  * AQE coalesces the n partitions back to one or two anyway. When the
  * sort's input (`logicalLink.children.head.stats.sizeInBytes`: the
  * runtime size at AQE re-planning, Catalyst's estimate before it — the
  * one join selection trusts) is at most
  * `spark.sql.adaptive.advisoryPartitionSizeInBytes`, the exchange is
  * rewritten to `rangepartitioning(order, 1)`: the same total order in
  * the single partition AQE would coalesce to, and a one-partition
  * `RangePartitioner` computes no bounds, so no sampling job runs.
  *
  * Only the exchange `EnsureRequirements` added for the sort is touched;
  * `repartitionByRange` (origin `REPARTITION_BY_NUM`) keeps its count.
  * Stage-prep rules run only under AQE, so with AQE off the rule is
  * inert. [[graft.GraftExtensions]] injects it when a session is built.
  */
object SortSmallInOnePartition extends Rule[SparkPlan] {
  override def apply(plan: SparkPlan): SparkPlan = {
    val advisory = BigInt(conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
    def fits(sort: SortExec): Boolean = sort.logicalLink
      .flatMap(_.children.headOption)
      .exists(_.stats.sizeInBytes <= advisory)
    plan.transformUp {
      case sort @ SortExec(_, true,
          ex @ ShuffleExchangeExec(RangePartitioning(order, n), _, ENSURE_REQUIREMENTS, _), _)
          if n > 1 && fits(sort) =>
        sort.withNewChildren(Seq(ex.copy(outputPartitioning = RangePartitioning(order, 1))))
    }
  }
}
