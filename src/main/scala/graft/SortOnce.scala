package graft

import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CoalesceExec, FilterExec, ProjectExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.WriteFilesExec
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}

/** Query-stage prep rule: a small root ORDER BY sorts in one partition.
  *
  * EnsureRequirements plans a global sort as a range-partitioned shuffle,
  * and the range partitioner first runs a sampling job over the sort's
  * input — re-executing the whole upstream stage, so every decode or
  * tokenizer kernel under a final `orderBy` runs twice. When the root
  * sort's input is estimated at most `spark.sql.autoBroadcastJoinThreshold`
  * (the engine's bound for "small enough to ship whole to one task";
  * exact under AQE once upstream stages materialize), the exchange becomes
  * a single-partition gather: no sampling job, same order.
  *
  * Only a global sort at the root is touched — under Project / Filter /
  * Coalesce, or a file write, which consumes the whole result like a
  * collect: mid-plan sorts may feed heavy operators that need the range
  * parallelism, and user `repartitionByRange` shuffles have another origin.
  * A threshold of 0 or less (broadcast off) disables the rule.
  */
object SortOnce extends Rule[SparkPlan] {
  override def apply(plan: SparkPlan): SparkPlan = plan match {
    case _: ProjectExec | _: FilterExec | _: CoalesceExec | _: DataWritingCommandExec |
         _: WriteFilesExec => plan.mapChildren(apply)
    case s: SortExec if s.global => s.mapChildren {
      case e @ ShuffleExchangeExec(_: RangePartitioning, child, ENSURE_REQUIREMENTS, _) if small(child) =>
        e.copy(outputPartitioning = SinglePartition)
      case c => c
    }
    case _ => plan
  }

  private def small(p: SparkPlan): Boolean = {
    val limit = conf.autoBroadcastJoinThreshold
    limit > 0 && p.logicalLink.exists(_.stats.sizeInBytes <= limit)
  }
}
