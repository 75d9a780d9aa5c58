package graft

import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LocalLimit, LogicalPlan,
  Offset, Project, Repartition, Sort, Tail}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf

/** Late optimizer rule: a global `Sort` over an input small enough
  * that AQE would coalesce its range shuffle into one partition anyway
  * sorts in ONE task instead. The rewrite is
  * `Sort(global, Repartition(1, shuffle = false, child))`: the
  * coalesce reports `SinglePartition`, which satisfies the sort's
  * ordered distribution, so no range exchange is planned — no
  * RangePartitioner sample job and no shuffle map stage, just the
  * result job. A dashboard read of a few hundred rows drops from three
  * jobs to one.
  *
  * The gate reads only the input's size estimate and settings Spark
  * already has: AQE and its partition coalescing on, a batch plan, and
  * `child.stats.sizeInBytes` at most the size AQE coalesces into one
  * partition — `coalescePartitions.minPartitionSize` when
  * `coalescePartitions.parallelismFirst` is set (the default), else
  * `advisoryPartitionSizeInBytes`. Larger sorts keep the range
  * exchange and their parallelism. A sort that a limit, offset or tail
  * consumes is left alone: `ORDER BY … LIMIT` plans as
  * `TakeOrderedAndProject`, already one job. The rule is idempotent
  * (a sort over a one-partition coalesce is skipped), as the fixed-point
  * `extraOptimizations` batch it runs in requires. */
object GraftSmallSortRule extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!conf.adaptiveExecutionEnabled || !conf.coalesceShufflePartitionsEnabled ||
        plan.isStreaming) plan
    else rewrite(plan, topN = false)

  /** `p` with its eligible sorts rewritten; `topN` marks a subtree whose
    * root sort a limit, offset or tail consumes. */
  private def rewrite(p: LogicalPlan, topN: Boolean): LogicalPlan = p match {
    case _: GlobalLimit | _: LocalLimit | _: Offset | _: Tail =>
      p.mapChildren(rewrite(_, topN = true))
    case _: Project if topN => p.mapChildren(rewrite(_, topN = true))
    case s: Sort if s.global && !topN && !oneTask(s.child) && fits(s.child) =>
      s.copy(child = Repartition(1, shuffle = false, rewrite(s.child, topN = false)))
    case _ => p.mapChildren(rewrite(_, topN = false))
  }

  private def oneTask(child: LogicalPlan): Boolean = child match {
    case Repartition(1, false, _) => true
    case _ => false
  }

  /** Whether AQE would coalesce a shuffle of `child` into one partition. */
  private def fits(child: LogicalPlan): Boolean = {
    val one =
      if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))
        conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
      else conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    child.stats.sizeInBytes <= BigInt(one)
  }
}
