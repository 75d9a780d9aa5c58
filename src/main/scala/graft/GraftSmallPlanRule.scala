package graft

import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans.{FullOuter, InnerLike}
import org.apache.spark.sql.catalyst.plans.logical.{Command, Filter, GlobalLimit, HintInfo, Join, JoinHint,
  JoinStrategyHint, LeafNode, LocalLimit, LocalRelation, LogicalPlan, MapPartitions, Offset,
  Project, RebalancePartitions, Repartition, RepartitionByExpression, Sample, SHUFFLE_HASH,
  SHUFFLE_REPLICATE_NL, Sort, Tail, Union, V2WriteCommand}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.DataWritingCommand
import org.apache.spark.sql.execution.datasources.{V1WriteCommand, V1WritesUtils, WriteFiles}
import org.apache.spark.sql.internal.SQLConf

/** Late optimizer rule: a plan small enough that AQE would coalesce
  * every shuffle in it into one partition anyway runs in ONE task and
  * one job instead — no shuffle map stages, no broadcast builds, no
  * range-sample job.
  *
  * The gate, applied per maximal subtree: the subtree is a
  * deterministic batch plan (no nondeterministic expression, no
  * `Sample` or `mapPartitions`, whose answers depend on the
  * partitioning), and its non-local leaves total at most the size AQE
  * coalesces into one partition — `coalescePartitions.minPartitionSize`
  * when `coalescePartitions.parallelismFirst` is set (the default),
  * else `advisoryPartitionSizeInBytes`. A passing subtree is rewritten:
  *  - each non-local leaf, each multi-row `LocalRelation` beside one,
  *    and each union is coalesced to one partition
  *    (`Repartition(1, shuffle = false)`), a leaf above the projections
  *    and filters that its scan takes in;
  *  - each layout-only `RepartitionByExpression` or
  *    `RebalancePartitions` (no explicit partition count) becomes such
  *    a coalesce, so a partitioned write still writes one file per
  *    partition directory;
  *  - a file write's partition sort is put back where the coalesce
  *    broke it: `OptimizeOneRowPlan` drops the write's local sort when
  *    every input partition holds at most one row, which stops holding
  *    once the partitions are coalesced into one;
  *  - each equi-join is hinted shuffle-hash, and each other inner or
  *    cross join shuffle-replicate nested-loop (a one-by-one-partition
  *    cartesian product), overriding a broadcast hint.
  * A coalesce reports `SinglePartition`, which satisfies every
  * distribution an aggregate, window, join or global sort asks for, so
  * `EnsureRequirements` plans no exchange and no broadcast. A join
  * whose large side fails the gate keeps its broadcast of the small
  * side, which is coalesced on its own.
  *
  * What the rule leaves alone:
  *  - a plan of local relations only: collecting one runs no job, and a
  *    coalesce over it would add one — only its repartitions become
  *    coalesces, when its rows fit;
  *  - a global sort that a limit, offset or tail consumes, with its
  *    subtree: `ORDER BY … LIMIT` plans as `TakeOrderedAndProject`;
  *  - commands other than writes, whose planning matches on their
  *    children;
  *  - streaming plans, and everything when AQE or its partition
  *    coalescing is off.
  * A global sort whose subtree fails the gate but whose input estimate
  * fits still sorts in one task, `Sort(global, Repartition(1, false,
  * child))`, with no range exchange. The rule is idempotent (a
  * coalesce's leaf child is never wrapped again), as the fixed-point
  * `extraOptimizations` batch it runs in requires. */
object GraftSmallPlanRule extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!conf.adaptiveExecutionEnabled || !conf.coalesceShufflePartitionsEnabled ||
        plan.isStreaming) plan
    else rewrite(plan, topN = false)

  /** `p` with its small subtrees in one task; `topN` marks a subtree
    * whose root sort a limit, offset or tail consumes. */
  private def rewrite(p: LogicalPlan, topN: Boolean): LogicalPlan = p match {
    case _: GlobalLimit | _: LocalLimit | _: Offset | _: Tail =>
      p.mapChildren(rewrite(_, topN = true))
    case _: Project if topN => p.mapChildren(rewrite(_, topN = true))
    case s: Sort if s.global && topN => p
    case _ if partitionSensitive(p) => p
    case _: Command if !p.isInstanceOf[DataWritingCommand] &&
        !p.isInstanceOf[V2WriteCommand] => p
    case _ if !p.exists(partitionSensitive) && fits(gated(p)) =>
      if (p.collectLeaves().forall(_.isInstanceOf[LocalRelation])) p.transformUp(layout)
      else oneTask(p, under = false)
    case s: Sort if s.global && !coalesced(s.child) && fits(Seq(s.child)) =>
      s.copy(child = Repartition(1, shuffle = false, rewrite(s.child, topN = false)))
    case _ => p.mapChildren(rewrite(_, topN = false))
  }

  /** A node whose answers depend on how its input is partitioned. */
  private def partitionSensitive(p: LogicalPlan): Boolean = p match {
    case _: Sample | _: MapPartitions => true
    case _ => !p.expressions.forall(_.deterministic)
  }

  /** The leaves the size gate sums: the non-local ones, or a plan's
    * local relations when it has nothing else. */
  private def gated(p: LogicalPlan): Seq[LogicalPlan] = {
    val leaves = p.collectLeaves()
    val nonLocal = leaves.filterNot(_.isInstanceOf[LocalRelation])
    if (nonLocal.isEmpty) leaves else nonLocal
  }

  /** Layout-only repartitions as one-partition coalesces. */
  private val layout: PartialFunction[LogicalPlan, LogicalPlan] = {
    case r: RepartitionByExpression if r.optNumPartitions.isEmpty => one(r.child)
    case r: RebalancePartitions if r.optNumPartitions.isEmpty => one(r.child)
  }

  /** A passing subtree in one partition; `under` marks the child of a
    * one-partition coalesce, which needs none of its own. */
  private def oneTask(p: LogicalPlan, under: Boolean): LogicalPlan = p match {
    case r @ Repartition(1, false, child) => r.copy(child = oneTask(child, under = true))
    case w: V1WriteCommand => w.mapChildren {
      case f: WriteFiles =>
        val c = oneTask(f.child, under = false)
        val ordered = V1WritesUtils.isOrderingMatched(
          w.requiredOrdering.map(_.child), c.outputOrdering)
        f.copy(child = if (ordered) c else Sort(w.requiredOrdering, global = false, c))
      case c => oneTask(c, under = false)
    }
    case _ if layout.isDefinedAt(p) => one(oneTask(p.children.head, under = true))
    case u: Union =>
      val children = u.mapChildren(oneTask(_, under = false))
      if (under) children else one(children)
    case j: Join if equi(j) || j.joinType.isInstanceOf[InnerLike] =>
      val hinted = j.copy(hint = if (equi(j)) ShuffleHash else Cartesian)
        .mapChildren(oneTask(_, under = false))
      // a full outer hash join and a cartesian product report no
      // output partitioning, so their parent needs the coalesce
      if (under || (equi(j) && j.joinType != FullOuter)) hinted else one(hinted)
    case _ if scan(p) => p match {
      case l: LocalRelation if l.data.size <= 1 => l
      case _ => if (under) p else one(p)
    }
    case _ => p.mapChildren(oneTask(_, under = false))
  }

  /** A leaf under projections and filters only — what the planner's
    * scan strategies push into the scan, so the coalesce goes above
    * it. */
  private def scan(p: LogicalPlan): Boolean = p match {
    case _: Project | _: Filter => scan(p.children.head)
    case _ => p.isInstanceOf[LeafNode]
  }

  private def equi(j: Join): Boolean = ExtractEquiJoinKeys.unapply(j).isDefined

  private def hinted(strategy: JoinStrategyHint): JoinHint = {
    val h = Some(HintInfo(Some(strategy)))
    JoinHint(h, h)
  }
  private val ShuffleHash = hinted(SHUFFLE_HASH)
  private val Cartesian = hinted(SHUFFLE_REPLICATE_NL)

  private def one(p: LogicalPlan): LogicalPlan = Repartition(1, shuffle = false, p)

  private def coalesced(child: LogicalPlan): Boolean = child match {
    case Repartition(1, false, _) => true
    case _ => false
  }

  /** Whether AQE would coalesce a shuffle of `ps` into one partition. */
  private def fits(ps: Seq[LogicalPlan]): Boolean = {
    val one =
      if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))
        conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
      else conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    ps.map(_.stats.sizeInBytes).sum <= BigInt(one)
  }
}
