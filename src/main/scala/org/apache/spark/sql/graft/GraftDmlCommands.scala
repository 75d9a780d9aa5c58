package org.apache.spark.sql.graft

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils, SparkSession => ClassicSession}
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.LongType

/** Eager commands behind `graft.sources.GraftDmlRule` — SQL
  * MERGE/UPDATE over snapshot tables. This file lives under
  * `org.apache.spark.sql` for the two `private[sql]` bridges every
  * external table format needs (the Delta-Lake precedent):
  * `Dataset.ofRows` (analyzed source plan → DataFrame) and
  * `ExpressionUtils.column` (analyzed expression → Column). All DML
  * logic stays in `graft.sources.GraftDml`; the commands only convert
  * plans/expressions and delegate.
  *
  * Analyzed expressions carry the ORIGINAL relation's expression ids;
  * re-applying them to a freshly-read DataFrame would not resolve, so
  * attribute references are rewritten to name lookups first
  * ([[GraftDmlExec.byName]]) — every referenced name exists on the
  * re-read side by construction (the rule validated the columns). */
private[graft] object GraftDmlExec {
  def byName(e: Expression): Expression = e.transform {
    case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
  }

  def column(e: Expression): org.apache.spark.sql.Column =
    ExpressionUtils.column(byName(e))

  def ofRows(spark: SparkSession, plan: LogicalPlan) =
    Dataset.ofRows(spark.asInstanceOf[ClassicSession], plan)
}

/** `MERGE INTO <graft table> USING <source> ON <keys> WHEN MATCHED
  * UPDATE SET * WHEN NOT MATCHED INSERT *` → one O(batch)
  * append + equality-delete commit. Every command returns what the
  * target's publish returns: the new version of a plain table, the
  * new catalog commit of a governed one. */
case class GraftMergeCommand(target: graft.sources.TableHandle,
                             partitionCol: String,
                             keyCols: Seq[String], source: LogicalPlan,
                             projection: Seq[(String, Expression)],
                             syncDelete: Boolean = false)
    extends LeafRunnableCommand {

  override def innerChildren: Seq[LogicalPlan] = Seq(source)

  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val src = GraftDmlExec.ofRows(spark, source)
    val batch = src.select(projection.map { case (n, e) =>
      GraftDmlExec.column(e).as(n) }: _*)
    Seq(Row(graft.sources.GraftDml.runMerge(spark, target, partitionCol,
      keyCols, batch, syncDelete)))
  }
}

/** `MERGE INTO <graft table> USING <source> ON <keys> WHEN MATCHED
  * THEN DELETE` (alone) → one equality-delete sidecar commit of the
  * source's key set: O(batch), zero table reads. */
case class GraftMergeDeleteCommand(target: graft.sources.TableHandle,
                                   source: LogicalPlan,
                                   keyExprs: Seq[(String, Expression)])
    extends LeafRunnableCommand {

  override def innerChildren: Seq[LogicalPlan] = Seq(source)

  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val src = GraftDmlExec.ofRows(spark, source)
    val keys = src.select(keyExprs.map { case (n, e) =>
      GraftDmlExec.column(e).as(n) }: _*)
    Seq(Row(graft.sources.GraftDml.runMergeDelete(spark, target, keys)))
  }
}

/** The GENERAL `MERGE INTO` shape — conditional `WHEN MATCHED AND
  * cond THEN UPDATE/DELETE` clauses (Debezium op routing), partial
  * `SET`, conditional inserts, optional `WHEN NOT MATCHED BY SOURCE
  * [AND cond] THEN DELETE` — at merge-on-read cost (one target read,
  * zero rewrites, one commit). Expressions arrive ANALYZED with both
  * relations' expression ids; [[run]] rewrites every attribute to the
  * prefixed name (`_t_*` target / `_s_*` source) the join frame in
  * `GraftDml.runMergeClauses` exposes. */
case class GraftMergeClausesCommand(
    target: graft.sources.TableHandle,
    partitionCol: String,
    keyPairs: Seq[(String, Expression)],
    source: LogicalPlan,
    matched: Seq[(Option[Expression], Option[Seq[(String, Expression)]])],
    inserts: Seq[(Option[Expression], Seq[(String, Expression)])],
    nmbsDelete: Option[Option[Expression]],
    targetIds: Set[org.apache.spark.sql.catalyst.expressions.ExprId])
    extends LeafRunnableCommand {

  override def innerChildren: Seq[LogicalPlan] = Seq(source)

  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())

  private def prefixed(e: Expression): org.apache.spark.sql.Column =
    ExpressionUtils.column(e.transform {
      case a: AttributeReference if targetIds.contains(a.exprId) =>
        UnresolvedAttribute.quoted(s"_t_${a.name}")
      case a: AttributeReference =>
        UnresolvedAttribute.quoted(s"_s_${a.name}")
    })

  override def run(spark: SparkSession): Seq[Row] = {
    import graft.sources.GraftDml
    val src = GraftDmlExec.ofRows(spark, source)
    val m = matched.map { case (c, sets) =>
      GraftDml.MatchedClause(c.map(prefixed),
        sets.map(_.map { case (n, e) => n -> prefixed(e) })) }
    val ins = inserts.map { case (c, sets) =>
      GraftDml.InsertClause(c.map(prefixed),
        sets.map { case (n, e) => n -> prefixed(e) }) }
    val nmbs = nmbsDelete.map(_.map(prefixed))
    Seq(Row(GraftDml.runMergeClauses(spark, target, partitionCol,
      keyPairs.map(_._1), src, keyPairs.map(p => prefixed(p._2)),
      m, ins, nmbs)))
  }
}

/** `DELETE FROM <graft table> WHERE <any subquery-free predicate>` →
  * a merge-on-read sidecar commit with the EXACT analyzed predicate. */
case class GraftDeleteCommand(target: graft.sources.TableHandle,
                              condition: Expression)
    extends LeafRunnableCommand {

  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(graft.sources.GraftDml.runDelete(spark, target,
      GraftDmlExec.column(condition))))
}

/** `UPDATE <graft table> SET ... [WHERE ...]` → a partition-pruned
  * copy-on-write delta or a merge-on-read commit, routed by predicate
  * shape (`GraftDml.runUpdate`). */
case class GraftUpdateCommand(target: graft.sources.TableHandle,
                              partitionCol: String,
                              condition: Option[Expression],
                              sets: Seq[(String, Expression)])
    extends LeafRunnableCommand {

  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val pred = condition.map(GraftDmlExec.column).getOrElse(lit(true))
    // the columns the WHERE references, for CoW-vs-MoR routing (an
    // empty set = no WHERE = full-table, which routes copy-on-write)
    val refs = condition.toSeq.flatMap(_.collect {
      case a: Attribute => a.name
    }).toSet
    Seq(Row(graft.sources.GraftDml.runUpdate(spark, target, partitionCol,
      pred, sets.map { case (n, e) => n -> GraftDmlExec.column(e) },
      refs, condition.forall(_.deterministic))))
  }
}

/** The V1-streaming DataFrame bridges (third `private[sql]` use, same
  * Delta precedent as above): a V1 [[org.apache.spark.sql.execution.streaming.Source]]
  * must return a STREAMING-marked DataFrame from `getBatch` (the
  * micro-batch runner asserts it), and a V1 Sink's `addBatch` hands a
  * streaming-planned DataFrame that batch writers refuse — both
  * conversions are `internalCreateDataFrame` over the plan's own
  * `InternalRow` RDD (zero row copies; the RDD executes lazily inside
  * the consuming action, so Spark's codegen/AQE run unchanged). */
object GraftStreamBridge {

  private def classic(spark: SparkSession): ClassicSession =
    spark.asInstanceOf[ClassicSession]

  /** Streaming-marked frame over a batch plan (Source.getBatch). */
  def asStreaming(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    classic(df.sparkSession).internalCreateDataFrame(
      df.queryExecution.toRdd, df.schema, isStreaming = true)

  /** Batch frame over a micro-batch's physical rows (Sink.addBatch). */
  def asBatch(data: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    classic(data.sparkSession).internalCreateDataFrame(
      data.queryExecution.toRdd, data.schema, isStreaming = false)
}
