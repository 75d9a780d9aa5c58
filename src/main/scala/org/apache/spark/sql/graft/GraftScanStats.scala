package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.read.{Statistics, SupportsReportStatistics, V1Scan}
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2ScanRelation, PushedDownOperators, V1ScanWrapper}
import org.apache.spark.sql.sources.Filter

/** `V1ScanWrapper` that FORWARDS planner statistics. Spark's V2
  * pushdown wraps every `V1Scan` in a plain `V1ScanWrapper`, and
  * `DataSourceV2ScanRelation.computeStats` only consults the wrapped
  * node itself — so a V1-fallback scan's `SupportsReportStatistics`
  * is invisible to join selection and every such relation costs
  * `defaultSizeInBytes` (the never-broadcast placeholder). This
  * subclass re-exposes the inner scan's estimate; the physical
  * strategy's `case V1ScanWrapper(...)` match is a class pattern, so
  * the subclass plans exactly as the original. Lives under
  * `org.apache.spark.sql` because the wrapper and
  * `PushedDownOperators` are `private[sql]` (the shim-file pattern of
  * [[GraftDmlExec]]). */
class StatsV1ScanWrapper(v1: V1Scan,
                                        handled: Seq[Filter],
                                        ops: PushedDownOperators,
                                        inner: SupportsReportStatistics)
    extends V1ScanWrapper(v1, handled, ops) with SupportsReportStatistics {
  override def estimateStatistics(): Statistics = inner.estimateStatistics()

  // the inherited case-class equality would make the swapped node
  // `==` the original, so `transformDown`'s fastEquals check treats
  // the rewrite as a no-change and DISCARDS it — the subclass must
  // refuse equality with the plain wrapper in BOTH directions (the
  // generated equals delegates to the OTHER side's canEqual, so one
  // override alone stays asymmetric)
  override def canEqual(that: Any): Boolean =
    that.isInstanceOf[StatsV1ScanWrapper]
  override def equals(that: Any): Boolean = that match {
    case s: StatsV1ScanWrapper => super.equals(s)
    case _ => false
  }
}

/** The `private[sql]` bridge the runtime-filter rule
  * ([[graft.sources.GraftRuntimeFilterRule]], which lives in the graft
  * package and cannot touch `V1ScanWrapper` directly) needs: unwrap a
  * pushed V1 scan, rebuild its wrapper around a narrowed replacement
  * (stats-forwarding, like [[GraftScanStatsRule]]'s swap), and turn
  * optimized plan fragments / attributes back into the public
  * DataFrame API for the dim-side key evaluation. */
object GraftV1Wrap {

  /** The V1 scan inside a (possibly already stats-swapped) wrapper. */
  def inner(scan: org.apache.spark.sql.connector.read.Scan): Option[V1Scan] =
    scan match {
      case w: V1ScanWrapper => Some(w.v1Scan)
      case _ => None
    }

  /** Rebuild the wrapper around `newInner`, preserving the pushdown
    * bookkeeping and forwarding the replacement's statistics. */
  def rewrap(scan: org.apache.spark.sql.connector.read.Scan,
             newInner: V1Scan with SupportsReportStatistics)
      : Option[org.apache.spark.sql.connector.read.Scan] =
    scan match {
      case w: V1ScanWrapper =>
        Some(new StatsV1ScanWrapper(newInner, w.handledFilters,
          w.pushedDownOperators, newInner))
      case _ => None
    }

  /** An (analyzed/optimized) plan fragment as a DataFrame. */
  def ofRows(spark: SparkSession, plan: LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** A catalyst expression as a Column (attributes keep exprIds, so a
    * dim-side key attribute selects correctly on its own plan). */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** The error `Divide` raises on a zero divisor under ANSI. */
  def divideByZeroError(): ArithmeticException =
    org.apache.spark.sql.errors.QueryExecutionErrors.divideByZeroError(null)
}

/** Pre-CBO rule (runs AFTER Early Scan Push-Down built the wrapper,
  * BEFORE join planning reads stats): swap each stats-capable
  * V1-fallback scan's wrapper for [[StatsV1ScanWrapper]], making the
  * connector's post-pruning size estimate reach Catalyst's broadcast
  * decision. */
case class GraftScanStatsRule(spark: SparkSession)
    extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case r: DataSourceV2ScanRelation => r.scan match {
      case w: V1ScanWrapper if !w.isInstanceOf[SupportsReportStatistics] =>
        w.v1Scan match {
          case s: SupportsReportStatistics =>
            r.copy(scan = new StatsV1ScanWrapper(w.v1Scan, w.handledFilters,
              w.pushedDownOperators, s))
          case _ => r
        }
      case _ => r
    }
  }
}
