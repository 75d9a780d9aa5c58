package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Scan nodes of an executed query, looking through adaptive plans. */
object Plans {
  def scans(df: DataFrame): Seq[FileSourceScanExec] = {
    def walk(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(walk) ++ other.subqueries.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
  }

  /** (files, bytes, rows) the query's scans read. */
  def scanned(df: DataFrame): (Long, Long, Long) = {
    val ss = scans(df)
    def m(name: String) = ss.map(_.metrics.get(name).map(_.value).getOrElse(0L)).sum
    (m("numFiles"), m("filesSize"), m("numOutputRows"))
  }
}
