package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, one session). */
object SparkTestBase {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // micros (not deprecated INT96) so commit-time footer lifting
    // covers timestamp stats columns without a fallback scan
    .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-wh").toString)
    .config("spark.ui.enabled", "false")
    .appName("graft-tests")
    .getOrCreate()

  val Sf = "/root/testdata/sf0.001"
}

abstract class GraftSuite extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkTestBase.spark
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  def sf: String = SparkTestBase.Sf

  /** Every physical node of `p`, through adaptive stages and caches. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case m: InMemoryTableScanExec => m +: nodes(m.relation.cachedPlan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** `body` with the session confs `kv` set, each restored after. */
  def withConf[A](kv: (String, String)*)(body: => A): A = {
    val saved = kv.map { case (key, _) => key -> spark.conf.getOption(key) }
    kv.foreach { case (key, value) => spark.conf.set(key, value) }
    try body
    finally saved.foreach {
      case (key, Some(value)) => spark.conf.set(key, value)
      case (key, None) => spark.conf.unset(key)
    }
  }

  /** A fresh catalog whose table `t` (partition spec `spec`) holds
    * each of `batches` as one append commit — a streamed bronze's
    * fragmented layout, before compaction. Returns the catalog root. */
  def governedAppends(spec: String, batches: Seq[DataFrame]): String = {
    import graft.operators.{Catalog, SnapshotTable}
    val cat = java.nio.file.Files.createTempDirectory("graft-gov-appends").toString
    batches.foreach { b =>
      Catalog.publishTable(cat, "t")(SnapshotTable.stageAppend(b,
        Catalog.tableRoot(cat, "t"), spec, _))
    }
    cat
  }

  /** The manifest entry count of each partition of governed table `t`
    * at the catalog's current commit. */
  def governedEntries(cat: String): Map[String, Int] = {
    import graft.operators.{Catalog, SnapshotTable}
    SnapshotTable.manifestEntries(Catalog.tableRoot(cat, "t"),
      Catalog.tableVersions(cat)("t")).groupBy(_._1).view
      .mapValues(_.size).toMap
  }

  /** Sidecar-swap tmp dirs (`.stats.new-*`, `.blooms.new-*`,
    * `.ndv.new-*`) left under any `v=N` of `root` — a finished
    * backfill leaves none. */
  def sidecarTmpLeft(root: String): Seq[String] = {
    import graft.operators.MetaIO
    MetaIO.list(root).filter(p => MetaIO.name(p).startsWith("v="))
      .flatMap(MetaIO.list)
      .filter(p => MetaIO.name(p).matches("\\.(stats|blooms|ndv)\\.new-.*"))
  }
}
