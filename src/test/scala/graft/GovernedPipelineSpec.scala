package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Bronze, Catalog, GovernedPipeline, PipelineRun, SnapshotTable}
import graft.sources.Tables
import graft.streaming.GovernedStream

/** Pipeline runs as governed catalog transactions: staged, gated,
  * atomically published, rollback-able together with their watermark. */
class GovernedPipelineSpec extends GraftSuite {

  private val DataTables = Seq("bronze", "silver", "ohlcv_1m", "ohlcv_1h",
    "daily_metrics", "price_latest")

  /** The events split at 70 % of arrivals: (earlier, later). */
  private def split(events: DataFrame): (DataFrame, DataFrame) = {
    val ing = expr("timestampadd(SECOND, cast(event_id % 600 as int), ts)")
    val n = events.count()
    val cut = events.select(ing.as("_ing")).orderBy("_ing")
      .limit((n * 7 / 10).toInt).agg(max("_ing")).head()
      .getAs[java.time.LocalDateTime](0)
    (events.filter(ing <= lit(cut)), events.filter(ing > lit(cut)))
  }

  test("governed incremental equals a plain full rebuild; gate and rollback govern everything") {
    val events = Tables.events(spark, sf)
    val outFull = Files.createTempDirectory("graft-gov-full").toString
    val cat = Files.createTempDirectory("graft-gov-cat").toString
    val (e1, e2) = split(events)

    PipelineRun.run(spark, sf, outFull)
    assert(GovernedPipeline.runFull(spark, sf, cat, eventsOverride = Some(e1)) === 0L)

    // validate-before-publish: a poisoned batch (inside the incremental
    // window) throws at the gate and publishes NOTHING — the catalog
    // still serves the bootstrap state
    val poisoned = e2.withColumn("event_type",
      when(col("event_id") % 7 === 0, lit(null).cast("string"))
        .otherwise(col("event_type")))
    val err = intercept[IllegalStateException] {
      GovernedPipeline.runIncremental(spark, cat, poisoned)
    }
    assert(err.getMessage.contains("nothing published"))
    assert(Catalog.latestCommit(cat) === 0L)

    assert(GovernedPipeline.runIncremental(spark, cat, e2) === 1L)

    def assertMatchesFullRebuild(): Unit = DataTables.foreach { t =>
      val a = spark.read.parquet(s"$outFull/$t")
      val b = Catalog.read(spark, cat, t)
      val cols = a.columns.sorted.toSeq
      assert(b.columns.sorted.toSeq === cols, s"$t columns")
      val av = a.select(cols.map(col): _*).orderBy(cols.map(col): _*)
        .collect().map(_.toSeq).toSeq
      val bv = b.select(cols.map(col): _*).orderBy(cols.map(col): _*)
        .collect().map(_.toSeq).toSeq
      assert(av === bv, s"$t must match the plain full rebuild")
    }
    assertMatchesFullRebuild()

    // batch-proportional staging: the incremental silver version
    // shares its untouched date partitions with the bootstrap version
    val sV0 = Catalog.tableVersions(cat, 0L)("silver")
    val sV1 = Catalog.tableVersions(cat, 1L)("silver")
    val sManifest = SnapshotTable.manifest(Catalog.tableRoot(cat, "silver"), sV1)
    assert(sManifest.values.toSet === Set(sV0, sV1),
      "incremental silver must inherit untouched partitions from the bootstrap")

    // governed rollback: data AND watermark rewind together
    val wm1 = Catalog.read(spark, cat, "watermark").head()
      .getAs[java.time.LocalDateTime](0)
    Catalog.rollback(cat, 0L)
    val wm0 = Catalog.read(spark, cat, "watermark").head()
      .getAs[java.time.LocalDateTime](0)
    assert(wm0.isBefore(wm1))
    assert(wm0 === Bronze.withRedeliveries(Bronze.ingest(e1))
      .agg(max("ingested_at")).head().getAs[java.time.LocalDateTime](0))

    // recovery after rollback: GC alone keeps the published commit 1
    // as a roll-forward target — discarding it is an explicit,
    // deliberate act; then GC the orphaned staged versions and re-run
    // the incremental — same converged state as before
    Catalog.expireCommits(cat, retainLast = 0, graceMs = 0L)
    assert(Catalog.commits(cat) === Seq(0L, 1L),
      "GC must keep the published roll-forward target")
    assert(Catalog.abandonRollForward(cat) === Seq(1L))
    Catalog.expireCommits(cat, retainLast = 0, graceMs = 0L)
    assert(Catalog.commits(cat) === Seq(0L))
    assert(GovernedPipeline.runIncremental(spark, cat, e2) === 1L)
    assertMatchesFullRebuild()
    assert(Catalog.read(spark, cat, "watermark").head()
      .getAs[java.time.LocalDateTime](0) === wm1)
  }

  test("an empty incremental batch publishes nothing, unless streamed bronze awaits a refresh") {
    val events = Tables.events(spark, sf)
    val cat = Files.createTempDirectory("graft-gov-empty").toString
    val (e1, e2) = split(events)
    assert(GovernedPipeline.runFull(spark, sf, cat, eventsOverride = Some(e1)) === 0L)
    assert(GovernedPipeline.runIncremental(spark, cat, events.limit(0)) === 0L)
    assert(Catalog.commits(cat) === Seq(0L))

    // a streamed micro-batch no refresh has processed yet: the empty run
    // still derives silver and the marts from it, bronze as streamed
    val c = GovernedStream.commitBatch(spark, cat, "src", 0L,
      Bronze.ingest(e2)).get
    val streamed = Catalog.tableVersions(cat, c)
    val derived = GovernedPipeline.runIncremental(spark, cat, events.limit(0))
    assert(derived === c + 1)
    val published = Catalog.tableVersions(cat, derived)
    assert(published("bronze") === streamed("bronze"))
    (DataTables.filterNot(_ == "bronze") :+ "watermark").foreach { t =>
      assert(published(t) !== streamed(t), s"$t must be derived")
    }
  }
}
