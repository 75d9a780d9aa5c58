package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{Catalog, GovernedPipeline, MetricsHistory,
  PipelineRun, Serving, SnapshotTable}
import graft.sources.Tables

/** Persisted pipeline-health time series: history accumulation across
  * runs, the health rollup, governed (catalog-versioned) history, and
  * the served SQL views. */
class MetricsHistorySpec extends GraftSuite {

  private def splitEvents() = {
    val events = Tables.events(spark, sf)
    val ing = expr("timestampadd(SECOND, cast(event_id % 600 as int), ts)")
    val n = events.count()
    val cut = events.select(ing.as("_ing")).orderBy("_ing")
      .limit((n * 7 / 10).toInt).agg(max("_ing")).head()
      .getAs[java.time.LocalDateTime](0)
    (events.filter(ing <= lit(cut)), events.filter(ing > lit(cut)))
  }

  test("pipeline runs accumulate a metrics history; health rolls it up") {
    val out = Files.createTempDirectory("graft-methist").toString
    val (e1, e2) = splitEvents()

    PipelineRun.run(spark, sf, out, eventsOverride = Some(e1))
    assert(MetricsHistory.runIds(out) === Seq(0L))
    PipelineRun.runIncremental(spark, out, e2)
    assert(MetricsHistory.runIds(out) === Seq(0L, 1L))

    val hist = MetricsHistory.history(spark, out)
    assert(hist.select("run_id").distinct().count() === 2)
    assert(hist.filter(col("run_kind") === "full").select("run_id")
      .distinct().collect().map(_.getLong(0)).toSeq === Seq(0L))
    // every stage reported in both runs; watermark advanced run 0 → 1
    val stages = hist.groupBy("stage").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    PipelineRun.Stages.foreach(s => assert(stages(s) === 2L, s))
    val wms = hist.select("run_id", "watermark").distinct().collect()
      .map(r => r.getLong(0) -> r.getAs[java.time.LocalDateTime](1)).toMap
    assert(wms(1L).isAfter(wms(0L)))

    // health: per-stage rollup with deterministic row accounting
    val health = MetricsHistory.health(hist).collect()
      .map(r => r.getAs[String]("stage") -> r).toMap
    val silver = health("silver")
    assert(silver.getAs[Long]("n_runs") === 2L)
    val full0 = hist.filter(col("run_id") === 0 && col("stage") === "silver")
      .head().getAs[Long]("rows")
    val incr1 = hist.filter(col("run_id") === 1 && col("stage") === "silver")
      .head().getAs[Long]("rows")
    assert(silver.getAs[Long]("total_rows") === full0 + incr1)
    assert(silver.getAs[Long]("last_rows") === incr1)
    assert(incr1 < full0, "incremental must write batch-sized, not table-sized")
    assert(silver.getAs[Long]("total_retries") === 0L)
    assert(silver.getAs[Double]("rows_per_sec") > 0.0)

    // freshness lag vs an explicit as-of
    val lag = MetricsHistory.freshness(hist, wms(1L).plusSeconds(60L)).head()
    assert(lag.getAs[Long]("lag_sec") === 60L)

    // served SQL view
    val view = Serving.registerPipelineHealth(spark, out, prefix = "t1_")
    assert(view === "t1_pipeline_health")
    val served = spark.sql(
      s"SELECT stage, n_runs, total_rows FROM $view WHERE stage = 'silver'")
      .head()
    assert(served.getAs[Long]("n_runs") === 2L &&
      served.getAs[Long]("total_rows") === full0 + incr1)
    Serving.unregister(spark, Seq(view))
  }

  test("governed history is a catalog table: atomic with data, rolled back with data") {
    val cat = Files.createTempDirectory("graft-methist-gov").toString
    val (e1, e2) = splitEvents()

    assert(GovernedPipeline.runFull(spark, sf, cat,
      eventsOverride = Some(e1)) === 0L)
    assert(GovernedPipeline.runIncremental(spark, cat, e2) === 1L)

    val hist = Catalog.read(spark, cat, "pipeline_metrics")
    assert(hist.select("run_id").distinct().count() === 2)
    // incremental run recorded its bronze stage too
    assert(hist.filter(col("run_id") === 1 && col("stage") === "bronze")
      .count() === 1)
    // staged rows are batch-proportional in the incremental run
    val sFull = hist.filter(col("run_id") === 0 && col("stage") === "silver")
      .head().getAs[Long]("rows")
    val sIncr = hist.filter(col("run_id") === 1 && col("stage") === "silver")
      .head().getAs[Long]("rows")
    assert(sIncr < sFull)
    // and exact: each stage's rows are the rows of the files its staged
    // version wrote (a table the run left alone wrote none) — no
    // sidecar or other bookkeeping writes mixed in
    Seq(0L, 1L).foreach { c =>
      val vs = Catalog.tableVersions(cat, c)
      val before =
        if (c == 0L) Map.empty[String, Long] else Catalog.tableVersions(cat, c - 1)
      val recorded = hist.filter(col("run_id") === c).select("stage", "rows")
        .collect().map(r => r.getString(0) -> r.getLong(1))
      assert(recorded.map(_._1).toSet === vs.keySet - "pipeline_metrics")
      recorded.foreach { case (t, n) =>
        val written =
          if (before.get(t).contains(vs(t))) 0L
          else SnapshotTable.fileStats(spark, Catalog.tableRoot(cat, t), vs(t))
            .map(_.agg(sum("__rows")).head().getLong(0)).getOrElse(0L)
        assert(n === written, s"run $c stage $t")
      }
    }

    // the health view pinned at the latest commit
    val view = Serving.registerCatalogHealth(spark, cat, prefix = "t2_")
    assert(spark.sql(s"SELECT n_runs FROM $view WHERE stage = 'silver'")
      .head().getAs[Long]("n_runs") === 2L)
    Serving.unregister(spark, Seq(view))

    // at the bootstrap commit the history has exactly one run — and a
    // rollback serves that state again (history rewinds with the data)
    val v0 = Serving.registerCatalogHealth(spark, cat, commit = 0L,
      prefix = "t2r_")
    assert(spark.sql(s"SELECT n_runs FROM $v0 WHERE stage = 'silver'")
      .head().getAs[Long]("n_runs") === 1L)
    Serving.unregister(spark, Seq(v0))
    Catalog.rollback(cat, 0L)
    assert(Catalog.read(spark, cat, "pipeline_metrics")
      .select("run_id").distinct().count() === 1)
  }
}
