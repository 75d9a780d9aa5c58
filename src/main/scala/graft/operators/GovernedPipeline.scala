package graft.operators

import java.time.LocalDateTime

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** The pipeline run as ONE governed catalog transaction — the full
  * composition of the lakehouse pieces: [[PipelineRun]]'s stage logic,
  * [[SnapshotTable]] partition-delta staging, and [[Catalog]] atomic
  * multi-table publication.
  *
  * Operationally this is what the reference's Airflow + Nessie + dbt
  * stack promises and the plain [[PipelineRun.runIncremental]] cannot
  * give on bare directories:
  *
  *  - **Validate-before-publish.** Every table (bronze, silver, marts,
  *    quality report, watermark) is STAGED as an unpublished snapshot
  *    version; the quality gate runs over the staged state and a red
  *    check aborts with NOTHING published — readers never see a bad
  *    batch, and the red report is still on disk (staged) for
  *    debugging. The plain runner has already overwritten partitions
  *    by the time its gate fires.
  *  - **Atomic cross-table publication.** One catalog commit moves
  *    bronze + silver + every mart + the watermark together; a reader
  *    can never observe silver ahead of its marts.
  *  - **Batch-proportional cost.** Data tables stage partition DELTAS:
  *    only the touched date partitions are written, everything else is
  *    inherited by manifest reference.
  *  - **Governed recovery.** The incremental watermark lives in a
  *    catalog TABLE, so `Catalog.rollback` rewinds data AND watermark
  *    together — the next incremental run automatically re-processes
  *    from the rolled-back point. Crash leftovers are unpublished
  *    staged versions, GC'd by [[Catalog.expireCommits]].
  *
  * Tables: `bronze` (by `_ingestion_date`), `silver` (by
  * `_trade_date`), `ohlcv_1m`/`ohlcv_1h` (by `_partition_date`),
  * `daily_metrics` (by `date`), plus tiny full-snapshot tables
  * `latest_trade`, `price_latest`, `quality_report`, `watermark`,
  * and the append-only `pipeline_metrics` health history (by
  * `run_id` — see [[MetricsHistory]]; versioned with the data, so a
  * rollback rewinds the history it describes).
  */
object GovernedPipeline {

  /** Quality gate over a STAGED report: abort before anything is
    * published. Warn-severity checks report without aborting, as in
    * [[PipelineRun]]. */
  private def gate(quality: DataFrame, where: String): Unit = {
    val red = Metrics.described(quality.sparkSession, "quality gate")(
      quality.filter(col("violations") > 0)
        .select("table_name", "check_name").collect())
      .map(r => (r.getString(0), r.getString(1)))
      .filterNot(DataQuality.warnChecks)
    if (red.nonEmpty)
      throw new IllegalStateException(
        s"quality gate failed: ${red.map(_._2).mkString(", ")} — nothing " +
          s"published; staged red report at $where")
  }

  private def wmDf(spark: SparkSession, wm: LocalDateTime): DataFrame =
    spark.range(1).select(lit(wm).as("watermark"))

  /** Per-stage recorder for the governed modes — the same
    * rows-from-the-write-job discipline as [[PipelineRun]]'s Runner
    * (scheduler-bus output metrics, never a re-scan), feeding the
    * `pipeline_metrics` catalog table. */
  private final class Recorder(spark: SparkSession, retries: Int,
                               backoffMs: Long) {
    private val rows = Seq.newBuilder[(String, Long, Double, Int)]

    def timed(name: String)(body: => Long): Long = {
      val t0 = System.nanoTime()
      var attempts = 0
      var staged = 0L
      val v = Retry.withRetries(retries, backoffMs, s"stage $name") {
        attempts += 1
        // metrics scoped per attempt AND per label (job-description
        // filter): a failed partial stage's records never pollute the
        // successful attempt's count, and the UI shows the stage name
        val (res, jobs) = Metrics.collectJobsLabelled(spark, name)(body)
        staged = jobs.map(_.outputRecords).sum
        res
      }
      rows += ((name, staged, (System.nanoTime() - t0) / 1e9, attempts))
      v
    }

    def reportDF: DataFrame = {
      import spark.implicits._
      rows.result().toDF("stage", "rows", "seconds", "attempts")
    }
  }

  /** Stage this run's report as the next append of the
    * `pipeline_metrics` catalog table (versioned WITH the data — a
    * rollback rewinds the health history it describes). Returns the
    * staged version for the commit map. */
  private def stageMetrics(spark: SparkSession, catalogRoot: String,
                           prev: Map[String, Long], rec: Recorder,
                           runKind: String, wm: LocalDateTime): Long = {
    val tr = Catalog.tableRoot(catalogRoot, "pipeline_metrics")
    val mPrev = prev.getOrElse("pipeline_metrics", -1L)
    // the table is partitioned BY run_id, so the next id is a manifest
    // metadata read (partition dir names), not a Spark aggregate job
    val runId =
      if (mPrev < 0L) 0L
      else SnapshotTable.manifestEntries(tr, mPrev)
        .map(_._1.stripPrefix("run_id=").toLong).max + 1L
    val report = MetricsHistory
      .withRunColumns(rec.reportDF, runKind, Option(wm))
      .withColumn("run_id", lit(runId))
      .coalesce(1)
    Metrics.described(spark, "pipeline_metrics")(
      SnapshotTable.stageAppend(report, tr, "run_id", mPrev))
  }

  private def requireBootstrapped(catalogRoot: String, base: Long): Unit =
    require(base >= 0, s"no published catalog commit at $catalogRoot — " +
      "bootstrap with GovernedPipeline.runFull first")

  /** Bootstrap: full rebuild of every table, staged, gated, then
    * published as catalog commit 0 (or the next commit on re-run).
    * Returns the commit id. */
  def runFull(spark: SparkSession, sfDir: String, catalogRoot: String,
              failOnViolations: Boolean = true,
              eventsOverride: Option[DataFrame] = None,
              retries: Int = 2, retryBackoffMs: Long = 1000L): Long = {
    val events = eventsOverride.getOrElse(Tables.events(spark, sfDir))
    Catalog.publish(catalogRoot) { (_, prev) =>
      def tr(t: String) = Catalog.tableRoot(catalogRoot, t)
      // transient write failures re-stage (Airflow default_args retries);
      // each attempt claims a fresh version dir, so retries never clobber
      // a partial write — abandoned claims are expireCommits/sweep fodder.
      // One recorder per staging: a re-staged attempt records only its own.
      val rec = new Recorder(spark, retries, retryBackoffMs)
      def delta(t: String, df: DataFrame, pcol: String): Long =
        rec.timed(t)(
          SnapshotTable.stageDelta(df, tr(t), pcol, prev.getOrElse(t, -1L)))
      def full(t: String, df: DataFrame): Long =
        rec.timed(t)(
          SnapshotTable.stageVersion(df, tr(t), prev.getOrElse(t, -1L)))

      val vB = delta("bronze",
        Bronze.withRedeliveries(Bronze.ingest(events)), "_ingestion_date")
      val bronze = SnapshotTable.read(spark, tr("bronze"), vB)
      val vS = delta("silver", BronzeToSilver.transform(bronze), "_trade_date")
      val silver = SnapshotTable.read(spark, tr("silver"), vS)
      val stg = Staging.stgTrades(silver)
      val vM1 = delta("ohlcv_1m",
        Ohlcv.ohlcv1m(stg).repartition(col("_partition_date")), "_partition_date")
      val m1 = SnapshotTable.read(spark, tr("ohlcv_1m"), vM1)
      val vH1 = delta("ohlcv_1h",
        Ohlcv.ohlcv1h(m1).repartition(col("_partition_date")), "_partition_date")
      val h1 = SnapshotTable.read(spark, tr("ohlcv_1h"), vH1)
      val vDM = delta("daily_metrics",
        DailyMetrics.daily(h1).repartition(col("date")), "date")
      val dm = SnapshotTable.read(spark, tr("daily_metrics"), vDM)

      val vLT = full("latest_trade", PriceLatest.latestTradeOf(stg))
      val lt = SnapshotTable.read(spark, tr("latest_trade"), vLT)
      val vPL = full("price_latest", PriceLatest.serve(lt, m1, h1, dm))
      val pl = SnapshotTable.read(spark, tr("price_latest"), vPL)
      val vQ = full("quality_report",
        DataQuality.fullReport(bronze, silver, m1, h1, dm, pl))
      val quality = SnapshotTable.read(spark, tr("quality_report"), vQ)
      if (failOnViolations) gate(quality, s"${tr("quality_report")}/v=$vQ")

      val wm = Metrics.described(spark, "new watermark")(
        bronze.agg(max("ingested_at")).head().getAs[LocalDateTime](0))
      val vW = full("watermark", wmDf(spark, wm))
      val vMet = stageMetrics(spark, catalogRoot, prev, rec, "full", wm)
      Some(Catalog.Staged(Map(
        "bronze" -> vB, "silver" -> vS, "ohlcv_1m" -> vM1, "ohlcv_1h" -> vH1,
        "daily_metrics" -> vDM, "latest_trade" -> vLT, "price_latest" -> vPL,
        "quality_report" -> vQ, "watermark" -> vW,
        "pipeline_metrics" -> vMet)))
    }.merge
  }

  /** The scheduled incremental mode, governed: process only the new
    * batch (watermark − lookback window), stage partition deltas for
    * the touched dates in every data table, gate on the staged state,
    * and publish all tables + the advanced watermark as ONE catalog
    * commit. Returns the commit id. */
  def runIncremental(spark: SparkSession, catalogRoot: String,
                     newEvents: DataFrame, lookbackHours: Int = 2,
                     failOnViolations: Boolean = true,
                     retries: Int = 2, retryBackoffMs: Long = 1000L): Long = {
    // bronze: copy-on-write append — touched ingestion-date partitions
    // are rewritten as old ∪ batch, the rest inherited by reference
    val batch = Bronze.withRedeliveries(Bronze.ingest(newEvents)).persist()
    try Catalog.publish(catalogRoot) { (base, prev) =>
      requireBootstrapped(catalogRoot, base)
      val rec = new Recorder(spark, retries, retryBackoffMs)
      val touchedIngest = batch.select("_ingestion_date").distinct()
        .collect().map(_.getDate(0)).toSeq
      val vB =
        if (touchedIngest.isEmpty) prev("bronze")
        else rec.timed("bronze")(SnapshotTable.stageDelta(
          Catalog.read(spark, catalogRoot, "bronze", base)
            .filter(col("_ingestion_date")
              .isin(touchedIngest.map(lit(_)): _*)).unionByName(batch),
          Catalog.tableRoot(catalogRoot, "bronze"), "_ingestion_date",
          prev("bronze")))
      derive(spark, catalogRoot, base, prev, vB, lookbackHours,
        failOnViolations, rec)
    }.merge
    finally batch.unpersist()
  }

  /** The scheduled refresh over STREAMED bronze — the deployment loop
    * the reference runs ([[graft.streaming.GovernedStream]] lands
    * micro-batches in the catalog's bronze continuously; this is the
    * 30-minute `bronze_to_silver` DAG over it): derive silver + marts
    * from the rows the published bronze gained since the stored
    * watermark (− lookback), stage partition deltas, gate, publish
    * atomically. Bronze itself is untouched. Returns the new commit,
    * or the current one when bronze holds nothing new. */
  def refreshFromBronze(spark: SparkSession, catalogRoot: String,
                        lookbackHours: Int = 2,
                        failOnViolations: Boolean = true,
                        retries: Int = 2, retryBackoffMs: Long = 1000L): Long =
    Catalog.publish(catalogRoot) { (base, prev) =>
      requireBootstrapped(catalogRoot, base)
      derive(spark, catalogRoot, base, prev, prev("bronze"), lookbackHours,
        failOnViolations, new Recorder(spark, retries, retryBackoffMs))
    }.merge

  /** Shared derivation half of the incremental modes: from a (possibly
    * just-staged) bronze version, rebuild the watermark-window slice of
    * every downstream table, gate, and stage one catalog commit (None:
    * nothing to publish). */
  private def derive(spark: SparkSession, catalogRoot: String, base: Long,
                     prev: Map[String, Long], vB: Long, lookbackHours: Int,
                     failOnViolations: Boolean,
                     rec: Recorder): Option[Catalog.Staged] = {
    def tr(t: String) = Catalog.tableRoot(catalogRoot, t)
    def delta(t: String, df: DataFrame, pcol: String): Long =
      rec.timed(t)(
        SnapshotTable.stageDelta(df, tr(t), pcol, prev(t)))
    def full(t: String, df: DataFrame): Long =
      rec.timed(t)(
        SnapshotTable.stageVersion(df, tr(t), prev(t)))
    def readAt(t: String): DataFrame =
      Catalog.read(spark, catalogRoot, t, base)

    val prevWm = Metrics.described(spark, "watermark read")(
      readAt("watermark").head().getAs[LocalDateTime](0))
    val cutoff = prevWm.minusHours(lookbackHours.toLong)
    val bronzeAll = SnapshotTable.read(spark, tr("bronze"), vB)

    // the incremental window, partition-pruned off the staged bronze
    val bronzeWindow = bronzeAll.filter(
      col("_ingestion_date") >= lit(java.sql.Date.valueOf(cutoff.toLocalDate))
        && col("ingested_at") > lit(cutoff))
    val newWmRow = Metrics.described(spark, "new watermark")(
      bronzeWindow.agg(max("ingested_at")).head().getAs[LocalDateTime](0))
    val batchSilver = BronzeToSilver.transform(bronzeWindow).persist()
    try {
      // a watermark that did not advance means bronze holds nothing new —
      // the lookback tail alone is all-reprocessed rows, not a batch
      val affectedDates =
        if (newWmRow == null || !newWmRow.isAfter(prevWm)) Seq.empty
        else Metrics.described(spark, "touched dates")(
          batchSilver.select("_trade_date").distinct().collect())
          .map(_.getDate(0)).sortBy(_.toString).toSeq

      // nothing new to merge: publish just the bronze change, if any
      if (affectedDates.isEmpty)
        return Option.when(vB != prev("bronze"))(
          Catalog.Staged(Map("bronze" -> vB)))
      val dateLits = affectedDates.map(lit(_))

      // silver: keep-earliest merge of the touched slice — reading the
      // OLD version and staging a NEW one, so no self-overwrite barrier
      // is needed (copy-on-write gives it structurally)
      val vS = delta("silver", MergeUpsert.mergeKeepFirst(
        readAt("silver").filter(col("_trade_date").isin(dateLits: _*)),
        batchSilver.select(readAt("silver").columns.map(col(_)).toSeq: _*),
        "trade_id", Seq(col("ingested_at"))), "_trade_date")
      val silverSlice = SnapshotTable.read(spark, tr("silver"), vS)
        .filter(col("_trade_date").isin(dateLits: _*))
      val stgSlice = Staging.stgTrades(silverSlice)

      val vM1 = delta("ohlcv_1m", Ohlcv.ohlcv1m(stgSlice)
        .repartition(col("_partition_date")), "_partition_date")
      val m1Slice = SnapshotTable.read(spark, tr("ohlcv_1m"), vM1)
        .filter(col("_partition_date").isin(dateLits: _*))
      val vH1 = delta("ohlcv_1h", Ohlcv.ohlcv1h(m1Slice)
        .repartition(col("_partition_date")), "_partition_date")
      val h1Slice = SnapshotTable.read(spark, tr("ohlcv_1h"), vH1)
        .filter(col("_partition_date").isin(dateLits: _*))
      val vDM = delta("daily_metrics", DailyMetrics.daily(h1Slice)
        .repartition(col("date")), "date")
      val dmSlice = SnapshotTable.read(spark, tr("daily_metrics"), vDM)
        .filter(col("date").isin(dateLits: _*))

      // serving state + table from horizon-pruned staged slices; the
      // serve horizon's as-of scalar rides the staging write's job as an
      // observed metric instead of a separate aggregate job
      val asOfObs = new org.apache.spark.sql.Observation()
      val vLT = full("latest_trade", MergeUpsert.mergeKeepFirst(
        readAt("latest_trade"),
        PriceLatest.latestTradeOf(Staging.stgTrades(batchSilver)),
        "product_id", Seq(col("updated_at").desc, col("trade_id").desc))
        .observe(asOfObs, max(col("updated_at")).as("as_of")))
      val lt = SnapshotTable.read(spark, tr("latest_trade"), vLT)
      val asOf = Metrics.observedOr[LocalDateTime](spark, asOfObs, "as_of")(
        lt.agg(max("updated_at")).head().getAs[LocalDateTime](0))
      val horizonLb = lit(java.sql.Date.valueOf(asOf.toLocalDate.minusDays(1)))
      val vPL = full("price_latest", PriceLatest.serve(lt,
        SnapshotTable.read(spark, tr("ohlcv_1m"), vM1)
          .filter(col("_partition_date") >= horizonLb),
        SnapshotTable.read(spark, tr("ohlcv_1h"), vH1)
          .filter(col("_partition_date") >= horizonLb),
        SnapshotTable.read(spark, tr("daily_metrics"), vDM)
          .filter(col("date") >= horizonLb)))
      val pl = SnapshotTable.read(spark, tr("price_latest"), vPL)

      // quality over THIS run's slices, gated BEFORE publication
      val vQ = full("quality_report", DataQuality.fullReport(
        bronzeWindow, silverSlice, m1Slice, h1Slice, dmSlice, pl))
      val quality = SnapshotTable.read(spark, tr("quality_report"), vQ)
      if (failOnViolations) gate(quality, s"${tr("quality_report")}/v=$vQ")

      val vW = full("watermark", wmDf(spark, newWmRow))
      val vMet = stageMetrics(spark, catalogRoot, prev, rec, "incremental",
        newWmRow)
      Some(Catalog.Staged(Map(
        "bronze" -> vB, "silver" -> vS, "ohlcv_1m" -> vM1, "ohlcv_1h" -> vH1,
        "daily_metrics" -> vDM, "latest_trade" -> vLT, "price_latest" -> vPL,
        "quality_report" -> vQ, "watermark" -> vW,
        "pipeline_metrics" -> vMet)))
    } finally batchSilver.unpersist()
  }
}
