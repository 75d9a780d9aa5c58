package graft.operators

import java.time.LocalDateTime

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted, queryable pipeline-health time series — the stored
  * analog of the reference's Grafana `pipeline-health.json` dashboard
  * over Prometheus scrapes (`monitoring/grafana/provisioning/
  * dashboards/pipeline-health.json`, `monitoring/prometheus/
  * prometheus.yml`): rows/sec trend, per-stage latency, watermark
  * freshness.
  *
  * [[Metrics.collect]] produces one RUN's job metrics;
  * [[PipelineRun]]'s report produces one RUN's per-stage row counts
  * and timings. This component makes them a HISTORY: every run appends
  * its report under `<root>/_metrics/run_id=N/` (one tiny
  * driver-local write per run — partition-dir-per-run, so concurrent
  * runs never rewrite each other and Spark partition discovery serves
  * `run_id` as a column), and [[health]] is the dashboard query over
  * the accumulated table.
  *
  * The governed pipeline versions the same rows as a catalog table
  * (`pipeline_metrics`, appended atomically with the data commit), so
  * health history rolls back together with the data it describes.
  *
  * Scale: the history grows one row per stage per run — thousands of
  * rows per year; every query here is a single tiny shuffle.
  */
object MetricsHistory {

  val DirName = "_metrics"

  private def dir(root: String) = MetaIO.join(root, DirName)

  /** Run ids already recorded (directory listing — no data read). */
  def runIds(root: String): Seq[Long] = {
    MetaIO.listNames(dir(root))
      .filter(_.startsWith("run_id="))
      .map(_.stripPrefix("run_id=").toLong).sorted
  }

  /** Append one run's report (`stage`, `rows`, `seconds`, `attempts`,
    * …) to the history with the next run id; returns that id.
    * `errorifexists` on the run's own directory keeps two racing
    * appenders from silently merging into one run. */
  def append(spark: SparkSession, root: String, report: DataFrame,
             runKind: String,
             watermark: Option[LocalDateTime] = None): Long = {
    val id = runIds(root).lastOption.map(_ + 1L).getOrElse(0L)
    withRunColumns(report, runKind, watermark)
      .coalesce(1) // one row per stage — a single tiny file
      .write.mode("errorifexists")
      .parquet(MetaIO.join(dir(root), s"run_id=$id"))
    id
  }

  /** The run-stamp columns shared by the directory history and the
    * governed catalog table. */
  def withRunColumns(report: DataFrame, runKind: String,
                     watermark: Option[LocalDateTime]): DataFrame =
    report
      .withColumn("run_kind", lit(runKind))
      .withColumn("watermark",
        watermark.map(lit(_).cast("timestamp_ntz"))
          .getOrElse(lit(null).cast("timestamp_ntz")))
      .withColumn("recorded_at",
        current_timestamp().cast("timestamp_ntz"))

  /** The accumulated history (`run_id` from partition discovery,
    * normalized to long — discovery infers int — so the schema matches
    * the governed `pipeline_metrics` table). */
  def history(spark: SparkSession, root: String): DataFrame = {
    val raw = spark.read.option("basePath", dir(root).toString)
      .parquet(dir(root).toString)
    raw.withColumn("run_id", col("run_id").cast("long"))
  }

  /** The pipeline-health dashboard query: per-stage rollup of the
    * history — run counts, row totals and last-run rows (shape
    * regression signal), retry pressure, throughput, latency trend,
    * and watermark freshness. Deterministic columns first (row counts,
    * run counts, retries — oracle-checkable), wall-clock-derived ones
    * after. One tiny shuffle on the stage key: the run count is the
    * size of the stage's run-id set, not `countDistinct`, which plans
    * a second aggregation shuffle on (stage, run_id). Both skip nulls
    * and give a bigint. */
  def health(history: DataFrame): DataFrame =
    history
      .groupBy("stage")
      .agg(
        size(collect_set(col("run_id"))).cast("long").as("n_runs"),
        sum("rows").as("total_rows"),
        max_by(col("rows"), col("run_id")).as("last_rows"),
        sum(greatest(col("attempts") - 1, lit(0))).as("total_retries"),
        max("run_id").as("last_run_id"),
        max("watermark").as("last_watermark"),
        (sum("rows") / sum("seconds")).as("rows_per_sec"),
        avg("seconds").as("avg_seconds"),
        max_by(col("seconds"), col("run_id")).as("last_seconds"))
      .withColumn("rows_trend",
        when(col("n_runs") > 1,
          col("last_rows") / ((col("total_rows") - col("last_rows")) /
            (col("n_runs") - 1))))
      .orderBy("stage")

  /** Watermark freshness lag versus an explicit as-of instant (the
    * caller supplies "now" so the query itself stays deterministic):
    * one row, seconds since the newest processed arrival. */
  def freshness(history: DataFrame, asOf: LocalDateTime): DataFrame =
    history
      .agg(max("watermark").as("last_watermark"))
      .withColumn("_as_of", lit(asOf).cast("timestamp_ntz"))
      .select(col("last_watermark"),
        expr("timestampdiff(SECOND, last_watermark, _as_of)").as("lag_sec"))
}
