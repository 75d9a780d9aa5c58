package graft

import java.nio.file.Files
import java.time.LocalDateTime

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Repartition
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{CoalesceExec, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.MaintenanceJobCountSpec.jobsOf
import graft.operators.{GovernedPipeline, Serving}

/** [[GraftSmallPlanRule]]'s sort case: a global sort whose input fits
  * in one AQE-coalesced partition runs as one task and one job, with no
  * range exchange. The dashboard query shapes over a governed catalog's
  * serving views run pinned jobs; the sorts the rule must leave alone
  * keep their plans; and sorted answers equal the range-partitioned
  * plan's. */
class SmallSortSpec extends GraftSuite {
  import spark.implicits._

  /** A governed catalog bootstrapped on sf0.001, served as `ss_` views. */
  private lazy val served: Unit = {
    val cat = Files.createTempDirectory("graft-smallsort").toString
    GovernedPipeline.runFull(spark, sf, cat)
    Serving.registerCatalog(spark, cat, prefix = "ss_")
    Serving.registerCatalogHealth(spark, cat, prefix = "ss_")
    ()
  }

  private val NoGate = "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1b"

  private def rangeExchanges(df: DataFrame): Int =
    nodes(df.queryExecution.executedPlan).count {
      case e: ShuffleExchangeExec => e.outputPartitioning.isInstanceOf[RangePartitioning]
      case _ => false
    }

  private def coalesced(df: DataFrame): Boolean =
    nodes(df.queryExecution.executedPlan).exists(_.isInstanceOf[CoalesceExec])

  private def ts(t: LocalDateTime) = s"TIMESTAMP_NTZ '${t.toString.replace('T', ' ')}'"

  /** The dashboard query of each kind, as the serving benchmark sends it. */
  private def dashboard: Seq[(String, String)] = {
    served
    val r = spark.table("ss_ohlcv_1m").orderBy("window_start").head()
    val p = r.getAs[String]("product_id")
    val from = r.getAs[LocalDateTime]("window_start")
    val day = from.toLocalDate
    Seq(
      "latest" -> s"SELECT * FROM ss_price_latest WHERE product_id = '$p'",
      "candles_1m" -> (s"SELECT * FROM ss_ohlcv_1m WHERE product_id = '$p' " +
        s"AND _partition_date = DATE '$day' AND window_start >= ${ts(from)} " +
        s"AND window_start < ${ts(from.plusHours(1))} ORDER BY window_start"),
      "candles_1h" -> (s"SELECT * FROM ss_ohlcv_1h WHERE product_id = '$p' " +
        s"AND _partition_date >= DATE '$day' AND window_start >= ${ts(from)} " +
        "ORDER BY window_start"),
      "daily" -> (s"SELECT * FROM ss_daily_metrics WHERE product_id = '$p' " +
        s"AND date >= DATE '$day' AND date < DATE '${day.plusMonths(1)}' ORDER BY date"),
      "health" -> "SELECT * FROM ss_pipeline_health ORDER BY stage")
  }

  test("dashboard reads run pinned jobs; a small sort plans no range exchange") {
    val pinned = Map("latest" -> 1, "candles_1m" -> 1, "candles_1h" -> 1,
      "daily" -> 1, "health" -> 1)
    dashboard.foreach { case (kind, q) =>
      val df = spark.sql(q)
      val (rows, jobs) = jobsOf(spark)(df.collect())
      assert(rows.nonEmpty, kind)
      assert(jobs.size <= pinned(kind),
        s"$kind ran ${jobs.size} jobs, pinned at ${pinned(kind)}: ${jobs.mkString("; ")}")
      assert(rangeExchanges(df) === 0, kind)
      if (kind != "latest") assert(coalesced(df), kind)
    }
  }

  test("an input above the one-partition size keeps the range exchange") {
    val (_, q) = dashboard.find(_._1 == "candles_1h").get
    withConf(NoGate) {
      val df = spark.sql(q)
      val (_, jobs) = jobsOf(spark)(df.collect())
      assert(rangeExchanges(df) === 1 && !coalesced(df))
      assert(jobs.size > 1)
    }
  }

  test("AQE off leaves the plan unchanged") {
    val (_, q) = dashboard.find(_._1 == "daily").get
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val df = spark.sql(q)
      val plan = df.queryExecution.optimizedPlan
      assert(GraftSmallPlanRule(plan) eq plan)
      assert(!plan.exists(_.isInstanceOf[Repartition]))
      df.collect()
      assert(rangeExchanges(df) === 1 && !coalesced(df))
    }
  }

  test("ORDER BY … LIMIT stays TakeOrderedAndProject") {
    served
    val df = spark.sql("SELECT * FROM ss_ohlcv_1m ORDER BY window_start DESC LIMIT 5")
    val plan = df.queryExecution.optimizedPlan
    assert(GraftSmallPlanRule(plan) eq plan)
    assert(df.collect().length === 5)
    val ns = nodes(df.queryExecution.executedPlan)
    assert(ns.exists(_.isInstanceOf[TakeOrderedAndProjectExec]))
    assert(!ns.exists(_.isInstanceOf[CoalesceExec]))
  }

  test("a complete-mode sorted streaming aggregation still runs") {
    val dir = Files.createTempDirectory("graft-smallsort-stream").toString
    Seq(("a", 1L), ("b", 5L), ("a", 2L), ("c", 4L)).toDF("k", "n")
      .repartition(2).write.parquet(s"$dir/src")
    val totals = spark.readStream.schema(spark.read.parquet(s"$dir/src").schema)
      .parquet(s"$dir/src")
      .groupBy("k").agg(sum("n").as("total"))
      .orderBy(desc("total"))
    val q = totals.writeStream.format("memory").queryName("ss_stream_totals")
      .outputMode("complete")
      .option("checkpointLocation", s"$dir/cp")
      .trigger(Trigger.AvailableNow())
      .start()
    try q.awaitTermination()
    finally q.stop()
    // a micro-batch runs with AQE off; under this session's AQE the
    // batch plan's small file relation would pass the size gate, so the
    // streaming gate alone keeps the rule off it
    val batch = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution
      .optimizedPlan
    assert(batch.isStreaming && !batch.exists(_.isInstanceOf[Repartition]))
    assert(GraftSmallPlanRule(batch) eq batch)
    assert(spark.table("ss_stream_totals").as[(String, Long)].collect().toSeq ===
      Seq(("b", 5L), ("c", 4L), ("a", 3L)))
  }

  test("sorted answers equal the range-partitioned plan's") {
    val dir = Files.createTempDirectory("graft-smallsort-nulls").toString
    (0 until 40).map(i => (if (i % 7 == 0) None else Some(i % 5), s"s$i", i))
      .toDF("k", "s", "i").repartition(4).write.parquet(s"$dir/t")
    spark.read.parquet(s"$dir/t").createOrReplaceTempView("ss_nulls")
    Seq("k DESC, s", "k NULLS FIRST, s", "k NULLS LAST, s DESC",
        "k DESC NULLS FIRST, i", "k DESC NULLS LAST, i DESC").foreach { order =>
      val q = s"SELECT * FROM ss_nulls ORDER BY $order"
      val one = spark.sql(q)
      val got = one.collect().toSeq
      assert(rangeExchanges(one) === 0 && coalesced(one), order)
      val ranged = withConf(NoGate) {
        val df = spark.sql(q)
        val rows = df.collect().toSeq
        assert(rangeExchanges(df) === 1, order)
        rows
      }
      assert(got === ranged, order)
    }
  }
}
