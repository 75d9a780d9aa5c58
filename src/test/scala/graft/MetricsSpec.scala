package graft

import org.apache.spark.sql.functions._

import graft.operators.Metrics

/** Scheduler-bus metrics collection (the observability analog). */
class MetricsSpec extends GraftSuite {
  import spark.implicits._

  test("collect captures job counts, records, and shuffle volume") {
    val (result, metrics) = Metrics.collect(spark, "ohlcv_smoke") {
      val df = graft.sources.Tables.events(spark, sf)
        .groupBy("event_type").agg(count(lit(1)).as("n"))
      df.collect().length
    }
    assert(result > 0)
    val rows = metrics.collect()
    assert(rows.nonEmpty)
    // every row is labelled and aggregates at least one task
    assert(rows.forall(_.getAs[String]("label") == "ohlcv_smoke"))
    assert(rows.map(_.getAs[Int]("numTasks")).sum > 0)
    // the scan read records; the groupBy shuffled bytes
    assert(rows.map(_.getAs[Long]("inputRecords")).sum > 0)
    assert(rows.map(_.getAs[Long]("shuffleWriteBytes")).sum > 0)
    assert(rows.forall(_.getAs[Long]("durationMs") >= 0))
  }

  test("collection is scoped: jobs outside the block are not captured") {
    val (_, m1) = Metrics.collect(spark, "scoped") {
      Seq(1, 2, 3).toDF("x").agg(sum("x")).collect()
    }
    val n1 = m1.count()
    // a job AFTER the block must not land in the already-built frame
    Seq(4, 5).toDF("x").agg(sum("x")).collect()
    assert(m1.count() === n1)
  }

  test("listener-bus drain resolves on this Spark build: no sleep fallback") {
    Metrics.collectJobs(spark, "drain") {
      Seq(1, 2, 3).toDF("x").agg(sum("x")).collect()
    }
    Metrics.drainBus(spark)
    // every drain in this JVM so far (this suite's and any earlier
    // suite's) reached waitUntilEmpty
    assert(Metrics.drainFallbacks.get === 0L)
  }
}
