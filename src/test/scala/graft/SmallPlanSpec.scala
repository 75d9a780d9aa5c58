package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, Repartition}
import org.apache.spark.sql.execution.CoalesceExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.functions._

import graft.MaintenanceJobCountSpec.jobsOf
import graft.operators.{Bronze, Catalog, GovernedPipeline, Metrics, SnapshotTable}
import graft.sources.Tables
import graft.streaming.GovernedStream

/** [[GraftSmallPlanRule]]: a plan whose inputs fit in one AQE-coalesced
  * partition runs in one task, with no exchange and no broadcast. The
  * lakehouse refresh over a streamed sf0.001 catalog runs pinned jobs,
  * every one of them labelled, with no observed-metric fallback, and
  * publishes the same tables as with the rule off; the gates keep local
  * frames, nondeterministic plans and large inputs as they were. */
class SmallPlanSpec extends GraftSuite {
  import SmallPlanSpec.NoGate

  private val Published = Seq("silver", "ohlcv_1m", "ohlcv_1h", "daily_metrics",
    "latest_trade", "price_latest", "quality_report", "watermark")

  /** One streamed catalog: bootstrapped by `runFull` on the first 80 %
    * of the sf0.001 arrivals, then two micro-batches of the rest through
    * `commitBatch` and one refresh; the second commit's and the
    * refresh's jobs, and the observed-metric fallbacks the refresh took. */
  private case class Run(cat: String, commitJobs: Seq[String],
                         refreshJobs: Seq[String], fallbacks: Long)

  private def stream(tag: String): Run = {
    val events = Tables.events(spark, sf)
    val ing = expr("timestampadd(SECOND, cast(event_id % 600 as int), ts)")
    val n = events.count()
    val cut = events.select(ing.as("_ing")).orderBy("_ing")
      .limit((n * 8 / 10).toInt).agg(max("_ing")).head()
      .getAs[java.time.LocalDateTime](0)
    val cat = Files.createTempDirectory(s"graft-smallplan-$tag").toString
    GovernedPipeline.runFull(spark, sf, cat,
      eventsOverride = Some(events.filter(ing <= lit(cut))))
    // the arrivals as local frames, as a streaming writer hands them over
    val rest = events.filter(ing > lit(cut)).orderBy("event_id").collect().toSeq
    def batch(rows: Seq[Row]): DataFrame =
      Bronze.ingest(spark.createDataFrame(rows.asJava, events.schema))
    val (b0, b1) = rest.splitAt(rest.size / 2)
    GovernedStream.commitBatch(spark, cat, "src", 0L, batch(b0))
    val (_, commitJobs) = jobsOf(spark)(
      GovernedStream.commitBatch(spark, cat, "src", 1L, batch(b1)))
    val f0 = Metrics.observedFallbacks.get
    val (_, refreshJobs) = jobsOf(spark)(GovernedPipeline.refreshFromBronze(spark, cat))
    Run(cat, commitJobs, refreshJobs, Metrics.observedFallbacks.get - f0)
  }

  private lazy val on = stream("on")
  private lazy val off = withConf(NoGate)(stream("off"))

  private def exchanges(df: DataFrame): Int =
    nodes(df.queryExecution.executedPlan).count {
      case _: ShuffleExchangeExec | _: BroadcastExchangeExec => true
      case _ => false
    }

  test("the refresh runs pinned jobs, each under a description") {
    val jobs = on.refreshJobs
    info(s"refresh: ${jobs.size} jobs: ${jobs.mkString("; ")}")
    info(s"rule off: ${off.refreshJobs.size} jobs")
    // measured: 17, against 50 with the rule off (as before the rule):
    // the quality report in one job, price_latest in four
    assert(jobs.size <= 17, s"refresh ran ${jobs.size} jobs: ${jobs.mkString("; ")}")
    assert(jobs.size < off.refreshJobs.size)
    val bare = jobs.filterNot(_.endsWith("]"))
    assert(bare.isEmpty, s"jobs without a description: ${bare.mkString("; ")}")
  }

  test("a steady-state commitBatch of a local frame runs pinned jobs") {
    assert(on.commitJobs.size <= 1, on.commitJobs.mkString("; "))
    assert(off.commitJobs.size === on.commitJobs.size)
  }

  test("the refresh takes no observed-metric fallback") {
    assert(on.fallbacks === 0L)
  }

  test("refreshed tables equal the refresh with the rule off") {
    Published.foreach { t =>
      val a = Catalog.read(spark, on.cat, t)
      val b = Catalog.read(spark, off.cat, t)
      val cols = a.columns.sorted.toSeq
      assert(b.columns.sorted.toSeq === cols, s"$t columns")
      def rows(df: DataFrame) = df.select(cols.map(col): _*)
        .orderBy(cols.map(col): _*).collect().map(_.toSeq).toSeq
      assert(rows(a) === rows(b), t)
    }
    def history(cat: String) = Catalog.read(spark, cat, "pipeline_metrics")
      .select("run_id", "stage", "rows", "attempts").orderBy("run_id", "stage")
      .collect().map(_.toSeq).toSeq
    assert(history(on.cat) === history(off.cat))
  }

  test("a small join and aggregation plan no exchange; the rule off plans them") {
    val dir = Files.createTempDirectory("graft-smallplan-join").toString
    import spark.implicits._
    (0 until 400).map(i => (i % 40, i)).toDF("k", "v").repartition(4)
      .write.parquet(s"$dir/f")
    (0 until 40).map(k => (k, s"d$k")).toDF("k", "d").repartition(3)
      .write.parquet(s"$dir/d")
    def q = spark.read.parquet(s"$dir/f").join(spark.read.parquet(s"$dir/d"), "k")
      .groupBy("d").agg(sum("v").as("s"), count(lit(1)).as("n"))
    val one = q
    val got = one.collect().toSeq.sortBy(_.getString(0))
    assert(exchanges(one) === 0)
    assert(nodes(one.queryExecution.executedPlan).exists(_.isInstanceOf[CoalesceExec]))
    val many = withConf(NoGate) {
      val df = q
      val rows = df.collect().toSeq.sortBy(_.getString(0))
      assert(exchanges(df) > 0)
      rows
    }
    assert(got === many && got.size === 40)
  }

  test("a plan of local relations is left alone and collects with no job") {
    import spark.implicits._
    val local = Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "s")
      .filter($"k" > 1).select($"s")
    val plan = local.queryExecution.optimizedPlan
    assert(GraftSmallPlanRule(plan) eq plan)
    val (rows, jobs) = jobsOf(spark)(local.collect())
    assert(rows.map(_.getString(0)).toSeq === Seq("b", "c"))
    assert(jobs.isEmpty, jobs.mkString("; "))
  }

  test("a nondeterministic plan keeps its partitioning and its answers") {
    def q = spark.range(0, 100, 1, 4)
      .select(col("id"), monotonically_increasing_id().as("mid"))
    val df = q
    assert(!df.queryExecution.optimizedPlan.exists(_.isInstanceOf[Repartition]))
    val got = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq.sorted
    val ranged = withConf(NoGate)(q.collect().map(r => r.getLong(0) -> r.getLong(1)))
    assert(got === ranged.toSeq.sorted)
    assert(got.map(_._2).max > 100L, "ids carry their partition index")
  }

  test("a sort whose leaves exceed the gate but whose input fits still sorts in one task") {
    val dir = Files.createTempDirectory("graft-smallplan-sort").toString
    spark.range(0, 2000, 1, 4)
      .select(col("id"), sha2(col("id").cast("string"), 256).as("pad"))
      .write.parquet(s"$dir/t")
    def q = spark.read.parquet(s"$dir/t").select("id").orderBy(desc("id"))
    val plan = q.queryExecution.optimizedPlan
    val leaf = plan.collectLeaves().map(_.stats.sizeInBytes).sum
    val input = plan.children.head.stats.sizeInBytes
    assert(input < leaf)
    // a gate between the sort's input estimate and its leaves' size
    withConf("spark.sql.adaptive.coalescePartitions.minPartitionSize" ->
        s"${(input + leaf) / 2}b") {
      val df = q
      val rows = df.collect().map(_.getLong(0)).toSeq
      assert(rows === (0L until 2000L).reverse)
      val ns = nodes(df.queryExecution.executedPlan)
      assert(!ns.exists(_.isInstanceOf[ShuffleExchangeExec]))
      assert(ns.count(_.isInstanceOf[CoalesceExec]) === 1)
      // the coalesce sits under the sort, not over the leaves
      val reps = df.queryExecution.optimizedPlan.collect { case r: Repartition => r }
      assert(reps.size === 1 && !reps.head.child.isInstanceOf[LeafNode])
    }
  }

  test("a small partitioned write whose rows interleave partition values writes in one task") {
    val dir = Files.createTempDirectory("graft-smallplan-partitioned").toString
    // p alternates 0, 1, 0, 1: one task must sort by p before writing,
    // or it reopens p=0's file after p=1's
    def frame = spark.range(100, 104)
      .select((col("id") % 2).cast("string").as("p"), col("id").as("x"))
    def rows(df: DataFrame) =
      df.select("p", "x").orderBy("x").collect().map(r => (r.get(0).toString, r.getLong(1))).toSeq
    val expected = Seq(("0", 100L), ("1", 101L), ("0", 102L), ("1", 103L))

    val (_, written) = Metrics.collectJobs(spark, "partitioned_write")(
      frame.write.partitionBy("p").parquet(s"$dir/plain"))
    assert(written.map(_.numTasks) === Seq(1))
    assert(rows(spark.read.parquet(s"$dir/plain")) === expected)

    val (v, appended) = Metrics.collectJobs(spark, "partitioned_append")(
      SnapshotTable.commitAppend(frame, s"$dir/t", "p"))
    assert(appended.nonEmpty && appended.forall(_.numTasks == 1),
      appended.map(_.numTasks).mkString(", "))
    assert(rows(SnapshotTable.read(spark, s"$dir/t", v)) === expected)
  }
}

object SmallPlanSpec {

  /** A one-byte partition size: no plan fits, so the rule rewrites
    * nothing. */
  val NoGate = "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1b"
}
