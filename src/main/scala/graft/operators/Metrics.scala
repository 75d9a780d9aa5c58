package graft.operators

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-job execution metrics — the observability analog.
  *
  * The reference ships a Prometheus + Grafana stack scraping per-job
  * row counts, durations, and lag (`monitoring/prometheus/
  * prometheus.yml`, Grafana provisioning). A Spark-native engine gets
  * the same signal from the scheduler bus: this collector subscribes a
  * `SparkListener` for the duration of a labelled block and aggregates
  * task metrics per job — records/bytes read and written, shuffle
  * read/write bytes, spill, task count, wall duration. The result is a
  * DataFrame, so the "metrics endpoint" is just another table: write
  * it wherever the deployment scrapes (a parquet dir, a JDBC sink, a
  * push gateway exporter reading the table).
  *
  * Scale: listener callbacks are driver-side constant work per
  * stage/job (aggregated counters, never per-row), the same mechanism
  * SparkUI itself uses — zero overhead on the executor hot path.
  */
object Metrics {

  /** One finished job's aggregated metrics. */
  case class JobMetrics(label: String, jobId: Int, durationMs: Long,
                        numStages: Int, numTasks: Int,
                        inputRecords: Long, inputBytes: Long,
                        outputRecords: Long, outputBytes: Long,
                        shuffleReadBytes: Long, shuffleWriteBytes: Long,
                        spillBytes: Long)

  /** How many [[drainBus]] calls fell back to the 500 ms sleep — 0
    * whenever the pinned Spark exposes `LiveListenerBus.waitUntilEmpty`
    * (listener-fed counts taken after a fallback may be short). */
  val drainFallbacks = new java.util.concurrent.atomic.AtomicLong

  /** `SparkContext.listenerBus` and `LiveListenerBus.waitUntilEmpty()`,
    * resolved once. Both are private[spark] (what Spark's own UI tests
    * call), hence reflection. */
  private lazy val busMethods
      : Option[(java.lang.reflect.Method, java.lang.reflect.Method)] =
    try {
      val listenerBus =
        classOf[org.apache.spark.SparkContext].getMethod("listenerBus")
      Some(listenerBus -> listenerBus.getReturnType.getMethod("waitUntilEmpty"))
    } catch { case _: ReflectiveOperationException => None }

  /** Block until the async listener bus has delivered every queued
    * event, so a listener detached right after sees all finished jobs.
    * Falls back to a bounded 500 ms sleep — logged and counted in
    * [[drainFallbacks]] — when the drain cannot be reached. */
  def drainBus(spark: SparkSession): Unit = {
    val drained = busMethods.exists { case (listenerBus, waitUntilEmpty) =>
      try { waitUntilEmpty.invoke(listenerBus.invoke(spark.sparkContext)); true }
      catch { case _: ReflectiveOperationException => false }
    }
    if (!drained) {
      drainFallbacks.incrementAndGet()
      org.apache.log4j.Logger.getLogger(getClass).warn(
        "listener-bus drain unavailable; slept 500 ms instead — " +
          "listener-fed job counts may be short")
      Thread.sleep(500L)
    }
  }

  private class Collector(label: String, onlyLabelled: Boolean = false)
      extends SparkListener {
    val jobs = new ConcurrentLinkedQueue[JobMetrics]()
    private val starts =
      new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    private val perJobStages =
      new java.util.concurrent.ConcurrentHashMap[Int, Set[Int]]()
    private val stageAgg =
      new java.util.concurrent.ConcurrentHashMap[Int, (Int, Long, Long, Long, Long, Long, Long, Long)]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      // labelled scope: attribute only jobs carrying this label as
      // their job description — concurrently submitted UNRELATED jobs
      // (overlapped pipeline stages, section 2.6 back-fill) must never
      // pollute a stage's record counts
      if (onlyLabelled && (e.properties == null ||
          e.properties.getProperty("spark.job.description") != label))
        return
      starts.put(e.jobId, e.time)
      perJobStages.put(e.jobId, e.stageIds.toSet)
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val m = e.stageInfo.taskMetrics
      if (m != null)
        stageAgg.put(e.stageInfo.stageId, (
          e.stageInfo.numTasks,
          m.inputMetrics.recordsRead, m.inputMetrics.bytesRead,
          m.outputMetrics.recordsWritten, m.outputMetrics.bytesWritten,
          m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      if (!perJobStages.containsKey(e.jobId)) return // filtered at start
      val stages = perJobStages.getOrDefault(e.jobId, Set.empty)
      val agg = stages.toSeq.flatMap(s => Option(stageAgg.get(s)))
      val t0 = starts.getOrDefault(e.jobId, e.time)
      jobs.add(JobMetrics(label, e.jobId, e.time - t0, stages.size,
        agg.map(_._1).sum,
        agg.map(_._2).sum, agg.map(_._3).sum,
        agg.map(_._4).sum, agg.map(_._5).sum,
        agg.map(_._6).sum, agg.map(_._7).sum, agg.map(_._8).sum))
    }
  }

  /** Run `body` with a metrics collector attached; returns (result,
    * the finished jobs' metrics as plain driver-side values). This is
    * the zero-extra-scan way to learn how many records a write
    * materialized: sum `outputRecords` over the block's jobs instead of
    * re-reading the written table with `count()`. */
  def collectJobs[A](spark: SparkSession, label: String)(body: => A): (A, Seq[JobMetrics]) = {
    val c = new Collector(label)
    spark.sparkContext.addSparkListener(c)
    val result =
      try body
      finally {
        // the bus is async: drain queued events before detaching so
        // short jobs are not lost
        drainBus(spark)
        spark.sparkContext.removeSparkListener(c)
      }
    (result, c.jobs.asScala.toSeq)
  }

  /** [[collectJobs]] that additionally SCOPES attribution to the label:
    * the calling thread's job description is set to `label` around
    * `body` (so the UI shows the stage name — guide §1.5) and only jobs
    * carrying that description are recorded. This is what makes
    * OVERLAPPED independent work (pipeline stages back-filling each
    * other's stragglers, §2.6) measurable: a concurrent unrelated job
    * ending inside the block is excluded instead of polluting the
    * stage's record counts. Same-thread behavior is unchanged — every
    * job the body submits inherits the thread-local description. */
  def collectJobsLabelled[A](spark: SparkSession, label: String)(body: => A)
      : (A, Seq[JobMetrics]) = {
    val c = new Collector(label, onlyLabelled = true)
    val sc = spark.sparkContext
    val prevDesc = sc.getLocalProperty("spark.job.description")
    sc.addSparkListener(c)
    sc.setJobDescription(label)
    val result =
      try body
      finally {
        sc.setJobDescription(prevDesc)
        drainBus(spark)
        sc.removeSparkListener(c)
      }
    (result, c.jobs.asScala.toSeq)
  }

  /** [[collectJobs]] with the metrics as a one-row-per-job DataFrame —
    * the "metrics endpoint as a table" form. */
  def collect[A](spark: SparkSession, label: String)(body: => A): (A, DataFrame) = {
    val (result, jobs) = collectJobs(spark, label)(body)
    import spark.implicits._
    (result, jobs.toDF())
  }

  /** The value an [[org.apache.spark.sql.Observation]] recorded for
    * `key`, or `fallback` when the observed query's metrics never
    * arrived (the defensive path — e.g. a Spark version whose V1 write
    * commands do not surface observed metrics). Riding a needed scalar
    * (a watermark, an as-of instant) on a write job's observed metrics
    * instead of a separate aggregate action removes one
    * job-submission+scan floor per pipeline run. The listener bus is
    * drained first so an already-finished write's async metric
    * delivery is never mistaken for absence. */
  def observedOr[T](spark: SparkSession,
                    obs: org.apache.spark.sql.Observation,
                    key: String)(fallback: => T): T = {
    drainBus(spark)
    // non-blocking probe: the observation's future is complete iff the
    // observed query delivered its metrics (never block — absence must
    // take the fallback, not hang)
    obs.future.value match {
      case Some(scala.util.Success(row)) => row.getAs[T](key)
      case _ => fallback
    }
  }
}
