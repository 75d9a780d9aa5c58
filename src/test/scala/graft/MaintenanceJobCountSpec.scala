package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.{Metrics, Retrieval, SnapshotTable}

/** Pins the Spark-job count of one index-maintenance call — the
  * bm25_incremental key is job-submission-floor bound at bench scale,
  * so the number of actions per `indexCorpusDelta`, not bytes, is the
  * cost model. The delta pricing, refusal gate, and tombstone scalars
  * fold into ONE multi-aggregate job; a regression that splits them
  * back into separate probes shows up here as a count bump.
  *
  * Counts are upper bounds with slack 0: AQE materializes one job per
  * shuffle stage, so the pinned numbers are plan-shape-dependent —
  * loosen deliberately (with the new attribution) if a legitimate plan
  * change moves them, never silently. */
class MaintenanceJobCountSpec extends GraftSuite {

  private def docs = {
    import spark.implicits._
    Seq(
      (1L, "spark spark spark merge", "en", "src0", 23L),
      (2L, "vector window merge join join join", "en", "src0", 34L),
      (3L, "the the the the the the the the", "en", "src1", 31L),
      (4L, "spark vector window merge", "en", "src1", 25L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  private def countJobs[A](body: => A): (A, Int) = {
    val (r, jobs) = MaintenanceJobCountSpec.jobsOf(spark)(body)
    (r, jobs.size)
  }

  test("indexCorpusDelta job counts: append-overlap and upsert paths") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-jobcount").toString + "/t"
    val d = docs
    SnapshotTable.commitAppend(d.filter(col("doc_id") <= 2L),
      root, "source") // v0: ids 1-2
    Retrieval.indexCorpus(spark, root)
    SnapshotTable.commitAppend(d.filter(col("doc_id") > 2L),
      root, "source") // v1: ids [3,4], range-disjoint from v0's [1,2]
    val (_, fastJobs) = countJobs {
      assert(Retrieval.indexCorpusDelta(spark, root) === 1L)
    }
    info(s"fast-path (disjoint append) jobs: $fastJobs")

    // v2: MERGE upsert — eq-delete forces the liveDocs/tombstone path
    val batch = d.filter(col("doc_id") === 2L)
      .withColumn("text", lit("merge merge window fresh"))
    SnapshotTable.upsertMor(spark, root, "source", batch, Seq("doc_id"))
    val fb = Retrieval.fullBuilds.get
    val (_, tombJobs) = countJobs {
      assert(Retrieval.indexCorpusDelta(spark, root) === 2L)
    }
    assert(Retrieval.fullBuilds.get === fb, "fell back to full rebuild")
    info(s"tombstone-path (upsert delta) jobs: $tombJobs")

    // pinned upper bounds — measured on the fused code with the
    // small-plan rule running each small aggregate in one job (this
    // exact setup: fast 4, tombstone 10; 8 and 21 with a job per
    // shuffle stage; the pre-fusion shape measured 10 and 29 — the
    // separate batch-scalars, refusal-emptiness, and tombstone-aggregate
    // probes cost 8 extra jobs per upsert delta)
    assert(fastJobs <= 4, s"fast-path delta grew to $fastJobs jobs")
    assert(tombJobs <= 10, s"tombstone delta grew to $tombJobs jobs")
  }
}

object MaintenanceJobCountSpec {

  /** Run `body`, returning its result and the Spark jobs it started —
    * each by its first stage's name, the call site that submitted it
    * (`parquet at SnapshotTable.scala:137`), and its job description in
    * brackets when it has one, so a failing pin says WHICH jobs it
    * counted. */
  def jobsOf[A](spark: SparkSession)(body: => A): (A, Seq[String]) = {
    val names = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
        names.add(e.stageInfos.headOption.map(_.name).getOrElse("?") +
          desc.fold("")(d => s" [$d]")); ()
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    val r =
      try body
      finally {
        Metrics.drainBus(spark)
        sc.removeSparkListener(l)
      }
    (r, names.asScala.toSeq)
  }
}
