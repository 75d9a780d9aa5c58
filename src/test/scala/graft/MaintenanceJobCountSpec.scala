package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
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
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        n.incrementAndGet(); ()
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
    (r, n.get)
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

    // pinned upper bounds — measured on the fused code (this exact
    // setup: fast 8, tombstone 21; the pre-fusion shape measured 10
    // and 29 — the separate batch-scalars, refusal-emptiness, and
    // tombstone-aggregate probes cost 8 extra jobs per upsert delta)
    assert(fastJobs <= 8, s"fast-path delta grew to $fastJobs jobs")
    assert(tombJobs <= 21, s"tombstone delta grew to $tombJobs jobs")
  }
}
