package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicReference

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.operators.Catalog
import graft.streaming.GovernedStream

/** Blocks a staging task until the test lets it go, so another
  * commit can land between a writer's base read and its commit. */
private object StagingGate {
  val entered = new CountDownLatch(1)
  val release = new CountDownLatch(1)
}

/** Every governed catalog writer publishes through `Catalog.publish`,
  * so every one of them survives a lost race the same way: while
  * another committer holds the catalog commit lock, the writer's
  * commit loses, and it re-commits what it staged once the lock frees,
  * landing exactly one commit. A lock that is never released ends in
  * the last loss, with the earlier ones attached as suppressed
  * exceptions. A transact of frames built before the call never
  * re-stages them on a moved table. */
class CatalogPublishSpec extends GraftSuite {
  import spark.implicits._

  private lazy val root: String = {
    val r = Files.createTempDirectory("graft-publish").toString + "/cat"
    spark.conf.set("spark.sql.catalog.govp",
      "graft.sources.GraftGovernedCatalog")
    spark.conf.set("spark.sql.catalog.govp.root", r)
    Catalog.transactDelta(r, Seq(("t", Seq(("a", 1L, "d1"), ("b", 2L, "d2"))
      .toDF("k", "n", "day"), "day")))
    r
  }

  private def lockPath: Path = Paths.get(root, "_refs", ".lock.main")

  /** Staged table versions (their commit records) and view
    * definitions under the catalog: each publish attempt adds its own. */
  @annotation.tailrec
  private def stagedCount: Long = {
    val counted =
      try {
        val s = Files.walk(Paths.get(root))
        try Some(s.iterator().asScala.count { p =>
          val n = p.getFileName.toString
          n == "_commit" ||
            (p.getParent.getParent.getFileName.toString == "views" &&
              n.startsWith("v="))
        }.toLong)
        finally s.close()
      } catch {
        // a committer renamed a temp file away mid-walk: count again
        case _: java.io.UncheckedIOException => None
      }
    counted match {
      case Some(n) => n
      case None => stagedCount
    }
  }

  /** Run `write` while a helper thread holds the commit lock: taken
    * before `write` starts, released about 200 ms after the writer has
    * staged its `perAttempt` versions — so the commit that follows the
    * staging loses. Asserts the write landed exactly one commit, from
    * its one staging: the lost attempts did not stage again. */
  private def survivesHeldLock(what: String, perAttempt: Int)(write: => Any): Unit = {
    val commitsBefore = Catalog.commits(root).size
    val latestBefore = Catalog.latestCommit(root)
    val stagedBefore = stagedCount
    Files.createDirectories(lockPath.getParent)
    Files.createDirectory(lockPath)
    @volatile var stagedUnderLock = false
    val holder = new Thread(() => {
      try {
        val deadline = System.currentTimeMillis() + 60000L
        while (stagedCount < stagedBefore + perAttempt &&
          System.currentTimeMillis() < deadline) Thread.sleep(5)
        stagedUnderLock = stagedCount >= stagedBefore + perAttempt
        Thread.sleep(200)
      } finally Files.delete(lockPath)
    })
    holder.start()
    try write finally holder.join(60000L)
    assert(stagedUnderLock, s"$what: the writer did not stage while the lock was held")
    assert(Catalog.commits(root).size === commitsBefore + 1, what)
    assert(Catalog.latestCommit(root) === latestBefore + 1, what)
    assert(stagedCount === stagedBefore + perAttempt,
      s"$what: a busy lock made the writer stage again")
  }

  test("every catalog writer re-commits after a lost race and lands one commit") {
    survivesHeldLock("transact", 1) {
      Catalog.transact(root, Seq("flat" -> Seq(1L, 2L).toDF("id")))
    }
    assert(Catalog.read(spark, root, "flat").count() === 2)

    survivesHeldLock("putView", 1) {
      Catalog.putView(root, "v_t", "SELECT * FROM t")
    }
    assert(Catalog.viewNames(root) === Seq("v_t"))

    survivesHeldLock("INSERT INTO", 1) {
      spark.sql("INSERT INTO govp.t VALUES ('c', 3, 'd2')")
    }
    survivesHeldLock("ALTER TABLE ADD COLUMN", 1) {
      spark.sql("ALTER TABLE govp.t ADD COLUMN score DOUBLE")
    }
    survivesHeldLock("DELETE", 1) {
      spark.sql("DELETE FROM govp.t WHERE n = 1")
    }
    assert(spark.table("govp.t").orderBy("k").select("k", "n", "score")
      .as[(String, Long, Option[Double])].collect().toSeq ===
      Seq(("b", 2L, None), ("c", 3L, None)))

    survivesHeldLock("GovernedStream.commitBatch", 1) {
      assert(GovernedStream.commitBatch(spark, root, "src", 0L,
        Seq((1L, "2024-01-01")).toDF("event_id", "_ingestion_date"),
        table = "events").isDefined)
    }
    assert(GovernedStream.lastBatchId(spark, root, "src") === 0L)
    assert(Catalog.read(spark, root, "events").count() === 1)
  }

  test("a lock held throughout ends in the last loss with five suppressed causes") {
    val before = Catalog.latestCommit(root)
    val stagedBefore = stagedCount
    Files.createDirectories(lockPath.getParent)
    Files.createDirectory(lockPath)
    val e =
      try intercept[java.util.ConcurrentModificationException] {
        Catalog.transact(root, Seq("flat" -> Seq(9L).toDF("id")))
      } finally Files.delete(lockPath)
    assert(e.getSuppressed.length === Catalog.PublishAttempts - 1)
    assert(e.getSuppressed.forall(
      _.isInstanceOf[java.util.ConcurrentModificationException]))
    assert(Catalog.latestCommit(root) === before)
    assert(stagedCount === stagedBefore + 1)
    assert(Catalog.read(spark, root, "flat").filter(col("id") === 9L)
      .isEmpty)
  }

  test("a transact of a frame read from a table loses to a commit on that table") {
    val r = Files.createTempDirectory("graft-publish-rmw").toString + "/cat"
    Catalog.transactDelta(r,
      Seq(("t", Seq(("a", 1L, "d1")).toDF("k", "n", "day"), "day")))
    val gated = udf { (n: Long) =>
      StagingGate.entered.countDown()
      StagingGate.release.await(60, TimeUnit.SECONDS)
      n
    }
    // read-modify-write: the frame pins t at the version it read
    val rewrite = Catalog.read(spark, r, "t")
      .withColumn("n", gated(col("n") + 1L)).coalesce(1)
    val failure = new AtomicReference[Throwable]
    val writer = new Thread(() =>
      try Catalog.transact(r, Seq("t" -> rewrite))
      catch { case e: Throwable => failure.set(e) })
    writer.start()
    try {
      // the transact has read its base and is staging: a stream batch
      // lands on t meanwhile
      assert(StagingGate.entered.await(60, TimeUnit.SECONDS))
      assert(GovernedStream.commitBatch(spark, r, "src", 0L,
        Seq(("b", 2L, "d2")).toDF("k", "n", "day"), table = "t",
        partitionCol = "day").isDefined)
    } finally StagingGate.release.countDown()
    writer.join(60000L)
    assert(failure.get.isInstanceOf[java.util.ConcurrentModificationException],
      String.valueOf(failure.get))
    assert(Catalog.read(spark, r, "t").orderBy("k").select("k", "n", "day")
      .as[(String, Long, String)].collect().toSeq ===
      Seq(("a", 1L, "d1"), ("b", 2L, "d2")))
  }
}
