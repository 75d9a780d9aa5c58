package graft

import java.nio.file.Files
import java.util.concurrent.CyclicBarrier

import org.scalatest.BeforeAndAfterAll

import graft.operators.{Catalog, CommitArbiter, FileArbiter, MetaIO, SnapshotTable}

/** OBJECT-STORE (simulated S3) mode — VERDICT r11 #1: the metadata
  * protocol with atomic rename and exclusive create REFUSED (classic
  * S3 has neither), every exclusivity point decided by a
  * [[CommitArbiter]] (here file-backed; production: DynamoDB/JDBC),
  * and visible markers/manifests as derived caches written with
  * atomic-visible PUTs. The whole-suite proof run is
  * `GRAFT_IO_OBJECT_STORE=<dir> sbt test`; this spec pins the mode's
  * own contract — the refusal, protocol end-to-end, and the
  * two-committer race with one loser and no lost update. */
class ObjectStoreSpec extends GraftSuite with BeforeAndAfterAll {
  import spark.implicits._

  private var saved: Option[CommitArbiter] = None

  override def beforeAll(): Unit = {
    super.beforeAll()
    saved = MetaIO.arbiter
    MetaIO.arbiter = Some(new FileArbiter(
      Files.createTempDirectory("graft-arb").toString))
  }

  override def afterAll(): Unit = {
    MetaIO.arbiter = saved
    super.afterAll()
  }

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("the mode refuses rename outright — no protocol path may depend on one") {
    val d = tmp("graft-s3-refuse")
    MetaIO.writeString(MetaIO.join(d, "a"), "x")
    intercept[UnsupportedOperationException] {
      MetaIO.rename(MetaIO.join(d, "a"), MetaIO.join(d, "b"))
    }
    intercept[UnsupportedOperationException] {
      MetaIO.rename(MetaIO.join(d, "a"), MetaIO.join(d, "b"),
        overwrite = true)
    }
  }

  test("snapshot protocol end to end without rename or exclusive create") {
    val root = tmp("graft-s3-table") + "/t"
    val v0 = SnapshotTable.commit(
      Seq(("a", 1L), ("b", 2L)).toDF("k", "n"), root)
    val v1 = SnapshotTable.commit(
      Seq(("a", 10L), ("c", 3L)).toDF("k", "n"), root)
    assert(SnapshotTable.latestVersion(root) === v1)
    // time travel + refs (marker and ref publishes are PUTs now)
    assert(SnapshotTable.read(spark, root, v0).count() === 2)
    SnapshotTable.createTag(root, "audit", v0)
    assert(SnapshotTable.readTag(spark, root, "audit").count() === 2)
    // tags stay immutable in this mode too (arbiter-decided create)
    intercept[Exception] { SnapshotTable.createTag(root, "audit", v1) }
    // partitioned fast-append records its spec via the arbiter
    val proot = tmp("graft-s3-part") + "/p"
    SnapshotTable.commitAppend(
      Seq(("x", 1L, "2024-01-01")).toDF("k", "n", "d"), proot, "d")
    SnapshotTable.commitAppend(
      Seq(("y", 2L, "2024-01-02")).toDF("k", "n", "d"), proot, "d")
    assert(SnapshotTable.read(spark, proot).count() === 2)
  }

  test("manifested and kept-file reads return the filesystem-mode rows") {
    val arb = MetaIO.arbiter
    MetaIO.arbiter = None
    val fsRows =
      try HadoopIoSpec.scanRows(spark, tmp("graft-s3-fs") + "/t")
      finally MetaIO.arbiter = arb
    assert(HadoopIoSpec.scanRows(spark, tmp("graft-s3-scan") + "/t")
      === fsRows)
  }

  test("catalog transactions, views, rollback — all arbiter-decided") {
    val root = tmp("graft-s3-cat") + "/cat"
    val c0 = Catalog.transact(root, Seq(
      "bronze" -> Seq(("a", 1L)).toDF("k", "n"),
      "silver" -> Seq(("a", 2L)).toDF("k", "n")))
    val c1 = Catalog.transact(root, Seq(
      "silver" -> Seq(("a", 5L), ("b", 6L)).toDF("k", "n")))
    assert(Catalog.latestCommit(root) === c1)
    assert(Catalog.read(spark, root, "silver").count() === 2)
    assert(Catalog.read(spark, root, "silver", c0).count() === 1)
    Catalog.putView(root, "v", "SELECT 1 AS one")
    assert(Catalog.viewNames(root) === Seq("v"))
    Catalog.rollback(root, c0)
    assert(Catalog.read(spark, root, "silver").count() === 1)
    // catalog refs: create-only publish via the arbiter
    Catalog.tag(root, "rel", c0)
    intercept[IllegalArgumentException] { Catalog.tag(root, "rel", c1) }
  }

  test("two committers race ONE table from one base: one loser, no lost update") {
    val root = tmp("graft-s3-race") + "/cat"
    Catalog.transact(root, Seq("a" -> Seq(("seed", 0L)).toDF("k", "n")))
    val base = Catalog.latestCommit(root)
    val prev = Catalog.tableVersions(root, base)
    // both stage NEW VERSIONS OF THE SAME TABLE against the same base —
    // a REAL conflict (reconciliation cannot apply): whoever publishes
    // second MUST lose its first attempt, never silently overwrite
    val va = SnapshotTable.stageVersion(Seq(("a", 1L)).toDF("k", "n"),
      Catalog.tableRoot(root, "a"), prev("a"))
    val vb = SnapshotTable.stageVersion(Seq(("a", 2L), ("b", 3L)).toDF("k", "n"),
      Catalog.tableRoot(root, "a"), prev("a"))
    val barrier = new CyclicBarrier(2)
    val losses = new java.util.concurrent.atomic.AtomicInteger
    def committer(staged: Map[String, Long]): Thread = {
      val t = new Thread(() => {
        barrier.await()
        var lost = false
        var done = false
        var attemptBase = base
        while (!done) {
          try { Catalog.commitStaged(root, staged, attemptBase); done = true }
          catch {
            case _: java.util.ConcurrentModificationException =>
              // the loser retries, as the loop in Catalog.publish
              // does: re-read the base and retry — the winner may
              // still hold the lock, so loop
              lost = true; Thread.sleep(20)
              attemptBase = Catalog.latestCommit(root)
          }
        }
        if (lost) losses.incrementAndGet()
      })
      t.start(); t
    }
    val ts = Seq(committer(Map("a" -> va)), committer(Map("a" -> vb)))
    ts.foreach(_.join(60000))
    assert(losses.get() === 1) // exactly one loser
    // no lost update: the commit log advanced twice — the winner's
    // commit is intact catalog history, the loser's retry sits on top
    assert(Catalog.latestCommit(root) === base + 2)
    val winner = Catalog.tableVersions(root, base + 1)("a")
    val finalV = Catalog.tableVersions(root)("a")
    assert(Set(va, vb).contains(winner) && Set(va, vb).contains(finalV)
      && winner != finalV)
  }

  test("disjoint-table committers from one base reconcile — no false conflict") {
    val root = tmp("graft-s3-rebase") + "/cat"
    Catalog.transact(root, Seq("a" -> Seq(("seed", 0L)).toDF("k", "n")))
    val base = Catalog.latestCommit(root)
    val prev = Catalog.tableVersions(root, base)
    val va = SnapshotTable.stageVersion(Seq(("a", 1L)).toDF("k", "n"),
      Catalog.tableRoot(root, "a"), prev("a"))
    val vb = SnapshotTable.stageVersion(Seq(("b", 2L)).toDF("k", "n"),
      Catalog.tableRoot(root, "b"), -1L)
    Catalog.commitStaged(root, Map("a" -> va), base)
    // same OLD base, different table: the Nessie reconciliation rule —
    // table b is unchanged between base and current, so this commit
    // applies WITHOUT a retry and carries a's new version forward
    Catalog.commitStaged(root, Map("b" -> vb), base)
    val fin = Catalog.tableVersions(root)
    assert(fin("a") === va && fin("b") === vb)
    assert(Catalog.latestCommit(root) === base + 2)
    // but the SAME table from the old base is a real conflict
    val va2 = SnapshotTable.stageVersion(Seq(("a", 9L)).toDF("k", "n"),
      Catalog.tableRoot(root, "a"), prev("a"))
    intercept[java.util.ConcurrentModificationException] {
      Catalog.commitStaged(root, Map("a" -> va2), base)
    }
  }

  test("claims stay exclusive under a true concurrent race") {
    val d = tmp("graft-s3-claim")
    val target = MetaIO.join(d, "v=7")
    val barrier = new CyclicBarrier(2)
    val wins = new java.util.concurrent.atomic.AtomicInteger
    val losses = new java.util.concurrent.atomic.AtomicInteger
    val ts = (1 to 2).map { _ =>
      val t = new Thread(() => {
        barrier.await()
        try { MetaIO.claimDir(target); wins.incrementAndGet() }
        catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            losses.incrementAndGet()
        }
      })
      t.start(); t
    }
    ts.foreach(_.join(30000))
    assert(wins.get() === 1 && losses.get() === 1)
    // release frees the key: a later claim succeeds again
    MetaIO.delete(target, recursive = true)
    MetaIO.claimDir(target)
  }

  test("moveTree arbitrates its destination; loser is loud, bytes are exact") {
    val d = tmp("graft-s3-move")
    val src1 = MetaIO.join(d, "s1"); MetaIO.mkdirs(src1)
    MetaIO.writeString(MetaIO.join(src1, "f"), "one")
    MetaIO.mkdirs(MetaIO.join(src1, "sub"))
    MetaIO.writeString(MetaIO.join(src1, "sub", "g"), "two")
    val dst = MetaIO.join(d, "dst")
    MetaIO.moveTree(src1, dst)
    assert(!MetaIO.exists(src1))
    assert(MetaIO.readString(MetaIO.join(dst, "f")) === "one")
    assert(MetaIO.readString(MetaIO.join(dst, "sub", "g")) === "two")
    // an occupied destination refuses (no interleaved half-copies)
    val src2 = MetaIO.join(d, "s2"); MetaIO.mkdirs(src2)
    MetaIO.writeString(MetaIO.join(src2, "f"), "three")
    intercept[java.nio.file.FileAlreadyExistsException] {
      MetaIO.moveTree(src2, dst)
    }
    // delete + move = the sidecar-swap pattern
    MetaIO.delete(dst, recursive = true)
    MetaIO.moveTree(src2, dst)
    assert(MetaIO.readString(MetaIO.join(dst, "f")) === "three")
  }

  test("a loser racing the winner's cache PUT still reads committed state") {
    // exists/readString fall back to the arbiter entry: simulate the
    // in-flight window by creating the entry without the cache file
    val d = tmp("graft-s3-window")
    val p = MetaIO.join(d, "spec")
    MetaIO.arbiter.get.createExclusive(
      p.replaceFirst("^file:/+", "/"), "k_date")
    assert(MetaIO.exists(p))
    assert(MetaIO.readString(p) === "k_date")
  }
}
