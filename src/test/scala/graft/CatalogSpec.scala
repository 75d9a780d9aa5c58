package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.operators.{Catalog, SnapshotTable}
import graft.streaming.GovernedStream

/** Multi-table atomic catalog commits (the Nessie analog). */
class CatalogSpec extends GraftSuite {
  import spark.implicits._

  private def df(tag: String, n: Int) =
    (1 to n).map(i => (i.toLong, tag)).toDF("id", "tag")

  test("a transaction publishes several tables atomically and in sync") {
    val root = Files.createTempDirectory("graft-cat").toString
    val c0 = Catalog.transact(root, Seq(
      "silver" -> df("s0", 10), "ohlcv" -> df("m0", 5)))
    assert(c0 === 0L && Catalog.latestCommit(root) === 0L)
    assert(Catalog.tables(root) === Seq("ohlcv", "silver"))
    assert(Catalog.read(spark, root, "silver").count() === 10)

    // second transaction updates silver only — ohlcv carries over
    val c1 = Catalog.transact(root, Seq("silver" -> df("s1", 20)))
    assert(c1 === 1L)
    assert(Catalog.read(spark, root, "silver").count() === 20)
    assert(Catalog.read(spark, root, "ohlcv").count() === 5)
    assert(Catalog.tableVersions(root) === Map("silver" -> 1L, "ohlcv" -> 0L))

    // a reader pinned to commit 0 sees the OLD consistent pair
    assert(Catalog.read(spark, root, "silver", commit = 0L)
      .filter(col("tag") === "s0").count() === 10)

    // direct per-table reads are refused — catalog tables have no
    // per-table head; state lives in the manifest
    intercept[IllegalArgumentException] {
      SnapshotTable.read(spark, Catalog.tableRoot(root, "silver"))
    }
  }

  test("a failed stage publishes nothing: readers keep the old cross-table state") {
    val root = Files.createTempDirectory("graft-cat-fail").toString
    Catalog.transact(root, Seq("a" -> df("a0", 4), "b" -> df("b0", 4)))

    // second table's write blows up mid-transaction
    val poison = spark.range(3).select(
      expr("raise_error('stage crash')").as("id"), lit("x").as("tag"))
    intercept[Exception] {
      Catalog.transact(root, Seq("a" -> df("a1", 8), "b" -> poison))
    }
    // nothing moved: same commit, both tables at their old content
    assert(Catalog.latestCommit(root) === 0L)
    assert(Catalog.read(spark, root, "a").filter(col("tag") === "a0").count() === 4)
    assert(Catalog.read(spark, root, "b").filter(col("tag") === "b0").count() === 4)
    // leftovers: 'a' staged v1 (stamped, unreferenced) and 'b' v1 (a
    // crashed unstamped claim) — catalog GC removes both kinds
    assert(SnapshotTable.versions(Catalog.tableRoot(root, "a")) === Seq(0L, 1L))
    val (_, removed) = Catalog.expireCommits(root, retainLast = 2, graceMs = 0L)
    assert(removed === Map("a" -> Seq(1L), "b" -> Seq(1L)))
    assert(SnapshotTable.versions(Catalog.tableRoot(root, "b")) === Seq(0L))
    assert(Catalog.read(spark, root, "a").count() === 4)
  }

  test("optimistic concurrency: losing committer fails fast, retry lands on the new base") {
    val root = Files.createTempDirectory("graft-cat-cas").toString
    Catalog.transact(root, Seq("t" -> df("v0", 3)))
    // a concurrent committer holds the commit lock
    Files.createDirectories(Paths.get(root, "_refs", ".lock.main"))
    intercept[java.util.ConcurrentModificationException] {
      Catalog.transact(root, Seq("t" -> df("v1", 6)))
    }
    assert(Catalog.latestCommit(root) === 0L)
    Files.delete(Paths.get(root, "_refs", ".lock.main"))

    // a crashed committer's bare manifest (never published — no stamp)
    // must NOT block new commits: allocation skips past it
    Files.writeString(Paths.get(root, "_commits", "c=1"), "t 0")
    val c = Catalog.transact(root, Seq("t" -> df("v1", 6)))
    assert(c === 2L && Catalog.latestCommit(root) === 2L)
    assert(Catalog.read(spark, root, "t").filter(col("tag") === "v1").count() === 6)
    // the leftover is collected once past grace; the published history stays
    val (dropped, _) = Catalog.expireCommits(root, retainLast = 5, graceMs = 0L)
    assert(dropped === Seq(1L))
  }

  test("a rollback under a held main lock throws and leaves the head, on both table kinds") {
    val root = Files.createTempDirectory("graft-cat-rollback-lock").toString
    Catalog.transact(root, Seq("t" -> df("v0", 3)))
    Catalog.transact(root, Seq("t" -> df("v1", 6)))
    // a concurrent committer holds the commit lock
    Files.createDirectories(Paths.get(root, "_refs", ".lock.main"))
    intercept[java.util.ConcurrentModificationException] {
      Catalog.rollback(root, 0)
    }
    assert(Catalog.latestCommit(root) === 1L)
    Files.delete(Paths.get(root, "_refs", ".lock.main"))
    Catalog.rollback(root, 0)
    assert(Catalog.latestCommit(root) === 0L)

    val plain = Files.createTempDirectory("graft-plain-rollback-lock").toString + "/t"
    SnapshotTable.commit(df("v0", 3), plain)
    SnapshotTable.commit(df("v1", 6), plain)
    Files.createDirectories(Paths.get(plain, "_refs", ".lock.main"))
    intercept[java.util.ConcurrentModificationException] {
      SnapshotTable.rollback(plain, 0)
    }
    assert(SnapshotTable.latestVersion(plain) === 1L)
  }

  test("an entry staged at its base version is no change: a refresh survives a stream commit") {
    val root = Files.createTempDirectory("graft-cat-unchanged").toString
    def batch(i: Long) =
      Seq((i, "2024-01-01")).toDF("event_id", "_ingestion_date")
    GovernedStream.commitBatch(spark, root, "src", 0L, batch(0L))
    Catalog.transact(root, Seq("silver" -> df("s0", 2)))
    // 1. a refresh stages silver from base B, carrying bronze at B's version
    val base = Catalog.latestCommit(root)
    val prev = Catalog.tableVersions(root, base)
    val silverRoot = Catalog.tableRoot(root, "silver")
    val vS = SnapshotTable.stageVersion(df("s1", 3), silverRoot, prev("silver"))
    // 2. a stream micro-batch lands meanwhile
    val streamed = GovernedStream.commitBatch(spark, root, "src", 1L,
      batch(1L)).get
    val afterStream = Catalog.tableVersions(root, streamed)
    assert(afterStream("bronze") !== prev("bronze"))
    // 3. the refresh publishes on B; bronze keeps the stream's version
    val c = Catalog.commitStaged(root,
      Map("bronze" -> prev("bronze"), "silver" -> vS), base)
    assert(c === streamed + 1)
    assert(Catalog.tableVersions(root, c) === afterStream + ("silver" -> vS))
    assert(Catalog.read(spark, root, "bronze").count() === 2)
    assert(Catalog.read(spark, root, "silver").count() === 3)
    // a CHANGED entry still conflicts: silver moved since B
    val vS2 = SnapshotTable.stageVersion(df("s2", 4), silverRoot, prev("silver"))
    intercept[java.util.ConcurrentModificationException] {
      Catalog.commitStaged(root, Map("silver" -> vS2), base)
    }
    assert(Catalog.latestCommit(root) === c)
  }

  test("an entry staged at its base version conflicts once the table no longer descends from it") {
    val root = Files.createTempDirectory("graft-cat-rolledback").toString
    def batch(i: Long) =
      Seq((i, "2024-01-01")).toDF("event_id", "_ingestion_date")
    GovernedStream.commitBatch(spark, root, "src", 0L, batch(0L))
    val beforeBatch = Catalog.transact(root, Seq("silver" -> df("s0", 2)))
    GovernedStream.commitBatch(spark, root, "src", 1L, batch(1L))
    // a refresh stages silver from base B, carrying bronze at B's version
    val base = Catalog.latestCommit(root)
    val prev = Catalog.tableVersions(root, base)
    val vS = SnapshotTable.stageVersion(df("s1", 3),
      Catalog.tableRoot(root, "silver"), prev("silver"))
    // the stream batch is rolled back meanwhile: silver is unchanged,
    // bronze now sits at an ancestor of B's version
    Catalog.rollback(root, beforeBatch)
    assert(Catalog.tableVersions(root)("silver") === prev("silver"))
    intercept[java.util.ConcurrentModificationException] {
      Catalog.commitStaged(root,
        Map("bronze" -> prev("bronze"), "silver" -> vS), base)
    }
    assert(Catalog.latestCommit(root) === beforeBatch)
    assert(Catalog.read(spark, root, "bronze").count() === 1)
  }

  test("commits keep working after rollback: roll-forward targets never deadlock the catalog") {
    val root = Files.createTempDirectory("graft-cat-rollcommit").toString
    (0 to 2).foreach(i => Catalog.transact(root, Seq("t" -> df(s"v$i", i + 1))))
    Catalog.rollback(root, 0L)
    // the rolled-back-from manifests (c=1, c=2) still exist — the next
    // commit must allocate past them, not collide with c=1
    val c = Catalog.transact(root, Seq("t" -> df("redo", 9)))
    assert(c === 3L && Catalog.latestCommit(root) === 3L)
    assert(Catalog.read(spark, root, "t").filter(col("tag") === "redo").count() === 9)
    // the redo commit built on the ROLLED-BACK base, not the abandoned head
    assert(Catalog.commits(root) === Seq(0L, 1L, 2L, 3L))
    assert(Catalog.read(spark, root, "t", commit = 2L)
      .filter(col("tag") === "v2").count() === 3)

    // GC with zero grace: published-then-abandoned history is ordinary
    // old history now (1, 2 < current 3) — subject to retainLast, never
    // mistaken for crash leftovers
    val (dropped, _) = Catalog.expireCommits(root, retainLast = 2, graceMs = 0L)
    assert(dropped === Seq(0L))
    assert(Catalog.commits(root) === Seq(1L, 2L, 3L))
  }

  test("GC keeps published roll-forward targets forever, collects unpublished leftovers after grace") {
    val root = Files.createTempDirectory("graft-cat-gcstamp").toString
    (0 to 2).foreach(i => Catalog.transact(root, Seq("t" -> df(s"v$i", i + 1))))
    Catalog.rollback(root, 1L)
    // c=2 is published (stamped) and newer than current: a legitimate
    // roll-forward target — zero grace must NOT collect it
    val (dropped, _) = Catalog.expireCommits(root, retainLast = 0, graceMs = 0L)
    assert(!dropped.contains(2L))
    Catalog.rollback(root, 2L)
    assert(Catalog.read(spark, root, "t").filter(col("tag") === "v2").count() === 3)
  }

  test("delta transactions land batch-sized updates across tables atomically") {
    val root = Files.createTempDirectory("graft-cat-delta").toString
    def part(tag: String, dates: String*) =
      dates.flatMap(d => (1 to 3).map(i =>
        (s"$d#$i", tag, java.sql.Date.valueOf(d)))).toDF("key", "tag", "dt")

    // bootstrap both tables over three date partitions
    Catalog.transactDelta(root, Seq(
      ("silver", part("s0", "2024-01-01", "2024-01-02", "2024-01-03"), "dt"),
      ("mart", part("m0", "2024-01-01", "2024-01-02", "2024-01-03"), "dt")))
    // the incremental run: ONLY 2024-01-02 changes, in both tables,
    // as one atomic catalog commit
    val c1 = Catalog.transactDelta(root, Seq(
      ("silver", part("s1", "2024-01-02"), "dt"),
      ("mart", part("m1", "2024-01-02"), "dt")))
    assert(c1 === 1L)

    // write cost was the batch: the new silver version dir holds ONE
    // partition; the other two are inherited by manifest reference
    val sRoot = Catalog.tableRoot(root, "silver")
    assert(new java.io.File(s"$sRoot/v=1").listFiles()
      .filter(_.isDirectory).map(_.getName).toSeq
      .filterNot(_.startsWith("_")) === Seq("dt=2024-01-02"))
    assert(SnapshotTable.manifest(sRoot, 1L) === Map(
      "dt=2024-01-01" -> 0L, "dt=2024-01-02" -> 1L, "dt=2024-01-03" -> 0L))

    // readers see the merged logical state, consistently across tables
    def tagsOf(table: String, commit: Long = -1L) =
      Catalog.read(spark, root, table, commit).select("dt", "tag").distinct()
        .collect().map(r => r.getDate(0).toString -> r.getString(1)).toMap
    assert(tagsOf("silver") === Map("2024-01-01" -> "s0",
      "2024-01-02" -> "s1", "2024-01-03" -> "s0"))
    assert(tagsOf("mart") === Map("2024-01-01" -> "m0",
      "2024-01-02" -> "m1", "2024-01-03" -> "m0"))
    // time travel: commit 0 serves the pre-batch pair
    assert(tagsOf("silver", 0L).values.toSet === Set("s0"))

    // whole-catalog rollback returns BOTH tables to the bootstrap
    Catalog.rollback(root, 0L)
    assert(tagsOf("silver").values.toSet === Set("s0")
      && tagsOf("mart").values.toSet === Set("m0"))
    Catalog.rollback(root, 1L)

    // GC keeps storage roots alive: commit 0's versions still store
    // two of the three live partitions, so nothing is deletable even
    // at retainLast=0
    val (droppedCommits, removed) = Catalog.expireCommits(root, 0, graceMs = 0L)
    assert(droppedCommits === Seq(0L) && removed === Map.empty)
    assert(tagsOf("silver") === Map("2024-01-01" -> "s0",
      "2024-01-02" -> "s1", "2024-01-03" -> "s0"))

    // a full rewrite of both tables releases the old storage
    Catalog.transactDelta(root, Seq(
      ("silver", part("s2", "2024-01-01", "2024-01-02", "2024-01-03"), "dt"),
      ("mart", part("m2", "2024-01-01", "2024-01-02", "2024-01-03"), "dt")))
    val (_, removed2) = Catalog.expireCommits(root, 0, graceMs = 0L)
    assert(removed2 === Map("silver" -> Seq(0L, 1L), "mart" -> Seq(0L, 1L)))
    assert(tagsOf("silver").values.toSet === Set("s2"))
  }

  test("catalog branches isolate multi-table changes until fast-forward") {
    val root = Files.createTempDirectory("graft-cat-branch").toString
    Catalog.transact(root, Seq(
      "bronze" -> df("b0", 10), "silver" -> df("s0", 10)))
    Catalog.createBranch(root, "experiment")

    // two branch transactions touch BOTH tables; main never moves
    Catalog.transactOnBranch(root, "experiment", Seq(
      "bronze" -> df("b1", 12), "silver" -> df("s1", 12)))
    Catalog.transactOnBranch(root, "experiment", Seq(
      "silver" -> df("s2", 15)))
    assert(Catalog.latestCommit(root) === 0L)
    assert(Catalog.read(spark, root, "silver")
      .filter(col("tag") === "s0").count() === 10)
    assert(Catalog.readBranch(spark, root, "silver", "experiment")
      .filter(col("tag") === "s2").count() === 15)
    assert(Catalog.readBranch(spark, root, "bronze", "experiment")
      .filter(col("tag") === "b1").count() === 12)

    // fast-forward publishes BOTH tables to main as one atomic commit
    val c = Catalog.fastForwardMain(root, "experiment")
    assert(c === 1L && Catalog.latestCommit(root) === 1L)
    assert(Catalog.read(spark, root, "bronze")
      .filter(col("tag") === "b1").count() === 12)
    assert(Catalog.read(spark, root, "silver")
      .filter(col("tag") === "s2").count() === 15)

    // a branch whose fork main has left behind cannot fast-forward
    Catalog.createBranch(root, "stale", from = 0L)
    Catalog.transactOnBranch(root, "stale", Seq("silver" -> df("sx", 3)))
    intercept[java.util.ConcurrentModificationException] {
      Catalog.fastForwardMain(root, "stale")
    }
    // main is untouched by the refused fast-forward
    assert(Catalog.read(spark, root, "silver")
      .filter(col("tag") === "s2").count() === 15)
  }

  test("a diverged branch merges into main by key; untouched tables keep main's state") {
    val root = Files.createTempDirectory("graft-cat-merge").toString
    Catalog.transact(root, Seq(
      "t1" -> Seq((1L, "m0"), (2L, "m0")).toDF("id", "tag"),
      "t2" -> Seq((1L, "m0")).toDF("id", "tag")))
    Catalog.createBranch(root, "feature")
    // branch updates t1 rows 2 and 3; main moves t1 row 1 and t2 —
    // a genuine divergence, so fast-forward is refused
    Catalog.transactOnBranch(root, "feature", Seq(
      "t1" -> Seq((2L, "br"), (3L, "br")).toDF("id", "tag")))
    Catalog.transact(root, Seq(
      "t1" -> Seq((1L, "m1"), (2L, "m1")).toDF("id", "tag"),
      "t2" -> Seq((1L, "m1")).toDF("id", "tag")))
    intercept[java.util.ConcurrentModificationException] {
      Catalog.fastForwardMain(root, "feature")
    }

    val c = Catalog.mergeBranchMain(spark, root, "feature", Map("t1" -> "id"))
    assert(c === Catalog.latestCommit(root))
    val t1 = Catalog.read(spark, root, "t1").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // branch wins per key (2, 3); main-only rows survive (1)
    assert(t1 === Map(1L -> "m1", 2L -> "br", 3L -> "br"))
    // t2 was never touched on the branch: main's update stands
    assert(Catalog.read(spark, root, "t2").head().getString(1) === "m1")
    // merging a clean branch is a no-op
    Catalog.createBranch(root, "idle")
    assert(Catalog.mergeBranchMain(spark, root, "idle", Map.empty) === c)
  }

  test("GC protects tag and branch references; dropBranch releases them") {
    val root = Files.createTempDirectory("graft-cat-refs").toString
    Catalog.transact(root, Seq("t" -> df("v0", 4)))
    Catalog.tag(root, "release")
    Catalog.createBranch(root, "wip")
    Catalog.transactOnBranch(root, "wip", Seq("t" -> df("wip1", 6)))
    Catalog.transact(root, Seq("t" -> df("v1", 5)))
    Catalog.transact(root, Seq("t" -> df("v2", 7)))

    // retainLast=0 would normally drop commit 0 — but the tag pins it
    // and the branch fork resolves through it
    Catalog.expireCommits(root, retainLast = 0, graceMs = 0L)
    assert(Catalog.commits(root).contains(Catalog.tagCommit(root, "release")))
    assert(Catalog.read(spark, root, "t", Catalog.tagCommit(root, "release"))
      .filter(col("tag") === "v0").count() === 4)
    // the branch's staged table version survives GC while the branch lives
    assert(Catalog.readBranch(spark, root, "t", "wip")
      .filter(col("tag") === "wip1").count() === 6)

    // dropping tag + branch releases everything they pinned
    Catalog.dropTag(root, "release")
    Catalog.dropBranch(root, "wip")
    val (droppedCommits, droppedVersions) =
      Catalog.expireCommits(root, retainLast = 0, graceMs = 0L)
    assert(droppedCommits === Seq(0L))
    assert(droppedVersions("t").nonEmpty,
      "the branch's orphaned staged version must be collected")
    assert(Catalog.read(spark, root, "t")
      .filter(col("tag") === "v2").count() === 7)
  }

  test("rollback re-points every table together; GC respects retained history") {
    val root = Files.createTempDirectory("graft-cat-roll").toString
    (0 to 3).foreach { i =>
      Catalog.transact(root, Seq("x" -> df(s"x$i", i + 1), "y" -> df(s"y$i", i + 1)))
    }
    Catalog.rollback(root, 2L)
    assert(Catalog.read(spark, root, "x").filter(col("tag") === "x2").count() === 3)
    assert(Catalog.read(spark, root, "y").filter(col("tag") === "y2").count() === 3)

    // GC: current=2, retain 1 older (c=1), c=3 stays (roll-forward,
    // inside grace), c=0 goes — and with it the now-unreferenced v0s
    val (dropped, removed) = Catalog.expireCommits(root, retainLast = 1)
    assert(dropped === Seq(0L))
    assert(removed === Map("x" -> Seq(0L), "y" -> Seq(0L)))
    assert(Catalog.commits(root) === Seq(1L, 2L, 3L))
    // retained commits still fully readable
    assert(Catalog.read(spark, root, "x", commit = 1L).count() === 2)
    assert(Catalog.read(spark, root, "x", commit = 3L).count() === 4)
    // roll forward to 3 still possible after GC
    Catalog.rollback(root, 3L)
    assert(Catalog.read(spark, root, "y").filter(col("tag") === "y3").count() === 4)
  }

  test("tags are immutable and branch creation is create-only on PLAIN paths") {
    // regression (round-11 review): the exclusive no-replace publish
    // must hold on the java.nio fast path too — POSIX rename(2)
    // silently replaces, so the primitive is link(2)+unlink there
    val root = Files.createTempDirectory("graft-cat-excl").toString
    Catalog.transact(root, Seq("t" -> df("a", 3)))
    Catalog.transact(root, Seq("t" -> df("b", 4)))
    Catalog.tag(root, "rel", 0L)
    val e = intercept[IllegalArgumentException] { Catalog.tag(root, "rel", 1L) }
    assert(e.getMessage.contains("immutable"))
    assert(Catalog.tagCommit(root, "rel") === 0L) // NOT re-pointed
    Catalog.createBranch(root, "b1", 0L)
    intercept[IllegalArgumentException] { Catalog.createBranch(root, "b1", 1L) }
    assert(Catalog.branchVersions(root, "b1") ===
      Catalog.tableVersions(root, 0L)) // head NOT reset
  }

  test("commit reconciliation: disjoint writers never false-conflict, overlaps still lose") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-cat-rebase").toString + "/cat"
    import spark.implicits._
    Catalog.transact(root, Seq(
      "x" -> Seq(("x", 1L)).toDF("k", "n"),
      "y" -> Seq(("y", 1L)).toDF("k", "n")))
    val base = Catalog.latestCommit(root)
    val prev = Catalog.tableVersions(root, base)
    val vx = SnapshotTable.stageVersion(Seq(("x", 2L)).toDF("k", "n"),
      Catalog.tableRoot(root, "x"), prev("x"))
    val vy = SnapshotTable.stageVersion(Seq(("y", 2L)).toDF("k", "n"),
      Catalog.tableRoot(root, "y"), prev("y"))
    // both from the SAME base: the second reconciles instead of losing
    // (its touched table is unchanged between base and current), and
    // the first commit's update is carried forward, never dropped
    Catalog.commitStaged(root, Map("x" -> vx), base)
    Catalog.commitStaged(root, Map("y" -> vy), base)
    val fin = Catalog.tableVersions(root)
    assert(fin("x") === vx && fin("y") === vy)
    // an overlap from the stale base is a REAL conflict
    val vx2 = SnapshotTable.stageVersion(Seq(("x", 3L)).toDF("k", "n"),
      Catalog.tableRoot(root, "x"), prev("x"))
    intercept[java.util.ConcurrentModificationException] {
      Catalog.commitStaged(root, Map("x" -> vx2), base)
    }
    // a view drop from a stale base reconciles too when untouched
    Catalog.putView(root, "v", "SELECT 1 AS one")
    val b2 = Catalog.latestCommit(root)
    val vx3 = SnapshotTable.stageVersion(Seq(("x", 4L)).toDF("k", "n"),
      Catalog.tableRoot(root, "x"), fin("x"))
    Catalog.commitStaged(root, Map("x" -> vx3), b2)
    assert(Catalog.dropView(root, "v")) // internally CAS-retries; lands
    assert(Catalog.viewNames(root).isEmpty)
    assert(Catalog.tableVersions(root)("x") === vx3)
  }
}
