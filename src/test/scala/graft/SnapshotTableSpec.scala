package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.operators.SnapshotTable

/** Versioned table: commit / time travel / merge / rollback / expiry. */
class SnapshotTableSpec extends GraftSuite {
  import spark.implicits._

  test("commit, time travel, merge, rollback, expire") {
    val root = Files.createTempDirectory("graft-snap").toString
    val v0data = Seq((1L, "a"), (2L, "b")).toDF("id", "v")

    val v0 = SnapshotTable.commit(v0data, root)
    assert(v0 === 0 && SnapshotTable.latestVersion(root) === 0)

    // merge-commit: update id=2, insert id=3
    val src = Seq((2L, "B"), (3L, "c")).toDF("id", "v")
    val v1 = SnapshotTable.mergeCommit(spark, root, src, "id")
    assert(v1 === 1)
    val now = SnapshotTable.read(spark, root).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(now === Seq((1L, "a"), (2L, "B"), (3L, "c")))

    // time travel: v0 unchanged
    val old = SnapshotTable.read(spark, root, 0).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(old === Seq((1L, "a"), (2L, "b")))

    // two more commits then expire keeping 2 (plus current)
    SnapshotTable.commit(v0data, root)
    SnapshotTable.commit(src, root)
    val removed = SnapshotTable.expireSnapshots(root, retainLast = 2)
    assert(removed === Seq(0L))
    assert(SnapshotTable.versions(root) === Seq(1L, 2L, 3L))

    // rollback to v2 and read it as current
    SnapshotTable.rollback(root, 2)
    assert(SnapshotTable.read(spark, root).count() === 2)
    assert(SnapshotTable.latestVersion(root) === 2)

    // commit after rollback must NOT overwrite the still-on-disk v3:
    // next version is max(existing)+1
    val v4 = SnapshotTable.commit(v0data, root)
    assert(v4 === 4)
    assert(SnapshotTable.versions(root) === Seq(1L, 2L, 3L, 4L))
    assert(SnapshotTable.read(spark, root, 3).count() === 2) // v3 intact
  }

  test("expiry after rollback preserves roll-forward targets") {
    val root = Files.createTempDirectory("graft-snap-rf").toString
    (0 to 3).foreach { i =>
      SnapshotTable.commit(Seq((i.toLong, s"v$i")).toDF("id", "v"), root)
    }
    SnapshotTable.rollback(root, 1)

    // current=1; only versions < 1 are expiry candidates — v2/v3 are
    // roll-forward targets and must survive even with retainLast=0
    val removed = SnapshotTable.expireSnapshots(root, retainLast = 0)
    assert(removed === Seq(0L))
    assert(SnapshotTable.versions(root) === Seq(1L, 2L, 3L))

    // roll FORWARD to v3 and read it — the data is intact
    SnapshotTable.rollback(root, 3)
    val rows = SnapshotTable.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows === Seq((3L, "v3")))
  }

  test("concurrent committers cannot claim the same version") {
    val root = Files.createTempDirectory("graft-snap-race").toString
    SnapshotTable.commit(Seq((1L, "a")).toDF("id", "v"), root)

    // Simulate the two-writer race: both computed next=1; the first
    // claim wins, the second must fail fast (not silently overwrite)
    SnapshotTable.claimVersion(root, 1)
    intercept[java.util.ConcurrentModificationException] {
      SnapshotTable.claimVersion(root, 1)
    }

    // a fresh commit skips the claimed-but-unpublished dir: next=2
    val v2 = SnapshotTable.commit(Seq((2L, "b")).toDF("id", "v"), root)
    assert(v2 === 2)
    assert(SnapshotTable.latestVersion(root) === 2)
  }

  test("branch commits are invisible to main until fast-forward") {
    val root = Files.createTempDirectory("graft-snap-br").toString
    SnapshotTable.commit(Seq((1L, "a")).toDF("id", "v"), root)    // v0
    SnapshotTable.createBranch(root, "dev")                        // dev @ v0

    // two commits on dev: main must not move
    val d1 = SnapshotTable.commitToBranch(
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), root, "dev")      // v1
    val d2 = SnapshotTable.commitToBranch(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), root, "dev") // v2
    assert((d1, d2) === (1L, 2L))
    assert(SnapshotTable.latestVersion(root) === 0L)               // isolated
    assert(SnapshotTable.read(spark, root).count() === 1)
    assert(SnapshotTable.readBranch(spark, root, "dev").count() === 3)
    assert(SnapshotTable.branchVersion(root, "dev") === 2L)

    // main is an ancestor of dev -> fast-forward allowed; after it both
    // heads agree and main readers see the branch's data
    val ff = SnapshotTable.fastForward(root, SnapshotTable.MainBranch, "dev")
    assert(ff === 2L && SnapshotTable.latestVersion(root) === 2L)
    assert(SnapshotTable.read(spark, root).count() === 3)

    // diverged: a commit on main then one on dev -> ff must refuse
    SnapshotTable.commit(Seq((9L, "z")).toDF("id", "v"), root)     // v3 (main)
    SnapshotTable.commitToBranch(
      Seq((8L, "y")).toDF("id", "v"), root, "dev")                 // v4 (dev)
    intercept[IllegalArgumentException] {
      SnapshotTable.fastForward(root, SnapshotTable.MainBranch, "dev")
    }
    // content-level merge resolves the divergence (source wins per key)
    SnapshotTable.mergeBranch(spark, root, SnapshotTable.MainBranch, "dev", "id")
    val merged = SnapshotTable.read(spark, root).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(merged === Seq((8L, "y"), (9L, "z")))
  }

  test("tags pin a version immutably and survive expiry") {
    val root = Files.createTempDirectory("graft-snap-tag").toString
    (0 to 4).foreach { i =>
      SnapshotTable.commit(Seq((i.toLong, s"v$i")).toDF("id", "v"), root)
    }
    SnapshotTable.createTag(root, "release-1", 1L)
    intercept[IllegalArgumentException] {
      SnapshotTable.createTag(root, "release-1", 2L)               // immutable
    }

    // expiry with retainLast=0 would drop v0..v3, but the tag pins v1
    val removed = SnapshotTable.expireSnapshots(root, retainLast = 0)
    assert(removed === Seq(0L, 2L, 3L))
    assert(SnapshotTable.versions(root) === Seq(1L, 4L))

    // tag time travel still reads the pinned snapshot
    val r = SnapshotTable.readTag(spark, root, "release-1").head()
    assert((r.getLong(0), r.getString(1)) === (1L, "v1"))

    // branch heads are pinned the same way
    SnapshotTable.createBranch(root, "hold", 1L)
    SnapshotTable.commit(Seq((9L, "v9")).toDF("id", "v"), root)
    assert(!SnapshotTable.expireSnapshots(root, retainLast = 0).contains(1L))
    assert(SnapshotTable.readBranch(spark, root, "hold").count() === 1)

    // dropping the refs releases the pin on the next expiry
    SnapshotTable.dropTag(root, "release-1")
    SnapshotTable.dropBranch(root, "hold")
    assert(SnapshotTable.expireSnapshots(root, retainLast = 0).contains(1L))
  }

  test("concurrent commits to the same branch: exactly one wins") {
    val root = Files.createTempDirectory("graft-snap-brrace").toString
    SnapshotTable.commit(Seq((1L, "a")).toDF("id", "v"), root)
    SnapshotTable.createBranch(root, "dev")

    // two real committers racing on the branch lock: one succeeds, one
    // throws ConcurrentModificationException; the branch head is the
    // winner's version and nothing is lost
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Either[Throwable, Long]]()
    val latch = new java.util.concurrent.CountDownLatch(1)
    val threads = (1 to 2).map { i =>
      new Thread(() => {
        latch.await()
        try results.add(Right(SnapshotTable.commitToBranch(
          Seq((i.toLong, s"w$i")).toDF("id", "v"), root, "dev")))
        catch { case e: java.util.ConcurrentModificationException =>
          results.add(Left(e)) }
      })
    }
    threads.foreach(_.start()); latch.countDown(); threads.foreach(_.join())
    val wins = results.asScala.collect { case Right(v) => v }.toSeq
    if (wins.size == 2) {
      // no overlap this run (scheduling) — both landed sequentially
      assert(SnapshotTable.branchVersion(root, "dev") === wins.max)
    } else {
      assert(wins.size === 1)
      assert(SnapshotTable.branchVersion(root, "dev") === wins.head)
    }
    // the lock is released either way: a follow-up commit succeeds
    val after = SnapshotTable.commitToBranch(
      Seq((7L, "after")).toDF("id", "v"), root, "dev")
    assert(SnapshotTable.branchVersion(root, "dev") === after)
  }

  test("concurrent publishes from one base: exactly one lands, the other throws") {
    val root = Files.createTempDirectory("graft-snap-pubrace").toString
    SnapshotTable.commitAppend(Seq((1L, "a")).toDF("id", "p"), root, "p")
    val base = SnapshotTable.latestVersion(root)
    // both writers read the same base and stage an append (one at a
    // time, so their version claims differ); the barrier holds each
    // inside its stage until both have staged, then both publish
    val staged = new java.util.concurrent.CyclicBarrier(2)
    val claims = new Object
    val results =
      new java.util.concurrent.ConcurrentLinkedQueue[Either[Throwable, (Long, Long)]]()
    val threads = Seq(2L, 3L).map { id =>
      new Thread(() => {
        try results.add(Right(id -> SnapshotTable.publish(root) { b =>
          val v = claims.synchronized {
            SnapshotTable.stageAppend(Seq((id, "a")).toDF("id", "p"), root,
              "p", b)
          }
          staged.await(120, java.util.concurrent.TimeUnit.SECONDS)
          v
        }))
        catch { case e: Throwable => results.add(Left(e)) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val wins = results.asScala.collect { case Right(w) => w }.toSeq
    val losses = results.asScala.collect { case Left(e) => e }.toSeq
    assert(wins.size === 1 && losses.size === 1, results.asScala.toSeq)
    assert(losses.head.isInstanceOf[java.util.ConcurrentModificationException],
      losses.head)
    val (winner, won) = wins.head
    assert(SnapshotTable.latestVersion(root) === won)
    assert(SnapshotTable.parentVersion(root, won) === base)
    assert(SnapshotTable.read(spark, root).select("id").as[Long].collect()
      .toSet === Set(1L, winner))
    // the lock is released: the next commit lands on the winner
    val next = SnapshotTable.commitAppend(Seq((9L, "a")).toDF("id", "p"),
      root, "p")
    assert(SnapshotTable.parentVersion(root, next) === won)
  }

  test("a full-version commit never deletes its claimed version directory") {
    import java.nio.file.{Paths, StandardWatchEventKinds}
    val root = Files.createTempDirectory("graft-snap-claim").toString
    SnapshotTable.commit(Seq((1L, "a")).toDF("id", "v"), root)
    // the claim IS the directory: deleting it mid-write (as a Spark
    // overwrite of an existing path does) lets a racing writer claim
    // the same version number and clobber this one's files
    val watch = Paths.get(root).getFileSystem.newWatchService()
    try {
      Paths.get(root).register(watch, StandardWatchEventKinds.ENTRY_DELETE)
      val v = SnapshotTable.commit(Seq((2L, "b")).toDF("id", "v"), root)
      val deleted = Iterator.continually(
          watch.poll(1, java.util.concurrent.TimeUnit.SECONDS))
        .takeWhile(_ != null)
        .flatMap { k => val es = k.pollEvents().asScala; k.reset(); es }
        .map(_.context().toString).toSeq
      assert(!deleted.contains(s"v=$v"), deleted)
    } finally watch.close()
    assert(SnapshotTable.read(spark, root).count() === 1)
  }

  test("delta commits share untouched partitions and read as one pruned scan") {
    val root = Files.createTempDirectory("graft-delta").toString
    def rows(tag: String, dates: Seq[String]) =
      dates.flatMap(d => (1 to 4).map(i =>
        (s"$d#$i", tag, java.sql.Date.valueOf(d))))
        .toDF("key", "tag", "dt")

    // v0: bootstrap full table over three date partitions
    val v0 = SnapshotTable.commitDelta(
      rows("t0", Seq("2024-01-01", "2024-01-02", "2024-01-03")), root, "dt")
    assert(v0 === 0L)
    // v1: rewrite ONLY the middle date
    val v1 = SnapshotTable.commitDelta(rows("t1", Seq("2024-01-02")), root, "dt")
    assert(v1 === 1L)

    // storage sharing: v=1 holds just its touched partition; the
    // manifest inherits the other two from v=0 by reference
    val v1dirs = new java.io.File(s"$root/v=1").listFiles()
      .filter(_.isDirectory).map(_.getName).toSeq
      .filterNot(_.startsWith("_")) // metadata sidecars (_stats) aside
    assert(v1dirs === Seq("dt=2024-01-02"))
    assert(SnapshotTable.manifest(root, 1L) === Map(
      "dt=2024-01-01" -> 0L, "dt=2024-01-02" -> 1L, "dt=2024-01-03" -> 0L))

    // logical content: latest = v0 partitions with the middle swapped
    val latest = SnapshotTable.read(spark, root)
    assert(latest.count() === 12)
    val tags = latest.select("dt", "tag").distinct().collect()
      .map(r => r.getDate(0).toString -> r.getString(1)).toMap
    assert(tags === Map("2024-01-01" -> "t0", "2024-01-02" -> "t1",
      "2024-01-03" -> "t0"))
    // time travel to the bootstrap is untouched
    assert(SnapshotTable.read(spark, root, 0L)
      .filter(col("tag") === "t0").count() === 12)

    // the cross-version read is ONE unified partition-pruned scan
    val pruned = latest.filter(col("dt") === lit(java.sql.Date.valueOf("2024-01-02")))
    val scans = pruned.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.size === 1 && scans.head.partitionFilters.nonEmpty)
    assert(scans.head.selectedPartitions.partitionCount === 1)
    assert(pruned.select("tag").distinct().head().getString(0) === "t1")

    // expiry honors manifest reachability: v0 is retired but still
    // stores two live partitions -> its directory must survive
    val v2 = SnapshotTable.commitDelta(rows("t2", Seq("2024-01-03")), root, "dt")
    assert(v2 === 2L)
    assert(SnapshotTable.expireSnapshots(root, retainLast = 0) === Seq.empty)
    assert(SnapshotTable.versions(root) === Seq(0L, 1L, 2L))
    assert(SnapshotTable.read(spark, root).count() === 12)

    // a full rewrite drops every reference -> old directories now go
    val v3 = SnapshotTable.commitDelta(
      rows("t3", Seq("2024-01-01", "2024-01-02", "2024-01-03")), root, "dt")
    assert(v3 === 3L)
    assert(SnapshotTable.expireSnapshots(root, retainLast = 0) === Seq(0L, 1L, 2L))
    assert(SnapshotTable.versions(root) === Seq(3L))
    assert(SnapshotTable.read(spark, root)
      .filter(col("tag") === "t3").count() === 12)

    // an unpartitioned base cannot be inherited from — loud failure,
    // never silent row loss
    val plainRoot = Files.createTempDirectory("graft-delta-plain").toString
    SnapshotTable.commit(rows("p0", Seq("2024-01-01")), plainRoot)
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.commitDelta(rows("p1", Seq("2024-01-01")), plainRoot, "dt")
    }
    assert(e.getMessage.contains("partition"))
  }

  test("partition spec is table metadata: recorded at create, mismatches throw") {
    val root = Files.createTempDirectory("graft-spec").toString
    val df = Seq(("a", java.sql.Date.valueOf("2024-01-01"), 1))
      .toDF("key", "dt", "other")
    SnapshotTable.commitDelta(df, root, "dt")
    assert(SnapshotTable.partitionSpec(root) === Some("dt"))

    // a commit supplying a different partition column must fail clean
    // (no orphan version claim left behind) instead of silently
    // fragmenting the manifest into two partition namespaces
    val before = SnapshotTable.versions(root)
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.commitAppend(df, root, "other")
    }
    assert(e.getMessage.contains("partitioned by 'dt'"))
    assert(SnapshotTable.versions(root) === before)

    // the recorded spec keeps working for matching commits
    SnapshotTable.commitAppend(
      Seq(("b", java.sql.Date.valueOf("2024-01-02"), 2))
        .toDF("key", "dt", "other"), root, "dt")
    assert(SnapshotTable.read(spark, root).count() === 2)
    // unmanifested full-snapshot tables carry no spec
    val plain = Files.createTempDirectory("graft-spec-plain").toString
    SnapshotTable.commit(df, plain)
    assert(SnapshotTable.partitionSpec(plain) === None)
  }

  test("deleteWhere prunes to matching partitions and drops emptied ones") {
    val root = Files.createTempDirectory("graft-delete").toString
    val df = Seq(
      ("a1", "u1", java.sql.Date.valueOf("2024-01-01")),
      ("a2", "u2", java.sql.Date.valueOf("2024-01-01")),
      ("b1", "u1", java.sql.Date.valueOf("2024-01-02")),
      ("c1", "u3", java.sql.Date.valueOf("2024-01-03")),
      ("c2", "u3", java.sql.Date.valueOf("2024-01-03"))
    ).toDF("key", "user", "dt")
    SnapshotTable.commitDelta(df, root, "dt")

    // GDPR-delete user u1: only the two touched dates are rewritten,
    // 2024-01-03 is inherited untouched
    val v = SnapshotTable.deleteWhere(spark, root, "dt", col("user") === "u1")
    val after = SnapshotTable.read(spark, root)
    assert(after.count() === 3)
    assert(after.filter(col("user") === "u1").count() === 0)
    val m = SnapshotTable.manifest(root, v)
    assert(m("dt=2024-01-03") === 0L, "untouched partition inherited")
    // 2024-01-02 held ONLY u1 rows: its entry must be gone, not
    // resurrected from the base manifest
    assert(!m.contains("dt=2024-01-02"))
    assert(m("dt=2024-01-01") === v)
    // time travel still serves the pre-delete snapshot
    assert(SnapshotTable.read(spark, root, 0L).count() === 5)
    // no match: published state unchanged
    assert(SnapshotTable.deleteWhere(spark, root, "dt",
      col("user") === "nobody") === v)
    // null predicate rows are kept (SQL DELETE semantics)
    assert(SnapshotTable.deleteWhere(spark, root, "dt",
      when(col("user") === "u3", lit(null).cast("boolean"))
        .otherwise(col("user") === "u2")) > v)
    assert(SnapshotTable.read(spark, root).select("key").collect()
      .map(_.getString(0)).sorted.toSeq === Seq("c1", "c2"))
  }

  test("mergeDeltaCommit merges only touched partitions, untouched move zero bytes") {
    val root = Files.createTempDirectory("graft-merge-delta").toString
    val df = Seq(
      ("a1", 10, java.sql.Date.valueOf("2024-01-01")),
      ("b1", 20, java.sql.Date.valueOf("2024-01-02")),
      ("c1", 30, java.sql.Date.valueOf("2024-01-03"))
    ).toDF("key", "x", "dt")
    SnapshotTable.commitDelta(df, root, "dt")

    // source updates a1 and inserts a3, both on 2024-01-01
    val src = Seq(
      ("a1", 11, java.sql.Date.valueOf("2024-01-01")),
      ("a3", 12, java.sql.Date.valueOf("2024-01-01"))
    ).toDF("key", "x", "dt")
    val v = SnapshotTable.mergeDeltaCommit(spark, root, src, "key", "dt")
    val after = SnapshotTable.read(spark, root)
    assert(after.count() === 4)
    assert(after.filter(col("key") === "a1").head().getInt(1) === 11)
    assert(after.filter(col("key") === "a3").head().getInt(1) === 12)
    assert(after.filter(col("key") === "b1").head().getInt(1) === 20)
    val m = SnapshotTable.manifest(root, v)
    assert(m("dt=2024-01-01") === v)
    assert(m("dt=2024-01-02") === 0L && m("dt=2024-01-03") === 0L,
      "untouched partitions inherited by reference")
    // empty source: no-op
    assert(SnapshotTable.mergeDeltaCommit(spark, root,
      src.limit(0), "key", "dt") === v)
  }

  test("schema evolution: appended columns surface null-filled over old files") {
    val root = Files.createTempDirectory("graft-schevo").toString
    val df = Seq(("a", 1, "p0"), ("b", 2, "p1")).toDF("k", "x", "p")
    SnapshotTable.commitDelta(df, root, "p")

    // an appended batch carries a NEW column: the recorded table
    // schema evolves, readers see it null-filled over older files
    val evolved = Seq(("c", 3, "extra", "p0")).toDF("k", "x", "y", "p")
    val v1 = SnapshotTable.commitAppend(evolved, root, "p")
    val r = SnapshotTable.read(spark, root)
    // the partition column lands last in the scan output regardless of
    // recorded-schema order; data columns keep base-first order
    assert(r.columns.toSeq === Seq("k", "x", "y", "p"))
    assert(r.filter(col("y").isNull).count() === 2)
    assert(r.filter(col("y") === "extra").select("k").head().getString(0) === "c")

    // a later delta WITHOUT the new column must not lose it again:
    // add-column evolution is monotone (MergeUpsert widening semantics)
    SnapshotTable.commitDelta(Seq(("b2", 9, "p1")).toDF("k", "x", "p"),
      root, "p")
    val r2 = SnapshotTable.read(spark, root)
    assert(r2.columns.sorted.toSeq === Seq("k", "p", "x", "y"))
    assert(r2.count() === 3)
    // time travel reads each version under ITS recorded schema
    assert(SnapshotTable.read(spark, root, 0L).columns.toSeq
      === Seq("k", "x", "p"))
    assert(SnapshotTable.recordedSchema(root, v1).get.fieldNames.contains("y"))
  }

  test("change feed classifies inserts, deletes, and update pre/post images") {
    val root = Files.createTempDirectory("graft-snap-cdf").toString
    SnapshotTable.commit(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), root)
    SnapshotTable.commit(
      Seq((1L, "a"), (2L, "B"), (4L, "d")).toDF("id", "v"), root)
    val ch = SnapshotTable.changes(spark, root, "id", 0L, 1L).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("_change_type")) ->
        r.getAs[String]("v")).toMap
    assert(ch.size === 4) // unchanged id=1 emits nothing
    assert(ch((4L, "insert")) === "d")
    assert(ch((3L, "delete")) === "c")
    assert(ch((2L, "update_preimage")) === "b")
    assert(ch((2L, "update_postimage")) === "B")
    assert(SnapshotTable.changes(spark, root, "id", 0L, 1L)
      .head().getAs[Long]("_commit_version") === 1L)
  }
}
