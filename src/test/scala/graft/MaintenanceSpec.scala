package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.operators.{Catalog, Maintenance, SnapshotTable}

/** Combined maintenance runner: compaction → expiry → orphan GC. */
class MaintenanceSpec extends GraftSuite {
  import spark.implicits._

  private def mkTable(nVersions: Int, filesPerVersion: Int): String = {
    val root = Files.createTempDirectory("graft-maint").toString
    (1 to nVersions).foreach { i =>
      SnapshotTable.commit(
        (1 to 100).map(j => (j.toLong, s"v$i-$j")).toDF("id", "payload")
          .repartition(filesPerVersion), root)
    }
    root
  }

  test("orphan sweep removes crashed claims, never committed versions") {
    val root = mkTable(2, 2)
    // a writer claims v2 then dies before finishing its data write
    SnapshotTable.claimVersion(root, 2L)
    Files.writeString(Paths.get(root, "v=2", "part-crashed.parquet"), "junk")
    // the claim occupies its number (versions() is the numbering
    // source) but is not committed
    assert(SnapshotTable.versions(root) === Seq(0L, 1L, 2L))
    assert(!SnapshotTable.isCommitted(root, 2L))
    // another dies between its record's tmp write and the rename: data,
    // a `_stats` sidecar and the tmp record, but no record
    SnapshotTable.claimVersion(root, 3L)
    Files.writeString(Paths.get(root, "v=3", "part-0.parquet"), "junk")
    Files.writeString(Paths.get(root, "v=3", "_stats"), "!column _file\t\"string\"")
    Files.writeString(Paths.get(root, "v=3", "._commit.tmp-crashed"),
      "!parent 1\n!manifested\npart=x 3")
    assert(!SnapshotTable.isCommitted(root, 3L))
    assert(SnapshotTable.parentVersion(root, 3L) === -1L)
    assert(SnapshotTable.manifestEntries(root, 3L).isEmpty)
    assert(SnapshotTable.latestVersion(root) === 1L)
    assert(SnapshotTable.read(spark, root).count() === 100)

    // inside the grace window nothing moves
    assert(SnapshotTable.sweepOrphans(root, graceMs = 3600000L) === Seq.empty)
    // past it, exactly the crashed claims go
    assert(SnapshotTable.sweepOrphans(root, graceMs = 0L) === Seq(2L, 3L))
    assert(!Files.exists(Paths.get(root, "v=2")))
    assert(!Files.exists(Paths.get(root, "v=3")))
    assert(SnapshotTable.versions(root) === Seq(0L, 1L))
    // committed versions are stamped and never swept
    assert(SnapshotTable.isCommitted(root, 0L) && SnapshotTable.isCommitted(root, 1L))
    assert(SnapshotTable.sweepOrphans(root, graceMs = 0L) === Seq.empty)
    // the freed number is reusable — the next commit lands where the
    // crash happened and reads fine
    assert(SnapshotTable.commit(Seq((1L, "x")).toDF("id", "payload"), root) === 2L)
    assert(SnapshotTable.read(spark, root).count() === 1)
  }

  test("stale branch locks are swept past the grace window") {
    val root = mkTable(1, 1)
    SnapshotTable.createBranch(root, "dev")
    // simulate a committer that died holding the dev lock
    Files.createDirectories(Paths.get(root, "_refs", ".lock.dev"))
    intercept[java.util.ConcurrentModificationException] {
      SnapshotTable.commitToBranch(Seq((9L, "y")).toDF("id", "payload"), root, "dev")
    }
    assert(SnapshotTable.sweepStaleLocks(root, graceMs = 3600000L) === Seq.empty)
    assert(SnapshotTable.sweepStaleLocks(root, graceMs = 0L) === Seq("dev"))
    // recovered: commits to the branch work again
    SnapshotTable.commitToBranch(Seq((9L, "y")).toDF("id", "payload"), root, "dev")
    assert(SnapshotTable.readBranch(spark, root, "dev").count() === 1)
  }

  test("compactSnapshot rewrites small files as a new version; gate skips healthy tables") {
    val root = mkTable(1, 12)
    assert(spark.read.parquet(s"$root/v=0").inputFiles.length === 12)
    // under the min-input-files gate: no churn
    assert(Maintenance.compactSnapshot(spark, root, targetFiles = 2,
      minInputFiles = 16) === -1L)
    assert(SnapshotTable.latestVersion(root) === 0L)
    // over it: one new 2-file version, same rows, old version intact
    val v = Maintenance.compactSnapshot(spark, root, targetFiles = 2,
      minInputFiles = 8)
    assert(v === 1L && SnapshotTable.latestVersion(root) === 1L)
    val back = SnapshotTable.read(spark, root)
    assert(back.inputFiles.length === 2 && back.count() === 100)
    assert(SnapshotTable.read(spark, root, 0L).count() === 100)
  }

  test("analyze coverage (stats/blooms/NDV) survives compaction") {
    val root = mkTable(1, 12)
    SnapshotTable.collectStats(spark, root, Seq("id"))
    SnapshotTable.collectBlooms(spark, root, Seq("payload"))
    SnapshotTable.collectNdv(spark, root, Seq("id"))
    assert(SnapshotTable.fastBounds(spark, root, "id") === Some((1L, 100L)))
    assert(SnapshotTable.tableNdv(spark, root).get("id").map(_.ndv)
      === Some(100L))
    val v = Maintenance.compactSnapshot(spark, root, targetFiles = 2,
      minInputFiles = 8)
    assert(v === 1L)
    // the fresh storage version re-records everything the old one had
    assert(SnapshotTable.statsCoverage(root).contains("id"))
    assert(SnapshotTable.bloomCoverage(root).contains("payload"))
    assert(SnapshotTable.fastBounds(spark, root, "id") === Some((1L, 100L)))
    assert(SnapshotTable.tableNdv(spark, root).get("id").map(_.ndv)
      === Some(100L))
  }

  test("runCatalog chains compaction, expiry, and GC across tables") {
    val t1 = mkTable(4, 12) // small-file table with history
    val t2 = mkTable(1, 2)  // healthy table
    // t1 also carries a crashed claim and a stale lock
    SnapshotTable.claimVersion(t1, 4L)
    Files.createDirectories(Paths.get(t1, "_refs", ".lock.dev"))

    val rep = Maintenance.runCatalog(spark,
      Seq("trades" -> t1, "products" -> t2),
      targetFiles = 2, minInputFiles = 8, retainLast = 1, graceMs = 0L)
      .collect().map(r => r.getAs[String]("table") -> r).toMap

    // trades: compacted to v5 (v4 was the orphan claim), old versions
    // expired down to retainLast, orphan + lock swept
    val tr = rep("trades")
    assert(tr.getAs[Long]("compactedTo") === 5L)
    assert(SnapshotTable.latestVersion(t1) === 5L)
    assert(tr.getAs[Seq[Long]]("expired") === Seq(0L, 1L, 2L))
    assert(SnapshotTable.versions(t1) === Seq(3L, 5L))
    assert(tr.getAs[Seq[Long]]("orphansRemoved") === Seq(4L))
    assert(tr.getAs[Seq[String]]("staleLocksRemoved") === Seq("dev"))
    val back = SnapshotTable.read(spark, t1)
    assert(back.count() === 100 && back.inputFiles.length === 2)
    // products: healthy — nothing compacted, nothing expired
    val pr = rep("products")
    assert(pr.getAs[Long]("compactedTo") === -1L)
    assert(pr.getAs[Seq[Long]]("expired") === Seq.empty)
    assert(SnapshotTable.versions(t2) === Seq(0L))
    // no MoR deletes anywhere → fold skipped on both tables
    assert(tr.getAs[Long]("deletesFoldedTo") === -1L)
    assert(pr.getAs[Long]("deletesFoldedTo") === -1L)
  }

  test("declared write order: compaction converges appends to a stats-skippable layout") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-maint-sort").toString
    SnapshotTable.setSortOrder(root, Seq("id"))
    // micro-batch appends arrive UNSORTED — ids scattered per batch
    val batches = (0 until 4).map { b =>
      (0L until 1000L).filter(_ % 4 == b)
        .map(i => (i, s"g${i % 2}", i * 3L)).toDF("id", "g", "x")
    }
    batches.foreach(SnapshotTable.commitAppend(_, root, "g"))
    // no stats yet: a range predicate reads every file
    val before = SnapshotTable.readSkipping(spark, root, "id <= 100")
    val allFiles = before.inputFiles.length
    assert(allFiles >= 8)

    val vc = Maintenance.compactAppends(spark, root, "g",
      minEntries = 2, filesPerPartition = 4)
    assert(vc >= 0)
    val after = SnapshotTable.readSkipping(spark, root, "id <= 100")
    assert(after.inputFiles.length <
      SnapshotTable.read(spark, root).inputFiles.length,
      "sorted compaction must make range predicates prune files")
    assert(after.select("id").as[Long].collect().toSet ===
      (0L to 100L).toSet)

    // a governed table declares the order on its table root and
    // compacts to the same skippable layout
    val cat = governedAppends("g", batches)
    val tr = Catalog.tableRoot(cat, "t")
    SnapshotTable.setSortOrder(tr, Seq("id"))
    Catalog.compactTable(spark, cat, "t", "g", minEntries = 2)
    val tv = Catalog.tableVersions(cat)("t")
    val govAfter = SnapshotTable.readSkipping(spark, tr, "id <= 100", tv)
    assert(govAfter.inputFiles.length <
      SnapshotTable.read(spark, tr, tv).inputFiles.length,
      "governed sorted compaction must make range predicates prune files")
    assert(govAfter.select("id").as[Long].collect().toSet ===
      (0L to 100L).toSet)
  }

  test("z-order write order: compaction converges to TWO-dimensional skipping") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-maint-z").toString
    SnapshotTable.setSortOrder(root, Seq("x", "y"), zorder = true)
    // appends arrive scattered on BOTH dimensions
    (0 until 4).foreach { b =>
      val rows = (0L until 1024L).filter(_ % 4 == b)
        .map(i => ((i * 7919L) % 1024L, (i * 104729L) % 1024L, s"g${i % 2}", i))
      SnapshotTable.commitAppend(rows.toDF("x", "y", "g", "id"), root, "g")
    }
    def files(pred: String): Int =
      SnapshotTable.readSkipping(spark, root, pred).inputFiles.length
    val total0 = SnapshotTable.read(spark, root).inputFiles.length
    assert(files("x <= 100") === total0 && files("y <= 100") === total0,
      "no stats yet: nothing prunes")

    assert(Maintenance.compactAppends(spark, root, "g",
      minEntries = 2, filesPerPartition = 4) >= 0)
    val total = SnapshotTable.read(spark, root).inputFiles.length
    // the Morton layout gives every file a tight bounding box in BOTH
    // dimensions — range predicates prune on EITHER column
    assert(files("x <= 100") < total, "x-range must prune after z-order")
    assert(files("y <= 100") < total, "y-range must prune after z-order")
    // and the answers stay identical to the full-scan filter
    assert(SnapshotTable.readSkipping(spark, root, "x <= 100")
      .agg(org.apache.spark.sql.functions.sum("id")).first().getLong(0) ===
      SnapshotTable.read(spark, root).filter("x <= 100")
        .agg(org.apache.spark.sql.functions.sum("id")).first().getLong(0))
    // a single-column declared sort could not have pruned the OTHER
    // dimension: pin the two-dimensional claim by comparing layouts
    val root1 = Files.createTempDirectory("graft-maint-z1").toString
    SnapshotTable.setSortOrder(root1, Seq("x"))
    (0 until 4).foreach { b =>
      val rows = (0L until 1024L).filter(_ % 4 == b)
        .map(i => ((i * 7919L) % 1024L, (i * 104729L) % 1024L, s"g${i % 2}", i))
      SnapshotTable.commitAppend(rows.toDF("x", "y", "g", "id"), root1, "g")
    }
    Maintenance.compactAppends(spark, root1, "g", minEntries = 2,
      filesPerPartition = 4)
    val total1 = SnapshotTable.read(spark, root1).inputFiles.length
    assert(SnapshotTable.readSkipping(spark, root1, "y <= 100")
      .inputFiles.length === total1,
      "x-only sort records no y stats — y-range reads everything")
  }

  test("runCatalog folds MoR delete files before compacting") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-maint-mor").toString
    val df = (0L until 60L).map(i => (i, s"g${i % 3}", i)).toDF("id", "g", "x")
    SnapshotTable.commitDelta(df, root, "g")
    SnapshotTable.deleteWhereMor(spark, root,
      org.apache.spark.sql.functions.col("id") < 10L)

    val rep = Maintenance.runCatalog(spark, Seq("t" -> root),
      targetFiles = 2, minInputFiles = 1000, retainLast = 1, graceMs = 0L)
      .collect().head
    assert(rep.getAs[Long]("deletesFoldedTo") >= 0L)
    val v = SnapshotTable.latestVersion(root)
    assert(SnapshotTable.deleteEntries(root, v).isEmpty)
    assert(SnapshotTable.read(spark, root).count() === 50L)
  }
}
