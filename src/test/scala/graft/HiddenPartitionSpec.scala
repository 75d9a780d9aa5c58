package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Catalog, Maintenance, SnapshotTable}

/** Hidden partitioning (Iceberg partition transforms): a partition
  * spec of `days(ts)` / `bucket(n,col)` / `truncate(w,col)` derives
  * the directory value at WRITE time — the source column stays in the
  * data files, readers never see the derived field, and predicates on
  * the SOURCE column prune transform directories in `readSkipping`
  * without the query ever naming the layout. */
class HiddenPartitionSpec extends GraftSuite {
  import spark.implicits._

  // 100 rows over 10 days of January 2024, 5 products, ids 0..99
  private def trades: DataFrame =
    (0L until 100L).map { i =>
      (i, s"p${i % 5}", (i % 10) + 1, i * 1.5)
    }.toDF("id", "product", "day", "price")
      .withColumn("ts", expr(
        "cast(concat('2024-01-', lpad(day, 2, '0'), ' 12:00:00') " +
          "as timestamp_ntz) + make_interval(0,0,0,0,0,0, id)"))
      .drop("day")

  test("days(ts): derived field hidden, source preserved, day dirs pruned by ts predicates") {
    val root = Files.createTempDirectory("graft-hp-days").toString
    SnapshotTable.commitDelta(trades, root, "days(ts)")
    assert(SnapshotTable.partitionSpec(root) === Some("days(ts)"))
    // the layout is ts_day=... directories...
    val m = SnapshotTable.manifestEntries(root, SnapshotTable.latestVersion(root))
    assert(m.nonEmpty && m.forall(_._1.startsWith("ts_day=")), m.toString)
    // ...but readers never see the derived field, and the source
    // column round-trips untouched
    val back = SnapshotTable.read(spark, root)
    assert(back.columns.sorted.toSeq === Seq("id", "price", "product", "ts"))
    assert(back.count() === 100)
    assert(back.select(max(col("ts")).cast("string")).head.getString(0)
      .startsWith("2024-01-10"))

    // a predicate on ts — NOT on any layout column — prunes day dirs
    val pred = "ts >= timestamp'2024-01-03 00:00:00' AND " +
      "ts < timestamp'2024-01-05 00:00:00'"
    val pruned = SnapshotTable.readSkipping(spark, root, pred)
    val full = SnapshotTable.read(spark, root).filter(expr(pred))
    assert(pruned.inputFiles.length < back.inputFiles.length,
      "hidden-partition pruning read every file")
    assert(pruned.inputFiles.forall(f =>
      f.contains("ts_day=2024-01-03") || f.contains("ts_day=2024-01-04")))
    assert(pruned.collect().toSet === full.collect().toSet)
  }

  test("days(ts): strict boundary — ts < midnight excludes that day's directory") {
    val root = Files.createTempDirectory("graft-hp-bound").toString
    SnapshotTable.commitDelta(trades, root, "days(ts)")
    val pred = "ts < timestamp'2024-01-03 00:00:00'"
    val pruned = SnapshotTable.readSkipping(spark, root, pred)
    assert(!pruned.inputFiles.exists(_.contains("ts_day=2024-01-03")))
    assert(pruned.count() === 20) // days 1-2
    // ...and an exact-midnight row belongs to ITS day (>= keeps it)
    val pred2 = "ts >= timestamp'2024-01-03 12:00:00'"
    val p2 = SnapshotTable.readSkipping(spark, root, pred2)
    assert(p2.inputFiles.exists(_.contains("ts_day=2024-01-03")))
    assert(!p2.inputFiles.exists(_.contains("ts_day=2024-01-02")))
    assert(p2.count() ===
      SnapshotTable.read(spark, root).filter(expr(pred2)).count())
  }

  test("bucket(n,col): equality and IN probes prune to their buckets, cross-type literals included") {
    val root = Files.createTempDirectory("graft-hp-bucket").toString
    SnapshotTable.commitDelta(trades, root, "bucket(8,product)")
    val all = SnapshotTable.read(spark, root)
    assert(!all.columns.contains("product_bucket"))
    assert(all.count() === 100)

    val pruned = SnapshotTable.readSkipping(spark, root, "product = 'p3'")
    assert(pruned.inputFiles.length < all.inputFiles.length)
    assert(pruned.select("id").as[Long].collect().toSet ===
      (0L until 100L).filter(_ % 5 == 3).toSet)

    // IN over two products: at most two bucket dirs survive
    val in2 = SnapshotTable.readSkipping(spark, root,
      "product IN ('p0', 'p4')")
    assert(in2.inputFiles.map(_.replaceAll("/[^/]*$", ""))
      .distinct.length <= 2)
    assert(in2.count() === 40)

    // an INT literal against a LONG bucket column must cast before
    // hashing (an int-vs-long murmur mismatch would falsely refute)
    val root2 = Files.createTempDirectory("graft-hp-bucket2").toString
    SnapshotTable.commitDelta(trades, root2, "bucket(8,id)")
    val byId = SnapshotTable.readSkipping(spark, root2, "id = 42")
    assert(byId.select("id").as[Long].collect().toSeq === Seq(42L))
    assert(byId.inputFiles.length <
      SnapshotTable.read(spark, root2).inputFiles.length)
  }

  test("truncate(w,col): integral ranges and string prefixes prune") {
    val root = Files.createTempDirectory("graft-hp-trunc").toString
    SnapshotTable.commitDelta(trades, root, "truncate(20,id)")
    val pruned = SnapshotTable.readSkipping(spark, root,
      "id >= 45 AND id < 55")
    assert(pruned.inputFiles.forall(_.contains("id_trunc=40")),
      pruned.inputFiles.mkString(", "))
    assert(pruned.select("id").as[Long].collect().toSet ===
      (45L until 55L).toSet)
    assert(pruned.inputFiles.length <
      SnapshotTable.read(spark, root).inputFiles.length)

    val roots = Files.createTempDirectory("graft-hp-truncs").toString
    SnapshotTable.commitDelta(trades.withColumn("tag",
      concat(col("product"), lit("-x"), col("id"))), roots,
      "truncate(2,tag)")
    val sPruned = SnapshotTable.readSkipping(spark, roots,
      "tag = 'p2-x42'")
    assert(sPruned.inputFiles.forall(_.contains("tag_trunc=p2")))
    assert(sPruned.count() === 1)
    assert(sPruned.inputFiles.length <
      SnapshotTable.read(spark, roots).inputFiles.length)
  }

  test("row-level ops and maintenance work over a transform layout") {
    val root = Files.createTempDirectory("graft-hp-ops").toString
    SnapshotTable.commitDelta(trades, root, "days(ts)")
    // copy-on-write delete computes its touched set through the
    // DERIVED value
    SnapshotTable.deleteWhere(spark, root, "days(ts)",
      col("id") % 10 === 3)
    val after = SnapshotTable.read(spark, root)
    assert(after.count() === 90)
    assert(!after.columns.contains("ts_day"))

    // appends fragment a day partition; compaction folds it back
    val extra = trades.filter(col("id") < 10)
      .withColumn("id", col("id") + 1000)
    (0 until 4).foreach { i =>
      SnapshotTable.commitAppend(
        extra.withColumn("id", col("id") + i * 100), root, "days(ts)")
    }
    val frag = SnapshotTable.manifestEntries(root,
      SnapshotTable.latestVersion(root)).groupBy(_._1).mapValues(_.size)
    assert(frag.values.max >= 4, frag.toString)
    val preRows = SnapshotTable.read(spark, root).collect().toSet
    val cv = Maintenance.compactAppends(spark, root, "days(ts)")
    assert(cv > 0)
    val postM = SnapshotTable.manifestEntries(root, cv)
      .groupBy(_._1).mapValues(_.size)
    assert(postM.values.max === 1)
    assert(SnapshotTable.read(spark, root).collect().toSet === preRows)

    // a governed table compacts the same transform layout
    val cat = governedAppends("days(ts)",
      trades +: (0 until 4).map(i => extra.withColumn("id", col("id") + i * 100)))
    assert(governedEntries(cat).values.max >= 4)
    val govRows = Catalog.read(spark, cat, "t").collect().toSet
    Catalog.compactTable(spark, cat, "t", "days(ts)")
    assert(governedEntries(cat).values.max === 1)
    assert(Catalog.read(spark, cat, "t").collect().toSet === govRows)
  }

  test("spec evolution identity -> days(ts): mixed-era read, then migrate to single era") {
    val root = Files.createTempDirectory("graft-hp-evo").toString
    SnapshotTable.commitDelta(trades.filter(col("id") < 60),
      root, "product")
    SnapshotTable.evolvePartitionSpec(root, "days(ts)")
    SnapshotTable.commitAppend(trades.filter(col("id") >= 60),
      root, "days(ts)")
    val mixed = SnapshotTable.read(spark, root)
    assert(mixed.count() === 100)
    assert(!mixed.columns.contains("ts_day"))
    // migrate: the table becomes single-era under ts_day dirs
    val mv = SnapshotTable.migrateSpec(spark, root)
    val m = SnapshotTable.manifestEntries(root, mv)
    assert(m.forall(_._1.startsWith("ts_day=")), m.toString)
    assert(SnapshotTable.read(spark, root).count() === 100)
  }

  test("the transform SOURCE column is a layout column: rename/drop refused; malformed specs fail loudly") {
    val root = Files.createTempDirectory("graft-hp-guard").toString
    SnapshotTable.commitDelta(trades, root, "days(ts)")
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.renameColumn(spark, root, "ts", "event_ts")
    }
    assert(e.getMessage.contains("layout"))
    // a non-layout column still renames fine
    SnapshotTable.renameColumn(spark, root, "price", "px")
    assert(SnapshotTable.read(spark, root).columns.contains("px"))

    intercept[IllegalArgumentException] {
      SnapshotTable.commitDelta(trades, Files
        .createTempDirectory("graft-hp-bad").toString, "days(ts")
    }
    intercept[IllegalArgumentException] {
      SnapshotTable.commitDelta(trades, Files
        .createTempDirectory("graft-hp-bad2").toString, "bucket(product)")
    }
  }

  test("days(ts) on an instant column is session-timezone-proof (UTC derivation)") {
    val root = Files.createTempDirectory("graft-hp-tz").toString
    val tz = spark.conf.get("spark.sql.session.timeZone")
    try {
      // WRITE in one zone: the directory layout must still be the UTC
      // day of the instant (Iceberg's days() rule), never the session
      // zone's day
      spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
      val df = spark.range(48).select(col("id"), expr(
        // 48 hourly instants from 2024-01-01T00:00Z, as TIMESTAMP (ltz)
        "timestamp_micros(1704067200000000L + id * 3600000000L)").as("ts"))
      SnapshotTable.commitDelta(df, root, "days(ts)")
      val dirs = SnapshotTable.manifestEntries(root,
        SnapshotTable.latestVersion(root)).map(_._1).distinct.sorted
      assert(dirs === Seq("ts_day=2024-01-01", "ts_day=2024-01-02"))
      // READ in a third zone: pruning must reconstruct the writer's
      // UTC bounds — a session-zone reconstruction would refute the
      // matching file and silently drop the row
      spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
      val pred = "ts = timestamp'2024-01-02 05:00:00'" // 2024-01-01T20:00Z
      val full = SnapshotTable.read(spark, root).filter(expr(pred)).collect()
      val pruned = SnapshotTable.readSkipping(spark, root, pred).collect()
      assert(full.length === 1)
      assert(pruned.toSet === full.toSet)
    } finally spark.conf.set("spark.sql.session.timeZone", tz)
  }

  test("truncate(w,name): probe literals truncate by code points, matching Spark's substring") {
    // 😀 is U+1F600 (two UTF-16 units, ONE code point): the write side
    // derives the dir value with Spark's substring (code points), so
    // the probe literal must truncate identically or a matching file
    // is falsely refuted. (The container JVM's POSIX locale can't
    // WRITE emoji dirs, so this pins the literal path directly against
    // Spark's own substring evaluation.)
    for ((s, w) <- Seq(("😀ab", 2), ("a😀b", 2),
        ("😀", 3), ("plain", 3), ("", 2))) {
      val sparkSide = spark.sql(
        s"SELECT substring(x, 1, $w) FROM VALUES ('$s') AS t(x)")
        .head.getString(0)
      assert(SnapshotTable.truncateLiteral(s, w) === sparkSide,
        s"literal '$s' w=$w")
    }
    // String.take (the old code) disagrees on the supplementary case —
    // the exact bug class this pins against
    assert("😀ab".take(2) !==
      SnapshotTable.truncateLiteral("😀ab", 2))
  }
}
