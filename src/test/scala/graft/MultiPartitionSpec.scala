package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Catalog, Maintenance, SnapshotTable}

/** MULTI-column partition specs (Iceberg multi-field layouts): a
  * comma-joined spec like `days(ts),bucket(4,product)` nests one
  * directory level per field; every field prunes independently,
  * derived fields stay hidden, and the value-addressed ops
  * (delete/compaction/migration) resolve rows through the full
  * nested directory path. */
class MultiPartitionSpec extends GraftSuite {
  import spark.implicits._

  private def trades: DataFrame =
    (0L until 200L).map { i =>
      (i, s"p${i % 5}", (i % 10) + 1, i * 1.5)
    }.toDF("id", "product", "day", "price")
      .withColumn("ts", expr(
        "cast(concat('2024-01-', lpad(day, 2, '0'), ' 12:00:00') " +
          "as timestamp_ntz) + make_interval(0,0,0,0,0,0, id)"))
      .drop("day")

  test("two-level layout: nested dirs, both fields hidden or restored, both prune") {
    val root = Files.createTempDirectory("graft-mp").toString
    SnapshotTable.commitDelta(trades, root, "days(ts),bucket(4,product)")
    assert(SnapshotTable.partitionSpec(root) ===
      Some("days(ts),bucket(4,product)"))
    val m = SnapshotTable.manifestEntries(root,
      SnapshotTable.latestVersion(root))
    assert(m.forall { case (p, _) =>
      p.matches("ts_day=[^/]+/product_bucket=\\d+") }, m.take(3).toString)

    val back = SnapshotTable.read(spark, root)
    assert(back.columns.sorted.toSeq === Seq("id", "price", "product", "ts"))
    assert(back.count() === 200)

    // a predicate on BOTH source columns prunes on BOTH levels
    val pred = "ts >= timestamp'2024-01-03 00:00:00' AND " +
      "ts < timestamp'2024-01-05 00:00:00' AND product = 'p2'"
    val pruned = SnapshotTable.readSkipping(spark, root, pred)
    val full = back.filter(expr(pred))
    assert(pruned.collect().toSet === full.collect().toSet)
    assert(pruned.inputFiles.forall(f =>
      (f.contains("ts_day=2024-01-03") || f.contains("ts_day=2024-01-04"))
        && f.contains("product_bucket=")), pruned.inputFiles.take(3).toSeq)
    // day pruning alone would keep 4 buckets; the bucket probe keeps 1
    assert(pruned.inputFiles
      .map(_.replaceAll("/[^/]*$", "")).distinct.length <= 2)
  }

  test("identity + transform mix: the identity field is real data, the derived one hidden") {
    val root = Files.createTempDirectory("graft-mp-mix").toString
    SnapshotTable.commitDelta(trades, root, "product,days(ts)")
    val back = SnapshotTable.read(spark, root)
    assert(back.columns.contains("product") &&
      !back.columns.contains("ts_day"))
    assert(back.select(countDistinct("product")).head.getLong(0) === 5)
    val pruned = SnapshotTable.readSkipping(spark, root,
      "product = 'p1' AND ts < timestamp'2024-01-02 00:00:00'")
    assert(pruned.count() ===
      back.filter(col("product") === "p1" &&
        col("ts") < expr("timestamp'2024-01-02 00:00:00'")).count())
    assert(pruned.inputFiles.forall(f =>
      f.contains("product=p1") && f.contains("ts_day=2024-01-01")))
  }

  test("deleteWhere and compactAppends address rows through the nested dir path") {
    val root = Files.createTempDirectory("graft-mp-ops").toString
    SnapshotTable.commitDelta(trades, root, "days(ts),bucket(4,product)")
    SnapshotTable.deleteWhere(spark, root, "days(ts),bucket(4,product)",
      col("id") % 4 === 1)
    assert(SnapshotTable.read(spark, root).count() === 150)

    val extra = trades.filter(col("id") < 10)
    (0 until 4).foreach { i =>
      SnapshotTable.commitAppend(
        extra.withColumn("id", col("id") + 1000 + i * 100), root,
        "days(ts),bucket(4,product)")
    }
    val preRows = SnapshotTable.read(spark, root).collect().toSet
    val cv = Maintenance.compactAppends(spark, root,
      "days(ts),bucket(4,product)")
    assert(cv > 0)
    assert(SnapshotTable.manifestEntries(root, cv)
      .groupBy(_._1).forall(_._2.size == 1))
    assert(SnapshotTable.read(spark, root).collect().toSet === preRows)

    // a governed table compacts the same nested layout
    val cat = governedAppends("days(ts),bucket(4,product)",
      trades +: (0 until 4).map(i =>
        extra.withColumn("id", col("id") + 1000 + i * 100)))
    assert(governedEntries(cat).values.max >= 4)
    val govRows = Catalog.read(spark, cat, "t").collect().toSet
    Catalog.compactTable(spark, cat, "t", "days(ts),bucket(4,product)")
    assert(governedEntries(cat).values.forall(_ == 1))
    assert(Catalog.read(spark, cat, "t").collect().toSet === govRows)
  }

  test("evolution from single to multi-column spec; migration folds to the new layout") {
    val root = Files.createTempDirectory("graft-mp-evo").toString
    SnapshotTable.commitDelta(trades.filter(col("id") < 120), root,
      "product")
    SnapshotTable.evolvePartitionSpec(root, "days(ts),product")
    SnapshotTable.commitAppend(trades.filter(col("id") >= 120), root,
      "days(ts),product")
    assert(SnapshotTable.read(spark, root).count() === 200)
    val mv = SnapshotTable.migrateSpec(spark, root)
    assert(SnapshotTable.manifestEntries(root, mv)
      .forall(_._1.startsWith("ts_day=")))
    assert(SnapshotTable.read(spark, root).count() === 200)
  }

  test("duplicate fields and malformed multi specs fail loudly") {
    intercept[IllegalArgumentException] {
      SnapshotTable.commitDelta(trades,
        Files.createTempDirectory("graft-mp-bad").toString,
        "days(ts),days(ts)")
    }
    intercept[IllegalArgumentException] {
      SnapshotTable.commitDelta(trades,
        Files.createTempDirectory("graft-mp-bad2").toString,
        "days(ts),bucket(x,product)")
    }
  }
}
