package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{Layout, SnapshotTable}

/** Manifest column-stats data skipping: per-file min/max recorded at
  * commit/append time, readSkipping prunes files a predicate's bounds
  * refute — IO-asserted (files read < files present) and always
  * answer-identical to the unpruned read. */
class DataSkippingSpec extends GraftSuite {
  import spark.implicits._

  private def rangedTable: (String, org.apache.spark.sql.DataFrame) = {
    val root = Files.createTempDirectory("graft-skip").toString
    val df = (0L until 8000L).map(i => (i, s"grp${i % 4}", i * 2.5))
      .toDF("id", "grp", "score")
      .repartitionByRange(8, col("id"))
    SnapshotTable.commit(df, root, statsCols = Seq("id", "score"))
    (root, df)
  }

  test("selective predicate reads fewer files, identical answer") {
    val (root, _) = rangedTable
    val full = SnapshotTable.read(spark, root)
    val skip = SnapshotTable.readSkipping(spark, root, "id <= 900")
    assert(full.inputFiles.length === 8)
    // 8000 ids range-partitioned over 8 files → ids ≤ 900 live in 1-2
    assert(skip.inputFiles.length < full.inputFiles.length)
    assert(skip.inputFiles.length >= 1)
    val expect = full.filter(col("id") <= 900).collect().map(_.toSeq).toSet
    assert(skip.collect().map(_.toSeq).toSet === expect)
    assert(skip.count() === 901)
  }

  test("AND/OR/IN/equality compose; unsupported predicates keep all files") {
    val (root, _) = rangedTable
    val full = SnapshotTable.read(spark, root)
    def check(pred: String): Long = {
      val skip = SnapshotTable.readSkipping(spark, root, pred)
      assert(skip.collect().map(_.toSeq).toSet ===
        full.filter(expr(pred)).collect().map(_.toSeq).toSet, pred)
      skip.inputFiles.length.toLong
    }
    assert(check("id >= 7000 AND score < 19000.0") < 8)
    assert(check("id < 500 OR id > 7500") < 8)
    assert(check("id = 4242") <= 2)
    assert(check("id IN (1, 7999)") < 8)
    assert(check("7000 <= id") < 8) // reversed literal side
    // non-monotone fragment: conservative, no pruning, still correct
    assert(check("grp LIKE 'grp1%'") === 8)
    // uncovered column: no stats recorded for grp equality
    assert(check("grp = 'grp2'") === 8)
  }

  test("bounds-refuted everything: zero files scanned, schema intact") {
    val (root, _) = rangedTable
    val skip = SnapshotTable.readSkipping(spark, root, "id > 1000000")
    assert(skip.inputFiles.isEmpty)
    assert(skip.count() === 0)
    assert(skip.columns.toSeq === Seq("id", "grp", "score"))
  }

  test("collectStats backfills sidecars: skipping and fast counts turn on retroactively") {
    // a table committed with NO statsCols: skipping prunes nothing
    val root = Files.createTempDirectory("graft-skip-bf").toString
    val df = (0L until 4000L).map(i => (i, s"g${i % 2}", i * 1.5))
      .toDF("id", "grp", "score").repartitionByRange(4, col("id"))
    SnapshotTable.commit(df, root)
    assert(SnapshotTable.readSkipping(spark, root, "id <= 100")
      .inputFiles.length === 4) // no bounds recorded: nothing to prune by
    assert(SnapshotTable.fastBounds(spark, root, "id").isEmpty)

    // ANALYZE: one pass over the existing files, zero data rewritten
    val done = SnapshotTable.collectStats(spark, root, Seq("id"))
    assert(done.nonEmpty)
    val skip = SnapshotTable.readSkipping(spark, root, "id <= 100")
    assert(skip.inputFiles.length < 4)
    assert(skip.count() === 101) // answer identical
    assert(SnapshotTable.fastBounds(spark, root, "id")
      === Some((0L, 3999L)))
    assert(SnapshotTable.fastCountMeta(spark, root) === Some(4000L))

    // idempotent: covered columns recompute nothing
    assert(SnapshotTable.collectStats(spark, root, Seq("id")).isEmpty)
    // extending preserves previously recorded columns
    assert(SnapshotTable.collectStats(spark, root, Seq("score")).nonEmpty)
    assert(sidecarTmpLeft(root).isEmpty) // the swap left no tmp dir
    assert(SnapshotTable.readSkipping(spark, root, "id <= 100")
      .inputFiles.length < 4) // id bounds survived the extension
    assert(SnapshotTable.readSkipping(spark, root, "score > 5700.0")
      .inputFiles.length < 4) // and score bounds now prune too
  }

  test("append snapshots skip across storage versions; stat-less files are kept") {
    val root = Files.createTempDirectory("graft-skip-app").toString
    def batch(lo: Long, hi: Long) =
      (lo until hi).map(i => (i, s"d${i % 2}", i * 1.0))
        .toDF("id", "day", "x").repartitionByRange(2, col("id"))
    // first batch WITHOUT stats (pre-skipping era), second and third with
    SnapshotTable.commitAppend(batch(0L, 1000L), root, "day")
    SnapshotTable.commitAppend(batch(1000L, 2000L), root, "day",
      statsCols = Seq("id"))
    SnapshotTable.commitAppend(batch(2000L, 3000L), root, "day",
      statsCols = Seq("id"))
    val full = SnapshotTable.read(spark, root)
    val skip = SnapshotTable.readSkipping(spark, root, "id >= 2500")
    // era-1 files have no stats → kept conservatively; era-3 files that
    // can hold id ≥ 2500 kept; era-2 files all refuted
    assert(skip.inputFiles.length < full.inputFiles.length)
    assert(skip.collect().map(_.toSeq).toSet ===
      full.filter(col("id") >= 2500).collect().map(_.toSeq).toSet)
    assert(skip.count() === 500)
  }

  test("Z-ordered layout skips on EITHER dimension") {
    val root = Files.createTempDirectory("graft-skip-z").toString
    val df = (0 until 10000).map { i =>
      (i.toLong, (i % 100).toDouble, (i / 100).toDouble)
    }.toDF("id", "x", "y")
    SnapshotTable.commit(Layout.zOrdered(df, "x", "y", numFiles = 16),
      root, statsCols = Seq("x", "y"))
    val full = SnapshotTable.read(spark, root)
    assert(full.inputFiles.length === 16)
    val onX = SnapshotTable.readSkipping(spark, root, "x < 10.0")
    val onY = SnapshotTable.readSkipping(spark, root, "y < 10.0")
    // a single-column sort could only prune one of these; the curve
    // layout gives bounded boxes on both
    assert(onX.inputFiles.length < 16, "x-dim should prune")
    assert(onY.inputFiles.length < 16, "y-dim should prune")
    assert(onX.count() === full.filter(col("x") < 10.0).count())
    assert(onY.count() === full.filter(col("y") < 10.0).count())
  }

  test("delta commits record stats for rewritten partitions only") {
    val root = Files.createTempDirectory("graft-skip-delta").toString
    val base = (0L until 2000L).map(i => (i, s"p${i % 2}", i)).toDF("k", "p", "amt")
    SnapshotTable.commitDelta(base, root, "p", statsCols = Seq("amt"))
    // rewrite partition p=p0 with shifted values
    val slice = (0L until 1000L).map(i => (i * 2, "p0", i * 2 + 100000))
      .toDF("k", "p", "amt")
    SnapshotTable.commitDelta(slice, root, "p", statsCols = Seq("amt"))
    val full = SnapshotTable.read(spark, root)
    val skip = SnapshotTable.readSkipping(spark, root, "amt >= 100000")
    assert(skip.inputFiles.length < full.inputFiles.length)
    assert(skip.count() === 1000)
    assert(skip.collect().map(_.toSeq).toSet ===
      full.filter(col("amt") >= 100000).collect().map(_.toSeq).toSet)
  }
}
