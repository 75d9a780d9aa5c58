package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.SnapshotTable

/** Per-file bloom-filter skipping: point lookups prune files that
  * min/max bounds cannot (unsorted data — every file's range spans the
  * key space), one-sided (false positives cost IO, never answers). */
class BloomSkippingSpec extends GraftSuite {
  import spark.implicits._

  /** ids hash-scattered across 8 files: every file's [min,max] spans
    * ~the full key range, so bounds never refute a point lookup. */
  private def scatteredTable(bloom: Boolean): String = {
    val root = Files.createTempDirectory("graft-bloom-skip").toString
    val df = (0L until 8000L).map(i => (i, s"u${i}@h.io", i * 2.5))
      .toDF("id", "user", "score")
      .repartition(8, col("id")) // hash layout — unsorted by id
    SnapshotTable.commit(df, root, statsCols = Seq("id"),
      bloomCols = if (bloom) Seq("id", "user") else Seq.empty)
    root
  }

  test("point lookup: bounds alone prune nothing, blooms prune most files") {
    val noBloom = scatteredTable(bloom = false)
    assert(SnapshotTable.readSkipping(spark, noBloom, "id = 4242")
      .inputFiles.length === 8, "min/max can't refute a hash layout")

    val root = scatteredTable(bloom = true)
    val skip = SnapshotTable.readSkipping(spark, root, "id = 4242")
    assert(skip.inputFiles.length < 8,
      "bloom probes must refute most files on a point lookup")
    assert(skip.collect().map(_.toSeq).toSeq ===
      Seq(Seq(4242L, "u4242@h.io", 4242 * 2.5)))
  }

  test("collectBlooms backfills filters: point lookups prune retroactively") {
    val root = scatteredTable(bloom = false)
    assert(SnapshotTable.readSkipping(spark, root, "id = 4242")
      .inputFiles.length === 8) // nothing recorded yet
    assert(SnapshotTable.collectBlooms(spark, root, Seq("id")).nonEmpty)
    val skip = SnapshotTable.readSkipping(spark, root, "id = 4242")
    assert(skip.inputFiles.length < 8)
    assert(skip.collect().map(_.toSeq).toSeq ===
      Seq(Seq(4242L, "u4242@h.io", 4242 * 2.5)))
    // idempotent; extending preserves the recorded column
    assert(SnapshotTable.collectBlooms(spark, root, Seq("id")).isEmpty)
    assert(SnapshotTable.collectBlooms(spark, root, Seq("user")).nonEmpty)
    assert(sidecarTmpLeft(root).isEmpty) // the swap left no tmp dir
    assert(SnapshotTable.readSkipping(spark, root, "id = 4242")
      .inputFiles.length < 8)
    assert(SnapshotTable.readSkipping(spark, root, "user = 'u9@h.io'")
      .inputFiles.length < 8)
  }

  test("IN lists, string columns, and conjuncts compose; absent value → near-zero IO") {
    val root = scatteredTable(bloom = true)
    val full = SnapshotTable.read(spark, root)
    def check(pred: String): Int = {
      val skip = SnapshotTable.readSkipping(spark, root, pred)
      assert(skip.collect().map(_.toSeq).toSet ===
        full.filter(expr(pred)).collect().map(_.toSeq).toSet, pred)
      skip.inputFiles.length
    }
    assert(check("id IN (17, 6033)") < 8)
    assert(check("user = 'u99@h.io'") < 8)
    // conjunct: the equality leaf prunes, the rest filters rows
    assert(check("id = 17 AND score < 100.0") < 8)
    // a value that was never written: every honest bloom refutes it
    // (false positives may keep a file or two — never more)
    assert(check("id = 123456789") <= 2)
    // inequality on a bloomed column: blooms can't help, bounds can't
    // refute the hash layout — all files, still correct
    assert(check("id >= 0") === 8)
  }

  test("blooms ride delta/append commits and never flip answers across versions") {
    val root = Files.createTempDirectory("graft-bloom-delta").toString
    val df = (0L until 2000L).map(i => (i, s"g${i % 2}", i))
      .toDF("id", "g", "x").repartition(4, col("id"))
    SnapshotTable.commitDelta(df, root, "g", bloomCols = Seq("id"))
    SnapshotTable.commitAppend(
      Seq((5000L, "g0", 1L)).toDF("id", "g", "x"), root, "g",
      bloomCols = Seq("id"))
    val skip = SnapshotTable.readSkipping(spark, root, "id = 5000")
    assert(skip.select("id").as[Long].collect().toSeq === Seq(5000L))
    val all = SnapshotTable.readSkipping(spark, root, "id = 1999")
    assert(all.select("id").as[Long].collect().toSeq === Seq(1999L))
  }
}
