package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.SnapshotTable

/** Metadata-only COUNT(*): per-file row counts recorded at write time
  * answer the count from the manifest + stats sidecars — no data
  * scan — with position deletes subtracted, pre-counts files scanned
  * as a narrow fallback, and equality deletes falling back to the
  * resolved read. */
class FastCountSpec extends GraftSuite {
  import spark.implicits._

  private def rows(ids: Range) =
    ids.map(i => (i.toLong, s"g${i % 3}", i * 2.0)).toDF("id", "g", "x")

  test("plain, appended, delta, and time-traveled versions count from metadata") {
    val root = Files.createTempDirectory("graft-fc").toString
    SnapshotTable.commit(rows(0 until 50), root)
    assert(SnapshotTable.fastCount(spark, root) === 50)

    val root2 = Files.createTempDirectory("graft-fc2").toString
    SnapshotTable.commitDelta(rows(0 until 60), root2, "g")
    SnapshotTable.commitAppend(rows(100 until 130), root2, "g")
    SnapshotTable.commitAppend(rows(200 until 210), root2, "g")
    assert(SnapshotTable.fastCount(spark, root2) === 100)
    assert(SnapshotTable.fastCount(spark, root2) ===
      SnapshotTable.read(spark, root2).count())
    // time travel counts the old snapshot
    assert(SnapshotTable.fastCount(spark, root2, 0L) === 60)
  }

  test("position deletes subtract; equality deletes fall back to the resolved read") {
    val root = Files.createTempDirectory("graft-fc-mor").toString
    SnapshotTable.commitDelta(rows(0 until 80), root, "g")
    SnapshotTable.deleteWhereMor(spark, root, col("id") % 4 === 0)
    assert(SnapshotTable.fastCount(spark, root) === 60)
    assert(SnapshotTable.fastCount(spark, root) ===
      SnapshotTable.read(spark, root).count())

    // an upsert lands an equality-delete sidecar -> resolved fallback
    SnapshotTable.upsertMor(spark, root, "g",
      rows(0 until 10).withColumn("x", col("x") * 3), Seq("id"))
    assert(SnapshotTable.fastCount(spark, root) ===
      SnapshotTable.read(spark, root).count())
  }

  test("partition values with URI-encoding characters (spaces) count and subtract exactly") {
    // 'NOT SPECIFIED'-style values: the directory name is raw, Spark
    // reports the file as %20-encoded — the decode must reconcile them
    val df = (0 until 90).map(i =>
      (i.toLong, if (i % 3 == 0) "NOT SPECIFIED" else s"P ${i % 3}",
        i * 1.0)).toDF("id", "g", "x")
    val root = Files.createTempDirectory("graft-fc-sp").toString
    SnapshotTable.commitDelta(df, root, "g")
    assert(SnapshotTable.fastCount(spark, root) === 90)
    SnapshotTable.deleteWhereMor(spark, root,
      col("g") === "NOT SPECIFIED" && col("id") % 2 === 0)
    assert(SnapshotTable.fastCount(spark, root) ===
      SnapshotTable.read(spark, root).count())
    // file skipping on the spacey layout stays effective AND exact
    val pruned = SnapshotTable.readSkipping(spark, root, "g = 'P 1'")
    assert(pruned.count() === 30)
    assert(pruned.inputFiles.length <
      SnapshotTable.read(spark, root).inputFiles.length)
  }

  test("fastBounds answers MIN/MAX from stats and refuses when deletes or gaps could lie") {
    val root = Files.createTempDirectory("graft-fb").toString
    SnapshotTable.commitDelta(rows(5 until 45), root, "g",
      statsCols = Seq("id"))
    SnapshotTable.commitAppend(rows(100 until 120), root, "g",
      statsCols = Seq("id"))
    assert(SnapshotTable.fastBounds(spark, root, "id") ===
      Some((5L, 119L)))
    // a column without recorded bounds refuses
    assert(SnapshotTable.fastBounds(spark, root, "x") === None)
    // an unapplied MoR delete could have removed the extremes: refuse
    SnapshotTable.deleteWhereMor(spark, root, col("id") === 119)
    assert(SnapshotTable.fastBounds(spark, root, "id") === None)
    // folding the deletes restores the metadata answer
    SnapshotTable.applyDeletes(spark, root)
    SnapshotTable.fastBounds(spark, root, "id") match {
      case Some((lo, hi)) => assert(lo === 5L && hi === 118L)
      case None =>
        // applyDeletes re-records stats only for statsCols it is told
        // about via sort order; absent that, refusal is the honest
        // answer — accept either, but the count must still be exact
        assert(SnapshotTable.fastCount(spark, root) === 59)
    }
  }

  test("files written before counts existed fall back to a scan of just those files") {
    val root = Files.createTempDirectory("graft-fc-old").toString
    SnapshotTable.commitDelta(rows(0 until 40), root, "g")
    // simulate a pre-counts era: drop version 0's stats sidecar
    val stats = java.nio.file.Paths.get(root, "v=0", "_stats")
    assert(Files.exists(stats), "commit must have recorded counts")
    Files.delete(stats)
    SnapshotTable.commitAppend(rows(100 until 120), root, "g")
    assert(SnapshotTable.fastCount(spark, root) === 60)
  }
}
