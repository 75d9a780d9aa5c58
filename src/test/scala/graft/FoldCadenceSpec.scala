package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.streaming.OutputMode

import graft.operators.{Catalog, SnapshotTable}
import graft.streaming.GovernedStream

/** The automatic equality-delete fold cadence (VERDICT r10 #7): a
  * long-running upsert stream lands one `_eqdeletes` sidecar per
  * trigger and each unfolded sidecar taxes EVERY read with a
  * broadcast anti-join — the sinks fold once
  * [[SnapshotTable.morDebt]] crosses their threshold, keeping live
  * sidecars (and the read plan's anti-join count) bounded no matter
  * how long the stream runs. */
class FoldCadenceSpec extends graft.GraftSuite {
  import spark.implicits._

  test("connector Update sink keeps live sidecars under the fold threshold") {
    val root =
      Files.createTempDirectory("graft-foldsink").toString + "/t"
    val sink = GraftStreaming.sinkOf(Map(
        "path" -> root, "txnAppId" -> "foldw", "mergeKeys" -> "k",
        "foldThreshold" -> "3"), Seq("day"), OutputMode.Update())
    // 10 triggers, each upserting the same two keys with new values
    (0 until 10).foreach { b =>
      sink.addBatch(b.toLong,
        Seq(("a", b.toLong, "d1"), ("b", b * 10L, "d2"))
          .toDF("k", "n", "day"))
      assert(SnapshotTable.morDebt(root) <= 3,
        s"debt unbounded after batch $b")
    }
    // upsert semantics survived the folds
    val rows = SnapshotTable.read(spark, root).orderBy("k")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(rows === Seq(("a", 9L), ("b", 90L)))
    // replay protection walks the published chain THROUGH fold commits
    sink.addBatch(5L, Seq(("a", 555L, "d1")).toDF("k", "n", "day"))
    assert(SnapshotTable.read(spark, root).filter("k = 'a'")
      .head.getLong(1) === 9L)
    // and the read plan's anti-join count stays bounded by the debt
    val plan = SnapshotTable.read(spark, root)
      .queryExecution.executedPlan.toString
    val antiJoins = "LeftAnti".r.findAllIn(plan).size
    assert(antiJoins <= 3, s"plan carries $antiJoins anti-joins:\n$plan")
  }

  test("connector Update sink on a governed table honours foldThreshold") {
    val cat = Files.createTempDirectory("graft-foldgovsink").toString + "/cat"
    Catalog.transactDelta(cat, Seq(("t",
      Seq(("a", -1L, "d1")).toDF("k", "n", "day"), "day")))
    val sink = GraftStreaming.sinkOf(Map(
        "path" -> "t", "catalog" -> cat, "txnAppId" -> "foldw",
        "mergeKeys" -> "k", "foldThreshold" -> "3"),
      Seq("day"), OutputMode.Update())
    def debt = SnapshotTable.morDebt(Catalog.tableRoot(cat, "t"),
      Catalog.tableVersions(cat)("t"))
    (0 until 10).foreach { b =>
      sink.addBatch(b.toLong,
        Seq(("a", b.toLong, "d1"), ("b", b * 10L, "d2"))
          .toDF("k", "n", "day"))
      assert(debt <= 3, s"governed sink debt $debt after batch $b")
    }
    val rows = Catalog.read(spark, cat, "t").orderBy("k")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(rows === Seq(("a", 9L), ("b", 90L)))
    // a replayed batch id is skipped through the fold commits
    sink.addBatch(5L, Seq(("a", 555L, "d1")).toDF("k", "n", "day"))
    assert(Catalog.read(spark, cat, "t").filter("k = 'a'")
      .head.getLong(1) === 9L)
  }

  test("governed upsert stream folds as atomic catalog commits; debt stays bounded") {
    val cat = Files.createTempDirectory("graft-foldgov").toString + "/cat"
    Catalog.transactDelta(cat, Seq(("t",
      Seq(("a", -1L, "d1")).toDF("k", "n", "day"), "day")))
    (0 until 10).foreach { b =>
      val c = GovernedStream.commitUpsertBatch(spark, cat, "t", "day",
        Seq("k"), "src1", b.toLong,
        Seq(("a", b.toLong, "d1"), ("b", b * 10L, "d2"))
          .toDF("k", "n", "day"),
        foldThreshold = 3)
      assert(c.isDefined)
      val tr = Catalog.tableRoot(cat, "t")
      val v = Catalog.tableVersions(cat)("t")
      assert(SnapshotTable.morDebt(tr, v) <= 3,
        s"governed debt unbounded after batch $b")
    }
    val rows = Catalog.read(spark, cat, "t").orderBy("k")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(rows === Seq(("a", 9L), ("b", 90L)))
    // exactly-once: a replayed batch id is skipped even after folds
    assert(GovernedStream.commitUpsertBatch(spark, cat, "t", "day",
      Seq("k"), "src1", 4L,
      Seq(("a", 444L, "d1")).toDF("k", "n", "day"),
      foldThreshold = 3).isEmpty)
    assert(Catalog.read(spark, cat, "t").filter("k = 'a'")
      .head.getLong(1) === 9L)
  }
}
