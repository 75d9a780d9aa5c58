package graft

import java.nio.file.{FileSystems, Files, Paths, StandardWatchEventKinds}
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.SnapshotTable

/** The commit protocol, checked over EVERY public commit entry point
  * (table-driven): the returned version holds ONE commit record
  * (`_commit`, and never a `_txn` file) naming the base the commit
  * read as its parent, the `_latest` marker moves exactly once and
  * lands on the returned version, the idempotent-writer variants make
  * [[SnapshotTable.lastTxnBatch]] answer their batch, every entry
  * point's record carries its base's writer stamps, and a DML
  * statement matching nothing returns the base without claiming a
  * version directory. */
class CommitProtocolSpec extends GraftSuite {

  import spark.implicits._

  private def seedRows: DataFrame =
    Seq((1L, 10.0, "a"), (2L, 20.0, "a"), (3L, 30.0, "b"))
      .toDF("id", "price", "p")

  private def batch: DataFrame = Seq((4L, 40.0, "a")).toDF("id", "price", "p")

  /** A fresh manifested table partitioned by `p` (one version). */
  private def seeded(): String = {
    val root = Files.createTempDirectory("graft-protocol").toString + "/t"
    SnapshotTable.commitAppend(seedRows, root, "p")
    root
  }

  /** Run `body` counting atomic publishes of `root`'s `_latest`
    * marker (each is a tmp-file rename onto it: one create event). */
  private def markerMoves[A](root: String)(body: => A): (A, Int) = {
    val ws = FileSystems.getDefault.newWatchService()
    try {
      Paths.get(root).register(ws, StandardWatchEventKinds.ENTRY_CREATE)
      val result = body
      var moves = 0
      var key = ws.poll(300, TimeUnit.MILLISECONDS)
      while (key != null) {
        key.pollEvents().asScala
          .filter(_.context().toString == "_latest")
          .foreach(e => moves += e.count())
        key.reset()
        key = ws.poll(300, TimeUnit.MILLISECONDS)
      }
      (result, moves)
    } finally ws.close()
  }

  /** `v=N`'s protocol files are its one record — writer stamps ride
    * it, no `_txn` file ever — and none of the per-file layout it
    * replaced. */
  private def assertOneRecord(root: String, v: Long): Unit = {
    val names = graft.operators.MetaIO.listNames(s"$root/v=$v").toSet
    assert(names.contains("_commit"), names)
    assert(!names.contains("_txn"), names)
    assert((names & Set("_parent", "_committed", "_manifest", "_schema",
      "_fields", "_defaults")).isEmpty, names)
  }

  /** One entry point: `prep` readies the seeded table, `run` commits. */
  private case class Entry(name: String, run: String => Long,
                           prep: String => Unit = _ => (),
                           txn: Option[(String, Long)] = None)

  private val hit = col("id") === 1L

  private val entries = Seq(
    Entry("commit", SnapshotTable.commit(batch, _)),
    Entry("commitDelta", SnapshotTable.commitDelta(
      seedRows.filter(col("p") === "a"), _, "p")),
    Entry("commitAppend", SnapshotTable.commitAppend(batch, _, "p")),
    Entry("commitAppendTxn", SnapshotTable.commitAppendTxn(batch, _, "p",
      "w-append", 7L), txn = Some("w-append" -> 7L)),
    Entry("commitUpsertTxn", SnapshotTable.commitUpsertTxn(batch, _, "p",
      Seq("id"), "w-upsert", 8L), txn = Some("w-upsert" -> 8L)),
    Entry("commitTxn", SnapshotTable.commitTxn(batch, _, "w-full", 9L),
      txn = Some("w-full" -> 9L)),
    Entry("deleteWhere", SnapshotTable.deleteWhere(spark, _, "p", hit)),
    Entry("updateWhere", SnapshotTable.updateWhere(spark, _, "p", hit,
      Seq("price" -> lit(11.0)))),
    Entry("updateWhereMor", SnapshotTable.updateWhereMor(spark, _, "p", hit,
      Seq("price" -> lit(11.0)))),
    Entry("deleteWhereMor", SnapshotTable.deleteWhereMor(spark, _, hit)),
    Entry("deleteEqualityMor", SnapshotTable.deleteEqualityMor(spark, _,
      Seq(3L).toDF("id"))),
    Entry("upsertMor", SnapshotTable.upsertMor(spark, _, "p", batch,
      Seq("id"))),
    Entry("applyDeletes", SnapshotTable.applyDeletes(spark, _),
      prep = r => SnapshotTable.deleteWhereMor(spark, r, hit)),
    Entry("renameColumn", SnapshotTable.renameColumn(spark, _, "price", "px")),
    Entry("dropColumn", SnapshotTable.dropColumn(spark, _, "price")),
    Entry("addColumn", SnapshotTable.addColumn(spark, _, "qty",
      org.apache.spark.sql.types.LongType, Some("0"))),
    Entry("migrateSpec", SnapshotTable.migrateSpec(spark, _),
      prep = r => SnapshotTable.evolvePartitionSpec(r, "id")),
    Entry("commitToBranch(main)",
      SnapshotTable.commitToBranch(batch, _, SnapshotTable.MainBranch)))

  entries.foreach { e =>
    test(s"protocol: ${e.name} stages on its base and publishes once") {
      val root = seeded()
      e.prep(root)
      val base = SnapshotTable.latestVersion(root)
      val before = SnapshotTable.versions(root)
      val (v, moves) = markerMoves(root)(e.run(root))
      assert(v > base)
      assert(SnapshotTable.parentVersion(root, v) === base)
      assert(SnapshotTable.isCommitted(root, v))
      assertOneRecord(root, v)
      assert(SnapshotTable.versions(root) === before :+ v)
      assert(SnapshotTable.latestVersion(root) === v)
      assert(moves === 1, s"${e.name} moved _latest $moves times")
      e.txn.foreach { case (writer, b) =>
        assert(SnapshotTable.lastTxnBatch(root, writer) === Some(b))
      }
    }
  }

  entries.foreach { e =>
    test(s"protocol: ${e.name} carries its base's writer stamps") {
      val root = seeded()
      SnapshotTable.commitAppendTxn(batch, root, "p", "w-base", 3L)
      e.prep(root)
      val v = e.run(root)
      assert(SnapshotTable.txnBatch(root, v, "w-base") === Some(3L))
      e.txn.foreach { case (writer, b) =>
        assert(SnapshotTable.txnBatch(root, v, writer) === Some(b))
      }
    }
  }

  test("protocol: commitToBranch on a side branch moves only its ref") {
    val root = seeded()
    SnapshotTable.createBranch(root, "dev")
    val main = SnapshotTable.latestVersion(root)
    val (v, moves) =
      markerMoves(root)(SnapshotTable.commitToBranch(batch, root, "dev"))
    assert(SnapshotTable.parentVersion(root, v) === main)
    assert(SnapshotTable.isCommitted(root, v))
    assertOneRecord(root, v)
    assert(SnapshotTable.branchVersion(root, "dev") === v)
    assert(SnapshotTable.latestVersion(root) === main)
    assert(moves === 0)
  }

  private val miss = col("id") === 999L

  Seq[(String, String => Long)](
    "deleteWhere" -> (SnapshotTable.deleteWhere(spark, _, "p", miss)),
    "updateWhere" -> (SnapshotTable.updateWhere(spark, _, "p", miss,
      Seq("price" -> lit(0.0)))),
    "updateWhereMor" -> (SnapshotTable.updateWhereMor(spark, _, "p", miss,
      Seq("price" -> lit(0.0)))),
    "deleteWhereMor" -> (SnapshotTable.deleteWhereMor(spark, _, miss))
  ).foreach { case (name, run) =>
    test(s"protocol: a no-match $name returns the base and claims nothing") {
      val root = seeded()
      val base = SnapshotTable.latestVersion(root)
      val before = SnapshotTable.versions(root)
      val (v, moves) = markerMoves(root)(run(root))
      assert(v === base)
      assert(SnapshotTable.versions(root) === before)
      assert(SnapshotTable.latestVersion(root) === base)
      assert(moves === 0)
    }
  }
}
