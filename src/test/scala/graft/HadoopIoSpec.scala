package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Catalog, SnapshotTable}

/** The metadata-IO seam (VERDICT r10 #2): the whole table/catalog
  * protocol — markers, manifests, claims, locks, sidecars — runs
  * through `MetaIO` over the Hadoop FileSystem API, so a warehouse
  * opens by URI (`file://` here; `hdfs://` by the same code path;
  * S3 in catalog-arbitrated mode per the MetaIO scaladoc). These
  * tests address everything by an explicit `file://` URI, which
  * forces the Hadoop branch of the seam end to end. */
class HadoopIoSpec extends GraftSuite {
  import spark.implicits._

  private def uriRoot(prefix: String): String =
    "file://" + Files.createTempDirectory(prefix).toString

  test("snapshot-table protocol end to end over a file:// root") {
    val root = uriRoot("graft-hio") + "/t"
    val df = Seq(("a", 1L, "d1"), ("b", 2L, "d1"), ("c", 3L, "d2"))
      .toDF("k", "n", "day")
    SnapshotTable.commitDelta(df, root, "day", statsCols = Seq("n"))
    assert(SnapshotTable.latestVersion(root) === 0L)
    assert(SnapshotTable.read(spark, root).count() === 3)

    // O(batch) MoR upsert + metadata count + skipping prune, all by URI
    SnapshotTable.upsertMor(spark, root, "day",
      Seq(("b", 20L, "d1"), ("d", 4L, "d2")).toDF("k", "n", "day"),
      Seq("k"))
    assert(SnapshotTable.read(spark, root).orderBy("k")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq ===
      Seq(("a", 1L), ("b", 20L), ("c", 3L), ("d", 4L)))
    val skip = SnapshotTable.readSkipping(spark, root, "n >= 3")
    assert(skip.collect().map(_.getAs[Long]("n")).sorted.toSeq ===
      Seq(3L, 4L, 20L))
    // time travel + rollback work on the URI form
    assert(SnapshotTable.read(spark, root, 0L).count() === 3)
    SnapshotTable.rollback(root, 0L)
    assert(SnapshotTable.read(spark, root).count() === 3)

    // constraints (exclusive-create + atomic-replace metadata files)
    SnapshotTable.addConstraint(spark, root, "pos", "n > 0")
    intercept[IllegalStateException] {
      SnapshotTable.commitAppend(
        Seq(("z", -5L, "d3")).toDF("k", "n", "day"), root, "day")
    }
  }

  test("manifested and kept-file reads over file:// return the plain-path rows") {
    val plain = HadoopIoSpec.scanRows(spark,
      Files.createTempDirectory("graft-hio-nio").toString + "/t")
    assert(plain._2 === Seq("[c,30,d2]", "[d,4,d2]"))
    assert(plain._1.size === 6)
    assert(HadoopIoSpec.scanRows(spark, uriRoot("graft-hio-scan") + "/t")
      === plain)
  }

  test("version claims stay exclusive through the Hadoop branch") {
    val root = uriRoot("graft-hio-claim") + "/t"
    SnapshotTable.commitDelta(
      Seq(("a", 1L, "d1")).toDF("k", "n", "day"), root, "day")
    SnapshotTable.claimVersion(root, 7L)
    intercept[java.util.ConcurrentModificationException] {
      SnapshotTable.claimVersion(root, 7L)
    }
    // branches + refs (tmp + no-replace atomic rename publish)
    SnapshotTable.createTag(root, "t1")
    assert(SnapshotTable.tagVersion(root, "t1") === 0L)
    intercept[IllegalArgumentException] {
      SnapshotTable.createTag(root, "t1")
    }
  }

  test("catalog transactions, time travel, and rollback over file://") {
    val cat = uriRoot("graft-hio-cat") + "/cat"
    Catalog.transact(cat, Seq(
      "a" -> Seq((1L, "x")).toDF("n", "p"),
      "b" -> Seq((2L, "y")).toDF("n", "p")))
    val c0 = Catalog.latestCommit(cat)
    Catalog.transact(cat, Seq("a" -> Seq((10L, "x")).toDF("n", "p")))
    assert(Catalog.latestCommit(cat) === c0 + 1)
    assert(Catalog.read(spark, cat, "a").head.getLong(0) === 10L)
    assert(Catalog.read(spark, cat, "a", c0).head.getLong(0) === 1L)
    Catalog.rollback(cat, c0)
    assert(Catalog.read(spark, cat, "a").head.getLong(0) === 1L)
  }

  test("the SQL catalog opens a warehouse by file:// URI") {
    val wh = uriRoot("graft-hio-sql")
    spark.conf.set("spark.sql.catalog.ghio",
      "graft.sources.GraftSqlCatalog")
    spark.conf.set("spark.sql.catalog.ghio.warehouse", wh)
    try {
      spark.sql("CREATE NAMESPACE ghio.db")
      spark.sql("CREATE TABLE ghio.db.t (k STRING, n BIGINT, p STRING) " +
        "PARTITIONED BY (p)")
      spark.sql("INSERT INTO ghio.db.t VALUES ('a', 1, 'x'), ('b', 2, 'y')")
      assert(spark.sql("SELECT sum(n) FROM ghio.db.t")
        .first.getLong(0) === 3L)
      spark.sql("INSERT INTO ghio.db.t VALUES ('c', 4, 'x')")
      assert(spark.sql("SELECT count(*) FROM ghio.db.t VERSION AS OF 0")
        .first.getLong(0) === 2L)
      // MoR DELETE + a maintenance procedure through the same URI
      spark.sql("DELETE FROM ghio.db.t WHERE k = 'a'")
      assert(spark.sql("SELECT count(*) FROM ghio.db.t")
        .first.getLong(0) === 2L)
      spark.sql("CALL ghio.system.apply_deletes('db.t')")
      assert(spark.sql("SELECT count(*) FROM ghio.db.t")
        .first.getLong(0) === 2L)
      assert(spark.sql("SHOW TABLES IN ghio.db").count() === 1)
    } finally spark.conf.unset("spark.sql.catalog.ghio")
  }
}

object HadoopIoSpec {

  /** A manifested table built at `root` by a delta commit, an append
    * and a merge-on-read upsert (so scans resolve a position delete):
    * every live row, and the rows of its `day=d2` files read alone by
    * `readFiles`, each sorted. */
  def scanRows(spark: SparkSession, root: String): (Seq[String], Seq[String]) = {
    import spark.implicits._
    SnapshotTable.commitDelta(Seq(("a", 1L, "d1"), ("b", 2L, "d1"),
      ("c", 3L, "d2")).toDF("k", "n", "day"), root, "day",
      statsCols = Seq("n"))
    SnapshotTable.commitAppend(
      Seq(("d", 4L, "d2"), ("e", 5L, "d3")).toDF("k", "n", "day"), root, "day")
    SnapshotTable.upsertMor(spark, root, "day",
      Seq(("c", 30L, "d2"), ("f", 6L, "d1")).toDF("k", "n", "day"), Seq("k"))
    val v = SnapshotTable.latestVersion(root)
    def rows(df: DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq.sorted
    (rows(SnapshotTable.read(spark, root)),
      rows(SnapshotTable.readFiles(spark, root, v,
        SnapshotTable.liveFiles(root, v).filter(_.contains("day=d2")))))
  }
}
