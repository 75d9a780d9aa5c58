package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{Maintenance, Serving, SnapshotTable, TableInspect}

/** Metadata inspection tables (the Iceberg `t$snapshots`/`$files`/
  * `$refs`/`$history` ops surface): content matches the protocol
  * state, and every call reads only metadata + a listing. */
class TableInspectSpec extends GraftSuite {
  import spark.implicits._

  test("snapshots/files/refs/history reflect commits, deltas, MoR deletes, refs") {
    val root = Files.createTempDirectory("graft-inspect").toString
    val df = (0L until 40L).map(i => (i, s"g${i % 2}", i * 2L))
      .toDF("id", "g", "x")
    SnapshotTable.commitDelta(df, root, "g", statsCols = Seq("id"))       // v0
    SnapshotTable.commitAppend(
      Seq((100L, "g0", 7L)).toDF("id", "g", "x"), root, "g")              // v1
    val vDel = SnapshotTable.deleteWhereMor(spark, root, col("id") < 3L)  // v2
    SnapshotTable.createTag(root, "rel-1")
    SnapshotTable.createBranch(root, "wip")

    val snaps = TableInspect.snapshots(spark, root)
      .orderBy("version").collect()
    assert(snaps.map(_.getLong(0)).toSeq === Seq(0L, 1L, 2L))
    val byV = snaps.map(r => r.getLong(0) -> r).toMap
    assert(byV(0L).getAs[String]("kind") === "manifested")
    assert(byV(2L).getAs[String]("kind") === "delete-only")
    assert(byV(2L).getAs[Boolean]("is_current"))
    assert(byV(2L).getAs[Long]("delete_refs") === 1L)
    assert(byV(0L).getAs[Long]("parent") === -1L)
    assert(byV(2L).getAs[Long]("parent") === 1L)
    assert(byV(2L).getAs[String]("refs").contains("tag.rel-1"))

    // files: one row per live data file, carrying recorded id bounds
    val files = TableInspect.files(spark, root)
    assert(files.count() ===
      files.select("file").distinct().count())
    val parts = files.select("partition").distinct()
      .as[String].collect().toSet
    assert(parts === Set("g=g0", "g=g1"))
    assert(files.columns.contains("id__min"))
    // v0's files carry bounds; v1's append (no statsCols) is null-padded
    assert(files.filter(col("storage_version") === 0L &&
      col("id__min").isNotNull).count() > 0)
    assert(files.filter(col("size_bytes") <= 0L).count() === 0)

    // refs: main + tag + branch, all existing
    val refs = TableInspect.refs(spark, root).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getBoolean(3))).toSet
    assert(refs === Set(
      ("main", "branch", vDel, true),
      ("wip", "branch", vDel, true),
      ("rel-1", "tag", vDel, true)))

    // history: the parent chain oldest-first
    val hist = TableInspect.history(spark, root).orderBy("ordinal")
      .select("version").as[Long].collect().toSeq
    assert(hist === Seq(0L, 1L, 2L))

    // SQL surface
    val views = Serving.registerTableMetadata(spark, root, "t")
    assert(views === Seq("t_snapshots", "t_files", "t_refs", "t_history",
      "t_properties"))
    assert(spark.sql(
      "SELECT count(*) FROM t_snapshots WHERE is_committed").head.getLong(0) === 3L)
    assert(spark.sql(
      "SELECT version FROM t_refs WHERE name = 'rel-1'").head.getLong(0) === vDel)
    Serving.unregister(spark, views)
  }

  test("properties surfaces spec, write order, constraints, defaults, coverage") {
    val root = Files.createTempDirectory("graft-inspect-props").toString
    SnapshotTable.setSortOrder(root, Seq("id", "x"), zorder = true)
    val df = (0L until 20L).map(i => (i, s"g${i % 2}", i * 2L))
      .toDF("id", "g", "x")
    SnapshotTable.commitDelta(df, root, "g",
      statsCols = Seq("id"), bloomCols = Seq("x"))
    SnapshotTable.addConstraint(spark, root, "id_pos", "id >= 0")
    SnapshotTable.addColumn(spark, root, "src",
      org.apache.spark.sql.types.StringType, Some("'seed'"))

    val props = TableInspect.properties(spark, root).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props("partition.spec") === "g")
    assert(props("write.order") === "id,x")
    assert(props("write.order.mode") === "zorder")
    assert(props("constraint.id_pos") === "id >= 0")
    assert(props("default.src") === "'seed'")
    assert(props("stats.columns") === "id")
    assert(props("bloom.columns") === "x")
    assert(props("version.current").toLong ===
      SnapshotTable.latestVersion(root))

    // served as SQL alongside the other metadata views…
    val views = Serving.registerTableMetadata(spark, root, "pt")
    assert(views.contains("pt_properties"))
    assert(spark.sql(
      "SELECT value FROM pt_properties WHERE key = 'write.order.mode'")
      .first().getString(0) === "zorder")
    Serving.unregister(spark, views)
    // …and through the SQL catalog's dot-suffix metadata tables
    val wh = Files.createTempDirectory("graft-inspect-wh").toString
    spark.conf.set("spark.sql.catalog.iwh", "graft.sources.GraftSqlCatalog")
    spark.conf.set("spark.sql.catalog.iwh.warehouse", wh)
    try {
      spark.sql("CREATE TABLE iwh.db.p (k STRING, n BIGINT) PARTITIONED BY (k)")
      spark.sql("INSERT INTO iwh.db.p VALUES ('a', 1)")
      assert(spark.sql("SELECT value FROM iwh.db.p.properties " +
        "WHERE key = 'partition.spec'").first().getString(0) === "k")
    } finally spark.conf.unset("spark.sql.catalog.iwh")
  }

  test("files reflects compaction: fewer files, same partitions") {
    val root = Files.createTempDirectory("graft-inspect-compact").toString
    val df = (0L until 40L).map(i => (i, s"g${i % 2}", i)).toDF("id", "g", "x")
    SnapshotTable.commitDelta(df.repartition(6), root, "g")
    val before = TableInspect.files(spark, root).count()
    Maintenance.compactSnapshot(spark, root, targetFiles = 2,
      minInputFiles = 2)
    val after = TableInspect.files(spark, root).count()
    assert(after === 2L && after < before)
    // history spans the compaction commit; snapshots sees both versions
    assert(TableInspect.snapshots(spark, root).count() >= 2)
  }

  test("snapshots classifies a version emptied by a delete as manifested") {
    val root = Files.createTempDirectory("graft-inspect-empty").toString
    val df = (0L until 10L).map(i => (i, s"g${i % 2}")).toDF("id", "g")
    SnapshotTable.commitDelta(df, root, "g")                             // v0
    val v1 = SnapshotTable.deleteWhere(spark, root, "g", lit(true))      // v1
    assert(SnapshotTable.read(spark, root).isEmpty)
    val snaps = TableInspect.snapshots(spark, root).orderBy("version")
      .select("version", "parent", "is_committed", "is_current", "kind",
        "data_entries", "delete_refs")
      .as[(Long, Long, Boolean, Boolean, String, Long, Long)].collect().toSeq
    assert(snaps === Seq(
      (0L, -1L, true, false, "manifested", 2L, 0L),
      (v1, 0L, true, true, "manifested", 0L, 0L)))
  }
}
