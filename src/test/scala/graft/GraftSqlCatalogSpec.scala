package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.SnapshotTable

/** The graft SQL catalog: snapshot tables addressable by NAME from
  * plain SQL — DDL, O(batch) INSERT fast-appends, time travel
  * (`VERSION AS OF` number/tag, `TIMESTAMP AS OF`), metadata-only
  * column rename, CTAS — plus the library-level regression the
  * connector surfaced: file-skipping reads must era-project renamed
  * columns. */
class GraftSqlCatalogSpec extends GraftSuite {

  private lazy val wh: String = {
    val dir = Files.createTempDirectory("graft-sql-cat").toString
    spark.conf.set("spark.sql.catalog.gtest",
      "graft.sources.GraftSqlCatalog")
    spark.conf.set("spark.sql.catalog.gtest.warehouse", dir)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gtest.db")
    dir
  }

  test("DDL + INSERT fast-append + time travel from SQL") {
    wh
    spark.sql("CREATE TABLE gtest.db.t (k STRING, n BIGINT, d DATE) " +
      "PARTITIONED BY (k)")
    spark.sql("INSERT INTO gtest.db.t VALUES " +
      "('a', 1, DATE'2024-01-01'), ('b', 2, DATE'2024-01-02')")
    spark.sql("INSERT INTO gtest.db.t VALUES ('a', 3, DATE'2024-01-03')")

    assert(spark.sql("SELECT count(*) FROM gtest.db.t").first.getLong(0) === 3)
    // each INSERT is one fast-append version, manifests accumulate
    assert(SnapshotTable.latestVersion(s"$wh/db/t") === 1L)
    assert(spark.sql("SELECT count(*) FROM gtest.db.t VERSION AS OF 0")
      .first.getLong(0) === 2)
    // declared column order survives partitioned storage (k moved last
    // on disk) — INSERT stays positional
    assert(spark.table("gtest.db.t").columns.toSeq === Seq("k", "n", "d"))

    SnapshotTable.createTag(s"$wh/db/t", "first")
    assert(spark.sql("SELECT count(*) FROM gtest.db.t VERSION AS OF 'first'")
      .first.getLong(0) === 3)

    val cut = java.time.Instant.now()
    Thread.sleep(10)
    spark.sql("INSERT INTO gtest.db.t VALUES ('c', 9, DATE'2024-01-04')")
    assert(spark.sql("SELECT count(*) FROM gtest.db.t").first.getLong(0) === 4)
    assert(spark.sql(
      s"SELECT count(*) FROM gtest.db.t TIMESTAMP AS OF '$cut'")
      .first.getLong(0) === 3)
  }

  test("TIMESTAMP AS OF never resolves a rolled-back or unpublished version") {
    wh
    spark.sql("CREATE TABLE gtest.db.tt (k STRING, n BIGINT) " +
      "PARTITIONED BY (k)")
    spark.sql("INSERT INTO gtest.db.tt VALUES ('a', 1), ('b', 2)")
    spark.sql("INSERT INTO gtest.db.tt VALUES ('c', 3)")
    val root = s"$wh/db/tt"
    assert(SnapshotTable.latestVersion(root) === 1L)
    // rollback moves ONLY the marker; v=1 keeps its `_committed` stamp.
    // Timestamp travel must clamp to the published marker — resolving
    // v=1 would resurrect the undone state (ADVICE r10 regression).
    SnapshotTable.rollback(root, 0L)
    Thread.sleep(10)
    val now = java.time.Instant.now()
    assert(spark.sql(
      s"SELECT count(*) FROM gtest.db.tt TIMESTAMP AS OF '$now'")
      .first.getLong(0) === 2)
    // a later commit lands on top of the rollback (v2, parent v0): the
    // undone v1 now sits below the marker but stays unresolvable
    Thread.sleep(10)
    spark.sql("INSERT INTO gtest.db.tt VALUES ('d', 4)")
    assert(SnapshotTable.parentVersion(root, 2L) === 0L)
    assert(spark.sql(
      s"SELECT count(*) FROM gtest.db.tt TIMESTAMP AS OF '$now'")
      .first.getLong(0) === 2)
    assert(spark.sql("SELECT count(*) FROM gtest.db.tt").first.getLong(0) === 3)
  }

  test("ALTER RENAME COLUMN is metadata-only; filtered (skipping) reads era-project") {
    wh
    spark.sql("CREATE TABLE gtest.db.r (k STRING, n BIGINT) PARTITIONED BY (k)")
    spark.sql("INSERT INTO gtest.db.r VALUES ('a', 2), ('b', 4), ('a', 9)")
    val before = SnapshotTable.latestVersion(s"$wh/db/r")
    spark.sql("ALTER TABLE gtest.db.r RENAME COLUMN n TO m")
    assert(SnapshotTable.latestVersion(s"$wh/db/r") === before + 1) // no rewrite

    // the declared column order survives the rename in place (the
    // sidecar schema follows the evolution; a stale sidecar would
    // drift the renamed column to the end)
    assert(spark.table("gtest.db.r").columns.toSeq === Seq("k", "m"))

    // the filter pushes across the connector into the file-skipping
    // read; old-era files carry physical column `n` and must resolve
    // by field id (regression: this used to null-fill and return 0)
    assert(spark.sql("SELECT sum(m) FROM gtest.db.r WHERE m > 1")
      .first.getLong(0) === 15)
    // same at the library level
    assert(SnapshotTable.readSkipping(spark, s"$wh/db/r", "m > 1")
      .agg(sum("m")).first.getLong(0) === 15)
  }

  test("ALTER ADD COLUMN is metadata-only; old rows read as typed NULL") {
    wh
    spark.sql("CREATE TABLE gtest.db.ac (k STRING, n BIGINT) PARTITIONED BY (k)")
    spark.sql("INSERT INTO gtest.db.ac VALUES ('a', 2), ('b', 4)")
    val before = SnapshotTable.latestVersion(s"$wh/db/ac")
    spark.sql("ALTER TABLE gtest.db.ac ADD COLUMN score DOUBLE")
    assert(SnapshotTable.latestVersion(s"$wh/db/ac") === before + 1) // no rewrite
    // declared order: the added column lands at the end, typed
    assert(spark.table("gtest.db.ac").columns.toSeq === Seq("k", "n", "score"))
    assert(spark.table("gtest.db.ac").schema("score").dataType.typeName
      === "double")
    assert(spark.sql("SELECT count(*) FROM gtest.db.ac WHERE score IS NULL")
      .first.getLong(0) === 2)
    // new writes carry the column; both eras unify
    spark.sql("INSERT INTO gtest.db.ac VALUES ('a', 9, 0.5)")
    assert(spark.sql(
      "SELECT sum(score) FROM gtest.db.ac WHERE score IS NOT NULL")
      .first.getDouble(0) === 0.5)
    // pre-add time travel has no such column
    intercept[Exception] {
      spark.sql(s"SELECT score FROM gtest.db.ac VERSION AS OF $before")
        .collect()
    }
  }

  test("ALTER ADD COLUMN DEFAULT: pre-add rows read the literal, post-add their values") {
    wh
    spark.sql("CREATE TABLE gtest.db.acd (k STRING, n BIGINT) PARTITIONED BY (k)")
    spark.sql("INSERT INTO gtest.db.acd VALUES ('a', 2), ('b', 4)")
    val before = SnapshotTable.latestVersion(s"$wh/db/acd")
    spark.sql("ALTER TABLE gtest.db.acd ADD COLUMN rate DOUBLE DEFAULT 0.05")
    assert(SnapshotTable.latestVersion(s"$wh/db/acd") === before + 1) // no rewrite
    // pre-add rows read the initial default — not NULL
    assert(spark.sql(
      "SELECT sum(rate) FROM gtest.db.acd").first.getDouble(0) === 0.1)
    // post-add writes carry real values; the default never overwrites
    spark.sql("INSERT INTO gtest.db.acd VALUES ('a', 9, 0.5)")
    assert(spark.sql("SELECT rate FROM gtest.db.acd WHERE n = 9")
      .first.getDouble(0) === 0.5)
    assert(spark.sql(
      "SELECT sum(rate) FROM gtest.db.acd").first.getDouble(0) === 0.6)
    // an INSERT that OMITS the column fills the default (the sidecar
    // schema carries CURRENT_DEFAULT, exactly as CREATE TABLE defaults)
    spark.sql("INSERT INTO gtest.db.acd (k, n) VALUES ('a', 11)")
    assert(spark.sql("SELECT rate FROM gtest.db.acd WHERE n = 11")
      .first.getDouble(0) === 0.05)
    // pre-add time travel has no such column
    intercept[Exception] {
      spark.sql(s"SELECT rate FROM gtest.db.acd VERSION AS OF $before")
        .collect()
    }
  }

  test("CREATE TABLE column DEFAULT fills omitted INSERT columns") {
    wh
    // the default rides the schema's field metadata (CURRENT_DEFAULT),
    // which the sidecar schema preserves — Spark's own default
    // resolution then fills omitted columns and the DEFAULT keyword
    spark.sql("CREATE TABLE gtest.db.cd " +
      "(k STRING, n BIGINT, r DOUBLE DEFAULT 0.5) PARTITIONED BY (k)")
    spark.sql("INSERT INTO gtest.db.cd (k, n) VALUES ('a', 1)")
    spark.sql("INSERT INTO gtest.db.cd VALUES ('a', 2, DEFAULT)")
    spark.sql("INSERT INTO gtest.db.cd VALUES ('a', 3, 0.9)")
    assert(spark.sql("SELECT n, r FROM gtest.db.cd ORDER BY n")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq ===
      Seq((1L, 0.5), (2L, 0.5), (3L, 0.9)))
  }

  test("CTAS, SHOW TABLES, INSERT OVERWRITE, RENAME TABLE, DROP") {
    wh
    spark.sql("CREATE TABLE gtest.db.c (k STRING, n BIGINT) PARTITIONED BY (k)")
    spark.sql("INSERT INTO gtest.db.c VALUES ('a', 2), ('b', 4)")
    spark.sql("CREATE TABLE gtest.db.c2 AS SELECT k, n FROM gtest.db.c WHERE n > 2")
    assert(spark.table("gtest.db.c2").collect().map(_.getLong(1)).toSeq === Seq(4L))

    val names = spark.sql("SHOW TABLES IN gtest.db").collect()
      .map(_.getString(1)).toSet
    assert(Set("c", "c2").subsetOf(names))

    spark.sql("INSERT OVERWRITE gtest.db.c2 SELECT 'z' AS k, 0L AS n")
    assert(spark.table("gtest.db.c2").collect().map(_.getString(0)).toSeq
      === Seq("z"))
    // overwrite committed a NEW version; the old one stays readable
    assert(spark.sql("SELECT n FROM gtest.db.c2 VERSION AS OF 0")
      .first.getLong(0) === 4L)

    spark.sql("ALTER TABLE gtest.db.c2 RENAME TO c3")
    assert(spark.table("gtest.db.c3").count() === 1)
    spark.sql("DROP TABLE gtest.db.c3")
    assert(!spark.catalog.tableExists("gtest.db.c3"))
  }

  test("DELETE FROM lands as a merge-on-read sidecar; inexact predicates refuse") {
    wh
    spark.sql("CREATE TABLE gtest.db.dml (k STRING, n BIGINT) PARTITIONED BY (k)")
    spark.sql("INSERT INTO gtest.db.dml VALUES ('a', 1), ('b', 2), ('a', 9)")
    val root = s"$wh/db/dml"
    val vBefore = SnapshotTable.latestVersion(root)
    val entriesBefore = SnapshotTable.manifestEntries(root, vBefore).toSet

    spark.sql("DELETE FROM gtest.db.dml WHERE n >= 9 OR k IS NULL")
    assert(spark.table("gtest.db.dml").collect().map(_.getLong(1)).toSet
      === Set(1L, 2L))
    // zero data bytes rewrote: the delete is a sidecar-only commit, the
    // base manifest entries all survive, and time travel sees the rows
    val vAfter = SnapshotTable.latestVersion(root)
    assert(vAfter === vBefore + 1)
    assert(entriesBefore.subsetOf(
      SnapshotTable.manifestEntries(root, vAfter).toSet))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, s"v=$vAfter", "_deletes")))
    assert(spark.sql(s"SELECT count(*) FROM gtest.db.dml VERSION AS OF $vBefore")
      .first.getLong(0) === 3)
    // a count after the delete subtracts through the metadata path
    assert(spark.sql("SELECT count(*) FROM gtest.db.dml").first.getLong(0) === 2)

    // a predicate BEYOND the strict V1 translator now lands EXACTLY
    // through the DML rule (it used to refuse): the analyzed Catalyst
    // expression IS the predicate, nothing lost in translation
    spark.sql("DELETE FROM gtest.db.dml WHERE k LIKE '%b%' AND n * 2 < 100")
    assert(spark.table("gtest.db.dml").collect().map(_.getLong(1)).toSet
      === Set(1L))
    // a subquery predicate refuses — its row set needs MERGE semantics
    val es = intercept[Exception] {
      spark.sql("DELETE FROM gtest.db.dml WHERE n IN " +
        "(SELECT n FROM gtest.db.dml WHERE k = 'a')")
    }
    assert(es.getMessage.contains("subquery"), es.getMessage)
    assert(spark.table("gtest.db.dml").count() === 1) // nothing deleted

    // TRUNCATE rides the same path (delete-all sidecar); history intact
    spark.sql("TRUNCATE TABLE gtest.db.dml")
    assert(spark.table("gtest.db.dml").count() === 0)
    assert(spark.sql(s"SELECT count(*) FROM gtest.db.dml VERSION AS OF $vBefore")
      .first.getLong(0) === 3)
  }

  test("metadata tables: db.t.files / .snapshots / .history / .refs from SQL") {
    wh
    spark.sql("CREATE TABLE gtest.db.m (k STRING, n BIGINT) PARTITIONED BY (k)")
    spark.sql("INSERT INTO gtest.db.m VALUES ('a', 1), ('b', 2)")
    spark.sql("INSERT INTO gtest.db.m VALUES ('c', 3)")
    SnapshotTable.createTag(s"$wh/db/m", "cut")

    assert(spark.sql("SELECT count(*) FROM gtest.db.m.snapshots")
      .first.getLong(0) === 2)
    // one live data file per single-row partition append
    assert(spark.sql("SELECT count(*) FROM gtest.db.m.files")
      .first.getLong(0) === 3)
    assert(spark.sql("SELECT count(*) FROM gtest.db.m.history")
      .first.getLong(0) === 2)
    val refs = spark.sql("SELECT name, kind FROM gtest.db.m.refs")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(refs.get("cut") === Some("tag"))
    assert(refs.contains("main"))
  }

  test("CALL g.system.* maintenance procedures run from SQL") {
    wh
    spark.sql("CREATE TABLE gtest.db.mx (k STRING, n BIGINT) PARTITIONED BY (k)")
    for (i <- 1 to 4)
      spark.sql(s"INSERT INTO gtest.db.mx VALUES ('a', $i), ('b', $i)")
    val root = s"$wh/db/mx"
    def entries = SnapshotTable.manifestEntries(root,
      SnapshotTable.latestVersion(root)).size
    assert(entries === 8) // 4 fast-appends × 2 partitions

    val res = spark.sql("CALL gtest.system.compact('db.mx', 'k', 2)")
    assert(res.columns.toSeq === Seq("version"))
    assert(res.first.getLong(0) === SnapshotTable.latestVersion(root))
    assert(entries === 2) // folded to one entry per partition
    assert(spark.table("gtest.db.mx").count() === 8) // rows unchanged

    val tagged = spark.sql("CALL gtest.system.create_tag('db.mx', 'fold')")
      .first.getLong(0)
    assert(SnapshotTable.tagVersion(root, "fold") === tagged)

    spark.sql("INSERT INTO gtest.db.mx VALUES ('c', 9)")
    spark.sql(s"CALL gtest.system.rollback('db.mx', $tagged)")
    assert(spark.table("gtest.db.mx").count() === 8)

    // apply_deletes folds a MoR delete sidecar back into clean data
    spark.sql("DELETE FROM gtest.db.mx WHERE n = 1")
    assert(SnapshotTable.deleteEntries(root,
      SnapshotTable.latestVersion(root)).nonEmpty)
    spark.sql("CALL gtest.system.apply_deletes('db.mx')")
    assert(SnapshotTable.deleteEntries(root,
      SnapshotTable.latestVersion(root)).isEmpty)
    assert(spark.table("gtest.db.mx").count() === 6) // answer unchanged

    // migrate_spec rewrites old-era rows into an evolved layout
    SnapshotTable.evolvePartitionSpec(root, "n")
    spark.sql("CALL gtest.system.migrate_spec('db.mx')")
    assert(SnapshotTable.manifestEntries(root,
      SnapshotTable.latestVersion(root)).forall(_._1.contains("n=")))
    assert(spark.table("gtest.db.mx").count() === 6)

    // collect_stats backfills skipping sidecars (ANALYZE): the table
    // had no bounds for n; after the CALL, metadata bounds answer
    // without touching data
    assert(SnapshotTable.fastBounds(spark, root, "n").isEmpty)
    spark.sql("CALL gtest.system.collect_stats('db.mx', 'n')")
    assert(SnapshotTable.fastBounds(spark, root, "n") === Some((2L, 4L)))

    // collect_ndv is the CBO analyze: sketches land and the folded
    // estimate surfaces as a table property
    spark.sql("CALL gtest.system.collect_ndv('db.mx', 'n')")
    assert(SnapshotTable.tableNdv(spark, root).get("n").map(_.ndv)
      === Some(3L))
    val prop = graft.operators.TableInspect.properties(spark, root)
      .filter(col("key") === "ndv.n").collect()
    assert(prop.length === 1 && prop.head.getString(1) === "3")

    intercept[Exception] { // unknown procedure refuses
      spark.sql("CALL gtest.system.nope(1)")
    }
  }

  test("CALL create_branch / fast_forward manage refs from SQL") {
    wh
    import spark.implicits._
    spark.sql("CREATE TABLE gtest.db.br (k STRING, n BIGINT) PARTITIONED BY (k)")
    spark.sql("INSERT INTO gtest.db.br VALUES ('a', 1)")
    val root = s"$wh/db/br"
    spark.sql("CALL gtest.system.create_branch('db.br', 'dev')")
    // a branch commit (a full snapshot) is invisible on main until
    // fast-forwarded
    SnapshotTable.commitToBranch(
      Seq(("a", 1L), ("b", 2L)).toDF("k", "n"), root, "dev")
    assert(spark.table("gtest.db.br").count() === 1)
    assert(spark.sql("SELECT * FROM gtest.db.br VERSION AS OF 'dev'")
      .count() === 2)
    val ff = spark.sql("CALL gtest.system.fast_forward('db.br', 'main', 'dev')")
    assert(ff.first.getLong(0) === SnapshotTable.latestVersion(root))
    assert(spark.table("gtest.db.br").count() === 2)
  }

  test("namespaces list and drop; unpartitioned INSERT refuses with guidance") {
    wh
    spark.sql("CREATE NAMESPACE gtest.scratch")
    val ns = spark.sql("SHOW NAMESPACES IN gtest").collect()
      .map(_.getString(0)).toSet
    assert(Set("db", "scratch").subsetOf(ns))
    spark.sql("DROP NAMESPACE gtest.scratch")

    spark.sql("CREATE TABLE gtest.db.flat (k STRING, n BIGINT)")
    spark.sql("INSERT INTO gtest.db.flat VALUES ('a', 1)") // creates v0
    val e = intercept[Exception] {
      spark.sql("INSERT INTO gtest.db.flat VALUES ('b', 2)")
    }
    assert(e.getMessage.contains("partitionBy") ||
      Option(e.getCause).exists(_.getMessage.contains("partitionBy")))
  }
}
