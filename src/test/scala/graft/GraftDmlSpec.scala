package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.SnapshotTable

/** SQL MERGE INTO / UPDATE over snapshot tables: the post-hoc rule
  * reroutes the analyzed nodes to upsertMor / updateWhere — MERGE is
  * an O(batch) append + equality-delete commit (zero rewrites of
  * existing data, mtime-pinned), UPDATE a partition-pruned
  * copy-on-write delta. Unsupported shapes refuse loudly. */
class GraftDmlSpec extends GraftSuite {
  import spark.implicits._

  private def mkCatalogTable(name: String): String = {
    val wh = Files.createTempDirectory("graft-dmlwh").toString
    spark.conf.set(s"spark.sql.catalog.$name",
      "graft.sources.GraftSqlCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
    spark.sql(s"CREATE TABLE $name.db.t (k STRING, n BIGINT, p STRING) " +
      "PARTITIONED BY (p)")
    spark.sql(s"INSERT INTO $name.db.t VALUES " +
      "('a', 1, 'x'), ('b', 2, 'x'), ('c', 3, 'y')")
    s"$wh/db/t"
  }

  test("MERGE INTO upserts as one O(batch) MoR commit") {
    val root = mkCatalogTable("dml1")
    val before = SnapshotTable.latestVersion(root)
    // existing data files must not be rewritten (the O(batch) claim)
    val dataFiles = SnapshotTable.manifestEntries(root, before)
      .map(e => java.nio.file.Paths.get(root, s"v=${e._2}", e._1))
    val mtimes = dataFiles.map(p => p -> Files.getLastModifiedTime(p)).toMap

    Seq(("b", 20L, "x"), ("d", 4L, "y"))
      .toDF("k", "n", "p").createOrReplaceTempView("dml1_src")
    val res = spark.sql(
      """MERGE INTO dml1.db.t AS t USING dml1_src AS s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(res.columns.toSeq === Seq("version"))
    assert(res.first.getLong(0) === before + 1)

    val rows = spark.table("dml1.db.t").orderBy("k")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(rows === Seq(("a", 1L), ("b", 20L), ("c", 3L), ("d", 4L)))
    // time travel: pre-merge rows intact
    assert(spark.sql(s"SELECT n FROM dml1.db.t VERSION AS OF $before " +
      "WHERE k = 'b'").first.getLong(0) === 2L)
    // zero existing bytes moved
    dataFiles.foreach(p =>
      assert(Files.getLastModifiedTime(p) === mtimes(p), s"$p rewritten"))
    // and the commit carries an equality-delete sidecar, not a rewrite
    assert(SnapshotTable.eqDeleteEntries(root, before + 1).nonEmpty)
  }

  test("MERGE refusals: non-equality ON, subquery conditions, duplicate matched keys") {
    val root = mkCatalogTable("dml2")
    val before = SnapshotTable.latestVersion(root)
    Seq(("b", 20L, "x")).toDF("k", "n", "p")
      .createOrReplaceTempView("dml2_src")
    // non-equality ON
    val e1 = intercept[Exception] {
      spark.sql("MERGE INTO dml2.db.t t USING dml2_src s ON t.n < s.n " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    }
    assert(e1.getMessage.contains("ON conjunct"), e1.getMessage)
    // subquery in a clause condition
    val e2 = intercept[Exception] {
      spark.sql("MERGE INTO dml2.db.t t USING dml2_src s ON t.k = s.k " +
        "WHEN MATCHED AND s.n IN (SELECT n FROM dml2_src) THEN DELETE " +
        "WHEN NOT MATCHED THEN INSERT *")
    }
    assert(e2.getMessage.contains("subquer"), e2.getMessage)
    // duplicate MATCHED source keys = the SQL MERGE cardinality rule
    // (on both the fast upsert path and the general clause path)
    Seq(("b", 20L, "x"), ("b", 30L, "x")).toDF("k", "n", "p")
      .createOrReplaceTempView("dml2_dup")
    val e4 = intercept[Exception] {
      spark.sql("MERGE INTO dml2.db.t t USING dml2_dup s ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    }
    assert(e4.getMessage.contains("cardinality"), e4.getMessage)
    val e5 = intercept[Exception] {
      spark.sql("MERGE INTO dml2.db.t t USING dml2_dup s ON t.k = s.k " +
        "WHEN MATCHED AND s.n > 0 THEN UPDATE SET n = s.n " +
        "WHEN NOT MATCHED THEN INSERT *")
    }
    assert(e5.getMessage.contains("cardinality"), e5.getMessage)
    assert(SnapshotTable.latestVersion(root) === before) // nothing committed
  }

  test("conditional MERGE routes Debezium ops in one zero-rewrite commit") {
    val root = mkCatalogTable("dmlc")
    val before = SnapshotTable.latestVersion(root)
    val dataFiles = SnapshotTable.manifestEntries(root, before)
      .map(e => java.nio.file.Paths.get(root, s"v=${e._2}", e._1))
    val mtimes = dataFiles.map(p => p -> Files.getLastModifiedTime(p)).toMap
    // a CDC batch: delete a, update b (partial SET), insert d; the
    // delete-op insert candidate e must NOT insert
    Seq(("a", 0L, "x", "d"), ("b", 20L, "x", "u"),
      ("d", 4L, "y", "c"), ("e", 5L, "y", "d"))
      .toDF("k", "n", "p", "op").createOrReplaceTempView("dmlc_src")
    val res = spark.sql(
      """MERGE INTO dmlc.db.t AS t USING dmlc_src AS s ON t.k = s.k
        |WHEN MATCHED AND s.op = 'd' THEN DELETE
        |WHEN MATCHED THEN UPDATE SET n = s.n
        |WHEN NOT MATCHED AND s.op <> 'd' THEN INSERT (k, n, p)
        |  VALUES (s.k, s.n, s.p)""".stripMargin)
    assert(res.first.getLong(0) === before + 1) // ONE commit
    val rows = spark.table("dmlc.db.t").orderBy("k")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(rows === Seq(("b", 20L), ("c", 3L), ("d", 4L)))
    // zero existing bytes moved — merge-on-read, never a rewrite
    dataFiles.foreach(p =>
      assert(Files.getLastModifiedTime(p) === mtimes(p), s"$p rewritten"))
    assert(SnapshotTable.eqDeleteEntries(root, before + 1).nonEmpty)
    // time travel: pre-merge state intact
    assert(spark.sql(s"SELECT count(*) FROM dmlc.db.t VERSION AS OF " +
      s"$before").first.getLong(0) === 3L)
  }

  test("conditional MERGE handles duplicate-KEY target rows (cardinality is per target ROW)") {
    // regression (round-11 review): a target may legitimately hold
    // duplicate-key rows (appends create them); each matching ONE
    // source row is NOT a cardinality violation — both images update
    val root = mkCatalogTable("dmldup")
    spark.sql("INSERT INTO dmldup.db.t VALUES ('a', 100, 'x')") // dup key 'a'
    Seq(("a", 7L, "x")).toDF("k", "n", "p")
      .createOrReplaceTempView("dmldup_src")
    spark.sql(
      """MERGE INTO dmldup.db.t AS t USING dmldup_src AS s ON t.k = s.k
        |WHEN MATCHED AND s.n > 0 THEN UPDATE SET n = t.n + s.n
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val rows = spark.table("dmldup.db.t").orderBy("k", "n")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(rows === Seq(("a", 8L), ("a", 107L), ("b", 2L), ("c", 3L)))
  }

  test("conditional MERGE: first matching clause wins; unclaimed matched rows stay") {
    val root = mkCatalogTable("dmlo")
    // b matches BOTH conditions -> first clause (n := 100) wins;
    // a matches only the second (n := -1); c matches neither clause
    // and must stay untouched (NOT tombstoned)
    Seq(("a", 10L, "x"), ("b", 200L, "x"), ("c", 0L, "y"))
      .toDF("k", "n", "p").createOrReplaceTempView("dmlo_src")
    spark.sql(
      """MERGE INTO dmlo.db.t AS t USING dmlo_src AS s ON t.k = s.k
        |WHEN MATCHED AND s.n >= 100 THEN UPDATE SET n = 100
        |WHEN MATCHED AND s.n >= 10 THEN UPDATE SET n = -1
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val rows = spark.table("dmlo.db.t").orderBy("k")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(rows === Seq(("a", -1L), ("b", 100L), ("c", 3L)))
  }

  test("partial SET keeps unset columns; updates may reference both sides") {
    val root = mkCatalogTable("dmlp")
    Seq(("a", 100L, "IGNORED"), ("b", 1000L, "IGNORED"))
      .toDF("k", "n", "p").createOrReplaceTempView("dmlp_src")
    spark.sql(
      """MERGE INTO dmlp.db.t AS t USING dmlp_src AS s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET n = t.n + s.n
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val rows = spark.table("dmlp.db.t").orderBy("k")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    // the unset p column keeps the TARGET value, not the source's
    assert(rows.toSeq === Seq(("a", 101L, "x"), ("b", 1002L, "x"),
      ("c", 3L, "y")))
  }

  test("conditional NOT MATCHED BY SOURCE DELETE prunes only matching rows") {
    val root = mkCatalogTable("dmlnb")
    // source carries only b; the conditional NMBS clause deletes
    // source-absent rows in partition 'y' only (c), keeping a
    Seq(("b", 20L, "x")).toDF("k", "n", "p")
      .createOrReplaceTempView("dmlnb_src")
    spark.sql(
      """MERGE INTO dmlnb.db.t AS t USING dmlnb_src AS s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET n = s.n
        |WHEN NOT MATCHED BY SOURCE AND t.p = 'y' THEN DELETE""".stripMargin)
    val rows = spark.table("dmlnb.db.t").orderBy("k")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(rows === Seq(("a", 1L), ("b", 20L)))
  }

  test("governed conditional MERGE publishes as ONE rollback-able catalog commit") {
    val cat = Files.createTempDirectory("graft-dml-condgov").toString + "/cat"
    spark.conf.set("spark.sql.catalog.dmlcg",
      "graft.sources.GraftGovernedCatalog")
    spark.conf.set("spark.sql.catalog.dmlcg.root", cat)
    try {
      graft.operators.Catalog.transactDelta(cat, Seq(("t",
        Seq(("a", 1L, "x"), ("b", 2L, "x"), ("c", 3L, "y"))
          .toDF("k", "n", "p"), "p")))
      val c0 = graft.operators.Catalog.latestCommit(cat)
      Seq(("a", 0L, "x", "d"), ("b", 20L, "x", "u"), ("d", 4L, "y", "c"))
        .toDF("k", "n", "p", "op").createOrReplaceTempView("dmlcg_src")
      val res = spark.sql(
        """MERGE INTO dmlcg.t AS t USING dmlcg_src AS s ON t.k = s.k
          |WHEN MATCHED AND s.op = 'd' THEN DELETE
          |WHEN MATCHED THEN UPDATE SET n = s.n
          |WHEN NOT MATCHED THEN INSERT (k, n, p) VALUES (s.k, s.n, s.p)"""
          .stripMargin)
      assert(res.first.getLong(0) === c0 + 1) // ONE catalog commit
      assert(spark.table("dmlcg.t").orderBy("k")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq ===
        Seq(("b", 20L), ("c", 3L), ("d", 4L)))
      graft.operators.Catalog.rollback(cat, c0)
      assert(spark.table("dmlcg.t").orderBy("k")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq ===
        Seq(("a", 1L), ("b", 2L), ("c", 3L)))
    } finally spark.conf.unset("spark.sql.catalog.dmlcg")
  }

  test("MERGE WITH SCHEMA EVOLUTION widens the target with source-added columns") {
    val root = mkCatalogTable("dmlevo")
    val before = SnapshotTable.latestVersion(root)
    Seq(("b", 20L, "x", 9.5), ("d", 4L, "y", 1.5))
      .toDF("k", "n", "p", "score").createOrReplaceTempView("dmlevo_src")
    spark.sql(
      """MERGE WITH SCHEMA EVOLUTION INTO dmlevo.db.t AS t
        |USING dmlevo_src AS s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val out = spark.table("dmlevo.db.t").orderBy("k")
      .collect().map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(r.fieldIndex("score"))) None
        else Some(r.getDouble(r.fieldIndex("score")))))
    // pre-evolution rows null-fill the added column by field id;
    // merged/inserted rows carry the source values
    assert(out.toSeq === Seq(("a", 1L, None), ("b", 20L, Some(9.5)),
      ("c", 3L, None), ("d", 4L, Some(1.5))))
    // pre-evolution time travel reads under the old schema
    assert(!spark.sql(s"SELECT * FROM dmlevo.db.t VERSION AS OF $before")
      .columns.contains("score"))
  }

  test("governed MERGE WITH SCHEMA EVOLUTION: widening + merge, both rollback-able") {
    val cat = Files.createTempDirectory("graft-dml-evogov").toString + "/cat"
    spark.conf.set("spark.sql.catalog.dmleg",
      "graft.sources.GraftGovernedCatalog")
    spark.conf.set("spark.sql.catalog.dmleg.root", cat)
    try {
      graft.operators.Catalog.transactDelta(cat, Seq(("t",
        Seq(("a", 1L, "x"), ("b", 2L, "x")).toDF("k", "n", "p"), "p")))
      val c0 = graft.operators.Catalog.latestCommit(cat)
      Seq(("b", 20L, "x", 9.5), ("d", 4L, "y", 1.5))
        .toDF("k", "n", "p", "score")
        .createOrReplaceTempView("dmleg_src")
      spark.sql(
        """MERGE WITH SCHEMA EVOLUTION INTO dmleg.t AS t
          |USING dmleg_src AS s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      // the widening published as its own atomic catalog commit, the
      // merge as the next — two rollback-able commits
      assert(graft.operators.Catalog.latestCommit(cat) === c0 + 2)
      val out = spark.table("dmleg.t").orderBy("k")
        .collect().map(r => (r.getString(0), r.getLong(1),
          if (r.isNullAt(r.fieldIndex("score"))) None
          else Some(r.getDouble(r.fieldIndex("score")))))
      assert(out.toSeq === Seq(("a", 1L, None), ("b", 20L, Some(9.5)),
        ("d", 4L, Some(1.5))))
      // rollback to c0 rewinds the merge AND the widening together
      graft.operators.Catalog.rollback(cat, c0)
      assert(!spark.table("dmleg.t").columns.contains("score"))
      assert(spark.table("dmleg.t").count() === 2)
    } finally spark.conf.unset("spark.sql.catalog.dmleg")
  }

  test("MERGE NOT MATCHED BY SOURCE DELETE: full sync, atomically published") {
    val root = mkCatalogTable("dmlsync")
    val before = SnapshotTable.latestVersion(root)
    val dataFiles = SnapshotTable.manifestEntries(root, before)
      .map(e => java.nio.file.Paths.get(root, s"v=${e._2}", e._1))
    val mtimes = dataFiles.map(p => p -> Files.getLastModifiedTime(p)).toMap
    // source: updates b, inserts d — and LACKS a and c, which the sync
    // clause must remove
    Seq(("b", 20L, "x"), ("d", 4L, "y")).toDF("k", "n", "p")
      .createOrReplaceTempView("dmlsync_src")
    val v = spark.sql(
      """MERGE INTO dmlsync.db.t AS t USING dmlsync_src AS s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *
        |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
      .first.getLong(0)
    // the target became exactly the source
    assert(spark.table("dmlsync.db.t").orderBy("k")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq ===
      Seq(("b", 20L), ("d", 4L)))
    // the published head is the SECOND staged half (upsert + sync
    // deletes published by one marker move — never upserts alone),
    // and both sidecar flavors are equality deletes, zero rewrites
    assert(v === before + 2)
    dataFiles.foreach(p =>
      assert(Files.getLastModifiedTime(p) === mtimes(p), s"$p rewritten"))
    assert(SnapshotTable.eqDeleteEntries(root, v).size === 2)
    // time travel: pre-sync rows intact
    assert(spark.sql(s"SELECT count(*) FROM dmlsync.db.t VERSION AS OF " +
      s"$before").first.getLong(0) === 3)
    // a sync whose source covers every key stages NO second half
    spark.table("dmlsync.db.t").createOrReplaceTempView("dmlsync_all")
    val v2 = spark.sql(
      """MERGE INTO dmlsync.db.t AS t USING dmlsync_all AS s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *
        |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
      .first.getLong(0)
    assert(v2 === v + 1)
    assert(spark.table("dmlsync.db.t").count() === 2)
    // a CONDITIONAL NOT-MATCHED-BY-SOURCE routes to the general clause
    // path (every key matches here, so nothing deletes)
    spark.sql("MERGE INTO dmlsync.db.t t USING dmlsync_src s " +
      "ON t.k = s.k WHEN MATCHED THEN UPDATE SET * " +
      "WHEN NOT MATCHED THEN INSERT * " +
      "WHEN NOT MATCHED BY SOURCE AND t.n > 0 THEN DELETE")
    assert(spark.table("dmlsync.db.t").count() === 2)
    // matched-delete + sync-delete = delete everything (general path)
    spark.sql("MERGE INTO dmlsync.db.t t USING dmlsync_src s " +
      "ON t.k = s.k WHEN MATCHED THEN DELETE " +
      "WHEN NOT MATCHED BY SOURCE THEN DELETE")
    assert(spark.table("dmlsync.db.t").count() === 0)
    // NULL merge keys on BOTH sides refuse (the tombstone for the
    // target's NULL-key row would also mask the batch's NULL insert);
    // NULL on the target side alone deletes it per SQL semantics
    spark.sql("INSERT INTO dmlsync.db.t VALUES (NULL, 99, 'x')")
    Seq((Option.empty[String], 7L, "x")).toDF("k", "n", "p")
      .createOrReplaceTempView("dmlsync_null")
    val en = intercept[Exception] {
      spark.sql(
        """MERGE INTO dmlsync.db.t AS t USING dmlsync_null AS s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *
          |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    }
    assert(en.getMessage.contains("NULL merge keys"), en.getMessage)
    spark.sql(
      """MERGE INTO dmlsync.db.t AS t USING dmlsync_src AS s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *
        |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    // the NULL-key target row matched nothing → deleted by the sync
    assert(spark.table("dmlsync.db.t").filter("k IS NULL").count() === 0)
    assert(spark.table("dmlsync.db.t").count() === 2)
  }

  test("governed MERGE sync publishes upsert + prune as ONE catalog commit") {
    val wh = Files.createTempDirectory("graft-dmlsync-gov").toString + "/cat"
    import spark.implicits._
    graft.operators.Catalog.transactDelta(wh, Seq(("t",
      Seq(("a", 1L, "x"), ("b", 2L, "x"), ("c", 3L, "y"))
        .toDF("k", "n", "p"), "p")))
    spark.conf.set("spark.sql.catalog.dmlsyncg",
      "graft.sources.GraftGovernedCatalog")
    spark.conf.set("spark.sql.catalog.dmlsyncg.root", wh)
    try {
      val c0 = graft.operators.Catalog.latestCommit(wh)
      Seq(("b", 20L, "x"), ("d", 4L, "y")).toDF("k", "n", "p")
        .createOrReplaceTempView("dmlsyncg_src")
      spark.sql(
        """MERGE INTO dmlsyncg.t AS t USING dmlsyncg_src AS s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *
          |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
      // ONE commit — upsert and prune never visible separately
      assert(graft.operators.Catalog.latestCommit(wh) === c0 + 1)
      assert(spark.table("dmlsyncg.t").orderBy("k")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq ===
        Seq(("b", 20L), ("d", 4L)))
      // rollback rewinds the whole sync
      graft.operators.Catalog.rollback(wh, c0)
      assert(spark.table("dmlsyncg.t").count() === 3)
    } finally spark.conf.unset("spark.sql.catalog.dmlsyncg")
  }

  test("UPDATE routes by predicate: aligned CoW rewrite, row-level MoR") {
    val root = mkCatalogTable("dml3")
    val before = SnapshotTable.latestVersion(root)
    val dataFiles = SnapshotTable.manifestEntries(root, before)
      .map(e => java.nio.file.Paths.get(root, s"v=${e._2}", e._1))
    val mtimes = dataFiles.map(p => p -> Files.getLastModifiedTime(p)).toMap

    // non-partition-aligned predicate (references n) → MERGE-ON-READ:
    // zero existing bytes move, the commit is appended images + an
    // equality-delete sidecar
    val res = spark.sql(
      "UPDATE dml3.db.t SET n = n * 10 WHERE p = 'x' AND n >= 2")
    assert(res.first.getLong(0) === before + 1)
    val rows = spark.table("dml3.db.t").orderBy("k")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(rows === Seq(("a", 1L), ("b", 20L), ("c", 3L)))
    dataFiles.foreach(p =>
      assert(Files.getLastModifiedTime(p) === mtimes(p), s"$p rewritten"))
    // the equality key is the predicate's columns, not full rows: a
    // deterministic predicate masks exactly its matched set through
    // the distinct matched (n, p) tuples
    val sidecars = SnapshotTable.eqDeleteEntries(root, before + 1)
    assert(sidecars.nonEmpty)
    assert(sidecars.last._2.toSet === Set("n", "p"))
    // time travel reads the pre-update values
    assert(spark.sql(s"SELECT n FROM dml3.db.t VERSION AS OF $before " +
      "WHERE k = 'b'").first.getLong(0) === 2L)

    // stacked MoR update over the MoR view: the already-updated image
    // is what the second statement sees
    spark.sql("UPDATE dml3.db.t SET n = n + 1 WHERE n = 20")
    assert(spark.sql("SELECT n FROM dml3.db.t WHERE k = 'b'")
      .first.getLong(0) === 21L)

    // PARTITION-ALIGNED predicate → copy-on-write rewrite of the
    // touched partition only (no new MoR debt, x rewritten, y inherited)
    val v2 = SnapshotTable.latestVersion(root)
    val res2 = spark.sql("UPDATE dml3.db.t SET n = 0 WHERE p = 'y'")
    assert(res2.first.getLong(0) === v2 + 1)
    // no NEW MoR debt (prior live sidecars are inherited by reference)
    assert(SnapshotTable.eqDeleteEntries(root, v2 + 1).size ===
      SnapshotTable.eqDeleteEntries(root, v2).size)
    assert(spark.sql("SELECT n FROM dml3.db.t WHERE k = 'c'")
      .first.getLong(0) === 0L)

    // folding the debt preserves the resolved rows
    SnapshotTable.applyDeletes(spark, root)
    assert(spark.table("dml3.db.t").orderBy("k")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq ===
      Seq(("a", 1L), ("b", 21L), ("c", 0L)))

    // updating the partition column refuses (rows would change dirs)
    val e = intercept[Exception] {
      spark.sql("UPDATE dml3.db.t SET p = 'z' WHERE k = 'a'")
    }
    assert(e.getMessage.contains("layout column"), e.getMessage)

    // the CDC feed sees a MoR update as ordinary pre/post images
    val ch = SnapshotTable.changes(spark, root, "k", before, before + 1)
      .collect().map(r => (r.getAs[String]("k"),
        r.getAs[String]("_change_type")) -> r.getAs[Long]("n")).toMap
    assert(ch(("b", "update_preimage")) === 2L)
    assert(ch(("b", "update_postimage")) === 20L)
  }

  test("MERGE WHEN MATCHED DELETE lands the key set as an equality-delete sidecar") {
    val root = mkCatalogTable("dml5")
    val before = SnapshotTable.latestVersion(root)
    val dataFiles = SnapshotTable.manifestEntries(root, before)
      .map(e => java.nio.file.Paths.get(root, s"v=${e._2}", e._1))
    val mtimes = dataFiles.map(p => p -> Files.getLastModifiedTime(p)).toMap

    // tombstone feed: keys 'a' and 'b' (plus one unknown key — a
    // non-matching tombstone deletes nothing, harmlessly)
    Seq(("a", 0L, "?"), ("b", 0L, "?"), ("zz", 0L, "?"))
      .toDF("k", "n", "p").createOrReplaceTempView("dml5_src")
    val res = spark.sql(
      "MERGE INTO dml5.db.t t USING dml5_src s ON t.k = s.k " +
        "WHEN MATCHED THEN DELETE")
    assert(res.first.getLong(0) === before + 1)
    assert(spark.table("dml5.db.t").collect()
      .map(_.getString(0)).toSeq === Seq("c"))
    // O(batch): zero existing bytes moved, sidecar-only commit
    dataFiles.foreach(p =>
      assert(Files.getLastModifiedTime(p) === mtimes(p), s"$p rewritten"))
    assert(SnapshotTable.eqDeleteEntries(root, before + 1).nonEmpty)
    // time travel keeps the rows
    assert(spark.sql(s"SELECT count(*) FROM dml5.db.t VERSION AS OF $before")
      .first.getLong(0) === 3)
  }

  test("governed MERGE/UPDATE publish as atomic catalog commits") {
    val cat = Files.createTempDirectory("graft-dml-gov").toString + "/cat"
    spark.conf.set("spark.sql.catalog.dmlg",
      "graft.sources.GraftGovernedCatalog")
    spark.conf.set("spark.sql.catalog.dmlg.root", cat)
    graft.operators.Catalog.transactDelta(cat, Seq(("t",
      Seq(("a", 1L, "x"), ("b", 2L, "y")).toDF("k", "n", "p"), "p")))
    val c0 = graft.operators.Catalog.latestCommit(cat)

    // MERGE = ONE new catalog commit carrying the O(batch) upsert
    Seq(("b", 20L, "y"), ("c", 3L, "x")).toDF("k", "n", "p")
      .createOrReplaceTempView("dmlg_src")
    val res = spark.sql(
      """MERGE INTO dmlg.t AS t USING dmlg_src AS s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(res.first.getLong(0) === c0 + 1)
    assert(spark.table("dmlg.t").orderBy("k")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq ===
      Seq(("a", 1L), ("b", 20L), ("c", 3L)))
    // time travel to the pre-merge commit
    assert(spark.sql(s"SELECT n FROM dmlg.t VERSION AS OF $c0 " +
      "WHERE k = 'b'").first.getLong(0) === 2L)

    // UPDATE = one more atomic commit; rollback rewinds both
    spark.sql("UPDATE dmlg.t SET n = 0 WHERE k = 'a'")
    assert(spark.sql("SELECT n FROM dmlg.t WHERE k = 'a'")
      .first.getLong(0) === 0L)
    graft.operators.Catalog.rollback(cat, c0)
    assert(spark.table("dmlg.t").orderBy("k")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq ===
      Seq(("a", 1L), ("b", 2L)))
  }

  test("concurrent governed MERGEs race the CAS; both land, no lost update") {
    val cat = Files.createTempDirectory("graft-dml-race").toString + "/cat"
    spark.conf.set("spark.sql.catalog.dmlr",
      "graft.sources.GraftGovernedCatalog")
    spark.conf.set("spark.sql.catalog.dmlr.root", cat)
    graft.operators.Catalog.transactDelta(cat, Seq(("t",
      Seq(("a", 1L, "x"), ("b", 2L, "y")).toDF("k", "n", "p"), "p")))
    Seq(("a", 10L, "x")).toDF("k", "n", "p")
      .createOrReplaceTempView("dmlr_s1")
    Seq(("c", 30L, "y")).toDF("k", "n", "p")
      .createOrReplaceTempView("dmlr_s2")
    def merge(src: String): Unit = {
      spark.sql(s"MERGE INTO dmlr.t t USING $src s ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
      ()
    }
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val both = Future.sequence(Seq(
      Future(merge("dmlr_s1")), Future(merge("dmlr_s2"))))
    Await.result(both, 120.seconds)
    // the CAS loser re-staged against the winner's commit: two
    // commits, both updates visible, nothing lost
    assert(spark.table("dmlr.t").orderBy("k").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq ===
      Seq(("a", 10L), ("b", 2L), ("c", 30L)))
  }

  test("updateWhere composes with hidden partitioning and rename evolution") {
    import org.apache.spark.sql.functions.expr
    // a days(ts)-transformed layout: the UPDATE resolves rows through
    // the derived directory value; the source column is NOT a layout
    // column (the derived field is), so updating other columns works
    // and updating ts refuses
    val root = Files.createTempDirectory("graft-dml-hidden").toString
    val df = spark.range(0, 48).selectExpr("id",
      "timestamp'2024-03-01 00:00:00' + make_interval(0,0,0,0,CAST(id AS INT),0,0) AS ts",
      "CAST(id AS DOUBLE) AS v")
    SnapshotTable.commitDelta(df, root, "days(ts)")
    SnapshotTable.updateWhere(spark, root, "days(ts)",
      expr("ts >= timestamp'2024-03-02 00:00:00'"),
      Seq("v" -> expr("v + 1000")))
    val got = SnapshotTable.read(spark, root)
    assert(got.filter(expr("v >= 1000")).count() === 24) // day 2 rows
    assert(got.filter(expr("ts < timestamp'2024-03-02 00:00:00' AND v >= 1000"))
      .count() === 0)
    intercept[IllegalArgumentException] { // layout source refuses
      SnapshotTable.updateWhere(spark, root, "days(ts)",
        expr("v = 0"), Seq("ts" -> expr("ts")))
    }

    // UPDATE after a RENAME: the rewrite reads old-era files through
    // the field-id projection and writes under the current name
    val r2 = Files.createTempDirectory("graft-dml-ren").toString
    SnapshotTable.commitDelta(
      Seq((1L, 5.0, "x"), (2L, 6.0, "y")).toDF("id", "price", "p"),
      r2, "p")
    SnapshotTable.renameColumn(spark, r2, "price", "px")
    SnapshotTable.updateWhere(spark, r2, "p",
      expr("px > 5"), Seq("px" -> expr("px * 2")))
    assert(SnapshotTable.read(spark, r2).orderBy("id").collect()
      .map(_.getAs[Double]("px")).toSeq === Seq(5.0, 12.0))
  }

  test("the typed Dataset.mergeInto API routes through the rule, conditional clauses included") {
    val root = mkCatalogTable("dmlapi")
    val src = Seq(("a", 0L, "x", "d"), ("b", 20L, "x", "u"),
      ("d", 4L, "y", "c")).toDF("k", "n", "p", "op").alias("s")
    val before = SnapshotTable.latestVersion(root)
    src.mergeInto("dmlapi.db.t", col("s.k") === col("dmlapi.db.t.k"))
      .whenMatched(col("s.op") === "d").delete()
      .whenMatched().update(Map("n" -> col("s.n")))
      .whenNotMatched(col("s.op") =!= "d")
      .insert(Map("k" -> col("s.k"), "n" -> col("s.n"), "p" -> col("s.p")))
      .merge()
    assert(SnapshotTable.latestVersion(root) === before + 1) // ONE commit
    val rows = spark.table("dmlapi.db.t").orderBy("k")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(rows === Seq(("b", 20L), ("c", 3L), ("d", 4L)))
  }

  test("nondeterministic WHERE routes CoW: identical twins are never lost") {
    // the SQL surface can't even express this (Spark's CheckAnalysis
    // rejects nondeterministic UPDATE conditions), but runUpdate is a
    // public programmatic API — four IDENTICAL twin rows are the shape
    // where MoR full-row masking under a nondeterministic predicate
    // would silently drop the unmatched twins (the sidecar kills all
    // four, only the matched subset re-appends)
    val root = Files.createTempDirectory("graft-dmlnd").toString + "/t"
    SnapshotTable.commitAppend(
      Seq(("a", 1L, "x"), ("t", 5L, "x"), ("t", 5L, "x"), ("t", 5L, "x"),
        ("t", 5L, "x"), ("c", 3L, "y")).toDF("k", "n", "p"),
      root, "p")
    val before = SnapshotTable.latestVersion(root)
    val sidecarsBefore = SnapshotTable.eqDeleteEntries(root, before).size
    graft.sources.GraftDml.runUpdate(spark,
      new graft.sources.TableHandle(None, root), "p",
      col("n") === 5 && rand() < 0.5,
      Seq("n" -> (col("n") + 100)), Set("n"),
      deterministicPredicate = false)
    val after = SnapshotTable.latestVersion(root)
    // routed copy-on-write: no NEW equality-delete sidecars
    assert(SnapshotTable.eqDeleteEntries(root, after).size ===
      sidecarsBefore)
    // multiplicity preserved whatever the draw: still exactly four
    // twins, each either updated or untouched
    val twins = SnapshotTable.read(spark, root)
      .filter(col("k") === "t").collect().map(_.getAs[Long]("n"))
    assert(twins.length === 4, s"twins lost: ${twins.toSeq}")
    assert(twins.forall(n => n == 5L || n == 105L), twins.toSeq)
    assert(SnapshotTable.read(spark, root).count() === 6)
    // and the SQL surface refuses outright (Spark's own analysis rule)
    mkCatalogTable("dml9")
    val e = intercept[Exception] {
      spark.sql("UPDATE dml9.db.t SET n = n + 100 " +
        "WHERE n = 5 AND rand() < 0.5")
    }
    assert(e.getMessage.contains("NON_DETERMINISTIC"), e.getMessage)
  }

  test("MERGE/UPDATE against a time-travel pin refuse") {
    mkCatalogTable("dml4")
    Seq(("b", 20L, "x")).toDF("k", "n", "p")
      .createOrReplaceTempView("dml4_src")
    val e = intercept[Exception] {
      spark.sql("MERGE INTO (SELECT * FROM dml4.db.t VERSION AS OF 1) t " +
        "USING dml4_src s ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    } // a pinned subquery is not a writable target at all
    assert(e != null)
  }

  test("nondeterministic UPDATE/DELETE predicates are drawn exactly once") {
    // the CoW route must pin a nondeterministic predicate to ONE
    // draw: without the pin, touched-partition discovery and the
    // when(hit, ...) rewrite are two independent draws — rows
    // matching only the second draw in partitions the first missed
    // would never update. Probe with a counting nondeterministic UDF:
    // a pinned plan evaluates it exactly once per row, the two-draw
    // plan about twice.
    val root = Files.createTempDirectory("graft-dml-nondet").toString
    SnapshotTable.commitDelta(
      spark.range(0, 100).selectExpr("id",
        "CAST(id % 2 AS STRING) AS p", "CAST(0 AS LONG) AS flag"),
      root, "p")

    GraftDmlSpec.probeCount.set(0L)
    val probe = udf { (id: Long) =>
      GraftDmlSpec.probeCount.incrementAndGet(); id % 2 == 0
    }.asNondeterministic()
    SnapshotTable.updateWhere(spark, root, "p", probe(col("id")),
      Seq("flag" -> lit(1L)))
    assert(GraftDmlSpec.probeCount.get() === 100L,
      "predicate must be drawn once per row (pinned), not re-drawn " +
        "for discovery and rewrite independently")
    val got = SnapshotTable.read(spark, root)
    assert(got.filter(col("flag") === 1L).count() === 50)
    assert(got.filter(col("id") % 2 === 0 && col("flag") =!= 1L)
      .count() === 0)

    GraftDmlSpec.probeCount.set(0L)
    SnapshotTable.deleteWhere(spark, root, "p", probe(col("id")))
    assert(GraftDmlSpec.probeCount.get() === 100L)
    val left = SnapshotTable.read(spark, root)
    assert(left.count() === 50 &&
      left.filter(col("id") % 2 === 0).count() === 0)
  }
}

object GraftDmlSpec {
  /** Shared by the counting-UDF probe (local mode: one JVM). */
  val probeCount = new java.util.concurrent.atomic.AtomicLong(0L)
}
