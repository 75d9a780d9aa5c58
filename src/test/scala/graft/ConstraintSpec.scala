package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.operators.SnapshotTable

/** CHECK constraints on snapshot tables (the Delta `ALTER TABLE ADD
  * CONSTRAINT` surface): declared once, validated on EVERY
  * data-writing commit path, refusing with NOTHING published. SQL
  * CHECK semantics — a NULL predicate result passes; `NOT NULL` is the
  * constraint `c IS NOT NULL`. */
class ConstraintSpec extends GraftSuite {

  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString + "/t"

  test("violating append refuses and publishes nothing; orphan swept") {
    val root = tmp("graft-con-append")
    SnapshotTable.commitAppend(
      Seq((1L, 10.0, "a"), (2L, 20.0, "a")).toDF("id", "price", "p"),
      root, "p")
    SnapshotTable.addConstraint(spark, root, "price_pos", "price > 0")
    val v0 = SnapshotTable.latestVersion(root)

    val e = intercept[IllegalStateException] {
      SnapshotTable.commitAppend(
        Seq((3L, -5.0, "a")).toDF("id", "price", "p"), root, "p")
    }
    assert(e.getMessage.contains("price_pos"))
    // nothing published: same version, same rows
    assert(SnapshotTable.latestVersion(root) === v0)
    assert(SnapshotTable.read(spark, root).count() === 2)
    // the failed claim is an uncommitted orphan; the GC sweeps it
    val swept = SnapshotTable.sweepOrphans(root, graceMs = 0L)
    assert(swept.nonEmpty)
    // and a valid append still lands afterwards
    SnapshotTable.commitAppend(
      Seq((3L, 5.0, "a")).toDF("id", "price", "p"), root, "p")
    assert(SnapshotTable.read(spark, root).count() === 3)
  }

  test("an `_`-prefixed partition column is data: stats, counts and CHECKs apply") {
    // Spark's hidden-path rule skips `_x` names unless they hold a `=`,
    // so `_d=...` directories are partitions, not sidecars
    val root = tmp("graft-con-underscore")
    SnapshotTable.commitAppend(
      Seq((1L, 10.0, "a"), (2L, 20.0, "b")).toDF("id", "price", "_d"),
      root, "_d", statsCols = Seq("price"))
    assert(SnapshotTable.fastCountMeta(spark, root) === Some(2L))
    assert(SnapshotTable.statsCoverage(root) === Seq("price"))
    SnapshotTable.addConstraint(spark, root, "price_pos", "price > 0")
    val v0 = SnapshotTable.latestVersion(root)
    val e = intercept[IllegalStateException] {
      SnapshotTable.commitAppend(
        Seq((3L, -5.0, "a")).toDF("id", "price", "_d"), root, "_d")
    }
    assert(e.getMessage.contains("price_pos"))
    assert(SnapshotTable.latestVersion(root) === v0)
    SnapshotTable.commitAppend(
      Seq((3L, 5.0, "a")).toDF("id", "price", "_d"), root, "_d")
    assert(SnapshotTable.fastCountMeta(spark, root) === Some(3L))
  }

  test("full-snapshot commit path enforces too") {
    val root = tmp("graft-con-commit")
    SnapshotTable.commit(Seq((1L, 1.0)).toDF("id", "price"), root)
    SnapshotTable.addConstraint(spark, root, "price_pos", "price > 0")
    intercept[IllegalStateException] {
      SnapshotTable.commit(Seq((1L, 0.0)).toDF("id", "price"), root)
    }
    assert(SnapshotTable.read(spark, root).count() === 1)
  }

  test("branch commits enforce too: a violating frame never reaches main") {
    val root = tmp("graft-con-branch")
    SnapshotTable.commit(Seq((1L, 1.0)).toDF("id", "price"), root)
    SnapshotTable.addConstraint(spark, root, "price_pos", "price > 0")
    val head = SnapshotTable.createBranch(root, "dev")
    val e = intercept[IllegalStateException] {
      SnapshotTable.commitToBranch(Seq((2L, -1.0)).toDF("id", "price"),
        root, "dev")
    }
    assert(e.getMessage.contains("price_pos"))
    // the branch head did not move, so nothing violating can be
    // fast-forwarded onto main
    assert(SnapshotTable.branchVersion(root, "dev") === head)
    // a valid branch commit lands and still fast-forwards main
    val v = SnapshotTable.commitToBranch(
      Seq((1L, 1.0), (2L, 2.0)).toDF("id", "price"), root, "dev")
    assert(SnapshotTable.fastForward(root, SnapshotTable.MainBranch,
      "dev") === v)
    assert(SnapshotTable.latestVersion(root) === v)
    assert(SnapshotTable.read(spark, root).count() === 2)
  }

  test("SQL CHECK semantics: UNKNOWN passes, NOT NULL rejects nulls") {
    val root = tmp("graft-con-null")
    SnapshotTable.commitAppend(
      Seq((1L, Some(1.0), "a")).toDF("id", "price", "p"), root, "p")
    SnapshotTable.addConstraint(spark, root, "price_pos", "price > 0")
    // NULL price: `price > 0` is UNKNOWN — the row PASSES (SQL CHECK)
    SnapshotTable.commitAppend(
      Seq((2L, None: Option[Double], "a")).toDF("id", "price", "p"),
      root, "p")
    assert(SnapshotTable.read(spark, root).count() === 2)
    // NOT NULL is its own constraint, and IS NOT NULL never returns
    // UNKNOWN — on a table without the null row, a null append refuses
    val root2 = tmp("graft-con-nn")
    SnapshotTable.commitAppend(
      Seq((1L, Some(1.0), "a")).toDF("id", "price", "p"), root2, "p")
    SnapshotTable.addConstraint(spark, root2, "price_set",
      "price IS NOT NULL")
    intercept[IllegalStateException] {
      SnapshotTable.commitAppend(
        Seq((3L, None: Option[Double], "a")).toDF("id", "price", "p"),
        root2, "p")
    }
  }

  test("adding a constraint existing rows violate refuses") {
    val root = tmp("graft-con-exist")
    SnapshotTable.commit(Seq((1L, -1.0)).toDF("id", "price"), root)
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.addConstraint(spark, root, "price_pos", "price > 0")
    }
    assert(e.getMessage.contains("1 existing"))
    // the refused constraint was not recorded
    assert(SnapshotTable.constraints(root).isEmpty)
  }

  test("renaming or dropping a constraint-referenced column refuses") {
    val root = tmp("graft-con-evolve")
    SnapshotTable.commitAppend(
      Seq((1L, 10.0, "a")).toDF("id", "price", "p"), root, "p")
    SnapshotTable.addConstraint(spark, root, "price_pos", "price > 0")
    // either evolution would brick every future write at enforcement
    val e1 = intercept[IllegalArgumentException] {
      SnapshotTable.renameColumn(spark, root, "price", "px")
    }
    assert(e1.getMessage.contains("price_pos"))
    val e2 = intercept[IllegalArgumentException] {
      SnapshotTable.dropColumn(spark, root, "price")
    }
    assert(e2.getMessage.contains("drop the constraint first"))
    // unrelated columns still evolve
    SnapshotTable.renameColumn(spark, root, "id", "doc_id")
    // and after dropping the constraint, the rename goes through
    SnapshotTable.dropConstraint(root, "price_pos")
    SnapshotTable.renameColumn(spark, root, "price", "px")
    assert(SnapshotTable.read(spark, root).columns.contains("px"))
  }

  test("drop re-admits; duplicate names and unknown drops refuse") {
    val root = tmp("graft-con-drop")
    SnapshotTable.commit(Seq((1L, 1.0)).toDF("id", "price"), root)
    SnapshotTable.addConstraint(spark, root, "price_pos", "price > 0")
    intercept[IllegalArgumentException] {
      SnapshotTable.addConstraint(spark, root, "price_pos", "price > 1")
    }
    intercept[IllegalArgumentException] {
      SnapshotTable.dropConstraint(root, "nope")
    }
    SnapshotTable.dropConstraint(root, "price_pos")
    SnapshotTable.commit(Seq((1L, -9.0)).toDF("id", "price"), root)
    assert(SnapshotTable.read(spark, root).first().getDouble(1) === -9.0)
  }

  test("merge-on-read upsert validates its batch") {
    val root = tmp("graft-con-mor")
    SnapshotTable.commitAppend(
      Seq((1L, 10.0, "a")).toDF("id", "price", "p"), root, "p")
    SnapshotTable.addConstraint(spark, root, "price_pos", "price > 0")
    intercept[IllegalStateException] {
      SnapshotTable.upsertMor(spark, root, "p",
        Seq((1L, -10.0, "a")).toDF("id", "price", "p"), Seq("id"))
    }
    assert(SnapshotTable.read(spark, root).first().getDouble(1) === 10.0)
  }

  test("ANSI constraint DDL: ALTER TABLE ADD/DROP CONSTRAINT CHECK") {
    val wh = Files.createTempDirectory("graft-con-ddl").toString
    spark.conf.set("spark.sql.catalog.cwh", "graft.sources.GraftSqlCatalog")
    spark.conf.set("spark.sql.catalog.cwh.warehouse", wh)
    try {
      spark.sql("CREATE TABLE cwh.db.t (k STRING, price DOUBLE) PARTITIONED BY (k)")
      spark.sql("INSERT INTO cwh.db.t VALUES ('a', 2.5)")
      spark.sql(
        "ALTER TABLE cwh.db.t ADD CONSTRAINT price_pos CHECK (price > 0)")
      assert(SnapshotTable.constraints(s"$wh/db/t") ===
        Seq("price_pos" -> "price > 0"))
      val e = intercept[Exception] {
        spark.sql("INSERT INTO cwh.db.t VALUES ('a', -1.0)")
      }
      assert(e.getMessage.contains("price_pos"), e.getMessage)
      assert(spark.sql("SELECT count(*) FROM cwh.db.t")
        .first().getLong(0) === 1)
      spark.sql("ALTER TABLE cwh.db.t DROP CONSTRAINT price_pos")
      assert(SnapshotTable.constraints(s"$wh/db/t").isEmpty)
      spark.sql("INSERT INTO cwh.db.t VALUES ('a', -1.0)")
      assert(spark.sql("SELECT count(*) FROM cwh.db.t")
        .first().getLong(0) === 2)
    } finally spark.conf.unset("spark.sql.catalog.cwh")
  }

  test("constraints run from SQL: add_constraint procedure gates INSERT") {
    val wh = Files.createTempDirectory("graft-con-sql").toString
    spark.conf.set("spark.sql.catalog.conwh",
      "graft.sources.GraftSqlCatalog")
    spark.conf.set("spark.sql.catalog.conwh.warehouse", wh)
    try {
      spark.sql("CREATE TABLE conwh.db.m (id BIGINT, price DOUBLE, p STRING) PARTITIONED BY (p)")
      spark.sql("INSERT INTO conwh.db.m VALUES (1, 2.5, 'a')")
      spark.sql("CALL conwh.system.add_constraint('db.m', 'price_pos', 'price > 0')")
      val e = intercept[Exception] {
        spark.sql("INSERT INTO conwh.db.m VALUES (2, -1.0, 'a')")
      }
      assert(e.getMessage.contains("price_pos"), e.getMessage)
      assert(spark.sql("SELECT count(*) FROM conwh.db.m").first().getLong(0) === 1)
      spark.sql("CALL conwh.system.drop_constraint('db.m', 'price_pos')")
      spark.sql("INSERT INTO conwh.db.m VALUES (2, -1.0, 'a')")
      assert(spark.sql("SELECT count(*) FROM conwh.db.m").first().getLong(0) === 2)
    } finally spark.conf.unset("spark.sql.catalog.conwh")
  }
}
