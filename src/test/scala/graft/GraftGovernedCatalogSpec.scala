package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{Catalog, SnapshotTable}

/** The governed catalog surfaced as a Spark SQL catalog: reads pin
  * catalog commits (cross-table consistency from SQL), INSERT INTO is
  * an atomic catalog-commit fast-append, VERSION AS OF accepts commit
  * numbers and catalog tags, TIMESTAMP AS OF resolves commit stamps,
  * and history-bypassing DDL refuses. */
class GraftGovernedCatalogSpec extends GraftSuite {
  import spark.implicits._

  private lazy val root: String = {
    val r = Files.createTempDirectory("graft-gov-cat").toString + "/cat"
    spark.conf.set("spark.sql.catalog.govt",
      "graft.sources.GraftGovernedCatalog")
    spark.conf.set("spark.sql.catalog.govt.root", r)
    val t0 = Seq(("a", 1L, "d1"), ("b", 2L, "d1"), ("c", 3L, "d2"))
      .toDF("k", "n", "day")
    Catalog.transactDelta(r, Seq(("bronze", t0, "day")))
    r
  }

  test("INSERT INTO is an atomic catalog-commit fast-append; time travel pins commits and tags") {
    root
    assert(spark.sql("SELECT count(*) FROM govt.bronze").first.getLong(0) === 3)

    val commitsBefore = Catalog.commits(root).size
    val tr = Catalog.tableRoot(root, "bronze")
    val entriesBefore = SnapshotTable
      .manifestEntries(tr, Catalog.tableVersions(root)("bronze")).size
    spark.sql("INSERT INTO govt.bronze VALUES ('d', 4, 'd2')")

    // one new catalog commit; the append KEPT every base manifest
    // entry and added the batch's (no partition rewrite)
    assert(Catalog.commits(root).size === commitsBefore + 1)
    val entriesAfter = SnapshotTable
      .manifestEntries(tr, Catalog.tableVersions(root)("bronze")).size
    assert(entriesAfter > entriesBefore)
    assert(spark.sql("SELECT count(*) FROM govt.bronze").first.getLong(0) === 4)

    // VERSION AS OF = catalog commit number, then a catalog tag
    assert(spark.sql("SELECT count(*) FROM govt.bronze VERSION AS OF 0")
      .first.getLong(0) === 3)
    Catalog.tag(root, "seed", 0L)
    assert(spark.sql("SELECT count(*) FROM govt.bronze VERSION AS OF 'seed'")
      .first.getLong(0) === 3)
    // TIMESTAMP AS OF now = the latest commit
    val now = java.time.Instant.now().plusSeconds(1).toString
    assert(spark.sql(
      s"SELECT count(*) FROM govt.bronze TIMESTAMP AS OF '$now'")
      .first.getLong(0) === 4)
    // filtered reads run the pushed-filter skipping scan
    assert(spark.sql("SELECT sum(n) FROM govt.bronze WHERE day = 'd2'")
      .first.getLong(0) === 7)
  }

  test("CTAS + INSERT OVERWRITE transact; pinned cross-table reads are consistent") {
    root
    spark.sql("CREATE TABLE govt.top AS SELECT k, n FROM govt.bronze WHERE n >= 3")
    assert(spark.sql("SELECT count(*) FROM govt.top").first.getLong(0) >= 1)
    val names = spark.sql("SHOW TABLES IN govt").collect()
      .map(_.getString(1)).toSet
    assert(Set("bronze", "top").subsetOf(names))

    val pin = Catalog.latestCommit(root)
    val topAtPin = spark.sql("SELECT count(*) FROM govt.top").first.getLong(0)
    spark.sql("INSERT OVERWRITE govt.top SELECT 'z' AS k, 0L AS n")
    assert(spark.sql("SELECT count(*) FROM govt.top").first.getLong(0) === 1)
    // the pinned commit still serves the pre-overwrite content, and a
    // join of two pins is the consistent pair
    assert(spark.sql(s"SELECT count(*) FROM govt.top VERSION AS OF $pin")
      .first.getLong(0) === topAtPin)
  }

  test("metadata tables over governed tables: gov.t.files / .snapshots") {
    root
    assert(spark.sql("SELECT count(*) FROM govt.bronze.files")
      .first.getLong(0) > 0)
    assert(spark.sql("SELECT count(*) FROM govt.bronze.snapshots")
      .first.getLong(0) > 0)
  }

  test("DELETE FROM a governed table is one atomic catalog commit of a MoR sidecar") {
    root
    val before = spark.sql("SELECT count(*) FROM govt.bronze").first.getLong(0)
    val commitsBefore = Catalog.commits(root).size
    val doomed = spark.sql(
      "SELECT count(*) FROM govt.bronze WHERE n = 4").first.getLong(0)
    assume(doomed > 0)
    spark.sql("DELETE FROM govt.bronze WHERE n = 4")
    assert(Catalog.commits(root).size === commitsBefore + 1)
    assert(spark.sql("SELECT count(*) FROM govt.bronze").first.getLong(0)
      === before - doomed)
    // the pre-delete commit still serves every row (governed rollback)
    assert(spark.sql(
      s"SELECT count(*) FROM govt.bronze VERSION AS OF ${commitsBefore - 1}")
      .first.getLong(0) === before)
  }

  test("plain CREATE TABLE is durable; absent-at-tag surfaces as NoSuchTable") {
    root
    spark.sql("CREATE TABLE govt.ledger (k STRING, n BIGINT)")
    assert(spark.sql("SELECT count(*) FROM govt.ledger").first.getLong(0) === 0)
    intercept[Exception] { // already exists
      spark.sql("CREATE TABLE govt.ledger (k STRING)")
    }
    // 'seed' tags commit 0, where ledger did not exist: the failure
    // must be table-not-found at that pin, not a branch lookup error
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM govt.ledger VERSION AS OF 'seed'").collect()
    }
    def msgs(t: Throwable): String =
      if (t == null) "" else t.getMessage + " | " + msgs(t.getCause)
    assert(msgs(e).toLowerCase.contains("table"), msgs(e))
    assert(!msgs(e).toLowerCase.contains("branch"), msgs(e))
  }

  test("CALL govt.system.rollback rewinds the whole catalog from SQL") {
    root
    val pin = Catalog.latestCommit(root)
    val before = spark.sql("SELECT count(*) FROM govt.bronze").first.getLong(0)
    spark.sql("INSERT INTO govt.bronze VALUES ('zz', 99, 'd9')")
    assert(spark.sql("SELECT count(*) FROM govt.bronze").first.getLong(0)
      === before + 1)
    val res = spark.sql(s"CALL govt.system.rollback($pin)")
    assert(res.columns.toSeq === Seq("commit"))
    assert(res.first.getLong(0) === pin)
    assert(spark.sql("SELECT count(*) FROM govt.bronze").first.getLong(0)
      === before)
  }

  test("CALL collect_ndv analyzes a governed table in place (no commit)") {
    root
    val c0 = Catalog.latestCommit(root)
    val res = spark.sql("CALL govt.system.collect_ndv('bronze', 'n')")
    assert(res.columns.toSeq === Seq("version"))
    assert(res.count() >= 1)
    // sidecars are storage-version metadata, not catalog state
    assert(Catalog.latestCommit(root) === c0)
    val tr = Catalog.tableRoot(root, "bronze")
    val pinned = Catalog.tableVersions(root)("bronze")
    assert(SnapshotTable.tableNdv(spark, tr, pinned).contains("n"))
    // ... and the bounds backfill recorded min/max coverage too
    // (fastBounds itself may refuse here: an earlier test leaves an
    // unapplied MoR delete on bronze, and bounds lie under deletes)
    assert(SnapshotTable.statsCoverage(tr, pinned).contains("n"))
  }

  test("CALL create_branch / fast_forward_main publish a branch head from SQL") {
    root
    import spark.implicits._
    val before = spark.sql("SELECT count(*) FROM govt.bronze").first.getLong(0)
    spark.sql("CALL govt.system.create_branch('exp')")
    // a multi-table branch transaction is invisible on main
    Catalog.transactOnBranch(root, "exp", Seq(
      "bronze" -> spark.sql("SELECT * FROM govt.bronze")
        .union(Seq(("nw", 7L, "d8")).toDF("k", "n", "d"))))
    assert(spark.sql("SELECT count(*) FROM govt.bronze").first.getLong(0)
      === before)
    assert(spark.sql("SELECT count(*) FROM govt.bronze VERSION AS OF 'exp'")
      .first.getLong(0) === before + 1)
    spark.sql("CALL govt.system.fast_forward_main('exp')")
    assert(spark.sql("SELECT count(*) FROM govt.bronze").first.getLong(0)
      === before + 1)
  }

  test("ALTER COLUMN evolution is an atomic governed commit; time travel keeps old schema") {
    root
    Catalog.transactDelta(root, Seq(("evo",
      Seq(("a", 1L, "d1"), ("b", 2L, "d2")).toDF("k", "n", "day"), "day")))
    val c0 = Catalog.latestCommit(root)
    val n0 = spark.sql("SELECT count(*) FROM govt.evo").first.getLong(0)
    // rename publishes ONE catalog commit (metadata-only, rollback-able)
    spark.sql("ALTER TABLE govt.evo RENAME COLUMN n TO qty")
    assert(Catalog.latestCommit(root) === c0 + 1)
    assert(spark.table("govt.evo").columns.contains("qty"))
    // old-era files resolve by field id; values survive the rename
    assert(spark.sql("SELECT sum(qty) FROM govt.evo").first.getLong(0) === 3)
    // pre-evolution commits read under THEIR schema
    assert(spark.sql(s"SELECT n FROM govt.evo VERSION AS OF $c0")
      .count() === n0)
    // add: typed NULL over every pre-add row
    spark.sql("ALTER TABLE govt.evo ADD COLUMN score DOUBLE")
    assert(spark.sql(
      "SELECT count(*) FROM govt.evo WHERE score IS NULL")
      .first.getLong(0) === n0)
    // add WITH DEFAULT: pre-add rows read the initial default instead
    spark.sql("ALTER TABLE govt.evo ADD COLUMN src STRING DEFAULT 'seed'")
    assert(spark.sql(
      "SELECT count(*) FROM govt.evo WHERE src = 'seed'")
      .first.getLong(0) === n0)
    // rollback rewinds the evolutions like any commits
    Catalog.rollback(root, c0 + 1)
    assert(!spark.table("govt.evo").columns.contains("score"))
    assert(!spark.table("govt.evo").columns.contains("src"))
    assert(spark.table("govt.evo").columns.contains("qty"))
  }

  test("history-bypassing DDL and unpartitioned INSERT refuse loudly") {
    root
    // non-column ALTER still bypasses history → throws
    intercept[Exception] {
      spark.sql("ALTER TABLE govt.bronze SET TBLPROPERTIES ('a'='b')")
    }
    assert(spark.sql("SELECT count(*) FROM govt.bronze")
      .first.getLong(0) > 0) // still there after any DROP attempt
    // CTAS tables are flat snapshots: INSERT INTO refuses with the
    // fast-append guidance (INSERT OVERWRITE is the supported path)
    val e = intercept[Exception] {
      spark.sql("INSERT INTO govt.top VALUES ('q', 5)")
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("fast-append")), e.getMessage)
  }

  test("a multi-task governed INSERT writes one file per partition directory") {
    val r = Files.createTempDirectory("graft-gov-cluster").toString + "/cat"
    spark.conf.set("spark.sql.catalog.govc", "graft.sources.GraftGovernedCatalog")
    spark.conf.set("spark.sql.catalog.govc.root", r)
    Catalog.transactDelta(r, Seq(("t", Seq(("a", 0L, "d0")).toDF("k", "n", "day"), "day")))
    // four tasks, each holding rows of all three days
    spark.range(0, 120, 1, 4)
      .select(concat(lit("k"), col("id")).as("k"), col("id").as("n"),
        concat(lit("d"), (col("id") % 3).cast("string")).as("day"))
      .createOrReplaceTempView("govc_src")
    val tr = Catalog.tableRoot(r, "t")
    def filesPerDir(): Map[String, Int] = {
      val v = Catalog.tableVersions(r)("t")
      new java.io.File(s"$tr/v=$v").listFiles().filter(_.getName.startsWith("day="))
        .map(d => d.getName -> d.listFiles().count(_.getName.endsWith(".parquet"))).toMap
    }
    val days = Map("day=d0" -> 1, "day=d1" -> 1, "day=d2" -> 1)
    // clustered by the recorded spec through a shuffle (the small-plan
    // rule off), then by the rule's one-partition coalesce
    withConf(SmallPlanSpec.NoGate)(spark.sql("INSERT INTO govc.t SELECT * FROM govc_src"))
    assert(filesPerDir() === days)
    spark.sql("INSERT INTO govc.t SELECT * FROM govc_src")
    assert(filesPerDir() === days)
    assert(spark.table("govc.t").count() === 241L)
  }
}
