package graft

import java.nio.file.Files

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteAction, DeleteFromTable, MergeIntoTable, UpdateTable}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, V1Write}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.operators.{Catalog, SnapshotTable}
import graft.sources.{GraftDmlRule, GraftTable}

/** The SQL surface over both table kinds: one statement script runs on
  * a plain `GraftSqlCatalog` table and on a governed
  * `GraftGovernedCatalog` table with the same row assertions. Every
  * statement lands exactly one commit of the table's history — a
  * version of the plain table, a catalog commit of the governed one —
  * TRUNCATE included, and the rollback procedure undoes a TRUNCATE. A
  * `VERSION AS OF` pin is read-only on both kinds. */
class GraftTableSpec extends GraftSuite {
  import spark.implicits._

  /** One table kind: `name` is table `t`'s SQL name, `commits` the
    * history a statement extends (versions or catalog commits on disk,
    * ascending), `head` its published position, `rollbackSql(h)` the
    * procedure call that restores head `h`. */
  private case class Kind(name: String, head: () => Long,
                          commits: () => Seq[Long],
                          rollbackSql: Long => String)

  private val seed = Seq(("a", 1L, "x"), ("b", 2L, "x"), ("c", 3L, "y"))

  /** A fresh table `t` partitioned by `p` holding `seed`, of `kind`;
    * `tag` keeps the catalog name unique (catalogs are cached per name). */
  private def table(kind: String, tag: String): Kind = {
    val dir = Files.createTempDirectory(s"graft-kinds-$tag").toString
    val cat = s"kinds_$tag"
    if (kind == "plain") {
      spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftSqlCatalog")
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", dir)
      spark.sql(s"CREATE TABLE $cat.db.t (k STRING, n BIGINT, p STRING) " +
        "PARTITIONED BY (p)")
      spark.sql(s"INSERT INTO $cat.db.t VALUES ('a', 1, 'x'), ('b', 2, 'x'), " +
        "('c', 3, 'y')")
      val root = s"$dir/db/t"
      Kind(s"$cat.db.t", () => SnapshotTable.latestVersion(root),
        () => SnapshotTable.versions(root),
        v => s"CALL $cat.system.rollback('db.t', $v)")
    } else {
      spark.conf.set(s"spark.sql.catalog.$cat",
        "graft.sources.GraftGovernedCatalog")
      spark.conf.set(s"spark.sql.catalog.$cat.root", dir)
      Catalog.transactDelta(dir, Seq(("t", seed.toDF("k", "n", "p"), "p")))
      Kind(s"$cat.t", () => Catalog.latestCommit(dir),
        () => Catalog.commits(dir), c => s"CALL $cat.system.rollback($c)")
    }
  }

  private def rows(k: Kind): Seq[(String, Long, String)] =
    spark.table(k.name).select("k", "n", "p").as[(String, Long, String)]
      .collect().toSeq.sortBy(_._1)

  /** Run `sql`, asserting it lands exactly one commit, the new head. */
  private def oneCommit(k: Kind, sql: String): Unit = {
    val before = k.commits()
    spark.sql(sql)
    assert(k.commits() === before :+ k.head(), sql)
  }

  Seq("plain", "governed").foreach { kind =>
    test(s"INSERT, DELETE, MERGE, UPDATE, TRUNCATE, INSERT OVERWRITE: one commit each, same rows ($kind)") {
      val k = table(kind, s"${kind}_script")
      val t = k.name
      assert(rows(k) === seed)
      oneCommit(k, s"INSERT INTO $t VALUES ('d', 4, 'y')")
      assert(rows(k) === seed :+ (("d", 4L, "y")))
      oneCommit(k, s"DELETE FROM $t WHERE k = 'b'")
      assert(rows(k) === Seq(("a", 1L, "x"), ("c", 3L, "y"), ("d", 4L, "y")))
      Seq(("c", 30L, "y"), ("e", 5L, "x")).toDF("k", "n", "p")
        .createOrReplaceTempView(s"kinds_src_$kind")
      oneCommit(k, s"MERGE INTO $t AS t USING kinds_src_$kind AS s " +
        "ON t.k = s.k WHEN MATCHED THEN UPDATE SET * " +
        "WHEN NOT MATCHED THEN INSERT *")
      val merged = Seq(("a", 1L, "x"), ("c", 30L, "y"), ("d", 4L, "y"),
        ("e", 5L, "x"))
      assert(rows(k) === merged)
      oneCommit(k, s"UPDATE $t SET n = n + 100 WHERE k = 'a'")
      val updated = ("a", 101L, "x") +: merged.tail
      assert(rows(k) === updated)
      val beforeTruncate = k.head()
      oneCommit(k, s"TRUNCATE TABLE $t")
      assert(rows(k).isEmpty)
      assert(spark.table(t).columns.toSeq === Seq("k", "n", "p"))
      // truncation is a commit like any other: rollback undoes it
      spark.sql(k.rollbackSql(beforeTruncate))
      assert(k.head() === beforeTruncate)
      assert(rows(k) === updated)
      oneCommit(k, s"INSERT OVERWRITE $t VALUES ('z', 26, 'x')")
      assert(rows(k) === Seq(("z", 26L, "x")))
    }

    test(s"a VERSION AS OF pin refuses MERGE, UPDATE, DELETE and INSERT ($kind)") {
      val k = table(kind, s"${kind}_pin")
      val pin = k.head()
      spark.sql(s"INSERT INTO ${k.name} VALUES ('d', 4, 'y')")
      // the relation Spark's own time travel resolves for the pin
      val pinned = spark.read.option("versionAsOf", pin).table(k.name)
        .queryExecution.analyzed
      assert(spark.read.option("versionAsOf", pin).table(k.name).count() === 3)
      val rel = pinned.collectFirst { case r: DataSourceV2Relation => r }.get
      val source = seed.toDF("k", "n", "p").queryExecution.analyzed
      val rule = GraftDmlRule(spark)
      val before = k.commits()
      def refused(stmt: String)(body: => Any): Unit = {
        val e = intercept[IllegalArgumentException](body)
        assert(e.getMessage.contains(s"$stmt against a version/tag/branch " +
          "pin is read-only"), e.getMessage)
      }
      refused("MERGE INTO")(rule(MergeIntoTable(pinned, source,
        Literal.TrueLiteral, Seq(DeleteAction(None)), Nil, Nil,
        withSchemaEvolution = false)))
      refused("UPDATE")(rule(UpdateTable(pinned,
        Seq(Assignment(rel.output(1), Literal(0L))), None)))
      refused("DELETE FROM")(rule(DeleteFromTable(pinned, Literal.TrueLiteral)))
      val target = rel.table.asInstanceOf[GraftTable]
      val info = new LogicalWriteInfo {
        override def options(): CaseInsensitiveStringMap =
          CaseInsensitiveStringMap.empty()
        override def queryId(): String = "pinned-insert"
        override def schema(): StructType = target.schema()
      }
      refused("INSERT")(target.newWriteBuilder(info).build()
        .asInstanceOf[V1Write].toInsertableRelation()
        .insert(seed.toDF("k", "n", "p"), false))
      refused("DELETE")(target.canDeleteWhere(
        Array[org.apache.spark.sql.sources.Filter](
          org.apache.spark.sql.sources.EqualTo("k", "a"))))
      assert(k.commits() === before)
      assert(rows(k).size === 4)
    }
  }

  /** A reader's own `versionAsOf` (which Spark also turns into the
    * catalog's time-travel load) and `tag`/`branch` options read the
    * version the pin names in `t`'s history: every pin in `pins` reads
    * `seed`, the live table one more row. An `appendsFrom` range read
    * from the first pin (an offset) reads that one row. */
  private def readsPins(t: String, pins: Seq[String]): Unit = {
    def count(k: String, v: String) = spark.read.option(k, v).table(t).count()
    pins.foreach(p => assert(count("versionAsOf", p) === 3, p))
    pins.foreach(p => assert(
      spark.sql(s"SELECT * FROM $t VERSION AS OF '$p'").count() === 3, p))
    assert(count("tag", "audit") === 3)
    assert(count("branch", "dev") === 3)
    assert(spark.table(t).count() === 4)
    assert(count("appendsFrom", pins.head) === 1)
  }

  test("a reader's pin option reads the version the catalog loads (plain)") {
    val dir = Files.createTempDirectory("graft-kinds-readpin").toString
    spark.conf.set("spark.sql.catalog.kinds_readpin", "graft.sources.GraftSqlCatalog")
    spark.conf.set("spark.sql.catalog.kinds_readpin.warehouse", dir)
    spark.sql("CREATE TABLE kinds_readpin.db.t (k STRING, n BIGINT, p STRING) " +
      "PARTITIONED BY (p)")
    spark.sql("INSERT INTO kinds_readpin.db.t VALUES ('a', 1, 'x'), " +
      "('b', 2, 'x'), ('c', 3, 'y')")
    val root = s"$dir/db/t"
    val v = SnapshotTable.latestVersion(root)
    SnapshotTable.createTag(root, "audit", v)
    SnapshotTable.createBranch(root, "dev", v)
    spark.sql("INSERT INTO kinds_readpin.db.t VALUES ('d', 4, 'y')")
    readsPins("kinds_readpin.db.t", Seq(v.toString, "audit", "dev"))
  }

  test("a reader's pin option reads the table at the catalog commit, not that table version (governed)") {
    val dir = Files.createTempDirectory("graft-kinds-govpin").toString
    spark.conf.set("spark.sql.catalog.kinds_govpin", "graft.sources.GraftGovernedCatalog")
    spark.conf.set("spark.sql.catalog.kinds_govpin.root", dir)
    Catalog.transactDelta(dir, Seq(("t", seed.toDF("k", "n", "p"), "p")))
    // a commit of another table: from here on t's version lags the
    // catalog commit, so a commit read as a table version is wrong
    val c = Catalog.transact(dir, Seq("u" -> Seq(1L).toDF("x")))
    Catalog.tag(dir, "audit", c)
    Catalog.createBranch(dir, "dev", c)
    spark.sql("INSERT INTO kinds_govpin.t VALUES ('d', 4, 'y')")
    assert(Catalog.tableVersions(dir, c)("t") === 0L)
    assert(Catalog.tableVersions(dir)("t") === c)
    readsPins("kinds_govpin.t", Seq(c.toString, "audit", "dev"))
  }
}
