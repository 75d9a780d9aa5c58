package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.MaintenanceJobCountSpec.jobsOf
import graft.operators.{Catalog, IncrementalIvf, SnapshotTable}
import graft.streaming.GovernedStream

/** Table metadata costs no Spark job: every commit records its schema,
  * so a read plans without a footer-inference job, and the `_stats`
  * sidecar is text written and parsed on the driver, so a commit runs
  * only its data write and metadata answers collect a local frame; a
  * catalog commit's publish step is driver-only metadata too, and SQL
  * statements keep their measured jobs on both table kinds. A
  * failing pin prints the call sites of the jobs it counted. The stats
  * text round-trips every type it records exactly. */
class MetadataJobCountSpec extends GraftSuite {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString + "/t"

  /** `body`'s result, asserting it ran at most `limit` jobs. */
  private def pin[A](limit: Int, what: String)(body: => A): A = {
    val (r, jobs) = jobsOf(spark)(body)
    assert(jobs.size <= limit,
      s"$what ran ${jobs.size} jobs, pinned at $limit: ${jobs.mkString("; ")}")
    r
  }

  test("plain commit and commitAppend run one job each; reads plan with none") {
    val rows = Seq((1L, 10.0, "a"), (2L, 20.0, "b")).toDF("id", "price", "p")
    val stats = Seq("price")
    val plain = tmp("graft-jobs-plain")
    pin(1, "first commit")(SnapshotTable.commit(rows, plain, stats))
    pin(1, "commit")(SnapshotTable.commit(rows, plain, stats))
    val appended = tmp("graft-jobs-append")
    pin(1, "first commitAppend")(
      SnapshotTable.commitAppend(rows, appended, "p", stats))
    pin(1, "commitAppend")(SnapshotTable.commitAppend(rows, appended, "p", stats))
    Seq(plain -> 2L, appended -> 4L).foreach { case (root, n) =>
      val df = pin(0, s"read of $root")(SnapshotTable.read(spark, root))
      assert(df.schema.fieldNames.toSet === Set("id", "price", "p"))
      pin(0, s"metadata answers of $root") {
        assert(SnapshotTable.fastCountMeta(spark, root) === Some(n))
        assert(SnapshotTable.fastBounds(spark, root, "price") ===
          Some((10.0, 20.0)))
        assert(SnapshotTable.statsCoverage(root) === stats)
      }
    }
  }

  test("a steady-state governed stream commit runs at most three jobs") {
    val cat = Files.createTempDirectory("graft-jobs-stream").toString
    def batch(i: Long): DataFrame = Seq((i, s"e$i", "2024-01-01"))
      .toDF("event_id", "name", "_ingestion_date")
    // the first commit creates `_stream_state`; later ones read it
    GovernedStream.commitBatch(spark, cat, "src", 0L, batch(0L))
    GovernedStream.commitBatch(spark, cat, "src", 1L, batch(1L))
    // one state read, the bronze append, the state write
    assert(pin(3, "commitBatch")(
      GovernedStream.commitBatch(spark, cat, "src", 2L, batch(2L))).isDefined)
    assert(pin(1, "replayed commitBatch")(
      GovernedStream.commitBatch(spark, cat, "src", 2L, batch(2L))).isEmpty)
    assert(GovernedStream.lastBatchId(spark, cat, "src") === 2L)
  }

  test("the catalog publish path adds no job") {
    val cat = Files.createTempDirectory("graft-jobs-publish").toString
    pin(1, "one-table transact")(
      Catalog.transact(cat, Seq("t" -> Seq(1L, 2L).toDF("id"))))
    pin(0, "putView")(Catalog.putView(cat, "v", "SELECT * FROM t"))
    assert(pin(0, "dropView")(Catalog.dropView(cat, "v")))
    val appended = (0L until 3L).map(i => (i, s"p$i")).toDF("id", "p")
    Catalog.transactDelta(cat, Seq(("d", appended, "p")))
    val c = Catalog.latestCommit(cat)
    assert(pin(0, "foldTable with nothing to fold")(
      Catalog.foldTable(spark, cat, "d")) === c)
    assert(pin(0, "compactTable with nothing fragmented")(
      Catalog.compactTable(spark, cat, "d", "p")) === c)
  }

  test("SQL INSERT INTO, DELETE and MERGE upsert run pinned jobs on both kinds") {
    val wh = Files.createTempDirectory("graft-jobs-sql-wh").toString
    spark.conf.set("spark.sql.catalog.jobs_plain",
      "graft.sources.GraftSqlCatalog")
    spark.conf.set("spark.sql.catalog.jobs_plain.warehouse", wh)
    spark.sql("CREATE TABLE jobs_plain.db.t (k STRING, n BIGINT, p STRING) " +
      "PARTITIONED BY (p)")
    spark.sql("INSERT INTO jobs_plain.db.t VALUES ('a', 1, 'x'), ('b', 2, 'y')")
    val cat = Files.createTempDirectory("graft-jobs-sql-gov").toString
    spark.conf.set("spark.sql.catalog.jobs_gov",
      "graft.sources.GraftGovernedCatalog")
    spark.conf.set("spark.sql.catalog.jobs_gov.root", cat)
    Catalog.transactDelta(cat, Seq(("t",
      Seq(("a", 1L, "x"), ("b", 2L, "y")).toDF("k", "n", "p"), "p")))
    Seq(("b", 20L, "y"), ("c", 3L, "x")).toDF("k", "n", "p")
      .createOrReplaceTempView("jobs_sql_src")
    // (INSERT INTO, DELETE, MERGE upsert) jobs, as measured before the
    // two table kinds shared one table class; the plain INSERT's extra
    // job is the shuffle clustering it by its declared partition column
    Seq("jobs_plain.db.t" -> (2, 3, 8), "jobs_gov.t" -> (1, 2, 8))
      .foreach { case (t, (insert, delete, merge)) =>
        pin(insert, s"INSERT INTO $t")(
          spark.sql(s"INSERT INTO $t VALUES ('d', 4, 'x')"))
        pin(delete, s"DELETE FROM $t")(
          spark.sql(s"DELETE FROM $t WHERE k = 'a'"))
        pin(merge, s"MERGE upsert into $t")(
          spark.sql(s"MERGE INTO $t AS t USING jobs_sql_src AS s " +
            "ON t.k = s.k WHEN MATCHED THEN UPDATE SET * " +
            "WHEN NOT MATCHED THEN INSERT *"))
        assert(spark.table(t).select("k", "n").as[(String, Long)].collect()
          .toSeq.sortBy(_._1) === Seq(("b", 20L), ("c", 3L), ("d", 4L)))
      }
  }

  test("an IVF search of local queries and a steady-state append run few jobs") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding")
    def local(from: Long, n: Int, idOffset: Long): DataFrame =
      emb.filter(col("vec_id") >= from).orderBy("vec_id").limit(n).collect()
        .map(r => (r.getLong(0) + idOffset, r.getSeq[Float](1)))
        .toSeq.toDF("vec_id", "embedding")
    val root = Files.createTempDirectory("graft-jobs-ivf").toString
    IncrementalIvf.appendBatch(spark, root, emb.filter(col("vec_id") < 200))
    IncrementalIvf.appendBatch(spark, root, local(200L, 50, 0L))
    // the centroid and touched-list collects, then the adaptive stages
    // of the replay probe and the lists append; the assignment is a
    // projection inside them (the cross product + window measured 10)
    val batch = local(250L, 50, 0L)
    pin(8, "steady-state appendBatch")(
      IncrementalIvf.appendBatch(spark, root, batch))
    // the centroid collect, the lists listing (over 32 partition dirs)
    // and the adaptive stages of the lists scan and rank window; the
    // queries' probes fold over the local relation (the probe window
    // and its join back onto the queries measured 9)
    val queries = local(0L, 32, 1000000000L)
    assert(pin(5, "search of 32 local queries")(
      IncrementalIvf.search(spark, root, queries).collect()).length === 320)
  }

  /** Spark's own per-file min/max: the values the stats must hold. */
  private def scanStats(root: String, cols: Seq[String]): DataFrame = {
    val aggs = count(lit(1)).as("__rows") +: cols.flatMap(c =>
      Seq(min(col(c)).as(s"${c}__min"), max(col(c)).as(s"${c}__max")))
    spark.read.parquet(s"$root/v=0")
      .groupBy(input_file_name().as("_file"))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("_file", regexp_extract(col("_file"), "(v=\\d+/.*)$", 1))
  }

  /** Exact renderings: float bits (NaN, ±Infinity, -0.0 distinct),
    * binary bytes. */
  private def exact(v: Any): String = v match {
    case null => "null"
    case d: Double => s"d${java.lang.Double.doubleToLongBits(d)}"
    case f: Float => s"f${java.lang.Float.floatToIntBits(f)}"
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("x", "", "")
    case o => s"${o.getClass.getSimpleName}:$o"
  }

  private def rendered(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(exact).mkString("|")).toSeq.sorted

  test("stats text round-trips every recorded type exactly; bounds and skipping answer from it") {
    def ts(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
    def ntz(s: String) = java.time.LocalDateTime.parse(s)
    def dt(s: String) = java.sql.Date.valueOf(s)
    def dec(s: String) = BigDecimal(s)
    val rows = Seq(
      ("a", Some(Byte.MinValue), Some(Short.MaxValue), Some(Int.MinValue),
        Some(Long.MaxValue), Some(-0.0f), Some(-0.0d),
        Some(dec("-12345678901234567890.1234567890")), Some("tab\there"),
        Some(Array[Byte](0, -1, 9)), Some(true), Some(dt("1900-01-01")),
        Some(ts("1969-12-31T23:59:59.999999Z")),
        Some(ntz("2262-04-12T00:00:00.000001"))),
      ("a", Some(0.toByte), Some(0.toShort), Some(0), Some(Long.MinValue),
        Some(Float.NaN), Some(Double.NaN), Some(dec("0.0000000001")),
        Some("back\\slash \\N"), Some(Array.emptyByteArray), Some(false),
        Some(dt("9999-12-31")), Some(ts("2024-02-29T12:00:00.123456Z")),
        Some(ntz("1969-12-31T23:59:59.999999"))),
      ("b", Some(Byte.MaxValue), Some(Short.MinValue), Some(Int.MaxValue),
        Some(0L), Some(Float.NegativeInfinity), Some(Double.NegativeInfinity),
        Some(dec("99999999999999999999.9999999999")), Some("line\nbreak\r"),
        Some(Array[Byte](127)), Some(true), Some(dt("1969-12-31")),
        Some(ts("2262-04-12T00:00:00Z")), Some(ntz("1900-01-01T00:00:00"))),
      ("b", Some(1.toByte), Some(1.toShort), Some(1), Some(1L),
        Some(Float.MinPositiveValue), Some(Double.PositiveInfinity),
        Some(dec("1")), Some("\ud835\udd18 supplementary"),
        Some(Array[Byte](-128, 0)), Some(false), Some(dt("2024-01-01")),
        Some(ts("1900-01-01T00:00:00Z")), Some(ntz("2024-01-01T00:00:00"))),
      ("b", None, None, None, None, Some(Float.MaxValue),
        Some(Double.MinPositiveValue), None, Some(""), None, None, None, None,
        None),
      ("b", None, None, None, None, None, None, None, Some("\ufb01 bmp"),
        None, None, None, None, None),
      ("c", None, None, None, None, None, None, None, None, None, None, None,
        None, None),
      ("d", None, None, None, None, Some(1.0f / 3), Some(math.Pi), None, None,
        None, None, None, None, None),
      ("d", None, None, None, None, Some(2.7182817f), Some(1.0 / 3), None,
        None, None, None, None, None, None))
    val cols = Seq("b", "sh", "i", "l", "f", "d", "dec", "s", "bin", "bool",
      "dt", "ts", "ntz")
    val df = rows.toDF("part" +: cols: _*)
      .withColumn("dec", col("dec").cast("decimal(30,10)"))
    val root = tmp("graft-stats-rt")
    SnapshotTable.commitAppend(df, root, "part", statsCols = cols)

    val stats = pin(0, "stats load and collect")(
      SnapshotTable.fileStats(spark, root, 0L).get.collect())
    assert(stats.nonEmpty)
    val lifted = SnapshotTable.fileStats(spark, root, 0L).get
    val truth = scanStats(root, cols)
      .select(lifted.columns.map(col).toIndexedSeq: _*)
    assert(lifted.schema.map(f => f.name -> f.dataType) ===
      truth.schema.map(f => f.name -> f.dataType))
    assert(rendered(lifted) === rendered(truth))
    assert(SnapshotTable.statsCoverage(root) === cols.sorted)

    // whole-table bounds fold the recorded ones (binary has no driver
    // ordering, so it is left to skipping)
    val table = SnapshotTable.read(spark, root)
    cols.filterNot(_ == "bin").foreach { c =>
      val want = table.agg(min(c), max(c)).head()
      val got = pin(0, s"fastBounds($c)")(
        SnapshotTable.fastBounds(spark, root, c)).get
      assert(Seq(got._1, got._2).map(exact) ===
        Seq(want.get(0), want.get(1)).map(exact), c)
    }
    assert(SnapshotTable.fastCountMeta(spark, root) === Some(rows.size.toLong))

    // skipping answers as a full scan does, and prunes from the stats
    val all = SnapshotTable.liveFiles(root, 0L).size
    Seq("i > 0", "l = 0", "s = 'line\\nbreak\\r'", "s > 'tab'", "d < 0",
      "f > 1", "dec > 0", "bin = X'7F'", "dt >= date'9999-01-01'",
      "ts < timestamp'1900-01-02 00:00:00'",
      "ntz < timestamp_ntz'1970-01-01 00:00:00'", "bool = true",
      "b = 127", "sh < 0").foreach { p =>
      assert(rendered(SnapshotTable.readSkipping(spark, root, p)) ===
        rendered(table.filter(expr(p))), p)
    }
    assert(SnapshotTable.skippingKept(spark, root, "dt >= date'9999-01-01'")
      .size < all)
  }
}
