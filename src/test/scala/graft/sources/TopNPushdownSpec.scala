package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftV1Wrap

import graft.GraftSuite
import graft.operators.SnapshotTable

/** `SupportsPushDownTopN` — VERDICT r13 #3: `ORDER BY c [DESC] LIMIT
  * n` over a graft scan prunes to the file prefix whose recorded
  * bounds + null counts guarantee every possible top-n row; Spark's
  * own TopN stays above (partial push), so pruning is IO-only and a
  * table without sidecar coverage just reads plain. The serve-surface
  * path for latest-prices dashboard queries. */
class TopNPushdownSpec extends GraftSuite {
  import spark.implicits._

  /** 8000 rows range-split over 8 files by ts, with bounds (statsCols)
    * AND per-file null counts (auto-NDV) recorded at write. */
  private def servingTable(tag: String): (String, DataFrame) = {
    val root = Files.createTempDirectory(s"graft-topn-$tag").toString + "/t"
    val df = (0L until 8000L).map(i => (i, s"sym${i % 4}", i * 1.5))
      .toDF("ts", "sym", "px").repartitionByRange(8, col("ts"))
    SnapshotTable.setNdvColumns(root, Seq("ts"))
    SnapshotTable.commit(df, root, statsCols = Seq("ts"))
    (root, df)
  }

  private def graftScan(q: DataFrame): GraftScan =
    q.queryExecution.optimizedPlan.collect {
      case r: DataSourceV2ScanRelation
        if GraftV1Wrap.inner(r.scan).exists(_.isInstanceOf[GraftScan]) =>
        GraftV1Wrap.inner(r.scan).get.asInstanceOf[GraftScan]
    }.head

  test("ORDER BY ts DESC LIMIT k reads only the top-range file") {
    val (root, df) = servingTable("desc")
    val expect = df.orderBy(desc("ts")).limit(5)
      .collect().map(_.toSeq).toSeq

    // corrupt every file except the one holding the HIGHEST ts range:
    // success under the TopN is behavioral proof only that file opened
    val stats = SnapshotTable.fileStats(spark, root, 0L).get
      .select("_file", "ts__max").collect()
      .sortBy(r => -r.getLong(1))
    stats.tail.foreach { r =>
      val rel = r.getString(0)
      Files.write(Paths.get(root, rel.substring(rel.indexOf("v=0/"))),
        "not parquet".getBytes)
    }
    val g = spark.read.format("graft").schema(df.schema).load(root)
    val q = g.orderBy(desc("ts")).limit(5)
    assert(graftScan(q).topn.exists(t =>
      t.column == "ts" && t.descending && t.n == 5))
    assert(q.collect().map(_.toSeq).toSeq === expect)

    // soundness valves: a FILTERED TopN declines the push (post-filter
    // guarantees are unknowable) → full scan → corrupt file
    intercept[Exception] {
      g.filter(col("px") >= 0).orderBy(desc("ts")).limit(5).collect()
    }
    // and an un-prunable n (more rows than any proper prefix can
    // guarantee) reads plain → corrupt file
    intercept[Exception] {
      g.orderBy(desc("ts")).limit(8000).collect()
    }
    // ascending needs the LOWEST file — which is corrupt: direction
    // reaches the pruning
    intercept[Exception] {
      g.orderBy(asc("ts")).limit(5).collect()
    }
  }

  test("ascending and SQL surfaces push and agree") {
    val (root, df) = servingTable("asc")
    val g = spark.read.format("graft").load(root)
    val qa = g.orderBy(asc("ts")).limit(7)
    assert(graftScan(qa).topn.exists(t => !t.descending && t.n == 7))
    assert(qa.collect().map(_.toSeq).toSeq ===
      df.orderBy(asc("ts")).limit(7).collect().map(_.toSeq).toSeq)
    // the kept set is a strict subset of the table's files
    val kept = SnapshotTable.topNKept(spark, root, 0L, "ts",
      descending = false, nullsFirst = false, 7)
    assert(kept.exists(k => k.nonEmpty && k.size < 8))
    // SQL: the dashboard shape
    g.createOrReplaceTempView("topn_t")
    val sq = spark.sql("SELECT ts, px FROM topn_t ORDER BY ts DESC LIMIT 3")
    assert(sq.collect().map(_.toSeq).toSeq ===
      df.select("ts", "px").orderBy(desc("ts")).limit(3)
        .collect().map(_.toSeq).toSeq)
  }

  test("null ordering is honored by the file guarantee") {
    val root = Files.createTempDirectory("graft-topn-null").toString + "/t"
    // three files via identity partitioning (one file per grp):
    //   grp=a: ts 100..199  grp=b: ts 0..99  grp=c: 50 nulls + 0..49
    val df = (
      (100L until 200L).map(i => (Some(i), "a")) ++
      (0L until 100L).map(i => (Some(i), "b")) ++
      (0L until 50L).map(i => (None: Option[Long], "c")) ++
      (0L until 50L).map(i => (Some(i), "c"))).toDF("ts", "grp")
    SnapshotTable.setNdvColumns(root, Seq("ts"))
    SnapshotTable.commitAppend(df, root, "grp", statsCols = Seq("ts"))
    def fileOf(g: String): String = s"grp=$g"

    // DESC NULLS LAST (the default): file a's 100 value rows beat
    // every other file's best — kept = {a}
    val descKept = SnapshotTable.topNKept(spark, root, 0L, "ts",
      descending = true, nullsFirst = false, 5)
    assert(descKept.exists(k =>
      k.nonEmpty && k.forall(_.contains(fileOf("a")))), descKept)
    // DESC NULLS FIRST: nulls out-rank every value — c's 50 null rows
    // are the guarantee AND nothing out-ranks a null, so only grp=c
    // files survive
    val nfKept = SnapshotTable.topNKept(spark, root, 0L, "ts",
      descending = true, nullsFirst = true, 5)
    assert(nfKept.exists(k =>
      k.nonEmpty && k.forall(_.contains(fileOf("c")))), nfKept)
    // ASC NULLS LAST: low values win; b and c tie at lo=0, so the
    // guarantee needs both of their value rows — a must be pruned
    val ascKept = SnapshotTable.topNKept(spark, root, 0L, "ts",
      descending = false, nullsFirst = false, 5)
    assert(ascKept.exists(k => !k.exists(_.contains(fileOf("a")))), ascKept)
    // answers agree with the plain read on the full frame
    val g = spark.read.format("graft").load(root)
    assert(g.orderBy(desc("ts")).limit(5).select("ts")
      .collect().map(_.getLong(0)).toSeq
      === df.orderBy(desc("ts")).limit(5).select("ts")
        .collect().map(_.getLong(0)).toSeq)
    assert(g.orderBy(desc_nulls_first("ts")).limit(5)
      .select("grp").collect().forall(_.getString(0) == "c"))
  }

  test("TopN composes with a pushed filter: prefix search over the skipping survivors") {
    // VERDICT r14 #1: the dashboard shape is `WHERE eq-filter ORDER BY
    // ts DESC LIMIT k` — both prunings must land. The eq filter prunes
    // to one identity partition (skipping survivors); the TopN prefix
    // search then runs over those survivors with must-match guarantee
    // accounting: each survivor's partition dir PROVES the filter true
    // for every row (sym identity: min = max = 'sym1', zero nulls), so
    // its rows count toward the ≥n guarantee and the prefix collapses
    // to the top-ts files.
    val root = Files.createTempDirectory("graft-topn-filt").toString + "/t"
    val df = (0L until 8000L).map(i => (i, s"sym${i % 4}", i * 1.5))
      .toDF("ts", "sym", "px").repartitionByRange(8, col("ts"))
    SnapshotTable.setNdvColumns(root, Seq("ts"))
    SnapshotTable.commitAppend(df, root, "sym", statsCols = Seq("ts"))
    val expect = df.filter(col("sym") === "sym1").orderBy(desc("ts"))
      .limit(5).select("ts", "px").collect().map(_.toSeq).toSeq

    val g = spark.read.format("graft").load(root)
    val q = g.filter(col("sym") === "sym1").orderBy(desc("ts")).limit(5)
    val scan = graftScan(q)
    assert(scan.topn.exists(t => t.column == "ts" && t.descending &&
      t.n == 5), "TopN must push under a fully-translated filter")
    val kept = scan.kept.get
    val sym1Files = SnapshotTable.skippingKept(spark, root,
      "`sym` = 'sym1'", 0L)
    assert(kept.forall(_.contains("sym=sym1")), kept)
    assert(kept.nonEmpty && kept.size < sym1Files.size,
      s"files-read (${kept.size}) must be < filter survivors " +
        s"(${sym1Files.size}): $kept")
    assert(q.select("ts", "px").collect().map(_.toSeq).toSeq === expect)

    // behavioral proof: every file OUTSIDE the kept set is corrupt,
    // and the composed query still answers — those files never open
    val all = SnapshotTable.fileStats(spark, root, 0L).get
      .select("_file").collect().map(_.getString(0))
    all.filterNot(kept.contains).foreach { rel =>
      Files.write(Paths.get(root, rel.substring(rel.indexOf("v=0/"))),
        "not parquet".getBytes)
    }
    val q2 = spark.read.format("graft").schema(df.schema).load(root)
      .filter(col("sym") === "sym1").orderBy(desc("ts")).limit(5)
    assert(q2.select("ts", "px").collect().map(_.toSeq).toSeq === expect)

    // a filter the metadata cannot PROVE for all rows (px has no
    // recorded bounds) keeps the guarantee at zero: no TopN pruning,
    // kept = the skipping survivors — sound, never unsound pruning
    val q3 = spark.read.format("graft").schema(df.schema).load(root)
      .filter(col("px") >= 0).orderBy(desc("ts")).limit(5)
    val scan3 = graftScan(q3)
    assert(scan3.topn.nonEmpty) // pushed (strict translation exists)
    assert(scan3.kept.get.size === all.length) // ...but prunes nothing
  }

  test("days(ts) hidden partitioning TopN-prunes to trailing partitions with no stats coverage") {
    // VERDICT r14 #8: a time-layout serving table needs no sidecars —
    // the day directory value is an exact [first, last] instant range
    // of ts, a valued dir proves zero nulls (days(null) is the null
    // dir), and __rows rides every commit; ORDER BY ts DESC LIMIT k
    // reads only the newest partition.
    val root = Files.createTempDirectory("graft-topn-hidden").toString + "/t"
    val df = spark.range(0, 240).selectExpr(
      "timestamp'2024-03-01 00:00:00' + make_interval(0,0,0,0," +
        "CAST(id AS INT),0,0) AS ts",
      "CAST(id AS DOUBLE) AS v")
    SnapshotTable.commitDelta(df, root, "days(ts)") // NO statsCols/ndv
    val v = SnapshotTable.latestVersion(root)
    val kept = SnapshotTable.topNKept(spark, root, v, "ts",
      descending = true, nullsFirst = false, 5)
    assert(kept.exists(k =>
      k.nonEmpty && k.forall(_.contains("ts_day=2024-03-10"))), kept)
    val g = spark.read.format("graft").load(root)
    assert(g.orderBy(desc("ts")).limit(5).select("v")
      .collect().map(_.getDouble(0)).toSeq ===
      df.orderBy(desc("ts")).limit(5).select("v")
        .collect().map(_.getDouble(0)).toSeq)
    // ascending reads only the OLDEST partition
    val ascKept = SnapshotTable.topNKept(spark, root, v, "ts",
      descending = false, nullsFirst = false, 5)
    assert(ascKept.exists(k =>
      k.nonEmpty && k.forall(_.contains("ts_day=2024-03-01"))), ascKept)
  }

  test("declines without null-count coverage or under MoR deletes") {
    // bounds but NO ndv sidecar: null counts unknown → no pruning
    val root = Files.createTempDirectory("graft-topn-nondv").toString + "/t"
    val df = (0L until 1000L).map(i => (i, i / 250L, i * 2.0))
      .toDF("ts", "bucket", "px")
    SnapshotTable.commitAppend(df, root, "bucket",
      statsCols = Seq("ts"))
    assert(SnapshotTable.topNKept(spark, root, 0L, "ts",
      descending = true, nullsFirst = false, 5).isEmpty)
    // with coverage it prunes...
    SnapshotTable.collectNdv(spark, root, Seq("ts"))
    assert(SnapshotTable.topNKept(spark, root, 0L, "ts",
      descending = true, nullsFirst = false, 5).nonEmpty)
    // ...until an unapplied MoR delete could hollow out the guarantee
    val v = SnapshotTable.deleteWhereMor(spark, root,
      expr("ts >= 900"))
    assert(SnapshotTable.topNKept(spark, root, v, "ts",
      descending = true, nullsFirst = false, 5).isEmpty)
  }
}
