package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftV1Wrap

import graft.GraftSuite
import graft.operators.{SnapshotTable, TableInspect}

/** Per-column NDV sketches (the Iceberg-Puffin analog) — VERDICT r12
  * #4: `collectNdv` records one mergeable HLL sketch per (file,
  * column); table NDV folds the live files' sketches with no data
  * rescan; the connector surfaces the estimates as V2 column
  * statistics so Catalyst CBO can reorder joins. */
class NdvStatsSpec extends GraftSuite {
  import spark.implicits._

  private def writeGraft(df: DataFrame, tag: String,
                         parts: Int = 4): String = {
    val root = Files.createTempDirectory(s"graft-ndv-$tag").toString + "/t"
    df.repartition(parts).write.format("graft").mode("overwrite").save(root)
    root
  }

  test("folded sketch estimate tracks exact distinct across files and commits") {
    val root = Files.createTempDirectory("graft-ndv-merge").toString + "/t"
    // two delta commits (two storage versions) so the fold crosses
    // version boundaries, not just files
    SnapshotTable.commitDelta(
      (0 until 3000).map(i => (i.toLong, (i % 37).toLong, s"s${i % 500}"))
        .toDF("id", "bucket", "name"), root, "bucket")
    SnapshotTable.commitAppend(
      (3000 until 4000).map(i => (i.toLong, (i % 37).toLong, s"s${i % 500}"))
        .toDF("id", "bucket", "name"), root, "bucket")
    val done = SnapshotTable.collectNdv(spark, root, Seq("id", "bucket"))
    assert(done.nonEmpty)
    // extending to a new column keeps the previously sketched ones
    assert(SnapshotTable.collectNdv(spark, root, Seq("name")) === done)
    assert(SnapshotTable.ndvCoverage(root) === Seq("bucket", "id", "name"))
    done.foreach { sv =>
      assert(SnapshotTable.fileNdv(spark, root, sv).get.columns.toSet
        .intersect(Set("id__hll", "bucket__hll", "name__hll")).size === 3)
    }
    assert(sidecarTmpLeft(root).isEmpty) // no swap left a tmp dir
    val ndv = SnapshotTable.tableNdv(spark, root)
    val exact = Map("id" -> 4000L, "bucket" -> 37L, "name" -> 500L)
    // null counts are exact (per-file counters summed)
    assert(ndv.values.forall(_.nullCount == 0L))
    exact.foreach { case (c, n) =>
      val est = ndv(c).ndv
      assert(math.abs(est - n).toDouble / n <= 0.05,
        s"$c: estimate $est vs exact $n drifts past 5%")
    }
    // idempotent: already-covered versions are skipped
    assert(SnapshotTable.collectNdv(spark, root, Seq("id")).isEmpty)
  }

  test("properties and files expose the NDV surface") {
    val root = writeGraft(
      (0 until 400).map(i => (i.toLong, s"g${i % 11}")).toDF("k", "grp"),
      "inspect")
    SnapshotTable.collectNdv(spark, root, Seq("k", "grp"))
    val props = TableInspect.properties(spark, root).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props("ndv.columns") === "grp,k")
    assert(props("ndv.grp").toLong === 11L)
    assert(math.abs(props("ndv.k").toLong - 400L) <= 20L)
    val files = TableInspect.files(spark, root)
    assert(files.columns.contains("k__ndv") &&
      files.columns.contains("grp__ndv"))
    // per-file estimates sum to at least the table total (overlap
    // shrinks the union, never grows it; both sides are ~2% estimates)
    val perFile = files.agg(sum("k__ndv")).first.getLong(0)
    assert(perFile >= (props("ndv.k").toLong * 0.95).toLong)
  }

  test("coverage checks descend into partitioned flat snapshots") {
    // an adopted external table: partition subdirs under v=0, no
    // manifest — the flat listing used to see zero data files here,
    // silently disabling fastBounds and table NDV while collectNdv
    // still paid the scan and advertised coverage
    val root = Files.createTempDirectory("graft-ndv-flat").toString + "/t"
    (0 until 200).map(i => (i.toLong, s"g${i % 4}")).toDF("id", "p")
      .write.partitionBy("p").parquet(s"$root/v=0")
    SnapshotTable.writeCommit(root, 0L)
    graft.operators.Refs.advance(root)(_ => 0L)
    assert(SnapshotTable.read(spark, root).count() === 200L)
    // every live-file path sees the partitioned files: counts, the
    // connector's count pushdown, skipping reads, size, `files`
    def countsAndReads(): Unit = {
      assert(SnapshotTable.fastCount(spark, root) === 200L)
      assert(spark.read.format("graft").load(root).count() === 200L)
      assert(SnapshotTable.readSkipping(spark, root, "id >= 0")
        .count() === 200L)
      assert(SnapshotTable.readSkipping(spark, root, "id < 50")
        .count() === 50L)
    }
    countsAndReads()
    assert(SnapshotTable.dataSizeBytes(root) > 0L)
    assert(TableInspect.files(spark, root).count() ===
      SnapshotTable.read(spark, root).inputFiles.length.toLong)
    SnapshotTable.collectNdv(spark, root, Seq("id"))
    assert(SnapshotTable.tableNdv(spark, root).get("id").map(_.ndv)
      .exists(n => math.abs(n - 200L) <= 10L))
    assert(SnapshotTable.fastBounds(spark, root, "id")
      === Some((0L, 199L)))
    // the stats backfill turned the metadata count on
    assert(SnapshotTable.fastCountMeta(spark, root) === Some(200L))
    countsAndReads()
  }

  test("NDV reaches the optimizer as attribute statistics") {
    val root = writeGraft(
      (0 until 600).map(i => (i.toLong, (i % 5).toLong)).toDF("pk", "fk"),
      "attr")
    SnapshotTable.collectNdv(spark, root, Seq("pk", "fk"))
    val df = spark.read.format("graft").load(root)
    val rel = df.queryExecution.optimizedPlan.collectFirst {
      case r: DataSourceV2ScanRelation => r
    }.get
    val byName = rel.stats.attributeStats.map { case (a, s) =>
      a.name -> s
    }
    assert(byName("fk").distinctCount.exists(_.toLong === 5L))
    assert(byName("pk").distinctCount.exists(n =>
      math.abs(n.toLong - 600L) <= 30L))
    // row count rides the manifest's metadata count
    assert(rel.stats.rowCount.exists(_.toLong === 600L))
  }

  test("ndvCols write option: CBO statistics with NO ANALYZE call") {
    // VERDICT r13 #6: a table that records stats at write should
    // sketch NDV in the same footer-lift pass — declared once,
    // maintained by every commit, no collect_ndv CALL anywhere here
    val root = Files.createTempDirectory("graft-ndv-auto").toString + "/t"
    (0 until 600).map(i => (i.toLong, (i % 5).toLong, (i % 7).toLong))
      .toDF("pk", "fk", "bucket")
      .write.format("graft").option("ndvCols", "pk,fk")
      .option("partitionBy", "bucket").mode("append").save(root)
    assert(SnapshotTable.ndvColumns(root) === Seq("pk", "fk"))
    val byName = {
      val rel = spark.read.format("graft").load(root)
        .queryExecution.optimizedPlan.collectFirst {
          case r: DataSourceV2ScanRelation => r
        }.get
      rel.stats.attributeStats.map { case (a, s) => a.name -> s }
    }
    assert(byName("fk").distinctCount.exists(_.toLong === 5L))
    assert(byName("pk").distinctCount.exists(n =>
      math.abs(n.toLong - 600L) <= 30L))
    // bounds recorded alongside (counts-only stats would read as
    // all-null to JoinEstimation)
    assert(byName("fk").min.isDefined && byName("fk").max.isDefined)

    // a later APPEND maintains coverage in its own commit pass
    SnapshotTable.commitAppend(
      (600 until 700).map(i => (i.toLong, 5L, (i % 7).toLong))
        .toDF("pk", "fk", "bucket"), root, "bucket")
    val ndv = SnapshotTable.tableNdv(spark, root)
    assert(ndv("fk").ndv === 6L)
    assert(math.abs(ndv("pk").ndv - 700L) <= 35L)
  }

  test("auto-NDV reorder flip needs no CALL") {
    // the r13 reorder-flip criterion, rerun with write-declared NDV:
    // same join, same data — the only NDV source is the ndvCols option
    def auto(df: DataFrame, tag: String, cols: String,
             parts: Int = 4): String = {
      val root = Files.createTempDirectory(s"graft-ndvauto-$tag")
        .toString + "/t"
      df.repartition(parts).write.format("graft")
        .option("ndvCols", cols).mode("overwrite").save(root)
      root
    }
    val f = auto((0 until 600)
      .map(i => (i.toLong % 3, i.toLong, i * 1.0)).toDF("a", "b", "amt"),
      "fact", "a,b")
    val d1 = auto((0 until 50).map(i => (i.toLong % 3, s"x$i"))
      .toDF("da", "n1"), "d1", "da", 1)
    val d2 = auto((0 until 50).map(i => (i.toLong * 12, s"y$i"))
      .toDF("db", "n2"), "d2", "db", 1)
    spark.conf.set("spark.sql.cbo.enabled", "true")
    spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
    try {
      val q = spark.read.format("graft").load(f)
        .join(spark.read.format("graft").load(d1), col("a") === col("da"))
        .join(spark.read.format("graft").load(d2), col("b") === col("db"))
        .agg(sum(col("amt")))
      def roots(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
        p.collect {
          case r: DataSourceV2ScanRelation =>
            GraftV1Wrap.inner(r.scan).get.asInstanceOf[GraftScan].root
        }
      val innermost = q.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join
            if roots(j).size == 2 => roots(j).toSet
      }.head
      assert(innermost === Set(f, d2),
        s"expected the b-join innermost from write-time NDV, got $innermost")
    } finally {
      spark.conf.unset("spark.sql.cbo.enabled")
      spark.conf.unset("spark.sql.cbo.joinReorder.enabled")
    }
  }

  test("CBO join reorder flips on NDV; without sketches the order is syntactic") {
    // fact: low-NDV key a (3 values), high-NDV key b (unique) — the
    // a-join explodes (|F|*|D|/3), the b-join collapses (|D|); CBO
    // with NDV must join D2 (on b) below D1 despite syntactic order
    def factDf = (0 until 600)
      .map(i => (i.toLong % 3, i.toLong, i * 1.0)).toDF("a", "b", "amt")
    def d1Df = (0 until 50).map(i => (i.toLong % 3, s"x$i")).toDF("da", "n1")
    def d2Df = (0 until 50).map(i => (i.toLong * 12, s"y$i")).toDF("db", "n2")
    // the roots paired in the INNERMOST join (the one whose subtree
    // holds exactly two scans) — traversal order can't tell (CBO may
    // put either side left), join structure can
    def innermostPair(f: String, x1: String, x2: String): Set[String] = {
      val q = spark.read.format("graft").load(f)
        .join(spark.read.format("graft").load(x1), col("a") === col("da"))
        .join(spark.read.format("graft").load(x2), col("b") === col("db"))
        .agg(sum(col("amt")))
      def roots(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
        p.collect {
          case r: DataSourceV2ScanRelation =>
            GraftV1Wrap.inner(r.scan).get.asInstanceOf[GraftScan].root
        }
      q.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join
            if roots(j).size == 2 => roots(j).toSet
      }.head
    }
    val (f, d1, d2) = (writeGraft(factDf, "fact"),
      writeGraft(d1Df, "d1", 1), writeGraft(d2Df, "d2", 1))
    Seq(f -> Seq("a", "b"), d1 -> Seq("da"), d2 -> Seq("db"))
      .foreach { case (r, cs) => SnapshotTable.collectNdv(spark, r, cs) }
    // the INVERSE fact: a unique, b 3-valued — with everything else
    // identical, NDV alone must flip the chosen order the other way
    def factInv = (0 until 600)
      .map(i => (i.toLong, i.toLong % 3, i * 1.0)).toDF("a", "b", "amt")
    val fInv = writeGraft(factInv, "factinv")
    SnapshotTable.collectNdv(spark, fInv, Seq("a", "b"))
    spark.conf.set("spark.sql.cbo.enabled", "true")
    spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
    try {
      val withNdv = innermostPair(f, d1, d2)
      assert(withNdv === Set(f, d2),
        s"expected the b-join (low cardinality) innermost, got $withNdv")
      val inverse = innermostPair(fInv, d1, d2)
      assert(inverse === Set(fInv, d1),
        s"inverted NDVs must invert the order, got $inverse")
      // the reorder is an optimization only: answers agree with the
      // un-reordered (CBO off) run
      def total(ff: String): Double =
        spark.read.format("graft").load(ff)
          .join(spark.read.format("graft").load(d1), col("a") === col("da"))
          .join(spark.read.format("graft").load(d2), col("b") === col("db"))
          .agg(sum(col("amt"))).first.getDouble(0)
      val reordered = total(f)
      spark.conf.set("spark.sql.cbo.enabled", "false")
      assert(total(f) === reordered)
      spark.conf.set("spark.sql.cbo.enabled", "true")
    } finally {
      spark.conf.unset("spark.sql.cbo.enabled")
      spark.conf.unset("spark.sql.cbo.joinReorder.enabled")
    }
  }
}
