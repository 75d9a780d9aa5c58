package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._

import graft.operators.SnapshotTable
import graft.sources.{GraftDataSource, Tables}

/** The `format("graft")` DataSource V2 connector: round-trip writes,
  * pushed-filter file skipping reachable from Spark's planner, column
  * pruning, time travel options, and the partition fast-append write
  * path. */
class GraftDataSourceSpec extends GraftSuite {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString + "/t"

  test("write/read round trip; filters pushed and answer-identical") {
    val root = tmp("graft-ds-rt")
    val li = Tables.lineitem(spark, sf).repartitionByRange(4, col("l_orderkey"))
    li.write.format("graft").option("statsCols", "l_orderkey")
      .mode("overwrite").save(root)

    val df = spark.read.format("graft").load(root)
    assert(df.count() === li.count())
    assert(df.schema === li.schema)

    val q = df.filter(col("l_orderkey") <= 100)
      .select("l_orderkey", "l_quantity")
    val plan = q.queryExecution.executedPlan.toString
    // the filter crossed the DSv2 boundary into the connector (the
    // inferred IsNotNull conjunct pushes too — strict translations
    // are claimed fully, leaving no residual Filter above the scan)...
    assert(plan.contains("LessThanOrEqual(l_orderkey,100)"), plan)
    assert(plan.contains("IsNotNull(l_orderkey)"), plan)
    assert(!plan.contains("+- Filter"), plan) // no residual re-check
    // ...and column pruning reached the relation
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      plan)
    val expect = li.filter(col("l_orderkey") <= 100)
      .select("l_orderkey", "l_quantity").collect().toSet
    assert(q.collect().toSet === expect)
  }

  test("backslash-bearing string literals survive the claimed-filter round trip") {
    // the rendered literal re-parses with escape processing, so an
    // unescaped backslash would turn 'C:\tmp' into 'C:<TAB>mp' —
    // unsound pruning always, and with strict filters claimed (no
    // residual re-check) a silently WRONG row filter
    val root = tmp("graft-ds-bslash")
    import spark.implicits._
    Seq(("C:\\tmp", 1L), ("C:\ttmp", 2L), ("plain", 3L))
      .toDF("path", "n")
      .write.format("graft").option("statsCols", "path")
      .mode("overwrite").save(root)
    val g = spark.read.format("graft").load(root)
    def ids(p: String): Seq[Long] =
      g.filter(col("path") === p).select("n")
        .collect().map(_.getLong(0)).toSeq.sorted
    assert(ids("C:\\tmp") === Seq(1L))
    assert(ids("C:\ttmp") === Seq(2L))
    assert(g.filter(col("path").startsWith("C:\\")).count() === 1)
    assert(g.filter(col("path").isin("C:\\tmp", "plain")).count() === 2)
  }

  test("pushed predicate drives FILE skipping: a refuted file is never opened") {
    val root = tmp("graft-ds-skip")
    val li = Tables.lineitem(spark, sf).repartitionByRange(4, col("l_orderkey"))
    li.write.format("graft").option("statsCols", "l_orderkey")
      .mode("overwrite").save(root)

    // corrupt the file holding the HIGHEST l_orderkey range: any read
    // that opens it fails, so success under a low-range predicate is
    // behavioral proof the pushed filter pruned it at the manifest
    val stats = SnapshotTable.fileStats(spark, root, 0L).get
    val lowMax = stats.agg(min("l_orderkey__max")).first().getLong(0)
    val corrupt = stats.orderBy(desc("l_orderkey__max"))
      .select("_file").first().getString(0)
    val rel = corrupt.substring(corrupt.indexOf("v=0/"))
    Files.write(Paths.get(root, rel), "not parquet".getBytes)

    val df = spark.read.format("graft").load(root)
    // a SUM is not metadata-answerable (a bare count now is! —
    // fastCount reads recorded per-file rows and never opens data
    // files), so this full scan must hit the corrupt file
    intercept[Exception] { df.agg(sum("l_quantity")).first() }

    val q = df.filter(col("l_orderkey") <= lowMax)
    val expect = li.filter(col("l_orderkey") <= lowMax).count()
    assert(q.count() === expect) // skipped file never opened
  }

  test("time travel: versionAsOf and tag options pin snapshots") {
    val root = tmp("graft-ds-tt")
    val li = Tables.lineitem(spark, sf)
    val v0 = li.filter(col("l_returnflag") === "A")
    v0.write.format("graft").mode("overwrite").save(root)
    SnapshotTable.createTag(root, "era-a")
    li.write.format("graft").mode("overwrite").save(root)

    val latest = spark.read.format("graft").load(root)
    assert(latest.count() === li.count())
    assert(spark.read.format("graft").option("versionAsOf", 0)
      .load(root).count() === v0.count())
    assert(spark.read.format("graft").option("tag", "era-a")
      .load(root).count() === v0.count())
    intercept[IllegalArgumentException] {
      spark.read.format("graft").option("versionAsOf", 0)
        .option("tag", "era-a").load(root).count()
    }
  }

  test("append mode is the partition fast-append; bare append to a flat table refuses") {
    val root = tmp("graft-ds-app")
    val li = Tables.lineitem(spark, sf)
    val a = li.filter(col("l_returnflag") === "A")
    val r = li.filter(col("l_returnflag") === "R")
    a.write.format("graft").option("partitionBy", "l_returnflag")
      .mode("append").save(root)
    r.write.format("graft").option("partitionBy", "l_returnflag")
      .mode("append").save(root)
    assert(SnapshotTable.latestVersion(root) === 1L)
    val got = spark.read.format("graft").load(root)
      .select(li.columns.map(col).toIndexedSeq: _*)
    assert(got.count() === a.count() + r.count())
    assert(got.collect().toSet === a.unionByName(r).collect().toSet)

    val flat = tmp("graft-ds-flat")
    li.limit(5).write.format("graft").mode("overwrite").save(flat)
    val err = intercept[Exception] {
      li.limit(5).write.format("graft").mode("append").save(flat)
    }
    assert(err.getMessage.contains("partitionBy"), err.getMessage)
  }

  test("writes cluster by partition column: one file per touched partition") {
    val root = tmp("graft-ds-clus")
    val li = Tables.lineitem(spark, sf).repartition(4) // rows scattered
    li.write.format("graft").option("partitionBy", "l_returnflag")
      .mode("append").save(root)
    // without the required distribution every task writes every
    // partition (4 tasks × 3 flags = 12 files); clustering makes it 1
    val partDirs = new java.io.File(s"$root/v=0").listFiles()
      .filter(_.getName.startsWith("l_returnflag="))
    assert(partDirs.nonEmpty)
    partDirs.foreach { d =>
      val files = d.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length === 1,
        s"${d.getName}: ${files.length} files — write not clustered")
    }
    val got = spark.read.format("graft").load(root)
    assert(got.count() === li.count())
  }

  test("COUNT/MIN/MAX answer from metadata through aggregate pushdown") {
    val root = tmp("graft-ds-agg")
    val li = Tables.lineitem(spark, sf).repartitionByRange(4, col("l_orderkey"))
    li.write.format("graft").option("statsCols", "l_orderkey")
      .mode("overwrite").save(root)
    val df = spark.read.format("graft").load(root)

    val q = df.agg(count(lit(1)).as("n"), min("l_orderkey").as("mn"),
      max("l_orderkey").as("mx"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains(
      "PushedAggregates: [COUNT(*), MIN(l_orderkey), MAX(l_orderkey)]"),
      plan)
    assert(plan.contains("GraftAggScan"), plan)
    val expect = li.agg(count(lit(1)), min("l_orderkey"),
      max("l_orderkey")).first()
    assert(q.first() === expect)

    // a filter declines the metadata answer (stats cover whole files)
    val qf = df.filter(col("l_quantity") > 10).agg(count(lit(1)))
    assert(!qf.queryExecution.executedPlan.toString.contains("GraftAggScan"))
    assert(qf.first().getLong(0) ===
      li.filter(col("l_quantity") > 10).count())
    // a column without recorded bounds declines, stays correct
    assert(df.agg(min("l_extendedprice")).first().getDouble(0) ===
      li.agg(min("l_extendedprice")).first().getDouble(0))
    // grouping declines
    val qg = df.groupBy("l_returnflag").count()
    assert(!qg.queryExecution.executedPlan.toString.contains("GraftAggScan"))
    assert(qg.count() === li.select("l_returnflag").distinct().count())
  }

  test("metadata count subtracts merge-on-read deletes") {
    val root = tmp("graft-ds-aggdel")
    val li = Tables.lineitem(spark, sf)
    SnapshotTable.commitDelta(li, root, "l_returnflag",
      statsCols = Seq("l_orderkey"))
    SnapshotTable.deleteWhereMor(spark, root, col("l_orderkey") <= 10)
    val df = spark.read.format("graft").load(root)
    val q = df.agg(count(lit(1)))
    assert(q.queryExecution.executedPlan.toString.contains("GraftAggScan"))
    assert(q.first().getLong(0) === li.filter(col("l_orderkey") > 10).count())
  }

  test("small connector tables auto-broadcast: real size statistics reach the planner") {
    val root = tmp("graft-ds-size")
    val dim = Tables.lineitem(spark, sf)
      .select("l_returnflag").distinct() // 3 rows
    dim.write.format("graft").mode("overwrite").save(root)
    val fact = Tables.lineitem(spark, sf)
    def join = fact.join(spark.read.format("graft").load(root),
      Seq("l_returnflag"))
    // sf0.001's lineitem fits in one AQE-coalesced partition, and the
    // small-plan rule would hint the join shuffle-hash: it is off here
    withConf(SmallPlanSpec.NoGate) {
      val joined = join
      val plan = joined.queryExecution.executedPlan.toString
      // a V1 relation's DEFAULT size is the never-broadcast placeholder;
      // reporting live data bytes makes Catalyst pick the broadcast join
      assert(plan.contains("BroadcastHashJoin"), plan)
      assert(joined.count() === fact.count())
    }
    // with the rule on, the same join in one task, with no broadcast
    val one = join
    assert(one.collect().length === fact.count())
    assert(!one.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("post-pruning statistics: a selective scan of a big table broadcasts") {
    val root = tmp("graft-ds-prunedsize")
    val li = Tables.lineitem(spark, sf)
      .repartitionByRange(8, col("l_orderkey"))
      .sortWithinPartitions("l_orderkey")
    li.write.format("graft").option("statsCols", "l_orderkey")
      .mode("overwrite").save(root)
    val full = SnapshotTable.dataSizeBytes(root)
    // a threshold between the pruned slice and the full table: the
    // join broadcasts exactly when file skipping shrinks the statistic
    val threshold = full / 2
    val maxKey = li.agg(max("l_orderkey")).first().getLong(0)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold.toString)
    // sf0.001's lineitem fits in one AQE-coalesced partition, and the
    // small-plan rule would hint both joins shuffle-hash: it is off here
    try withConf(SmallPlanSpec.NoGate) {
      val fact = Tables.lineitem(spark, sf)
      // negative control: unfiltered, the connector reports the full
      // size (over threshold) — no static broadcast
      val flat = fact.join(spark.read.format("graft").load(root),
        Seq("l_orderkey"))
      assert(!flat.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin"),
        "unfiltered graft side must exceed the lowered threshold")
      // the selective predicate prunes to a file slice whose BYTE total
      // is the reported statistic → Catalyst picks the broadcast join
      val slice = spark.read.format("graft").load(root)
        .filter(col("l_orderkey") <= maxKey / 8)
      val joined = fact.join(slice, Seq("l_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"), plan)
      assert(joined.count() ===
        fact.join(li.filter(col("l_orderkey") <= maxKey / 8),
          Seq("l_orderkey")).count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    // with the rule on, the selective join runs in one task, unshuffled
    val one = Tables.lineitem(spark, sf).join(spark.read.format("graft").load(root)
      .filter(col("l_orderkey") <= maxKey / 8), Seq("l_orderkey"))
    assert(one.collect().length ===
      li.join(li.filter(col("l_orderkey") <= maxKey / 8), Seq("l_orderkey")).count())
    assert(!one.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("CDC read options: changesFrom diff feed and appendsFrom incremental scan") {
    import spark.implicits._
    val root = tmp("graft-ds-cdc")
    val b0 = Seq((1L, "a", "x"), (2L, "b", "x"), (3L, "c", "y"))
      .toDF("id", "v", "p")
    SnapshotTable.commitDelta(b0, root, "p")
    val v0 = SnapshotTable.latestVersion(root)
    SnapshotTable.commitAppend(Seq((4L, "d", "y")).toDF("id", "v", "p"),
      root, "p")
    SnapshotTable.upsertMor(spark, root, "p",
      Seq((2L, "B", "x")).toDF("id", "v", "p"), Seq("id"))
    val vEnd = SnapshotTable.latestVersion(root)

    // the keyed CDC diff through the connector ≡ the library call
    val feed = spark.read.format("graft")
      .option("changesFrom", v0).option("changeKey", "id").load(root)
    assert(feed.columns.contains("_change_type"))
    val types = feed.collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("_change_type")))
      .toSet
    assert(types === Set((4L, "insert"), (2L, "update_preimage"),
      (2L, "update_postimage")))
    assert(feed.collect().toSet === SnapshotTable.changes(spark, root,
      "id", v0, vEnd).collect().toSet)

    // incremental appends: only the arrived rows, deletes resolved —
    // the upserted twin surfaces once with its newest value
    val arrived = spark.read.format("graft")
      .option("appendsFrom", v0).load(root)
      .select("id", "v").collect().map(r => (r.getLong(0), r.getString(1)))
      .toSet
    assert(arrived === Set((4L, "d"), (2L, "B")))

    // CDC ranges and time-travel pins are mutually exclusive
    intercept[Exception] {
      spark.read.format("graft").option("changesFrom", v0)
        .option("changeKey", "id").option("versionAsOf", v0).load(root)
        .collect()
    }
    // changesFrom without a key refuses with guidance
    val e = intercept[Exception] {
      spark.read.format("graft").option("changesFrom", v0).load(root)
        .collect()
    }
    assert(e.getMessage.contains("changeKey"), e.getMessage)
  }

  test("filter translation: supported shapes render, unsound shapes refuse") {
    import GraftDataSource.{filterSql, predicateSql}
    assert(filterSql(EqualTo("k", "o'brien")) === Some("`k` = 'o''brien'"))
    assert(filterSql(In("k", Array(1, 2))) === Some("`k` IN (1, 2)"))
    assert(filterSql(GreaterThan("k", 5L)) === Some("`k` > 5L"))
    // And keeps a translatable side alone (sound: pruning a conjunct)
    assert(filterSql(And(LessThan("k", 9), IsNotNull("k")))
      === Some("`k` < 9"))
    // Or needs BOTH sides (pruning one disjunct is unsound)
    assert(filterSql(Or(LessThan("k", 9), IsNotNull("k"))) === None)
    assert(filterSql(EqualNullSafe("k", 1)) === None)
    assert(filterSql(EqualTo("k", Double.NaN)) === None)
    assert(filterSql(EqualTo("a.b", 1)) === None) // nested: no stats
    assert(predicateSql(Seq(LessThan("k", 9), EqualTo("j", 1)))
      === Some("(`k` < 9) AND (`j` = 1)"))
    // timestamps/dates render as typed literals
    assert(filterSql(GreaterThan("t", java.sql.Date.valueOf("2024-01-02")))
      === Some("`t` > DATE '2024-01-02'"))
    // prefix predicates prune as an exact range
    assert(filterSql(StringStartsWith("k", "abc"))
      === Some("(`k` >= 'abc' AND `k` < 'abd')"))
    assert(GraftDataSource.nextPrefix("ab￿") === Some("ac"))
    assert(GraftDataSource.nextPrefix("￿￿") === None)
    assert(filterSql(StringStartsWith("k", "￿"))
      === Some("`k` >= '￿'"))
    // surrogate boundaries: a UTF-16 bump that would create or break
    // a pair is NOT a code-point increment — the mangled literal
    // would bound the range below the data. Decline the upper bound.
    assert(GraftDataSource.nextPrefix("a" + '퟿') === None) // bump into block
    assert(GraftDataSource.nextPrefix("a" + '\uD834') === None) // lone high
    assert(GraftDataSource.nextPrefix("a" + '\uDD1E') === None) // lone low
    assert(GraftDataSource.nextPrefix("a𝟿") === None) // pair escape
    // a pair-ending low surrogate bumps to the NEXT CODE POINT
    assert(GraftDataSource.nextPrefix("a𝄞")
      === Some("a𝄟"))
    // the row-EXACT form conjoins startswith() — the range alone is a
    // superset (unbounded above for all-￿ prefixes, where any larger
    // string, e.g. supplementary-plane, would wrongly pass)
    assert(GraftDataSource.strictFilterSql(StringStartsWith("k", "abc"))
      === Some("((`k` >= 'abc' AND `k` < 'abd') AND startswith(`k`, 'abc'))"))
    assert(GraftDataSource.strictFilterSql(StringStartsWith("k", "￿"))
      === Some("(`k` >= '￿' AND startswith(`k`, '￿'))"))
  }

  test("claimed prefix filter is row-exact past every BMP bound") {
    import spark.implicits._
    val root = tmp("graft-ds-prefix-exact")
    // U+1D11E sorts ABOVE U+FFFF in Spark's UTF-8 byte order: a bare
    // `k >= '￿￿'` range would wrongly admit it
    Seq("￿￿a", "￿￿", "𝄞x", "plain")
      .toDF("k").coalesce(1)
      .write.format("graft").option("statsCols", "k")
      .mode("overwrite").save(root)
    val df = spark.read.format("graft").load(root)
    val q = df.filter(col("k").startsWith("￿￿"))
    assert(q.collect().map(_.getString(0)).sorted === Array("￿￿", "￿￿a"))
    // the surrogate-boundary prefix keeps its answer too
    assert(df.filter(col("k").startsWith("𝄞"))
      .collect().map(_.getString(0)).toSeq === Seq("𝄞x"))
  }

  test("prefix pushdown is answer-identical and range-refutes files") {
    val root = tmp("graft-ds-prefix")
    val li = Tables.lineitem(spark, sf)
      .withColumn("tag", concat(col("l_returnflag"), lit("-"),
        col("l_orderkey").cast("string")))
      .repartitionByRange(4, col("tag"))
    li.write.format("graft").option("statsCols", "tag")
      .mode("overwrite").save(root)
    val df = spark.read.format("graft").load(root)
    val q = df.filter(col("tag").startsWith("N-1"))
    assert(q.queryExecution.executedPlan.toString
      .contains("StringStartsWith(tag,N-1)"))
    assert(q.count() === li.filter(col("tag").startsWith("N-1")).count())
  }

  test("LIMIT prunes files via recorded row counts; unneeded files never opened") {
    val root = tmp("graft-ds-limit")
    val li = Tables.lineitem(spark, sf)
      .repartitionByRange(4, col("l_orderkey"))
    li.write.format("graft").option("statsCols", "l_orderkey")
      .mode("overwrite").save(root)

    // corrupt every file EXCEPT the largest: a bare LIMIT within the
    // largest file's recorded rows must open ONLY that file — success
    // is the behavioral proof of the metadata-driven pruning
    val stats = SnapshotTable.fileStats(spark, root, 0L).get
      .select("_file", "__rows").collect()
      .sortBy(r => (-r.getLong(1), r.getString(0)))
    val keepRows = stats.head.getLong(1)
    stats.tail.foreach { r =>
      val rel = r.getString(0)
      Files.write(Paths.get(root, rel.substring(rel.indexOf("v=0/"))),
        "not parquet".getBytes)
    }

    // explicit schema: inference would read an arbitrary footer (and
    // may pick a corrupted one) — the test measures the SCAN's IO
    val df = spark.read.format("graft").schema(li.schema).load(root)
    val n = math.min(5L, keepRows).toInt
    assert(df.limit(n).count() === n)
    assert(df.limit(n).select("l_orderkey").count() === n)

    // sf0.001's lineitem fits in one AQE-coalesced partition, and the
    // small-plan rule would read a full scan's files one after another
    // in one task, a limit stopping it before a corrupt file: it is off
    // here, where every file opens in its own task
    withConf(SmallPlanSpec.NoGate) {
      // a limit the counted coverage cannot guarantee falls back to the
      // full read — which must hit a corrupt file (soundness: pruning
      // never drops files the limit might need)
      intercept[Exception] {
        df.limit((li.count() + 10).toInt).agg(sum("l_quantity")).first()
      }
      // and a filtered limit declines the push entirely (post-filter
      // counts are unknowable from metadata): full scan → corrupt file
      intercept[Exception] {
        df.filter(col("l_quantity") >= 0).limit(n).agg(count(lit(1))).first()
      }
    }
    // with the rule on, a limit the coverage cannot guarantee still
    // reads every file, so it still hits a corrupt one
    intercept[Exception] {
      df.limit((li.count() + 10).toInt).agg(sum("l_quantity")).first()
    }
  }
}
