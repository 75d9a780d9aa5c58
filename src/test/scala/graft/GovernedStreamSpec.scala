package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{Bronze, Catalog, Maintenance, SnapshotTable}
import graft.streaming.GovernedStream

/** Streaming micro-batches as atomic governed catalog commits:
  * append snapshots, exactly-once replay dedup, append compaction. */
class GovernedStreamSpec extends GraftSuite {

  /** events.ts → LTZ timestamp, robust to the testdata's physical type
    * (int64 nanos read as long, or a native parquet timestamp) — the
    * same dtype dispatch [[Tables.events]] and the stream readers do. */
  private def eventsTs(df: org.apache.spark.sql.DataFrame) =
    if (df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    else df.withColumn("ts", col("ts").cast("timestamp"))

  test("append snapshots accumulate manifest entries without touching existing files") {
    val root = Files.createTempDirectory("graft-append").toString
    val df = spark.range(6).select(
      (col("id") % 2).cast("string").as("p"), col("id").as("x"))
    val v0 = SnapshotTable.commitDelta(df.filter(col("x") < 4), root, "p")
    val v0Files = SnapshotTable.read(spark, root, v0).inputFiles.sorted.toSeq

    // append touches partition p=0 only; p=1 inherited, p=0 is old ∪ new
    val v1 = SnapshotTable.commitAppend(
      df.filter(col("x") >= 4 && col("p") === "0"), root, "p")
    val after = SnapshotTable.read(spark, root, v1)
    assert(after.count() === 5)
    assert(after.filter(col("p") === "0").agg(sum("x")).head().getLong(0)
      === (0L + 2 + 4))
    // old files all still referenced (no rewrite), new version adds files
    val v1Files = after.inputFiles.sorted.toSeq
    assert(v0Files.forall(v1Files.contains))
    assert(v1Files.size > v0Files.size)
    // the appended partition holds TWO manifest entries
    val entries = SnapshotTable.manifestEntries(root, v1)
    assert(entries.filter(_._1 == "p=0").map(_._2).sorted === Seq(v0, v1))
    assert(entries.filter(_._1 == "p=1").map(_._2) === Seq(v0))
    // time travel to the pre-append snapshot still works
    assert(SnapshotTable.read(spark, root, v0).count() === 4)

    // the manifest-union scan still partition-prunes (plan-asserted):
    // a p=1 filter must select fewer leaf dirs than the manifest lists
    val pruned = after.filter(col("p") === "1")
    val scans = pruned.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty && scans.forall(_.partitionFilters.nonEmpty))
    assert(scans.head.selectedPartitions.partitionCount <
      SnapshotTable.manifestEntries(root, v1).size)
    assert(pruned.count() === 2)
  }

  test("continuous governed stream: long-running trigger drains a backlog as rate-limited atomic commits") {
    val tmp = Files.createTempDirectory("graft-gov-cont")
    val (src, cat, cp) = (s"$tmp/src", s"$tmp/cat", s"$tmp/cp")
    val raw = spark.read.parquet(s"$sf/events.parquet")
    // a multi-file backlog: 6 files, rate limit 2 per trigger → ≥3
    // micro-batches (bounded batches, never one unbounded catch-up)
    raw.repartition(6).write.mode("overwrite").parquet(src)

    val q = GovernedStream.startBronzeGovernedContinuous(spark, src, cat, cp,
      intervalMs = 100L, maxFilesPerTrigger = 2)
    try {
      val deadline = System.currentTimeMillis() + 120000L
      def bronzeCount(): Long =
        if (Catalog.latestCommit(cat) < 0) -1L
        else Catalog.read(spark, cat, "bronze").count()
      while (bronzeCount() < raw.count() &&
        System.currentTimeMillis() < deadline) Thread.sleep(200L)
      assert(bronzeCount() === raw.count(), "backlog fully drained")

      // rate limiting split the backlog into several atomic commits
      val commits = Catalog.commits(cat)
      assert(commits.size >= 3, s"expected >=3 rate-limited commits: $commits")
      assert(Catalog.read(spark, cat, "bronze")
        .select(countDistinct("trade_id")).head().getLong(0) === raw.count())

      // the query keeps running and picks up late-landing files
      val more = raw.limit(50)
        .withColumn("event_id", col("event_id") + 10000000L)
      more.write.mode("append").parquet(src)
      val n2 = raw.count() + more.count()
      while (bronzeCount() < n2 &&
        System.currentTimeMillis() < deadline) Thread.sleep(200L)
      assert(bronzeCount() === n2, "live tail ingested while running")
    } finally q.stop()
  }

  test("governed stream: batches land as atomic catalog commits, exactly once across restarts") {
    val tmp = Files.createTempDirectory("graft-gov-stream")
    val (src, cat, cp) = (s"$tmp/src", s"$tmp/cat", s"$tmp/cp")
    val raw = spark.read.parquet(s"$sf/events.parquet")
    val rawTs = eventsTs(raw)
    val half1 = raw.filter(col("event_id") % 2 === 0)
    val half2 = raw.filter(col("event_id") % 2 =!= 0)

    // run 1 bootstraps the catalog from empty
    half1.write.mode("overwrite").parquet(src)
    GovernedStream.writeBronzeGoverned(spark, src, cat, cp)
    val c1 = Catalog.latestCommit(cat)
    assert(c1 >= 0)
    assert(Catalog.read(spark, cat, "bronze").count() === half1.count())

    // restart after new files land: only the new files are processed,
    // each commit advances the recorded batch id
    half2.write.mode("append").parquet(src)
    GovernedStream.writeBronzeGoverned(spark, src, cat, cp)
    val bronze = Catalog.read(spark, cat, "bronze")
    assert(bronze.count() === raw.count())
    assert(bronze.select(countDistinct("trade_id")).head().getLong(0)
      === raw.count())
    assert(GovernedStream.lastBatchId(spark, cat, "bronze_ingest")
      > GovernedStream.lastBatchId(spark, cat, "bronze_ingest", c1))

    // restart with nothing new: a no-op
    val cBefore = Catalog.latestCommit(cat)
    GovernedStream.writeBronzeGoverned(spark, src, cat, cp)
    assert(Catalog.latestCommit(cat) === cBefore)

    // replayed batch (commit succeeded, checkpoint lost): the recorded
    // batch id makes the replay a skip, not a double append
    val replayed = GovernedStream.commitBatch(spark, cat, "bronze_ingest",
      GovernedStream.lastBatchId(spark, cat, "bronze_ingest"),
      Bronze.ingest(rawTs))
    assert(replayed === None)
    assert(Catalog.latestCommit(cat) === cBefore)
    assert(Catalog.read(spark, cat, "bronze").count() === raw.count())

    // the result is row-identical to the batch bronze transform
    val batch = Bronze.ingest(rawTs)
    assert(bronze.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(bronze).count() === 0)
  }

  test("streamed bronze + governed refresh equals a plain full rebuild") {
    import graft.operators.{GovernedPipeline, PipelineRun}
    import graft.sources.Tables
    val events = Tables.events(spark, sf)
    val tmp = Files.createTempDirectory("graft-stream-refresh")
    val (src, cat, cp, outFull) =
      (s"$tmp/src", s"$tmp/cat", s"$tmp/cp", s"$tmp/full")

    val ing = expr("timestampadd(SECOND, cast(event_id % 600 as int), ts)")
    val n = events.count()
    val cut = events.select(ing.as("_ing")).orderBy("_ing")
      .limit((n * 7 / 10).toInt).agg(max("_ing")).head()
      .getAs[java.time.LocalDateTime](0)
    val e1 = events.filter(ing <= lit(cut))
    val e2 = events.filter(ing > lit(cut))

    // bootstrap the catalog on the first 70% of arrivals, then STREAM
    // the rest into bronze and run the scheduled refresh over it —
    // the reference's deployment loop (streaming writer + 30-min DAG)
    GovernedPipeline.runFull(spark, sf, cat, eventsOverride = Some(e1))
    e2.write.mode("overwrite").parquet(src)
    GovernedStream.writeBronzeGoverned(spark, src, cat, cp)
    val cStream = Catalog.latestCommit(cat)
    val refreshed = GovernedPipeline.refreshFromBronze(spark, cat)
    assert(refreshed === cStream + 1)

    // a second refresh with nothing new is a published no-op
    assert(GovernedPipeline.refreshFromBronze(spark, cat) === refreshed)

    // derived tables match a from-scratch full rebuild (bronze differs
    // by design: the stream lands raw ingests, the batch runner's
    // synthetic redeliveries are silver-deduped noise)
    PipelineRun.run(spark, sf, outFull)
    Seq("silver", "ohlcv_1m", "ohlcv_1h", "daily_metrics", "price_latest")
      .foreach { t =>
        val a = spark.read.parquet(s"$outFull/$t")
        val b = Catalog.read(spark, cat, t)
        val cols = a.columns.sorted.toSeq
        assert(b.columns.sorted.toSeq === cols, s"$t columns")
        val av = a.select(cols.map(col): _*).orderBy(cols.map(col): _*)
          .collect().map(_.toSeq).toSeq
        val bv = b.select(cols.map(col): _*).orderBy(cols.map(col): _*)
          .collect().map(_.toSeq).toSeq
        assert(av === bv, s"$t must match the plain full rebuild")
      }
  }

  test("concurrent sources race the CAS; the retry lands both batches, no lost update") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val cat = Files.createTempDirectory("graft-gov-race").toString
    val raw = eventsTs(spark.read.parquet(s"$sf/events.parquet"))
    val bronzeA = Bronze.ingest(raw.filter(col("event_id") % 2 === 0))
    val bronzeB = Bronze.ingest(raw.filter(col("event_id") % 2 =!= 0))

    // two sources commit their first batch concurrently: the CAS loser
    // must re-stage on the winner's commit, not overwrite it
    val fa = Future(GovernedStream.commitBatch(spark, cat, "srcA", 0L, bronzeA))
    val fb = Future(GovernedStream.commitBatch(spark, cat, "srcB", 0L, bronzeB))
    val (ca, cb) = (Await.result(fa, 5.minutes), Await.result(fb, 5.minutes))
    assert(ca.nonEmpty && cb.nonEmpty && ca.get != cb.get)
    assert(Catalog.latestCommit(cat) === math.max(ca.get, cb.get))

    val bronze = Catalog.read(spark, cat, "bronze")
    assert(bronze.count() === raw.count(), "no lost update under the race")
    assert(GovernedStream.lastBatchId(spark, cat, "srcA") === 0L)
    assert(GovernedStream.lastBatchId(spark, cat, "srcB") === 0L)
  }

  test("catalog compaction folds streamed appends through a catalog commit") {
    val cat = Files.createTempDirectory("graft-gov-compact").toString
    val raw = eventsTs(spark.read.parquet(s"$sf/events.parquet"))
    // five micro-batches fragment the bronze partitions
    (0 until 5).foreach { i =>
      GovernedStream.commitBatch(spark, cat, "src", i.toLong,
        Bronze.ingest(raw.filter(col("event_id") % 5 === i)))
    }
    val before = Catalog.read(spark, cat, "bronze")
    val beforeCount = before.count()
    val tr = Catalog.tableRoot(cat, "bronze")
    val vBefore = Catalog.tableVersions(cat)("bronze")
    assert(SnapshotTable.manifestEntries(tr, vBefore)
      .groupBy(_._1).values.map(_.size).max >= 4)

    val c = Catalog.compactTable(spark, cat, "bronze", "_ingestion_date")
    assert(c === Catalog.latestCommit(cat))
    val vAfter = Catalog.tableVersions(cat)("bronze")
    assert(SnapshotTable.manifestEntries(tr, vAfter)
      .groupBy(_._1).values.forall(_.size === 1))
    assert(Catalog.read(spark, cat, "bronze").count() === beforeCount)
    // idempotent: a healthy table publishes nothing
    assert(Catalog.compactTable(spark, cat, "bronze", "_ingestion_date") === c)
  }

  test("compactAppends folds fragmented partitions to one entry, rows unchanged") {
    val root = Files.createTempDirectory("graft-compact-appends").toString
    val df = spark.range(20).select(
      (col("id") % 2).cast("string").as("p"), col("id").as("x"))
    SnapshotTable.commitDelta(df.filter(col("x") < 4), root, "p")
    // five appends fragment both partitions
    (0 until 5).foreach { i =>
      SnapshotTable.commitAppend(
        df.filter(col("x") >= 4 + i * 2 && col("x") < 6 + i * 2), root, "p")
    }
    val before = SnapshotTable.read(spark, root)
    val beforeRows = before.orderBy("x").collect().toSeq
    assert(SnapshotTable.manifestEntries(root, SnapshotTable.latestVersion(root))
      .groupBy(_._1).values.map(_.size).max > 4)

    val v = Maintenance.compactAppends(spark, root, "p", minEntries = 4)
    assert(v > 0)
    val entries = SnapshotTable.manifestEntries(root, v)
    assert(entries.groupBy(_._1).values.forall(_.size === 1))
    val after = SnapshotTable.read(spark, root)
    assert(after.orderBy("x").collect().toSeq === beforeRows)

    // a healthy table is never churned
    assert(Maintenance.compactAppends(spark, root, "p", minEntries = 4) === -1L)
  }

  test("an append published while a plain compaction stages makes the publish throw, rows kept") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-compact-race").toString
    def rows(from: Long): org.apache.spark.sql.DataFrame =
      spark.range(from, from + 2).select(
        (col("id") % 2).cast("string").as("p"), col("id").as("x"))
    // four appends fragment both partitions
    (0 until 4).foreach(i => SnapshotTable.commitAppend(rows(2L * i), root, "p"))
    val late = rows(100L)
    // compactAppends' own publish, with an append landing between the
    // stage (read at the base) and the marker move
    intercept[java.util.ConcurrentModificationException] {
      new graft.sources.TableHandle(None, root).publish { base =>
        val staged = Maintenance.stageCompaction(spark, root, "p", base,
          minEntries = 4, filesPerPartition = 4)
        SnapshotTable.commitAppend(late, root, "p")
        staged
      }
    }
    assert(SnapshotTable.read(spark, root).select("x").as[Long].collect()
      .sorted.toSeq === (0L until 8L) ++ (100L until 102L))
    // compacting again against the moved table keeps the late rows
    assert(Maintenance.compactAppends(spark, root, "p") > 0)
    assert(SnapshotTable.read(spark, root).count() === 10L)
  }
}
