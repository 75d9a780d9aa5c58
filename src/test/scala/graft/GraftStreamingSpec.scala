package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.SnapshotTable
import graft.streaming.GovernedStream

/** `format("graft")` as a Structured Streaming SOURCE and SINK: the
  * source streams a snapshot table by VERSION offsets (bootstrap +
  * O(new files) incremental batches, restart resume from the engine's
  * offset log, loud refusal of non-append histories); the sink lands
  * each micro-batch as one stamped fast-append/upsert commit with the
  * Delta SetTransaction exactly-once protocol (forced-replay-proof). */
class GraftStreamingSpec extends GraftSuite {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft-streamio").toString

  private def seedRows: DataFrame =
    Seq(("a", 1L, "d1"), ("b", 2L, "d1")).toDF("k", "n", "day")

  private def seeded(dir: String): String = {
    val root = s"$dir/t"
    SnapshotTable.commitAppend(seedRows, root, "day")
    root
  }

  /** A streamed table seeded with rows a and b: `load(path)` with
    * `opts` reads it, and each writer commits one new offset. */
  private case class Streamed(kind: String, opts: Map[String, String],
                              path: String, append: DataFrame => Unit,
                              upsert: DataFrame => Unit,
                              delete: String => Unit)

  private def plainTable(dir: String): Streamed = {
    val root = seeded(dir)
    Streamed("plain", Map.empty, root,
      SnapshotTable.commitAppend(_, root, "day"),
      SnapshotTable.upsertMor(spark, root, "day", _, Seq("k")),
      k => SnapshotTable.deleteWhere(spark, root, "day", col("k") === k))
  }

  /** The same table governed: offsets are catalog commits, each writer
    * publishes one through the streaming commit protocol. */
  private def governedTable(dir: String): Streamed = {
    val cat = s"$dir/cat"
    val batchIds = Iterator.from(0).map(_.toLong)
    def append(df: DataFrame): Unit = GovernedStream.commitBatch(spark, cat,
      "w", batchIds.next(), df, table = "t", partitionCol = "day")
    append(seedRows)
    Streamed("governed", Map("catalog" -> cat), "t", append,
      GovernedStream.commitUpsertBatch(spark, cat, "t", "day", Seq("k"), "w",
        batchIds.next(), _),
      k => GovernedStream.commitCdcBatch(spark, cat, "t", "day", Seq("k"),
        "w", batchIds.next(), upserts = seedRows.limit(0),
        deleteKeys = Seq(k).toDF("k")))
  }

  /** The source options run one code path on either kind of table; the
    * plain case keeps the bare test name. */
  private val kinds: Seq[(String, String => Streamed)] =
    Seq("" -> plainTable, " (governed)" -> governedTable)

  /** Drain the graft source into a parquet FILE sink (recovery-capable,
    * unlike the memory sink, so restarts from the same checkpoint work). */
  private def drainToFiles(root: String, cp: String, out: String,
                           extra: Map[String, String] = Map.empty)
      : StreamingQuery = {
    val q = spark.readStream.format("graft").options(extra).load(root)
      .writeStream.format("parquet")
      .option("checkpointLocation", cp)
      .trigger(Trigger.AvailableNow())
      .start(out)
    q.awaitTermination()
    q
  }

  test("source: bootstrap snapshot, then each restart delivers only what arrived") {
    val dir = tmp(); val root = seeded(dir); val cp = s"$dir/cp"
    val out = s"$dir/out"

    drainToFiles(root, cp, out)
    val boot = spark.read.parquet(out)
    assert(boot.count() === 2)
    assert(boot.columns.toSeq === Seq("k", "n", "day"))

    // two appends land; the next run (same checkpoint) delivers ONLY
    // them — the cumulative sink holds each row exactly once
    SnapshotTable.commitAppend(Seq(("c", 3L, "d2")).toDF("k", "n", "day"),
      root, "day")
    SnapshotTable.commitAppend(Seq(("d", 4L, "d2")).toDF("k", "n", "day"),
      root, "day")
    val q = drainToFiles(root, cp, out)
    assert(spark.read.parquet(out).count() === 4)
    // the two commits arrive as ONE batch of only the new rows
    assert(q.recentProgress.map(_.numInputRows).filter(_ > 0).toSeq
      === Seq(2L))

    // nothing new: a no-op run
    drainToFiles(root, cp, out)
    assert(spark.read.parquet(out).count() === 4)
    assert(spark.read.parquet(out).select("k").as[String].collect().sorted
      === Array("a", "b", "c", "d"))
  }

  for ((suffix, table) <- kinds) {
    test("source: startingVersion=latest skips existing data; a number starts mid-history" + suffix) {
      val dir = tmp(); val t = table(dir)

      // latest: the seed snapshot is skipped; only the later append flows
      val latest = t.opts + ("startingVersion" -> "latest")
      drainToFiles(t.path, s"$dir/cpL", s"$dir/outL", latest)
      t.append(Seq(("c", 3L, "d2")).toDF("k", "n", "day")) // offset 1
      drainToFiles(t.path, s"$dir/cpL", s"$dir/outL", latest)
      assert(spark.read.parquet(s"$dir/outL").select("k").as[String]
        .collect().toSeq === Seq("c"))

      // startingVersion=1 → offset 1's appends onward, no snapshot
      drainToFiles(t.path, s"$dir/cpN", s"$dir/outN",
        t.opts + ("startingVersion" -> "1"))
      assert(spark.read.parquet(s"$dir/outN").select("k").as[String]
        .collect().toSeq === Seq("c"))
    }

    test("source: maxVersionsPerTrigger splits a backlog into rate-limited batches" + suffix) {
      val dir = tmp(); val t = table(dir); val cp = s"$dir/cp"
      for (i <- 2 to 4)
        t.append(Seq((s"k$i", i.toLong, "d2")).toDF("k", "n", "day"))

      val q = spark.readStream.format("graft").options(t.opts)
        .option("maxVersionsPerTrigger", "1")
        .load(t.path)
        .writeStream.format("memory").queryName(s"gs_rate_${t.kind}")
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // every row arrives exactly once…
      assert(spark.table(s"gs_rate_${t.kind}").count() === 5)
      // …across MULTIPLE rate-limited batches (bootstrap 0, then 1..3)
      val batches = q.recentProgress.count(_.numInputRows > 0)
      assert(batches >= 3, s"expected a split backlog, got $batches batches")
    }

    test("CDC source: readChangeFeed streams keyed diffs across non-append commits" + suffix) {
      val dir = tmp(); val t = table(dir)
      val (cp, out) = (s"$dir/cp", s"$dir/out")
      def drain(): Unit = drainToFiles(t.path, cp, out, t.opts ++ Map(
        "readChangeFeed" -> "true", "changeKey" -> "k"))

      drain()
      val boot = spark.read.parquet(out)
      assert(boot.count() === 2)
      assert(boot.filter(col("_change_type") === "insert").count() === 2)

      // an upsert (equality-delete commit) that also brings a new key,
      // and a delete — histories the APPEND feed refuses — stream
      // through as update/insert/delete images
      t.upsert(Seq(("a", 10L, "d1"), ("e", 5L, "d2")).toDF("k", "n", "day"))
      t.delete("b")
      drain()
      val feed = spark.read.parquet(out)
        .filter(col("_commit_version") > 0)
        .select("k", "_change_type").as[(String, String)].collect().sorted
      assert(feed.toSeq === Seq(("a", "update_postimage"),
        ("a", "update_preimage"), ("b", "delete"), ("e", "insert")))
    }
  }

  test("source: maxBytes/maxFilesPerTrigger drain a backlog in bounded batches and resume across restarts") {
    val dir = tmp(); val root = seeded(dir); val cp = s"$dir/cp"
    for (i <- 2 to 7) // a 6-version backlog on top of the seed
      SnapshotTable.commitAppend(
        Seq((s"k$i", i.toLong, s"d$i")).toDF("k", "n", "day"), root, "day")

    // one day-partition file per version ⇒ maxFilesPerTrigger=2 admits
    // at most two versions per batch (bytes cap set far above, proving
    // the two compose as caps, not as a fixed count); parquet sink —
    // the memory sink cannot recover a checkpoint across restarts
    val out = s"$dir/out"
    def run(): org.apache.spark.sql.streaming.StreamingQuery =
      spark.readStream.format("graft")
        .option("maxFilesPerTrigger", "2")
        .option("maxBytesPerTrigger", (64L * 1024 * 1024).toString)
        .load(root)
        .writeStream.format("parquet")
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow())
        .start(out)
    val q = run()
    q.awaitTermination()
    assert(spark.read.parquet(out).count() === 8) // seed(2) + 6, once
    val batches = q.recentProgress.count(_.numInputRows > 0)
    assert(batches >= 3, s"expected a bounded drain, got $batches batches")
    // restart resumes from the checkpoint: new appends drain, old rows
    // never replay — the admission floor is the committed offset
    for (i <- 8 to 9)
      SnapshotTable.commitAppend(
        Seq((s"k$i", i.toLong, s"d$i")).toDF("k", "n", "day"), root, "day")
    val q2 = run()
    q2.awaitTermination()
    assert(spark.read.parquet(out).count() === 10)
    // a tiny byte cap still makes progress: one oversized version per
    // batch, never a stall (fresh checkpoint, same table)
    val q3 = spark.readStream.format("graft")
      .option("maxBytesPerTrigger", "1")
      .load(root)
      .writeStream.format("parquet")
      .option("checkpointLocation", s"$dir/cp-min")
      .trigger(Trigger.AvailableNow())
      .start(s"$dir/out-min")
    q3.awaitTermination()
    assert(spark.read.parquet(s"$dir/out-min").count() === 10)
    assert(q3.recentProgress.count(_.numInputRows > 0) >= 8)
  }

  test("source: a non-append-only history refuses loudly mid-stream") {
    val dir = tmp(); val root = seeded(dir); val cp = s"$dir/cp"
    drainToFiles(root, cp, s"$dir/out")

    // a copy-on-write delete rewrites d1's entries: incremental
    // consumers below the compaction watermark must fail, not misread
    SnapshotTable.deleteWhere(spark, root, "day", col("k") === "a")
    SnapshotTable.commitAppend(Seq(("e", 5L, "d3")).toDF("k", "n", "day"),
      root, "day")
    val ex = intercept[Exception] {
      drainToFiles(root, cp, s"$dir/out")
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("not append-only")), ex.toString)
  }

  test("sink: file stream → stamped fast-appends; restart and forced replay stay exactly-once") {
    val dir = tmp()
    val (src, dest, cp) = (s"$dir/src", s"$dir/dst", s"$dir/cp")
    val half1 = Seq(("a", 1L, "d1"), ("b", 2L, "d2")).toDF("k", "n", "day")
    half1.write.mode("overwrite").parquet(src)
    val sch = spark.read.parquet(src).schema

    def run(): Unit = {
      val q = spark.readStream.schema(sch).parquet(src)
        .writeStream.format("graft")
        .partitionBy("day")
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow())
        .start(dest)
      q.awaitTermination()
    }

    run()
    assert(SnapshotTable.read(spark, dest).count() === 2)
    val v1 = SnapshotTable.latestVersion(dest)

    // restart with one new file: ONE new stamped append of just it
    Seq(("c", 3L, "d1")).toDF("k", "n", "day")
      .write.mode("append").parquet(src)
    run()
    assert(SnapshotTable.read(spark, dest).count() === 3)
    assert(SnapshotTable.latestVersion(dest) === v1 + 1)

    // forced replay: drop the last engine commit marker (and its crc
    // sidecar) so the final batch re-runs with identical input — the
    // (queryId, batchId) stamp makes it a skip, not a double append
    val commits = Paths.get(cp, "commits")
    val names = new scala.collection.mutable.ArrayBuffer[Path]
    Files.list(commits).iterator()
      .forEachRemaining(p => if (!p.getFileName.toString.startsWith("."))
        names += p)
    val newest = names.maxBy(_.getFileName.toString.toLong)
    Files.delete(newest)
    Files.deleteIfExists(
      newest.resolveSibling("." + newest.getFileName.toString + ".crc"))
    run()
    assert(SnapshotTable.read(spark, dest).count() === 3)
    assert(SnapshotTable.latestVersion(dest) === v1 + 1)

    // restart with nothing new: no version churn
    run()
    assert(SnapshotTable.latestVersion(dest) === v1 + 1)
  }

  test("sink: Update mode upserts by key via the O(batch) MoR commit") {
    val dir = tmp()
    val (src, dest, cp) = (s"$dir/src", s"$dir/dst", s"$dir/cp")
    Seq(("a", 1L, "d1"), ("b", 1L, "d1")).toDF("k", "n", "day")
      .write.mode("overwrite").parquet(src)
    val sch = spark.read.parquet(src).schema

    def run(): Unit = {
      val q = spark.readStream.schema(sch).parquet(src)
        .writeStream.format("graft")
        .outputMode("update")
        .partitionBy("day")
        .option("mergeKeys", "k")
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow())
        .start(dest)
      q.awaitTermination()
    }

    run()
    assert(SnapshotTable.read(spark, dest).count() === 2)

    // a second batch re-keys a: its older twin dies, b survives, and
    // existing data files are untouched (equality-delete sidecar)
    Seq(("a", 2L, "d2")).toDF("k", "n", "day")
      .write.mode("append").parquet(src)
    run()
    val out = SnapshotTable.read(spark, dest)
      .select("k", "n").as[(String, Long)].collect().sortBy(_._1)
    assert(out.toSeq === Seq(("a", 2L), ("b", 1L)))
  }

  test("graft→graft pipe: a table streams into another table exactly once") {
    val dir = tmp(); val root = seeded(dir)
    val (dest, cp) = (s"$dir/mirror", s"$dir/cp")

    def pipe(): Unit = {
      val q = spark.readStream.format("graft").load(root)
        .writeStream.format("graft")
        .option("partitionBy", "day")
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow())
        .start(dest)
      q.awaitTermination()
    }

    pipe()
    SnapshotTable.commitAppend(Seq(("c", 3L, "d2")).toDF("k", "n", "day"),
      root, "day")
    pipe()
    val got = SnapshotTable.read(spark, dest)
    val want = SnapshotTable.read(spark, root)
    assert(got.count() === 3)
    assert(got.exceptAll(want).count() === 0)
    assert(want.exceptAll(got).count() === 0)
  }

  test("governed source: catalog-commit offsets deliver appends; untouched commits are empty") {
    import graft.operators.Catalog
    import graft.streaming.GovernedStream
    val dir = tmp(); val cat = s"$dir/cat"
    val (cp, out) = (s"$dir/cp", s"$dir/out")
    def batch(k: String, n: Long) = Seq((k, n, "d1")).toDF("k", "n", "day")
    GovernedStream.commitBatch(spark, cat, "seed", 0L, batch("a", 1L),
      table = "bronze", partitionCol = "day")
    GovernedStream.commitBatch(spark, cat, "seed", 1L, batch("b", 2L),
      table = "bronze", partitionCol = "day")

    def drain(): Unit = {
      val q = spark.readStream.format("graft").option("catalog", cat)
        .load("bronze")
        .writeStream.format("parquet")
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow())
        .start(out)
      q.awaitTermination()
    }

    drain()
    assert(spark.read.parquet(out).count() === 2)

    // a commit that never touches bronze: the stream sees an empty
    // batch from version arithmetic, no duplicate delivery
    Catalog.transact(cat, Seq("other" -> Seq((9L, "x")).toDF("id", "v")))
    drain()
    assert(spark.read.parquet(out).count() === 2)

    GovernedStream.commitBatch(spark, cat, "seed", 2L, batch("c", 3L),
      table = "bronze", partitionCol = "day")
    drain()
    assert(spark.read.parquet(out).select("k").as[String].collect().sorted
      === Array("a", "b", "c"))
  }

  test("governed source: size caps bound a commit backlog, untouched commits cost nothing") {
    import graft.operators.Catalog
    import graft.streaming.GovernedStream
    val dir = tmp(); val cat = s"$dir/cat"
    val (cp, out) = (s"$dir/cp", s"$dir/out")
    for (i <- 0 to 5) // 6 commits, one bronze file each
      GovernedStream.commitBatch(spark, cat, "seed", i.toLong,
        Seq((s"k$i", i.toLong, s"d$i")).toDF("k", "n", "day"),
        table = "bronze", partitionCol = "day")
    // interleave a commit that never touches bronze — its increment is
    // zero, so it must not consume admission budget
    Catalog.transact(cat, Seq("other" -> Seq((9L, "x")).toDF("id", "v")))
    val q = spark.readStream.format("graft").option("catalog", cat)
      .option("maxFilesPerTrigger", "2")
      .load("bronze")
      .writeStream.format("parquet")
      .option("checkpointLocation", cp)
      .trigger(Trigger.AvailableNow())
      .start(out)
    q.awaitTermination()
    assert(spark.read.parquet(out).count() === 6) // exactly once
    assert(q.recentProgress.count(_.numInputRows > 0) >= 3,
      "expected a bounded multi-batch drain")
    // restart with new commits: resumes from the floor, caps still hold
    GovernedStream.commitBatch(spark, cat, "seed", 6L,
      Seq(("k6", 6L, "d6")).toDF("k", "n", "day"),
      table = "bronze", partitionCol = "day")
    val q2 = spark.readStream.format("graft").option("catalog", cat)
      .option("maxBytesPerTrigger", "1") // one oversized commit per batch
      .load("bronze")
      .writeStream.format("parquet")
      .option("checkpointLocation", cp)
      .trigger(Trigger.AvailableNow())
      .start(out)
    q2.awaitTermination()
    assert(spark.read.parquet(out).count() === 7)
  }

  test("governed sink: micro-batches publish as atomic catalog commits exactly once") {
    import graft.operators.Catalog
    val dir = tmp()
    val (src, cat, cp) = (s"$dir/src", s"$dir/cat", s"$dir/cp")
    Seq(("a", 1L, "d1"), ("b", 2L, "d2")).toDF("k", "n", "day")
      .write.mode("overwrite").parquet(src)
    val sch = spark.read.parquet(src).schema

    def run(): Unit = {
      val q = spark.readStream.schema(sch).parquet(src)
        .writeStream.format("graft")
        .option("catalog", cat)
        .option("partitionBy", "day")
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow())
        .start("trades")
      q.awaitTermination()
    }

    run()
    assert(Catalog.read(spark, cat, "trades").count() === 2)
    val c1 = Catalog.latestCommit(cat)

    // restart with one new file: ONE new atomic commit of just it
    Seq(("c", 3L, "d1")).toDF("k", "n", "day")
      .write.mode("append").parquet(src)
    run()
    assert(Catalog.read(spark, cat, "trades").count() === 3)
    assert(Catalog.latestCommit(cat) === c1 + 1)

    // forced replay: drop the engine's last commit marker — the batch
    // id stamped in the table version's record makes the replay a skip
    val commits = Paths.get(cp, "commits")
    val names = new scala.collection.mutable.ArrayBuffer[Path]
    Files.list(commits).iterator()
      .forEachRemaining(p => if (!p.getFileName.toString.startsWith("."))
        names += p)
    val newest = names.maxBy(_.getFileName.toString.toLong)
    Files.delete(newest)
    Files.deleteIfExists(
      newest.resolveSibling("." + newest.getFileName.toString + ".crc"))
    run()
    assert(Catalog.read(spark, cat, "trades").count() === 3)
    assert(Catalog.latestCommit(cat) === c1 + 1)
  }

  test("governed CDC sink: Debezium-shaped batches upsert and tombstone atomically") {
    import graft.operators.Catalog
    val dir = tmp()
    val (src, cat, cp) = (s"$dir/src", s"$dir/cat", s"$dir/cp")
    Seq(("a", 1L, "d1", "u"), ("b", 2L, "d1", "u"))
      .toDF("k", "n", "day", "op")
      .write.mode("overwrite").parquet(src)
    val sch = spark.read.parquet(src).schema

    def run(): Unit = {
      val q = spark.readStream.schema(sch).parquet(src)
        .writeStream.format("graft")
        .outputMode("update")
        .option("catalog", cat)
        .option("partitionBy", "day")
        .option("mergeKeys", "k")
        .option("cdcOps", "op")
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow())
        .start("state")
      q.awaitTermination()
    }

    run()
    assert(Catalog.read(spark, cat, "state")
      .select("k", "n").as[(String, Long)].collect().sorted.toSeq
      === Seq(("a", 1L), ("b", 2L)))

    // batch 2: re-key a, tombstone b — ONE atomic commit applies both
    Seq(("a", 5L, "d2", "u"), ("b", 0L, "d1", "d"))
      .toDF("k", "n", "day", "op")
      .write.mode("append").parquet(src)
    run()
    assert(Catalog.read(spark, cat, "state")
      .select("k", "n").as[(String, Long)].collect().toSeq
      === Seq(("a", 5L)))
  }

  test("library protocol: lastTxnBatch ignores rolled-back and unpublished stamps") {
    val dir = tmp(); val root = s"$dir/t"
    val df = Seq(("a", 1L, "d1")).toDF("k", "n", "day")
    SnapshotTable.commitAppendTxn(df, root, "day", "w1", 0L)
    SnapshotTable.commitAppendTxn(
      Seq(("b", 2L, "d1")).toDF("k", "n", "day"), root, "day", "w1", 1L)
    assert(SnapshotTable.lastTxnBatch(root, "w1") === Some(1L))
    assert(SnapshotTable.lastTxnBatch(root, "other") === None)

    // rollback: the undone stamp must NOT mask a replay — the batch
    // has to re-commit to be visible again
    SnapshotTable.rollback(root, 0L)
    assert(SnapshotTable.lastTxnBatch(root, "w1") === Some(0L))
    // ...also once another writer commits on top of the rollback: the
    // undone v1 now sits below the marker but is off the published chain
    assert(SnapshotTable.commitAppendTxn(Seq(("c", 3L, "d1")).toDF("k", "n",
      "day"), root, "day", "w2", 0L) === 2L)
    assert(SnapshotTable.parentVersion(root, 2L) === 0L)
    assert(SnapshotTable.read(spark, root).count() === 2L)
    assert(SnapshotTable.lastTxnBatch(root, "w1") === Some(0L))
    assert(SnapshotTable.lastTxnBatch(root, "w2") === Some(0L))
  }

  private def dayRow(k: String, n: Long): DataFrame = Seq((k, n, "d1")).toDF("k", "n", "day")

  test("library protocol: a writer's stamp survives compaction and expiry") {
    val root = s"${tmp()}/t"
    SnapshotTable.commitAppendTxn(dayRow("a", 1L), root, "day", "w", 0L)
    SnapshotTable.commitAppendTxn(dayRow("b", 2L), root, "day", "w", 1L)
    graft.operators.Maintenance.compactAppends(spark, root, "day", minEntries = 2)
    SnapshotTable.expireSnapshots(root, retainLast = 0)
    assert(!SnapshotTable.isCommitted(root, 1L), "the stamped version expired")
    assert(SnapshotTable.lastTxnBatch(root, "w") === Some(1L))
    // the replay of batch 1 appends nothing
    SnapshotTable.commitAppendTxn(dayRow("b", 2L), root, "day", "w", 1L)
    assert(SnapshotTable.read(spark, root).count() === 2L)
  }

  test("governed protocol: a source's batch id survives compaction and expiry") {
    import graft.operators.Catalog
    val cat = s"${tmp()}/cat"
    GovernedStream.commitBatch(spark, cat, "w", 0L, dayRow("a", 1L), "t", "day")
    GovernedStream.commitBatch(spark, cat, "w", 1L, dayRow("b", 2L), "t", "day")
    Catalog.compactTable(spark, cat, "t", "day", minEntries = 2)
    Catalog.expireCommits(cat, retainLast = 0, graceMs = 0L)
    assert(GovernedStream.commitBatch(spark, cat, "w", 1L, dayRow("b", 2L), "t",
      "day") === None)
    assert(Catalog.read(spark, cat, "t").count() === 2L)
  }
}
