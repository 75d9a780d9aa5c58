package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.operators.{Bronze, Catalog, SnapshotTable}
import graft.streaming.GovernedStream

/** Streaming CDC upsert into the governed catalog: each micro-batch
  * lands as ONE atomic commit of an O(batch) merge-on-read upsert
  * (append + equality-delete sidecar) plus the advanced batch id —
  * exactly-once current-state maintenance with zero table reads. */
class UpsertStreamSpec extends GraftSuite {
  import spark.implicits._

  test("commitUpsertBatch: batches merge by key, replays skip, empties skip") {
    val cat = Files.createTempDirectory("graft-upstream").toString
    val b0 = Seq(("a", 1L, 10.0), ("b", 1L, 20.0))
      .toDF("k", "seq", "v")
    val c0 = GovernedStream.commitUpsertBatch(spark, cat, "state", "k",
      Seq("k"), "src", 0L, b0)
    assert(c0.nonEmpty)
    val b1 = Seq(("b", 2L, 21.0), ("c", 1L, 30.0))
      .toDF("k", "seq", "v")
    val c1 = GovernedStream.commitUpsertBatch(spark, cat, "state", "k",
      Seq("k"), "src", 1L, b1)
    assert(c1.nonEmpty)

    def state(): Map[String, (Long, Double)] =
      Catalog.read(spark, cat, "state").select("k", "seq", "v").collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(state() === Map("a" -> (1L, 10.0), "b" -> (2L, 21.0),
      "c" -> (1L, 30.0)))

    // replayed batch id: skipped outright, state unchanged
    assert(GovernedStream.commitUpsertBatch(spark, cat, "state", "k",
      Seq("k"), "src", 1L, b1.withColumn("v", lit(-1.0))).isEmpty)
    assert(state()("b") === (2L, 21.0))
    // empty batch: no commit
    assert(GovernedStream.commitUpsertBatch(spark, cat, "state", "k",
      Seq("k"), "src", 2L, b1.filter(lit(false))).isEmpty)

    // the upsert wrote O(batch): the state table's commits are appends
    // + sidecars, never rewrites of inherited files
    val root = Catalog.tableRoot(cat, "state")
    val v = Catalog.tableVersions(cat, Catalog.latestCommit(cat))("state")
    assert(SnapshotTable.eqDeleteEntries(root, v).size === 2)
    // time travel through the catalog: the first commit still sees b@1
    val at0 = Catalog.read(spark, cat, "state", c0.get)
      .select("k", "seq").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(at0 === Map("a" -> 1L, "b" -> 1L))
  }

  test("commitCdcBatch: one atomic commit of upserts AND delete tombstones") {
    val cat = Files.createTempDirectory("graft-cdcstream").toString
    GovernedStream.commitCdcBatch(spark, cat, "state", "k", Seq("k"),
      "src", 0L,
      Seq(("a", 10.0, "x"), ("b", 20.0, "x"), ("c", 30.0, "y"))
        .toDF("k", "v", "p"),
      spark.emptyDataFrame.select())
    def state(): Map[String, Double] =
      Catalog.read(spark, cat, "state").select("k", "v").collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(state() === Map("a" -> 10.0, "b" -> 20.0, "c" -> 30.0))

    // a Debezium-shaped batch: update b, insert d, tombstone a — ONE
    // catalog commit for the lot
    val commits = Catalog.commits(cat).size
    val c1 = GovernedStream.commitCdcBatch(spark, cat, "state", "k",
      Seq("k"), "src", 1L,
      Seq(("b", 21.0, "x"), ("d", 40.0, "y")).toDF("k", "v", "p"),
      Seq(("a", -1.0)).toDF("k", "ignored"))
    assert(c1.nonEmpty)
    assert(Catalog.commits(cat).size === commits + 1)
    assert(state() === Map("b" -> 21.0, "c" -> 30.0, "d" -> 40.0))
    // replay skips outright
    assert(GovernedStream.commitCdcBatch(spark, cat, "state", "k",
      Seq("k"), "src", 1L,
      Seq(("z", 0.0, "x")).toDF("k", "v", "p"),
      spark.emptyDataFrame.select()).isEmpty)
    assert(state() === Map("b" -> 21.0, "c" -> 30.0, "d" -> 40.0))
    // delete-only batch works too
    GovernedStream.commitCdcBatch(spark, cat, "state", "k", Seq("k"),
      "src", 2L, spark.emptyDataFrame.select(),
      Seq(Tuple1("d")).toDF("k"))
    assert(state() === Map("b" -> 21.0, "c" -> 30.0))
    // time travel: the pre-tombstone commit still sees a
    assert(Catalog.read(spark, cat, "state", c1.get - 1)
      .select("k").collect().map(_.getString(0)).toSet
      === Set("a", "b", "c"))
    // catalog GC keeps every equality-delete sidecar the live version
    // reads — also the delete-only version's, whose directory holds
    // nothing else, once a later batch lands on top of it
    GovernedStream.commitCdcBatch(spark, cat, "state", "k", Seq("k"),
      "src", 3L, Seq(("e", 50.0, "y")).toDF("k", "v", "p"),
      spark.emptyDataFrame.select())
    val root = Catalog.tableRoot(cat, "state")
    val eqVersions = SnapshotTable.eqDeleteEntries(root,
      Catalog.tableVersions(cat)("state")).map(_._1)
    Catalog.expireCommits(cat, retainLast = 0, graceMs = 0L)
    eqVersions.foreach(d =>
      assert(Files.exists(Paths.get(root, s"v=$d", "_eqdeletes")), s"v=$d"))
    assert(state() === Map("b" -> 21.0, "c" -> 30.0, "e" -> 50.0))
  }

  test("writeLatestGoverned maintains the per-product latest row exactly once") {
    val tmp = Files.createTempDirectory("graft-latest-stream")
    val (src, cat, cp) = (s"$tmp/src", s"$tmp/cat", s"$tmp/cp")
    val raw = spark.read.parquet(s"$sf/events.parquet")
    raw.repartition(3).write.mode("overwrite").parquet(src)

    GovernedStream.writeLatestGoverned(spark, src, cat, cp)
    val got = Catalog.read(spark, cat, "latest_trades")
      .select("product_id", "trade_id").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

    // expectation: batch-computed newest trade per product
    val tsCol =
      if (raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
        expr("timestamp_micros(ts div 1000)")
      else col("ts").cast("timestamp")
    val expect = Bronze.ingest(raw.withColumn("ts", tsCol))
      .groupBy("product_id")
      .agg(max_by(col("trade_id"),
        struct(col("trade_time"), col("trade_id"))).as("trade_id"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === expect)

    // restart with a newer trade for one product: the upsert replaces
    // exactly that product's row, everything else untouched
    val someProduct = got.keys.head
    val ts2030 =
      if (raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
        lit(1893456000000000000L) // 2030-01-01 in int64 nanos
      else lit(java.sql.Timestamp.valueOf("2030-01-01 00:00:00"))
    val newer = raw.limit(1)
      .withColumn("event_id", lit(20000000L))
      .withColumn("event_type", lit(someProduct))
      .withColumn("ts", ts2030)
    newer.write.mode("append").parquet(src)
    GovernedStream.writeLatestGoverned(spark, src, cat, cp)
    val got2 = Catalog.read(spark, cat, "latest_trades")
      .select("product_id", "trade_id").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got2(someProduct) === 20000000L)
    assert((got2 - someProduct) === (got - someProduct))
  }
}
