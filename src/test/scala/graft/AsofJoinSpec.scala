package graft

import org.apache.spark.sql.functions._

import graft.operators.{AsofJoin, Ohlcv}

/** As-of join semantics on crafted tapes: inclusive at-or-before,
  * per-key isolation, NULL before the first right row. */
class AsofJoinSpec extends GraftSuite {
  import spark.implicits._

  private def ts(s: String) = col(s).cast("timestamp_ntz")

  private lazy val left = Seq(
    (1L, "a", "2024-01-01 09:30:00"), // before any right row -> NULL
    (2L, "a", "2024-01-01 10:00:00"), // exactly at right ts -> inclusive
    (3L, "a", "2024-01-01 10:59:59"), // between right rows -> 10:00 row
    (4L, "a", "2024-01-01 11:00:01"), // after second right row
    (5L, "b", "2024-01-01 10:30:00")) // other key: only b's rows visible
    .toDF("id", "k", "lts")
    .select(col("id"), col("k"), ts("lts").as("lts"))

  private lazy val right = Seq(
    ("a", "2024-01-01 10:00:00", 100.0d),
    ("a", "2024-01-01 11:00:00", 200.0d),
    ("b", "2024-01-01 10:15:00", 300.0d),
    ("b", "2024-01-01 12:00:00", 400.0d))
    .toDF("k", "rts", "p")
    .select(col("k"), ts("rts").as("rts"), col("p"))

  test("asof attaches latest right row at-or-before, NULL before first") {
    val got = AsofJoin.asof(left, right, Seq("k"), "lts", "rts", Seq("p"))
      .select("id", "p").collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(got === Map(
      1L -> None, 2L -> Some(100.0d), 3L -> Some(100.0d),
      4L -> Some(200.0d), 5L -> Some(300.0d)))
  }

  test("asof tolerance rejects matches older than the staleness bound") {
    val got = AsofJoin.asof(left, right, Seq("k"), "lts", "rts", Seq("p"),
      tolerance = Some("30 minutes")).select("id", "p").collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    // id 2 matches at 0 lag, id 4 at 1s lag; id 3 (59:59 stale) and
    // id 5 (15m lag) sit on either side of the 30-minute bound
    assert(got === Map(
      1L -> None, 2L -> Some(100.0d), 3L -> None,
      4L -> Some(200.0d), 5L -> Some(300.0d)))
  }

  test("asof preserves a matched row's NULL payload (no older-row fallback)") {
    val rightN = Seq(
      ("a", "2024-01-01 10:00:00", Some(100.0d)),
      ("a", "2024-01-01 11:00:00", None: Option[Double]))
      .toDF("k", "rts", "p")
      .select(col("k"), ts("rts").as("rts"), col("p"))
    val lateLeft = Seq((9L, "a", "2024-01-01 11:30:00")).toDF("id", "k", "lts")
      .select(col("id"), col("k"), ts("lts").as("lts"))
    val got = AsofJoin.asof(lateLeft, rightN, Seq("k"), "lts", "rts", Seq("p"))
      .head()
    // the 11:00 row is the match; its NULL must NOT fall back to 100.0
    assert(got.isNullAt(got.fieldIndex("p")))
  }

  test("asof preserves every left row and all left columns") {
    val out = AsofJoin.asof(left, right, Seq("k"), "lts", "rts", Seq("p"))
    assert(out.count() === left.count())
    assert(out.columns.toSet === Set("id", "k", "lts", "p"))
  }

  test("bucketed asof equals the single-window asof, incl. tolerance") {
    // tiny buckets (60s) force carries across many buckets, covering
    // left-only buckets, deposit-only buckets, and exact-boundary rows
    val a = AsofJoin.asof(left, right, Seq("k"), "lts", "rts", Seq("p"))
    val b = AsofJoin.asofBucketed(left, right, Seq("k"), "lts", "rts",
      Seq("p"), bucketSeconds = 60L)
    assert(b.columns.toSet === a.columns.toSet)
    assert(a.exceptAll(b.select(a.columns.map(col): _*)).count() === 0)
    assert(b.select(a.columns.map(col): _*).exceptAll(a).count() === 0)
    val at = AsofJoin.asof(left, right, Seq("k"), "lts", "rts", Seq("p"),
      tolerance = Some("30 minutes"))
    val bt = AsofJoin.asofBucketed(left, right, Seq("k"), "lts", "rts",
      Seq("p"), bucketSeconds = 60L, tolerance = Some("30 minutes"))
    assert(at.exceptAll(bt.select(at.columns.map(col): _*)).count() === 0)
    assert(bt.select(at.columns.map(col): _*).exceptAll(at).count() === 0)
  }

  test("bucketed asof splits a single hot key across bucket partitions") {
    // ONE key, 20k left rows over ~5.5 hours: the plain asof window
    // serializes this into one partition; the bucketed variant must
    // partition pass 1 by (key, bucket) and agree row-for-row
    val hotLeft = spark.range(20000)
      .select(col("id"),
        lit("hot").as("k"),
        expr("timestampadd(SECOND, cast(id as int), " +
          "timestamp_ntz'2024-01-01 00:00:00')").as("lts"))
    val hotRight = spark.range(200)
      .select(lit("hot").as("k"),
        expr("timestampadd(MINUTE, cast(id as int), " +
          "timestamp_ntz'2024-01-01 00:00:30')").as("rts"),
        (col("id") * 10).cast("double").as("p"))
    val plain = AsofJoin.asof(hotLeft, hotRight, Seq("k"), "lts", "rts", Seq("p"))
    def bucketedOf = AsofJoin.asofBucketed(hotLeft, hotRight, Seq("k"),
      "lts", "rts", Seq("p"), bucketSeconds = 600L)
    // the ~160 KB of range rows fit in one AQE-coalesced partition, so
    // the small-plan rule would run both joins in one task with no
    // shuffle key to assert on: it is off here
    withConf(SmallPlanSpec.NoGate) {
      val bucketed = bucketedOf
      assert(plain.exceptAll(bucketed.select(plain.columns.map(col): _*))
        .count() === 0)
      assert(bucketed.count() === 20000L)
      // the pass-1 shuffle key includes the bucket: hot-key parallelism
      val plan = bucketed.queryExecution.executedPlan.toString
      assert(plan.contains("_asof_bkt"))
      assert(plan.split("hashpartitioning").exists(s =>
        s.startsWith("(k") && s.contains("_asof_bkt")))
    }
    // with the rule on, the bucketed join runs in one task to the same answer
    val one = bucketedOf
    assert(one.collect().length === 20000)
    assert(!one.queryExecution.executedPlan.toString.contains("hashpartitioning"))
    assert(plain.exceptAll(one.select(plain.columns.map(col): _*)).count() === 0)
  }

  test("tradeVsPrevHour: first-hour trades NULL, later trades see prior candle") {
    val stg = Seq(
      (1L, "X", "2024-01-01 10:00:10", "10.00000000", "1.00000000"),
      (2L, "X", "2024-01-01 10:30:00", "20.00000000", "1.00000000"),
      (3L, "X", "2024-01-01 11:00:00", "18.00000000", "1.00000000"),
      (4L, "X", "2024-01-01 11:45:00", "30.00000000", "1.00000000"))
      .toDF("trade_id", "product_id", "tt", "price", "size")
      .select(col("trade_id"), col("product_id"),
        ts("tt").as("trade_time"),
        col("price").cast("decimal(18,8)").as("price"),
        col("size").cast("decimal(18,8)").as("size"))
      .withColumn("trade_value",
        (col("price").cast("double") * col("size").cast("double"))
          .cast("decimal(18,8)"))
      .withColumn("minute_bucket",
        date_trunc("minute", col("trade_time")).cast("timestamp_ntz"))
    val h1 = Ohlcv.ohlcv1h(Ohlcv.ohlcv1m(stg))
    val got = AsofJoin.tradeVsPrevHour(stg, h1).collect()
      .map(r => r.getAs[Long]("trade_id") ->
        Option(r.getAs[Any]("h1_vwap"))).toMap
    // hour-10 candle (vwap 15) becomes effective at 11:00 sharp
    assert(got(1L).isEmpty && got(2L).isEmpty)
    assert(got(3L).map(_.asInstanceOf[java.math.BigDecimal].doubleValue())
      .contains(15.0))
    assert(got(4L).map(_.asInstanceOf[java.math.BigDecimal].doubleValue())
      .contains(15.0))
    // deviation of trade 4: 30 / 15 - 1 = 1.0
    val dev = AsofJoin.tradeVsPrevHour(stg, h1)
      .filter(col("trade_id") === 4L).head().getAs[Double]("dev_vs_vwap")
    assert(dev === 1.0d)
  }
}
