package graft

import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._

import graft.operators.BronzeToSilver

/** Hot-key skew mitigations, pinned to the plan (SURVEY §3.5).
  *
  * Two distinct mechanisms cover the repo's two shuffle shapes:
  *  - window dedup (`silver_dedup`, and the asof window with the same
  *    shuffle shape): Spark's WindowGroupLimit pushdown inserts a
  *    map-side partial top-1 per key BEFORE the shuffle, so a hot
  *    trade_id's reduce input is bounded by the mapper count, not its
  *    row count — windows get no AQE skew split, this partial limit IS
  *    the mitigation;
  *  - equi-joins: AQE's OptimizeSkewedJoin splits oversized partitions
  *    at runtime (`skew=true` in the executed SMJ), with
  *    Layout.saltedJoin as the deterministic fallback when AQE can't
  *    see the skew (already plan-asserted in LayoutSpec).
  */
class SkewSpec extends GraftSuite {
  import spark.implicits._

  test("hot-key dedup: WindowGroupLimit bounds the skewed key map-side") {
    // one trade_id carries 50k redeliveries, the rest are singletons
    val hot = spark.range(50000)
      .select(lit(7L).as("trade_id"),
        col("id").as("seq"),
        (lit(1000L) + col("id")).as("ingested_at_ms"))
    val cold = spark.range(1000)
      .select((col("id") + 100L).as("trade_id"),
        lit(0L).as("seq"), lit(0L).as("ingested_at_ms"))
    val skewed = hot.unionByName(cold)
      .withColumn("ingested_at",
        expr("timestamp_millis(ingested_at_ms)").cast("timestamp_ntz"))
      .drop("ingested_at_ms")

    // the ~400 KB of range rows fit in one AQE-coalesced partition, so
    // the small-plan rule would run the dedup in one task with no
    // exchange for a partial limit to bound: it is off here
    withConf(SmallPlanSpec.NoGate) {
      val deduped = BronzeToSilver.dedup(skewed)
      // correctness under skew: exactly one survivor per key, and the
      // hot key keeps its earliest redelivery
      assert(deduped.count() === 1001)
      assert(deduped.filter(col("trade_id") === 7L)
        .head().getAs[Long]("seq") === 0L)
      // the mitigation is in the plan: a PARTIAL WindowGroupLimit runs
      // before the exchange (map-side top-1 per key), so the hot key
      // ships |mappers| rows, not 50k
      val plan = deduped.queryExecution.executedPlan.toString
      assert(plan.contains("WindowGroupLimit"))
      assert(plan.contains("Partial"), "expected a map-side partial limit")
    }
    // with the rule on, the same dedup runs in one task to the same answer
    val one = BronzeToSilver.dedup(skewed)
    val rows = one.collect()
    assert(rows.length === 1001)
    assert(rows.find(_.getAs[Long]("trade_id") == 7L).get.getAs[Long]("seq") === 0L)
    assert(!nodes(one.queryExecution.executedPlan).exists(_.isInstanceOf[Exchange]))
  }

  test("hot-key equi-join: AQE splits the skewed partition at runtime") {
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
      .map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.adaptive.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      // local-scale thresholds so a ~5 MB hot partition counts as skew
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "262144")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "131072")
      // force a sort-merge join (broadcast would hide the skew path)
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")

      val payload = "x" * 100
      val big = spark.range(200000)
        .select(when(col("id") % 10 =!= 0, lit(1L)).otherwise(col("id"))
          .as("k"), concat(lit(payload), col("id")).as("v"))
      val dim = spark.range(5000).select(col("id").as("k"),
        col("id").cast("string").as("d"))
      val joined = big.join(dim, "k")
      // materialize THIS Dataset's primary query execution — write /
      // foreach / count all plan a fresh execution and would leave this
      // adaptive plan unfinalized; collect() is the one action bound to
      // it (~22 MB here, test-only)
      // 180000 hot-key rows (k=1) + 500 cold multiples of 10 below 5000
      assert(joined.collect().length === 180500)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"expected AQE skew split in:\n${plan.take(2000)}")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }
}
