package graft

import org.apache.spark.sql.functions._

import graft.operators.Layout
import graft.sources.Tables

/** Physical layout: bucketed co-located joins and salted skew joins. */
class LayoutSpec extends GraftSuite {

  test("bucketed join plans without a shuffle exchange") {
    val orders = Tables.orders(spark, sf)
    val li = Tables.lineitem(spark, sf)
    Layout.writeBucketed(orders, "orders_b", "o_orderkey", 4)
    Layout.writeBucketed(
      li.withColumnRenamed("l_orderkey", "o_orderkey"), "lineitem_b",
      "o_orderkey", 4)
    // disable auto-broadcast so the co-located SMJ (not a broadcast
    // join) is what gets planned — that's the shape a 100 TB fact-fact
    // join takes, where neither side broadcasts
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // sf0.001's tables fit in one AQE-coalesced partition, so the
      // small-plan rule would join them in one task: it is off here
      withConf(SmallPlanSpec.NoGate) {
        val joined = Layout.bucketedJoin(spark, "orders_b", "lineitem_b", "o_orderkey")
        val plan = joined.queryExecution.executedPlan.toString
        assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
        assert(!plan.contains("Exchange"),
          s"bucketed join should not shuffle:\n$plan")
        assert(joined.count() === li.count())
      }
      // with the rule on, the same join runs in one task, unshuffled
      val one = Layout.bucketedJoin(spark, "orders_b", "lineitem_b", "o_orderkey")
      assert(one.collect().length === li.count())
      val plan = one.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"one-task join should not shuffle:\n$plan")
    } finally
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("z-order write enables file skipping on BOTH dimensions") {
    val li = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey", "l_quantity")
    val out = java.nio.file.Files.createTempDirectory("graft-zorder").toString
    Layout.writeZOrdered(li, "l_orderkey", "l_partkey", out, numFiles = 8)
    val back = spark.read.parquet(out)
    assert(back.count() === li.count())
    // per-file bounding boxes from the actual written files
    val boxes = back
      .groupBy(input_file_name().as("f"))
      .agg(min("l_orderkey").as("alo"), max("l_orderkey").as("ahi"),
        min("l_partkey").as("blo"), max("l_partkey").as("bhi"))
      .collect()
    assert(boxes.length === 8)
    // a 10% range predicate on EITHER column must skip files
    // (single-column sort would only skip on the sorted column).
    // The slab sits at 5-15% — a mid-range slab would straddle the
    // most-significant interleaved bit, the curve's worst case.
    def overlapping(lo: String, hi: String, q1: Double, q2: Double) = {
      val all = boxes.map(b =>
        (b.getAs[Long](lo).toDouble, b.getAs[Long](hi).toDouble))
      val span = (all.map(_._1).min, all.map(_._2).max)
      val (plo, phi) = (span._1 + q1 * (span._2 - span._1),
        span._1 + q2 * (span._2 - span._1))
      all.count { case (l, h) => l <= phi && h >= plo }
    }
    assert(overlapping("alo", "ahi", 0.05, 0.15) <= 6,
      "no skipping on the first z-order column")
    assert(overlapping("blo", "bhi", 0.05, 0.15) <= 6,
      "no skipping on the second z-order column")
  }

  test("salted join returns exactly the plain join's rows") {
    val li = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_linenumber", "l_quantity")
    val ord = Tables.orders(spark, sf).select("o_orderkey", "o_orderpriority")
      .withColumnRenamed("o_orderkey", "l_orderkey")
    val plain = li.join(ord, "l_orderkey")
    val salted = Layout.saltedJoin(li, ord, "l_orderkey", "l_linenumber", 8)
    assert(salted.count() === plain.count())
    assert(salted.select(li.columns.head, li.columns.tail: _*)
      .exceptAll(plain.select(li.columns.head, li.columns.tail: _*))
      .count() === 0)
  }
}
