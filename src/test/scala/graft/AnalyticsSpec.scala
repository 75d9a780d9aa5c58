package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{Analytics, Maintenance}
import graft.sources.Tables
import graft.streaming.BronzeStream

/** Analytics shapes, maintenance, and streaming/batch equivalence. */
class AnalyticsSpec extends GraftSuite {

  test("q1: six groups, exact decimal sums, count matches filter") {
    val li = Tables.lineitem(spark, sf)
    val q1 = Analytics.q1PricingSummary(li)
    val rows = q1.collect()
    assert(rows.length <= 6 && rows.nonEmpty)
    val total = rows.map(_.getAs[Long]("count_order")).sum
    val expected = li.filter(
      col("l_shipdate") <= lit("2001-08-01").cast("timestamp_ntz")).count()
    assert(total === expected)
  }

  test("q6: every predicate reaches the parquet scan (plan-asserted)") {
    val df = Analytics.q6ForecastRevenue(Tables.lineitem(spark, sf))
    // AQE wraps the scan, so assert on the formatted explain output
    val s = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val pushed = s.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    Seq("GreaterThanOrEqual(l_shipdate", "LessThan(l_shipdate",
      "GreaterThanOrEqual(l_discount", "LessThanOrEqual(l_discount",
      "LessThan(l_quantity").foreach { p =>
      assert(pushed.contains(p), s"predicate $p not pushed: $pushed")
    }
    // projection pruned to the four referenced columns
    val read = s.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(Seq("l_shipdate", "l_discount", "l_quantity", "l_extendedprice")
      .forall(read.contains))
    assert(!read.contains("l_orderkey") && !read.contains("l_returnflag"))
    // and the aggregate itself agrees with a direct recomputation
    val r = df.head()
    val ref = Tables.lineitem(spark, sf)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp_ntz") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp_ntz") &&
        col("l_discount").between(0.05d, 0.07d) && col("l_quantity") < 24.0d)
    assert(r.getAs[Long]("n_lines") === ref.count())
  }

  test("q15: returns exactly the max-revenue supplier(s)") {
    val got = Analytics.q15TopSupplier(
      Tables.supplier(spark, sf), Tables.lineitem(spark, sf)).collect()
    assert(got.nonEmpty)
    val revs = got.map(_.getAs[java.math.BigDecimal]("total_revenue"))
    assert(revs.distinct.length === 1) // all rows tie at the max
    // cross-check against a direct groupBy max
    val all = Tables.lineitem(spark, sf)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp_ntz") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp_ntz"))
      .groupBy("l_suppkey")
      .agg(sum((col("l_extendedprice") * (lit(1.0d) - col("l_discount")))
        .cast("decimal(18,6)")).cast("decimal(18,6)").as("tr"))
    val mx = all.agg(max("tr")).head().getDecimal(0)
    assert(revs.head === mx)
    assert(got.length === all.filter(col("tr") === mx).count())
  }

  test("top orders window keeps at most k per customer, ranked by price") {
    val t = Analytics.topOrdersPerCustomer(Tables.orders(spark, sf), 3)
    val perCust = t.groupBy("o_custkey").count()
    assert(perCust.filter(col("count") > 3).count() === 0)
    val badRank = t.filter(col("rn") > 3)
    assert(badRank.count() === 0)
  }

  test("compaction preserves rows and hits the target file count") {
    val out = Files.createTempDirectory("graft-compact").toString
    val rows = Maintenance.compact(spark, s"$sf/lineitem.parquet", out, 2)
    assert(rows === Tables.lineitem(spark, sf).count())
    val files = spark.read.parquet(out).inputFiles
    assert(files.length === 2)
    assert(Maintenance.expiredSnapshots(Seq(3L, 1L, 2L, 5L, 4L), 2)
      === Seq(1L, 2L, 3L))
  }

  test("streaming dedup keeps exactly one row per trade_id") {
    val d = BronzeStream.dedupedTrades(spark, sf)
    val events = graft.sources.Tables.events(spark, sf)
    assert(d.count() === events.count())
    assert(d.groupBy("trade_id").count().filter(col("count") > 1).count() === 0)
  }

  test("streaming windowed volume equals the batch aggregation") {
    val stream = BronzeStream.windowedVolume(spark, sf)
    val batch = graft.operators.Bronze.ingest(Tables.events(spark, sf))
      .groupBy(window(col("trade_time").cast("timestamp"), "5 minutes"),
        col("product_id"))
      .agg(count(lit(1)).as("n_trades"),
        sum(col("size").cast("decimal(18,8)")).cast("decimal(18,8)").as("volume"))
      .select(col("window.start").cast("timestamp_ntz").as("window_start"),
        col("product_id"), col("n_trades"), col("volume"))
    val s = stream.select("window_start", "product_id", "n_trades", "volume")
    assert(s.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(s).count() === 0)
    assert(s.count() > 0)
  }

  test("stream-stream interval join equals the batch buy-sell pairing") {
    val got = BronzeStream.streamingBuySellPairs(spark, sf)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    // batch twin: identical staging casts + the same interval join
    val staged = graft.operators.Bronze.ingest(Tables.events(spark, sf))
      .withColumn("price", col("price").cast("decimal(18,8)"))
      .withColumn("size", col("size").cast("decimal(18,8)"))
      .filter(col("price") > 0 && col("size") > 0)
    val b = staged.filter(col("side") === "buy")
      .select(col("product_id").as("b_product"),
        col("trade_id").as("buy_id"), col("trade_time").as("b_time"))
    val s2 = staged.filter(col("side") === "sell")
      .select(col("product_id").as("s_product"),
        col("trade_id").as("sell_id"), col("trade_time").as("s_time"))
    val expect = b.join(s2, expr(
      """b_product = s_product
        |AND s_time >= b_time - interval 3600 seconds
        |AND s_time <= b_time""".stripMargin))
      .collect().map(r => (r.getAs[Long]("buy_id"),
        r.getAs[Long]("sell_id"))).toSet
    assert(got === expect)
    assert(got.nonEmpty)
  }

  test("q17: window average equals the decorrelated self-join plan") {
    val li = Tables.lineitem(spark, sf)
    val r = Analytics.q17SmallOrders(Tables.part(spark, sf), li).head()
    // independent reference: explicit per-part aggregate + re-join
    val flt = Tables.part(spark, sf).filter(col("p_brand") === "Brand#4")
      .select(col("p_partkey").as("l_partkey"))
    val avgs = li.join(flt, "l_partkey").groupBy("l_partkey")
      .agg((sum(col("l_quantity").cast("decimal(18,4)")).cast("double") /
        count(lit(1))).as("avg_qty"))
    val expect = li.join(flt, "l_partkey").join(avgs, "l_partkey")
      .filter(col("l_quantity") < lit(0.2d) * col("avg_qty"))
      .agg(count(lit(1))).head().getLong(0)
    assert(r.getAs[Long]("n_small_orders") === expect)
    assert(expect > 0 && !r.isNullAt(r.fieldIndex("avg_yearly")))
  }

  test("q4: semi-join counts each qualifying order exactly once") {
    val orders = Tables.orders(spark, sf)
    val li = Tables.lineitem(spark, sf)
    val got = Analytics.q4OrderPriority(orders, li).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // reference: distinct returned orderkeys joined back (dup-proof)
    val expect = orders.join(
        li.filter(col("l_returnflag") === "R")
          .select(col("l_orderkey").as("o_orderkey")).distinct(),
        "o_orderkey")
      .groupBy("o_orderpriority").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === expect)
    assert(got.values.sum > 0)
  }

  private def formattedPlan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  // plan assertions on the OPTIMIZED LOGICAL plan: stable under AQE,
  // which may (correctly) elide an anti join whose build side turns
  // out empty at this sf, or re-number scan nodes between the initial
  // and final physical trees
  private def logicalScans(df: org.apache.spark.sql.DataFrame,
                           table: String): Int =
    df.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation
              if fs.location.rootPaths.exists(_.toString.contains(table)) => 1
          case _ => 0
        }
    }.sum

  private def joinTypes(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
        j.joinType.sql
    }

  test("q21: window decorrelation equals the textbook correlated EXISTS/NOT-EXISTS SQL") {
    Tables.supplier(spark, sf).createOrReplaceTempView("q21_supplier")
    Tables.nation(spark, sf).createOrReplaceTempView("q21_nation")
    Tables.orders(spark, sf).createOrReplaceTempView("q21_orders")
    Tables.lineitem(spark, sf).createOrReplaceTempView("q21_lineitem")
    // independent path: Spark's own subquery decorrelation of the
    // textbook correlated form
    val expect = spark.sql(
      """SELECT s_name, COUNT(*) AS numwait
        |FROM q21_supplier, q21_lineitem l1, q21_orders, q21_nation
        |WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
        |  AND o_orderstatus = 'F'
        |  AND l1.l_shipdate > o_orderdate + INTERVAL 30 DAYS
        |  AND EXISTS (SELECT 1 FROM q21_lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM q21_lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_shipdate > o_orderdate + INTERVAL 30 DAYS)
        |  AND s_nationkey = n_nationkey AND n_name = 'NATION_3'
        |GROUP BY s_name""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val df = Analytics.q21WaitingSupplier(Tables.supplier(spark, sf),
      Tables.nation(spark, sf), Tables.orders(spark, sf),
      Tables.lineitem(spark, sf))
    val got = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === expect)
    assert(got.nonEmpty)
    // ONE lineitem scan (the textbook decorrelation reads it thrice)
    // and no cross/cartesian join anywhere
    assert(logicalScans(df, "lineitem") === 1)
    assert(!joinTypes(df).exists(_.contains("CROSS")), joinTypes(df))
    assert(!formattedPlan(df).contains("CartesianProduct"))
  }

  test("Tables readers declare the footer schema: q22's inputs build with no job") {
    Seq[(String, (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame)](
      "region" -> Tables.region, "nation" -> Tables.nation,
      "customer" -> Tables.customer, "supplier" -> Tables.supplier,
      "part" -> Tables.part, "orders" -> Tables.orders,
      "lineitem" -> Tables.lineitem, "documents" -> Tables.documents,
      "embeddings" -> Tables.embeddings).foreach { case (name, read) =>
      assert(read(spark, sf).schema ===
        spark.read.parquet(s"$sf/$name.parquet").schema, name)
    }
    val raw = spark.read.parquet(s"$sf/events.parquet")
    assert(Tables.eventsRawSchema(spark, sf) === raw.schema)
    assert(Tables.events(spark, sf).count() === raw.count())
    val (_, jobs) = MaintenanceJobCountSpec.jobsOf(spark)(Seq(
      Tables.customer(spark, sf), Tables.nation(spark, sf),
      Tables.orders(spark, sf)))
    assert(jobs.isEmpty, jobs.mkString("; "))
  }

  test("Tables readers take a Spark output directory (the graft.ScaleData layout)") {
    val out = Files.createTempDirectory("graft-tables-dir").toString
    Seq("nation", "orders", "events").foreach { name =>
      spark.read.parquet(s"$sf/$name.parquet").repartition(3)
        .write.parquet(s"$out/$name.parquet")
    }
    assert(Tables.nation(spark, out).schema ===
      spark.read.parquet(s"$out/nation.parquet").schema)
    assert(Tables.orders(spark, out).schema ===
      spark.read.parquet(s"$out/orders.parquet").schema)
    assert(Tables.orders(spark, out).count() === Tables.orders(spark, sf).count())
    val raw = spark.read.parquet(s"$out/events.parquet")
    assert(Tables.eventsRawSchema(spark, out) === raw.schema)
    assert(Tables.events(spark, out).count() === raw.count())
  }

  test("q22: broadcast scalar + anti-join equals the textbook correlated SQL") {
    Tables.customer(spark, sf).createOrReplaceTempView("q22_customer")
    Tables.nation(spark, sf).createOrReplaceTempView("q22_nation")
    Tables.orders(spark, sf).createOrReplaceTempView("q22_orders")
    val expect = spark.sql(
      """SELECT n_name, COUNT(*) AS numcust
        |FROM q22_customer, q22_nation
        |WHERE c_nationkey = n_nationkey
        |  AND c_acctbal > (
        |    SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)
        |    FROM q22_customer WHERE c_acctbal > 0.0)
        |  AND NOT EXISTS (SELECT 1 FROM q22_orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderpriority = '1-URGENT')
        |GROUP BY 1""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def q22 = Analytics.q22GlobalSalesOpp(Tables.customer(spark, sf),
      Tables.nation(spark, sf), Tables.orders(spark, sf))
    // sf0.001's tables fit in one AQE-coalesced partition, and the
    // small-plan rule would join the broadcast scalar as a one-task
    // cartesian product: it is off here
    withConf(SmallPlanSpec.NoGate) {
      val df = q22
      val rows = df.collect()
      assert(rows.map(r => r.getString(0) -> r.getLong(1)).toMap === expect)
      assert(rows.nonEmpty)
      // the anti join must be a real anti join, not a post-join filter,
      // and orders is scanned once (never re-aggregated per row)
      assert(joinTypes(df).exists(_.contains("ANTI")), joinTypes(df))
      assert(logicalScans(df, "orders") === 1)
      assert(!formattedPlan(df).contains("CartesianProduct"))
    }
    // with the rule on, the same answer from one job
    val df = q22
    val (one, jobs) = MaintenanceJobCountSpec.jobsOf(spark)(df.collect())
    assert(one.map(r => r.getString(0) -> r.getLong(1)).toMap === expect)
    assert(jobs.size === 1, jobs.mkString("; "))
  }

  test("q16: anti-join NOT-IN equals the textbook subquery SQL") {
    Tables.part(spark, sf).createOrReplaceTempView("q16_part")
    Tables.supplier(spark, sf).createOrReplaceTempView("q16_supplier")
    Tables.lineitem(spark, sf).createOrReplaceTempView("q16_lineitem")
    val expect = spark.sql(
      """SELECT p_brand, p_type, p_size,
        |  COUNT(DISTINCT l_suppkey) AS supplier_cnt
        |FROM q16_lineitem, q16_part
        |WHERE p_partkey = l_partkey
        |  AND p_brand <> 'Brand#4' AND p_type NOT LIKE 'MEDIUM%'
        |  AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
        |  AND l_suppkey NOT IN (
        |    SELECT s_suppkey FROM q16_supplier WHERE s_acctbal < 0.0)
        |GROUP BY 1, 2, 3""".stripMargin)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2)) -> r.getLong(3))
      .toMap
    val df = Analytics.q16SupplierParts(Tables.part(spark, sf),
      Tables.supplier(spark, sf), Tables.lineitem(spark, sf))
    val got = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2)) -> r.getLong(3))
      .toMap
    assert(got === expect)
    assert(got.nonEmpty)
    assert(joinTypes(df).exists(_.contains("ANTI")), joinTypes(df))
    assert(logicalScans(df, "lineitem") === 1)
  }

  test("q13: pre-aggregated outer join equals the textbook outer-join histogram") {
    val customer = Tables.customer(spark, sf)
    val orders = Tables.orders(spark, sf)
    // independent path: the literal textbook plan — outer join first,
    // count per customer, then histogram
    val expect = customer
      .join(orders.filter(col("o_orderpriority") =!= "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(customer("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = Analytics.q13CustomerDistribution(customer, orders)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expect)
    // zero-order customers must be present as the c_count=0 bucket
    assert(got.contains(0L) || expect.forall(_._1 > 0))
    assert(got.nonEmpty)
  }

  test("sales_cube: rollup equals the union of its grouping sets, via one Expand") {
    import graft.operators.{Bronze, BronzeToSilver, Staging}
    val stg = Staging.stgTrades(BronzeToSilver.transform(
      Bronze.withRedeliveries(Bronze.ingest(Tables.events(spark, sf)))))
      .cache()
    val df = Analytics.salesCube(stg)
    val rows = df.collect()
    // the three grouping sets, recomputed independently
    val fine = stg.groupBy("product_id", "_trade_date").count().collect()
      .map(r => (r.getString(0), r.getDate(1).toString) -> r.getLong(2)).toMap
    val perProduct = stg.groupBy("product_id").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = stg.count()
    val byGid = rows.groupBy(_.getAs[Long]("gid"))
    assert(byGid(0L).map(r => (r.getString(0), r.getDate(1).toString) ->
      r.getAs[Long]("n_trades")).toMap === fine)
    assert(byGid(1L).map(r => r.getString(0) ->
      r.getAs[Long]("n_trades")).toMap === perProduct)
    assert(byGid(3L).map(_.getAs[Long]("n_trades")).toSeq === Seq(total))
    assert(byGid.keySet === Set(0L, 1L, 3L))
    // ONE Expand feeding one aggregate — not a union of three scans
    val expands = df.queryExecution.optimizedPlan.collect {
      case e: org.apache.spark.sql.catalyst.plans.logical.Expand => e
    }
    assert(expands.size === 1)
    assert(df.queryExecution.optimizedPlan.collect {
      case u: org.apache.spark.sql.catalyst.plans.logical.Union => u
    }.isEmpty)
    stg.unpersist()
  }

  test("trade_cube: all four CUBE grouping sets from one Expand") {
    import graft.operators.{Bronze, BronzeToSilver, Staging}
    val stg = Staging.stgTrades(BronzeToSilver.transform(
      Bronze.withRedeliveries(Bronze.ingest(Tables.events(spark, sf)))))
      .cache()
    val df = Analytics.tradeCube(stg)
    val rows = df.collect()
    val byGid = rows.groupBy(_.getAs[Long]("gid"))
    assert(byGid.keySet === Set(0L, 1L, 2L, 3L))
    // the (product, side) cells and both 1-d margins re-derive the total
    val total = stg.count()
    assert(byGid(0L).map(_.getAs[Long]("n_trades")).sum === total)
    assert(byGid(1L).map(_.getAs[Long]("n_trades")).sum === total)
    assert(byGid(2L).map(_.getAs[Long]("n_trades")).sum === total)
    assert(byGid(3L).map(_.getAs[Long]("n_trades")).toSeq === Seq(total))
    // per-side margin equals the independent aggregate
    val perSide = stg.groupBy("side").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byGid(2L).map(r => r.getString(1) -> r.getAs[Long]("n_trades"))
      .toMap === perSide)
    val expands = df.queryExecution.optimizedPlan.collect {
      case e: org.apache.spark.sql.catalyst.plans.logical.Expand => e
    }
    assert(expands.size === 1)
    stg.unpersist()
  }

  test("trade_grouping_sets: exactly the requested sets, no grand total, one Expand") {
    import graft.operators.{Bronze, BronzeToSilver, Staging}
    val stg = Staging.stgTrades(BronzeToSilver.transform(
      Bronze.withRedeliveries(Bronze.ingest(Tables.events(spark, sf)))))
      .cache()
    val df = Analytics.tradeGroupingSets(stg)
    val rows = df.collect()
    val byGid = rows.groupBy(_.getAs[Long]("gid"))
    // (product,side)=0, (product)=1, (side)=2 — and NO gid=3 grand total
    assert(byGid.keySet === Set(0L, 1L, 2L))
    val total = stg.count()
    assert(byGid(0L).map(_.getAs[Long]("n_trades")).sum === total)
    val perSide = stg.groupBy("side").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byGid(2L).map(r => r.getString(1) -> r.getAs[Long]("n_trades"))
      .toMap === perSide)
    val perProduct = stg.groupBy("product_id").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byGid(1L).map(r => r.getString(0) -> r.getAs[Long]("n_trades"))
      .toMap === perProduct)
    // ONE Expand feeding one aggregate — not a union of three scans
    val expands = df.queryExecution.optimizedPlan.collect {
      case e: org.apache.spark.sql.catalyst.plans.logical.Expand => e
    }
    assert(expands.size === 1)
    assert(df.queryExecution.optimizedPlan.collect {
      case u: org.apache.spark.sql.catalyst.plans.logical.Union => u
    }.isEmpty)
    stg.unpersist()
  }

  test("q7: nation-pair volume equals the textbook join SQL, both directions present") {
    Tables.supplier(spark, sf).createOrReplaceTempView("q7_supplier")
    Tables.nation(spark, sf).createOrReplaceTempView("q7_nation")
    Tables.customer(spark, sf).createOrReplaceTempView("q7_customer")
    Tables.orders(spark, sf).createOrReplaceTempView("q7_orders")
    Tables.lineitem(spark, sf).createOrReplaceTempView("q7_lineitem")
    val expect = spark.sql(
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  year(l_shipdate) AS l_year,
        |  SUM(CAST(l_extendedprice * (1.0D - l_discount) AS DECIMAL(18,6))) AS revenue,
        |  COUNT(*) AS n_lines
        |FROM q7_supplier, q7_lineitem, q7_orders, q7_customer,
        |     q7_nation n1, q7_nation n2
        |WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
        |  AND c_custkey = o_custkey
        |  AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
        |  AND n1.n_name IN ('NATION_3', 'NATION_8', 'NATION_12')
        |  AND n2.n_name IN ('NATION_3', 'NATION_8', 'NATION_12')
        |  AND n1.n_name <> n2.n_name
        |  AND l_shipdate >= TIMESTAMP_NTZ'1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP_NTZ'1998-01-01 00:00:00'
        |GROUP BY 1, 2, 3""".stripMargin).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2)) ->
        ((r.getDecimal(3).toPlainString, r.getLong(4)))).toMap
    val rows = Analytics.q7VolumeShipping(Tables.supplier(spark, sf),
      Tables.nation(spark, sf), Tables.customer(spark, sf),
      Tables.orders(spark, sf), Tables.lineitem(spark, sf)).collect()
    val got = rows
      .map(r => (r.getString(0), r.getString(1), r.getInt(2)) ->
        ((r.getDecimal(3).toPlainString, r.getLong(4)))).toMap
    assert(got === expect)
    assert(got.nonEmpty)
    // bilateral: every (a,b) key has its (b,a) mirror somewhere in the
    // output (trade flows both ways in this data)
    val pairs = got.keySet.map { case (a, b, _) => (a, b) }
    assert(pairs.exists { case (a, b) => pairs.contains((b, a)) })
  }

  test("q8: market share equals the textbook SQL and stays within [0,1]") {
    Tables.region(spark, sf).createOrReplaceTempView("q8_region")
    Tables.nation(spark, sf).createOrReplaceTempView("q8_nation")
    Tables.customer(spark, sf).createOrReplaceTempView("q8_customer")
    Tables.supplier(spark, sf).createOrReplaceTempView("q8_supplier")
    Tables.orders(spark, sf).createOrReplaceTempView("q8_orders")
    Tables.lineitem(spark, sf).createOrReplaceTempView("q8_lineitem")
    Tables.part(spark, sf).createOrReplaceTempView("q8_part")
    val expect = spark.sql(
      """SELECT year(o_orderdate) AS o_year,
        |  round(
        |    CAST(SUM(CASE WHEN n2.n_name = 'NATION_2'
        |      THEN CAST(l_extendedprice * (1.0D - l_discount) AS DECIMAL(18,6))
        |      ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) /
        |    CAST(SUM(CAST(l_extendedprice * (1.0D - l_discount) AS DECIMAL(18,6))) AS DOUBLE), 6) AS mkt_share,
        |  COUNT(*) AS n_lines
        |FROM q8_part, q8_supplier, q8_lineitem, q8_orders, q8_customer,
        |     q8_nation n1, q8_nation n2, q8_region
        |WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
        |  AND l_orderkey = o_orderkey AND o_custkey = c_custkey
        |  AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
        |  AND r_name = 'ASIA' AND s_nationkey = n2.n_nationkey
        |  AND p_type = 'PROMO'
        |  AND o_orderdate >= TIMESTAMP_NTZ'1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP_NTZ'1998-01-01 00:00:00'
        |GROUP BY 1""".stripMargin).collect()
      .map(r => r.getInt(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    val rows = Analytics.q8MarketShare(Tables.region(spark, sf),
      Tables.nation(spark, sf), Tables.customer(spark, sf),
      Tables.supplier(spark, sf), Tables.orders(spark, sf),
      Tables.lineitem(spark, sf), Tables.part(spark, sf)).collect()
    val got = rows
      .map(r => r.getInt(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    assert(got === expect)
    assert(got.nonEmpty)
    got.values.foreach { case (share, _) =>
      assert(share >= 0.0d && share <= 1.0d)
    }
  }

  test("q2: window min equals the correlated scalar subquery, one fact scan") {
    Tables.part(spark, sf).createOrReplaceTempView("q2_part")
    Tables.supplier(spark, sf).createOrReplaceTempView("q2_supplier")
    Tables.nation(spark, sf).createOrReplaceTempView("q2_nation")
    Tables.lineitem(spark, sf).createOrReplaceTempView("q2_lineitem")
    // independent path: Spark's own decorrelation of the textbook
    // correlated scalar-MIN subquery (no LIMIT so sets compare whole)
    val expect = spark.sql(
      """WITH pf AS (SELECT p_partkey, p_name FROM q2_part WHERE p_size = 15)
        |SELECT DISTINCT s.s_acctbal, s.s_name, n.n_name, p.p_partkey,
        |  p.p_name, l.l_extendedprice AS price
        |FROM q2_lineitem l
        |JOIN pf p ON l.l_partkey = p.p_partkey
        |JOIN q2_supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN q2_nation n ON s.s_nationkey = n.n_nationkey
        |WHERE l.l_extendedprice = (
        |  SELECT MIN(l2.l_extendedprice) FROM q2_lineitem l2
        |  WHERE l2.l_partkey = l.l_partkey)""".stripMargin).collect()
      .map(r => (r.getString(1), r.getLong(3))).toSet
    val df = Analytics.q2MinCostSupplier(Tables.part(spark, sf),
      Tables.supplier(spark, sf), Tables.nation(spark, sf),
      Tables.lineitem(spark, sf))
    val rows = df.collect()
    assert(rows.nonEmpty)
    val got = rows.map(r => (r.getString(1), r.getLong(3))).toSet
    if (expect.size <= 100) assert(got === expect)
    else { assert(got.size === 100); assert(got.subsetOf(expect)) }
    // every reported price IS the part's true minimum
    val mins = Tables.lineitem(spark, sf).groupBy("l_partkey")
      .agg(min("l_extendedprice").as("mn")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    rows.foreach { r =>
      assert(r.getDouble(5) === mins(r.getLong(3)))
    }
    // ONE lineitem scan: the window replaces the decorrelated self-join
    assert(logicalScans(df, "lineitem") === 1)
  }

  test("q11: rollup-derived total equals the textbook second-scan HAVING subquery") {
    Tables.supplier(spark, sf).createOrReplaceTempView("q11_supplier")
    Tables.nation(spark, sf).createOrReplaceTempView("q11_nation")
    Tables.lineitem(spark, sf).createOrReplaceTempView("q11_lineitem")
    val expect = spark.sql(
      """SELECT l_partkey,
        |  SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(18,4))) AS part_value
        |FROM q11_lineitem, q11_supplier, q11_nation
        |WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
        |  AND n_name = 'NATION_3'
        |GROUP BY 1
        |HAVING CAST(SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(18,4))) AS DOUBLE) > 2.0 * (
        |  (SELECT CAST(SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(18,4))) AS DOUBLE)
        |   FROM q11_lineitem, q11_supplier, q11_nation
        |   WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
        |     AND n_name = 'NATION_3')
        |  /
        |  (SELECT CAST(COUNT(DISTINCT l_partkey) AS DOUBLE)
        |   FROM q11_lineitem, q11_supplier, q11_nation
        |   WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
        |     AND n_name = 'NATION_3'))""".stripMargin).collect()
      .map(r => r.getLong(0) -> r.getDecimal(1).toPlainString).toMap
    val rows = Analytics.q11ImportantParts(Tables.supplier(spark, sf),
      Tables.nation(spark, sf), Tables.lineitem(spark, sf)).collect()
    val got = rows
      .map(r => r.getLong(0) -> r.getDecimal(1).toPlainString).toMap
    assert(got === expect)
    assert(got.nonEmpty)
    // descending-value order with the unique partkey as tiebreak
    val vals = rows.map(r => (r.getDecimal(1).doubleValue(), r.getLong(0)))
    assert(vals.sortBy { case (v, k) => (-v, k) }.toSeq === vals.toSeq)
  }

  test("pivot: day-of-week matrix equals the conditional-aggregate plan") {
    import graft.operators.{Bronze, BronzeToSilver, Staging}
    val stg = Staging.stgTrades(BronzeToSilver.transform(
      Bronze.withRedeliveries(Bronze.ingest(Tables.events(spark, sf)))))
      .cache()
    val rows = Analytics.tradeDowPivot(stg).collect()
    assert(rows.nonEmpty)
    // every (product, dow) cell re-derived independently
    val cells = stg
      .withColumn("dow", concat(lit("d"), dayofweek(col("trade_time"))))
      .groupBy("product_id", "dow")
      .agg(sum(col("trade_value")).cast("decimal(18,8)").as("v"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDecimal(2)).toMap
    rows.foreach { r =>
      (1 to 7).foreach { d =>
        val want = cells.get((r.getString(0), s"d$d")).orNull
        val got = r.getDecimal(r.fieldIndex(s"d$d"))
        assert(got === want, s"${r.getString(0)} d$d")
      }
    }
    // fixed values → Spark's two-level pivot aggregate (per-cell
    // rollup + column assembly on the SAME grouping) and nothing more:
    // no values-discovery union, no extra passes
    val plan = Analytics.tradeDowPivot(stg).queryExecution.optimizedPlan
    val aggs = plan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }
    assert(aggs.size <= 2, plan.toString)
    assert(plan.collect {
      case u: org.apache.spark.sql.catalyst.plans.logical.Union => u
    }.isEmpty)
    stg.unpersist()
  }

  test("ntile deciles: bucket sizes differ by at most one, values ordered") {
    val orders = Tables.orders(spark, sf)
    val rows = Analytics.customerValueDeciles(orders).collect()
    assert(rows.nonEmpty && rows.length <= 10)
    val counts = rows.map(_.getAs[Long]("n_customers"))
    assert(counts.max - counts.min <= 1) // ntile's equal-split rule
    assert(counts.sum === orders.select("o_custkey").distinct().count())
    // decile 1 holds the highest-value customers: per-decile totals
    // normalized by size must be non-increasing
    val avg = rows.sortBy(_.getAs[Int]("decile"))
      .map(r => r.getDecimal(r.fieldIndex("decile_value")).doubleValue() /
        r.getAs[Long]("n_customers"))
    assert(avg.zip(avg.tail).forall { case (a, b) => a >= b }, avg.toSeq)
  }

  test("q9: profit rollup equals the textbook 5-table join SQL") {
    Tables.part(spark, sf).createOrReplaceTempView("q9_part")
    Tables.supplier(spark, sf).createOrReplaceTempView("q9_supplier")
    Tables.nation(spark, sf).createOrReplaceTempView("q9_nation")
    Tables.orders(spark, sf).createOrReplaceTempView("q9_orders")
    Tables.lineitem(spark, sf).createOrReplaceTempView("q9_lineitem")
    val expect = spark.sql(
      """SELECT n_name, year(o_orderdate) AS o_year,
        |  SUM(CAST(l_extendedprice * (1.0D - l_discount)
        |    - p_retailprice * l_quantity AS DECIMAL(18,6))) AS profit,
        |  COUNT(*) AS n_lines
        |FROM q9_lineitem, q9_part, q9_supplier, q9_nation, q9_orders
        |WHERE l_partkey = p_partkey AND l_suppkey = s_suppkey
        |  AND s_nationkey = n_nationkey AND l_orderkey = o_orderkey
        |  AND p_name LIKE '%red%'
        |GROUP BY 1, 2""".stripMargin).collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        ((r.getDecimal(2).toPlainString, r.getLong(3)))).toMap
    val got = Analytics.q9ProductProfit(Tables.part(spark, sf),
      Tables.supplier(spark, sf), Tables.nation(spark, sf),
      Tables.orders(spark, sf), Tables.lineitem(spark, sf)).collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        ((r.getDecimal(2).toPlainString, r.getLong(3)))).toMap
    assert(got === expect)
    assert(got.nonEmpty)
  }

  test("q12: priority split counts partition every joined line exactly once") {
    val orders = Tables.orders(spark, sf)
    val li = Tables.lineitem(spark, sf)
    val rows = Analytics.q12PriorityShipping(orders, li).collect()
    assert(rows.nonEmpty)
    // high + low = all lines in the ship-date band with a matching order
    val joined = li
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp_ntz") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp_ntz"))
      .join(orders, col("l_orderkey") === col("o_orderkey"))
    val total = rows.map(r =>
      r.getAs[Long]("high_line_count") + r.getAs[Long]("low_line_count")).sum
    assert(total === joined.count())
    // high bucket equals the direct filtered count per status
    val high = joined
      .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
      .groupBy("l_linestatus").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      assert(r.getAs[Long]("high_line_count") ===
        high.getOrElse(r.getString(0), 0L))
    }
  }

  test("q20: semi-join decorrelation equals the textbook nested IN subquery") {
    Tables.part(spark, sf).createOrReplaceTempView("q20_part")
    Tables.supplier(spark, sf).createOrReplaceTempView("q20_supplier")
    Tables.nation(spark, sf).createOrReplaceTempView("q20_nation")
    Tables.lineitem(spark, sf).createOrReplaceTempView("q20_lineitem")
    val expect = spark.sql(
      """SELECT s_suppkey FROM q20_supplier, q20_nation
        |WHERE s_suppkey IN (
        |  SELECT l_suppkey FROM q20_lineitem, q20_part
        |  WHERE l_partkey = p_partkey AND p_name LIKE 'red%'
        |    AND l_shipdate >= TIMESTAMP_NTZ'1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP_NTZ'1997-01-01 00:00:00'
        |  GROUP BY l_suppkey
        |  HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) > 200.0D)
        |  AND s_nationkey = n_nationkey""".stripMargin).collect()
      .map(_.getLong(0)).toSet
    val df = Analytics.q20PotentialPromo(Tables.part(spark, sf),
      Tables.supplier(spark, sf), Tables.nation(spark, sf),
      Tables.lineitem(spark, sf))
    val got = df.collect().map(_.getAs[Long]("s_suppkey")).toSet
    assert(got === expect)
    assert(got.nonEmpty)
    // a real semi join on the reduced supplier set, one fact scan
    assert(joinTypes(df).exists(_.contains("SEMI")), joinTypes(df))
    assert(logicalScans(df, "lineitem") === 1)
  }

  test("q19: disjunctive join equals the per-disjunct union of counts") {
    val part = Tables.part(spark, sf)
    val li = Tables.lineitem(spark, sf)
    val r = Analytics.q19DisjunctiveRevenue(part, li).head()
    // reference: evaluate each disjunct independently (they are
    // disjoint on p_brand, so counts add)
    def one(brand: String, szHi: Int, qLo: Double, qHi: Double): Long =
      li.join(part.filter(col("p_brand") === brand &&
          col("p_size").between(1, szHi)),
          col("l_partkey") === col("p_partkey"))
        .filter(col("l_quantity") >= qLo && col("l_quantity") <= qHi)
        .count()
    val expect = one("Brand#12", 5, 1, 11) + one("Brand#23", 10, 10, 20) +
      one("Brand#3", 15, 20, 30)
    assert(r.getAs[Long]("n_lines") === expect)
    assert(expect > 0 && !r.isNullAt(r.fieldIndex("revenue")))
  }

  test("q18: only orders above the quantity threshold, sorted by price desc") {
    val rows = Analytics.q18LargeOrders(Tables.customer(spark, sf),
      Tables.orders(spark, sf), Tables.lineitem(spark, sf)).collect()
    assert(rows.nonEmpty && rows.length <= 100)
    assert(rows.forall(
      _.getAs[java.math.BigDecimal]("total_qty").doubleValue() > 250.0))
    val prices = rows.map(_.getAs[Double]("o_totalprice"))
    assert(prices.zip(prices.tail).forall { case (a, b) => a >= b })
    // every reported qty equals an independent re-aggregation
    val expect = Tables.lineitem(spark, sf).groupBy("l_orderkey")
      .agg(sum(col("l_quantity").cast("decimal(18,4)"))
        .cast("decimal(18,4)").as("q"))
      .collect().map(r => r.getLong(0) ->
        r.getAs[java.math.BigDecimal]("q").doubleValue()).toMap
    assert(rows.forall(r => expect(r.getAs[Long]("o_orderkey")) ===
      r.getAs[java.math.BigDecimal]("total_qty").doubleValue()))
  }

  test("deciles: two-pass exact ntile ≡ the single-window ntile, " +
    "no single-partition window over the rollup (plan-asserted)") {
    val orders = Tables.orders(spark, sf)
    // reference: the textbook global-window ntile over the same rollup
    val perCust = orders.groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(18,4)"))
        .cast("decimal(18,4)").as("cust_value"))
    val ref = perCust
      .withColumn("decile", ntile(10).over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("cust_value").desc, col("o_custkey"))))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_customers"),
        sum("cust_value").cast("decimal(18,4)").as("decile_value"))
      .collect().map(r => (r.getInt(0), r.getLong(1),
        r.getAs[java.math.BigDecimal](2).doubleValue())).toSet
    val got = Analytics.customerValueDeciles(orders)
      .collect().map(r => (r.getInt(0), r.getLong(1),
        r.getAs[java.math.BigDecimal](2).doubleValue())).toSet
    assert(got === ref)
    // the rollup-sized ranked window never runs in one global
    // partition: its windowspecdefinition is partitioned by _pid (the
    // offsets side's running sum IS a bare-window frame, but over
    // ≤‖shuffle partitions‖ count rows, not the rollup)
    val plan = Analytics.customerValueDeciles(orders)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val ranked = plan.linesIterator
      .filter(l => l.contains("row_number()") &&
        l.contains("windowspecdefinition")).toSeq
    assert(ranked.nonEmpty, s"no ranked window in plan:\n$plan")
    assert(ranked.forall(_.contains("_pid")),
      s"ranked window not partition-scoped:\n${ranked.mkString("\n")}")
    // ntile itself must be gone (replaced by the closed form)
    assert(!plan.contains("ntile("), "single-window ntile still present")
  }

  test("deciles: edge shapes — fewer customers than buckets, ties") {
    import spark.implicits._
    // 3 customers, 10 buckets: ntile gives each its own bucket 1..3
    val tiny = Seq((1L, 100.0), (2L, 100.0), (3L, 50.0))
      .toDF("o_custkey", "o_totalprice")
    val got = Analytics.customerValueDeciles(tiny)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(got === Set((1, 1L), (2, 1L), (3, 1L)))
  }
}
