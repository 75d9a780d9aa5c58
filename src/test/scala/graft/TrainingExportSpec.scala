package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.TrainingExport
import graft.sources.Tables

/** Training export: the deterministic shuffle/shard/pack plan, the
  * materialized shard layout, and the manifest a trainer resumes
  * from. */
class TrainingExportSpec extends GraftSuite {

  // cached as read, in several partitions: a cache planned under the
  // small-plan rule would hand every plan over it one partition
  private lazy val docs =
    withConf(SmallPlanSpec.NoGate)(Tables.documents(spark, sf).cache())

  test("plan is a deterministic permutation: stable across runs, shards balanced, packs fill") {
    val p1 = TrainingExport.plan(docs, shards = 8, contextTokens = 512)
    val p2 = TrainingExport.plan(
      docs.repartition(7), shards = 8, contextTokens = 512)
    // same permutation regardless of input partitioning
    assert(p1.collect().toSet === p2.collect().toSet)

    val byShard = p1.groupBy("shard").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byShard.keySet.subsetOf((0L until 8L).toSet))
    // md5 assignment balances shards (generous noise bound)
    val n = docs.count()
    byShard.values.foreach { c =>
      assert(c > n / 8 / 2 && c < n / 8 * 2, byShard)
    }
    // every non-final pack of a shard holds at least a full context
    // of cumulative tokens by the greedy rule: pack_id increments
    // exactly when the running total crosses a 512 boundary
    val bad = p1.groupBy("shard", "pack_id")
      .agg(sum("ws_tokens").as("t")).join(
        p1.groupBy("shard").agg(max("pack_id").as("last")), Seq("shard"))
      .filter(col("pack_id") < col("last") &&
        col("t") < lit(512 / 2)) // short doc spill-over keeps packs near-full
      .count()
    assert(bad === 0)
  }

  test("export writes one dir per shard, rereads to the corpus, manifest matches") {
    val out = Files.createTempDirectory("graft-train-exp").toString
    val m = TrainingExport.export(spark, docs, out,
      shards = 4, contextTokens = 512)

    val shardDirs = new java.io.File(s"$out/data").listFiles()
      .filter(_.getName.startsWith("shard=")).map(_.getName).sorted
    assert(shardDirs.length === 4)

    val back = spark.read.parquet(s"$out/data")
    assert(back.count() === docs.count())
    assert(back.select("doc_id").distinct().count() === docs.count())
    // each document carries its text next to its plan columns
    val joined = back.join(docs.withColumnRenamed("text", "orig"),
      Seq("doc_id"))
    assert(joined.filter(col("text") =!= col("orig")).count() === 0)

    // manifest totals = plan totals
    import spark.implicits._
    val totals = m.agg(sum("n_docs"), sum("shard_tokens"))
      .as[(Long, Long)].first()
    val planTotals = TrainingExport.plan(docs, 4, 512)
      .agg(count(lit(1)), sum("ws_tokens")).as[(Long, Long)].first()
    assert(totals === planTotals)
    m.collect().foreach { r =>
      // a document packs where it STARTS, so a straddling doc can push
      // a pack past the context size — fill hovers around 1
      val fill = r.getAs[Double]("fill_ratio")
      assert(fill > 0.5 && fill < 1.5, s"fill=$fill")
    }
  }

  test("salt re-keys the permutation; same salt reproduces it") {
    val base = TrainingExport.plan(docs, 8, 512)
    val salted = TrainingExport.plan(docs, 8, 512, salt = "epoch1")
    val again = TrainingExport.plan(docs, 8, 512, salt = "epoch1")
    assert(salted.collect().toSet === again.collect().toSet)
    // the permutation actually moved: most docs change shard or key
    val moved = base.select("doc_id", "shard")
      .join(salted.select(col("doc_id"),
        col("shard").as("shard2")), Seq("doc_id"))
      .filter(col("shard") =!= col("shard2")).count()
    assert(moved > docs.count() / 2)
  }

  test("mixture sampling is deterministic and lands near the target rates") {
    import spark.implicits._
    val rates = Seq(("src0", 1.4), ("src1", 0.25), ("src2", 2.0))
      .toDF("source", "epochs")
    val have = docs.select("source").distinct().as[String].collect().toSet
    val usable = rates.filter(col("source").isin(have.toSeq: _*))
    assert(usable.count() === 3)
    val s1 = TrainingExport.sampleToRates(docs, usable)
    val s2 = TrainingExport.sampleToRates(docs, usable)
    assert(s1.collect().toSet === s2.collect().toSet) // no randomness

    val got = s1.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val per = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    usable.collect().foreach { r =>
      val (src, rate) = (r.getString(0), r.getDouble(1))
      val expect = per(src) * rate
      assert(math.abs(got(src) - expect) < per(src) * 0.15 + 5,
        s"$src got ${got(src)} expect ~$expect")
      // integer rates are exact full copies
      if (rate == math.floor(rate)) assert(got(src) === expect.toLong)
    }
    // a different salt re-draws the fractional epoch
    val s3 = TrainingExport.sampleToRates(docs, usable, salt = "redraw")
    assert(s3.collect().toSet !== s1.collect().toSet)

    // rate 0 drops the source entirely (regression: sequence(0,-1)
    // descends and emitted a phantom epoch -1 full copy)
    val withZero = Seq(("src0", 1.0), ("src1", 0.0), ("src2", -1.0))
      .toDF("source", "epochs")
    val sz = TrainingExport.sampleToRates(docs, withZero)
    assert(sz.select("source").distinct().as[String].collect().toSet
      === Set("src0"))
    assert(sz.filter(col("epoch") < 0).count() === 0)
  }

  test("the one exchange: shuffle, pack and manifest share a single shard partitioning") {
    // the fixture fits in one AQE-coalesced partition, so the
    // small-plan rule would plan no exchange at all: it is off here
    val many = withConf(SmallPlanSpec.NoGate) {
      val p = TrainingExport.plan(docs, shards = 8, contextTokens = 512)
      val plan = p.queryExecution.executedPlan.toString
      // exactly one real exchange (the shard hash partitioning); the
      // pack window rides it
      val exchanges = "Exchange hashpartitioning".r
        .findAllIn(plan).size
      assert(exchanges === 1, plan)
      p.collect().toSet
    }
    // with the rule on, the same plan rows from one job, no exchange
    val one = TrainingExport.plan(docs, shards = 8, contextTokens = 512)
    val (rows, jobs) = MaintenanceJobCountSpec.jobsOf(spark)(one.collect().toSet)
    assert(rows === many)
    assert(jobs.size === 1, jobs.mkString("; "))
  }
}
