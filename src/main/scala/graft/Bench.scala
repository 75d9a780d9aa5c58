package graft

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line with per-query wall
  * seconds. Queries are fully materialized through the noop sink (a
  * `count()` would let Spark prune projections and skip expression
  * work); failures are reported per-query in `errors` instead of
  * masquerading as fast runs.
  *
  * Each query runs SPARK_GRAFT_BENCH_REPS times (default 3) and the
  * reported `queries` value is the per-query MEDIAN; all raw samples
  * are kept in `runs`. Single-sample local[32] timings swing 3-4× on
  * unchanged code (GC/page-cache/JIT noise — observed r3→r4), so no
  * tuning conclusion is valid off one sample. Reps are interleaved
  * round-robin (full pass over all queries, repeated) rather than
  * back-to-back, so a transient system stall degrades one pass of
  * everything instead of all samples of one query.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    val spark = GraftSession.local(cpus)
    spark.sparkContext.setLogLevel("WARN")

    // JVM/codegen warm-up so the first timed query doesn't absorb
    // session initialization (broadcast machinery, parquet readers)
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    spark.sharedState.cacheManager.clearCache()

    // every gate key is benched — pipeline_health's two pipeline
    // executions are process-memoized SETUP (SparkEntry
    // .healthHistoryDir), so its first rep pays them and the median
    // measures the dashboard rollup over the shared _metrics history;
    // the end-to-end cost has its own pipeline_* lines below
    // SPARK_GRAFT_BENCH_ONLY=k1,k2 restricts to named keys (focused
    // perf iteration / the scale-stress run); default = every gate key
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    // machine-load stamp (1-min loadavg at start/end): two identical-
    // code runs have measured 1.07-1.12× median drift under load, so
    // the artifact records the conditions it was taken under
    val loadAtStart = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    // samples(name) = wall seconds per SUCCESSFUL rep — a failed rep
    // fails fast, and charging its wall time would report a misleadingly
    // low median for an intermittently erroring query; one error capture
    // per query. Queries with zero successful reps surface in `errors`
    // and are EXCLUDED from `queries`/`value` (not reported as 0s).
    val samples = scala.collection.mutable.Map(
      names.map(_ -> Vector.empty[Double]): _*)
    val errors = scala.collection.mutable.Map.empty[String, String]
    (1 to reps).foreach { _ =>
      names.foreach { name =>
        val fn = SparkEntry.queries(name)
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          samples(name) :+= (System.nanoTime() - t0) / 1e9
        } catch { case e: Throwable =>
          errors.getOrElseUpdate(name,
            Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
        }
        // drop per-query persisted stages so queries are isolated
        // (teardown is deliberately NOT charged to the query's time).
        // clearCache only drops Dataset persists — localCheckpoint
        // blocks (dedup_clusters rounds, k-means iterations) live as
        // raw persistent RDDs and would otherwise accumulate across
        // reps, progressively squeezing execution memory (observed:
        // anomaly_zscore 2.8s -> 6.9s across reps before this purge)
        spark.sharedState.cacheManager.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
      }
    }

    // End-to-end pipeline run (orchestration analog): bronze→silver
    // materialized once → mart fan-out → quality gate, all stages
    // written to a scratch dir. Timed like a query (per-rep, median).
    val pipeName = "pipeline_end_to_end"
    val pipeRows = scala.collection.mutable.Map.empty[String, Long]
    if (only.forall(_.contains(pipeName))) {
    samples(pipeName) = Vector.empty[Double]
    (1 to reps).foreach { i =>
      val out = java.nio.file.Files
        .createTempDirectory(s"graft-bench-pipeline$i").toString
      val t0 = System.nanoTime()
      try {
        val report = operators.PipelineRun.run(spark, sfDir, out)
        val stages = report.collect() // tiny: one row per stage
        samples(pipeName) :+= (System.nanoTime() - t0) / 1e9
        // real rows written across stages — a result-shape signal,
        // unlike the stage count (constant by construction)
        pipeRows(pipeName) = stages.map(_.getAs[Long]("rows")).sum
      } catch { case e: Throwable =>
        errors.getOrElseUpdate(pipeName,
          Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
      }
      spark.sharedState.cacheManager.clearCache()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    }
    }

    // Incremental pipeline run (the scheduled 30-minute mode):
    // bootstrap the layout on the first ~90% of arrivals (untimed),
    // then time ONLY the incremental processing of the last-10% batch.
    // The point of the measurement: incremental cost must track the
    // batch, not the table — compare against pipeline_end_to_end.
    val incName = "pipeline_incremental"
    if (only.forall(_.contains(incName))) {
    samples(incName) = Vector.empty[Double]
    locally {
      import org.apache.spark.sql.functions._
      val ev = sources.Tables.events(spark, sfDir)
      val ing = expr("timestampadd(SECOND, cast(event_id % 600 as int), ts)")
      val nEv = ev.count()
      val cut = ev.select(ing.as("_ing")).orderBy("_ing")
        .limit((nEv * 9 / 10).toInt).agg(max("_ing")).head()
        .getAs[java.time.LocalDateTime](0)
      val e1 = ev.filter(ing <= lit(cut))
      val e2 = ev.filter(ing > lit(cut))
      (1 to reps).foreach { i =>
        val out = java.nio.file.Files
          .createTempDirectory(s"graft-bench-incr$i").toString
        try {
          operators.PipelineRun.run(spark, sfDir, out,
            eventsOverride = Some(e1))
          spark.sharedState.cacheManager.clearCache()
          val t0 = System.nanoTime()
          val report = operators.PipelineRun.runIncremental(spark, out, e2)
          val stages = report.collect() // tiny: one row per stage
          samples(incName) :+= (System.nanoTime() - t0) / 1e9
          pipeRows(incName) = stages.map(_.getAs[Long]("rows")).sum
        } catch { case e: Throwable =>
          errors.getOrElseUpdate(incName,
            Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
        }
        spark.sharedState.cacheManager.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
      }
    }
    }

    // Governed incremental run (staged + gated + atomic catalog
    // publish): same batch split as pipeline_incremental, so the
    // delta vs that line IS the governance overhead (snapshot
    // staging, manifest commit, catalog reads).
    val govName = "pipeline_governed"
    if (only.forall(_.contains(govName))) {
    samples(govName) = Vector.empty[Double]
    locally {
      import org.apache.spark.sql.functions._
      val ev = sources.Tables.events(spark, sfDir)
      val ing = expr("timestampadd(SECOND, cast(event_id % 600 as int), ts)")
      val nEv = ev.count()
      val cut = ev.select(ing.as("_ing")).orderBy("_ing")
        .limit((nEv * 9 / 10).toInt).agg(max("_ing")).head()
        .getAs[java.time.LocalDateTime](0)
      val e1 = ev.filter(ing <= lit(cut))
      val e2 = ev.filter(ing > lit(cut))
      (1 to reps).foreach { i =>
        val cat = java.nio.file.Files
          .createTempDirectory(s"graft-bench-gov$i").toString
        try {
          operators.GovernedPipeline.runFull(spark, sfDir, cat,
            eventsOverride = Some(e1))
          spark.sharedState.cacheManager.clearCache()
          val t0 = System.nanoTime()
          val commit = operators.GovernedPipeline.runIncremental(spark, cat, e2)
          samples(govName) :+= (System.nanoTime() - t0) / 1e9
          // real rows served at the published commit (untimed parquet
          // footer counts), not the commit id
          pipeRows(govName) = operators.Catalog
            .tableVersions(cat, commit).keys.toSeq.sorted
            .map(t => operators.Catalog.read(spark, cat, t, commit).count())
            .sum
        } catch { case e: Throwable =>
          errors.getOrElseUpdate(govName,
            Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
        }
        spark.sharedState.cacheManager.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(cat))
      }
    }
    }

    // Per-query result row counts (one untimed extra run, after all
    // timed reps): makes silent result-shape regressions visible
    // round-over-round in BENCH_r{N}.json.
    val rowCounts = scala.collection.mutable.Map.empty[String, Long]
    rowCounts ++= pipeRows
    names.foreach { name =>
      try rowCounts(name) = SparkEntry.queries(name)(spark, sfDir).count()
      catch { case _: Throwable => () }
      spark.sharedState.cacheManager.clearCache()
    }

    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    def jq(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => " "
      case c => c.toString
    } + "\""
    val allNames = (names :+ pipeName :+ incName :+ govName)
      .filter(samples.contains)
    val ok = allNames.filter(samples(_).nonEmpty)
    val qs = ok.map(n => s"${jq(n)}:${median(samples(n))}")
      .mkString("{", ",", "}")
    val runs = ok.map(n => s"${jq(n)}:${samples(n).mkString("[", ",", "]")}")
      .mkString("{", ",", "}")
    // explicit [min, median, max] per line: benchdiff flags only
    // beyond-noise deltas with the spread in hand
    val spread = ok.map { n =>
      val s = samples(n)
      s"${jq(n)}:[${s.min},${median(s)},${s.max}]"
    }.mkString("{", ",", "}")
    val rows = allNames.collect { case n if rowCounts.contains(n) =>
      s"${jq(n)}:${rowCounts(n)}" }.mkString("{", ",", "}")
    val errs = allNames.collect { case n if errors.contains(n) =>
      s"${jq(n)}:${jq(errors(n))}" }.mkString("{", ",", "}")
    // zero-row keys surface explicitly: every gate key is expected to
    // produce rows at bench scale (caught the r9 q11 empty-result bug
    // only via the recorded row counts — now it's a first-class field)
    val empty = allNames.collect { case n
      if rowCounts.get(n).contains(0L) => jq(n) }.mkString("[", ",", "]")
    val total = ok.map(n => median(samples(n))).sum
    val loadAtEnd = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"reps":$reps,"runs":$runs,"spread":$spread,"load":[$loadAtStart,$loadAtEnd],"rows":$rows,"empty":$empty,"errors":$errs,"sf":"$sfDir"}"""
    // persist the full result BEFORE printing: the driver's captured
    // stdout keeps only a tail, so the file is the diffable artifact
    // (every per-query median survives round-over-round)
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), json)
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outFile: ${e.getMessage}") }
    println(json)
    spark.stop()
  }
}
