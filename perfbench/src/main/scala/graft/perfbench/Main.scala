package graft.perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM:
  *
  * {{{
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --nproc <n> --work <dir> --out <file>
  * }}}
  *
  * Builds the session (the `graft.Bench` settings on `local[nproc]`),
  * sets the workload up, runs its timed loop for about `seconds`, checks
  * its outputs, and writes the raw record — operations, checks, samples, and in a traced
  * run the spans and listener events — as JSON to `--out`. The metrics
  * are reduced from that record by `perfbench/reduce.py`.
  */
object Main {
  /** Each workload: set up in a directory, then run the timed loop. */
  val workloads: Map[String, (Run, String) => (() => Unit)] = Map(
    "lakehouse" -> { (run, dir) =>
      val s = LakehouseWorkload.setup(run, dir)
      () => LakehouseWorkload.timed(run, s)
    },
    "search" -> { (run, dir) =>
      val s = Search.setup(run, dir)
      () => Search.timed(run, s)
    })

  def session(nproc: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("graft-perfbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Peak resident set size of this process in kB (`VmHWM`). */
  def peakRssKb: Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)

  /** A closed-loop operation has no due time: NaN, written as null. */
  private def finite(d: Double): Any = if (d.isNaN) null else d

  def main(args: Array[String]): Unit =
    try run(args)
    catch { case e: Throwable =>
      e.printStackTrace()
      sys.exit(1)
    }

  private def run(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = a("workload")
    val w = workloads.getOrElse(name,
      throw new IllegalArgumentException(s"unknown workload $name"))
    val seed = a("seed").toLong
    val traced = a("trace") == "1"
    val nproc = a("nproc").toInt
    val work = Paths.get(a("work")).toAbsolutePath
    Files.createDirectories(work)

    Clock.nowMs // the run clock starts with the process's first work
    val processStart = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getStartTime
    val spark = session(nproc, work.toString)
    val sessionS = (System.currentTimeMillis() - processStart) / 1000.0

    val tracer = new Tracer(traced, s"$name-$seed-${a("trace")}")
    val run = new Run(spark, seed, a("seconds").toDouble, tracer, work, nproc)

    val t0 = System.nanoTime()
    val timed = w(run, run.dir("setup"))
    val setupS = (System.nanoTime() - t0) / 1e9
    val (steal0, wall0) = (Clock.stealMs, Clock.nowMs)
    timed()
    run.values("steal_share") =
      (Clock.stealMs - steal0) / ((Clock.nowMs - wall0) * nproc)
    Tracer.drainBus(spark.sparkContext)

    val record = Map(
      "workload" -> name, "seed" -> seed, "trace" -> traced,
      "nproc" -> nproc, "seconds" -> run.seconds,
      "setup" -> Map("session_s" -> sessionS, "setup_s" -> setupS),
      "ops" -> run.ops.map(o => Map("kind" -> o.kind, "label" -> o.label,
        "due" -> finite(o.due), "dispatch" -> finite(o.dispatch),
        "start" -> o.start, "end" -> o.end, "jobs" -> o.work.jobs,
        "stages" -> o.work.stages, "tasks" -> o.work.tasks, "error" -> o.error,
        "wrong" -> o.wrong, "traced" -> o.traced)),
      "checks" -> run.checks.map { case (n, ok, d) =>
        Map("name" -> n, "ok" -> ok, "detail" -> d) },
      "samples" -> run.samples.toMap,
      "values" -> run.values.toMap,
      "peak_rss_kb" -> peakRssKb,
      "spans" -> tracer.spanRecords,
      "jobs" -> tracer.listener.jobRecords,
      "stages" -> tracer.listener.stageRecords,
      "tasks" -> tracer.listener.taskRecords)
    Files.writeString(Paths.get(a("out")),
      org.json4s.jackson.Serialization.write(record)(org.json4s.DefaultFormats))
    spark.stop()
  }
}
