package graft

import java.nio.file.Files
import java.nio.file.attribute.FileTime

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.streaming.Sessionize

/** Stateful streaming sessionization: stream/batch equivalence,
  * including input split across micro-batches. */
class SessionizeSpec extends GraftSuite {

  /** Write `df` as a single parquet file `src/part-<i>.parquet` with an
    * increasing mod time, so the file stream source processes the files
    * in slice order. */
  private def addSliceFile(src: java.nio.file.Path, df: DataFrame, i: Int): Unit = {
    val sdir = Files.createTempDirectory("graft-sess-slice")
    df.coalesce(1).write.mode("overwrite").parquet(sdir.toString)
    val part = Files.list(sdir).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    val dst = src.resolve(f"part-$i%03d.parquet")
    Files.move(part, dst)
    Files.setLastModifiedTime(dst, FileTime.fromMillis(1000000000L + i * 60000L))
  }

  test("input split over micro-batches (maxFilesPerTrigger=1) matches batch sessionization") {
    val tmp = Files.createTempDirectory("graft-sess-mb")
    val src = Files.createDirectories(tmp.resolve("src"))
    val (out, cp) = (tmp.resolve("out").toString, tmp.resolve("cp").toString)
    val evs = Tables.events(spark, sf)
      .select(col("user_id"), col("ts").cast("timestamp").as("ts"), col("value"))

    // three files covering strictly increasing time ranges → open
    // sessions MUST survive across micro-batch boundaries to be correct
    val b = evs.selectExpr("min(ts) AS lo", "max(ts) AS hi").head()
    val (lo, hi) = (b.getTimestamp(0).getTime, b.getTimestamp(1).getTime)
    val cut1 = new java.sql.Timestamp(lo + (hi - lo) / 3)
    val cut2 = new java.sql.Timestamp(lo + 2 * (hi - lo) / 3)
    addSliceFile(src, evs.filter(col("ts") <= lit(cut1)), 0)
    addSliceFile(src, evs.filter(col("ts") > lit(cut1) && col("ts") <= lit(cut2)), 1)
    addSliceFile(src, evs.filter(col("ts") > lit(cut2)), 2)
    Sessionize.sessionsStream(spark, src.toString, out, cp,
      gapMinutes = 30, maxFilesPerTrigger = 1)

    // drain still-open sessions: sentinel event jumps the watermark
    import spark.implicits._
    val sentinelTs = new java.sql.Timestamp(hi + 30 * 60000L + 60000L)
    addSliceFile(src,
      Seq((Sessionize.SentinelUser, sentinelTs, 0.0)).toDF("user_id", "ts", "value"), 3)
    Sessionize.sessionsStream(spark, src.toString, out, cp,
      gapMinutes = 30, maxFilesPerTrigger = 1)

    val stream = spark.read.parquet(out)
      .filter(col("user_id") =!= Sessionize.SentinelUser)
    val batch = Sessionize.sessionsBatch(spark, sf, gapMinutes = 30)
    assert(stream.count() === batch.count())
    val sKeys = stream.select("user_id", "session_start_ms", "session_end_ms", "n_events")
    val bKeys = batch.select("user_id", "session_start_ms", "session_end_ms", "n_events")
    assert(sKeys.exceptAll(bKeys).count() === 0)
    assert(bKeys.exceptAll(sKeys).count() === 0)
  }

  test("flatMapGroupsWithState sessions match the batch lag-based sessionization") {
    val stream = Sessionize.sessions(spark, sf, gapMinutes = 30)
    val batch = Sessionize.sessionsBatch(spark, sf, gapMinutes = 30)

    assert(stream.count() > 0)
    assert(stream.count() === batch.count())

    // exact match on session boundaries + event counts
    val sKeys = stream.select("user_id", "session_start_ms",
      "session_end_ms", "n_events")
    val bKeys = batch.select("user_id", "session_start_ms",
      "session_end_ms", "n_events")
    assert(sKeys.exceptAll(bKeys).count() === 0)
    assert(bKeys.exceptAll(sKeys).count() === 0)

    // double sums agree to fp tolerance (summation order differs)
    val joined = stream.as("s").join(batch.as("b"),
      Seq("user_id", "session_start_ms", "session_end_ms"))
    val maxDiff = joined
      .select(max(abs(col("s.total_value") - col("b.total_value"))))
      .head().getDouble(0)
    assert(maxDiff < 1e-6)
  }

  test("sessionsExact (oracle contract) matches sessionsBatch boundaries with decimal sums") {
    val exact = Sessionize.sessionsExact(spark, sf, gapMinutes = 30)
    val batch = Sessionize.sessionsBatch(spark, sf, gapMinutes = 30)
    assert(exact.count() === batch.count())
    val eKeys = exact.select("user_id", "session_start_ms", "session_end_ms", "n_events")
    val bKeys = batch.select("user_id", "session_start_ms", "session_end_ms", "n_events")
    assert(eKeys.exceptAll(bKeys).count() === 0)
    // decimal sum tracks the double sum to rounding tolerance
    val joined = exact.as("e").join(batch.as("b"),
      Seq("user_id", "session_start_ms", "session_end_ms"))
    val maxDiff = joined
      .select(max(abs(col("e.total_value").cast("double") - col("b.total_value"))))
      .head().getDouble(0)
    assert(maxDiff < 1e-6)
  }

  test("sessions respect the gap: no intra-session gap exceeds it, all inter-session gaps do") {
    val s = Sessionize.sessions(spark, sf, gapMinutes = 30)
    // consecutive sessions of the same user must be > 30 min apart
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("session_start_ms")
    val bad = s.withColumn("prev_end", lag("session_end_ms", 1).over(w))
      .filter(col("prev_end").isNotNull &&
        col("session_start_ms") - col("prev_end") <= 30 * 60000L)
    assert(bad.count() === 0)
  }
}
