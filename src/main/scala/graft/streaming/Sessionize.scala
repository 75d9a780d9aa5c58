package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types.{DoubleType, LongType, StructType, TimestampType}

import graft.sources.Tables

/** Stateful stream processing: gap-based sessionization with
  * `flatMapGroupsWithState` + `EventTimeTimeout` over the event stream.
  *
  * Demonstrates the custom-state streaming surface (the reference's
  * stack has no analog — its state lives in Kafka offsets + MERGE; a
  * Spark deployment would use exactly this operator for e.g. per-user
  * trade bursts). Sessions close when two consecutive events for the
  * same user are more than `gapMinutes` apart.
  *
  * SEMANTICS — continuous, multi-batch correct: the open session per
  * user is CARRIED in state across micro-batches (`state.update`), and
  * is emitted from the timeout branch once the event-time watermark
  * passes `last_event + gap` — the standard Structured Streaming
  * session recipe. Input may arrive over any number of micro-batches
  * (e.g. `maxFilesPerTrigger=1`); the stream/batch equivalence test
  * drives exactly that split. To DRAIN open sessions at the end of a
  * finite replay, [[sessions]] appends a far-future sentinel event and
  * restarts the checkpointed query: the sentinel advances the watermark
  * past every open session's timeout, flushing them through the normal
  * timeout path (watermark advancement is the only correct flush — a
  * per-batch flush answers wrong the moment input spans two batches).
  *
  * Scale: state is one open session per user key, hash-partitioned by
  * user — bounded by |active users|, not by throughput; the watermark
  * bounds how long a session can stay open, and timed-out state is
  * removed, so state size is stable over an unbounded run.
  */
object Sessionize {

  /** `ts` stays a Timestamp (not pre-converted millis): the column
    * carries the watermark tag, which the event-time-timeout checker
    * requires to be present in the stateful operator's input. */
  case class Event(user_id: Long, ts: java.sql.Timestamp, value: Double)
  case class OpenSession(start_ms: Long, last_ms: Long, n: Int, sum: Double)
  case class Session(user_id: Long, session_start_ms: Long,
                     session_end_ms: Long, n_events: Int, total_value: Double)

  /** Sentinel user for the end-of-replay watermark flush; filtered from
    * results. */
  val SentinelUser: Long = Long.MinValue

  /** Fold a batch of one user's events into the open session, emitting
    * every session closed by a gap. Returns (closed sessions, open). */
  private def foldEvents(gapMs: Long, init: Option[OpenSession],
                         userId: Long, events: Seq[Event])
      : (Seq[Session], Option[OpenSession]) = {
    var open = init
    val out = Seq.newBuilder[Session]
    events.foreach { e =>
      val tMs = e.ts.getTime
      open match {
        case Some(s) if tMs - s.last_ms <= gapMs =>
          open = Some(OpenSession(s.start_ms, tMs, s.n + 1, s.sum + e.value))
        case Some(s) =>
          out += Session(userId, s.start_ms, s.last_ms, s.n, s.sum)
          open = Some(OpenSession(tMs, tMs, 1, e.value))
        case None =>
          open = Some(OpenSession(tMs, tMs, 1, e.value))
      }
    }
    (out.result(), open)
  }

  /** Per-key state transition: carry the open session across batches;
    * emit it from the timeout branch when the watermark passes
    * last_event + gap. */
  private def sessionizeGroup(gapMs: Long)(
      userId: Long, events: Iterator[Event],
      state: GroupState[OpenSession]): Iterator[Session] = {
    if (state.hasTimedOut) {
      // watermark > last_ms + gap: the session can never grow — close it
      val s = state.get
      state.remove()
      Iterator.single(Session(userId, s.start_ms, s.last_ms, s.n, s.sum))
    } else {
      val sorted = events.toSeq.sortBy(e => (e.ts.getTime, e.value))
      val (closed, open) = foldEvents(gapMs, state.getOption, userId, sorted)
      open.foreach { s =>
        state.update(s)
        state.setTimeoutTimestamp(s.last_ms + gapMs + 1)
      }
      closed.iterator
    }
  }

  private val srcSchema = new StructType()
    .add("user_id", LongType).add("ts", TimestampType).add("value", DoubleType)

  /** Run one checkpointed pass of the sessionizer over whatever files
    * are new in `srcDir`, appending closed sessions to the `outDir`
    * parquet sink. Restartable: the checkpoint makes repeated calls
    * process each input file exactly once (state carries over). Set
    * `maxFilesPerTrigger` > 0 to force multi-batch processing. */
  def sessionsStream(spark: SparkSession, srcDir: String, outDir: String,
                     checkpointDir: String, gapMinutes: Int = 30,
                     maxFilesPerTrigger: Int = 0): Unit = {
    import spark.implicits._
    val reader = spark.readStream.schema(srcSchema)
    val withRate =
      if (maxFilesPerTrigger > 0)
        reader.option("maxFilesPerTrigger", maxFilesPerTrigger)
      else reader
    val evs = withRate.parquet(srcDir)
      .withWatermark("ts", "0 seconds")
      .select(col("user_id"), col("ts"), col("value"))
      .as[Event]
    val gapMs = gapMinutes * 60000L
    val q = evs.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(sessionizeGroup(gapMs))
      .toDF().writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Finite-replay runner over the events table: streams all events
    * (multi-batch safe), then drains still-open sessions by appending a
    * far-future sentinel event and re-running the checkpointed query —
    * the watermark jump fires every pending timeout. Returns the
    * settled session table (sentinel excluded). */
  def sessions(spark: SparkSession, dir: String,
               gapMinutes: Int = 30): DataFrame = {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-sessions")
    val (src, out, cp) = (s"$tmp/src", s"$tmp/out", s"$tmp/cp")
    val evs = Tables.events(spark, dir)
      .select(col("user_id"), col("ts").cast("timestamp").as("ts"), col("value"))
    evs.write.mode("overwrite").parquet(src)
    sessionsStream(spark, src, out, cp, gapMinutes)

    // watermark-advancement drain of open sessions
    val gapMs = gapMinutes * 60000L
    val maxTs = evs.agg(max("ts")).head().getTimestamp(0)
    val sentinelTs = new java.sql.Timestamp(maxTs.getTime + gapMs + 60000L)
    Seq((SentinelUser, sentinelTs, 0.0)).toDF("user_id", "ts", "value")
      .write.mode("append").parquet(src)
    sessionsStream(spark, src, out, cp, gapMinutes)

    spark.read.parquet(out).filter(col("user_id") =!= SentinelUser)
  }

  /** Oracle-checked batch sessionization (the `sessionize` query key):
    * identical session boundaries to [[sessionsBatch]], but
    * `total_value` is an exact DECIMAL(18,8) sum — order-independent
    * under any partitioning, so the result hash-matches the DuckDB
    * oracle at any scale (a raw double sum's value depends on partial-
    * aggregation order). One window shuffle on user_id + one group-by
    * on (user_id, session) — the session index never leaves its
    * user partition. */
  def sessionsExact(spark: SparkSession, dir: String,
                    gapMinutes: Int = 30): DataFrame = {
    val gapMs = gapMinutes * 60000L
    val evs = Tables.events(spark, dir)
      .select(col("user_id"),
        expr("unix_millis(cast(ts as timestamp))").as("ts_ms"),
        col("value").cast("decimal(18,8)").as("value"))
    val w = Window.partitionBy("user_id").orderBy(col("ts_ms"), col("value"))
    evs
      .withColumn("prev_ms", lag(col("ts_ms"), 1).over(w))
      .withColumn("new_sess",
        when(col("prev_ms").isNull ||
          col("ts_ms") - col("prev_ms") > gapMs, 1L).otherwise(0L))
      .withColumn("sess_idx", sum("new_sess").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "sess_idx")
      .agg(min("ts_ms").as("session_start_ms"),
        max("ts_ms").as("session_end_ms"),
        count(lit(1)).cast("int").as("n_events"),
        sum("value").cast("decimal(18,8)").as("total_value"))
      .drop("sess_idx")
  }

  /** Batch-equivalent sessionization (lag + running session index) for
    * the stream/batch equivalence check. */
  def sessionsBatch(spark: SparkSession, dir: String,
                    gapMinutes: Int = 30): DataFrame = {
    val gapMs = gapMinutes * 60000L
    val evs = Tables.events(spark, dir)
      .select(col("user_id"),
        expr("unix_millis(cast(ts as timestamp))").as("ts_ms"), col("value"))
    val w = Window.partitionBy("user_id").orderBy(col("ts_ms"), col("value"))
    evs
      .withColumn("prev_ms", lag(col("ts_ms"), 1).over(w))
      .withColumn("new_sess",
        when(col("prev_ms").isNull ||
          col("ts_ms") - col("prev_ms") > gapMs, 1L).otherwise(0L))
      .withColumn("sess_idx", sum("new_sess").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "sess_idx")
      .agg(min("ts_ms").as("session_start_ms"),
        max("ts_ms").as("session_end_ms"),
        count(lit(1)).cast("int").as("n_events"),
        sum("value").as("total_value"))
      .drop("sess_idx")
  }
}
