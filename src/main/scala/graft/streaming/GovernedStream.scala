package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.operators.{Bronze, Catalog, MaterializedView, SnapshotTable}

/** Streaming ingestion INTO the governed catalog — the missing edge
  * between the reference's two halves: its streaming bronze writer
  * (`processing/spark_jobs/streaming_bronze_writer.py:120-180`) lands
  * micro-batches in an Iceberg table whose commits the Nessie catalog
  * governs. Here every micro-batch becomes ONE atomic catalog commit
  * carrying both the appended bronze rows and the batch id that
  * produced them.
  *
  * Exactly-once, not just at-least-once: `foreachBatch` alone replays
  * a batch when the sink commits but the checkpoint write crashes.
  * The classic transactional-sink fix (Delta's `txnAppId`/`txnVersion`)
  * is to commit the batch id ATOMICALLY WITH the data and skip batches
  * at-or-below the recorded id on replay — here the id lives in a tiny
  * `_stream_state` catalog table published in the same catalog commit
  * as the bronze append, so the dedup survives anything the
  * checkpoint does.
  *
  * Scale: the bronze write is an APPEND snapshot
  * ([[SnapshotTable.commitAppend]]) — only the batch's files are
  * written, untouched partitions and the already-written files of the
  * touched (current-day) partition are inherited by manifest
  * reference. Cost per batch = the batch, at any table size; the
  * accumulated small files fold back via
  * [[graft.operators.Maintenance.compactAppends]].
  */
object GovernedStream {

  private val StateTable = "_stream_state"

  /** The highest batch id committed for `sourceId`, or -1. */
  def lastBatchId(spark: SparkSession, catalogRoot: String,
                  sourceId: String, commit: Long = -1L): Long =
    batchOf(streamState(spark, catalogRoot, commit,
      Catalog.tableVersions(catalogRoot, commit)), sourceId)

  /** Every source's (source_id, batch_id) row at catalog commit
    * `commit`, whose table versions are `tables` — ONE collect per
    * commit attempt. INVARIANT: `_stream_state` stays O(‖sources‖)
    * forever — exactly one row per source_id (each commit rewrites the
    * whole tiny table via coalesce(1)), so this driver-side collect is
    * bounded by the source count, never by batches or data. */
  private def streamState(spark: SparkSession, catalogRoot: String,
                          commit: Long, tables: Map[String, Long])
      : Seq[(String, Long)] =
    if (!tables.contains(StateTable)) Seq.empty
    else Catalog.read(spark, catalogRoot, StateTable, commit)
      .select("source_id", "batch_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq

  private def batchOf(state: Seq[(String, Long)], sourceId: String): Long =
    state.collectFirst { case (`sourceId`, b) => b }.getOrElse(-1L)

  /** Stage `_stream_state` with `sourceId` advanced to `batchId`;
    * other sources' rows carry over. */
  private def stageState(spark: SparkSession, catalogRoot: String,
                         tables: Map[String, Long],
                         state: Seq[(String, Long)], sourceId: String,
                         batchId: Long): Long = {
    import spark.implicits._
    SnapshotTable.stageVersion(
      (state.filterNot(_._1 == sourceId) :+ (sourceId -> batchId))
        .toDF("source_id", "batch_id").coalesce(1),
      Catalog.tableRoot(catalogRoot, StateTable),
      tables.getOrElse(StateTable, -1L))
  }

  /** The one body of every governed stream sink, as ONE
    * [[Catalog.publish]]: read `_stream_state` at the base, skip a
    * replay (`batchId` at or below the recorded id), stage `table`'s
    * change against its base version (`stage` returns None for an
    * empty batch), then stage `_stream_state` with `sourceId` advanced
    * to `batchId`. A moved table re-runs all of it on the new base.
    * Returns the new catalog commit, or None when nothing published. */
  private def commitStreamed(spark: SparkSession, catalogRoot: String,
                             table: String, sourceId: String, batchId: Long)
                            (stage: Long => Option[Long]): Option[Long] =
    Catalog.publish(catalogRoot) { (base, tables) =>
      val state = streamState(spark, catalogRoot, base, tables)
      if (batchOf(state, sourceId) >= batchId) None
      else stage(tables.getOrElse(table, -1L)).map(v => Catalog.Staged(
        Map(table -> v, StateTable -> stageState(spark, catalogRoot,
          tables, state, sourceId, batchId))))
    }.toOption

  /** Transactionally commit one micro-batch: append `bronzeBatch` to
    * the catalog's `bronze` table and advance `sourceId`'s recorded
    * batch id, as ONE atomic catalog commit. Returns the new catalog
    * commit, or None when `batchId` was already committed (a replay —
    * skipped, which is the exactly-once guarantee) or the batch is
    * empty. Safe from a fresh catalog (bootstraps commit 0). */
  def commitBatch(spark: SparkSession, catalogRoot: String, sourceId: String,
                  batchId: Long, bronzeBatch: DataFrame,
                  table: String = "bronze",
                  partitionCol: String = "_ingestion_date"): Option[Long] =
    commitStreamed(spark, catalogRoot, table, sourceId, batchId) { prev =>
      Option.when(!bronzeBatch.isEmpty)(SnapshotTable.stageAppend(bronzeBatch,
        Catalog.tableRoot(catalogRoot, table), partitionCol, prev))
    }

  /** Transactionally UPSERT one micro-batch into a governed
    * current-state table — the streaming CDC sink the table formats
    * serve with equality deletes (Flink→Iceberg upsert mode): the
    * batch lands via [[SnapshotTable.stageUpsertMor]] (append + the
    * batch's key set as an equality-delete sidecar, O(batch), zero
    * table reads — where a MERGE-rewrite sink would rewrite touched
    * partitions every 30 seconds) and publishes atomically with the
    * advanced batch id, so a replayed batch upserts NOTHING twice
    * (exactly-once; a re-upsert would be harmlessly idempotent for
    * same-content rows but not for aggregated state, so it is skipped
    * outright like [[commitBatch]]). Accumulated sidecars fold
    * AUTOMATICALLY once their count crosses `foldThreshold` (each
    * unfolded sidecar taxes every read with one broadcast anti-join;
    * the fold lands as its own atomic catalog commit AFTER the batch
    * publishes — exactly-once is untouched, and a fold crash leaves
    * only an unpublished staged version). 0 disables (the maintenance
    * cadence, [[graft.operators.Maintenance.runCatalog]], still
    * folds). Returns the new catalog commit, or None on replay/empty
    * batch. */
  def commitUpsertBatch(spark: SparkSession, catalogRoot: String,
                        table: String, partitionCol: String,
                        keyCols: Seq[String], sourceId: String,
                        batchId: Long, batch: DataFrame,
                        foldThreshold: Int = DefaultFoldThreshold)
      : Option[Long] = {
    val c = commitStreamed(spark, catalogRoot, table, sourceId, batchId) {
      prev =>
        Option.when(!batch.isEmpty)(SnapshotTable.stageUpsertMor(batch,
          Catalog.tableRoot(catalogRoot, table), partitionCol, keyCols, prev))
    }
    if (c.isDefined) foldIfOverdue(spark, catalogRoot, table, foldThreshold)
    c
  }

  /** Default [[SnapshotTable.morDebt]] fold trigger for the streaming
    * upsert sinks: a bounded, plan-visible anti-join count per read. */
  val DefaultFoldThreshold = 16

  /** Fold `table`'s sidecars when the debt crossed `threshold` —
    * best-effort (a concurrent committer may win the fold's CAS; the
    * debt then folds on a later trigger or the maintenance cadence). */
  private def foldIfOverdue(spark: SparkSession, catalogRoot: String,
                            table: String, threshold: Int): Unit =
    if (threshold > 0) {
      val tr = Catalog.tableRoot(catalogRoot, table)
      val v = Catalog.tableVersions(catalogRoot).getOrElse(table, -1L)
      if (v >= 0 && SnapshotTable.morDebt(tr, v) >= threshold)
        try Catalog.foldTable(spark, catalogRoot, table)
        catch { case _: java.util.ConcurrentModificationException => () }
    }

  /** Transactionally apply one FULL CDC micro-batch — upsert rows AND
    * delete tombstones (the Debezium batch shape: inserts/updates plus
    * `op = d` events, which [[commitUpsertBatch]] cannot express) — as
    * ONE atomic catalog commit with the exactly-once batch id:
    * the upserts land via [[SnapshotTable.stageUpsertMor]] (append +
    * key sidecar), the tombstones chain a second staged version whose
    * equality-delete sidecar masks every strictly-older row with a
    * matching key ([[SnapshotTable.stageEqualityDelete]]) — still
    * O(batch), zero table reads, zero rewrites. Within one batch a key
    * carried by BOTH sides resolves to DELETED (the tombstone sidecar
    * outranks the batch's own append by the sequence rule) — sources
    * that interleave ops per key should pre-reduce the batch to its
    * last op per key, the standard foreachBatch reduction. Returns the
    * new catalog commit; None on replay or a fully-empty batch. */
  def commitCdcBatch(spark: SparkSession, catalogRoot: String,
                     table: String, partitionCol: String,
                     keyCols: Seq[String], sourceId: String,
                     batchId: Long, upserts: DataFrame,
                     deleteKeys: DataFrame,
                     foldThreshold: Int = DefaultFoldThreshold)
      : Option[Long] = {
    val c = commitStreamed(spark, catalogRoot, table, sourceId, batchId) {
      prev =>
        val hasUp = !upserts.isEmpty
        val hasDel = !deleteKeys.isEmpty
        Option.when(hasUp || hasDel) {
          val tr = Catalog.tableRoot(catalogRoot, table)
          val v = if (!hasUp) prev else SnapshotTable.stageUpsertMor(upserts,
            tr, partitionCol, keyCols, prev)
          if (!hasDel) v else SnapshotTable.stageEqualityDelete(spark, tr,
            deleteKeys.select(keyCols.map(col): _*), v)
        }
    }
    if (c.isDefined) foldIfOverdue(spark, catalogRoot, table, foldThreshold)
    c
  }

  /** The shared scaffold of every governed stream: `srcDir` as a
    * checkpointed file stream (schema from a one-off batch read, `ts`
    * normalized from either physical type — nanos LONG or native
    * timestamp), bronze-ingested, with `onBatch` per micro-batch under
    * the given trigger. One place owns the ts heuristic and plumbing
    * for all four governed stream shapes. */
  private def startIngest(spark: SparkSession, srcDir: String,
                          checkpointDir: String,
                          trigger: org.apache.spark.sql.streaming.Trigger,
                          maxFilesPerTrigger: Option[Int] = None)
                         (onBatch: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val schema = spark.read.parquet(srcDir).schema
    val reader0 = spark.readStream.schema(schema)
    val reader = maxFilesPerTrigger.fold(reader0)(m =>
      reader0.option("maxFilesPerTrigger", m.toString))
    val raw = reader.parquet(srcDir)
    val tsCol =
      if (schema("ts").dataType == LongType)
        expr("timestamp_micros(ts div 1000)")
      else col("ts").cast("timestamp")
    Bronze.ingest(raw.withColumn("ts", tsCol))
      .writeStream
      .foreachBatch { (b: DataFrame, id: Long) => onBatch(b, id); () }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
  }

  private def availableNow = org.apache.spark.sql.streaming.Trigger
    .AvailableNow()

  /** Streaming planning needs LTZ timestamps; the bronze table model
    * is NTZ end-to-end (session UTC) — cast at the sink. */
  private def ntzSink(batch: DataFrame): DataFrame = batch
    .withColumn("trade_time", col("trade_time").cast("timestamp_ntz"))
    .withColumn("ingested_at", col("ingested_at").cast("timestamp_ntz"))

  /** Checkpointed trade stream → per-batch latest-row reduction →
    * governed CDC upsert of a `latest_trades` current-state table:
    * each micro-batch keeps its newest row per product (tie-broken by
    * trade_id like the batch `price_latest`) and upserts it keyed by
    * product_id — the streaming twin of the serving table, maintained
    * at O(batch per trigger) without ever reading or rewriting the
    * table. Exactly-once via the same committed-batch-id protocol. */
  def writeLatestGoverned(spark: SparkSession, srcDir: String,
                          catalogRoot: String, checkpointDir: String,
                          sourceId: String = "latest_upsert"): Unit = {
    val q = startIngest(spark, srcDir, checkpointDir, availableNow) {
      (batch, batchId) =>
        val latest = batch
          .withColumn("trade_time", col("trade_time").cast("timestamp_ntz"))
          .groupBy("product_id")
          .agg(max_by(struct(col("price"), col("size"), col("trade_time"),
            col("trade_id")), struct(col("trade_time"), col("trade_id")))
            .as("r"))
          .select(col("product_id"), col("r.price"), col("r.size"),
            col("r.trade_time"), col("r.trade_id"))
        commitUpsertBatch(batch.sparkSession, catalogRoot,
          "latest_trades", "product_id", Seq("product_id"), sourceId,
          batchId, latest)
    }
    q.awaitTermination()
  }

  /** Checkpointed trade stream → exactly-once governed bronze appends
    * → a MATERIALIZED VIEW refreshed per trigger: the streaming shape
    * of "the aggregate mart stays fresh". Each micro-batch lands via
    * [[commitBatch]] (atomic append + batch id — replays skip), then
    * [[graft.operators.MaterializedView.refresh]] advances the view to
    * the committed table version through its append-only FAST PATH
    * (the stream only ever appends, so every refresh reads just the
    * new files — O(batch) per trigger at any table size). The refresh
    * needs no exactly-once bookkeeping of its own: it anchors on the
    * view's covered base version, so a crash between commit and
    * refresh just refreshes later, and a replayed trigger's refresh is
    * structurally a no-op. The view is bit-identical to a full
    * re-aggregation at every trigger (exact decimal sums). */
  def maintainViewGoverned(spark: SparkSession, srcDir: String,
                           catalogRoot: String, checkpointDir: String,
                           mvRoot: String, keys: Seq[String],
                           sumCols: Seq[String],
                           sourceId: String = "mv_ingest"): Unit = {
    val q = startIngest(spark, srcDir, checkpointDir, availableNow) {
      (batch, batchId) =>
        val s = batch.sparkSession
        commitBatch(s, catalogRoot, sourceId, batchId, ntzSink(batch))
        // refresh to the PUBLISHED table version at the newest commit
        // (a skipped replay refreshes to the already-covered version —
        // a no-op by the covered-version anchor)
        val root = Catalog.tableRoot(catalogRoot, "bronze")
        Catalog.tableVersions(catalogRoot, Catalog.latestCommit(catalogRoot))
          .get("bronze").foreach { tv =>
            if (!graft.operators.MetaIO.exists(
              graft.operators.MetaIO.join(mvRoot, "_mv_def")))
              MaterializedView.create(s, root, mvRoot, "trade_id", keys,
                sumCols, baseVersion = tv)
            else MaterializedView.refresh(s, root, mvRoot, toVersion = tv)
          }
    }
    q.awaitTermination()
  }

  /** Checkpointed file-source stream → bronze transform → one atomic
    * governed catalog commit per micro-batch. Restartable: re-invoking
    * after new files land processes only the new files; a replayed
    * batch (checkpoint loss AFTER a successful commit) is detected by
    * its recorded batch id and skipped instead of double-appended. */
  def writeBronzeGoverned(spark: SparkSession, srcDir: String,
                          catalogRoot: String, checkpointDir: String,
                          sourceId: String = "bronze_ingest"): Unit =
    startIngest(spark, srcDir, checkpointDir, availableNow) {
      (batch, batchId) =>
        commitBatch(batch.sparkSession, catalogRoot, sourceId, batchId,
          ntzSink(batch))
    }.awaitTermination()

  /** The LONG-RUNNING form of [[writeBronzeGoverned]] — the
    * `coinbase_producer.py:1-120` live-loop analog the batch trigger
    * cannot model: a `Trigger.ProcessingTime` stream that keeps
    * polling `srcDir` for new files every `intervalMs`, rate-limited
    * to `maxFilesPerTrigger` files per micro-batch (the backpressure
    * valve a production file/Kafka source needs — one giant backlog
    * must drain as bounded batches, not one unbounded batch). Each
    * batch lands as the same exactly-once atomic catalog commit.
    * Returns the running query handle: the caller owns its lifecycle
    * (`stop()`/`awaitTermination`), which is what a deployment's
    * supervisor does with a continuous job. */
  def startBronzeGovernedContinuous(spark: SparkSession, srcDir: String,
                                    catalogRoot: String, checkpointDir: String,
                                    sourceId: String = "bronze_ingest",
                                    intervalMs: Long = 1000L,
                                    maxFilesPerTrigger: Int = 4)
      : org.apache.spark.sql.streaming.StreamingQuery =
    startIngest(spark, srcDir, checkpointDir,
      org.apache.spark.sql.streaming.Trigger.ProcessingTime(intervalMs),
      maxFilesPerTrigger = Some(maxFilesPerTrigger)) {
      (batch, batchId) =>
        commitBatch(batch.sparkSession, catalogRoot, sourceId, batchId,
          ntzSink(batch))
    }
}
