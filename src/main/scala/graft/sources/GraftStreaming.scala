package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.streaming.{Offset => OffsetV1, Sink, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graft.GraftStreamBridge
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.operators.{FooterStats, MetaIO, SnapshotTable}
import graft.streaming.GovernedStream

/** `spark.readStream.format("graft")` / `df.writeStream.format("graft")`
  * — a snapshot table, plain (`.load(<root>)`) or governed
  * (`.option("catalog", <catalog root>).load(<table name>)`), as a
  * Structured Streaming SOURCE and SINK (the Delta/Iceberg streaming
  * shape). Architecture is the V1 `Source`/`Sink` API (Delta's choice
  * for the same reason the batch connector is a `V1Scan`: `getBatch`
  * returns a DataFrame built from library reads, so Spark's vectorized
  * parquet reader and codegen run unchanged — a DSv2 `MicroBatchStream`
  * would mean owning an executor-side parquet reader).
  *
  * SOURCE. The offset is a TABLE VERSION of a plain table, or a CATALOG
  * COMMIT id of a governed one — [[TableHandle.versionAt]] maps either
  * to the streamed table's version, and everything else is one code
  * path. Each micro-batch is the manifest-arithmetic incremental append
  * scan between the versions at its two offsets
  * ([[SnapshotTable.appendedBetween]] — O(new files), the corpus is
  * never rescanned); a catalog commit that left the table untouched is
  * an empty batch for free, and because the commit is the catalog's
  * atomicity unit, consumers joining several governed tables at one
  * offset see a consistent cross-table state. The engine's offset log
  * gives restart resume. Options:
  *   - `startingVersion` (default: bootstrap) — `"latest"` streams only
  *     offsets committed after the query starts (Delta's convention); a
  *     number N starts at offset N's appends (no snapshot). Absent: the
  *     first batch is the FULL table (the initial-snapshot bootstrap).
  *   - `maxVersionsPerTrigger` — each trigger consumes at most this many
  *     offsets. Best-effort on the first trigger after a restart (V1
  *     sources track their own rate limits).
  *   - `maxFilesPerTrigger` / `maxBytesPerTrigger` — size-based
  *     admission (a version can be arbitrarily large): each trigger
  *     admits whole offsets while the accumulated NEW files/bytes stay
  *     within the caps, always at least one (the Kafka/FileStreamSource
  *     progress guarantee). Pure manifest arithmetic plus a listing of
  *     only the new entries; an untouched commit costs no budget.
  *   - `readChangeFeed=true` + `changeKey` — the keyed row-diff feed
  *     ([[SnapshotTable.changes]]: insert / delete / update pre+post
  *     images, `_change_type` + `_commit_version` appended); the
  *     bootstrap is the whole table as inserts, and non-append histories
  *     stream through at the two-snapshot-join price per batch.
  * Without the change feed, non-append histories (copy-on-write deltas,
  * compactions) REFUSE loudly mid-stream exactly as Iceberg's
  * incremental scan refuses replace snapshots — run consumers below the
  * compaction watermark. MoR deletes resolve per batch.
  *
  * SINK. Each micro-batch lands EXACTLY once as one commit whose record
  * carries the writer's `(id, batchId)` stamp, so a batch replayed
  * after a checkpoint-recovery restart is skipped. Both kinds commit
  * through [[TableHandle.publishOnce]] (the Delta `SetTransaction`
  * protocol: the stamp is atomic with the commit): a new version of a
  * plain table, one atomic catalog commit of a governed one. Append
  * mode is the partition fast-append (`partitionBy` required); Update
  * mode is the per-key MoR upsert (`mergeKeys`),
  * folding equality-delete sidecars once [[SnapshotTable.morDebt]]
  * reaches `foldThreshold` (0 disables); Complete mode replaces a plain
  * table per trigger. `cdcOps` (governed, Update) names a column whose
  * `"d"` rows are delete tombstones; `statsCols` / `bloomCols` (plain)
  * record skipping sidecars at write. An option the target cannot
  * honour is refused when the sink is built. */
private[sources] object GraftStreaming {

  /** A plain table at `path`, or table `path` of the governed catalog
    * at `catalog`. */
  private def handleOf(options: CaseInsensitiveStringMap): TableHandle =
    new TableHandle(Option(options.get("catalog")).filter(_.nonEmpty),
      GraftDataSource.rootOf(options))

  private def changeKeyOf(options: CaseInsensitiveStringMap): Option[String] = {
    val cdc = "true".equalsIgnoreCase(options.get("readChangeFeed"))
    val k = Option(options.get("changeKey")).filter(_.nonEmpty)
    require(!cdc || k.isDefined,
      "readChangeFeed needs .option(\"changeKey\", <key column>) — " +
        "the row identity the diff is keyed by")
    k.filter(_ => cdc)
  }

  private def cdcSchema(base: StructType): StructType =
    base.add("_change_type", StringType, nullable = false)
      .add("_commit_version", LongType, nullable = false)

  /** One CDC micro-batch: the keyed diff between two versions, or the
    * whole-table-as-inserts bootstrap; column order pinned to the base
    * read schema + the two feed columns (`changes` fronts the key —
    * the streaming engine aligns batches by POSITION, so every batch
    * must share one order). */
  private def cdcFrame(spark: SparkSession, root: String, key: String,
                       from: Long, to: Long, baseCols: Seq[String]): DataFrame = {
    val feed =
      if (from < 0)
        SnapshotTable.read(spark, root, to)
          .withColumn("_change_type", lit("insert"))
          .withColumn("_commit_version", lit(to))
      else SnapshotTable.changes(spark, root, key, from, to)
    feed.select((baseCols ++ Seq("_change_type", "_commit_version"))
      .map(col).toIndexedSeq: _*)
  }

  /** Resolve-once-and-persist for a stream's starting point (the
    * Kafka/FileStreamSource initial-offset log): without the anchor, a
    * `startingVersion=latest` query restarted before its first batch
    * would re-resolve "latest" and silently skip whatever landed in
    * between. */
  private def persistedBase(metadataPath: String, resolve: => Long): Long = {
    // the engine hands a qualified URI ("file:/…") on local
    // filesystems; MetaIO routes scheme-carrying paths through Hadoop
    val anchor = MetaIO.join(metadataPath, "graft-base")
    if (MetaIO.exists(anchor)) MetaIO.readString(anchor).trim.toLong
    else {
      val b = resolve
      MetaIO.mkdirs(metadataPath)
      MetaIO.publishExclusive(anchor, b.toString)
      b
    }
  }

  private class GraftSource(t: TableHandle, metadataPath: String,
                            options: CaseInsensitiveStringMap)
      extends Source with SupportsTriggerAvailableNow {

    private val cdcKey = changeKeyOf(options)
    private val baseSchema = t.schema(SparkSession.active)
    override val schema: StructType =
      if (cdcKey.isEmpty) baseSchema else cdcSchema(baseSchema)

    /** The offset BEFORE the first one this stream delivers, resolved
      * once per query (see [[persistedBase]]). */
    private val base: Long = persistedBase(metadataPath,
      Option(options.get("startingVersion")) match {
        case None => -1L // bootstrap: first batch = the whole table
        case Some("latest") => t.latest
        case Some(n) => n.toLong - 1
      })

    private def longOption(key: String): Option[Long] =
      Option(options.get(key)).map(_.toLong)
    private val maxVersions = longOption("maxVersionsPerTrigger")
    private val maxFiles = longOption("maxFilesPerTrigger")
    private val maxBytes = longOption("maxBytesPerTrigger")

    // (new files, new bytes) the table gained between offsets p-1 and
    // p — zero when the offset left its version untouched; offsets are
    // immutable once committed, so memoize
    private val incrementCache =
      scala.collection.mutable.Map.empty[Long, (Long, Long)]

    private def incrementOf(p: Long): (Long, Long) =
      incrementCache.getOrElseUpdate(p, {
        val (from, to) = (t.versionAt(p - 1), t.versionAt(p))
        if (to < 0 || to == from) (0L, 0L)
        else {
          val prev =
            if (from < 0) Set.empty[(String, Long)]
            else SnapshotTable.manifestEntries(t.root, from).toSet
          val cur = SnapshotTable.manifestEntries(t.root, to)
          val dirs =
            if (cur.isEmpty) Seq(s"${t.root}/v=$to") // flat snapshot
            else (cur.toSet -- prev).toSeq.sorted
              .map { case (leaf, sv) => s"${t.root}/v=$sv/$leaf" }
          val files = dirs.flatMap(FooterStats.dataFiles)
          (files.size.toLong, files.map(MetaIO.size).sum)
        }
      })

    // newest offset handed to getBatch — the floor getOffset counts
    // from (re-seeded by the engine's recovery getBatch on restart)
    private var lastEnd: Option[Long] = None

    // Trigger.AvailableNow: implementing the capability OURSELVES (the
    // FileStreamSource pattern) instead of taking the engine's generic
    // V1 wrapper matters under rate limiting — the wrapper freezes the
    // run's end at the source's FIRST (capped) offset, which would end
    // an AvailableNow drain one increment in; here the end is pinned to
    // the latest offset at query start and the caps just split the way
    // there into bounded batches. Declaring the capability routes
    // offset discovery through latestOffset with the engine-tracked
    // floor; getOffset keeps the plain-Source contract.
    private var availableNowEnd: Option[Long] = None

    override def prepareForTriggerAvailableNow(): Unit =
      availableNowEnd = Some(t.latest)

    private def nextEnd(floor: Long): Option[Long] = {
      val live = t.latest
      val latest = availableNowEnd.fold(live)(math.min(live, _))
      val capped = maxVersions.fold(latest)(m =>
        math.min(latest, floor + math.max(m, 1L)))
      if (latest < 0 || capped <= floor) return None
      if (maxFiles.isEmpty && maxBytes.isEmpty) return Some(capped)
      // admit whole offsets while the NEW files/bytes fit, always at
      // least one (progress guarantee)
      val fitting = (floor + 1 to capped).iterator.map(incrementOf)
        .scanLeft((0L, 0L)) { case ((f, b), (pf, pb)) => (f + pf, b + pb) }
        .drop(1)
        .takeWhile { case (f, b) =>
          maxFiles.forall(f <= _) && maxBytes.forall(b <= _) }
        .size
      Some(floor + math.max(fitting, 1))
    }

    override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
      val floor = Option(start).map(_.json().trim.toLong).getOrElse(base)
      nextEnd(floor).map(LongOffset(_)).orNull
    }

    override def getOffset: Option[OffsetV1] =
      nextEnd(lastEnd.getOrElse(base)).orElse(lastEnd).map(LongOffset(_))

    override def getBatch(start: Option[OffsetV1], end: OffsetV1): DataFrame = {
      val spark = SparkSession.active
      val to = end.json.trim.toLong
      lastEnd = Some(math.max(to, lastEnd.getOrElse(-1L)))
      val fromV = t.versionAt(start.map(_.json.trim.toLong).getOrElse(base))
      val toV = t.versionAt(to)
      val batch =
        if (toV < 0 || toV == fromV) // no offset in range touched the table
          spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
        else cdcKey match {
          case Some(k) => cdcFrame(spark, t.root, k, fromV, toV,
            baseSchema.fieldNames.toIndexedSeq)
          case None => SnapshotTable.appendedBetween(spark, t.root, fromV, toV)
        }
      GraftStreamBridge.asStreaming(batch)
    }

    override def stop(): Unit = ()
  }

  private class GraftSink(t: TableHandle, partitionCols: Seq[String],
                          mode: OutputMode, options: CaseInsensitiveStringMap)
      extends Sink {

    private val governed = t.catalog.isDefined
    private val complete = mode == OutputMode.Complete()
    private val update = mode == OutputMode.Update()
    require(complete || update || mode == OutputMode.Append(),
      s"graft sink supports Append, Update, or Complete, got $mode")
    require(!(complete && governed),
      "a governed graft sink refuses Complete mode: a full-table replace " +
        "per trigger is a batch Catalog.transact, not a streaming shape")

    private val mergeKeys = GraftDataSource.csv(options, "mergeKeys")
    require(!update || mergeKeys.nonEmpty,
      "Update-mode graft sink upserts by key: set " +
        ".option(\"mergeKeys\", \"k1[,k2...]\")")
    require(update || mergeKeys.isEmpty,
      "mergeKeys is Update-mode only (Append never rewrites a key; " +
        "Complete replaces the whole table)")

    private val cdcOps = Option(options.get("cdcOps")).filter(_.nonEmpty)
    require(cdcOps.isEmpty || (governed && update),
      "cdcOps (delete tombstones) needs an Update-mode sink on a governed " +
        "table (.option(\"catalog\", <root>))")

    private val stats = GraftDataSource.csv(options, "statsCols")
    private val blooms = GraftDataSource.csv(options, "bloomCols")
    require(!governed || (stats.isEmpty && blooms.isEmpty),
      "statsCols/bloomCols record skipping sidecars on plain tables only; " +
        "a governed sink cannot honour them")

    private val partitionSpec: Option[String] =
      Option(partitionCols).filter(_.nonEmpty).map(_.mkString(","))
        .orElse(Option(options.get("partitionBy")).filter(_.nonEmpty))
    require(complete || partitionSpec.isDefined,
      "append/update-mode graft sink is the partition fast-append: set " +
        ".partitionBy(<col>) or .option(\"partitionBy\", <col>)")

    private val foldThreshold = Option(options.get("foldThreshold"))
      .map(_.toInt).getOrElse(GovernedStream.DefaultFoldThreshold)

    // cluster by the partition columns so each touched partition lands
    // as ONE file per trigger (the batch write path's small-files
    // guard); transform specs carry derived dirs the sink can't
    // repartition by — they skip clustering
    private val clusterCols: Seq[String] = partitionSpec
      .filter(s => !s.contains("(") && !complete &&
        !"false".equalsIgnoreCase(options.get("clusterWrites")))
      .toSeq.flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))

    // stable across restarts: the streaming query id persists in the
    // checkpoint (runId changes per restart, id does not); the literal
    // is StreamExecution.QUERY_ID_KEY, set on the micro-batch thread.
    // NO per-table fallback: two writers sharing one idempotency key
    // would silently skip each other's batch ids (batch N from query B
    // dropped because query A already stamped N) — a missing engine
    // property must be an error, never data loss
    private def writerId(spark: SparkSession): String = {
      val id = Option(options.get("txnAppId"))
        .orElse(Option(spark.sparkContext.getLocalProperty("sql.streaming.queryId")))
        .getOrElse(throw new IllegalStateException(
          "graft sink cannot derive a stable writer id: the micro-batch " +
            "thread carries no sql.streaming.queryId property and no " +
            "txnAppId option was set — pass .option(\"txnAppId\", <id>)"))
      s"graft-sink-$id"
    }

    override def addBatch(batchId: Long, data: DataFrame): Unit = {
      val spark = data.sparkSession
      val batch0 = GraftStreamBridge.asBatch(data)
      val batch1 =
        if (clusterCols.isEmpty) batch0
        else batch0.repartition(clusterCols.map(col): _*)
      // the CDC split consumes the micro-batch twice — persist so the
      // streaming plan executes once
      val batch = if (cdcOps.isEmpty) batch1 else batch1.persist()
      val published =
        try t.publishOnce(writerId(spark), batchId)(stage(batch, _, _))
        finally if (cdcOps.nonEmpty) batch.unpersist()
      if (update && published.nonEmpty) t.foldIfOverdue(spark, foldThreshold)
    }

    /** Stage one micro-batch on `base` with the writer's stamp. An
      * empty trigger stages an empty (no-op) version — rare (the engine
      * fires batches on offset movement), and a pre-check would execute
      * the micro-batch plan a second time. */
    private def stage(batch: DataFrame, base: Long,
                      txn: Option[SnapshotTable.Txn]): Long = {
      lazy val spec = partitionSpec.get
      (complete, update, cdcOps) match {
        case (true, _, _) =>
          SnapshotTable.stageVersion(batch, t.root, base, stats, blooms, txn)
        case (_, true, Some(op)) =>
          SnapshotTable.stageCdc(batch.sparkSession, t.root, spec, mergeKeys,
            upserts = batch.filter(col(op) =!= "d").drop(op),
            deleteKeys = batch.filter(col(op) === "d"), base, txn)
        case (_, true, None) =>
          SnapshotTable.stageUpsertMor(batch, t.root, spec, mergeKeys, base,
            stats, blooms, txn)
        case _ =>
          SnapshotTable.stageAppend(batch, t.root, spec, base, stats, blooms, txn)
      }
    }

    override def toString: String = s"GraftSink[$t]"
  }

  def sourceOf(parameters: Map[String, String], metadataPath: String): Source = {
    val options = new CaseInsensitiveStringMap(parameters.asJava)
    new GraftSource(handleOf(options), metadataPath, options)
  }

  def sinkOf(parameters: Map[String, String], partitionCols: Seq[String],
             mode: OutputMode): Sink = {
    val options = new CaseInsensitiveStringMap(parameters.asJava)
    new GraftSink(handleOf(options), partitionCols, mode, options)
  }

  def sourceSchema(parameters: Map[String, String]): StructType = {
    val options = new CaseInsensitiveStringMap(parameters.asJava)
    val base = handleOf(options).schema(SparkSession.active)
    if (changeKeyOf(options).isEmpty) base else cdcSchema(base)
  }
}
