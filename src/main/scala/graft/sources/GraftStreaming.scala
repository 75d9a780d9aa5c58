package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.{Offset => OffsetV1, Sink, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.graft.GraftStreamBridge
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.operators.SnapshotTable

/** `spark.readStream.format("graft")` — a snapshot table as a
  * Structured Streaming SOURCE (the Delta/Iceberg streaming-read
  * shape): the offset is a TABLE VERSION, each micro-batch is the
  * manifest-arithmetic incremental append scan between two versions
  * ([[SnapshotTable.appendedBetween]] — O(new files), the corpus is
  * never rescanned), and the engine's own offset log gives restart
  * resume for free. Architecture is the V1 `Source` API (Delta's
  * choice for the same reason the batch connector is a `V1Scan`:
  * `getBatch` returns a DataFrame built from library reads, so Spark's
  * vectorized parquet reader and codegen run unchanged — a DSv2
  * `MicroBatchStream` would mean owning an executor-side parquet
  * reader).
  *
  * Options:
  *   - `startingVersion` (default: bootstrap) — `"latest"` streams
  *     only versions committed after the query starts (Delta's
  *     convention); a number N starts the stream at version N's
  *     appends (no snapshot). Absent: the first batch is the FULL
  *     table at the then-current version (the initial-snapshot
  *     bootstrap), and later batches are incremental.
  *   - `maxVersionsPerTrigger` — admission control: each trigger
  *     consumes at most this many table versions. Best-effort on the
  *     first trigger after a restart (the V1 source contract: rate
  *     limits are source-tracked, not engine-tracked).
  *   - `maxFilesPerTrigger` / `maxBytesPerTrigger` — SIZE-based
  *     admission control (a version can be arbitrarily large, so a
  *     catch-up replay under a version cap alone could pull an
  *     unbounded batch): each trigger admits whole versions while the
  *     accumulated NEW files/bytes stay within the caps, always at
  *     least one version (the Kafka/FileStreamSource progress
  *     guarantee — a single oversized version still drains, alone).
  *     Costs pure manifest arithmetic + a listing of only the NEW
  *     entries per version, never a data read.
  *
  * Non-append-only histories (copy-on-write deltas, compactions)
  * REFUSE loudly mid-stream exactly as Iceberg's incremental scan
  * refuses replace snapshots — run streaming consumers below the
  * compaction watermark. MoR deletes resolve per batch (an
  * appended-then-deleted row never surfaces). */
private[sources] class GraftSource(root: String, metadataPath: String,
                                   options: CaseInsensitiveStringMap)
    extends Source
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  /** CDC mode (`readChangeFeed=true` + `changeKey` — the Delta CDF
    * readStream shape): batches are the keyed row-diff feed
    * ([[SnapshotTable.changes]]: insert / delete / update pre+post
    * images, `_change_type` + `_commit_version` appended), the
    * bootstrap delivers the whole table as inserts, and — unlike the
    * append feed — NON-append histories (upserts, deletes,
    * compactions) stream through instead of refusing, at the
    * two-snapshot-join price per batch. */
  private val cdcKey: Option[String] = {
    val cdc = "true".equalsIgnoreCase(options.get("readChangeFeed"))
    val k = Option(options.get("changeKey")).filter(_.nonEmpty)
    require(!cdc || k.isDefined,
      "readChangeFeed needs .option(\"changeKey\", <key column>) — " +
        "the row identity the diff is keyed by")
    if (cdc) k else None
  }

  private val baseSchema: StructType = {
    val spark = org.apache.spark.sql.SparkSession.active
    val v = SnapshotTable.latestVersion(root)
    require(v >= 0, s"streaming read needs a committed table at $root")
    SnapshotTable.read(spark, root, v).schema
  }

  override val schema: StructType =
    if (cdcKey.isEmpty) baseSchema else GraftStreaming.cdcSchema(baseSchema)

  /** The version BEFORE the first one this stream delivers — resolved
    * ONCE per query and persisted under the source's metadata path
    * (the Kafka/FileStreamSource initial-offset log): without the
    * anchor, a `startingVersion=latest` query restarted before its
    * first batch would re-resolve "latest" and silently skip whatever
    * landed in between. */
  private val base: Long = GraftStreaming.persistedBase(metadataPath, {
    Option(options.get("startingVersion")) match {
      case None => -1L // bootstrap: first batch = the whole table
      case Some("latest") => SnapshotTable.latestVersion(root)
      case Some(n) => n.toLong - 1
    }
  })

  private val maxVersions: Option[Long] =
    Option(options.get("maxVersionsPerTrigger")).map(_.toLong)

  private val maxFiles: Option[Long] =
    Option(options.get("maxFilesPerTrigger")).map(_.toLong)

  private val maxBytes: Option[Long] =
    Option(options.get("maxBytesPerTrigger")).map(_.toLong)

  // (new files, new bytes) a version added over its predecessor —
  // manifest arithmetic plus a listing of only the NEW entry dirs;
  // versions are immutable once committed, so memoize per version
  private val incrementCache =
    scala.collection.mutable.Map.empty[Long, (Long, Long)]

  private def incrementOf(v: Long): (Long, Long) =
    incrementCache.getOrElseUpdate(v, {
      val prev =
        if (v <= 0) Set.empty[(String, Long)]
        else SnapshotTable.manifestEntries(root, v - 1).toSet
      val cur = SnapshotTable.manifestEntries(root, v)
      val dirs =
        if (cur.isEmpty) Seq(s"$root/v=$v") // flat snapshot
        else (cur.toSet -- prev).toSeq.sorted
          .map { case (leaf, sv) => s"$root/v=$sv/$leaf" }
      val files = dirs.flatMap(graft.operators.FooterStats.dataFiles)
      (files.size.toLong, files.map(graft.operators.MetaIO.size).sum)
    })

  // newest version handed to getBatch — the floor rate limiting counts
  // from (re-seeded by the engine's recovery getBatch on restart)
  private var lastEnd: Option[Long] = None

  // Trigger.AvailableNow: implementing the capability OURSELVES (the
  // FileStreamSource pattern) instead of taking the engine's generic
  // V1 wrapper matters under rate limiting — the wrapper freezes the
  // run's end at the source's FIRST (capped) offset, which would end
  // an AvailableNow drain one increment in; here the end is pinned to
  // the table version at query start and the cap just splits the way
  // there into bounded batches. Declaring the capability routes offset
  // discovery through latestOffset (the admission-control API) with
  // the engine-tracked floor; getOffset below keeps the plain-Source
  // contract for completeness.
  private var availableNowEnd: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Some(SnapshotTable.latestVersion(root))

  private def boundedLatest: Long = {
    val live = SnapshotTable.latestVersion(root)
    availableNowEnd.fold(live)(math.min(live, _))
  }

  private def nextEnd(floor: Long): Option[Long] = {
    val latest = boundedLatest
    if (latest < 0) return None
    val capped = maxVersions match {
      case Some(m) => math.min(latest, floor + math.max(m, 1L))
      case None => latest
    }
    if (capped <= floor) return None
    if (maxFiles.isEmpty && maxBytes.isEmpty) return Some(capped)
    // size-based admission: admit whole versions while the NEW
    // files/bytes fit, always at least one (progress guarantee)
    var end = floor
    var files = 0L
    var bytes = 0L
    var v = floor + 1
    while (v <= capped) {
      val (vf, vb) = incrementOf(v)
      if (end > floor && (maxFiles.exists(files + vf > _) ||
          maxBytes.exists(bytes + vb > _)))
        return Some(end)
      end = v; files += vf; bytes += vb; v += 1
    }
    Some(end)
  }

  override def latestOffset(start: org.apache.spark.sql.connector.read.streaming.Offset,
                            limit: org.apache.spark.sql.connector.read.streaming.ReadLimit)
      : org.apache.spark.sql.connector.read.streaming.Offset = {
    val floor = Option(start).map(_.json().trim.toLong).getOrElse(base)
    nextEnd(floor).map(LongOffset(_)).orNull
  }

  override def getOffset: Option[OffsetV1] = {
    val floor = lastEnd.getOrElse(base)
    nextEnd(floor).map(LongOffset(_)).orElse(lastEnd.map(LongOffset(_)))
  }

  override def getBatch(start: Option[OffsetV1], end: OffsetV1): DataFrame = {
    val spark = org.apache.spark.sql.SparkSession.active
    val to = end.json.trim.toLong
    val from = start.map(_.json.trim.toLong).getOrElse(base)
    lastEnd = Some(math.max(to, lastEnd.getOrElse(-1L)))
    val batch = cdcKey match {
      case Some(k) =>
        GraftStreaming.cdcFrame(spark, root, k, from, to,
          baseSchema.fieldNames.toIndexedSeq)
      case None => SnapshotTable.appendedBetween(spark, root, from, to)
    }
    GraftStreamBridge.asStreaming(batch)
  }

  override def stop(): Unit = ()
}

/** `df.writeStream.format("graft")` — a snapshot table as a
  * Structured Streaming SINK with EXACTLY-once semantics: each
  * micro-batch lands as one [[SnapshotTable.commitAppendTxn]] —
  * an O(batch) partition fast-append whose `(queryId, batchId)`
  * stamp is atomic with the commit (the Delta `SetTransaction`
  * protocol) — so a batch replayed after a checkpoint-recovery
  * restart is detected and skipped. Append mode requires
  * `partitionBy` (the same contract as batch connector appends:
  * appending to a table IS the partition fast-append); Complete mode
  * replaces the table per trigger as a full stamped snapshot commit.
  * `statsCols` / `bloomCols` record manifest-skipping sidecars at
  * write, exactly as on the batch path. */
private[sources] class GraftSink(root: String, partitionCols: Seq[String],
                                 mode: OutputMode,
                                 options: CaseInsensitiveStringMap)
    extends Sink {

  private val complete = mode == OutputMode.Complete()
  private val update = mode == OutputMode.Update()
  require(complete || update || mode == OutputMode.Append(),
    s"graft sink supports Append, Update, or Complete, got $mode")

  // Update mode = per-key upsert: each trigger's rows replace their
  // key's older twins via the O(batch) MoR upsert commit
  private val mergeKeys: Seq[String] = GraftDataSource.csv(options, "mergeKeys")
  require(!update || mergeKeys.nonEmpty,
    "Update-mode graft sink upserts by key: set " +
      ".option(\"mergeKeys\", \"k1[,k2...]\")")
  require(update || mergeKeys.isEmpty,
    "mergeKeys is Update-mode only (Append never rewrites a key; " +
      "Complete replaces the whole table)")

  private val partitionSpec: Option[String] = {
    val fromWriter = Option(partitionCols).filter(_.nonEmpty).map(_.mkString(","))
    fromWriter.orElse(Option(options.get("partitionBy")).filter(_.nonEmpty))
  }
  require(complete || partitionSpec.isDefined,
    "append/update-mode graft sink is the partition fast-append: set " +
      ".partitionBy(<col>) or .option(\"partitionBy\", <col>)")

  // stable across restarts: the streaming query id persists in the
  // checkpoint (runId changes per restart, id does not); the literal
  // is StreamExecution.QUERY_ID_KEY, set on the micro-batch thread
  private def writerId(spark: org.apache.spark.sql.SparkSession): String = {
    val explicit = Option(options.get("txnAppId"))
    val qid = Option(spark.sparkContext.getLocalProperty("sql.streaming.queryId"))
    // NO per-table fallback: two writers sharing one idempotency key
    // would silently skip each other's batch ids (batch N from query B
    // dropped because query A already stamped N) — a missing engine
    // property must be an error, never data loss
    val id = explicit.orElse(qid).getOrElse(throw new IllegalStateException(
      "graft sink cannot derive a stable writer id: the micro-batch " +
        "thread carries no sql.streaming.queryId property and no " +
        "txnAppId option was set — pass .option(\"txnAppId\", <id>)"))
    "graft-sink-" + id
  }

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val spark = data.sparkSession
    val writer = writerId(spark)
    if (SnapshotTable.lastTxnBatch(root, writer).exists(_ >= batchId))
      return // checkpoint-recovery replay: already committed
    val stats = GraftDataSource.csv(options, "statsCols")
    val blooms = GraftDataSource.csv(options, "bloomCols")
    val batch0 = GraftStreamBridge.asBatch(data)
    if (complete) {
      SnapshotTable.commitTxn(batch0, root, writer, batchId, stats, blooms)
    } else {
      val spec = partitionSpec.get
      // cluster by the partition columns so each touched partition
      // lands as ONE file per trigger (the batch write path's
      // small-files guard); transform specs carry derived dirs the
      // sink can't repartition by — they skip clustering
      val identity = !spec.contains("(")
      val batch =
        if (identity && !"false".equalsIgnoreCase(options.get("clusterWrites")))
          batch0.repartition(spec.split(",").map(_.trim).filter(_.nonEmpty)
            .map(org.apache.spark.sql.functions.col).toIndexedSeq: _*)
        else batch0
      // an empty trigger commits an empty (no-op) append version —
      // rare (the engine fires batches on offset movement), and a
      // pre-check would execute the micro-batch plan a second time
      if (update) {
        SnapshotTable.commitUpsertTxn(batch, root, spec, mergeKeys,
          writer, batchId, stats, blooms)
        // each Update trigger lands one equality-delete sidecar and
        // every unfolded sidecar adds a broadcast anti-join to EVERY
        // read: fold once the debt crosses the threshold (0 disables;
        // the fold is its own commit AFTER the stamped batch — replay
        // detection walks the published chain through it)
        val fold = Option(options.get("foldThreshold")).map(_.toInt)
          .getOrElse(graft.streaming.GovernedStream.DefaultFoldThreshold)
        if (fold > 0 && SnapshotTable.morDebt(root) >= fold)
          SnapshotTable.applyDeletes(spark, root)
      } else
        SnapshotTable.commitAppendTxn(batch, root, spec, writer, batchId,
          stats, blooms)
    }
  }

  override def toString: String = s"GraftSink[$root]"
}

/** Streaming a GOVERNED catalog table (the Nessie+Iceberg consumer
  * shape): `.option("catalog", <catalog root>).load(<table name>)` —
  * the offset is a CATALOG COMMIT id, and each micro-batch is the
  * incremental append scan between the table's versions at the two
  * commits. Because the offset is the catalog's atomicity unit, a
  * consumer joining several tables at the same offset sees a
  * CONSISTENT cross-table state; commits that did not touch this
  * table deliver empty batches for free (version arithmetic, no IO).
  * `startingVersion`/`maxVersionsPerTrigger` mean commit ids here;
  * the same non-append refusal applies (run consumers below the
  * compaction watermark — [[graft.operators.Catalog.compactTable]]
  * breaks append arithmetic exactly like table-level compaction). */
private[sources] class GraftGovernedSource(cat: String, table: String,
                                           metadataPath: String,
                                           options: CaseInsensitiveStringMap)
    extends Source
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  import graft.operators.Catalog

  private val cdcKey: Option[String] = {
    val cdc = "true".equalsIgnoreCase(options.get("readChangeFeed"))
    val k = Option(options.get("changeKey")).filter(_.nonEmpty)
    require(!cdc || k.isDefined,
      "readChangeFeed needs .option(\"changeKey\", <key column>) — " +
        "the row identity the diff is keyed by")
    if (cdc) k else None
  }

  private val baseSchema: StructType = {
    val spark = org.apache.spark.sql.SparkSession.active
    require(Catalog.latestCommit(cat) >= 0 &&
      Catalog.tableVersions(cat).contains(table),
      s"streaming read needs table '$table' in a committed catalog at $cat")
    Catalog.read(spark, cat, table).schema
  }

  override val schema: StructType =
    if (cdcKey.isEmpty) baseSchema else GraftStreaming.cdcSchema(baseSchema)

  private val base: Long = GraftStreaming.persistedBase(metadataPath, {
    Option(options.get("startingVersion")) match {
      case None => -1L
      case Some("latest") => Catalog.latestCommit(cat)
      case Some(n) => n.toLong - 1
    }
  })

  private val maxCommits: Option[Long] =
    Option(options.get("maxVersionsPerTrigger")).map(_.toLong)

  private val maxFiles: Option[Long] =
    Option(options.get("maxFilesPerTrigger")).map(_.toLong)

  private val maxBytes: Option[Long] =
    Option(options.get("maxBytesPerTrigger")).map(_.toLong)

  private var lastEnd: Option[Long] = None
  private var availableNowEnd: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Some(Catalog.latestCommit(cat))

  // (new files, new bytes) this table gained at catalog commit c over
  // c-1 — manifest arithmetic + a listing of only the NEW entry dirs
  // (zero when the commit left the table's version untouched);
  // memoized per immutable commit
  private val incrementCache =
    scala.collection.mutable.Map.empty[Long, (Long, Long)]

  private def incrementOf(c: Long): (Long, Long) =
    incrementCache.getOrElseUpdate(c, {
      val tr = Catalog.tableRoot(cat, table)
      val toV = Catalog.tableVersions(cat, c).getOrElse(table, -1L)
      val fromV =
        if (c <= 0) -1L
        else Catalog.tableVersions(cat, c - 1).getOrElse(table, -1L)
      if (toV < 0 || toV == fromV) (0L, 0L)
      else {
        val prev =
          if (fromV < 0) Set.empty[(String, Long)]
          else SnapshotTable.manifestEntries(tr, fromV).toSet
        val cur = SnapshotTable.manifestEntries(tr, toV)
        val dirs =
          if (cur.isEmpty) Seq(s"$tr/v=$toV")
          else (cur.toSet -- prev).toSeq.sorted
            .map { case (leaf, sv) => s"$tr/v=$sv/$leaf" }
        val files = dirs.flatMap(graft.operators.FooterStats.dataFiles)
        (files.size.toLong, files.map(graft.operators.MetaIO.size).sum)
      }
    })

  private def nextEnd(floor: Long): Option[Long] = {
    val live = Catalog.latestCommit(cat)
    val latest = availableNowEnd.fold(live)(math.min(live, _))
    if (latest < 0) return None
    val capped = maxCommits match {
      case Some(m) => math.min(latest, floor + math.max(m, 1L))
      case None => latest
    }
    if (capped <= floor) return None
    if (maxFiles.isEmpty && maxBytes.isEmpty) return Some(capped)
    // size-based admission, same contract as the table source: admit
    // whole commits while this table's NEW files/bytes fit, always at
    // least one (progress guarantee)
    var end = floor
    var files = 0L
    var bytes = 0L
    var c = floor + 1
    while (c <= capped) {
      val (cf, cb) = incrementOf(c)
      if (end > floor && (maxFiles.exists(files + cf > _) ||
          maxBytes.exists(bytes + cb > _)))
        return Some(end)
      end = c; files += cf; bytes += cb; c += 1
    }
    Some(end)
  }

  override def latestOffset(start: org.apache.spark.sql.connector.read.streaming.Offset,
                            limit: org.apache.spark.sql.connector.read.streaming.ReadLimit)
      : org.apache.spark.sql.connector.read.streaming.Offset = {
    val floor = Option(start).map(_.json().trim.toLong).getOrElse(base)
    nextEnd(floor).map(LongOffset(_)).orNull
  }

  override def getOffset: Option[OffsetV1] = {
    val floor = lastEnd.getOrElse(base)
    nextEnd(floor).map(LongOffset(_)).orElse(lastEnd.map(LongOffset(_)))
  }

  override def getBatch(start: Option[OffsetV1], end: OffsetV1): DataFrame = {
    val spark = org.apache.spark.sql.SparkSession.active
    val toCommit = end.json.trim.toLong
    val fromCommit = start.map(_.json.trim.toLong).getOrElse(base)
    lastEnd = Some(math.max(toCommit, lastEnd.getOrElse(-1L)))
    val toV = Catalog.tableVersions(cat, toCommit).getOrElse(table, -1L)
    val fromV =
      if (fromCommit < 0) -1L
      else Catalog.tableVersions(cat, fromCommit).getOrElse(table, -1L)
    val root = Catalog.tableRoot(cat, table)
    val batch =
      if (toV < 0 || toV == fromV) // commits that never touched the table
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else cdcKey match {
        case Some(k) => GraftStreaming.cdcFrame(spark, root, k, fromV, toV,
          baseSchema.fieldNames.toIndexedSeq)
        case None => SnapshotTable.appendedBetween(spark, root, fromV, toV)
      }
    GraftStreamBridge.asStreaming(batch)
  }

  override def stop(): Unit = ()
}

/** The governed streaming SINK: each micro-batch publishes as ONE
  * atomic catalog commit carrying the appended/upserted rows AND the
  * advanced batch id ([[graft.streaming.GovernedStream.commitBatch]] /
  * `commitUpsertBatch` — the `_stream_state` exactly-once protocol, so
  * replay detection is the CATALOG's, not a table stamp). Append mode
  * = partition fast-append, Update mode = per-key MoR upsert
  * (`mergeKeys`); Complete refuses (a full-table replace per trigger
  * is a batch `Catalog.transact`, not a streaming shape). */
private[sources] class GraftGovernedSink(cat: String, table: String,
                                         partitionCols: Seq[String],
                                         mode: OutputMode,
                                         options: CaseInsensitiveStringMap)
    extends Sink {

  private val update = mode == OutputMode.Update()
  require(update || mode == OutputMode.Append(),
    s"governed graft sink supports Append or Update, got $mode")

  private val mergeKeys: Seq[String] = GraftDataSource.csv(options, "mergeKeys")
  require(!update || mergeKeys.nonEmpty,
    "Update-mode governed sink upserts by key: set " +
      ".option(\"mergeKeys\", \"k1[,k2...]\")")

  // full Debezium-shaped input: rows whose `cdcOps` column is "d" are
  // delete tombstones (their keys land as an equality-delete sidecar),
  // everything else upserts — one atomic commit per batch
  private val cdcOps: Option[String] =
    Option(options.get("cdcOps")).filter(_.nonEmpty)
  require(cdcOps.isEmpty || update,
    "cdcOps (delete tombstones) is Update-mode only")

  private val partitionSpec: String = {
    val fromWriter = Option(partitionCols).filter(_.nonEmpty).map(_.mkString(","))
    fromWriter.orElse(Option(options.get("partitionBy")).filter(_.nonEmpty))
      .getOrElse(throw new IllegalArgumentException(
        "governed graft sink appends by partition: set " +
          ".partitionBy(<col>) or .option(\"partitionBy\", <col>)"))
  }

  private def sourceId(spark: org.apache.spark.sql.SparkSession): String = {
    val explicit = Option(options.get("txnAppId"))
    val qid = Option(spark.sparkContext.getLocalProperty("sql.streaming.queryId"))
    s"graft-sink-$table-" + explicit.orElse(qid).getOrElse(cat)
  }

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    import org.apache.spark.sql.functions.col
    val spark = data.sparkSession
    val batch = GraftStreamBridge.asBatch(data)
    (update, cdcOps) match {
      case (true, Some(op)) =>
        // the split consumes the micro-batch twice — persist so the
        // streaming plan executes once
        val cached = batch.persist()
        try graft.streaming.GovernedStream.commitCdcBatch(spark, cat, table,
          partitionSpec, mergeKeys, sourceId(spark), batchId,
          upserts = cached.filter(col(op) =!= "d").drop(op),
          deleteKeys = cached.filter(col(op) === "d")
            .select(mergeKeys.map(col): _*))
        finally cached.unpersist()
      case (true, None) =>
        graft.streaming.GovernedStream.commitUpsertBatch(spark, cat, table,
          partitionSpec, mergeKeys, sourceId(spark), batchId, batch)
      case _ =>
        graft.streaming.GovernedStream.commitBatch(spark, cat,
          sourceId(spark), batchId, batch, table, partitionSpec)
    }
  }

  override def toString: String = s"GraftGovernedSink[$cat/$table]"
}

private[sources] object GraftStreaming {

  private[sources] def cdcSchema(base: StructType): StructType =
    base.add("_change_type", org.apache.spark.sql.types.StringType,
        nullable = false)
      .add("_commit_version", org.apache.spark.sql.types.LongType,
        nullable = false)

  /** One CDC micro-batch: the keyed diff between two versions, or the
    * whole-table-as-inserts bootstrap; column order pinned to the base
    * read schema + the two feed columns (`changes` fronts the key —
    * the streaming engine aligns batches by POSITION, so every batch
    * must share one order). */
  private[sources] def cdcFrame(spark: org.apache.spark.sql.SparkSession,
                                root: String, key: String,
                                from: Long, to: Long,
                                baseCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
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
    * Kafka/FileStreamSource initial-offset log; see [[GraftSource]]'s
    * `base` doc for why `latest` must not re-resolve on restart). */
  private[sources] def persistedBase(metadataPath: String,
                                     resolve: => Long): Long = {
    import graft.operators.MetaIO
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

  private def governed(options: CaseInsensitiveStringMap): Option[String] =
    Option(options.get("catalog")).filter(_.nonEmpty)

  def sourceOf(parameters: Map[String, String], metadataPath: String): Source = {
    val options = new CaseInsensitiveStringMap(parameters.asJava)
    governed(options) match {
      case Some(cat) =>
        new GraftGovernedSource(cat, GraftDataSource.rootOf(options),
          metadataPath, options)
      case None =>
        new GraftSource(GraftDataSource.rootOf(options), metadataPath, options)
    }
  }

  def sinkOf(parameters: Map[String, String], partitionCols: Seq[String],
             mode: OutputMode): Sink = {
    val options = new CaseInsensitiveStringMap(parameters.asJava)
    governed(options) match {
      case Some(cat) =>
        new GraftGovernedSink(cat, GraftDataSource.rootOf(options),
          partitionCols, mode, options)
      case None =>
        new GraftSink(GraftDataSource.rootOf(options), partitionCols, mode,
          options)
    }
  }

  def sourceSchema(parameters: Map[String, String]): StructType = {
    val options = new CaseInsensitiveStringMap(parameters.asJava)
    val root = GraftDataSource.rootOf(options)
    val spark = org.apache.spark.sql.SparkSession.active
    val base = governed(options) match {
      case Some(cat) => graft.operators.Catalog.read(spark, cat, root).schema
      case None => SnapshotTable.read(spark, root).schema
    }
    if ("true".equalsIgnoreCase(options.get("readChangeFeed")))
      cdcSchema(base)
    else base
  }
}
