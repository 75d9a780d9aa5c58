package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.sources.TableHandle

/** Parquet table maintenance.
  *
  * The reference calls Iceberg's `rewrite_data_files` / snapshot expiry
  * procedures (`processing/spark_jobs/compaction.py:30-80`). Without an
  * ACID table format on the classpath, the same operational concern —
  * small-file compaction — is implemented as a parquet directory
  * rewrite to a target file count, preserving every row.
  *
  * Scale: `repartition(n)` is a single round-robin shuffle sized to the
  * target file count; for a partitioned table a deployment would run
  * this per partition (the driver loop is over partitions, the data
  * path stays distributed).
  */
object Maintenance {

  /** Rewrite `inputDir` (parquet) into `outputDir` with `targetFiles`
    * files. Returns the row count written — taken from the write job's
    * own scheduler-bus output metrics ([[Metrics.collectJobs]]), never
    * a second scan of what was just written. */
  def compact(spark: SparkSession, inputDir: String, outputDir: String,
              targetFiles: Int): Long = {
    val df = spark.read.parquet(inputDir)
    val (_, jobs) = Metrics.collectJobs(spark, "compact") {
      df.repartition(targetFiles).write.mode("overwrite").parquet(outputDir)
    }
    jobs.map(_.outputRecords).sum
  }

  /** Snapshot-expiry analog for plain parquet output dirs: list versions
    * (subdirectories named by monotonically increasing snapshot id) and
    * return those older than `retainLast`. Pure planning helper — the
    * caller performs deletion. */
  def expiredSnapshots(versions: Seq[Long], retainLast: Int): Seq[Long] =
    versions.sorted.dropRight(retainLast)

  /** Compact a [[SnapshotTable]]'s CURRENT snapshot into a NEW
    * `targetFiles`-file version (a commit — readers of the old version
    * are undisturbed and time travel keeps working), exactly Iceberg's
    * `rewrite_data_files`. Returns the new version, or -1 when the
    * current version already has fewer than `minInputFiles` files (the
    * procedure's min-input-files gate — never churn a healthy table).
    *
    * ANALYZE coverage SURVIVES compaction: a compacted table would
    * otherwise silently lose its min/max skipping stats, bloom
    * sidecars, and NDV sketches (they live per STORAGE VERSION, and
    * the rewrite starts a fresh one) until someone remembers to
    * re-analyze — the staleness trap Iceberg documents on
    * `rewrite_data_files`. The new commit re-records stats for the
    * previously covered columns through the footer pass (no extra
    * scan), re-blooms them, and re-sketches NDV (one scan of the
    * just-compacted files, the maintenance cadence's price). */
  def compactSnapshot(spark: SparkSession, root: String, targetFiles: Int,
                      minInputFiles: Int): Long = {
    val current = SnapshotTable.read(spark, root)
    if (current.inputFiles.length < minInputFiles) return -1L
    val cov = SnapshotTable.coverage(root)
    val v = SnapshotTable.commit(current.repartition(targetFiles), root,
      statsCols = cov.stats, bloomCols = cov.blooms)
    cov.resketch(spark, root)
    v
  }

  /** Fold a plain streaming-append table's fragmented partitions back
    * to one directory each — the compaction half of the append
    * protocol ([[SnapshotTable.commitAppend]] adds a manifest entry per
    * micro-batch): one publish of [[stageCompaction]] against the
    * current version, so the new manifest carries ONE entry for each
    * compacted partition and inherits the rest untouched. An append
    * published while the stage ran makes the publish throw
    * `ConcurrentModificationException` instead of dropping its rows.
    * Returns the new version, or -1 when the table has no version or no
    * partition is fragmented enough (never churn a healthy table).
    * [[Catalog.compactTable]] is the governed twin. */
  def compactAppends(spark: SparkSession, root: String, partitionCol: String,
                     minEntries: Int = 4,
                     filesPerPartition: Int = 4): Long = {
    var staged = -1L
    new TableHandle(None, root).publish { base =>
      staged = stageCompaction(spark, root, partitionCol, base, minEntries,
        filesPerPartition)
      staged
    }
    staged
  }

  /** Stage the compaction of version `base`'s append-fragmented
    * partitions — the one append-compaction body of both table kinds
    * ([[compactAppends]], [[Catalog.compactTable]]). Every partition
    * with at least `minEntries` entries in `base`'s record is read AT
    * `base`, its rows addressed through the write path's row→dir
    * expression (so transforms and nested multi-column specs resolve),
    * laid out by the declared write order ([[laidOut]]) and
    * delta-staged against `base`: one entry per compacted partition,
    * the rest inherited. Returns the staged version, or -1 when `base`
    * is absent or nothing is fragmented — then no Spark job runs.
    *
    * ANALYZE coverage survives (the [[compactSnapshot]] contract):
    * covered stats/bloom columns re-record through the staged commit's
    * footer pass, and NDV re-sketches the staged version before it
    * publishes.
    *
    * Scale: write cost = the fragmented partitions only — for a
    * 30-minute ingest cadence that is one day-partition rewrite per
    * maintenance run, not a table rewrite. */
  private[graft] def stageCompaction(spark: SparkSession, root: String,
                                     partitionCol: String, base: Long,
                                     minEntries: Int,
                                     filesPerPartition: Int): Long = {
    if (base < 0) return -1L
    val fragmented = SnapshotTable.manifestEntries(root, base)
      .groupBy(_._1).filter(_._2.size >= minEntries).keys.toSeq.sorted
    if (fragmented.isEmpty) return -1L
    val cur = SnapshotTable.read(spark, root, base)
    val dirc = SnapshotTable.rowDirExpr(
      SnapshotTable.parseSpecs(partitionCol), cur.schema)
    val (slice, orderCols) = laidOut(cur.filter(dirc.isin(fragmented: _*)),
      dirc, SnapshotTable.sortOrderSpec(root),
      fragmented.size * filesPerPartition)
    // read only after the fragmentation check: the bloom coverage read
    // is a Spark job
    val cov = SnapshotTable.coverage(root, base)
    val staged = SnapshotTable.stageDelta(slice, root, partitionCol, base,
      statsCols = (orderCols ++ cov.stats).distinct, bloomCols = cov.blooms)
    cov.resketch(spark, root, staged)
    staged
  }

  /** Lay `touched` (rows of the partitions `dirc` names) out by the
    * declared write `order`, with the columns whose stats the layout
    * makes skippable. None: one file per partition directory. A
    * sort order (Iceberg's `WRITE ORDERED BY`) — compaction is where
    * it is applied, appends land unsorted by design: range-split into
    * `files` files clustered on the sort key. A z-order (Delta
    * `OPTIMIZE ZORDER BY`): range-split along the Morton curve of the
    * two dimensions, so range predicates on EITHER column prune; a
    * degenerate slice (empty / all-NULL dimension) stays unsorted. */
  private def laidOut(touched: DataFrame, dirc: Column,
                      order: Option[(Seq[String], Boolean)],
                      files: Int): (DataFrame, Seq[String]) = {
    def unsorted = (touched.repartition(dirc), Seq.empty[String])
    order match {
      case None => unsorted
      case Some((sortCols, false)) =>
        (touched.repartitionByRange(files, dirc +: sortCols.map(col): _*)
          .sortWithinPartitions(sortCols.map(col): _*), sortCols)
      case Some((sortCols, true)) =>
        Layout.mortonColumn(touched, sortCols(0), sortCols(1))
          .fold(unsorted) { z =>
            (touched.withColumn("_zorder", z)
              .repartitionByRange(files, dirc, col("_zorder"))
              .sortWithinPartitions("_zorder").drop("_zorder"), sortCols)
          }
    }
  }

  /** One finished table's maintenance outcome. */
  case class TableMaintenance(table: String, deletesFoldedTo: Long,
                              compactedTo: Long,
                              expired: Seq[Long], orphansRemoved: Seq[Long],
                              staleLocksRemoved: Seq[String])

  /** The reference's maintenance DAG (`iceberg_maintenance.py:1-117`)
    * as one runner: per table, chain small-file compaction → snapshot
    * expiry → crash-leftover GC (orphan version dirs + stale branch
    * locks), in that order — compaction FIRST so the superseded
    * small-file snapshot is immediately expirable, sweeps LAST so a
    * compaction crash from this very run would be cleaned next run,
    * never this one mid-flight. Returns one report row per table.
    *
    * Scale: the only distributed work is each table's compaction
    * rewrite (one round-robin shuffle sized to the target file count);
    * everything else is O(#versions) driver-side metadata. Tables are
    * independent — a deployment fans the loop out per table. */
  def runCatalog(spark: SparkSession, tables: Seq[(String, String)],
                 targetFiles: Int = 8, minInputFiles: Int = 16,
                 retainLast: Int = 2, graceMs: Long = 3600000L): DataFrame = {
    val rows = tables.map { case (name, root) =>
      // fold unapplied MoR delete files (BOTH flavors) and migrate any
      // old-spec-era directories FIRST (Iceberg's
      // rewrite_position_delete_files + rewrite_data_files steps):
      // compaction then sees a clean single-era table, and the freed
      // sidecar/old-era versions expire below
      val v0 = SnapshotTable.latestVersion(root)
      val needsFold = v0 >= 0 &&
        (SnapshotTable.deleteEntries(root, v0).nonEmpty ||
          SnapshotTable.eqDeleteEntries(root, v0).nonEmpty)
      val folded =
        if (needsFold) SnapshotTable.applyDeletes(spark, root)
        else if (v0 >= 0) {
          val migrated = SnapshotTable.migrateSpec(spark, root)
          if (migrated == v0) -1L else migrated
        } else -1L
      val compacted = compactSnapshot(spark, root, targetFiles, minInputFiles)
      val expired = SnapshotTable.expireSnapshots(root, retainLast)
      TableMaintenance(name, folded, compacted, expired,
        SnapshotTable.sweepOrphans(root, graceMs),
        SnapshotTable.sweepStaleLocks(root, graceMs))
    }
    import spark.implicits._
    rows.toDF()
  }
}
