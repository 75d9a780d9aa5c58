package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

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

  /** Compaction plan: how many files a directory currently has vs the
    * target — the "min-input-files" gate the reference passes to
    * rewrite_data_files. */
  def needsCompaction(spark: SparkSession, inputDir: String,
                      minInputFiles: Int): Boolean = {
    val files = spark.read.parquet(inputDir).inputFiles
    files.length >= minInputFiles
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

  /** Fold a streaming-append table's fragmented partitions back to one
    * directory each — the compaction half of the append protocol
    * ([[SnapshotTable.commitAppend]] adds a manifest entry per
    * micro-batch; this rewrites every partition that accumulated at
    * least `minEntries` entries and delta-commits the result, so the
    * new manifest carries ONE entry for each compacted partition and
    * inherits the rest untouched). Returns the new version, or -1 when
    * no partition is fragmented enough (never churn a healthy table).
    *
    * Scale: write cost = the fragmented partitions only — for a
    * 30-minute ingest cadence that is one day-partition rewrite per
    * maintenance run, not a table rewrite. */
  def compactAppends(spark: SparkSession, root: String, partitionCol: String,
                     minEntries: Int = 4,
                     filesPerPartition: Int = 4): Long = {
    val v = SnapshotTable.latestVersion(root)
    if (v < 0) return -1L
    val fragmented = SnapshotTable.manifestEntries(root, v)
      .groupBy(_._1).filter(_._2.size >= minEntries).keys.toSeq.sorted
    if (fragmented.isEmpty) return -1L
    // fragmented names are full relative partition dirs
    // (`field=value`, nested for multi-column specs; fields DERIVED
    // for hidden-partitioning transforms) — rows address them through
    // the same row→dir expression the write path uses
    val cur = SnapshotTable.read(spark, root, v)
    val dirc = SnapshotTable.rowDirExpr(
      SnapshotTable.parseSpecs(partitionCol), cur.schema)
    val touched = cur.filter(dirc.isin(fragmented: _*))
    // analyze coverage survives (same contract as [[compactSnapshot]]):
    // the rewritten partitions' files land in a fresh storage version,
    // so previously covered stats/bloom columns re-record through the
    // commit's footer pass and NDV re-sketches after (one scan of the
    // new version only — collectNdv skips covered versions)
    val cov = SnapshotTable.coverage(root)
    def reNdv(nv: Long): Long = { cov.resketch(spark, root); nv }
    SnapshotTable.sortOrderSpec(root) match {
      case None =>
        reNdv(SnapshotTable.commitDelta(touched.repartition(dirc),
          root, partitionCol, statsCols = cov.stats,
          bloomCols = cov.blooms))
      case Some((sortCols, false)) =>
        // the table declares a WRITE ORDER: compaction is where it is
        // applied (appends land unsorted by design) — range-split each
        // partition on the sort key into `filesPerPartition` clustered
        // files and re-record their stats, so the streaming-append
        // table converges to a stats-skippable layout
        val slice = touched
          .repartitionByRange(fragmented.size * filesPerPartition,
            dirc +: sortCols.map(col): _*)
          .sortWithinPartitions(sortCols.map(col): _*)
        reNdv(SnapshotTable.commitDelta(slice, root, partitionCol,
          statsCols = (sortCols ++ cov.stats).distinct,
          bloomCols = cov.blooms))
      case Some((sortCols, true)) =>
        // Z-ORDER write order (Delta OPTIMIZE ZORDER BY): cluster the
        // fragmented partitions along the Morton curve of the two
        // declared dimensions and record stats on BOTH, so range
        // predicates on EITHER column file-prune after compaction —
        // the two-dimensional convergence a single-column sort cannot
        // give a streaming-append table
        Layout.mortonColumn(touched, sortCols(0), sortCols(1)) match {
          case None => // degenerate slice (empty / all-NULL dimension)
            reNdv(SnapshotTable.commitDelta(touched.repartition(dirc),
              root, partitionCol, statsCols = cov.stats,
              bloomCols = cov.blooms))
          case Some(z) =>
            val slice = touched.withColumn("_zorder", z)
              .repartitionByRange(fragmented.size * filesPerPartition,
                dirc, col("_zorder"))
              .sortWithinPartitions("_zorder")
              .drop("_zorder")
            reNdv(SnapshotTable.commitDelta(slice, root, partitionCol,
              statsCols = (sortCols ++ cov.stats).distinct,
              bloomCols = cov.blooms))
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
