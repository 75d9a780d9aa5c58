package graft.operators


import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Metadata inspection tables over a [[SnapshotTable]] — the analog of
  * Iceberg's `table$snapshots` / `table$files` / `table$refs` metadata
  * tables (the reference's tables are Iceberg, where `SELECT * FROM
  * t$snapshots` is a first-class ops surface; Trino exposes the same
  * via `t$snapshots` etc.). Everything here reads ONLY the tiny
  * metadata protocol files (markers, manifests, refs, stats sidecars)
  * plus a directory listing — never the data bytes — so every call is
  * O(versions + files-listed), independent of table row count.
  *
  * [[Serving.registerTableMetadata]] serves these as SQL views.
  */
object TableInspect {

  /** One row per on-disk version: its ancestry, commit state, whether
    * any ref points at it, and its manifest's shape (data entries and
    * unapplied merge-on-read delete references). The `kind` column
    * classifies how the version stores data: `snapshot` (full
    * rewrite), `manifested` (delta/append/evolution — inherits files
    * by reference; an emptied table is manifested with no entries), or
    * `delete-only` (a MoR delete commit that landed only a `_deletes`
    * sidecar). Each version's commit record is read once. */
  def snapshots(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val current = SnapshotTable.latestVersion(root)
    val refsByV = SnapshotTable.refs(root).groupBy(_._2)
      .view.mapValues(_.keys.toSeq.sorted.mkString(",")).toMap
    val rows = SnapshotTable.versions(root).map { v =>
      val rec = SnapshotTable.record(root, v)
      val c = rec.getOrElse(SnapshotTable.Commit())
      // a manifested version owns data iff an entry names its own dir
      val ownsData = c.entries.exists(_._2 == v)
      val kind =
        if (!c.manifested) "snapshot"
        else if (!ownsData && (c.deletes.lastOption.contains(v) ||
          c.eqDeletes.lastOption.exists(_._1 == v))) "delete-only"
        else "manifested"
      (v, c.parent, rec.isDefined, v == current,
        refsByV.getOrElse(v, ""), kind,
        c.entries.size.toLong, (c.deletes.size + c.eqDeletes.size).toLong,
        SnapshotTable.partitionSpecAt(root, v).getOrElse(""))
    }
    rows.toDF("version", "parent", "is_committed", "is_current",
      "refs", "kind", "data_entries", "delete_refs", "partition_spec")
  }

  /** One row per live DATA file of a version (default: current): its
    * root-relative path, partition, owning storage version, and byte
    * size — plus any recorded per-file min/max column stats
    * (null-padded where a file predates stats or the column). The
    * Iceberg `t$files` surface: what would a scan of this version
    * read, and what bounds would prune it. */
  def files(spark: SparkSession, root: String,
            version: Long = -1L): DataFrame = {
    import spark.implicits._
    val v = if (version >= 0) version else SnapshotTable.latestVersion(root)
    require(v >= 0, s"no committed version at $root")
    // (file, partition dirs between `v=M/` and the name, M, bytes)
    val rows = SnapshotTable.liveFiles(root, v).sorted.map { f =>
      val segs = f.split("/")
      (f, segs.slice(1, segs.length - 1).mkString("/"),
        SnapshotTable.svOf(f), MetaIO.size(MetaIO.join(root, f)))
    }
    val base = rows.toDF("file", "partition", "storage_version",
      "size_bytes")
    // stats sidecars are keyed by the same root-relative path
    val statVersions = rows.map(_._3).distinct.sorted
    val stats = SnapshotTable.fileStatsOf(spark, root, statVersions)
    val withStats = stats match {
      case None => base
      case Some(st) =>
        base.join(st.withColumnRenamed("_file", "file"), Seq("file"), "left")
    }
    // per-file NDV estimates from the sketch sidecars (the binary
    // sketches themselves stay out of the inspection surface)
    val ndv = statVersions
      .flatMap(SnapshotTable.fileNdv(spark, root, _))
      .map(df => df.select(col("_file") +:
        df.columns.filter(_.endsWith("__ndv")).toSeq.map(col): _*))
      .reduceOption((a, b) => a.unionByName(b, allowMissingColumns = true))
    ndv match {
      case None => withStats
      case Some(nd) =>
        withStats.join(nd.withColumnRenamed("_file", "file"),
          Seq("file"), "left")
    }
  }

  /** One row per named ref — branches and tags (plus `main`, which IS
    * the `_latest` marker) — with the version it points at and whether
    * that version still exists on disk. */
  def refs(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val onDisk = SnapshotTable.versions(root).toSet
    val named = SnapshotTable.refs(root).toSeq.map { case (full, v) =>
      val Array(kind, name) = full.split("\\.", 2)
      (name, kind, v, onDisk(v))
    }
    val main = {
      val v = SnapshotTable.latestVersion(root)
      if (v >= 0) Seq((SnapshotTable.MainBranch, "branch", v, onDisk(v)))
      else Seq.empty
    }
    (main ++ named.filterNot(_._1 == SnapshotTable.MainBranch))
      .sortBy(r => (r._2, r._1))
      .toDF("name", "kind", "version", "exists")
  }

  /** The commit ancestry of `version` (default: current) walked
    * oldest-first through the recorded parent chain — the Iceberg
    * `t$history` analog (is_current_ancestor is always true here by
    * construction; rolled-back-from versions simply aren't on the
    * walked chain). */
  def history(spark: SparkSession, root: String,
              version: Long = -1L): DataFrame = {
    import spark.implicits._
    val head = if (version >= 0) version
    else SnapshotTable.latestVersion(root)
    require(head >= 0, s"no committed version at $root")
    val chain = Iterator.iterate(head)(SnapshotTable.parentVersion(root, _))
      .takeWhile(_ >= 0).toSeq.reverse
    chain.zipWithIndex.map { case (v, i) =>
      (i.toLong, v, SnapshotTable.parentVersion(root, v),
        SnapshotTable.isCommitted(root, v))
    }.toDF("ordinal", "version", "parent", "is_committed")
  }

  /** The table's declared PROPERTIES as one (key, value) row each —
    * the `SHOW TBLPROPERTIES` / Iceberg `t$properties` analog: current
    * version, partition spec, declared write order (+ mode), CHECK
    * constraints, initial defaults, and per-version stats/bloom
    * sidecar coverage. Pure metadata-file reads — zero data bytes at
    * any table size. */
  def properties(spark: SparkSession, root: String,
                 version: Long = -1L): DataFrame = {
    import spark.implicits._
    val v = if (version >= 0) version else SnapshotTable.latestVersion(root)
    require(v >= 0, s"no committed version at $root")
    val rows = Seq.newBuilder[(String, String)]
    rows += ("version.current" -> v.toString)
    SnapshotTable.partitionSpec(root).foreach(s =>
      rows += ("partition.spec" -> s))
    SnapshotTable.sortOrderSpec(root).foreach { case (cols, z) =>
      rows += ("write.order" -> cols.mkString(","))
      rows += ("write.order.mode" -> (if (z) "zorder" else "sort"))
    }
    SnapshotTable.constraints(root).foreach { case (n, e) =>
      rows += (s"constraint.$n" -> e)
    }
    val fieldNames = SnapshotTable.fieldIds(root, v).map(_.toMap)
    SnapshotTable.columnDefaults(root, v).foreach { case (id, d) =>
      val col = fieldNames.flatMap(_.get(id)).getOrElse(id.toString)
      rows += (s"default.$col" -> d)
    }
    val cov = SnapshotTable.coverage(root, v)
    if (cov.stats.nonEmpty)
      rows += ("stats.columns" -> cov.stats.mkString(","))
    if (cov.blooms.nonEmpty)
      rows += ("bloom.columns" -> cov.blooms.mkString(","))
    if (cov.ndv.nonEmpty) {
      rows += ("ndv.columns" -> cov.ndv.mkString(","))
      // folded table-level estimates (sketch union over live files —
      // sidecar reads only, memoized; columns with partial file
      // coverage are absent)
      SnapshotTable.tableNdv(spark, root, v).toSeq.sortBy(_._1)
        .foreach { case (c, n) => rows += (s"ndv.$c" -> n.ndv.toString) }
    }
    rows.result().toDF("key", "value")
  }
}
