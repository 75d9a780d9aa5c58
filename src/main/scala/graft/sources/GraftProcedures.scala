package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types.{BooleanType, DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.{Catalog, Maintenance, SnapshotTable}

/** Maintenance STORED PROCEDURES — `CALL cat.system.proc(...)` (the
  * Iceberg `system.*` procedure surface on the snapshot format, via
  * Spark 4's DSv2 `ProcedureCatalog`): compaction, snapshot/commit
  * expiry, orphan sweeps, rollback, and tagging run from plain SQL on
  * the maintenance cadence. Every procedure returns its effect as
  * rows (versions removed, the new version/commit) through a
  * driver-local scan — these are metadata-sized results by nature. */
private[sources] object GraftProcedures {

  /** One procedure: fixed IN parameters, a driver-side body, rows out. */
  private[sources] def proc(pname: String, ps: Seq[(String, DataType)],
                            out: StructType)
                           (body: InternalRow => Seq[InternalRow])
      : UnboundProcedure = new UnboundProcedure {
    override def name(): String = pname
    override def description(): String = s"graft maintenance: $pname"
    override def bind(inputType: StructType): BoundProcedure =
      new BoundProcedure {
        override def name(): String = pname
        override def description(): String = s"graft maintenance: $pname"
        override def parameters(): Array[ProcedureParameter] =
          ps.map { case (n, t) => ProcedureParameter.in(n, t).build() }
            .toArray
        override def isDeterministic: Boolean = false
        override def call(input: InternalRow): java.util.Iterator[Scan] = {
          val result = body(input).toArray
          java.util.List.of[Scan](new LocalScan {
            override def rows(): Array[InternalRow] = result
            override def readSchema(): StructType = out
          }).iterator()
        }
      }
  }

  private def row(vs: Any*): InternalRow =
    new GenericInternalRow(vs.map {
      case s: String => UTF8String.fromString(s): Any
      case other => other
    }.toArray)

  private def versionRows(vs: Seq[Long]): Seq[InternalRow] =
    vs.map(v => row(v))

  private val VersionOut = StructType(Seq(StructField("version", LongType)))
  private val CommitOut = StructType(Seq(StructField("commit", LongType)))

  /** Every name [[warehouse]] binds — `listProcedures` derives from
    * this so SHOW PROCEDURES can never under-report the callable
    * surface (a case added below must be added here; ProcedureSpec
    * pins that each listed name loads). */
  val warehouseNames: Seq[String] = Seq(
    "expire_snapshots", "sweep_orphans", "compact", "rollback",
    "create_tag", "apply_deletes", "migrate_spec", "collect_stats",
    "collect_blooms", "collect_ndv", "set_sort_order", "add_constraint",
    "drop_constraint", "create_branch", "fast_forward")

  /** Every name [[governed]] binds (same listing contract). */
  val governedNames: Seq[String] = Seq(
    "rollback", "expire_commits", "compact", "tag", "create_branch",
    "fast_forward_main", "collect_stats", "collect_blooms",
    "collect_ndv")

  /** The warehouse catalog's `system.*` procedures; `table` is the
    * dot-joined path under the warehouse (`db.t`). */
  def warehouse(rootOf: String => String): PartialFunction[String, UnboundProcedure] = {
    case "expire_snapshots" =>
      proc("expire_snapshots",
        Seq("table" -> StringType, "retain_last" -> IntegerType),
        VersionOut) { in =>
        versionRows(SnapshotTable.expireSnapshots(
          rootOf(in.getUTF8String(0).toString), in.getInt(1)))
      }
    case "sweep_orphans" =>
      proc("sweep_orphans",
        Seq("table" -> StringType, "grace_ms" -> LongType),
        VersionOut) { in =>
        versionRows(SnapshotTable.sweepOrphans(
          rootOf(in.getUTF8String(0).toString), in.getLong(1)))
      }
    case "compact" =>
      compact(VersionOut, (table, partitionCol, minEntries) =>
        Maintenance.compactAppends(SparkSession.active, rootOf(table),
          partitionCol, minEntries))
    case "rollback" =>
      proc("rollback",
        Seq("table" -> StringType, "version" -> LongType),
        VersionOut) { in =>
        val root = rootOf(in.getUTF8String(0).toString)
        SnapshotTable.rollback(root, in.getLong(1))
        Seq(row(SnapshotTable.latestVersion(root)))
      }
    case "create_tag" =>
      proc("create_tag",
        Seq("table" -> StringType, "name" -> StringType),
        VersionOut) { in =>
        Seq(row(SnapshotTable.createTag(
          rootOf(in.getUTF8String(0).toString),
          in.getUTF8String(1).toString)))
      }
    case "apply_deletes" => // rewrite_position_delete_files: fold MoR
      proc("apply_deletes", Seq("table" -> StringType), VersionOut) { in =>
        Seq(row(SnapshotTable.applyDeletes(SparkSession.active,
          rootOf(in.getUTF8String(0).toString))))
      }
    case "migrate_spec" => // rewrite_data_files after spec evolution
      proc("migrate_spec", Seq("table" -> StringType), VersionOut) { in =>
        Seq(row(SnapshotTable.migrateSpec(SparkSession.active,
          rootOf(in.getUTF8String(0).toString))))
      }
    case n if analyzers.contains(n) => analyze(n, t => rootOf(t) -> -1L)
    case "set_sort_order" => // WRITE ORDERED BY / OPTIMIZE ZORDER BY
      proc("set_sort_order",
        Seq("table" -> StringType, "columns" -> StringType,
          "zorder" -> BooleanType),
        StructType(Seq(StructField("order", StringType)))) { in =>
        val cols = in.getUTF8String(1).toString.split(",").map(_.trim)
          .filter(_.nonEmpty).toSeq
        SnapshotTable.setSortOrder(
          rootOf(in.getUTF8String(0).toString), cols, in.getBoolean(2))
        Seq(row((if (in.getBoolean(2)) "zorder:" else "") +
          cols.mkString(",")))
      }
    case "add_constraint" => // Delta ALTER TABLE ADD CONSTRAINT analog
      proc("add_constraint",
        Seq("table" -> StringType, "name" -> StringType,
          "expr" -> StringType),
        StructType(Seq(StructField("constraint", StringType)))) { in =>
        val cname = in.getUTF8String(1).toString
        SnapshotTable.addConstraint(SparkSession.active,
          rootOf(in.getUTF8String(0).toString), cname,
          in.getUTF8String(2).toString)
        Seq(row(cname))
      }
    case "drop_constraint" =>
      proc("drop_constraint",
        Seq("table" -> StringType, "name" -> StringType),
        StructType(Seq(StructField("constraint", StringType)))) { in =>
        val cname = in.getUTF8String(1).toString
        SnapshotTable.dropConstraint(
          rootOf(in.getUTF8String(0).toString), cname)
        Seq(row(cname))
      }
    case "create_branch" =>
      proc("create_branch",
        Seq("table" -> StringType, "name" -> StringType),
        VersionOut) { in =>
        Seq(row(SnapshotTable.createBranch(
          rootOf(in.getUTF8String(0).toString),
          in.getUTF8String(1).toString)))
      }
    case "fast_forward" => // git-ancestor-rule publish of a branch head
      proc("fast_forward",
        Seq("table" -> StringType, "to" -> StringType,
          "from" -> StringType),
        VersionOut) { in =>
        Seq(row(SnapshotTable.fastForward(
          rootOf(in.getUTF8String(0).toString),
          in.getUTF8String(1).toString, in.getUTF8String(2).toString)))
      }
  }

  /** The governed catalog's `system.*` procedures over `catalogRoot`. */
  def governed(catalogRoot: String): PartialFunction[String, UnboundProcedure] = {
    case "rollback" =>
      proc("rollback", Seq("commit" -> LongType), CommitOut) { in =>
        Catalog.rollback(catalogRoot, in.getLong(0))
        Seq(row(Catalog.latestCommit(catalogRoot)))
      }
    case "expire_commits" =>
      proc("expire_commits",
        Seq("retain_last" -> IntegerType, "grace_ms" -> LongType),
        CommitOut) { in =>
        val (removed, _) = Catalog.expireCommits(catalogRoot,
          in.getInt(0), in.getLong(1))
        removed.map(c => row(c))
      }
    case "compact" =>
      compact(CommitOut,
        Catalog.compactTable(SparkSession.active, catalogRoot, _, _, _))
    case "tag" =>
      proc("tag", Seq("name" -> StringType, "commit" -> LongType),
        CommitOut) { in =>
        Seq(row(Catalog.tag(catalogRoot, in.getUTF8String(0).toString,
          in.getLong(1))))
      }
    case "create_branch" =>
      proc("create_branch", Seq("name" -> StringType), CommitOut) { in =>
        Seq(row(Catalog.createBranch(catalogRoot,
          in.getUTF8String(0).toString)))
      }
    case "fast_forward_main" => // publish a branch head atomically
      proc("fast_forward_main", Seq("name" -> StringType),
        CommitOut) { in =>
        Seq(row(Catalog.fastForwardMain(catalogRoot,
          in.getUTF8String(0).toString)))
      }
    // the ANALYZE family works on governed tables too: sidecars are
    // per-STORAGE-VERSION metadata next to the data files, not catalog
    // state, so backfilling them needs no commit and every pinned read
    // of a covered version benefits. Governed tables have no table
    // marker — the current commit's manifest names the version.
    case n if analyzers.contains(n) =>
      analyze(n, { table =>
        val vs = Catalog.tableVersions(catalogRoot)
        require(vs.contains(table),
          s"no table '$table' in the current catalog commit")
        Catalog.tableRoot(catalogRoot, table) -> vs(table)
      })
  }

  /** `compact` for both catalogs (Iceberg's `rewrite_data_files` over
    * append-fragmented partitions): `run(table, partition_col,
    * min_entries)` compacts and returns the new version or commit. */
  private def compact(out: StructType, run: (String, String, Int) => Long)
      : UnboundProcedure =
    proc("compact",
      Seq("table" -> StringType, "partition_col" -> StringType,
        "min_entries" -> IntegerType), out) { in =>
      Seq(row(run(in.getUTF8String(0).toString,
        in.getUTF8String(1).toString, in.getInt(2))))
    }

  /** The ANALYZE family, one sidecar backfill per procedure:
    * `collect_stats` (skipping stats), `collect_blooms` (its
    * point-lookup twin) and `collect_ndv` (Iceberg's
    * `compute_table_stats`: NDV sketches plus min/max, for CBO join
    * estimation — the folded estimates land in the table's properties
    * as `ndv.<col>`). */
  private val analyzers
      : Map[String, (SparkSession, String, Seq[String], Long) => Seq[Long]] =
    Map("collect_stats" -> SnapshotTable.collectStats,
      "collect_blooms" -> SnapshotTable.collectBlooms,
      "collect_ndv" -> SnapshotTable.collectNdv)

  /** One ANALYZE procedure for both catalogs: `resolve` maps the
    * `table` argument to its (root, version), -1 meaning the table's
    * current version. */
  private def analyze(pname: String, resolve: String => (String, Long))
      : UnboundProcedure =
    proc(pname, Seq("table" -> StringType, "columns" -> StringType),
      VersionOut) { in =>
      val (root, v) = resolve(in.getUTF8String(0).toString)
      versionRows(analyzers(pname)(SparkSession.active, root,
        in.getUTF8String(1).toString.split(",").map(_.trim)
          .filter(_.nonEmpty).toSeq, v))
    }

  /** Resolve `ident` (must be `system.<name>`) through `procs`. */
  def load(ident: Identifier,
           procs: PartialFunction[String, UnboundProcedure]): UnboundProcedure = {
    require(ident.namespace().sameElements(Array("system")),
      s"procedures live in the 'system' namespace (got $ident)")
    procs.applyOrElse(ident.name(), (n: String) =>
      throw new NoSuchElementException(s"unknown procedure system.$n"))
  }
}
