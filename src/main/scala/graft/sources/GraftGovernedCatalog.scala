package graft.sources

import java.util.{Collections, Map => JMap}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, SupportsNamespaces, SupportsRead, SupportsWrite, Table, TableCapability, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.operators.{Catalog, SnapshotTable}

/** The GOVERNED catalog as a Spark SQL catalog — the Nessie+Trino
  * surface of the reference (`infrastructure/init/nessie_setup.py:32-60`
  * + `trino/catalog/iceberg.properties:1-6`): multi-table commits,
  * cross-table consistency, catalog-level time travel — from SQL.
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.gov", classOf[GraftGovernedCatalog].getName)
  *   spark.conf.set("spark.sql.catalog.gov.root", "/data/catalog")
  *   spark.sql("SELECT * FROM gov.bronze")                  // latest commit
  *   spark.sql("SELECT * FROM gov.bronze VERSION AS OF 3")  // CATALOG commit 3
  *   spark.sql("SELECT * FROM gov.bronze VERSION AS OF 'audit'") // tag/branch
  *   spark.sql("SELECT * FROM gov.bronze TIMESTAMP AS OF '...'")
  *   spark.sql("INSERT INTO gov.bronze SELECT ...")         // atomic commit
  * }}}
  *
  * - `VERSION AS OF` pins a CATALOG COMMIT (number), a catalog tag, or
  *   a branch head — so two tables read at the same pin are mutually
  *   consistent, the [[Catalog]] isolation guarantee surfaced to SQL.
  * - `TIMESTAMP AS OF` resolves through [[Catalog.resolveAsOf]].
  * - `INSERT INTO` a partitioned table lands as ONE atomic catalog
  *   commit of an O(batch) partition fast-append, CAS-retried against
  *   concurrent committers (the [[graft.streaming.GovernedStream]]
  *   protocol without the streaming batch id); `INSERT OVERWRITE` is a
  *   full-replace [[Catalog.transact]]. CTAS transacts the query
  *   result as a new governed table.
  * - `CREATE TABLE` commits an empty first snapshot (durable, CTAS's
  *   write replaces it); DDL that would bypass catalog history refuses
  *   (`ALTER`/`RENAME` throw; `DROP` is a documented no-op so a failed
  *   CTAS cleanup can't mask the real error) — governed history is
  *   rolled back or expired through [[Catalog]], never edited in place.
  */
class GraftGovernedCatalog extends TableCatalog with SupportsNamespaces
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog
    with org.apache.spark.sql.connector.catalog.ViewCatalog {

  private var catalogName: String = _
  private var root: String = _

  override def initialize(name: String,
                          options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    val r = options.get("root")
    require(r != null && r.nonEmpty,
      s"governed catalog '$name' needs spark.sql.catalog.$name.root")
    root = r
  }

  override def name(): String = catalogName

  private def requireTop(namespace: Array[String]): Unit =
    if (namespace.nonEmpty) throw new NoSuchNamespaceException(namespace)

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    requireTop(namespace)
    Catalog.tables(root).map(Identifier.of(Array.empty[String], _)).toArray
  }

  override def tableExists(ident: Identifier): Boolean =
    ident.namespace().isEmpty &&
      Catalog.tableVersions(root).contains(ident.name())

  override def loadTable(ident: Identifier): Table = {
    // `gov.t.files` etc. — the metadata relations over a governed
    // table's root (all versions; the catalog pin governs DATA reads)
    if (ident.namespace().length == 1 &&
        Catalog.tableVersions(root).contains(ident.namespace().head)) {
      val tbl = ident.namespace().head
      val tr = Catalog.tableRoot(root, tbl)
      GraftMetadataTable.forKind(SparkSession.active, tr, ident.name(),
          version = Catalog.tableVersions(root)(tbl))
        .foreach { mk =>
          return new GraftMetadataTable(s"$tbl.${ident.name()}", mk)
        }
    }
    loadAtCommit(ident, Catalog.latestCommit(root))
  }

  /** `VERSION AS OF x`: a catalog COMMIT number, else a catalog tag,
    * else a branch head. Only the TAG RESOLUTION itself may fall
    * through to the branch lookup — a table genuinely absent at a
    * valid tag's commit must surface as NoSuchTable, not a misleading
    * branch-not-found. */
  override def loadTable(ident: Identifier, version: String): Table =
    version.toLongOption match {
      case Some(c) => loadAtCommit(ident, c)
      case None =>
        scala.util.Try(Catalog.tagCommit(root, version)).toOption match {
          case Some(c) => loadAtCommit(ident, c)
          case None => loadBranch(ident, version)
        }
    }

  override def loadTable(ident: Identifier, timestampMicros: Long): Table =
    loadAtCommit(ident, Catalog.resolveAsOf(root, timestampMicros / 1000L))

  private def loadBranch(ident: Identifier, branch: String): Table = {
    val vs = Catalog.branchVersions(root, branch)
    val v = vs.getOrElse(ident.name(),
      throw new NoSuchTableException(ident))
    governedTable(ident.name(), v, writable = false)
  }

  private def loadAtCommit(ident: Identifier, commit: Long): Table = {
    requireTop(ident.namespace())
    val vs = Catalog.tableVersions(root, commit)
    val v = vs.getOrElse(ident.name(),
      throw new NoSuchTableException(ident))
    governedTable(ident.name(), v,
      writable = commit == Catalog.latestCommit(root))
  }

  private def governedTable(table: String, version: Long,
                            writable: Boolean): Table = {
    val tr = Catalog.tableRoot(root, table)
    val data = SnapshotTable.read(SparkSession.active, tr, version).schema
    // keep the DECLARED column order (the recorded schema follows
    // evolution: added columns append at the end) — storage surfaces
    // the partition column last, which would misalign positional
    // star expansion in MERGE/INSERT after an ADD COLUMN
    val schema = SnapshotTable.recordedSchema(tr, version) match {
      case Some(rec) =>
        val declared = rec.fieldNames.filter(data.fieldNames.contains)
        val rest = data.fieldNames.filterNot(declared.contains)
        StructType((declared ++ rest).map(n => data(n)).toSeq)
      case None => data
    }
    new GraftGovernedTable(root, table, tr, version, schema, writable)
  }

  /** CREATE TABLE commits the table's EMPTY first snapshot through a
    * catalog transaction (so a plain CREATE is durable and immediately
    * queryable); a CTAS's following write REPLACES that empty snapshot
    * in a second commit. */
  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: JMap[String, String]): Table = {
    requireTop(ident.namespace())
    if (tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(ident)
    require(Catalog.viewBody(root, ident.name()).isEmpty,
      s"'${ident.name()}' already exists as a VIEW")
    require(partitions.isEmpty,
      "governed tables take their layout from the written data; evolve " +
        "with Catalog.transactDelta / Layout instead of PARTITIONED BY")
    val s = SparkSession.active
    val empty = s.createDataFrame(
      s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    Catalog.transact(root, Seq(ident.name() -> empty))
    new GraftGovernedTable(root, ident.name(),
      Catalog.tableRoot(root, ident.name()),
      Catalog.tableVersions(root)(ident.name()), schema,
      writable = true, firstInsertReplaces = true)
  }

  /** Column evolution on a governed table — `ALTER TABLE gov.t
    * ADD/RENAME/DROP COLUMN` — publishes each metadata-only evolution
    * version as ONE atomic catalog commit (CAS-retried like every
    * governed write): no history is bypassed — the evolution IS a
    * commit, time travel reads old commits under their schema, and
    * [[Catalog.rollback]] rewinds it like any other. Non-column ALTERs
    * still refuse. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    requireTop(ident.namespace())
    changes.foreach {
      case a: TableChange.AddColumn =>
        require(a.fieldNames.length == 1,
          "nested column add is not supported")
        require(a.isNullable,
          "an added column must be nullable: existing files have no " +
            "values for it and read as NULL (or the DEFAULT)")
        evolveCas(ident.name(), "add", a.fieldNames.head, None,
          Some(a.dataType), Option(a.defaultValue()).map(_.getSql))
      case r: TableChange.RenameColumn =>
        require(r.fieldNames.length == 1,
          "nested column rename is not supported")
        evolveCas(ident.name(), "rename", r.fieldNames.head,
          Some(r.newName), None)
      case d: TableChange.DeleteColumn =>
        require(d.fieldNames.length == 1,
          "nested column drop is not supported")
        evolveCas(ident.name(), "drop", d.fieldNames.head, None, None)
      case c => throw new UnsupportedOperationException(
        "governed tables support column ADD/RENAME/DROP evolution " +
          s"only (history is append-only); got ALTER change $c")
    }
    loadTable(ident)
  }

  private def evolveCas(table: String, op: String, name: String,
                        to: Option[String],
                        addType: Option[org.apache.spark.sql.types.DataType],
                        default: Option[String] = None): Long =
    Catalog.publishTable(root, table) { prev =>
      if (prev < 0) throw new NoSuchTableException(
        Identifier.of(Array.empty[String], table))
      SnapshotTable.stageMetadataEvolution(SparkSession.active,
        Catalog.tableRoot(root, table), op, name, to, addType, prev, default)
    }

  /** Governed history is append-only — tables retire through
    * [[Catalog.rollback]]/expiry, never an in-place drop. Returns
    * false (a no-op) instead of throwing so a failed CTAS's cleanup
    * drop cannot mask the write's real error. */
  override def dropTable(ident: Identifier): Boolean = false

  override def renameTable(from: Identifier, to: Identifier): Unit =
    throw new UnsupportedOperationException(
      "governed history is append-only: tables are never renamed in place")

  // CALL gov.system.rollback(c) / expire_commits / compact / tag —
  // catalog-level maintenance from SQL (every effect is itself a
  // commit or ref move, rollback-able like any other)
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    GraftProcedures.load(ident, GraftProcedures.governed(root))

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    GraftProcedures.governedNames
      .map(Identifier.of(Array("system"), _)).toArray

  // ───────────── persisted views (catalog-versioned DDL) ─────────────
  //
  // A governed view's definition is catalog state: CREATE/REPLACE/DROP
  // publish as ONE atomic catalog commit ([[Catalog.putView]] /
  // [[Catalog.dropView]]), rollback rewinds them with the data, and
  // `VERSION AS OF <commit>` resolves the definition AT that commit
  // with its table references pinned there too (the resolution rule in
  // [[GraftViews]] handles both halves — Spark's analyzer neither
  // routes view DDL to a ViewCatalog nor resolves SELECTs through it).

  private def flatName(ident: Identifier): String = {
    require(ident.namespace().isEmpty,
      s"the governed catalog is flat — view '$ident' cannot take a " +
        "namespace")
    ident.name()
  }

  override def viewExists(ident: Identifier): Boolean =
    ident.namespace().isEmpty &&
      Catalog.viewBody(root, ident.name()).isDefined

  override def loadView(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.View =
    loadViewAt(ident, -1L).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchViewException(ident))

  /** The view at a PINNED catalog commit (None when that commit
    * carries no such view) — what `VERSION AS OF` resolves through. */
  def loadViewAt(ident: Identifier, commit: Long)
      : Option[org.apache.spark.sql.connector.catalog.View] =
    Catalog.viewBody(root, flatName(ident), commit)
      .map(GraftSqlCatalog.parseView(ident.toString, _))

  override def createView(
      info: org.apache.spark.sql.connector.catalog.ViewInfo)
      : org.apache.spark.sql.connector.catalog.View = {
    val name = flatName(info.ident())
    if (viewExists(info.ident()))
      throw new org.apache.spark.sql.catalyst.analysis
        .ViewAlreadyExistsException(info.ident())
    Catalog.putView(root, name, GraftSqlCatalog.renderView(info))
    loadView(info.ident())
  }

  /** CREATE OR REPLACE as ONE atomic catalog commit (the default
    * implementation is drop-then-create — two commits — which would
    * expose a viewless intermediate state to time travel). */
  override def replaceView(
      info: org.apache.spark.sql.connector.catalog.ViewInfo,
      orCreate: Boolean): org.apache.spark.sql.connector.catalog.View = {
    val name = flatName(info.ident())
    if (!orCreate && !viewExists(info.ident()))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchViewException(info.ident())
    Catalog.putView(root, name, GraftSqlCatalog.renderView(info),
      replace = true)
    loadView(info.ident())
  }

  override def alterView(ident: Identifier,
                         changes: org.apache.spark.sql.connector.catalog.ViewChange*)
      : org.apache.spark.sql.connector.catalog.View =
    throw new UnsupportedOperationException(
      "governed view properties are immutable: DROP and re-CREATE")

  override def dropView(ident: Identifier): Boolean =
    ident.namespace().isEmpty && Catalog.dropView(root, ident.name())

  override def renameView(from: Identifier, to: Identifier): Unit =
    throw new UnsupportedOperationException(
      "governed views do not rename: DROP and re-CREATE (each is one " +
        "atomic rollback-able commit)")

  override def listViews(namespace: String*): Array[Identifier] = {
    require(namespace.isEmpty, "the governed catalog is flat")
    Catalog.viewNames(root)
      .map(Identifier.of(Array.empty[String], _)).toArray
  }

  // namespaces: the governed catalog is flat
  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty

  override def listNamespaces(): Array[Array[String]] = Array.empty

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    requireTop(namespace)
    Array.empty
  }

  override def loadNamespaceMetadata(namespace: Array[String]): JMap[String, String] = {
    requireTop(namespace)
    Collections.emptyMap()
  }

  override def createNamespace(namespace: Array[String],
                               metadata: JMap[String, String]): Unit =
    throw new UnsupportedOperationException("the governed catalog is flat")

  override def alterNamespace(namespace: Array[String],
                              changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("the governed catalog is flat")

  override def dropNamespace(namespace: Array[String],
                             cascade: Boolean): Boolean =
    throw new UnsupportedOperationException("the governed catalog is flat")
}

/** One governed table pinned at a snapshot version. Reads share the
  * connector's pushed-filter skipping scan; writes publish through
  * atomic catalog commits (CAS-retried). Time-travel pins are
  * read-only — only a table loaded at the LATEST commit writes. */
private[graft] class GraftGovernedTable(
    private[graft] val catalogRoot: String,
    private[graft] val table: String,
    private[graft] val tableRoot: String,
    version: Long,
    tableSchema: StructType,
    private[graft] val writable: Boolean,
    firstInsertReplaces: Boolean = false)
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete {

  import TableCapability._

  /** SQL `DELETE FROM gov.t WHERE ...` = ONE atomic catalog commit of
    * a merge-on-read position-delete sidecar
    * ([[Catalog.transactMorDelete]]) — governed row erasure from SQL,
    * rollback-able like any commit. Exact-translation-or-reject, and
    * only at the latest commit. */
  override def canDeleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    writable &&
      GraftDataSource.strictPredicateSql(filters.toSeq).isDefined &&
      SnapshotTable.manifestEntries(tableRoot, version).nonEmpty

  override def deleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    val sql = GraftDataSource.strictPredicateSql(filters.toSeq)
      .getOrElse(throw new UnsupportedOperationException(
        s"cannot translate delete predicate exactly: ${filters.mkString(", ")}"))
    Catalog.transactMorDelete(SparkSession.active, catalogRoot,
      Seq(table -> org.apache.spark.sql.functions.expr(sql)))
  }

  override def name(): String = s"governed.`$catalogRoot`.$table"

  override def schema(): StructType = tableSchema

  override def capabilities(): java.util.Set[TableCapability] =
    if (tableSchema.isEmpty)
      java.util.EnumSet.of(BATCH_READ, BATCH_WRITE, V1_BATCH_WRITE,
        TRUNCATE, ACCEPT_ANY_SCHEMA)
    else
      // MERGE WITH SCHEMA EVOLUTION: the analyzer publishes the
      // widening as this catalog's atomic ALTER commit first
      java.util.EnumSet.of(BATCH_READ, BATCH_WRITE, V1_BATCH_WRITE,
        TRUNCATE, AUTOMATIC_SCHEMA_EVOLUTION)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    require(version >= 0, s"table '$table' has no committed content yet")
    new GraftScanBuilder(tableRoot, version, tableSchema)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var overwrite = false
      override def truncate(): WriteBuilder = { overwrite = true; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation(): InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, legacy: Boolean): Unit = {
              require(writable,
                "time-travel pins are read-only; write at the latest commit")
              // firstInsertReplaces: the CTAS write following
              // createTable's empty snapshot replaces it
              if (overwrite || legacy || version < 0 || firstInsertReplaces)
                Catalog.transact(catalogRoot, Seq(table -> data))
              else Catalog.publishTable(catalogRoot, table) { prev =>
                // INSERT INTO is the O(batch) partition fast-append
                val spec = SnapshotTable.partitionSpecAt(tableRoot,
                  math.max(prev, 0L)).getOrElse(throw new IllegalArgumentException(
                    s"INSERT INTO governed table '$table' is the partition " +
                      "fast-append and needs a partitioned layout; use " +
                      "INSERT OVERWRITE (full transact) on flat tables"))
                SnapshotTable.stageAppend(data, tableRoot, spec, prev)
              }
            }
          }
      }
    }
}
