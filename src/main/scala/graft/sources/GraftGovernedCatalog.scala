package graft.sources

import java.util.{Collections, Map => JMap}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, SupportsNamespaces, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
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
  * - Tables are the one [[GraftTable]] over a governed
  *   [[TableHandle]]: `INSERT INTO` (the O(batch) partition
  *   fast-append), `INSERT OVERWRITE`, CTAS, `DELETE`, `TRUNCATE`,
  *   `MERGE` and `UPDATE` each land as ONE atomic catalog commit,
  *   retried against concurrent committers — a full replace never
  *   re-stages onto a table another writer moved.
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
    governedTable(ident, None)
  }

  /** `VERSION AS OF x`: a catalog COMMIT number, else a catalog tag,
    * else a branch head ([[TableHandle.versionOf]]). */
  override def loadTable(ident: Identifier, version: String): Table = {
    val commit = version.toLongOption
      .orElse(scala.util.Try(Catalog.tagCommit(root, version)).toOption)
    governedTable(ident,
      Some(version).filterNot(_ => commit.contains(Catalog.latestCommit(root))))
  }

  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val c = Catalog.resolveAsOf(root, timestampMicros / 1000L)
    governedTable(ident,
      Some(c.toString).filterNot(_ => c == Catalog.latestCommit(root)))
  }

  /** Table `ident` live (`pin` = None) or at `pin`, a `versionAsOf` pin
    * (read-only time travel). The table keeps the pin as given, so it
    * resolves through the handle's catalog refs exactly as a reader's
    * own `versionAsOf` option does; a pin at the latest commit is
    * live. */
  private def governedTable(ident: Identifier, pin: Option[String]): Table = {
    requireTop(ident.namespace())
    val t = new TableHandle(Some(root), ident.name())
    val version = pin.fold(t.version)(t.versionOf)
    if (version < 0) throw new NoSuchTableException(ident)
    val data = SnapshotTable.read(SparkSession.active, t.root, version).schema
    val schema = SnapshotTable.recordedSchema(t.root, version)
      .fold(data)(GraftDataSource.declaredOrder(data, _))
    val opts = pin.fold(Collections.emptyMap[String, String]())(
      Collections.singletonMap("versionAsOf", _))
    new GraftTable(t, schema, new CaseInsensitiveStringMap(opts))
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
    new GraftTable(new TableHandle(Some(root), ident.name()), schema,
      CaseInsensitiveStringMap.empty(), firstWrite = true)
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
