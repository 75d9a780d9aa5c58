package graft.sources

import java.util.{Collections, Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NoSuchTableException, NoSuchViewException, TableAlreadyExistsException, ViewAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, ProcedureCatalog, SupportsNamespaces, Table, TableCatalog, TableCatalogCapability, TableChange, View, ViewCatalog, ViewChange, ViewInfo}
import org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{DataType, Metadata, MetadataBuilder, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.operators.{Catalog, MetaIO, SnapshotTable}

/** Graft tables as a Spark SQL catalog — names instead of paths:
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.g", classOf[GraftSqlCatalog].getName)
  *   spark.conf.set("spark.sql.catalog.g.warehouse", "/data/warehouse")
  *   spark.sql("CREATE TABLE g.db.trades (...) PARTITIONED BY (trade_date)")
  *   spark.sql("INSERT INTO g.db.trades SELECT ...")
  *   spark.sql("SELECT * FROM g.db.trades VERSION AS OF 3")
  *   spark.sql("ALTER TABLE g.db.trades RENAME COLUMN price TO px")
  * }}}
  *
  * The reference serves its Iceberg tables by NAME through a catalog
  * (Nessie + `trino/catalog/iceberg.properties:1-6`); this is that
  * surface on the snapshot format, one DSv2 [[TableCatalog]],
  * namespace, procedure and [[ViewCatalog]] for both table kinds. This
  * class serves a warehouse directory of plain tables: identifier
  * `ns1.ns2.t` maps to the snapshot-table root `<warehouse>/ns1/ns2/t`.
  * [[GraftGovernedCatalog]] serves the flat tables of a governed
  * [[Catalog]] (option `root`). Each identifier resolves to one
  * [[TableHandle]], and everything below runs once over it:
  *
  * - `VERSION AS OF` accepts an offset (a plain table's version, a
  *   catalog commit), a tag, or a branch ([[TableHandle.versionOf]]);
  *   `TIMESTAMP AS OF` resolves the newest offset committed at or
  *   before the instant ([[TableHandle.offsetAsOf]]). A pin is
  *   read-only time travel, except that a governed pin at the latest
  *   commit reads the live table.
  * - `ALTER TABLE ... ADD/RENAME/DROP COLUMN` is the metadata-only
  *   field-id evolution ([[SnapshotTable.stageMetadataEvolution]]) —
  *   one commit, no rewrite.
  * - `db.t.files` / `.snapshots` / `.refs` / `.history` /
  *   `.properties` are the metadata tables of `db.t`.
  *
  * What really differs per kind lives in one [[GraftSqlCatalog.Store]]:
  * namespaces (directories vs flat), table listing, CREATE/DROP/RENAME
  * TABLE, view storage, the `_table` sidecar, CHECK constraints and
  * the procedures. */
class GraftSqlCatalog private[sources] (governed: Boolean)
    extends TableCatalog with SupportsNamespaces with ProcedureCatalog
    with ViewCatalog {

  def this() = this(false)

  import GraftSqlCatalog._

  private var catalogName: String = _
  private var store: Store = _

  override def initialize(name: String,
                          options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    store = if (governed) new Governed(name, options) else new Warehouse(name, options)
  }

  override def name(): String = catalogName

  override def capabilities(): java.util.Set[TableCatalogCapability] =
    store.capabilities

  private def spark: SparkSession = SparkSession.active

  // ───────────────────────────── tables ─────────────────────────────

  /** The existing table `ident` names, if any. */
  private def tableOf(ident: Identifier): Option[TableHandle] =
    store.handle(ident).filter(store.exists)

  private def requireTable(ident: Identifier): TableHandle =
    tableOf(ident).getOrElse(throw new NoSuchTableException(ident))

  override def tableExists(ident: Identifier): Boolean = tableOf(ident).nonEmpty

  override def listTables(namespace: Array[String]): Array[Identifier] =
    store.listTables(namespace)

  override def loadTable(ident: Identifier): Table = {
    // metadata tables resolve as `db.t.files` (the Iceberg dot-suffix
    // form): when the identifier's last namespace part IS a table, the
    // name selects the inspection relation of its current version
    if (tableOf(ident).isEmpty && ident.namespace().nonEmpty) {
      val parent = Identifier.of(ident.namespace().init, ident.namespace().last)
      tableOf(parent)
        .flatMap(h => GraftMetadataTable.forKind(spark, h.root, ident.name(), h.version))
        .foreach(mk => return new GraftMetadataTable(s"${parent.name()}.${ident.name()}", mk))
    }
    load(ident, None)
  }

  override def loadTable(ident: Identifier, version: String): Table =
    load(ident, Some(version))

  /** `TIMESTAMP AS OF t` (microseconds): the table at the newest offset
    * committed at or before the instant. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table =
    load(ident, Some(requireTable(ident).offsetAsOf(timestampMicros / 1000L).toString))

  /** Table `ident` live (`pin` = None) or at `pin`, a `versionAsOf`
    * pin. The table keeps the pin as given, so it resolves through the
    * handle's refs exactly as a reader's own `versionAsOf` option does.
    * The schema is the data's in the declared order. */
  private def load(ident: Identifier, pin: Option[String]): Table = {
    val h = requireTable(ident)
    val version = pin.fold(h.version)(h.versionOf)
    if (pin.nonEmpty && version < 0) throw new NoSuchTableException(ident)
    val meta = store.meta(h, version)
    val schema =
      if (version < 0) meta.fold(new StructType())(_.schema)
      else {
        val data = SnapshotTable.read(spark, h.root, version).schema
        meta.fold(data)(m => GraftDataSource.declaredOrder(data, m.schema))
      }
    val opts = meta.fold(Map.empty[String, String])(_.writeOptions) ++
      pin.flatMap(store.pinned(h, _)).map("versionAsOf" -> _)
    new GraftTable(h, schema, new CaseInsensitiveStringMap(opts.asJava))
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: JMap[String, String]): Table = {
    val h = store.handle(ident)
      .getOrElse(throw new NoSuchNamespaceException(ident.namespace()))
    if (store.exists(h)) throw new TableAlreadyExistsException(ident)
    require(!viewExists(ident), s"$ident already exists as a VIEW")
    val firstWrite = store.create(h, schema, partitions, properties.asScala.toMap)
    new GraftTable(h, schema, new CaseInsensitiveStringMap(
      store.meta(h, h.version).fold(Map.empty[String, String])(_.writeOptions).asJava),
      firstWrite)
  }

  /** Column ADD/RENAME/DROP land as one metadata-only field-id
    * evolution commit on either kind: time travel reads older versions
    * under their schema, and rollback rewinds it like any commit.
    * Other changes are the kind's ([[Store.alter]]). */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val h = requireTable(ident)
    def evolve(op: String, field: Array[String], to: Option[String],
               addType: Option[DataType], default: Option[String])
              (declared: StructType => StructType): Unit = {
      require(field.length == 1, s"nested column $op is not supported")
      h.publish(SnapshotTable.stageMetadataEvolution(spark, h.root, op,
        field.head, to, addType, _, default))
      store.evolved(h)(declared)
    }
    changes.foreach {
      case a: TableChange.AddColumn =>
        require(a.isNullable,
          "an added column must be nullable: existing files have no " +
            "values for it and read as NULL (or the DEFAULT)")
        // `ADD COLUMN ... DEFAULT <lit>` lands as the initial-default:
        // pre-add files read the literal, post-add writes their real
        // values. A declared schema keeps the CURRENT_DEFAULT metadata
        // too, so later INSERTs that OMIT the column fill the default
        // (Spark's own resolution, as CREATE TABLE defaults behave).
        val default = Option(a.defaultValue()).map(_.getSql)
        val meta = default.fold(Metadata.empty)(d => new MetadataBuilder()
          .putString("CURRENT_DEFAULT", d).putString("EXISTS_DEFAULT", d).build())
        evolve("add", a.fieldNames, None, Some(a.dataType), default)(
          _.add(StructField(a.fieldNames.head, a.dataType, nullable = true, meta)))
      case r: TableChange.RenameColumn =>
        evolve("rename", r.fieldNames, Some(r.newName), None, None)(sch =>
          StructType(sch.fields.map(f =>
            if (f.name == r.fieldNames.head) f.copy(name = r.newName) else f)))
      case d: TableChange.DeleteColumn =>
        evolve("drop", d.fieldNames, None, None, None)(sch =>
          StructType(sch.fields.filterNot(_.name == d.fieldNames.head)))
      case c => store.alter(h, c)
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = tableOf(ident).exists(store.drop)

  override def renameTable(from: Identifier, to: Identifier): Unit =
    store.rename(requireTable(from), to)

  // ─────────────────────────── namespaces ───────────────────────────

  override def namespaceExists(namespace: Array[String]): Boolean =
    store.namespaceExists(namespace)

  override def listNamespaces(): Array[Array[String]] = listNamespaces(Array.empty[String])

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    store.listNamespaces(namespace)
  }

  override def loadNamespaceMetadata(namespace: Array[String]): JMap[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    Collections.emptyMap()
  }

  override def createNamespace(namespace: Array[String],
                               metadata: JMap[String, String]): Unit =
    store.createNamespace(namespace)

  override def alterNamespace(namespace: Array[String],
                              changes: NamespaceChange*): Unit =
    store.alterNamespace()

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean =
    store.dropNamespace(namespace, cascade)

  // ───────────────────── maintenance procedures ─────────────────────
  // CALL g.system.expire_snapshots('db.t', 3) / compact / rollback /
  // create_tag ... — the Iceberg system.* surface; each kind has its
  // own procedure set ([[GraftProcedures]])

  override def loadProcedure(ident: Identifier): UnboundProcedure =
    GraftProcedures.load(ident, store.procedures)

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    store.procedureNames.map(Identifier.of(Array("system"), _)).toArray

  // ───────────────────────────── views ─────────────────────────────
  //
  // Persisted SQL views (the DSv2 ViewCatalog — the Trino-view / dbt
  // `materialized=view` serve surface; the reference's staging model
  // `stg_trades.sql` IS one): the stored definition carries no data,
  // and [[GraftViews]] substitutes it at analysis under its stored
  // catalog+namespace context. A view and a table never share a name.
  // A warehouse view is a `_view` file in its directory; a governed
  // view is catalog state, each DDL one atomic catalog commit, so
  // `VERSION AS OF <commit>` reads the definition at that commit.

  override def viewExists(ident: Identifier): Boolean =
    store.viewBody(ident, -1L).isDefined

  override def loadView(ident: Identifier): View =
    loadViewAt(ident, -1L).getOrElse(throw new NoSuchViewException(ident))

  /** The view at catalog commit `commit` (-1 = the latest). */
  private def loadViewAt(ident: Identifier, commit: Long): Option[View] =
    store.viewBody(ident, commit).map(parseView(ident.toString, _))

  /** View `ident` as of `pin` (a catalog commit or tag) with the
    * commit the pin names; None when the pin names no commit of this
    * catalog (a warehouse has no catalog commits) or the commit
    * carries no such view. */
  private[sources] def viewAsOf(ident: Identifier, pin: String): Option[(View, Long)] =
    store.commitOf(pin).flatMap(c => loadViewAt(ident, c).map(_ -> c))

  override def createView(info: ViewInfo): View = {
    if (viewExists(info.ident())) throw new ViewAlreadyExistsException(info.ident())
    putView(info, replace = false)
  }

  /** CREATE OR REPLACE as one definition overwrite (the default
    * drop-then-create would expose a viewless window). */
  override def replaceView(info: ViewInfo, orCreate: Boolean): View = {
    if (!orCreate && !viewExists(info.ident())) throw new NoSuchViewException(info.ident())
    putView(info, replace = true)
  }

  private def putView(info: ViewInfo, replace: Boolean): View = {
    require(!tableExists(info.ident()), s"${info.ident()} already exists as a TABLE")
    store.putView(info.ident(), renderView(info), replace)
    loadView(info.ident())
  }

  override def alterView(ident: Identifier, changes: ViewChange*): View =
    throw new UnsupportedOperationException(
      "view properties are immutable here: DROP and re-CREATE")

  override def dropView(ident: Identifier): Boolean = store.dropView(ident)

  override def renameView(from: Identifier, to: Identifier): Unit =
    store.renameView(from, to)

  override def listViews(namespace: String*): Array[Identifier] =
    store.listViews(namespace.toArray)
}

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
  *   spark.sql("INSERT INTO gov.bronze SELECT ...")         // atomic commit
  * }}}
  *
  * It is [[GraftSqlCatalog]] over the governed kind: `VERSION AS OF`
  * pins a CATALOG COMMIT, a catalog tag or a branch head, so two
  * tables read at one pin are mutually consistent; every write is one
  * atomic catalog commit. `CREATE TABLE` commits an empty first
  * snapshot; DDL that would bypass catalog history refuses (`RENAME`
  * throws; `DROP` is a documented no-op so a failed CTAS cleanup can't
  * mask the real error). */
class GraftGovernedCatalog extends GraftSqlCatalog(governed = true)

object GraftSqlCatalog {
  private val WriteOptionKeys = Set("partitionby", "statscols", "bloomcols")

  /** A table's declared schema (and for a warehouse table, its write
    * options), what its loaded schema is ordered by. */
  private[sources] case class TableMeta(schema: StructType,
                                        writeOptions: Map[String, String])

  private def option(name: String, options: CaseInsensitiveStringMap,
                     key: String, what: String): String = {
    val v = options.get(key)
    require(v != null && v.nonEmpty, s"$what '$name' needs spark.sql.catalog.$name.$key")
    v
  }

  /** What differs between the two kinds of catalog. */
  private abstract class Store {
    def capabilities: java.util.Set[TableCatalogCapability] = Collections.emptySet()

    /** The table `ident` would name (None: it cannot name one). */
    def handle(ident: Identifier): Option[TableHandle]
    def exists(h: TableHandle): Boolean = h.version >= 0
    def meta(h: TableHandle, version: Long): Option[TableMeta]
    /** The `versionAsOf` a loaded table keeps for `pin` (None = live). */
    def pinned(h: TableHandle, pin: String): Option[String] = Some(pin)
    def listTables(namespace: Array[String]): Array[Identifier]
    /** Create table `h`; true when its first write replaces what this
      * committed. */
    def create(h: TableHandle, schema: StructType, partitions: Array[Transform],
               properties: Map[String, String]): Boolean
    /** A column evolution landed; `declared` is its schema change. */
    def evolved(h: TableHandle)(declared: StructType => StructType): Unit = ()
    def alter(h: TableHandle, change: TableChange): Unit
    def drop(h: TableHandle): Boolean
    def rename(from: TableHandle, to: Identifier): Unit

    def namespaceExists(ns: Array[String]): Boolean
    def listNamespaces(ns: Array[String]): Array[Array[String]]
    def createNamespace(ns: Array[String]): Unit
    def alterNamespace(): Unit
    def dropNamespace(ns: Array[String], cascade: Boolean): Boolean

    def procedures: PartialFunction[String, UnboundProcedure]
    def procedureNames: Seq[String]

    /** The catalog commit `pin` names (None: not a commit here). */
    def commitOf(pin: String): Option[Long] = None
    /** View `ident`'s stored definition at `commit` (-1 = latest). */
    def viewBody(ident: Identifier, commit: Long): Option[String]
    def putView(ident: Identifier, body: String, replace: Boolean): Unit
    def dropView(ident: Identifier): Boolean
    def renameView(from: Identifier, to: Identifier): Unit
    def listViews(ns: Array[String]): Array[Identifier]
  }

  /** Plain tables in a warehouse directory. DDL state lives in a
    * `_table` sidecar (declared schema + write options), so an empty
    * CREATEd table is loadable before its first commit; a view is a
    * `_view` JSON file in its directory. */
  private final class Warehouse(name: String, options: CaseInsensitiveStringMap)
      extends Store {
    private val warehouse = option(name, options, "warehouse", "graft catalog")
      .stripSuffix("/")
    MetaIO.mkdirs(warehouse)

    private def dir(parts: Seq[String]): String = parts.foldLeft(warehouse)(MetaIO.join(_, _))
    private def rootOf(ident: Identifier): String = dir(ident.namespace() :+ ident.name())
    private def sidecar(root: String): String = MetaIO.join(root, "_table")
    private def viewFile(root: String): String = MetaIO.join(root, "_view")
    private def isTable(root: String): Boolean = exists(new TableHandle(None, root))
    private def isView(root: String): Boolean = MetaIO.exists(viewFile(root))

    /** The child directories of namespace `ns` that pass `keep`. */
    private def children(ns: Seq[String])(keep: String => Boolean): Seq[String] = {
      val d = dir(ns)
      if (!MetaIO.isDir(d)) throw new NoSuchNamespaceException(ns.toArray)
      MetaIO.list(d).filter(p => MetaIO.isDir(p) && keep(p)).map(MetaIO.name)
    }

    // admits `ALTER TABLE ... ADD COLUMN ... DEFAULT` and `ADD/DROP
    // CONSTRAINT ... CHECK` DDL (CHECK constraints land as the
    // write-enforced `_constraints` table metadata)
    override def capabilities: java.util.Set[TableCatalogCapability] =
      java.util.EnumSet.of(TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE,
        TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT)

    def handle(ident: Identifier): Option[TableHandle] =
      Some(new TableHandle(None, rootOf(ident)))

    override def exists(h: TableHandle): Boolean =
      MetaIO.exists(sidecar(h.root)) || super.exists(h)

    /** The sidecar's declared schema and write options; a version
      * older than the current one orders by its own recorded columns
      * (the sidecar follows every evolution). */
    def meta(h: TableHandle, version: Long): Option[TableMeta] = {
      val p = sidecar(h.root)
      if (!MetaIO.exists(p)) return None
      val lines = MetaIO.readString(p).linesIterator.toSeq
      val opts = lines.drop(1).filter(_.contains("=")).map { l =>
        val i = l.indexOf('=')
        l.substring(0, i) -> l.substring(i + 1)
      }.toMap
      val pinned = Option.when(version >= 0 && version != h.version)(
        SnapshotTable.recordedSchema(h.root, version)).flatten
      Some(TableMeta(pinned.getOrElse(
        DataType.fromJson(lines.head).asInstanceOf[StructType]), opts))
    }

    private def writeMeta(root: String, meta: TableMeta): Unit =
      MetaIO.writeString(sidecar(root), (meta.schema.json +:
        meta.writeOptions.toSeq.sorted.map { case (k, v) => s"$k=$v" }).mkString("\n"))

    def listTables(namespace: Array[String]): Array[Identifier] =
      children(namespace.toSeq)(isTable).map(Identifier.of(namespace, _)).toArray

    /** `PARTITIONED BY (c)` records the identity partition column, so
      * `INSERT INTO` lands as the O(batch) partition fast-append;
      * hidden partitioning uses the library's transform specs. */
    def create(h: TableHandle, schema: StructType, partitions: Array[Transform],
               properties: Map[String, String]): Boolean = {
      val partCols = partitions.toSeq.map { t =>
        require(t.name == "identity" && t.references.length == 1,
          s"graft catalog tables partition by identity columns only " +
            s"(got $t); use the library's transform partition specs for " +
            "hidden partitioning")
        t.references.head.fieldNames.mkString(".")
      }
      val writeOpts =
        (if (partCols.nonEmpty) Map("partitionBy" -> partCols.mkString(","))
         else Map.empty[String, String]) ++
          properties.filter(kv => WriteOptionKeys(kv._1.toLowerCase)) ++
          properties.collect { case (k, v) if k.startsWith(TableCatalog.OPTION_PREFIX) =>
            k.stripPrefix(TableCatalog.OPTION_PREFIX) -> v
          }
      MetaIO.mkdirs(h.root)
      writeMeta(h.root, TableMeta(schema, writeOpts))
      false
    }

    // the sidecar's DECLARED schema follows every evolution — a stale
    // one would reorder a renamed column to the end (the declared-order
    // rule keys on names) and serve an empty table's old schema
    override def evolved(h: TableHandle)(declared: StructType => StructType): Unit =
      meta(h, -1L).foreach(m => writeMeta(h.root, m.copy(schema = declared(m.schema))))

    def alter(h: TableHandle, change: TableChange): Unit = change match {
      // `ADD CONSTRAINT n CHECK (expr)`: existing rows are validated
      // first (the library rule)
      case ac: TableChange.AddConstraint => ac.constraint() match {
        case c: org.apache.spark.sql.connector.catalog.constraints.Check =>
          SnapshotTable.addConstraint(SparkSession.active, h.root, c.name(),
            c.predicateSql())
        case c => throw new UnsupportedOperationException(
          "only CHECK constraints are supported, got " + c.getClass.getSimpleName)
      }
      case dc: TableChange.DropConstraint =>
        if (!dc.ifExists || SnapshotTable.constraints(h.root).exists(_._1 == dc.name()))
          SnapshotTable.dropConstraint(h.root, dc.name())
      case c => throw new UnsupportedOperationException(
        s"graft catalog does not support ALTER change $c")
    }

    def drop(h: TableHandle): Boolean = {
      MetaIO.delete(h.root, recursive = true)
      true
    }

    def rename(from: TableHandle, to: Identifier): Unit = {
      val dst = rootOf(to)
      if (isTable(dst)) throw new TableAlreadyExistsException(to)
      MetaIO.mkdirs(dst.substring(0, dst.lastIndexOf('/')))
      MetaIO.moveTree(from.root, dst)
    }

    def namespaceExists(ns: Array[String]): Boolean =
      ns.isEmpty || (MetaIO.isDir(dir(ns)) && !isTable(dir(ns)))

    def listNamespaces(ns: Array[String]): Array[Array[String]] =
      children(ns.toSeq)(!isTable(_)).map(ns :+ _).toArray

    def createNamespace(ns: Array[String]): Unit = {
      if (MetaIO.exists(dir(ns))) throw new NamespaceAlreadyExistsException(ns)
      MetaIO.mkdirs(dir(ns))
    }

    def alterNamespace(): Unit =
      throw new UnsupportedOperationException("graft catalog namespaces carry no metadata")

    def dropNamespace(ns: Array[String], cascade: Boolean): Boolean = {
      if (!namespaceExists(ns) || ns.isEmpty) return false
      require(cascade || MetaIO.list(dir(ns)).isEmpty,
        s"namespace ${ns.mkString(".")} is not empty; use CASCADE")
      MetaIO.delete(dir(ns), recursive = true)
      true
    }

    // `table` arguments are dot-joined paths under the warehouse
    val procedures: PartialFunction[String, UnboundProcedure] =
      GraftProcedures.warehouse { dotted =>
        val p = dir(dotted.split("\\.").toSeq)
        require(isTable(p), s"no table '$dotted' in warehouse $warehouse")
        p
      }

    def procedureNames: Seq[String] = GraftProcedures.warehouseNames

    def viewBody(ident: Identifier, commit: Long): Option[String] = {
      val p = viewFile(rootOf(ident))
      Option.when(MetaIO.exists(p))(MetaIO.readString(p))
    }

    def putView(ident: Identifier, body: String, replace: Boolean): Unit = {
      MetaIO.mkdirs(rootOf(ident))
      MetaIO.writeString(viewFile(rootOf(ident)), body)
    }

    /** Remove the view file, then its directory when nothing else
      * lives there. */
    private def removeView(root: String)(move: String => Unit): Unit = {
      move(viewFile(root))
      if (MetaIO.list(root).isEmpty)
        try MetaIO.delete(root, recursive = true)
        catch { case _: Exception => () }
    }

    def dropView(ident: Identifier): Boolean =
      isView(rootOf(ident)) && {
        removeView(rootOf(ident))(MetaIO.delete(_))
        true
      }

    def renameView(from: Identifier, to: Identifier): Unit = {
      val (src, dst) = (rootOf(from), rootOf(to))
      if (!isView(src)) throw new NoSuchViewException(from)
      if (isView(dst)) throw new ViewAlreadyExistsException(to)
      require(!isTable(dst), s"$to already exists as a TABLE")
      MetaIO.mkdirs(dst)
      removeView(src)(MetaIO.moveTree(_, viewFile(dst)))
    }

    def listViews(ns: Array[String]): Array[Identifier] =
      children(ns.toSeq)(isView).map(Identifier.of(ns, _)).toArray
  }

  /** The flat tables and views of the governed [[Catalog]] at option
    * `root`. Governed history is append-only: tables retire through
    * [[Catalog.rollback]] or expiry, never an in-place drop or rename. */
  private final class Governed(name: String, options: CaseInsensitiveStringMap)
      extends Store {
    private val root = option(name, options, "root", "governed catalog")

    private def flat: UnsupportedOperationException =
      new UnsupportedOperationException("the governed catalog is flat")

    def handle(ident: Identifier): Option[TableHandle] =
      Option.when(ident.namespace().isEmpty)(new TableHandle(Some(root), ident.name()))

    def meta(h: TableHandle, version: Long): Option[TableMeta] =
      SnapshotTable.recordedSchema(h.root, version).map(TableMeta(_, Map.empty))

    /** A pin at the latest commit reads the live table. */
    override def pinned(h: TableHandle, pin: String): Option[String] =
      Some(pin).filterNot(commitOf(_).contains(h.latest))

    def listTables(namespace: Array[String]): Array[Identifier] = {
      if (namespace.nonEmpty) throw new NoSuchNamespaceException(namespace)
      Catalog.tables(root).map(Identifier.of(Array.empty[String], _)).toArray
    }

    /** Commits the table's EMPTY first snapshot (so a plain CREATE is
      * durable and queryable); a CTAS's write REPLACES it in a second
      * commit. */
    def create(h: TableHandle, schema: StructType, partitions: Array[Transform],
               properties: Map[String, String]): Boolean = {
      require(partitions.isEmpty,
        "governed tables take their layout from the written data; evolve " +
          "with Catalog.transactDelta / Layout instead of PARTITIONED BY")
      val s = SparkSession.active
      Catalog.transact(root, Seq(h.name ->
        s.createDataFrame(s.sparkContext.emptyRDD[Row], schema)))
      true
    }

    def alter(h: TableHandle, change: TableChange): Unit =
      throw new UnsupportedOperationException(
        "governed tables support column ADD/RENAME/DROP evolution " +
          s"only (history is append-only); got ALTER change $change")

    /** A no-op, not a throw, so a failed CTAS's cleanup drop cannot
      * mask the write's real error. */
    def drop(h: TableHandle): Boolean = false

    def rename(from: TableHandle, to: Identifier): Unit =
      throw new UnsupportedOperationException(
        "governed history is append-only: tables are never renamed in place")

    def namespaceExists(ns: Array[String]): Boolean = ns.isEmpty
    def listNamespaces(ns: Array[String]): Array[Array[String]] = Array.empty
    def createNamespace(ns: Array[String]): Unit = throw flat
    def alterNamespace(): Unit = throw flat
    def dropNamespace(ns: Array[String], cascade: Boolean): Boolean = throw flat

    // every effect is itself a commit or ref move, rollback-able
    def procedures: PartialFunction[String, UnboundProcedure] =
      GraftProcedures.governed(root)
    def procedureNames: Seq[String] = GraftProcedures.governedNames

    override def commitOf(pin: String): Option[Long] =
      pin.toLongOption.orElse(scala.util.Try(Catalog.tagCommit(root, pin)).toOption)

    def viewBody(ident: Identifier, commit: Long): Option[String] =
      if (ident.namespace().nonEmpty) None
      else Catalog.viewBody(root, ident.name(), commit)

    def putView(ident: Identifier, body: String, replace: Boolean): Unit = {
      require(ident.namespace().isEmpty,
        s"the governed catalog is flat — view '$ident' cannot take a namespace")
      Catalog.putView(root, ident.name(), body, replace)
    }

    def dropView(ident: Identifier): Boolean =
      ident.namespace().isEmpty && Catalog.dropView(root, ident.name())

    def renameView(from: Identifier, to: Identifier): Unit =
      throw new UnsupportedOperationException(
        "governed views do not rename: DROP and re-CREATE (each is one " +
          "atomic rollback-able commit)")

    def listViews(ns: Array[String]): Array[Identifier] = {
      require(ns.isEmpty, "the governed catalog is flat")
      Catalog.viewNames(root).map(Identifier.of(Array.empty[String], _)).toArray
    }
  }

  // view definition <-> stored JSON (json4s ships with Spark)

  private[sources] def renderView(info: ViewInfo): String = {
    import org.json4s.JsonDSL._
    import org.json4s.jackson.JsonMethods
    val j =
      ("sql" -> info.sql()) ~
      ("currentCatalog" -> info.currentCatalog()) ~
      ("currentNamespace" -> info.currentNamespace().toList) ~
      ("schema" -> info.schema().json) ~
      ("queryColumnNames" -> info.queryColumnNames().toList) ~
      ("columnAliases" -> info.columnAliases().toList) ~
      ("columnComments" -> info.columnComments().toList
        .map(Option(_))) ~
      ("properties" -> info.properties().asScala.toMap)
    JsonMethods.compact(JsonMethods.render(j))
  }

  private[sources] def parseView(viewName: String, body: String): View = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val j = JsonMethods.parse(body)
    def str(f: String): String =
      (j \ f) match { case JString(s) => s; case _ => null }
    def arr(f: String): Array[String] = (j \ f) match {
      case JArray(xs) => xs.map {
        case JString(s) => s
        case JNull => null
        case other => other.values.toString
      }.toArray
      case _ => Array.empty
    }
    val props: java.util.Map[String, String] = (j \ "properties") match {
      case JObject(fs) => fs.map { case (k, v) =>
        k -> (v match { case JString(s) => s; case o => o.values.toString })
      }.toMap.asJava
      case _ => Collections.emptyMap[String, String]()
    }
    new View {
      override def name(): String = viewName
      override def query(): String = str("sql")
      override def currentCatalog(): String = str("currentCatalog")
      override def currentNamespace(): Array[String] = arr("currentNamespace")
      override def schema(): StructType =
        DataType.fromJson(str("schema")).asInstanceOf[StructType]
      override def queryColumnNames(): Array[String] = arr("queryColumnNames")
      override def columnAliases(): Array[String] = arr("columnAliases")
      override def columnComments(): Array[String] = arr("columnComments")
      override def properties(): java.util.Map[String, String] = props
    }
  }
}
