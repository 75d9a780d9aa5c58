package graft.sources

import java.util.{Collections, Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, SupportsNamespaces, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.operators.{MetaIO, SnapshotTable}

/** Snapshot tables as a Spark SQL catalog — names instead of paths:
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
  * surface on the snapshot format, implemented as a DSv2
  * [[TableCatalog]] over a warehouse directory: identifier
  * `ns1.ns2.t` maps to the snapshot-table root
  * `<warehouse>/ns1/ns2/t`, so every library capability (time travel,
  * merge-on-read deletes, manifest file skipping via the pushed-filter
  * scan in [[GraftDataSource]]) is reachable from plain SQL.
  *
  * - `VERSION AS OF` accepts a version number, a tag, or a branch
  *   name; `TIMESTAMP AS OF` resolves the newest version whose commit
  *   stamp is at or before the instant (Iceberg's rule).
  * - `ALTER TABLE ... RENAME/DROP COLUMN` is the metadata-only
  *   field-id evolution ([[SnapshotTable.renameColumn]]) — no rewrite.
  * - `CREATE TABLE ... PARTITIONED BY (c)` records the identity
  *   partition column; `INSERT INTO` then lands as the O(batch)
  *   partition fast-append. Non-identity transforms are rejected —
  *   hidden partitioning uses the library's transform specs instead.
  * - DDL state lives in a `_table` sidecar (schema + write options) so
  *   an empty CREATEd table is loadable before its first commit.
  */
class GraftSqlCatalog extends TableCatalog with SupportsNamespaces
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog
    with org.apache.spark.sql.connector.catalog.ViewCatalog {

  // lets the analyzer admit `ALTER TABLE ... ADD COLUMN ... DEFAULT`
  // and `ADD/DROP CONSTRAINT ... CHECK` DDL for this catalog (defaults
  // land as initial-default metadata, CHECK constraints as the
  // write-enforced `_constraints` table metadata)
  override def capabilities()
      : java.util.Set[org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    java.util.EnumSet.of(
      org.apache.spark.sql.connector.catalog
        .TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE,
      org.apache.spark.sql.connector.catalog
        .TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT)

  private var catalogName: String = _
  private var warehouse: String = _

  override def initialize(name: String,
                          options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    val w = options.get("warehouse")
    require(w != null && w.nonEmpty,
      s"graft catalog '$name' needs spark.sql.catalog.$name.warehouse")
    warehouse = w.stripSuffix("/")
    MetaIO.mkdirs(warehouse)
  }

  override def name(): String = catalogName

  private def spark: SparkSession = SparkSession.active

  private def rootOf(ident: Identifier): String =
    (ident.namespace() :+ ident.name())
      .foldLeft(warehouse)((p, part) => MetaIO.join(p, part))

  private def sidecar(root: String): String = MetaIO.join(root, "_table")

  private def isTable(root: String): Boolean =
    MetaIO.exists(sidecar(root)) || SnapshotTable.latestVersion(root) >= 0

  override def tableExists(ident: Identifier): Boolean = isTable(rootOf(ident))

  // ───────────────────────────── tables ─────────────────────────────

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = namespace.foldLeft(warehouse)((p, part) => MetaIO.join(p, part))
    if (!MetaIO.isDir(dir)) throw new NoSuchNamespaceException(namespace)
    MetaIO.list(dir)
      .filter(p => MetaIO.isDir(p) && isTable(p))
      .map(p => Identifier.of(namespace, MetaIO.name(p)))
      .toArray
  }

  override def loadTable(ident: Identifier): Table = {
    // metadata tables resolve as `db.t.files` / `.snapshots` / `.refs`
    // / `.history` (the Iceberg dot-suffix form): when the identifier's
    // last namespace part IS a table, the name selects the inspection
    // relation
    if (!isTable(rootOf(ident)) && ident.namespace().nonEmpty) {
      val parent = Identifier.of(ident.namespace().init,
        ident.namespace().last)
      val proot = rootOf(parent)
      if (isTable(proot)) {
        val s = spark
        GraftMetadataTable.forKind(s, proot.toString, ident.name())
          .foreach { mk =>
            return new GraftMetadataTable(
              s"${parent.name()}.${ident.name()}", mk)
          }
      }
    }
    loadAt(ident, GraftSqlCatalog.Latest)
  }

  /** `VERSION AS OF x` — a version number, else a tag, else a branch. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val root = requireTable(ident)
    val v = version.toLongOption.getOrElse {
      try SnapshotTable.tagVersion(root, version)
      catch {
        case _: Exception => SnapshotTable.branchVersion(root, version)
      }
    }
    loadAt(ident, v)
  }

  /** `TIMESTAMP AS OF t` (microseconds): the newest version committed
    * at or before the instant. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val root = requireTable(ident)
    val cutoff = timestampMicros / 1000L // commit times are millis
    // walk the PUBLISHED chain (the marker's version, then its recorded
    // parents — the same walk lastTxnBatch makes): rollback() only
    // moves the marker, so rolled-back and staged-but-never-published
    // versions are off it, also once later commits land on top of the
    // rollback — timestamp travel must never resolve into them. Commit
    // times grow along the chain, so the first at or before the cutoff
    // is the newest.
    val version = SnapshotTable.publishedChain(root)
      .find(SnapshotTable.commitTime(root, _).exists(_ <= cutoff))
    require(version.nonEmpty,
      s"no version of ${ident.name} committed at or before " +
        s"timestamp $timestampMicros")
    loadAt(ident, version.get)
  }

  private def requireTable(ident: Identifier): String = {
    val root = rootOf(ident)
    if (!isTable(root)) throw new NoSuchTableException(ident)
    root
  }

  private def loadAt(ident: Identifier, version: Long): Table = {
    val root = requireTable(ident)
    val meta = readSidecar(root)
    val dataV =
      if (version == GraftSqlCatalog.Latest)
        SnapshotTable.latestVersion(root.toString)
      else version
    val schema =
      if (dataV >= 0) {
        // partitioned storage surfaces the partition column LAST; a
        // catalog table keeps its DECLARED order (evolution-added or
        // renamed fields follow, in storage order)
        val data = SnapshotTable.read(spark, root.toString, dataV).schema
        meta match {
          case Some(m) =>
            val declared = m.schema.fieldNames.filter(data.fieldNames.contains)
            val rest = data.fieldNames.filterNot(declared.contains)
            // sidecar field METADATA rides along (column defaults:
            // CURRENT_DEFAULT must reach the loaded schema or INSERTs
            // omitting the column write NULL) — the storage schema
            // wins on type, the sidecar on declared metadata
            new StructType((declared ++ rest).map { n =>
              val f = data(n)
              m.schema.fields.find(sf => sf.name == n &&
                  sf.metadata != org.apache.spark.sql.types.Metadata.empty)
                .map(sf => f.copy(metadata = sf.metadata))
                .getOrElse(f)
            })
          case None => data
        }
      } else meta.map(_.schema).getOrElse(new StructType())
    val opts = new java.util.HashMap[String, String]()
    opts.put("path", root.toString)
    if (version != GraftSqlCatalog.Latest)
      opts.put("versionAsOf", version.toString)
    meta.foreach(_.writeOptions.foreach { case (k, v) => opts.put(k, v) })
    new GraftTable(root.toString, schema, new CaseInsensitiveStringMap(opts))
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: JMap[String, String]): Table = {
    val root = rootOf(ident)
    if (isTable(root)) throw new TableAlreadyExistsException(ident)
    require(!isView(root), s"${ident} already exists as a VIEW")
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
        properties.asScala.view
          .filterKeys(k => GraftSqlCatalog.WriteOptionKeys(k.toLowerCase))
          .toMap ++
        properties.asScala.view
          .filter(_._1.startsWith(TableCatalog.OPTION_PREFIX))
          .map { case (k, v) =>
            k.stripPrefix(TableCatalog.OPTION_PREFIX) -> v
          }.toMap
    MetaIO.mkdirs(root)
    writeSidecar(root, GraftSqlCatalog.TableMeta(schema, writeOpts))
    loadTable(ident)
  }

  /** RENAME/DROP COLUMN land as the library's metadata-only field-id
    * evolution; anything else is unsupported. The `_table` sidecar's
    * DECLARED schema follows the same change — a stale sidecar would
    * reorder the renamed column to the schema's end (the declared-order
    * rule keys on names) and serve a pre-evolution schema for an
    * empty table. */
  override def alterTable(ident: Identifier,
                          changes: TableChange*): Table = {
    val rootPath = requireTable(ident)
    val root = rootPath.toString
    changes.foreach {
      case a: TableChange.AddColumn =>
        require(a.fieldNames.length == 1,
          "nested column add is not supported")
        require(a.isNullable,
          "an added column must be nullable: existing files have no " +
            "values for it and read as NULL (or the DEFAULT)")
        // `ADD COLUMN ... DEFAULT <lit>` (gated by the catalog's
        // SUPPORT_COLUMN_DEFAULT_VALUE capability) lands as the
        // initial-default: pre-add files read the literal, post-add
        // writes their real values. The sidecar field carries the
        // CURRENT_DEFAULT metadata too, so later INSERTs that OMIT the
        // column fill the default (Spark's own resolution, exactly as
        // CREATE TABLE defaults behave) instead of writing NULL.
        val default = Option(a.defaultValue()).map(_.getSql)
        SnapshotTable.addColumn(spark, root, a.fieldNames.head, a.dataType,
          default)
        updateSidecarSchema(rootPath) { sch =>
          val meta = default match {
            case Some(d) => new org.apache.spark.sql.types.MetadataBuilder()
              .putString("CURRENT_DEFAULT", d)
              .putString("EXISTS_DEFAULT", d).build()
            case None => org.apache.spark.sql.types.Metadata.empty
          }
          sch.add(org.apache.spark.sql.types.StructField(
            a.fieldNames.head, a.dataType, nullable = true, meta))
        }
      case r: TableChange.RenameColumn =>
        require(r.fieldNames.length == 1,
          "nested column rename is not supported")
        SnapshotTable.renameColumn(spark, root, r.fieldNames.head,
          r.newName)
        updateSidecarSchema(rootPath) { sch =>
          new StructType(sch.fields.map(f =>
            if (f.name == r.fieldNames.head) f.copy(name = r.newName)
            else f))
        }
      case d: TableChange.DeleteColumn =>
        require(d.fieldNames.length == 1,
          "nested column drop is not supported")
        SnapshotTable.dropColumn(spark, root, d.fieldNames.head)
        updateSidecarSchema(rootPath) { sch =>
          new StructType(sch.fields.filterNot(_.name == d.fieldNames.head))
        }
      case ac: TableChange.AddConstraint => ac.constraint() match {
        // `ALTER TABLE ... ADD CONSTRAINT n CHECK (expr)` — lands in
        // the table's write-enforced constraint metadata; existing
        // rows are validated first (the library rule)
        case c: org.apache.spark.sql.connector.catalog.constraints.Check =>
          SnapshotTable.addConstraint(spark, root, c.name(),
            c.predicateSql())
        case c => throw new UnsupportedOperationException(
          "only CHECK constraints are supported, got " +
            c.getClass.getSimpleName)
      }
      case dc: TableChange.DropConstraint =>
        if (!dc.ifExists ||
            SnapshotTable.constraints(root).exists(_._1 == dc.name()))
          SnapshotTable.dropConstraint(root, dc.name())
      case c => throw new UnsupportedOperationException(
        s"graft catalog does not support ALTER change $c")
    }
    loadTable(ident)
  }

  private def updateSidecarSchema(root: String)
                                 (f: StructType => StructType): Unit =
    readSidecar(root).foreach { meta =>
      writeSidecar(root, meta.copy(schema = f(meta.schema)))
    }

  override def dropTable(ident: Identifier): Boolean = {
    val root = rootOf(ident)
    if (!isTable(root)) return false
    deleteRecursively(root)
    true
  }

  override def renameTable(from: Identifier, to: Identifier): Unit = {
    val src = requireTable(from)
    val dst = rootOf(to)
    if (isTable(dst)) throw new TableAlreadyExistsException(to)
    val parent = dst.substring(0, dst.lastIndexOf('/'))
    MetaIO.mkdirs(parent)
    MetaIO.moveTree(src, dst)
  }

  // ─────────────────────────── namespaces ───────────────────────────

  private def nsDir(ns: Array[String]): String =
    ns.foldLeft(warehouse)((p, part) => MetaIO.join(p, part))

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty ||
      (MetaIO.isDir(nsDir(namespace)) && !isTable(nsDir(namespace)))

  override def listNamespaces(): Array[Array[String]] =
    MetaIO.list(warehouse)
      .filter(p => MetaIO.isDir(p) && !isTable(p))
      .map(p => Array(MetaIO.name(p))).toArray

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    if (!namespaceExists(namespace))
      throw new NoSuchNamespaceException(namespace)
    val dir = nsDir(namespace)
    if (!MetaIO.isDir(dir)) return Array.empty
    MetaIO.list(dir)
      .filter(p => MetaIO.isDir(p) && !isTable(p))
      .map(p => namespace :+ MetaIO.name(p)).toArray
  }

  override def loadNamespaceMetadata(namespace: Array[String]): JMap[String, String] = {
    if (!namespaceExists(namespace))
      throw new NoSuchNamespaceException(namespace)
    Collections.emptyMap()
  }

  override def createNamespace(namespace: Array[String],
                               metadata: JMap[String, String]): Unit = {
    val dir = nsDir(namespace)
    if (MetaIO.exists(dir)) throw new NamespaceAlreadyExistsException(namespace)
    MetaIO.mkdirs(dir)
  }

  override def alterNamespace(namespace: Array[String],
                              changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "graft catalog namespaces carry no metadata")

  override def dropNamespace(namespace: Array[String],
                             cascade: Boolean): Boolean = {
    val dir = nsDir(namespace)
    if (!namespaceExists(namespace) || namespace.isEmpty) return false
    if (!cascade) {
      require(MetaIO.list(dir).isEmpty,
        s"namespace ${namespace.mkString(".")} is not empty; use CASCADE")
    }
    deleteRecursively(dir)
    true
  }

  // ───────────────────── maintenance procedures ─────────────────────
  // CALL g.system.expire_snapshots('db.t', 3) / sweep_orphans /
  // compact / rollback / create_tag — the Iceberg system.* surface;
  // `table` arguments are dot-joined paths under the warehouse

  private def tableRootOf(dotted: String): String = {
    val p = dotted.split("\\.").foldLeft(warehouse)(MetaIO.join(_, _))
    require(isTable(p), s"no table '$dotted' in warehouse $warehouse")
    p.toString
  }

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    GraftProcedures.load(ident, GraftProcedures.warehouse(tableRootOf))

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    GraftProcedures.warehouseNames
      .map(Identifier.of(Array("system"), _)).toArray

  // ───────────────────────────── views ─────────────────────────────
  //
  // Persisted SQL views (the DSv2 ViewCatalog — the Trino-view / dbt
  // `materialized=view` serve surface; the reference's staging model
  // `stg_trades.sql` IS one): the definition lives as a `_view` JSON
  // file in the view's warehouse directory — no data, no versions —
  // and Spark substitutes the stored query at analysis under the
  // stored catalog+namespace context. A view and a table can never
  // share a path (both creates check the other's marker).

  private def viewFile(root: String): String = MetaIO.join(root, "_view")

  private def isView(root: String): Boolean = MetaIO.exists(viewFile(root))

  override def viewExists(ident: Identifier): Boolean = isView(rootOf(ident))

  override def listViews(namespace: String*): Array[Identifier] = {
    val dir = namespace.foldLeft(warehouse)((p, part) => MetaIO.join(p, part))
    if (!MetaIO.isDir(dir))
      throw new NoSuchNamespaceException(namespace.toArray)
    MetaIO.list(dir)
      .filter(p => MetaIO.isDir(p) && isView(p))
      .map(p => Identifier.of(namespace.toArray, MetaIO.name(p)))
      .toArray
  }

  override def loadView(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.View = {
    val p = viewFile(rootOf(ident))
    if (!MetaIO.exists(p))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident)
    GraftSqlCatalog.parseView(ident.toString, MetaIO.readString(p))
  }

  override def createView(info: org.apache.spark.sql.connector.catalog.ViewInfo)
      : org.apache.spark.sql.connector.catalog.View = {
    val root = rootOf(info.ident())
    if (isView(root))
      throw new org.apache.spark.sql.catalyst.analysis
        .ViewAlreadyExistsException(info.ident())
    require(!isTable(root), s"${info.ident()} already exists as a TABLE")
    MetaIO.mkdirs(root)
    MetaIO.writeString(viewFile(root), GraftSqlCatalog.renderView(info))
    loadView(info.ident())
  }

  /** CREATE OR REPLACE as one definition-file overwrite (the default
    * drop-then-create would expose a viewless window). */
  override def replaceView(
      info: org.apache.spark.sql.connector.catalog.ViewInfo,
      orCreate: Boolean): org.apache.spark.sql.connector.catalog.View = {
    val root = rootOf(info.ident())
    if (!orCreate && !isView(root))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchViewException(info.ident())
    require(!isTable(root), s"${info.ident()} already exists as a TABLE")
    MetaIO.mkdirs(root)
    MetaIO.writeString(viewFile(root), GraftSqlCatalog.renderView(info))
    loadView(info.ident())
  }

  override def alterView(ident: Identifier,
                         changes: org.apache.spark.sql.connector.catalog.ViewChange*)
      : org.apache.spark.sql.connector.catalog.View =
    throw new UnsupportedOperationException(
      "view properties are immutable here: DROP and re-CREATE")

  override def dropView(ident: Identifier): Boolean = {
    val p = viewFile(rootOf(ident))
    if (!MetaIO.exists(p)) return false
    MetaIO.delete(p)
    // remove the now-empty dir (ignore failure if something else lives there)
    if (MetaIO.list(rootOf(ident)).isEmpty)
      try MetaIO.delete(rootOf(ident), recursive = true)
      catch { case _: Exception => () }
    true
  }

  override def renameView(from: Identifier, to: Identifier): Unit = {
    val src = rootOf(from)
    if (!isView(src))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(from)
    val dst = rootOf(to)
    if (isView(dst))
      throw new org.apache.spark.sql.catalyst.analysis
        .ViewAlreadyExistsException(to)
    require(!isTable(dst), s"$to already exists as a TABLE")
    MetaIO.mkdirs(dst)
    MetaIO.moveTree(viewFile(src), viewFile(dst))
    if (MetaIO.list(src).isEmpty)
      try MetaIO.delete(src, recursive = true)
      catch { case _: Exception => () }
  }

  // ───────────────────────────── helpers ─────────────────────────────

  private def readSidecar(root: String): Option[GraftSqlCatalog.TableMeta] = {
    val p = sidecar(root)
    if (!MetaIO.exists(p)) return None
    val lines = MetaIO.readString(p).linesIterator.toSeq
    val schema = DataType.fromJson(lines.head).asInstanceOf[StructType]
    val opts = lines.drop(1).filter(_.contains("=")).map { l =>
      val i = l.indexOf('=')
      l.substring(0, i) -> l.substring(i + 1)
    }.toMap
    Some(GraftSqlCatalog.TableMeta(schema, opts))
  }

  private def writeSidecar(root: String,
                           meta: GraftSqlCatalog.TableMeta): Unit = {
    val body = meta.schema.json +: meta.writeOptions.toSeq.sorted
      .map { case (k, v) => s"$k=$v" }
    MetaIO.writeString(sidecar(root), body.mkString("\n"))
  }

  private def deleteRecursively(p: String): Unit =
    MetaIO.delete(p, recursive = true)
}

object GraftSqlCatalog {
  private val Latest = -1L
  private val WriteOptionKeys = Set("partitionby", "statscols", "bloomcols")

  private[sources] case class TableMeta(schema: StructType,
                                        writeOptions: Map[String, String])

  // view definition <-> `_view` JSON (json4s ships with Spark)

  private[sources] def renderView(
      info: org.apache.spark.sql.connector.catalog.ViewInfo): String = {
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

  private[sources] def parseView(viewName: String, body: String)
      : org.apache.spark.sql.connector.catalog.View = {
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
    new org.apache.spark.sql.connector.catalog.View {
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
