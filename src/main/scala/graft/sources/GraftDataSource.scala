package graft.sources

import java.util.{Map => JMap}

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{Metadata, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.operators.SnapshotTable

/** `spark.read.format("graft")` / `df.write.format("graft")` — the
  * snapshot table format surfaced as a Spark DataSource V2 connector,
  * so every [[graft.operators.SnapshotTable]] capability (time travel,
  * branches/tags, merge-on-read deletes, manifest stats / bloom /
  * transform FILE SKIPPING) is reachable through Spark's own planner
  * instead of library calls.
  *
  * Architecture is the Delta-Lake fallback shape: a DSv2
  * [[TableProvider]] whose [[ScanBuilder]] accepts Catalyst's pushed
  * filters and pruned columns, and whose [[Scan]] is a [[V1Scan]]
  * delegating the physical read to `SnapshotTable.read`/`readSkipping`
  * — Spark's whole parquet stack (vectorized reader, codegen, AQE)
  * runs unchanged underneath, and the connector's only job is the
  * manifest-level file pruning Spark cannot do itself. (The
  * alternative — a bespoke DSv2 `PartitionReaderFactory` — would mean
  * re-owning a parquet reader the way Iceberg does; reference:
  * `trino/catalog/iceberg.properties:1-6` is the reference's
  * equivalent "tables are a connector, not API calls" surface.)
  *
  * Correctness contract: EVERY pushed filter is also returned as a
  * residual (`pushFilters` returns its input), so Spark re-applies the
  * full predicate on the surviving rows — the connector's translation
  * only ever REFUTES files (bounds/bloom/transform pruning is
  * answer-invariant by [[SnapshotTable.readSkipping]]'s construction),
  * never decides row membership. A filter the translator cannot render
  * (null-safe equality, string predicates, NaN literals) simply prunes
  * nothing.
  *
  * Read options: `path` (table root), and at most one of `versionAsOf`
  * (a version, else a tag or branch name) / `tag` / `branch` (default:
  * latest committed version). Write
  * options: `partitionBy` (fast-append partition column), `statsCols`
  * / `bloomCols` (comma-separated manifest-stats columns recorded at
  * commit), `ndvCols` (declares [[SnapshotTable.setNdvColumns]]
  * auto-NDV columns — this and every later write sketches them, so
  * CBO join reorder needs no ANALYZE).
  * `mode("append")` is the O(batch) partition fast-append
  * and therefore REQUIRES a partition spec on an existing table
  * (`partitionBy`, or the one the table recorded);
  * `mode("overwrite")` commits a fresh full snapshot (time travel
  * keeps the old versions readable).
  */
class GraftDataSource extends TableProvider with DataSourceRegister
    with org.apache.spark.sql.sources.StreamSourceProvider
    with org.apache.spark.sql.sources.StreamSinkProvider {

  override def shortName(): String = "graft"

  // ── Structured Streaming (the V1 provider path: GraftTable declares
  // no MICRO_BATCH_READ/STREAMING_WRITE capability, so the engine
  // falls back here — see GraftStreaming for why that is the right
  // architecture for a V1Scan-shaped connector) ──

  override def sourceSchema(sqlContext: SQLContext,
                            schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String])
      : (String, StructType) =
    (shortName(),
      schema.getOrElse(GraftStreaming.sourceSchema(parameters)))

  override def createSource(sqlContext: SQLContext, metadataPath: String,
                            schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source =
    GraftStreaming.sourceOf(parameters, metadataPath)

  override def createSink(sqlContext: SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink =
    GraftStreaming.sinkOf(parameters, partitionColumns, outputMode)

  // user-supplied schemas are accepted (write path: the insert carries
  // its own schema; read path: an explicit .schema(...) skips the
  // inference read)
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val t = GraftDataSource.handleOf(options)
    GraftDataSource.auxFrame(t, options) match {
      case Some(df) => df().schema // CDC / incremental-append read
      case None =>
        val v = GraftDataSource.resolveVersion(t, options)
        if (v < 0) new StructType() // not-yet-created table (write path)
        else SnapshotTable.read(SparkSession.active, t.root, v).schema
    }
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    new GraftTable(GraftDataSource.handleOf(options), schema, options)
  }
}

object GraftDataSource {

  private[sources] def rootOf(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty,
      "graft datasource needs a table root: .load(path) or .option(\"path\", ...)")
    p
  }

  /** The plain table at the connector's `path`. */
  private[sources] def handleOf(options: CaseInsensitiveStringMap): TableHandle =
    new TableHandle(None, rootOf(options))

  /** Resolve the table version the options pin through `t`'s refs:
    * `versionAsOf` ([[TableHandle.versionOf]]), a `tag`, a `branch`, or
    * the current version (-1 = none). */
  private[sources] def resolveVersion(t: TableHandle,
                                      options: CaseInsensitiveStringMap): Long = {
    val pins = Seq("versionasof", "tag", "branch").filter(options.containsKey)
    require(pins.size <= 1,
      s"at most one of versionAsOf/tag/branch may be set (got: $pins)")
    if (options.containsKey("versionasof")) t.versionOf(options.get("versionasof"))
    else if (options.containsKey("tag")) t.tagVersion(options.get("tag"))
    else if (options.containsKey("branch")) t.branchVersion(options.get("branch"))
    else t.version
  }

  /** `data`'s fields in DECLARED order — `declared`'s names that `data`
    * has, then the rest (evolution-added or renamed fields) in storage
    * order. Partitioned storage surfaces the partition column last,
    * which would misalign positional INSERT and star expansion. A
    * declared field's metadata rides along (column defaults must reach
    * the loaded schema, or an INSERT omitting the column writes NULL);
    * the storage schema wins on type. */
  private[sources] def declaredOrder(data: StructType,
                                     declared: StructType): StructType = {
    val names = declared.fieldNames.filter(data.fieldNames.contains)
    StructType((names ++ data.fieldNames.filterNot(names.contains)).map { n =>
      declared.find(d => d.name == n && d.metadata != Metadata.empty)
        .fold(data(n))(d => data(n).copy(metadata = d.metadata))
    }.toSeq)
  }

  private[sources] def csv(options: CaseInsensitiveStringMap,
                           key: String): Seq[String] =
    Option(options.get(key)).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)

  /** CDC / incremental-append reads through the connector (the Delta
    * `readChangeFeed` shape, over the library's [[SnapshotTable.changes]]
    * / [[SnapshotTable.appendedBetween]]):
    *
    *   - `.option("changesFrom", v).option("changeKey", "k")`
    *     [`.option("changesTo", v)`] — the keyed row-diff feed
    *     (insert / delete / update pre+post images, `_change_type` +
    *     `_commit_version` columns appended);
    *   - `.option("appendsFrom", v)` [`.option("appendsTo", v)`] —
    *     only the rows that ARRIVED between the snapshots, from pure
    *     manifest arithmetic (append-only histories; O(new files)).
    *
    * The range ends are offsets ([[TableHandle.versionAt]]: versions of
    * a plain table, catalog commits of a governed one). Returns None
    * when the options request a plain data read. CDC options are
    * mutually exclusive with version/tag/branch pins (the range IS the
    * time travel). */
  private[sources] def auxFrame(t: TableHandle,
                                options: CaseInsensitiveStringMap)
      : Option[() => DataFrame] = {
    val isChanges = options.containsKey("changesfrom")
    val isAppends = options.containsKey("appendsfrom")
    if (!isChanges && !isAppends) return None
    require(!(isChanges && isAppends),
      "set either changesFrom (keyed CDC diff) or appendsFrom " +
        "(incremental append scan), not both")
    require(Seq("versionasof", "tag", "branch").forall(!options.containsKey(_)),
      "CDC/append-range reads carry their own versions; drop " +
        "versionAsOf/tag/branch")
    def at(k: String): Option[Long] =
      Option(options.get(k)).map(o => t.versionAt(o.toLong))
    if (isChanges) {
      val key = options.get("changekey")
      require(key != null && key.nonEmpty,
        "changesFrom needs .option(\"changeKey\", <key column>) — the " +
          "row identity the diff is keyed by")
      Some(() => SnapshotTable.changes(SparkSession.active, t.root, key,
        at("changesfrom").get, at("changesto").getOrElse(t.version)))
    } else {
      Some(() => SnapshotTable.appendedBetween(SparkSession.active, t.root,
        at("appendsfrom").get, at("appendsto").getOrElse(t.version)))
    }
  }

  /** A ScanBuilder over a deferred DataFrame (no pushdown — Spark
    * filters above; these are derived, range-bounded relations). */
  private[sources] def frameScanBuilder(df: () => DataFrame): ScanBuilder =
    new ScanBuilder {
      private lazy val frame = df()
      override def build(): Scan = new V1Scan {
        override def readSchema(): StructType = frame.schema
        override def toV1TableScan[T <: BaseRelation with TableScan](
            context: SQLContext): T =
          new BaseRelation with TableScan {
            override def sqlContext: SQLContext = context
            override def schema: StructType = frame.schema
            override def buildScan(): RDD[Row] = frame.rdd
          }.asInstanceOf[T]
      }
    }

  // ───────────────────── filter → SQL translation ─────────────────────
  // Renders the subset of Spark's datasource filters that
  // SnapshotTable.readSkipping's bounds/bloom/transform logic can use
  // to refute files. Sound under partial translation: an And may keep
  // either side alone (a file must satisfy both), an Or needs both.

  private def quoted(name: String): Option[String] =
    // nested fields arrive dotted; manifest stats cover top-level
    // columns only, so a dotted reference translates to nothing
    if (name.contains(".")) None
    else Some("`" + name.replace("`", "``") + "`")

  private[graft] def litSql(v: Any): Option[String] = v match {
    case null => None
    case s: String =>
      // backslashes must DOUBLE: the rendered literal re-parses with
      // escape processing (spark.sql.parser.escapedStringLiterals is
      // false by default), so an unescaped backslash would turn
      // 'C:\tmp' into 'C:<TAB>mp' — unsound file pruning always, and
      // since strict filters are claimed fully pushed (no residual
      // re-check) a silently WRONG row filter too
      Some("'" + s.replace("\\", "\\\\").replace("'", "''") + "'")
    case b: Boolean => Some(b.toString)
    case b: Byte => Some(b.toString)
    case s: Short => Some(s.toString)
    case i: Int => Some(i.toString)
    case l: Long => Some(l.toString + "L")
    case f: Float =>
      if (f.isNaN || f.isInfinite) None
      else Some(s"CAST('$f' AS FLOAT)")
    case d: Double =>
      if (d.isNaN || d.isInfinite) None
      else Some(s"CAST('$d' AS DOUBLE)")
    case d: java.math.BigDecimal => Some(d.toPlainString + "BD")
    case d: BigDecimal => Some(d.underlying.toPlainString + "BD")
    // instant-typed literals must render in the SESSION timezone: a
    // TIMESTAMP 'yyyy-...' literal re-parses in the session zone, so
    // rendering the JVM-default-zone toString would shift the pruning
    // bound by the zone offset — unsound refutation (rows vanish)
    case t: java.sql.Timestamp => Some(sessionTsLiteral(t.toInstant))
    case i: java.time.Instant => Some(sessionTsLiteral(i))
    case d: java.sql.Date => Some(s"DATE '$d'")
    case d: java.time.LocalDate => Some(s"DATE '$d'")
    case d: java.time.LocalDateTime =>
      Some(s"TIMESTAMP_NTZ '${d.toString.replace('T', ' ')}'")
    case _ => None
  }

  private def sessionTsLiteral(i: java.time.Instant): String = {
    val zone = java.time.ZoneId.of(
      SparkSession.active.sessionState.conf.sessionLocalTimeZone)
    val ldt = java.time.LocalDateTime.ofInstant(i, zone)
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
    s"TIMESTAMP '${ldt.format(fmt)}'"
  }

  private[graft] def filterSql(f: Filter): Option[String] = f match {
    case EqualTo(a, v) =>
      for (q <- quoted(a); l <- litSql(v)) yield s"$q = $l"
    case GreaterThan(a, v) =>
      for (q <- quoted(a); l <- litSql(v)) yield s"$q > $l"
    case GreaterThanOrEqual(a, v) =>
      for (q <- quoted(a); l <- litSql(v)) yield s"$q >= $l"
    case LessThan(a, v) =>
      for (q <- quoted(a); l <- litSql(v)) yield s"$q < $l"
    case LessThanOrEqual(a, v) =>
      for (q <- quoted(a); l <- litSql(v)) yield s"$q <= $l"
    case In(a, vs) if vs.nonEmpty =>
      val ls = vs.toSeq.map(litSql)
      for (q <- quoted(a); all <- sequence(ls))
        yield all.mkString(s"$q IN (", ", ", ")")
    case And(l, r) =>
      (filterSql(l), filterSql(r)) match {
        case (Some(a), Some(b)) => Some(s"($a AND $b)")
        case (a @ Some(_), None) => a // sound: prune on one conjunct
        case (None, b @ Some(_)) => b
        case _ => None
      }
    case Or(l, r) =>
      for (a <- filterSql(l); b <- filterSql(r)) yield s"($a OR $b)"
    case StringStartsWith(a, p) if p.nonEmpty =>
      // PRUNING-grade range form (a superset of the matches, so bounds
      // only ever refute — Iceberg's truncated-bound compare):
      // p <= a, and a < nextPrefix(p) when a clean code-point bump
      // exists (all-￿ and surrogate-boundary prefixes keep the lower
      // bound only). Row-EXACT use must go through [[strictFilterSql]],
      // which conjoins the real startswith().
      for (q <- quoted(a); lo <- litSql(p)) yield nextPrefix(p) match {
        case Some(hi) => s"($q >= $lo AND $q < ${litSql(hi).get})"
        case None => s"$q >= $lo"
      }
    case _ => None // IsNull/IsNotNull/Not/contains: no file pruning
  }

  /** EXACT filter translation for row-DECIDING uses (SQL `DELETE
    * WHERE`): unlike [[filterSql]] — whose partial-AND is sound only
    * because pruning merely refutes files — every node here must
    * translate completely and with identical semantics, or the whole
    * predicate refuses (and the DELETE is rejected rather than
    * deleting the wrong rows). NULL semantics match Spark's: a NULL
    * comparison is NULL → the row is NOT deleted. */
  private[graft] def strictFilterSql(f: Filter): Option[String] = f match {
    case And(l, r) =>
      for (a <- strictFilterSql(l); b <- strictFilterSql(r))
        yield s"($a AND $b)"
    case Or(l, r) =>
      for (a <- strictFilterSql(l); b <- strictFilterSql(r))
        yield s"($a OR $b)"
    case Not(inner) => strictFilterSql(inner).map(s => s"(NOT ($s))")
    case IsNull(a) => quoted(a).map(q => s"$q IS NULL")
    case IsNotNull(a) => quoted(a).map(q => s"$q IS NOT NULL")
    case EqualNullSafe(a, null) => quoted(a).map(q => s"$q IS NULL")
    case EqualNullSafe(a, v) =>
      for (q <- quoted(a); l <- litSql(v)) yield s"$q <=> $l"
    case AlwaysTrue() => Some("true")
    case AlwaysFalse() => Some("false")
    // the comparison/IN leaves are already exact
    case _: EqualTo | _: GreaterThan | _: GreaterThanOrEqual |
         _: LessThan | _: LessThanOrEqual | _: In => filterSql(f)
    case ssw @ StringStartsWith(a, p) if p.nonEmpty =>
      // row-EXACT prefix: the range form alone is only a SUPERSET —
      // with no finite upper bound (all-￿ prefixes) it admits every
      // larger string (supplementary-plane values sort above every
      // BMP bound). Conjoining the real startswith() keeps file
      // skipping on the range conjuncts ([[SnapshotTable]] boundsSql
      // ignores the unknown leaf) while the row decision is exact.
      for (q <- quoted(a); lo <- litSql(p)) yield filterSql(ssw) match {
        case Some(r) => s"($r AND startswith($q, $lo))"
        case None => s"startswith($q, $lo)"
      }
    case _ => None
  }

  private[graft] def strictPredicateSql(filters: Seq[Filter]): Option[String] = {
    val parts = filters.map(strictFilterSql)
    if (parts.exists(_.isEmpty)) None
    else if (parts.isEmpty) Some("true") // DELETE with no WHERE
    else Some(parts.map(_.get).mkString("(", ") AND (", ")"))
  }

  /** The smallest string greater than every string with prefix `p`:
    * bump the last bump-able char, dropping any trailing ￿ runs.
    * None when p is all ￿ (no finite upper bound exists) OR when the
    * bump is not a clean CODE-POINT increment: Spark compares strings
    * by UTF-8 bytes (code-point order), and a UTF-16 unit bump that
    * creates or breaks a surrogate pair (into the block at ퟿,
    * out of it at \uDFFF, on an unpaired surrogate) mangles the
    * literal's UTF-8 encoding ('?' substitution) — the "upper bound"
    * then lands BELOW the data and the range wrongly refutes
    * matching files/rows. */
  private[graft] def nextPrefix(p: String): Option[String] = {
    val trimmed = p.reverse.dropWhile(_ == '￿').reverse
    if (trimmed.isEmpty) return None
    val last = trimmed.last
    val safeBump =
      if (last == '퟿' || last == '\uDFFF' ||
          Character.isHighSurrogate(last)) false
      else if (Character.isLowSurrogate(last))
        // a pair-ending low surrogate bumps to the next code point;
        // a LONE low surrogate already mangles identically in lo and
        // hi, collapsing the range to empty — decline
        trimmed.length >= 2 &&
          Character.isHighSurrogate(trimmed(trimmed.length - 2))
      else true
    if (safeBump) Some(trimmed.init + (last + 1).toChar) else None
  }

  private def sequence[A](xs: Seq[Option[A]]): Option[Seq[A]] =
    if (xs.forall(_.isDefined)) Some(xs.map(_.get)) else None

  /** The conjunction of every translatable pushed filter — the
    * predicate handed to [[SnapshotTable.readSkipping]]. */
  private[graft] def predicateSql(filters: Seq[Filter]): Option[String] = {
    val parts = filters.flatMap(filterSql)
    if (parts.isEmpty) None else Some(parts.mkString("(", ") AND (", ")"))
  }

  /** The scan predicate for a pushed-filter set: per filter the
    * STRICT (row-exact) translation when it exists — those filters
    * are claimed handled and carry no residual, so the scan's row
    * filter must implement their exact semantics — falling back to
    * the partial pruning-grade translation for half-translatable ANDs
    * (whose residual Spark still re-checks; applying the weaker form
    * in-scan is a sound pre-filter). Used for BOTH file skipping
    * (bounds only ever refute) and readKept's row filter. */
  private[graft] def scanPredicateSql(filters: Seq[Filter])
      : Option[String] = {
    val parts = filters.flatMap(f => strictFilterSql(f).orElse(filterSql(f)))
    if (parts.isEmpty) None else Some(parts.mkString("(", ") AND (", ")"))
  }
}

/** One graft table — plain or governed, behind a [[TableHandle]] — as
  * a DSv2 table. The path connector and the SQL catalog (both kinds) serve this
  * one class, and nothing in it depends on the kind: reads resolve a
  * version, every write stages against the base version
  * [[TableHandle.publish]] hands it.
  *
  *   - A version/tag/branch pin (`versionAsOf`, `tag`, `branch`
  *     options) is read-only time travel: INSERT, DELETE, TRUNCATE and
  *     the SQL DML ([[GraftDml]]) refuse it ([[requireLive]]).
  *   - INSERT OVERWRITE, `mode("overwrite")`, a first write with no
  *     partition spec and the write following CREATE TABLE's empty
  *     snapshot (`firstWrite`, a CTAS) stage a full version; any other
  *     INSERT is the O(batch) partition fast-append
  *     ([[SnapshotTable.stageAppend]]) under the declared
  *     (`partitionBy`) or recorded spec — a table with neither refuses.
  *   - `DELETE FROM ... WHERE ...` lands as a merge-on-read position
  *     delete ([[SnapshotTable.stageMorDelete]]) — zero data bytes
  *     rewritten; predicates the strict translator cannot render
  *     exactly are REJECTED (deleting the wrong rows is not an
  *     optimization miss), as are non-manifested tables (the sidecar
  *     rides the partition manifest).
  *   - `TRUNCATE TABLE` empties a partitioned table by dropping every
  *     partition from the manifest (a metadata-sized commit) and
  *     commits one empty version of a flat one; either is one commit,
  *     time-travelable and rollback-able. */
class GraftTable private[graft] (
    private[graft] val handle: TableHandle,
    tableSchema: StructType,
    options: CaseInsensitiveStringMap,
    private[sources] val firstWrite: Boolean = false)
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.TruncatableTable {

  import TableCapability._

  private def root: String = handle.root

  /** Refuse `stmt` on a version/tag/branch pin — time travel is
    * read-only; writes run against the live table. */
  private[graft] def requireLive(stmt: String): Unit =
    require(!Seq("versionAsOf", "tag", "branch").exists(options.containsKey),
      s"$stmt against a version/tag/branch pin is read-only time " +
        "travel; run it against the live table")

  override def truncateTable(): Boolean = {
    requireLive("TRUNCATE")
    val spark = SparkSession.active
    val part = SnapshotTable.partitionSpec(root)
      .orElse(Option(options.get("partitionBy")).filter(_.nonEmpty))
    handle.publish { base =>
      part match {
        case Some(p) =>
          SnapshotTable.stageDeleteWhere(spark, root, p,
            org.apache.spark.sql.functions.lit(true), base)
        case None =>
          val schema = SnapshotTable.read(spark, root, base).schema
          SnapshotTable.stageVersion(spark.createDataFrame(
            spark.sparkContext.emptyRDD[Row], schema).repartition(1), root,
            base)
      }
    }
    true
  }

  override def canDeleteWhere(filters: Array[Filter]): Boolean = {
    requireLive("DELETE")
    GraftDataSource.strictPredicateSql(filters.toSeq).isDefined &&
      SnapshotTable.manifestEntries(root, handle.version).nonEmpty
  }

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val sql = GraftDataSource.strictPredicateSql(filters.toSeq)
      .getOrElse(throw new UnsupportedOperationException(
        s"cannot translate delete predicate exactly: ${filters.mkString(", ")}"))
    handle.publish(SnapshotTable.stageMorDelete(SparkSession.active, root,
      org.apache.spark.sql.functions.expr(sql), _))
  }

  override def name(): String = handle.toString

  override def schema(): StructType = tableSchema

  override def capabilities(): java.util.Set[TableCapability] =
    // a not-yet-created table (empty schema) must accept the first
    // write's schema as-is; once a schema exists, Spark aligns every
    // insert to it (INSERT VALUES positional names, casts, order)
    if (tableSchema.isEmpty)
      java.util.EnumSet.of(BATCH_READ, BATCH_WRITE, V1_BATCH_WRITE,
        TRUNCATE, ACCEPT_ANY_SCHEMA)
    else
      // AUTOMATIC_SCHEMA_EVOLUTION admits `MERGE WITH SCHEMA
      // EVOLUTION`: the analyzer widens the target through the
      // catalog's metadata-only ALTER before the DML rule fires
      // (consulted only under the explicit keyword)
      java.util.EnumSet.of(BATCH_READ, BATCH_WRITE, V1_BATCH_WRITE,
        TRUNCATE, AUTOMATIC_SCHEMA_EVOLUTION)

  override def newScanBuilder(scanOptions: CaseInsensitiveStringMap): ScanBuilder = {
    // scan options carry the read's own versionAsOf/tag/branch (or a
    // CDC range); fall back to the table-level options, then latest.
    // Both resolve through the handle's refs, so a reader option that
    // Spark also turned into the catalog's time-travel load names the
    // same version the loaded table pins
    val merged =
      if (Seq("versionasof", "tag", "branch", "changesfrom", "appendsfrom")
          .exists(scanOptions.containsKey))
        scanOptions
      else options
    GraftDataSource.auxFrame(handle, merged) match {
      case Some(df) => GraftDataSource.frameScanBuilder(df)
      case None =>
        val v = GraftDataSource.resolveVersion(handle, merged)
        require(v >= 0, s"no committed version of $handle")
        new GraftScanBuilder(root, v, tableSchema)
    }
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    // table-level options (e.g. a catalog table's recorded partition
    // column) are write defaults; per-write options win
    val merged = new java.util.HashMap[String, String](options)
    merged.putAll(info.options())
    new GraftWriteBuilder(this, new CaseInsensitiveStringMap(merged))
  }
}

private[sources] class GraftScanBuilder(root: String, version: Long,
                                        fullSchema: StructType)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit
    with org.apache.spark.sql.connector.read.SupportsPushDownTopN
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  import org.apache.spark.sql.connector.expressions.NamedReference
  import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar, Max, Min}
  import org.apache.spark.sql.types.{LongType, StructField}

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = fullSchema
  private var limit: Option[Int] = None
  private var topn: Option[GraftTopN] = None
  private var aggResult: Option[(StructType, Row)] = None

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // Filters with an EXACT (strict) SQL translation are claimed as
    // fully pushed: the scan applies them itself as its row filter
    // (readKept), so no residual Filter node remains above — which is
    // what lets Spark's TopN pushdown reach the scan for the
    // `WHERE eq-filter ORDER BY ts DESC LIMIT k` serving shape
    // (V2ScanRelationPushDown only pushes TopN through a filter-free
    // operation). Filters with only a PARTIAL translation (a
    // half-translatable AND) still file-prune but stay residual —
    // Spark re-checks their rows above the scan.
    //
    // EXCEPT a pure null-guard set: bare equi-joins carry only the
    // inferred IsNotNull conjuncts, and claiming those would mark the
    // scan predicated — suppressing its numRows/columnStats planner
    // statistics (the CBO join-reorder signal) and paying a pointless
    // skipping pass that can refute nothing. With no real filter
    // there is no TopN composition to enable either, so the guards
    // stay residual and the scan stays statistics-transparent.
    val anyReal = filters.exists(f =>
      GraftDataSource.strictFilterSql(f).isDefined &&
        !f.isInstanceOf[IsNotNull])
    if (anyReal) {
      pushed = filters.filter(f =>
        GraftDataSource.filterSql(f).isDefined ||
          GraftDataSource.strictFilterSql(f).isDefined)
      filters.filterNot(f => GraftDataSource.strictFilterSql(f).isDefined)
    } else {
      pushed = filters.filter(f => GraftDataSource.filterSql(f).isDefined)
      filters
    }
  }

  override def pushedFilters(): Array[Filter] = pushed

  // LIMIT over a bare scan prunes FILES via the recorded per-file row
  // counts (readLimit: fewest counted files whose total guarantees the
  // limit). Under a filter the post-filter row count of a file is
  // unknowable from metadata, so the push declines. Always PARTIAL:
  // Spark keeps its own limit above the scan, pruning is IO-only.
  override def pushLimit(n: Int): Boolean = {
    if (pushed.nonEmpty) return false
    limit = Some(n)
    true
  }

  override def isPartiallyPushed: Boolean = true

  // ORDER BY <col> LIMIT n prunes FILES via the recorded per-file
  // bounds + null counts: files the kept set provably out-ranks never
  // read (see [[SnapshotTable.topNKept]] for the soundness rule).
  // Single direct-column orderings only — an expression ordering has
  // no recorded bounds. COMPOSES with pushed filters when every
  // pushed filter translated strictly (then the scan's row predicate
  // IS the complete filter and [[SnapshotTable.topNKept]]'s
  // must-match accounting counts only provably-surviving rows);
  // a partial-only translation declines (its residual would sit above
  // the scan anyway, so Spark would not push TopN here). Always
  // PARTIAL: Spark keeps its own TopN above, pruning is IO-only, so a
  // table without sidecar coverage simply reads plain.
  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      n: Int): Boolean = {
    if (orders.length != 1) return false
    if (pushed.exists(f => GraftDataSource.strictFilterSql(f).isEmpty))
      return false
    val o = orders.head
    val column = o.expression match {
      case r: NamedReference if r.fieldNames.length == 1 &&
          fullSchema.fieldNames.contains(r.fieldNames.head) =>
        r.fieldNames.head
      case _ => return false
    }
    // only types whose sidecar values the driver-side ordering can
    // compare (statValueOrdering): binary/struct/array bounds (when a
    // fallback scan recorded them) are not Comparable — decline
    // rather than crash at planning
    fullSchema(column).dataType match {
      case _: org.apache.spark.sql.types.NumericType |
          org.apache.spark.sql.types.StringType |
          org.apache.spark.sql.types.DateType |
          org.apache.spark.sql.types.TimestampType |
          org.apache.spark.sql.types.TimestampNTZType |
          org.apache.spark.sql.types.BooleanType => ()
      case _ => return false
    }
    import org.apache.spark.sql.connector.expressions.{NullOrdering, SortDirection}
    topn = Some(GraftTopN(column,
      o.direction == SortDirection.DESCENDING,
      o.nullOrdering == NullOrdering.NULLS_FIRST, n))
    true
  }

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  // ── metadata-answered aggregates (Iceberg's manifests-answer-the-
  // count, surfaced through Catalyst's aggregate pushdown): a bare
  // COUNT(*) / MIN / MAX over the whole table resolves from the
  // recorded per-file stats — zero data bytes when the sidecars cover
  // the files. Any filter, grouping, or unanswerable column (no
  // recorded bounds, unapplied MoR deletes) declines, and Spark runs
  // the ordinary scan-and-aggregate plan.

  private def topField(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] = e match {
    case r: NamedReference if r.fieldNames.length == 1 =>
      Some(r.fieldNames.head).filter(fullSchema.fieldNames.contains)
    case _ => None
  }

  private def answer(agg: Aggregation): Option[(StructType, Row)] = {
    if (pushed.nonEmpty || agg.groupByExpressions.nonEmpty) return None
    val spark = SparkSession.active
    val bounds = scala.collection.mutable.Map.empty[String, Option[(Any, Any)]]
    def boundsOf(c: String): Option[(Any, Any)] =
      bounds.getOrElseUpdate(c,
        SnapshotTable.fastBounds(spark, root, c, version))
    val cells = agg.aggregateExpressions.toSeq.map {
      case _: CountStar =>
        // STRICTLY metadata-only (fastCountMeta): the unrestricted
        // fastCount can fall back to scans, which would run a full
        // read at query PLANNING time — decline and let the ordinary
        // scan-aggregate plan pay that cost where it belongs
        SnapshotTable.fastCountMeta(spark, root, version).map(n =>
          StructField("count_star", LongType, nullable = false) ->
            (n: Any))
      case m: Min => topField(m.column).flatMap { c =>
        boundsOf(c).map(b =>
          StructField(s"min_$c", fullSchema(c).dataType) -> b._1)
      }
      case m: Max => topField(m.column).flatMap { c =>
        boundsOf(c).map(b =>
          StructField(s"max_$c", fullSchema(c).dataType) -> b._2)
      }
      case _ => None
    }
    if (cells.exists(_.isEmpty) || cells.isEmpty) None
    else Some((StructType(cells.map(_.get._1)),
      Row.fromSeq(cells.map(_.get._2))))
  }

  override def supportCompletePushDown(agg: Aggregation): Boolean = {
    aggResult = answer(agg)
    aggResult.isDefined
  }

  override def pushAggregation(agg: Aggregation): Boolean = {
    if (aggResult.isEmpty) aggResult = answer(agg)
    aggResult.isDefined
  }

  override def build(): Scan = aggResult match {
    case Some((schema, row)) => new GraftAggScan(root, version, schema, row)
    case None =>
      new GraftScan(root, version,
        GraftDataSource.scanPredicateSql(pushed.toSeq), required, limit,
        topn = topn)
  }
}

/** A pushed `ORDER BY column LIMIT n` (single direct column): the
  * scan prunes files whose best possible rows the kept files provably
  * out-rank. */
private[graft] case class GraftTopN(column: String, descending: Boolean,
                                    nullsFirst: Boolean, n: Int)

/** The metadata-answered aggregate scan: one precomputed row. */
private[sources] class GraftAggScan(root: String, version: Long,
                                    aggSchema: StructType,
                                    row: Row) extends V1Scan {

  override def readSchema(): StructType = aggSchema

  override def description(): String =
    s"GraftAggScan root=$root v=$version metadata-answered"

  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T =
    new BaseRelation with TableScan {
      override def sqlContext: SQLContext = context
      override def schema: StructType = aggSchema
      override def buildScan(): RDD[Row] =
        context.sparkSession.sparkContext.parallelize(Seq(row), 1)
    }.asInstanceOf[T]
}

private[sources] class GraftScan(
    private[graft] val root: String,
    private[graft] val version: Long,
    private[graft] val predicate: Option[String],
    private[graft] val required: StructType,
    private[graft] val limit: Option[Int] = None,
    private[graft] val runtimeFiltered: Boolean = false,
    private[graft] val runtimeBlooms: Seq[RuntimeBloom] = Nil,
    private[graft] val topn: Option[GraftTopN] = None)
    extends V1Scan
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  override def readSchema(): StructType = required

  override def description(): String =
    s"GraftScan root=$root v=$version skip=${predicate.getOrElse("-")}" +
      limit.fold("")(n => s" limit=$n") +
      topn.fold("")(t => s" topn=${t.column}" +
        (if (t.descending) " DESC" else " ASC") + s" n=${t.n}") +
      (if (runtimeFiltered) " runtimeFiltered" else "") +
      (if (runtimeBlooms.nonEmpty)
        runtimeBlooms.map(b => s"${b.column}(${b.keyCount} keys)")
          .mkString(" runtimeBloom=", ",", "")
      else "")

  /** This scan narrowed by a RUNTIME-derived conjunct (a join's
    * dim-side key set/range) plus optional dim-key BLOOMS (the
    * past-IN-cap cardinality tier: file-sidecar probes + a row-level
    * might-contain residual) — the dynamic-filtering rewrite. The
    * conjunct and blooms only ever refute files/rows the join would
    * drop anyway (the caller guarantees join semantics allow it);
    * marked so the fixed-point optimizer batch applies it once. Limit
    * pruning under a predicate is declined by the builder, so `limit`
    * cannot be set alongside — but drop it defensively anyway (its
    * file pruning is unsound under a predicate). */
  private[graft] def withRuntimeConjunct(conjunct: String,
                                         blooms: Seq[RuntimeBloom] = Nil)
      : GraftScan =
    new GraftScan(root, version,
      Some(predicate.map(p => s"($p) AND ($conjunct)").getOrElse(conjunct)),
      required, None, runtimeFiltered = true, runtimeBlooms = blooms)

  // the files a pushed predicate keeps, computed ONCE at planning
  // time: their byte total is the statistic Catalyst's join selection
  // reads (below), and the physical scan reuses the same list — the
  // pruning pass is never paid twice. Runtime dim-key blooms refute
  // further through the file bloom sidecars (files without a sidecar
  // are kept).
  private[sources] lazy val kept: Option[Seq[String]] = predicate match {
    case Some(p) =>
      val base = SnapshotTable.skippingKept(SparkSession.active, root, p,
        version)
      val bloomed = runtimeBlooms.foldLeft(base)((fs, b) =>
        SnapshotTable.bloomKeysKept(SparkSession.active, root,
          b.column, b.fileProbes, fs))
      // pushed TopN composes with the pushed filter: the prefix
      // search runs over the skipping survivors with must-match
      // guarantee accounting (only rows PROVEN to survive the filter
      // count toward the ≥n guarantee — the builder only pushes TopN
      // when every pushed filter is strict, so `p` is the complete
      // row predicate). None (unprovable / nothing prunable / any
      // failure) keeps the skipping survivors — pruning is an
      // optimization, never a correctness gate.
      val narrowed = topn.flatMap { t =>
        try SnapshotTable.topNKept(SparkSession.active, root,
          version, t.column, t.descending, t.nullsFirst, t.n,
          candidatesOverride = Some(bloomed), filterSql = Some(p))
        catch { case scala.util.control.NonFatal(_) => None }
      }
      Some(narrowed.getOrElse(bloomed))
    case None =>
      // pushed TopN prunes by recorded bounds + null counts; None
      // (no sidecar coverage / nothing prunable / any failure) reads
      // plain — pruning is an optimization, never a correctness gate
      topn.flatMap { t =>
        try SnapshotTable.topNKept(SparkSession.active, root,
          version, t.column, t.descending, t.nullsFirst, t.n)
        catch { case scala.util.control.NonFatal(_) => None }
      }
  }

  /** POST-pruning planner statistics (Catalyst consults this through
    * `SupportsReportStatistics` — a V1 relation's own `sizeInBytes` is
    * only built at physical planning, AFTER join selection): the live
    * data bytes of this version, shrunk to the surviving files when a
    * pushed predicate file-prunes — a selective scan of a big table
    * drops below the auto-broadcast threshold exactly when its
    * surviving files do (the filter-then-join star-schema pattern).
    * Row count reports only when the manifest covers it for free. */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics =
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(kept match {
          case Some(fs) => SnapshotTable.keptBytes(root, fs)
          case None => SnapshotTable.dataSizeBytes(root, version)
        })
      override def numRows(): java.util.OptionalLong =
        // a TopN-pruned scan returns only the kept files' rows — the
        // table count would overstate it
        if (predicate.isDefined || kept.isDefined)
          java.util.OptionalLong.empty
        else SnapshotTable.fastCountMeta(SparkSession.active, root, version)
          .map(java.util.OptionalLong.of)
          .getOrElse(java.util.OptionalLong.empty)
      // per-column NDV from the table's HLL sketch sidecars (the
      // Iceberg-Puffin-to-CBO path): `DataSourceV2Relation
      // .transformV2Stats` turns these into attributeStats, feeding
      // Catalyst's join cardinality estimation and CBO join reorder.
      // Whole-table reads only — a pushed predicate changes per-column
      // NDV in ways the sketches can't see. The fold is memoized per
      // (root, version) and no-ops (metadata check only) on tables
      // never ANALYZEd with collectNdv.
      override def columnStats()
          : java.util.Map[org.apache.spark.sql.connector.expressions.NamedReference,
                          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
        if (predicate.isDefined || topn.isDefined)
          return java.util.Collections.emptyMap()
        val ndv = SnapshotTable.tableNdv(SparkSession.active, root, version)
        if (ndv.isEmpty) return java.util.Collections.emptyMap()
        val m = new java.util.HashMap[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
        required.fields.foreach { fld =>
          val f = fld.name
          // a RANGE-typed column (numeric/date/timestamp/boolean) with
          // counts but no bounds reads as an all-null column to
          // Catalyst's range-overlap check (NullRange -> disjoint ->
          // zero-row joins), so those columns report only when their
          // min/max bounds are recorded too; string/binary columns
          // range as DefaultRange and are safe counts-only
          val ranged = fld.dataType match {
            case _: org.apache.spark.sql.types.NumericType => true
            case org.apache.spark.sql.types.DateType |
                 org.apache.spark.sql.types.TimestampType |
                 org.apache.spark.sql.types.TimestampNTZType |
                 org.apache.spark.sql.types.BooleanType => true
            case _ => false
          }
          val bounds: Option[(Any, Any)] =
            if (!ranged) None
            else SnapshotTable.fastBoundsCached(
              SparkSession.active, root, f, version) match {
              case Some((lo, hi)) =>
                (GraftScan.catalystStatVal(lo),
                  GraftScan.catalystStatVal(hi)) match {
                  case (Some(l), Some(h)) => Some((l, h))
                  case _ => None
                }
              case None => None
            }
          ndv.get(f).filter(_ => !ranged || bounds.isDefined).foreach { n =>
            m.put(
              org.apache.spark.sql.connector.expressions.Expressions.column(f),
              new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
                override def distinctCount(): java.util.OptionalLong =
                  java.util.OptionalLong.of(n.ndv)
                // ColumnStat.hasCountStats (what JoinEstimation keys
                // on) needs BOTH counters
                override def nullCount(): java.util.OptionalLong =
                  java.util.OptionalLong.of(n.nullCount)
                override def min(): java.util.Optional[Object] =
                  bounds.map(b => java.util.Optional.of(
                    b._1.asInstanceOf[Object]))
                    .getOrElse(java.util.Optional.empty[Object]())
                override def max(): java.util.Optional[Object] =
                  bounds.map(b => java.util.Optional.of(
                    b._2.asInstanceOf[Object]))
                    .getOrElse(java.util.Optional.empty[Object]())
              })
          }
        }
        m
      }
    }

  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T =
    new GraftRelation(context, root, version, predicate, required, limit,
      kept, runtimeBlooms).asInstanceOf[T]
}

private[sources] object GraftScan {
  /** A stats-sidecar value (external JVM type, as parquet hands it
    * back) converted to the CATALYST-internal representation
    * `ColumnStat.min/max` stores — `transformV2Stats` passes V2 column
    * stats through unconverted. Types without a defined conversion
    * return None (the caller then omits the bound). */
  private[sources] def catalystStatVal(v: Any): Option[Any] = v match {
    case null => None
    case _: java.lang.Boolean | _: java.lang.Byte | _: java.lang.Short |
         _: java.lang.Integer | _: java.lang.Long | _: java.lang.Float |
         _: java.lang.Double => Some(v)
    case d: java.sql.Date =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaDate(d))
    case d: java.time.LocalDate =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.localDateToDays(d))
    case t: java.sql.Timestamp =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(t))
    case i: java.time.Instant =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(i))
    case dt: java.time.LocalDateTime =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils
        .localDateTimeToMicros(dt))
    case d: java.math.BigDecimal =>
      Some(org.apache.spark.sql.types.Decimal(d))
    case _ => None
  }
}

/** A runtime dim-key bloom a star join pushed into a fact scan:
  * `words` is the dim-geometry bit set the ROW residual probes
  * (mBits/64 longs, [[SnapshotTable.bloomProbeColumn]] discipline),
  * `fileProbes` the same key domain pre-hashed at FILE-sidecar
  * geometry ([word,mask]×3 per key) for sidecar pruning. Both are
  * might-contain sets over the dim's complete key domain — refutation
  * only drops fact rows/files the equi-join would drop anyway. */
private[graft] case class RuntimeBloom(column: String, mBits: Long, k: Int,
                                       words: Seq[Long],
                                       fileProbes: Seq[Seq[Long]],
                                       keyCount: Long)

/** The V1 fallback relation: builds the library read (file-skipping
  * when a predicate was pushed) and hands Spark its RDD — the inner
  * parquet scan keeps vectorization and whole-stage codegen. */
private[sources] class GraftRelation(ctx: SQLContext, root: String,
                                     version: Long,
                                     predicate: Option[String],
                                     required: StructType,
                                     limit: Option[Int] = None,
                                     keptFiles: Option[Seq[String]] = None,
                                     runtimeBlooms: Seq[RuntimeBloom] = Nil)
    extends BaseRelation with TableScan {

  override def sqlContext: SQLContext = ctx

  // the kept-file list [[GraftScan]] already computed for its planner
  // statistics; recomputed here only when the relation is built
  // standalone
  private lazy val kept: Option[Seq[String]] = keptFiles.map(Some(_))
    .getOrElse(predicate.map(p =>
      SnapshotTable.skippingKept(ctx.sparkSession, root, p, version)))

  override def schema: StructType = required

  // join selection reads [[GraftScan.estimateStatistics]] (the V2
  // node's stats); this covers direct uses of the relation
  override def sizeInBytes: Long = kept match {
    case Some(fs) => SnapshotTable.keptBytes(root, fs)
    case None => SnapshotTable.dataSizeBytes(root, version)
  }

  override def buildScan(): RDD[Row] = {
    val spark = ctx.sparkSession
    val base = (predicate, limit) match {
      case (Some(p), _) =>
        SnapshotTable.readKept(spark, root, version, kept.get, p)
      case (None, _) if kept.isDefined =>
        // TopN-pruned file set (no row predicate): read exactly those
        // files; Spark's own TopN above selects the final rows
        SnapshotTable.readFiles(spark, root, version, kept.get)
      case (None, Some(n)) => SnapshotTable.readLimit(spark, root, n, version)
      case _ => SnapshotTable.read(spark, root, version)
    }
    // runtime dim-key blooms: the row-level might-contain residual —
    // shrinks the fact side of the exchange even when file pruning
    // could not (uncorrelated layouts); false positives just flow to
    // the join, false negatives cannot exist by construction
    val bloomed = runtimeBlooms.foldLeft(base)((df, b) =>
      df.filter(SnapshotTable.bloomProbeColumn(
        col(b.column), b.mBits, b.k, b.words)))
    bloomed.select(required.fieldNames.toIndexedSeq.map(col): _*).rdd
  }
}

/** A read-only DSv2 table over a deferred DataFrame — serves the
  * metadata inspection tables (`db.t.files` / `.snapshots` / `.refs` /
  * `.history`, Iceberg's `t$files` family) through the SQL catalog. */
private[sources] class GraftMetadataTable(tableName: String,
                                          df: () => DataFrame)
    extends Table with SupportsRead {

  private lazy val frame: DataFrame = df()

  override def name(): String = tableName

  override def schema(): StructType = frame.schema

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    GraftDataSource.frameScanBuilder(() => frame)
}

private[sources] object GraftMetadataTable {

  /** The metadata relation `kind` over snapshot table `root`, or None
    * for an unknown kind. `version` pins marker-less (catalog-governed)
    * tables, whose current version lives in catalog manifests. */
  def forKind(spark: SparkSession, root: String, kind: String,
              version: Long = -1L): Option[() => DataFrame] = kind match {
    case "files" =>
      Some(() => graft.operators.TableInspect.files(spark, root, version))
    case "snapshots" =>
      Some(() => graft.operators.TableInspect.snapshots(spark, root))
    case "refs" => Some(() => graft.operators.TableInspect.refs(spark, root))
    case "history" =>
      Some(() => graft.operators.TableInspect.history(spark, root, version))
    case "properties" =>
      Some(() => graft.operators.TableInspect.properties(spark, root, version))
    case _ => None
  }
}

private[sources] class GraftWriteBuilder(table: GraftTable,
                                         options: CaseInsensitiveStringMap)
    extends WriteBuilder with SupportsTruncate {

  private var overwrite = false

  override def truncate(): WriteBuilder = { overwrite = true; this }

  override def build(): Write = new V1Write {
    override def toInsertableRelation(): InsertableRelation =
      new InsertableRelation {
        override def insert(data0: DataFrame, legacyOverwrite: Boolean): Unit = {
          table.requireLive("INSERT")
          val root = table.handle.root
          // a full version replaces the table: never re-stage `data`
          // onto a table another writer moved (prior versions stay
          // time-travelable)
          val full = overwrite || legacyOverwrite || table.firstWrite
          // the layout an append stages under: the declared spec, else
          // the table's recorded one — resolved once, so the clustering
          // below and the staged append agree
          val spec = Option(options.get("partitionBy")).filter(_.nonEmpty)
            .orElse(SnapshotTable.partitionSpecAt(root, math.max(table.handle.version, 0L)))
          // cluster an append by its partition values BEFORE the write:
          // each value lands in one task, so a fast-append writes ONE
          // file per touched partition instead of tasks × partitions —
          // the small-files guard at any parallelism (Iceberg's
          // write.distribution-mode=hash; done here because Spark's
          // RequiresDistributionAndOrdering is not honored on the V1
          // fallback write path — verified empirically).
          // .option("clusterWrites", "false") opts out for
          // pre-clustered inputs.
          val data = spec match {
            case Some(sp) if !full &&
                !"false".equalsIgnoreCase(options.get("clusterWrites")) =>
              data0.repartition(SnapshotTable.parseSpecs(sp).map(ps =>
                ps.valueExpr(data0.schema(ps.source).dataType)): _*)
            case _ => data0
          }
          val stats = GraftDataSource.csv(options, "statsCols")
          val blooms = GraftDataSource.csv(options, "bloomCols")
          // declare BEFORE the commit so this very write's footer-lift
          // pass already sketches NDV — CBO reorder works on the fresh
          // table with no ANALYZE call
          val ndvs = GraftDataSource.csv(options, "ndvCols")
          if (ndvs.nonEmpty) SnapshotTable.setNdvColumns(root, ndvs)
          table.handle.publish({ base =>
            if (full || (spec.isEmpty && base < 0))
              SnapshotTable.stageVersion(data, root, base, stats, blooms)
            else SnapshotTable.stageAppend(data, root,
              spec.getOrElse(throw new IllegalArgumentException(
                "append to an existing graft table is the partition " +
                  "fast-append and needs a partitioned layout: set " +
                  ".option(\"partitionBy\", <col>), or overwrite " +
                  "(INSERT OVERWRITE, mode(\"overwrite\"))")),
              base, stats, blooms)
          }, restage = !full)
        }
      }
  }
}
