package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types

/** Versioned parquet table: snapshots, time travel, rollback, expiry.
  *
  * The reference gets these from Iceberg (`compaction.py:30-80` calls
  * its snapshot procedures); no table-format jars ship here, so the
  * same capability class is a directory-of-versions protocol:
  * `<root>/v=N/` holds the full snapshot for version N and a
  * `_latest` marker file names the current version. Writers publish a
  * new version directory then atomically move the marker — readers of
  * any existing version are never disturbed (copy-on-write semantics,
  * the same isolation Iceberg's copy-on-write mode gives).
  *
  * Every commit runs ONE protocol, owned by two helpers: [[stageNext]]
  * claims `v=N` (N = max on-disk version + 1), runs the entry point's
  * write, records `_parent` and stamps `_committed`; [[publish]] reads
  * the base, runs a staging half against it, writes the optional
  * `_txn` stamp and moves `_latest`. Every `stage*` half is a
  * [[stageNext]] body; every public commit is a [[publish]] over one.
  *
  * Scale: a snapshot write is one distributed parquet job; commit is a
  * single tiny marker rename. Time-travel reads are ordinary
  * partition-pruned scans of one version directory.
  */
object SnapshotTable {

  private def markerPath(root: String) = MetaIO.join(root, "_latest")

  /** Latest committed version, or -1 if none. */
  def latestVersion(root: String): Long = {
    val m = markerPath(root)
    if (MetaIO.exists(m)) MetaIO.readString(m).trim.toLong else -1L
  }

  /** All committed versions present on disk, ascending. */
  def versions(root: String): Seq[Long] =
    MetaIO.listNames(root)
      .filter(_.startsWith("v="))
      .map(_.stripPrefix("v=").toLong)
      .sorted

  private[graft] def moveMarker(root: String, version: Long): Unit = {
    MetaIO.mkdirs(MetaIO.join(root))
    MetaIO.publishString(markerPath(root), version.toString)
  }

  /** Atomically claim a version directory ([[MetaIO.claimDir]] — a
    * POSIX atomic createDirectory locally, mkdirs + an exclusive
    * `.claim` file on generic filesystems): of two writers racing to
    * the same version number, exactly one wins — the loser fails fast
    * here instead of silently clobbering the winner's files with
    * `mode("overwrite")`. */
  private[graft] def claimVersion(root: String, version: Long): Unit = {
    MetaIO.mkdirs(MetaIO.join(root))
    try MetaIO.claimDir(MetaIO.join(root, s"v=$version"))
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new java.util.ConcurrentModificationException(
          s"snapshot version $version at $root already exists " +
            "(concurrent committer or unexpired leftover); retry to " +
            "target the next free version")
    }
  }

  /** Stage the next version against `base`: claim `v=N` (N = max
    * on-disk version + 1, NOT marker + 1 — after a rollback the
    * still-on-disk newer versions must never be overwritten in place),
    * run `write(N)`, record `_parent` = `base` (ancestry for
    * fast-forward checks) and stamp `_committed`. Nothing is
    * published. Validation that must not leave an orphan claim runs
    * BEFORE this call. */
  private def stageNext(root: String, base: Long)(write: Long => Unit): Long = {
    val next = nextVersion(root)
    claimVersion(root, next)
    write(next)
    MetaIO.writeString(MetaIO.join(root, s"v=$next", "_parent"), base.toString)
    stampCommitted(root, next)
    next
  }

  private def nextVersion(root: String): Long =
    versions(root).lastOption.getOrElse(-1L) + 1

  /** Publish one staged version: read the base (the `_latest` marker),
    * run `stage` against it, write the idempotent-writer stamp `txn`
    * (`(writerId, batchId)`, see [[lastTxnBatch]]) into the staged
    * directory, and move the marker. A stage returning -1 or `base`
    * staged nothing: the marker stays and `base` is returned. */
  private[graft] def publish(root: String, txn: Option[(String, Long)] = None)
                            (stage: Long => Long): Long = {
    txn.foreach { case (w, _) =>
      require(!w.contains("\n"), "writerId must be newline-free") }
    val base = latestVersion(root)
    val next = stage(base)
    if (next < 0 || next == base) base
    else {
      txn.foreach { case (w, b) =>
        MetaIO.writeString(MetaIO.join(root, s"v=$next", "_txn"), s"$w\n$b")
      }
      moveMarker(root, next)
      next
    }
  }

  /** Publish `df` as the next snapshot; returns the new version. The
    * version dir is claimed atomically first ([[stageNext]]), so a
    * concurrent committer racing to the same version number fails
    * instead of silently overwriting. `statsCols` additionally records
    * per-FILE min/max manifest stats for those columns
    * ([[readSkipping]] prunes files with them). */
  def commit(df: DataFrame, root: String,
             statsCols: Seq[String] = Seq.empty,
             bloomCols: Seq[String] = Seq.empty): Long =
    publish(root)(stageVersion(df, root, _, statsCols, bloomCols))

  /** Write `df` as a fully-materialized version directory WITHOUT
    * advancing any ref — the "write data files, publish later" half of
    * every ACID commit protocol. [[commit]] is stage + marker move;
    * [[Catalog.transact]] stages across MANY tables first and then
    * publishes them all with one catalog-level marker move (the
    * multi-table atomicity Nessie commits have and per-table markers
    * cannot give). The `_parent` recorded is the version this staging
    * logically succeeds (ancestry for fast-forward checks). */
  private[graft] def stageVersion(df: DataFrame, root: String,
                                  parent: Long = -1L,
                                  statsCols: Seq[String] = Seq.empty,
                                  bloomCols: Seq[String] = Seq.empty): Long =
    stageNext(root, parent) { next =>
      df.write.mode("overwrite").parquet(s"$root/v=$next")
      commitChecksAndStats(df.sparkSession, root, next, statsCols, bloomCols)
    }

  /** Mark a version directory's data write as complete. Written AFTER
    * the parquet job and BEFORE the ref advance: a directory claimed by
    * a writer that crashed mid-write never carries it, which is what
    * [[sweepOrphans]] keys on (Iceberg gets the same signal from "is
    * this file reachable from any snapshot manifest"). */
  private def stampCommitted(root: String, version: Long): Unit =
    MetaIO.writeString(MetaIO.join(root, s"v=$version", "_committed"), "")

  /** Is `version`'s data write complete? */
  def isCommitted(root: String, version: Long): Boolean =
    MetaIO.exists(MetaIO.join(root, s"v=$version", "_committed"))

  /** Read the current snapshot (or a specific `version` — time
    * travel). Manifest-aware: a delta-committed version
    * ([[commitDelta]]) resolves through its partition manifest to ONE
    * unified scan over every referenced `v=M/part=...` directory
    * (basePath = table root, the storage-version layer inferred away),
    * so partition pruning and pushdown behave exactly as on a plain
    * partitioned table. Every read path (branches, [[Catalog]],
    * Serving) goes through here, so delta tables compose everywhere. */
  def read(spark: SparkSession, root: String, version: Long = -1L): DataFrame = {
    val v = if (version >= 0) version else latestVersion(root)
    require(v >= 0, s"no committed version at $root")
    val dels = deleteEntries(root, v)
    val eqs = eqDeleteEntries(root, v)
    val df = scan(spark, root, v, withPos = dels.nonEmpty || eqs.nonEmpty)
    resolveDeletes(spark, root, dels, eqs, df)
  }

  /** Reserved (file, position) column names carried by [[scan]] when a
    * read must resolve merge-on-read delete files. Root-relative file
    * paths (`v=N/part=.../file.parquet`) keep the table movable. */
  private val FileCol = "_gft_file"
  private val PosCol = "_gft_pos"

  private def posCols: Seq[Column] = Seq(
    regexp_extract(col("_metadata.file_path"), "(v=\\d+/.*)$", 1)
      .as(FileCol),
    col("_metadata.row_index").as(PosCol))

  /** The physical scan of a version — plain, manifested, or
    * era-projected — optionally carrying each row's (file, position)
    * identity from the parquet reader's `_metadata` column (needed to
    * resolve merge-on-read position deletes). */
  private def scan(spark: SparkSession, root: String, v: Long,
                   withPos: Boolean): DataFrame = {
    val m = manifestEntries(root, v)
    if (m.isEmpty) {
      // a MANIFESTED version with zero live entries — everything was
      // deleted (deleteWhere emptying every partition) or truncated:
      // an empty frame under the version's recorded schema, NOT a
      // doomed schema-inference over an empty directory
      if (MetaIO.exists(manifestPath(root, v))) {
        val schema = recordedSchema(root, v).getOrElse(
          throw new IllegalStateException(
            s"version $v at $root has an empty manifest and no " +
              "recorded schema"))
        val base = spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        return if (!withPos) base
        else base.select(col("*") +:
          Seq(lit(null).cast("string").as(FileCol),
            lit(null).cast("long").as(PosCol)): _*)
      }
      val base = spark.read.parquet(s"$root/v=$v")
      if (withPos) base.select(col("*") +: posCols: _*) else base
    } else scanEntries(spark, root, v, m, withPos)
  }

  /** The manifested scan of version `v` RESTRICTED to `m` — the
    * entry-set parameterization [[scan]] and [[appendedBetween]]
    * share (era projection, per-spec grouping, v-collision fallback
    * all apply to whatever subset is passed). */
  private def scanEntries(spark: SparkSession, root: String, v: Long,
                          m: Seq[(String, Long)],
                          withPos: Boolean): DataFrame = {
    {
      // field-id resolution (the Iceberg evolution rule): when version
      // metadata carries a field-id table, every referenced storage
      // era's PHYSICAL column names resolve to the current names by id
      // — a renamed column reads correctly from files written under its
      // old name, a dropped-then-readded name never resurrects old data
      val eras = eraProjections(spark, root, v,
        m.map { case (part, sv) => (s"v=$sv/$part", sv) }, withPos)
      if (eras.isDefined) return eras.get
      // one scan per partition-spec ERA (usually one): directories
      // written under different specs cannot share a partition
      //-discovery pass (their dir layouts disagree), but each era's
      // scan keeps its own partition pruning, and a predicate on the
      // other era's column pushes down as a data filter there
      val specGroups = m.sorted
        .groupBy { case (_, sv) => partitionSpecAt(root, sv) }
        .toSeq.sortBy(_._1.getOrElse(""))
      // schema from version METADATA, not file-footer sampling (the
      // Iceberg rule): a union scan over storage versions written
      // before a column existed must still surface it (null-filled),
      // and planning must not read every footer at 100 TB file counts
      val recSchema = recordedSchema(root, v)
      // a DATA column literally named "v" collides with the storage
      // layer's `v=N` partition inference under a table-root basePath
      // (drop("v") would silently erase user data) — such tables scan
      // per storage version with basePath v=N, so the storage layer
      // never becomes a column at all
      val vCollision = recSchema.exists(_.fieldNames.contains("v"))
      val scans = specGroups.flatMap { case (specOpt, entries) =>
        // hidden partitioning: a transform era's DERIVED directory
        // fields are layout, not data — partition discovery surfaces
        // them, readers never do
        val hidden = specOpt.toSeq.flatMap(parseSpecs)
          .filterNot(_.isIdentity).map(_.field)
        def hide(df: DataFrame): DataFrame = hidden.foldLeft(df)(_.drop(_))
        def reader = recSchema.map(spark.read.schema(_))
          .getOrElse(spark.read)
        if (!vCollision) {
          val dirs = entries.map { case (part, sv) => s"$root/v=$sv/$part" }
          val base = reader.option("basePath", root).parquet(dirs: _*)
          val b2 =
            if (withPos) base.select(col("*") +: posCols: _*) else base
          Seq(hide(b2.drop("v")))
        } else entries.groupBy(_._2).toSeq.sortBy(_._1)
          .map { case (sv, es) =>
            val dirs = es.map { case (part, _) => s"$root/v=$sv/$part" }
            val base = reader.option("basePath", s"$root/v=$sv")
              .parquet(dirs: _*)
            hide(if (withPos) base.select(col("*") +: posCols: _*) else base)
          }
      }
      scans.reduce(_.unionByName(_))
    }
  }

  /** Resolve BOTH merge-on-read delete flavors over a
    * position-carrying frame — position sidecars first (exact (file,
    * row) identities; the delete relation is tiny relative to the
    * data, so AQE plans a broadcast anti join), then equality sidecars
    * under the Iceberg sequence rule — KEEPING the identity columns
    * (write paths locate rows by them). */
  private def resolvePositioned(spark: SparkSession, root: String,
                                dels: Seq[Long],
                                eqs: Seq[(Long, Seq[String])],
                                df: DataFrame): DataFrame = {
    val afterPos =
      if (dels.isEmpty) df
      else df.join(readDeleteFiles(spark, root, dels),
        Seq(FileCol, PosCol), "left_anti")
    applyEqDeleteFiles(spark, root, eqs, afterPos)
  }

  /** [[resolvePositioned]] for readers: the identity columns dropped. */
  private def resolveDeletes(spark: SparkSession, root: String,
                             dels: Seq[Long],
                             eqs: Seq[(Long, Seq[String])],
                             df: DataFrame): DataFrame =
    if (dels.isEmpty && eqs.isEmpty) df
    else resolvePositioned(spark, root, dels, eqs, df).drop(FileCol, PosCol)

  /** Version `v`'s live rows with their (file, position) identities. */
  private def livePositioned(spark: SparkSession, root: String, v: Long,
                             dels: Seq[Long],
                             eqs: Seq[(Long, Seq[String])]): DataFrame =
    resolvePositioned(spark, root, dels, eqs,
      scan(spark, root, v, withPos = true))

  /** A row's storage version (the `v=M` its file lives under) — the
    * sequence number of the Iceberg equality-delete rule. */
  private val SeqCol = "_gft_seq"
  private val EqVerCol = "_gft_delv"

  /** Anti-join a position-carrying frame against the accumulated
    * equality-delete sidecars: a row in storage version M is dead iff
    * some equality delete at version D > M matches its key columns
    * (null-safe equality). STRICT inequality is the Iceberg sequence
    * rule — it is what lets [[upsertMor]] land a batch's appends and
    * the delete of their older twins in ONE commit without the batch
    * deleting itself. Each sidecar is tiny (the op's key set), so the
    * join is an explicit broadcast probe, never a shuffle. */
  private def applyEqDeleteFiles(spark: SparkSession, root: String,
                                 eqs: Seq[(Long, Seq[String])],
                                 df: DataFrame): DataFrame =
    if (eqs.isEmpty) df
    else eqDeleteGroups(spark, root, eqs).foldLeft(withSeq(df)) {
      case (cur, (keyCols, delDf)) =>
        cur.join(broadcast(delDf), eqMasked(cur, keyCols, delDf), "left_anti")
    }.drop(SeqCol)

  /** A position-carrying frame plus each row's storage version. */
  private def withSeq(df: DataFrame): DataFrame =
    df.withColumn(SeqCol,
      regexp_extract(col(FileCol), "^v=(\\d+)/", 1).cast("long"))

  /** Equality-delete sidecars grouped by key-column set (a stable
    * order), each group one (keys…, [[EqVerCol]]) frame. */
  private def eqDeleteGroups(spark: SparkSession, root: String,
                             eqs: Seq[(Long, Seq[String])])
      : Seq[(Seq[String], DataFrame)] =
    eqs.groupBy(_._2).toSeq.sortBy(_._1.mkString(",")).map {
      case (keyCols, group) => keyCols -> group.map { case (d, _) =>
        spark.read.parquet(s"$root/v=$d/_eqdeletes")
          .select(keyCols.map(col): _*)
          .withColumn(EqVerCol, lit(d))
      }.reduce(_.unionByName(_))
    }

  /** The sequence rule over a [[withSeq]] frame: the sidecar row masks
    * a row iff the keys match null-safely and the row is older. */
  private def eqMasked(cur: DataFrame, keyCols: Seq[String],
                       delDf: DataFrame): Column =
    keyCols.map(k => cur(k) <=> delDf(k)).reduce(_ && _) &&
      cur(SeqCol) < delDf(EqVerCol)

  private def readDeleteFiles(spark: SparkSession, root: String,
                              dels: Seq[Long]): DataFrame =
    spark.read.parquet(dels.map(d => s"$root/v=$d/_deletes"): _*)

  private def schemaPath(root: String, version: Long) =
    MetaIO.join(root, s"v=$version", "_schema")

  /** The schema recorded when `version` was staged (manifested
    * versions only; None for plain commits and pre-evolution tables). */
  def recordedSchema(root: String, version: Long): Option[types.StructType] = {
    val p = schemaPath(root, version)
    if (!MetaIO.exists(p)) None
    else Some(types.DataType.fromJson(MetaIO.readString(p))
      .asInstanceOf[types.StructType])
  }

  // ──────── field-id schema evolution (rename/drop as metadata) ────────
  //
  // Iceberg's rule: every column carries a STABLE field id; a rename or
  // drop is a metadata-only commit (zero data movement) and readers
  // resolve each file era's physical names by id. `_fields` in a
  // version dir maps id → the name current AT THAT VERSION; files of a
  // storage era are projected onto the reading version's names through
  // the shared ids. Versions written before field ids existed fall back
  // to name-identity (documented: a drop-then-readd across that
  // boundary could resurrect — impossible once `_fields` exists, since
  // the re-added column gets a fresh id).

  private def fieldsPath(root: String, version: Long) =
    MetaIO.join(root, s"v=$version", "_fields")

  /** The field-id table of `version`: (id, name-at-that-version). */
  def fieldIds(root: String, version: Long): Option[Seq[(Int, String)]] = {
    val p = fieldsPath(root, version)
    if (!MetaIO.exists(p)) None
    else Some(MetaIO.readString(p).linesIterator
      .filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val i = l.indexOf('\t')
        l.substring(0, i).toInt -> l.substring(i + 1)
      }.toSeq)
  }

  /** The monotone id high-water mark (Iceberg's `last-column-id`): ids
    * allocate strictly past it FOREVER, so a column dropped and later
    * re-added under the same name can never reclaim the dropped id (and
    * thus never resurrects old files' bytes). */
  private def lastFieldId(root: String, version: Long): Int = {
    val p = fieldsPath(root, version)
    if (!MetaIO.exists(p)) return 0
    val lines = MetaIO.readString(p).linesIterator.toSeq
    lines.find(_.startsWith("#last\t"))
      .map(_.stripPrefix("#last\t").toInt)
      .getOrElse(fieldIds(root, version).map(_.map(_._1)).getOrElse(Seq(0)).max)
  }

  private def writeFields(root: String, version: Long,
                          fields: Seq[(Int, String)], lastId: Int): Unit =
    MetaIO.writeString(fieldsPath(root, version),
      (s"#last\t$lastId" +: fields.map { case (id, n) => s"$id\t$n" })
        .mkString("\n"))

  // ──────── initial defaults (Iceberg v3 `initial-default`) ────────
  //
  // A column added WITH a default reads that value — not null — from
  // every file written before the column existed; files written after
  // the add carry real values (genuine NULLs stay NULL — the reader
  // distinguishes the eras by field id, which a blanket coalesce could
  // not). Stored per version as fieldId → literal SQL, carried by
  // every later commit like `_fields`; time travel to pre-add versions
  // has no such column at all.

  private def defaultsPath(root: String, version: Long) =
    MetaIO.join(root, s"v=$version", "_defaults")

  /** `version`'s initial defaults: field id → default SQL literal. */
  def columnDefaults(root: String, version: Long): Seq[(Int, String)] = {
    val p = defaultsPath(root, version)
    if (!MetaIO.exists(p)) Seq.empty
    else MetaIO.readString(p).linesIterator.filter(_.nonEmpty).map { l =>
      val i = l.indexOf('\t')
      l.substring(0, i).toInt -> l.substring(i + 1)
    }.toSeq
  }

  /** Carry `base`'s defaults onto `next` (every commit that writes a
    * field-id table must also carry these), minus a dropped field's
    * entry, plus a freshly-added one. */
  private def carryDefaults(root: String, base: Long, next: Long,
                            drop: Option[Int] = None,
                            add: Option[(Int, String)] = None): Unit = {
    val carried = (if (base < 0) Seq.empty else columnDefaults(root, base))
      .filterNot(d => drop.contains(d._1)) ++ add
    if (carried.nonEmpty)
      MetaIO.writeString(defaultsPath(root, next),
        carried.map { case (id, sql) => s"$id\t$sql" }.mkString("\n"))
  }

  /** Ids for `schema`'s fields at a version whose base is `base`:
    * names present in the base keep their ids (or their base-schema
    * POSITION when the base predates field ids — the name-identity
    * fallback the reader applies to those eras), new names allocate
    * past the base's id high-water mark. Returns (assignment, new high
    * water). */
  private def assignFieldIds(root: String, base: Long,
      schema: types.StructType): (Seq[(Int, String)], Int) = {
    val baseIds: Map[String, Int] =
      if (base < 0) Map.empty
      else fieldIds(root, base).map(_.map(t => t._2 -> t._1).toMap)
        .getOrElse(recordedSchema(root, base)
          .map(_.fieldNames.toSeq.zipWithIndex.map { case (n, i) => n -> (i + 1) }.toMap)
          .getOrElse(Map.empty))
    var nextId = math.max(
      if (base < 0) 0 else lastFieldId(root, base),
      (baseIds.values.toSeq :+ 0).max)
    val assigned = schema.fields.toSeq.map { f =>
      baseIds.get(f.name) match {
        case Some(id) => id -> f.name
        case None => nextId += 1; nextId -> f.name
      }
    }
    (assigned, nextId)
  }

  /** RENAME a column as a METADATA-ONLY commit: the new version
    * inherits every manifest entry by reference (zero bytes moved),
    * records the renamed schema under the SAME field id, and readers
    * resolve old-era files by id. Time travel to pre-rename versions
    * still reads the old name (each version reads under ITS schema).
    * The partition column cannot be renamed (its name is the physical
    * directory layout). */
  def renameColumn(spark: SparkSession, root: String, oldName: String,
                   newName: String): Long =
    publish(root)(stageMetadataEvolution(spark, root, "rename", oldName,
      Some(newName), None, _))

  /** DROP a column as a METADATA-ONLY commit: the field id leaves the
    * schema, files keep their bytes (readers stop projecting them), and
    * a later re-add under the same name allocates a FRESH id — old data
    * can never resurrect. Time travel still reads the dropped column at
    * pre-drop versions. */
  def dropColumn(spark: SparkSession, root: String, name: String): Long =
    publish(root)(stageMetadataEvolution(spark, root, "drop", name, None,
      None, _))

  /** ADD a column as a METADATA-ONLY commit (the third field-id
    * evolution beside rename/drop): the new field allocates a FRESH id
    * past the high-water mark — a name dropped earlier and re-added
    * gets a NEW id, so the dropped column's bytes never resurrect —
    * every manifest entry is inherited by reference, and readers
    * null-fill the column (typed) over every pre-add file via the same
    * era projection renames use. Time travel to pre-add versions reads
    * the old schema. The column is necessarily nullable (old files
    * have no values for it — the Iceberg rule), UNLESS a `default` is
    * given (Iceberg v3 `initial-default`): then pre-add files read the
    * default literal instead of null, while files written after the
    * add read their real values — including genuine NULLs, which a
    * blanket coalesce would silently erase. */
  def addColumn(spark: SparkSession, root: String, name: String,
                dataType: types.DataType,
                default: Option[String] = None): Long =
    publish(root)(stageMetadataEvolution(spark, root, "add", name, None,
      Some(dataType), _, default))

  /** The staging half of the metadata-only column evolutions
    * (rename/drop/add) against an EXPLICIT base version — what lets
    * [[Catalog]] transactions publish governed schema evolution as one
    * atomic catalog commit. Nothing is published here. */
  private[graft] def stageMetadataEvolution(spark: SparkSession,
                                            root: String, op: String,
                                            name: String,
                                            to: Option[String],
                                            addType: Option[types.DataType],
                                            base: Long,
                                            default: Option[String] = None)
      : Long = {
    require(base >= 0, s"no committed version at $root")
    // an initial default is FOLDED to a frozen literal BEFORE any
    // claim (the Iceberg rule: initial-default is a VALUE, not an
    // expression): column references refuse (they cannot evaluate
    // over files that lack the column), everything else — including
    // current_date()-style expressions — evaluates ONCE here and the
    // resulting literal is what every future read sees; a malformed
    // or NULL-folding default fails HERE, not on every read. Both the
    // library addColumn and the SQL catalogs' ALTER paths pass through
    // this staging half.
    val foldedDefault: Option[String] =
      default.filter(_ => op == "add").map { d =>
        val parsed = spark.sessionState.sqlParser.parseExpression(d)
        require(!parsed.exists(
          _.isInstanceOf[org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute]),
          s"initial default must not reference columns, got: $d")
        val v = spark.range(1).select(expr(d).cast(addType.get))
          .first().get(0)
        require(v != null,
          s"initial default $d evaluates to NULL — omit the default")
        val sql =
          org.apache.spark.sql.catalyst.expressions.Literal(v).sql
        require(!sql.contains('\n') && !sql.contains('\t'),
          "initial default must render single-line")
        sql
      }
    // a CHECK constraint referencing the column would make every
    // future write throw at enforcement — refuse the evolution instead
    if (op != "add") constraints(root).foreach { case (cn, ce) =>
      val refs = spark.sessionState.sqlParser.parseExpression(ce).collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          a.nameParts.last
      }.toSet
      require(!refs.contains(name),
        s"cannot $op '$name': CHECK constraint '$cn' ($ce) references " +
          "it — drop the constraint first")
    }
    val m = manifestEntries(root, base)
    require(m.nonEmpty,
      s"$op is metadata-only on manifested tables; plain snapshots " +
        "rewrite via commit()")
    // every spec era with LIVE directories is a directory layout —
    // including pre-evolution eras not yet migrated
    if (op != "add") locally {
      val liveSpecs = manifestEntries(root, base)
        .flatMap(e => partitionSpecAt(root, e._2)).toSet ++
        partitionSpec(root)
      // a transform spec's SOURCE column is equally a layout column —
      // renaming `ts` out from under `days(ts)` would orphan the layout
      val layoutCols = liveSpecs.flatMap(s => parseSpecs(s).map(_.source))
      require(!layoutCols.contains(name),
        s"cannot $op partition column '$name' — a live directory " +
          "layout (current or unmigrated era) derives from it")
    }
    val schema = recordedSchema(root, base)
      .getOrElse(read(spark, root, base).schema)
    if (op == "add")
      require(!schema.fieldNames.contains(name),
        s"column '$name' already exists")
    else
      require(schema.fieldNames.contains(name),
        s"no column '$name' in ${schema.fieldNames.mkString(", ")}")
    to.foreach(n => require(!schema.fieldNames.contains(n),
      s"column '$n' already exists"))
    val (baseFields, baseLast) = assignFieldIds(root, base, schema)
    val (newSchema, newFields, lastId) = op match {
      case "rename" =>
        (types.StructType(schema.fields.map(f =>
          if (f.name == name) f.copy(name = to.get) else f)),
          baseFields.map { case (id, n) =>
            id -> (if (n == name) to.get else n) },
          baseLast)
      case "add" =>
        (types.StructType(schema.fields :+
          types.StructField(name, addType.get, nullable = true)),
          baseFields :+ ((baseLast + 1) -> name),
          baseLast + 1)
      case _ =>
        (types.StructType(schema.fields.filterNot(_.name == name)),
          baseFields.filterNot(_._2 == name),
          baseLast)
    }
    // an unapplied equality delete matches on RECORDED key column
    // names; renaming/dropping one out from under it would break (or
    // silently skip) its resolution — fold first, evolve after (an ADD
    // cannot collide: the name provably isn't a recorded key)
    if (op != "add") eqDeleteEntries(root, base).foreach { case (d, ks) =>
      require(!ks.contains(name),
        s"cannot $op '$name': it is a key of the unapplied equality " +
          s"delete at version $d — run applyDeletes first")
    }
    stageNext(root, base) { next =>
      // every entry inherited — zero data moved; unapplied MoR delete
      // files ride along (dropping them would resurrect deleted rows)
      writeManifest(root, next, m, deleteEntries(root, base),
        eqDeleteEntries(root, base))
      MetaIO.writeString(schemaPath(root, next), newSchema.json)
      // the high-water mark survives a drop — that is the whole point
      writeFields(root, next, newFields, lastId)
      // initial defaults ride along: a drop releases its entry (the id
      // never returns), an add-with-default records one under the
      // fresh id, a rename keeps ids — and therefore defaults — untouched
      carryDefaults(root, base, next,
        drop = if (op == "drop") baseFields.find(_._2 == name).map(_._1)
               else None,
        add = if (op == "add") foldedDefault.map(d => lastId -> d) else None)
    }
  }

  /** Id-resolved manifested read: None when the reading version has no
    * field-id table or every referenced era already matches the current
    * names (the fast path — ONE union relation, no per-era projection).
    * Otherwise each group of storage eras sharing a physical naming is
    * scanned under its PHYSICAL read schema (pushdown and partition
    * pruning intact per group) and projected onto the current names by
    * field id; added-later columns null-fill, dropped ids are not
    * selected.
    *
    * `m` entries are (root-relative leaf, storage version) — the leaf
    * is a `v=N/part=...` partition DIRECTORY on the [[scan]] path, or
    * an individual FILE on the [[readSkipping]] path (file pruning must
    * keep per-era name resolution, or a renamed column silently
    * null-fills from old-era files). */
  private def eraProjections(spark: SparkSession, root: String, v: Long,
                             m: Seq[(String, Long)],
                             withPos: Boolean = false): Option[DataFrame] = {
    val curFields = fieldIds(root, v).getOrElse(return None)
    val curSchema = recordedSchema(root, v).getOrElse(return None)
    val nameToId = curFields.map(t => t._2 -> t._1).toMap
    // physical name of each current field in era `sv` (None = absent)
    def projOf(sv: Long): Seq[Option[String]] = {
      val eraIds = fieldIds(root, sv).map(_.toMap)
      val eraNames = recordedSchema(root, sv).map(_.fieldNames.toSet)
      curSchema.fields.toSeq.map { f =>
        val phys = eraIds match {
          case Some(ids) => nameToId.get(f.name).flatMap(ids.get)
          case None => Some(f.name) // pre-field-id era: name identity
        }
        phys.filter(p => eraNames.forall(_.contains(p)))
      }
    }
    val identity = curSchema.fieldNames.toSeq.map(Option(_))
    val bySv = m.map(_._2).distinct.map(sv => sv -> projOf(sv)).toMap
    if (bySv.values.forall(_ == identity)) return None // fast path
    // mirror the fast path's column order: data columns in schema
    // order, the partition column appended last (Spark's layout for
    // basePath partition-discovery reads)
    val partCol = partitionSpec(root)
    def orderKey(f: types.StructField): Int =
      if (partCol.contains(f.name)) 1 else 0
    // group by (projection, spec era): dirs under different partition
    // specs cannot share one partition-discovery pass
    val groups = m.sorted
      .groupBy(e => (bySv(e._2), partitionSpecAt(root, e._2)))
    val parts = groups.toSeq.sortBy(_._2.head)
      .map { case ((proj, _), entries) =>
      val dirs = entries.map { case (rel, _) => s"$root/$rel" }
      val readSchema = types.StructType(
        curSchema.fields.toSeq.zip(proj).collect {
          case (f, Some(p)) => types.StructField(p, f.dataType, nullable = true)
        })
      // a column absent from the era fills its INITIAL DEFAULT when
      // one was declared at add time (pre-add files read the default;
      // eras that HAVE the column read real values, NULLs included),
      // null otherwise
      val defs = columnDefaults(root, v).toMap
      val projected = curSchema.fields.toSeq.zip(proj)
        .sortBy { case (f, _) => orderKey(f) }
        .map {
          case (f, Some(p)) => col(s"`$p`").as(f.name)
          case (f, None) =>
            nameToId.get(f.name).flatMap(defs.get) match {
              case Some(d) => expr(d).cast(f.dataType).as(f.name)
              case None => lit(null).cast(f.dataType).as(f.name)
            }
        }
      // no drop("v") needed: the select projects exactly the current
      // schema (plus pos columns), and `_metadata` resolves directly
      // against the scan relation
      spark.read.schema(readSchema).option("basePath", root)
        .parquet(dirs: _*)
        .select(projected ++ (if (withPos) posCols else Seq.empty): _*)
    }
    Some(parts.reduce(_.unionByName(_)))
  }

  /** MERGE-upsert `source` into the table on `key` and commit the
    * result as a new snapshot (the reference's silver MERGE,
    * `bronze_to_silver.py:156-188`, with explicit versioning). */
  def mergeCommit(spark: SparkSession, root: String, source: DataFrame,
                  key: String): Long =
    commit(MergeUpsert.merge(read(spark, root), source, key), root)

  /** Roll back: re-point the marker at an existing older version
    * (atomic, like commit). */
  def rollback(root: String, version: Long): Unit = {
    require(versions(root).contains(version), s"unknown version $version")
    moveMarker(root, version)
  }

  /** Change data feed between two committed versions — the Delta CDF /
    * Iceberg changelog analog: row-level inserts, deletes, and updates
    * keyed by `key`, derived by diffing the two snapshots (full outer
    * join on the key; an update is a key present in both whose non-key
    * columns differ). `_change_type` ∈ insert | delete |
    * update_preimage | update_postimage, plus `_commit_version`.
    *
    * Scale: one shuffle joining the two snapshots on the key; at a
    * deployment the snapshots are parquet tables so the join prunes to
    * changed partitions when the key embeds the partition column. */
  def changes(spark: SparkSession, root: String, key: String,
              fromVersion: Long, toVersion: Long): DataFrame = {
    val from = read(spark, root, fromVersion)
    val to = read(spark, root, toVersion)
    val dataCols = from.columns.filterNot(_ == key).toSeq
    require(dataCols.toSet == to.columns.filterNot(_ == key).toSet,
      "schema drift between versions is not diffable by changes()")
    val f = from.select(col(key).as("_k"),
      struct(dataCols.map(col): _*).as("_before"))
    val t = to.select(col(key).as("_k"),
      struct(dataCols.map(col): _*).as("_after"))
    val j = f.join(t, Seq("_k"), "full_outer")
    // ONE pass over the join: each row emits its 0–2 change rows via
    // explode instead of a 4-branch union (ins/del/pre/post), which
    // re-evaluated the two-snapshot join once per branch. Slot 1 is
    // insert-or-preimage, slot 2 delete-or-postimage (the pairs are
    // mutually exclusive); unchanged keys leave both slots null and
    // drop in the filter. Conditions are verbatim the old branch
    // filters, so null-field struct comparisons behave identically.
    val isUpd = col("_before").isNotNull && col("_after").isNotNull &&
      col("_before") =!= col("_after")
    val changed = j.select(col("_k"), explode(array(
      when(col("_before").isNull,
        struct(col("_after").as("_row"), lit("insert").as("_change_type")))
        .when(isUpd, struct(col("_before").as("_row"),
          lit("update_preimage").as("_change_type"))),
      when(col("_after").isNull,
        struct(col("_before").as("_row"), lit("delete").as("_change_type")))
        .when(isUpd, struct(col("_after").as("_row"),
          lit("update_postimage").as("_change_type"))))).as("_chg"))
      .filter(col("_chg").isNotNull)
    changed
      .select(col("_k").as(key) +:
        dataCols.map(c => col(s"_chg._row.$c")) :+
        col("_chg._change_type").as("_change_type") :+
        lit(toVersion).as("_commit_version"): _*)
  }

  /** Incremental APPEND scan — Iceberg's "read only what arrived
    * between two snapshots" (the consumer side of a streaming-append
    * table; [[changes]] is the keyed row-diff CDC twin, which costs a
    * full two-snapshot join — this costs only the NEW files): rows of
    * every directory `toVersion`'s manifest references that
    * `fromVersion`'s does not, with `toVersion`'s merge-on-read
    * deletes resolved (a row appended then deleted inside the range
    * never surfaces; an upsert inside the range surfaces only its
    * newest twin, by the equality-delete sequence rule). REQUIRES an
    * append-only history between the versions: a copy-on-write
    * delta/compaction drops manifest entries, making "what's new"
    * unanswerable from file arithmetic — that commit pattern fails
    * loudly here (Iceberg's incremental scan refuses replace
    * snapshots for the same reason); run incremental consumers below
    * the compaction watermark instead. */
  def appendedBetween(spark: SparkSession, root: String,
                      fromVersion: Long,
                      toVersion: Long = -1L): DataFrame = {
    val to = if (toVersion >= 0) toVersion else latestVersion(root)
    require(to >= 0, s"no committed version at $root")
    if (fromVersion < 0) return read(spark, root, to)
    val fromEntries = manifestEntries(root, fromVersion)
    val toEntries = manifestEntries(root, to)
    require(fromEntries.nonEmpty && toEntries.nonEmpty,
      "incremental read needs manifested versions on both ends")
    val dropped = fromEntries.toSet -- toEntries.toSet
    require(dropped.isEmpty,
      s"history $fromVersion..$to is not append-only (entries " +
        s"${dropped.take(3).mkString(", ")}… were rewritten or " +
        "removed) — incremental consumers must read below the " +
        "compaction watermark")
    val newEntries = (toEntries.toSet -- fromEntries.toSet).toSeq.sorted
    if (newEntries.isEmpty) {
      val schema = read(spark, root, to).schema
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }
    val dels = deleteEntries(root, to)
    val eqs = eqDeleteEntries(root, to)
    val df = scanEntries(spark, root, to, newEntries,
      withPos = dels.nonEmpty || eqs.nonEmpty)
    resolveDeletes(spark, root, dels, eqs, df)
  }

  /** Expire old snapshots, keeping the current one, the newest
    * `retainLast` versions older than it, EVERY version newer than
    * it (after a rollback, newer versions are roll-forward targets),
    * and every version any branch or tag ref points at (a named ref is
    * a liveness guarantee, exactly as in Nessie/Iceberg GC). Returns
    * the versions removed.
    *
    * Only COMMITTED versions participate — a crashed claim without a
    * `_committed` stamp must neither be "expired" here nor occupy a
    * retainLast slot that should protect a real snapshot; it is
    * [[sweepOrphans]]' to remove.
    *
    * Delta-aware: a retired version's directory survives while any
    * LIVE manifest still references its partitions (structural sharing
    * keeps storage roots alive — Iceberg's reachability rule at
    * partition granularity); it is physically removed by a later call
    * once nothing references it. Returns the versions actually
    * removed. */
  def expireSnapshots(root: String, retainLast: Int): Seq[Long] = {
    val current = latestVersion(root)
    val pinned = refs(root).values.toSet
    val retire = versions(root).filter(v => v < current && isCommitted(root, v))
      .sorted.dropRight(math.max(retainLast, 0))
      .filterNot(pinned).toSet
    val reachable = versions(root).filterNot(retire).flatMap { v =>
      val m = manifestEntries(root, v)
      (if (m.nonEmpty) m.map(_._2) :+ v else Seq(v)) ++
        deleteEntries(root, v) ++ // MoR sidecar versions stay reachable
        eqDeleteEntries(root, v).map(_._1)
    }.toSet
    val removed = retire.filterNot(reachable).toSeq.sorted
    removed.foreach { v =>
      MetaIO.delete(MetaIO.join(root, s"v=$v"), recursive = true)
    }
    removed
  }

  // ───────────────────────── named refs (Nessie analog) ─────────────────────
  //
  // The reference's headline catalog feature is git-like branches/tags
  // over table state (Nessie; `infrastructure/init/nessie_setup.py:1-75`).
  // Same capability class here, over the directory-of-versions protocol:
  //
  //   <root>/_refs/branch.<name>   one line: the version the branch heads
  //   <root>/_refs/tag.<name>      one line: the version the tag pins
  //   <root>/v=N/_parent           one line: N's parent version (ancestry)
  //
  // `_latest` IS the main branch (back-compat: every pre-refs table
  // already has it). Refs are re-pointed with the same tmp-file +
  // ATOMIC_MOVE publish as `_latest`; branch commits additionally take
  // a per-branch lock directory (atomic createDirectory) around the
  // read-check-advance so a concurrent committer to the SAME branch
  // fails fast instead of silently losing the other's commit. Version
  // directories stay globally numbered and copy-on-write, so branches
  // share storage history and never disturb each other's readers.

  /** The branch name that aliases the `_latest` marker. */
  val MainBranch = "main"

  private def refsDir(root: String) = MetaIO.join(root, "_refs")

  private def refPath(root: String, kind: String, name: String) = {
    require(name.matches("[A-Za-z0-9._-]+"), s"invalid ref name '$name'")
    MetaIO.join(root, "_refs", s"$kind.$name")
  }

  private def writeRef(root: String, kind: String, name: String,
                       version: Long): Unit = {
    MetaIO.mkdirs(refsDir(root))
    MetaIO.publishString(refPath(root, kind, name), version.toString)
  }

  /** All named refs as `"branch.x" / "tag.y" -> version` (main excluded). */
  def refs(root: String): Map[String, Long] = {
    val d = refsDir(root)
    MetaIO.listNames(d)
      .filter(n => n.startsWith("branch.") || n.startsWith("tag."))
      .map(n => n -> MetaIO.readString(MetaIO.join(d, n)).trim.toLong)
      .toMap
  }

  /** Resolve a branch head (main = the `_latest` marker). */
  def branchVersion(root: String, name: String): Long =
    if (name == MainBranch) latestVersion(root)
    else {
      val p = refPath(root, "branch", name)
      require(MetaIO.exists(p), s"unknown branch '$name' at $root")
      MetaIO.readString(p).trim.toLong
    }

  /** Resolve a tag. */
  def tagVersion(root: String, name: String): Long = {
    val p = refPath(root, "tag", name)
    require(MetaIO.exists(p), s"unknown tag '$name' at $root")
    MetaIO.readString(p).trim.toLong
  }

  /** Create a branch at `fromVersion` (default: current main head).
    * Fails if the branch already exists — create-only, like
    * `nessie branch` / `git branch`. */
  def createBranch(root: String, name: String, fromVersion: Long = -1L): Long = {
    require(name != MainBranch, "main always exists; cannot be created")
    val v = if (fromVersion >= 0) fromVersion else latestVersion(root)
    require(versions(root).contains(v), s"unknown version $v")
    MetaIO.mkdirs(refsDir(root))
    // exclusive publish, not check-then-write: two racing creators
    // cannot both win
    try MetaIO.publishExclusive(refPath(root, "branch", name), v.toString)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new IllegalArgumentException(s"branch '$name' already exists")
    }
    v
  }

  /** Pin an immutable tag at `version` (default: current main head).
    * Tags can never be re-pointed — delete-and-recreate is the only
    * mutation, as in Nessie. */
  def createTag(root: String, name: String, version: Long = -1L): Long = {
    val v = if (version >= 0) version else latestVersion(root)
    require(versions(root).contains(v), s"unknown version $v")
    MetaIO.mkdirs(refsDir(root))
    try MetaIO.publishExclusive(refPath(root, "tag", name), v.toString)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new IllegalArgumentException(
          s"tag '$name' already exists (tags are immutable)")
    }
    v
  }

  /** Read the snapshot a branch heads or a tag pins. */
  def readBranch(spark: SparkSession, root: String, name: String): DataFrame =
    read(spark, root, branchVersion(root, name))

  def readTag(spark: SparkSession, root: String, name: String): DataFrame =
    read(spark, root, tagVersion(root, name))

  /** Run `body` holding the per-branch commit lock (exclusive claim =
    * test-and-set; the loser fails fast). */
  private def withBranchLock[A](root: String, name: String)(body: => A): A = {
    MetaIO.mkdirs(refsDir(root))
    val lock = MetaIO.join(root, "_refs", s".lock.$name")
    try MetaIO.claimDir(lock)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new java.util.ConcurrentModificationException(
          s"branch '$name' at $root has a commit in flight (or a stale " +
            s"lock at $lock after a crash — remove it to recover)")
    }
    try body finally MetaIO.delete(lock, recursive = true)
  }

  /** Publish `df` as a new snapshot on `branch` and advance its head.
    * The version directory is claimed atomically (global numbering —
    * branches share the version space, like Nessie commit hashes), the
    * parent version is recorded for ancestry, and the branch head moves
    * under the branch lock: of two committers racing to the same
    * branch, exactly one wins; the loser throws instead of silently
    * overwriting the winner's head. Commits to a non-main branch never
    * touch `_latest`, so main readers are fully isolated. */
  def commitToBranch(df: DataFrame, root: String, branch: String): Long =
    withBranchLock(root, branch) {
      // the full commit path: CHECK constraints and `_stats` apply to a
      // branch commit exactly as to a main one, so a violating frame
      // can never reach main by a later fast-forward
      val next = stageVersion(df, root, branchVersion(root, branch))
      moveBranch(root, branch, next)
      next
    }

  /** Re-point a branch head (main = the `_latest` marker). */
  private def moveBranch(root: String, branch: String, version: Long): Unit =
    if (branch == MainBranch) moveMarker(root, version)
    else writeRef(root, "branch", branch, version)

  /** `version`'s recorded parent, or -1 (root commit, or a version
    * written by plain [[commit]] before ancestry tracking). */
  def parentVersion(root: String, version: Long): Long = {
    val p = MetaIO.join(root, s"v=$version", "_parent")
    if (MetaIO.exists(p)) MetaIO.readString(p).trim.toLong else -1L
  }

  /** Is `anc` an ancestor of (or equal to) `desc` by the recorded
    * parent chain? The walk stops at the first commit with no recorded
    * parent, so pre-refs linear history is conservatively NOT assumed. */
  def isAncestor(root: String, anc: Long, desc: Long): Boolean = {
    var v = desc
    while (v >= 0) {
      if (v == anc) return true
      v = parentVersion(root, v)
    }
    false
  }

  /** Fast-forward `toBranch` to `fromBranch`'s head. Allowed only when
    * the target's head is an ancestor of the source's head (the git
    * fast-forward rule) — a diverged target needs [[mergeBranch]]. The
    * head moves under the target's branch lock, and the precondition is
    * re-checked inside it (no TOCTOU against a concurrent commit). */
  def fastForward(root: String, toBranch: String, fromBranch: String): Long =
    withBranchLock(root, toBranch) {
      val target = branchVersion(root, toBranch)
      val source = branchVersion(root, fromBranch)
      require(isAncestor(root, target, source),
        s"'$toBranch' (v$target) is not an ancestor of '$fromBranch' " +
          s"(v$source): not a fast-forward — merge instead")
      if (source != target) moveBranch(root, toBranch, source)
      source
    }

  /** Merge a diverged `fromBranch` into `toBranch` by key: MERGE-upsert
    * the source head's rows into the target head (source wins per key —
    * the same last-writer-wins row semantics as [[mergeCommit]]) and
    * commit the result to the target branch. Use [[fastForward]] when
    * the target hasn't diverged; this is the content-level merge for
    * when it has. */
  def mergeBranch(spark: SparkSession, root: String, toBranch: String,
                  fromBranch: String, key: String): Long = {
    val merged = MergeUpsert.merge(
      readBranch(spark, root, toBranch),
      readBranch(spark, root, fromBranch), key)
    commitToBranch(merged, root, toBranch)
  }

  /** Drop a branch ref (the versions it pointed at remain until
    * expiry). Main cannot be dropped. */
  def dropBranch(root: String, name: String): Unit = {
    require(name != MainBranch, "cannot drop main")
    MetaIO.delete(refPath(root, "branch", name))
  }

  def dropTag(root: String, name: String): Unit = {
    MetaIO.delete(refPath(root, "tag", name))
  }

  // ─────────── partition-manifest delta snapshots (shallow versions) ───────────
  //
  // A plain [[commit]] rewrites the WHOLE table per version — fine for
  // small tables, fatal at 100 TB where an incremental run touches a
  // handful of date partitions. Delta commits fix the cost model the
  // way Iceberg/Delta do, one level coarser (partition-granular instead
  // of file-granular): version N's directory holds ONLY the rewritten
  // partitions plus a `_manifest` mapping EVERY live partition to the
  // version directory that physically stores it. Untouched partitions
  // are inherited by reference — structural sharing, zero copies — so a
  // commit's write cost is the batch's partitions, while readers of any
  // version still get one unified partition-pruned scan. Time travel,
  // refs, `_committed` stamping, and the marker protocol are unchanged;
  // only expiry must honor manifest REACHABILITY (a version directory
  // stays on disk while any live manifest references its partitions —
  // see [[expireDeltaSnapshots]]).
  //
  //   v=0/_manifest   p=2024-01-01 -> v=0, p=2024-01-02 -> v=0
  //   v=1/_manifest   p=2024-01-01 -> v=0, p=2024-01-02 -> v=1   (delta)
  //
  // Reading v=1 scans v=0/p=2024-01-01 ∪ v=1/p=2024-01-02 as ONE
  // parquet relation (basePath = table root; the `v` layer is inferred
  // as a partition column and dropped), so predicate pushdown and
  // partition pruning work exactly as on a plain partitioned table.

  private def manifestPath(root: String, version: Long) =
    MetaIO.join(root, s"v=$version", "_manifest")

  private def specPath(root: String) = MetaIO.join(root, "_partition_spec")

  /** The table's partition-spec HISTORY, oldest first: each entry is
    * (partition column, first storage version written under it). The
    * original spec covers from version 0; [[evolvePartitionSpec]]
    * appends an era starting at the next version to be written. File
    * format: one line per era, `col` (era from 0) or `col@N`. */
  def specHistory(root: String): Seq[(String, Long)] = {
    val p = specPath(root)
    if (!MetaIO.exists(p)) return Seq.empty
    MetaIO.readString(p).linesIterator.map(_.trim).filter(_.nonEmpty)
      .map { line =>
        val i = line.lastIndexOf('@')
        if (i < 0) line -> 0L
        else line.substring(0, i) -> line.substring(i + 1).toLong
      }.toSeq.sortBy(_._2)
  }

  /** The CURRENT partition column — what every new manifested commit
    * writes under (the Iceberg partition-spec-in-metadata analog).
    * `None` for plain full-snapshot tables (no manifested commit
    * yet). */
  def partitionSpec(root: String): Option[String] =
    specHistory(root).lastOption.map(_._1)

  /** The partition column storage version `sv`'s directories were
    * written under — era resolution for reads over spec-evolved
    * tables. */
  def partitionSpecAt(root: String, sv: Long): Option[String] =
    specHistory(root).filter(_._2 <= sv).lastOption.map(_._1)

  // ───────── hidden partitioning (Iceberg partition transforms) ─────────
  //
  // A partition spec is either a plain column name (identity layout) or
  // a TRANSFORM of one — `days(ts)`, `bucket(16, id)`,
  // `truncate(8, col)` — Iceberg's hidden partitioning (the reference's
  // tables are Iceberg, trino/catalog/iceberg.properties:1-6): the
  // directory value is DERIVED at write time, the source column stays
  // in the data files untouched, and readers never see the derived
  // field. Predicates on the SOURCE column prune transform directories
  // in [[readSkipping]] — a `ts_day=d` directory IS a
  // [d 00:00, d+1d) bound on `ts` and refutes through the same
  // [[boundsSql]] machinery as file stats (integral truncate
  // likewise); bucket and string-truncate directories refute
  // equality/IN conjuncts by recomputing the transform of each literal
  // driver-side (the [[probePositions]] discipline, literal cast to
  // the column's recorded type first). Queries never mention the
  // layout — which is the point: nobody writes `WHERE ts_day = ...` in
  // one query and forgets it in the next.

  private[graft] sealed trait PartSpec {
    /** the NORMALIZED spec string recorded in `_partition_spec` */
    def spec: String
    /** the DATA column the layout derives from */
    def source: String
    /** the physical directory field name (= `source` for identity) */
    def field: String
    /** the derived directory value of a data row (`dt` = the source
      * column's type; truncate semantics are per-type) */
    def valueExpr(dt: types.DataType): Column
    def isIdentity: Boolean = false
  }
  private final case class IdentitySpec(source: String) extends PartSpec {
    val spec = source; val field = source
    def valueExpr(dt: types.DataType): Column = col(source)
    override def isIdentity: Boolean = true
  }
  private final case class DaysSpec(source: String) extends PartSpec {
    val spec = s"days($source)"; val field = s"${source}_day"
    // Iceberg defines days() on UTC: an instant column derives its day
    // from epoch micros by floor division, NEVER the session time zone
    // — to_date(ltz) is session-zone-dependent, so a reader in another
    // zone would reconstruct different pruning bounds (silently dropped
    // rows) and deleteWhere/updateWhere would address touched-partition
    // names that don't match the on-disk dirs. DATE and TIMESTAMP_NTZ
    // sources are zone-free already.
    def valueExpr(dt: types.DataType): Column = dt match {
      case types.TimestampType =>
        expr(s"date_add(DATE'1970-01-01', cast(((unix_micros(`$source`)" +
          s" - pmod(unix_micros(`$source`), 86400000000L)) div " +
          "86400000000L) as int))")
      case _ => to_date(col(source))
    }
  }
  private final case class BucketSpec(n: Int, source: String)
      extends PartSpec {
    val spec = s"bucket($n,$source)"; val field = s"${source}_bucket"
    // Spark's murmur3 `hash` (seed 42) — recomputable driver-side for
    // a literal, so equality probes resolve their one bucket at read
    def valueExpr(dt: types.DataType): Column =
      pmod(hash(col(source)), lit(n))
  }
  private final case class TruncateSpec(w: Int, source: String)
      extends PartSpec {
    val spec = s"truncate($w,$source)"; val field = s"${source}_trunc"
    def valueExpr(dt: types.DataType): Column = dt match {
      case types.StringType => substring(col(source), 1, w)
      case types.ByteType | types.ShortType | types.IntegerType |
           types.LongType =>
        col(source) - pmod(col(source), lit(w.toLong))
      case other => throw new IllegalArgumentException(
        s"truncate($w, $source): unsupported source type $other " +
          "(string and integral columns only)")
    }
  }

  private val SpecPattern =
    """^(days|bucket|truncate)\(\s*(?:(\d+)\s*,)?\s*([^()\s,]+)\s*\)$""".r

  /** Parse a partition-spec string. A bare name is the identity
    * layout; `days(col)` / `bucket(n,col)` / `truncate(w,col)` are
    * hidden-partitioning transforms. Malformed transform syntax fails
    * loudly — a typo must not silently become an identity column
    * literally named `"days(ts"`. */
  private[graft] def parseSpec(spec: String): PartSpec = spec.trim match {
    case SpecPattern("days", null, c) => DaysSpec(c)
    case SpecPattern("bucket", n, c) if n != null && n.toInt > 0 =>
      BucketSpec(n.toInt, c)
    case SpecPattern("truncate", w, c) if w != null && w.toInt > 0 =>
      TruncateSpec(w.toInt, c)
    case s if s.exists("()".contains(_)) =>
      throw new IllegalArgumentException(
        s"malformed partition spec '$s' — expected a column name, " +
          "days(col), bucket(n,col), or truncate(w,col)")
    case c => IdentitySpec(c)
  }

  /** Parse a (possibly MULTI-column) partition spec — a comma-joined
    * list of fields, each identity or transform: `days(ts),product` is
    * a two-level layout `ts_day=…/product=…` (the Iceberg multi-field
    * spec shape). Commas inside transform parentheses belong to the
    * transform; duplicate derived fields are refused. */
  private[graft] def parseSpecs(spec: String): Seq[PartSpec] = {
    val parts = Seq.newBuilder[String]
    var depth = 0
    val sb = new StringBuilder
    spec.foreach {
      case '(' => depth += 1; sb.append('(')
      case ')' => depth -= 1; sb.append(')')
      case ',' if depth == 0 => parts += sb.toString; sb.clear()
      case c => sb.append(c)
    }
    parts += sb.toString
    val ps = parts.result().map(_.trim).filter(_.nonEmpty).map(parseSpec)
    require(ps.nonEmpty, s"empty partition spec '$spec'")
    require(ps.map(_.field).distinct.size == ps.size,
      s"duplicate partition fields in '$spec'")
    ps
  }

  /** Normalized multi-column spec string. */
  private def normSpec(spec: String): String =
    parseSpecs(spec).map(_.spec).mkString(",")

  /** The relative partition directory of a data row under `specs` —
    * `f1=v1/f2=v2`, the string [[listPartitionDirs]] and the manifest
    * use. A null partition value yields a NULL dir, so value-addressed
    * ops (deleteWhere touched sets, compaction) never match the null
    * partition — the same pre-existing limitation as the single-column
    * path (Spark writes it as `__HIVE_DEFAULT_PARTITION__`). */
  private[graft] def rowDirExpr(specs: Seq[PartSpec],
                                schema: types.StructType): Column =
    specs.map(ps => concat(lit(ps.field + "="),
        ps.valueExpr(schema(ps.source).dataType).cast("string")))
      .reduce((a, b) => concat(a, lit("/"), b))

  /** Decode a Spark-reported file path (`input_file_name` /
    * `_metadata.file_path`, which URI-encode raw partition characters
    * — a literal space becomes `%20`, a literal `%` becomes `%25`)
    * back to the RAW filesystem form directory listings produce. One
    * decode of the URI form is exactly the raw form — Hadoop path
    * encoding is a single layer. */
  private def decodeReportedPath(path: String): String =
    unescapePathValue(path)

  /** Undo Spark's partition-path escaping (%XX sequences) on a
    * directory value. */
  private def unescapePathValue(s: String): String =
    if (!s.contains('%')) s
    else {
      val sb = new StringBuilder(s.length)
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == '%' && i + 2 < s.length)
          try {
            sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
            i += 3
          } catch {
            case _: NumberFormatException => sb.append(c); i += 1
          }
        else { sb.append(c); i += 1 }
      }
      sb.toString
    }

  /** Change the table's partition layout for FUTURE writes — Iceberg
    * partition-spec evolution, a pure METADATA operation: zero data
    * bytes move, existing directories keep their old layout, and
    * every later manifested commit writes `newCol=...` directories.
    * Reads union the eras (each era's scan keeps its own partition
    * pruning; predicates on the other era's column still push down as
    * data filters, and recorded file stats still skip). Copy-on-write
    * delta ops refuse mixed-era tables — [[migrateSpec]] (or the
    * maintenance cadence) rewrites old-era directories into the
    * current layout and makes the table single-era again. */
  def evolvePartitionSpec(root: String, newCol: String): Unit = {
    val cur = partitionSpec(root).getOrElse(throw new IllegalStateException(
      s"table at $root has no partition spec to evolve — it needs a " +
        "manifested commit first"))
    require(newCol.nonEmpty, "empty partition column")
    val norm = normSpec(newCol)
    require(norm != cur, s"partition spec is already '$cur'")
    val from = nextVersion(root)
    // append an era line with one atomic-visible publish
    MetaIO.publishString(specPath(root),
      MetaIO.readString(specPath(root)) + s"\n$norm@$from")
  }

  /** Live manifest entries NOT written under the current spec (empty
    * for single-era tables). */
  private def foreignEraEntries(root: String,
                                entries: Seq[(String, Long)])
      : Seq[(String, Long)] = {
    val cur = partitionSpec(root)
    entries.filter(e => partitionSpecAt(root, e._2) != cur)
  }

  /** Rewrite every live directory still laid out under an OLD
    * partition spec into the current one, as ONE delta commit:
    * old-era rows (merge-on-read deletes resolved) land under
    * `currentCol=...` directories, the old entries leave the
    * manifest, current-era directories move zero bytes. Iceberg's
    * `rewrite_data_files` spec-migration story; after this the table
    * is single-era and copy-on-write delta ops work again. Returns
    * the new version (or the current one when already single-era). */
  def migrateSpec(spark: SparkSession, root: String): Long =
    publish(root)(stageMigrateSpec(spark, root, _))

  /** The staging half of [[migrateSpec]]; returns `v` when the table
    * is already single-era. */
  private def stageMigrateSpec(spark: SparkSession, root: String,
                               v: Long): Long = {
    val cur = partitionSpec(root).getOrElse(return v)
    val foreign = foreignEraEntries(root, manifestEntries(root, v))
    if (foreign.isEmpty) return v
    val resolved = livePositioned(spark, root, v, deleteEntries(root, v),
      eqDeleteEntries(root, v))
    val foreignDirs = foreign.map { case (p, sv) => s"v=$sv/$p" }
    val dirOfRow = regexp_extract(col(FileCol), "^(v=\\d+/.+)/[^/]+$", 1)
    // a rewritten delta partition must hold its COMPLETE content: if a
    // current-era directory already exists for a target value, its rows
    // ride along (the new directory replaces it by the touched-name
    // rule) — otherwise inheriting it beside the migrated rows would
    // drop or duplicate data
    val dirc = rowDirExpr(parseSpecs(cur), resolved.schema)
    val affected = resolved.filter(dirOfRow.isin(foreignDirs: _*))
      .select(dirc).distinct()
      .collect().map(_.getString(0)).filter(_ != null).toSeq
    val movers = resolved
      .filter(dirc.isin(affected: _*))
      .drop(FileCol, PosCol)
    stageManifested(movers, root, cur, v, append = false,
      removeParts = foreign.map(_._1).toSet, allowCrossEra = true)
  }

  /** First manifested commit records the spec (exclusive create — of
    * two racing creators one records, the other validates); every
    * later delta/append/delete/compaction validates against it. A
    * caller-supplied mismatch used to silently fragment the manifest
    * into two partition namespaces; now it throws. */
  private def recordOrValidateSpec(root: String, partitionCol: String): Unit = {
    val norm = normSpec(partitionCol)
    partitionSpec(root) match {
      case Some(existing) =>
        require(existing == norm,
          s"table at $root is partitioned by '$existing' but this commit " +
            s"supplied partitionCol '$norm' — a mismatched spec " +
            "would fragment the manifest into two partition namespaces")
      case None =>
        try MetaIO.createExclusive(specPath(root), norm)
        catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            recordOrValidateSpec(root, partitionCol)
        }
    }
  }

  // ──────── CHECK constraints (write-path validation) ────────
  //
  // Table-level row constraints (the Delta `ALTER TABLE ADD
  // CONSTRAINT` surface; `NOT NULL` is the constraint `c IS NOT
  // NULL`): every data-writing commit validates the rows it is about
  // to publish and REFUSES on violation — the claimed version dir
  // never gets its `_committed` stamp, so nothing is published and
  // [[sweepOrphans]] GCs the leftover. Validation reads back the
  // just-written files (one O(batch) scan; the input plan is never
  // re-computed) and uses SQL CHECK semantics: a row passes when the
  // expression is TRUE or UNKNOWN (NULL), fails only on FALSE.

  private def constraintsPath(root: String) = MetaIO.join(root, "_constraints")

  /** The table's declared constraints: (name, boolean SQL expr). */
  def constraints(root: String): Seq[(String, String)] = {
    val p = constraintsPath(root)
    if (!MetaIO.exists(p)) Seq.empty
    else MetaIO.readString(p).linesIterator.filter(_.nonEmpty).map { l =>
      val i = l.indexOf('\t')
      l.substring(0, i) -> l.substring(i + 1)
    }.toSeq
  }

  private def writeConstraints(root: String, cs: Seq[(String, String)]): Unit =
    MetaIO.publishString(constraintsPath(root),
      cs.map { case (n, e) => s"$n\t$e" }.mkString("\n"))

  /** Declare a CHECK constraint. EXISTING rows are validated first
    * (one scan of the current version — the Delta rule: a constraint
    * the live data already violates refuses instead of poisoning every
    * future write); names are unique; the expression must be a boolean
    * SQL predicate over the table's columns. */
  def addConstraint(spark: SparkSession, root: String, name: String,
                    exprSql: String): Unit = {
    require(name.nonEmpty && !name.contains('\t') && !exprSql.contains('\n'),
      "constraint name/expr must be single-line, name non-empty")
    val existing = constraints(root)
    require(!existing.exists(_._1 == name),
      s"constraint '$name' already exists on $root")
    if (latestVersion(root) >= 0) {
      val bad = read(spark, root)
        .filter(not(coalesce(expr(exprSql), lit(true)))).count()
      require(bad == 0L,
        s"cannot add constraint '$name' ($exprSql): $bad existing " +
          s"row(s) violate it")
    }
    MetaIO.mkdirs(MetaIO.join(root))
    writeConstraints(root, existing :+ (name -> exprSql))
  }

  /** Drop a constraint by name (unknown names refuse). */
  def dropConstraint(root: String, name: String): Unit = {
    val existing = constraints(root)
    require(existing.exists(_._1 == name),
      s"no constraint '$name' on $root")
    writeConstraints(root, existing.filterNot(_._1 == name))
  }

  /** Rewrite a CHECK expression into its bounds PROOF over footer
    * stats columns (`c__min`/`c__max`): the proof is TRUE for a file
    * ⇔ the file's bounds GUARANTEE every row passes the constraint.
    * Only the monotone conjunctive fragment is provable — comparisons
    * of a plain column to a literal, composed with AND (NULL rows pass
    * CHECK, and footer bounds ignore nulls, so a null bound — an
    * all-null file — proves for free via coalesce(..., true)).
    * Returns (proof SQL, referenced columns); None ⇔ shape not
    * provable from bounds (the caller scans). */
  private def constraintProof(spark: SparkSession, exprSql: String)
      : Option[(String, Seq[String])] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions._
    val parsed =
      try spark.sessionState.sqlParser.parseExpression(exprSql)
      catch { case _: Exception => return None }
    val cols = scala.collection.mutable.ListBuffer[String]()
    def leaf(a: UnresolvedAttribute, side: String, op: String,
             l: Literal): Option[String] = {
      val c = a.nameParts.last; cols += c
      Some(s"coalesce(`${c}__$side` $op ${l.sql}, true)")
    }
    def go(e: Expression): Option[String] = e match {
      case And(x, y) => for { a <- go(x); b <- go(y) } yield s"($a AND $b)"
      case GreaterThan(a: UnresolvedAttribute, l: Literal) => leaf(a, "min", ">", l)
      case GreaterThan(l: Literal, a: UnresolvedAttribute) => leaf(a, "max", "<", l)
      case GreaterThanOrEqual(a: UnresolvedAttribute, l: Literal) => leaf(a, "min", ">=", l)
      case GreaterThanOrEqual(l: Literal, a: UnresolvedAttribute) => leaf(a, "max", "<=", l)
      case LessThan(a: UnresolvedAttribute, l: Literal) => leaf(a, "max", "<", l)
      case LessThan(l: Literal, a: UnresolvedAttribute) => leaf(a, "min", ">", l)
      case LessThanOrEqual(a: UnresolvedAttribute, l: Literal) => leaf(a, "max", "<=", l)
      case LessThanOrEqual(l: Literal, a: UnresolvedAttribute) => leaf(a, "min", ">=", l)
      case EqualTo(a: UnresolvedAttribute, l: Literal) =>
        val c = a.nameParts.last; cols += c
        Some(s"(coalesce(`${c}__min` = ${l.sql}, true) AND " +
          s"coalesce(`${c}__max` = ${l.sql}, true))")
      case EqualTo(l: Literal, a: UnresolvedAttribute) => go(EqualTo(a, l))
      case _ => None
    }
    go(parsed).map(_ -> cols.distinct.toList)
  }

  /** Validate the just-written data of a claimed-but-unpublished
    * version dir against the table's constraints; throws (leaving the
    * claim an orphan) on any FALSE row. Bounds-provable constraints
    * validate from the commit's FOOTER pass (zero data reads); only
    * an unprovable shape — or a file whose bounds can't decide — pays
    * the one conditional-aggregate scan. */
  private def enforceConstraints(spark: SparkSession, root: String,
                                 version: Long,
                                 footer: Seq[FooterStats.FileStat],
                                 cs: Seq[(String, String)],
                                 proofs: Seq[Option[(String, Seq[String])]])
      : Unit = {
    if (cs.isEmpty) return
    // an empty batch (zero data files) has nothing to violate — and
    // would fail schema inference
    if (footer.isEmpty) return
    val provable = proofs.forall(_.isDefined) && {
      val needed = proofs.flatMap(_.toSeq.flatMap(_._2)).distinct
      footer.forall(fs => needed.forall(fs.bounds.contains))
    }
    if (provable) {
      val needed = proofs.flatMap(_.toSeq.flatMap(_._2)).distinct
      val proofAll = proofs.map(_.get._1).mkString("(", " AND ", ")")
      val allProven = statsFrame(spark, footer, needed)
        .filter(not(expr(proofAll))).isEmpty
      if (allProven) return // every file proven clean from bounds alone
      // a failed proof is UNKNOWN, not a violation — fall through
    }
    commitDataScans.incrementAndGet()
    val df = spark.read.parquet(s"$root/v=$version")
    val counts = df.select(cs.map { case (n, e) =>
      sum(when(not(coalesce(expr(e), lit(true))), 1L).otherwise(0L)).as(n)
    }: _*).first()
    val violated = cs.zipWithIndex.collect {
      case ((n, e), i) if !counts.isNullAt(i) && counts.getLong(i) > 0 =>
        s"'$n' ($e): ${counts.getLong(i)} row(s)"
    }
    if (violated.nonEmpty) throw new IllegalStateException(
      s"write to $root violates CHECK constraint(s) " +
        s"${violated.mkString("; ")} — nothing was published")
  }

  private def sortOrderPath(root: String) = MetaIO.join(root, "_sort_order")

  /** Declare the table's WRITE ORDER (Iceberg's `WRITE ORDERED BY`
    * table property): maintenance rewrites cluster rows by these
    * columns — range-split files with tight per-file bounds, which is
    * what makes column-stats skipping bite on a streaming-append table
    * whose arrival order scatters the key space. Declarative only:
    * appends stay cheap and UNSORTED (the append path must not pay a
    * sort); [[Maintenance.compactAppends]] applies the order and
    * re-records stats for these columns. */
  def setSortOrder(root: String, cols: Seq[String],
                   zorder: Boolean = false): Unit = {
    require(cols.nonEmpty, "sort order needs at least one column")
    require(!zorder || cols.size == 2,
      "z-order write order interleaves exactly TWO dimensions")
    MetaIO.mkdirs(MetaIO.join(root))
    MetaIO.writeString(sortOrderPath(root),
      (if (zorder) "zorder:" else "") + cols.mkString(","))
  }

  /** The declared write order, if any. */
  def sortOrder(root: String): Option[Seq[String]] =
    sortOrderSpec(root).map(_._1)

  /** The declared write order WITH its clustering mode: (columns,
    * isZOrder). Z-order (`setSortOrder(..., zorder = true)`) declares
    * the Delta `OPTIMIZE ZORDER BY` layout: compaction clusters
    * fragmented partitions along the Morton curve of the two columns,
    * so stats skipping prunes on EITHER dimension. */
  def sortOrderSpec(root: String): Option[(Seq[String], Boolean)] = {
    val p = sortOrderPath(root)
    if (!MetaIO.exists(p)) return None
    val raw = MetaIO.readString(p).trim
    val (z, body) =
      if (raw.startsWith("zorder:")) (true, raw.stripPrefix("zorder:"))
      else (false, raw)
    Some(body.split(",").toSeq.filter(_.nonEmpty))
      .filter(_.nonEmpty).map(_ -> z)
  }

  /** ALL (partition, storage-version) pairs of a manifested version
    * (empty for versions written by plain [[commit]]). A partition may
    * appear with SEVERAL storage versions — that is how
    * [[commitAppend]] represents an append: the partition's content is
    * the union of every listed directory. Keys are the partition
    * directory names (`col=value`). */
  def manifestEntries(root: String, version: Long): Seq[(String, Long)] = {
    val p = manifestPath(root, version)
    if (!MetaIO.exists(p)) return Seq.empty
    MetaIO.readString(p).linesIterator.filter(_.nonEmpty)
      // `!`-prefixed lines are non-data manifest records (currently
      // `!deletes N` — merge-on-read delete files, [[deleteEntries]]);
      // partition dir names never start with `!`
      .filterNot(_.startsWith("!"))
      .map { line =>
        // split on the LAST space: escaped partition dir names could
        // themselves carry spaces
        val i = line.lastIndexOf(' ')
        line.substring(0, i) -> line.substring(i + 1).toLong
      }.toSeq.distinct
  }

  /** Storage versions whose `v=N/_deletes/` parquet holds merge-on-read
    * position-delete rows applicable to this version's scan, in commit
    * order (empty for tables with no unapplied MoR deletes). */
  def deleteEntries(root: String, version: Long): Seq[Long] = {
    val p = manifestPath(root, version)
    if (!MetaIO.exists(p)) return Seq.empty
    MetaIO.readString(p).linesIterator
      .filter(_.startsWith("!deletes "))
      .map(_.stripPrefix("!deletes ").trim.toLong)
      .toSeq.distinct.sorted
  }

  /** Storage versions carrying equality-delete sidecars
    * (`v=D/_eqdeletes/`) applicable to this version's scan, each with
    * the key columns its rows match on — empty for tables with no
    * unapplied equality deletes. Manifest record:
    * `!eqdeletes D col1,col2`. */
  def eqDeleteEntries(root: String,
                      version: Long): Seq[(Long, Seq[String])] = {
    val p = manifestPath(root, version)
    if (!MetaIO.exists(p)) return Seq.empty
    MetaIO.readString(p).linesIterator
      .filter(_.startsWith("!eqdeletes "))
      .map { line =>
        val rest = line.stripPrefix("!eqdeletes ").trim
        val i = rest.indexOf(' ')
        rest.substring(0, i).toLong ->
          rest.substring(i + 1).split(",").toSeq.filter(_.nonEmpty)
      }.toSeq.distinct.sortBy(_._1)
  }

  /** The NEWEST storage version per partition — the full mapping for
    * delta-committed versions (one entry per partition); for
    * append-committed versions prefer [[manifestEntries]], which keeps
    * every contributing directory. */
  def manifest(root: String, version: Long): Map[String, Long] =
    manifestEntries(root, version).groupBy(_._1)
      .view.mapValues(_.map(_._2).max).toMap

  private def writeManifest(root: String, version: Long,
                            m: Seq[(String, Long)],
                            deletes: Seq[Long] = Seq.empty,
                            eqDeletes: Seq[(Long, Seq[String])] = Seq.empty)
      : Unit =
    MetaIO.writeString(manifestPath(root, version),
      (m.distinct.sorted.map { case (p, v) => s"$p $v" } ++
        deletes.distinct.sorted.map(d => s"!deletes $d") ++
        eqDeletes.distinct.sortBy(_._1).map { case (d, ks) =>
          s"!eqdeletes $d ${ks.mkString(",")}" }).mkString("\n"))

  /** Commit ONLY the partitions present in `slice`, inheriting every
    * other live partition from the current version by reference. The
    * slice must hold the COMPLETE new content of each partition it
    * touches (exactly what an incremental merge produces). Write cost:
    * the slice; untouched data: zero bytes moved. Works on top of a
    * plain full commit (its partitions become the inherited base) or
    * from empty. */
  def commitDelta(slice: DataFrame, root: String, partitionCol: String,
                  statsCols: Seq[String] = Seq.empty,
                  bloomCols: Seq[String] = Seq.empty): Long =
    publish(root)(stageDelta(slice, root, partitionCol, _, statsCols,
      bloomCols))

  /** The staging half of [[commitDelta]] (fully written + manifested,
    * nothing published), against an EXPLICIT base version — which is
    * what lets [[Catalog.transactDelta]] run delta commits whose base
    * is the catalog manifest's version rather than a per-table
    * marker. */
  private[graft] def stageDelta(slice: DataFrame, root: String,
                                partitionCol: String, base: Long,
                                statsCols: Seq[String] = Seq.empty,
                                bloomCols: Seq[String] = Seq.empty): Long =
    stageManifested(slice, root, partitionCol, base, append = false,
      statsCols = statsCols, bloomCols = bloomCols)

  /** Append `slice` to the table, touching NO existing bytes: the new
    * version's manifest keeps every base entry and ADDS the freshly
    * written partition directories, so an appended partition's content
    * is the union of its old and new files. This is the Iceberg
    * fast-append at partition granularity — O(batch) at any table
    * size, which is what a streaming micro-batch sink needs (the
    * copy-on-write [[commitDelta]] would rewrite the whole current-day
    * partition on every 30-minute batch). Readers resolve through
    * [[manifestEntries]]; compaction ([[Maintenance]]) folds
    * accumulated small appends back into one directory per partition
    * via a delta commit. */
  def commitAppend(slice: DataFrame, root: String, partitionCol: String,
                   statsCols: Seq[String] = Seq.empty,
                   bloomCols: Seq[String] = Seq.empty): Long =
    publish(root)(stageAppend(slice, root, partitionCol, _, statsCols,
      bloomCols))

  /** The staging half of [[commitAppend]] (fully written + manifested,
    * nothing published), against an explicit base version. */
  private[graft] def stageAppend(slice: DataFrame, root: String,
                                 partitionCol: String, base: Long,
                                 statsCols: Seq[String] = Seq.empty,
                                 bloomCols: Seq[String] = Seq.empty): Long =
    stageManifested(slice, root, partitionCol, base, append = true,
      statsCols = statsCols, bloomCols = bloomCols)

  // ───────── idempotent-writer transactions (Delta SetTransaction) ─────────

  /** [[commitAppend]] that additionally records an idempotent-writer
    * stamp `(writerId, batchId)` INSIDE the staged version directory —
    * written before the marker move, so the stamp is atomic with the
    * commit (Delta's `SetTransaction` action / the `txnAppId` +
    * `txnVersion` idempotent-write contract). A restarted streaming
    * writer checks [[lastTxnBatch]] and skips batches it already
    * landed: crash AFTER the marker move → the stamp is visible and
    * the replay is a no-op; crash BEFORE it → the unpublished claim is
    * [[sweepOrphans]] garbage and the replay re-commits. Exactly-once
    * for any writer whose batch ids are monotone per `writerId` (the
    * Structured Streaming `batchId` contract). */
  def commitAppendTxn(slice: DataFrame, root: String, partitionCol: String,
                      writerId: String, batchId: Long,
                      statsCols: Seq[String] = Seq.empty,
                      bloomCols: Seq[String] = Seq.empty): Long =
    publish(root, Some(writerId -> batchId))(stageAppend(slice, root,
      partitionCol, _, statsCols, bloomCols))

  /** The MoR-upsert twin of [[commitAppendTxn]] (an Update-mode
    * streaming sink: each trigger's rows REPLACE their key's older
    * twins via [[upsertMor]]'s append + equality-delete commit —
    * O(batch), zero table reads) with the same atomic idempotent
    * stamp. */
  def commitUpsertTxn(source: DataFrame, root: String, partitionCol: String,
                      keyCols: Seq[String], writerId: String, batchId: Long,
                      statsCols: Seq[String] = Seq.empty,
                      bloomCols: Seq[String] = Seq.empty): Long =
    publish(root, Some(writerId -> batchId))(stageUpsertMor(source, root,
      partitionCol, keyCols, _, statsCols, bloomCols))

  /** The full-snapshot twin of [[commitAppendTxn]] (a Complete-mode
    * streaming sink replaces the table every trigger): stage + stamp +
    * marker move. */
  def commitTxn(df: DataFrame, root: String,
                writerId: String, batchId: Long,
                statsCols: Seq[String] = Seq.empty,
                bloomCols: Seq[String] = Seq.empty): Long =
    publish(root, Some(writerId -> batchId))(stageVersion(df, root, _,
      statsCols, bloomCols))

  /** The newest batch id `writerId` has COMMITTED to this table, or
    * None — the replay-detection read of the idempotent-write
    * protocol. Scans version stamps newest-first (metadata-sized: one
    * tiny file per version, no data reads), considering only versions
    * AT OR BELOW the published marker: a claim that crashed before its
    * marker move and a version undone by [[rollback]] both sit above
    * it, and a replayed batch must RE-commit in exactly those states.
    * Note [[expireSnapshots]] can eventually remove old stamped
    * versions, but a live writer's newest stamp rides the current
    * version, which expiry always keeps. */
  def lastTxnBatch(root: String, writerId: String): Option[Long] = {
    val published = latestVersion(root)
    versions(root).filter(_ <= published).sorted.reverse.iterator.flatMap { v =>
      val p = MetaIO.join(root, s"v=$v", "_txn")
      if (!isCommitted(root, v) || !MetaIO.exists(p)) None
      else MetaIO.readString(p).split("\n", 2) match {
        case Array(w, b) if w == writerId => Some(b.trim.toLong)
        case _ => None
      }
    }.nextOption()
  }

  /** Whether a predicate Column is a pure function of `df`'s rows —
    * judged on the ANALYZED plan (the unresolved tree defaults every
    * UnresolvedFunction deterministic: `rand()` and
    * `udf.asNondeterministic()` only carry their flag after
    * resolution). Conservative: any nondeterministic node anywhere in
    * the projected expression makes the whole predicate
    * nondeterministic, so the single-draw pin engages. Analysis only
    * — no job runs. */
  private def columnDeterministic(df: DataFrame, c: Column): Boolean =
    !df.select(c.as("__graft_det_probe")).queryExecution.analyzed
      .exists(p => p.expressions.exists(_.exists(e => !e.deterministic)))

  /** The copy-on-write match of `predicate` over the base rows `cur0`:
    * (rows to rewrite from, per-row hit flag, partition-dir column,
    * touched partition dirs sorted). A nondeterministic predicate is
    * drawn ONCE: touched-partition discovery and the rewrite are
    * otherwise two independent draws — rows matching only the second
    * draw in partitions the first missed would never be rewritten, and
    * an empty first draw could report "nothing matched" off a
    * discarded sample. So a per-row match flag is materialized
    * (localCheckpoint pins the draw, the MERGE path's discipline) and
    * both derive from it. Deterministic predicates keep the cheap
    * two-scan plan — both scans compute the same function. */
  private def cowMatch(cur0: DataFrame, predicate: Column,
                       partitionCol: String)
      : (DataFrame, Column, Column, Seq[String]) = {
    val (cur, hit) =
      if (columnDeterministic(cur0, predicate))
        (cur0, coalesce(predicate, lit(false)))
      else {
        val pinned = cur0
          .withColumn("__graft_hit", coalesce(predicate, lit(false)))
          .localCheckpoint(eager = true)
        (pinned, col("__graft_hit"))
      }
    // the partition DIRECTORY of a row — derived for transform specs,
    // nested for multi-column specs
    val dirc = rowDirExpr(parseSpecs(partitionCol), cur0.schema)
    val touched = cur.filter(hit)
      .select(dirc).distinct()
      .collect().map(_.getString(0)).filter(_ != null).toSeq.sorted
    (cur, hit, dirc, touched)
  }

  /** Row-level DELETE as a partition-pruned copy-on-write delta commit
    * (the GDPR-delete / `DELETE FROM ... WHERE` of the table formats):
    * only partitions holding matching rows are rewritten without them;
    * everything else is inherited by manifest reference. A partition
    * emptied by the delete is REMOVED from the manifest rather than
    * silently inherited (the classic delete-resurrection bug). Rows
    * where the predicate evaluates to null are kept, per SQL DELETE
    * semantics. Returns the new version, or the current one when
    * nothing matches. */
  def deleteWhere(spark: SparkSession, root: String, partitionCol: String,
                  predicate: Column): Long =
    publish(root)(stageDeleteWhere(spark, root, partitionCol, predicate, _))

  /** The staging half of [[deleteWhere]]; -1 when nothing matches. */
  private def stageDeleteWhere(spark: SparkSession, root: String,
                               partitionCol: String, predicate: Column,
                               base: Long): Long = {
    val cur0 = read(spark, root, base)
    val (cur, hit, dirc, touched) = cowMatch(cur0, predicate, partitionCol)
    if (touched.isEmpty) return -1L
    val survivors = cur
      .filter(dirc.isin(touched: _*))
      .filter(!hit)
      .select(cur0.columns.map(col).toSeq: _*)
    stageManifested(survivors, root, partitionCol, base, append = false,
      removeParts = touched.toSet)
  }

  /** Row-level UPDATE as a partition-pruned copy-on-write delta commit
    * (SQL `UPDATE ... SET ... WHERE ...`): only partitions holding
    * matching rows are rewritten with the assignments applied;
    * everything else is inherited by manifest reference. Rows where
    * the predicate is null or false keep their values (SQL UPDATE
    * semantics); assignment values cast to the column's existing type
    * (the implicit cast SQL UPDATE performs). Layout (partition-spec
    * source) columns REFUSE — an update that moves rows between
    * partitions is a layout rewrite ([[migrateSpec]] / MERGE), not an
    * in-place delta. Returns the new version, or the current one when
    * nothing matches. */
  def updateWhere(spark: SparkSession, root: String, partitionCol: String,
                  predicate: Column, sets: Seq[(String, Column)]): Long =
    publish(root)(stageUpdateWhere(spark, root, partitionCol, predicate,
      sets, _))

  /** The base rows of an in-place UPDATE, after its shared refusals:
    * no assignments, an assignment to a layout (partition-spec source)
    * column — rows would have to move between partitions — or to a
    * column the table lacks. */
  private def updateBase(spark: SparkSession, root: String,
                         partitionCol: String, sets: Seq[(String, Column)],
                         base: Long): DataFrame = {
    require(sets.nonEmpty, "UPDATE needs at least one assignment")
    val layout = parseSpecs(partitionCol).map(_.source).toSet
    val bad = sets.map(_._1).filter(layout.contains)
    require(bad.isEmpty,
      s"cannot update layout column(s) ${bad.mkString(", ")} in place — " +
        "rows would have to move between partitions")
    val cur = read(spark, root, base)
    sets.foreach { case (n, _) => require(cur.columns.contains(n),
      s"no column '$n' in ${cur.columns.mkString(", ")}") }
    cur
  }

  /** The staging half of [[updateWhere]] against an EXPLICIT base
    * version (rewritten partitions + manifest written, nothing
    * published) — what lets [[Catalog]] transactions land governed
    * row-level updates atomically. Returns -1 when the predicate
    * matches nothing (no version staged). */
  private[graft] def stageUpdateWhere(spark: SparkSession, root: String,
                                      partitionCol: String,
                                      predicate: Column,
                                      sets: Seq[(String, Column)],
                                      base: Long): Long = {
    val cur0 = updateBase(spark, root, partitionCol, sets, base)
    val (cur, hit, dirc, touched) = cowMatch(cur0, predicate, partitionCol)
    if (touched.isEmpty) return -1L
    val setMap = sets.toMap
    val updated = cur.filter(dirc.isin(touched: _*))
      .select(cur0.schema.fields.toSeq.map { f =>
        setMap.get(f.name)
          .map(v => when(hit, v.cast(f.dataType)).otherwise(col(f.name))
            .as(f.name))
          .getOrElse(col(f.name))
      }: _*)
    stageManifested(updated, root, partitionCol, base, append = false)
  }

  /** Row-level UPDATE as a MERGE-ON-READ commit (the Iceberg v2 MoR
    * UPDATE shape): instead of rewriting every touched partition
    * ([[updateWhere]]'s copy-on-write), the matched rows' updated
    * images are APPENDED and their OLD full-row images land as an
    * equality-delete sidecar in the SAME version — old twins die by
    * the sidecar, the new images survive by the strict sequence rule,
    * untouched rows are inherited by manifest reference. Commit cost
    * is O(matched rows), not O(touched partitions): the 100 TB shape
    * for a few-row UPDATE inside a 1 TB partition.
    *
    * PRECONDITION: the predicate must be DETERMINISTIC (the caller —
    * [[graft.sources.GraftDml.runUpdate]] — routes nondeterministic
    * predicates to copy-on-write). Masking by equality, with ANY key
    * including the full row, is exact only when matching is a pure
    * function of the row: a deterministic predicate cannot match one
    * of two identical rows without the other, so twins all match and
    * each re-appends its own post-image, preserving multiplicity — a
    * nondeterministic one could match a strict subset of twins, and
    * the full-row mask would kill the unmatched ones too.
    * Layout (partition-spec source) assignments refuse, same as CoW.
    * Returns the new version, or -1 when nothing matches.
    *
    * `predicateRefs` (when non-empty, and the predicate is
    * DETERMINISTIC — the caller's responsibility) shrinks the
    * equality key to the predicate's referenced columns: a
    * deterministic predicate is a pure function of those columns, so
    * a row's key tuple null-safe-equals a MATCHED row's tuple exactly
    * when the predicate holds for it too — masking by the DISTINCT
    * matched tuples kills precisely the matched set, and the sidecar
    * collapses from O(matched) full-width rows to the handful of
    * distinct predicate-column values (often ONE row: `WHERE status =
    * 'M'` masks with the single tuple ('M')). Empty refs fall back to
    * the full old-row image, which is always exact. */
  private[graft] def stageUpdateMor(spark: SparkSession, root: String,
                                    partitionCol: String,
                                    predicate: Column,
                                    sets: Seq[(String, Column)],
                                    base: Long,
                                    predicateRefs: Set[String] = Set.empty)
      : Long = {
    val cur = updateBase(spark, root, partitionCol, sets, base)
    // one materialized snapshot of the matched rows: the append and
    // the sidecar must see the SAME row set (localCheckpoint, the
    // MERGE path's discipline) and the table read must not re-run
    val matched = cur.filter(coalesce(predicate, lit(false)))
      .localCheckpoint(eager = true)
    if (matched.head(1).isEmpty) return -1L
    val setMap = sets.toMap
    val post = matched.select(cur.schema.fields.toSeq.map { f =>
      setMap.get(f.name).map(_.cast(f.dataType).as(f.name))
        .getOrElse(col(f.name))
    }: _*)
    val refCols = predicateRefs.toSeq.sorted.filter(cur.columns.contains)
    val delKeys =
      if (refCols.nonEmpty && refCols.size == predicateRefs.size)
        matched.select(refCols.map(col): _*).distinct()
      else matched
    stageMergeBatch(post, root, partitionCol, delKeys, base)
  }

  /** Published [[stageUpdateMor]]: MoR UPDATE against the latest
    * version. Returns the new version (the current one when nothing
    * matches). */
  def updateWhereMor(spark: SparkSession, root: String,
                     partitionCol: String, predicate: Column,
                     sets: Seq[(String, Column)],
                     predicateRefs: Set[String] = Set.empty): Long =
    publish(root)(stageUpdateMor(spark, root, partitionCol, predicate,
      sets, _, predicateRefs))

  /** Row-level DELETE as a MERGE-ON-READ commit (Iceberg v2 position
    * deletes): instead of rewriting every touched partition
    * ([[deleteWhere]]'s copy-on-write), the matching rows' (file,
    * position) identities are written to a tiny `v=N/_deletes/`
    * sidecar and the manifest carries a `!deletes N` reference; every
    * data entry is inherited untouched. [[read]] resolves the table by
    * anti-joining the scan against the accumulated delete files
    * (broadcast-sized until [[applyDeletes]] folds them away).
    *
    * This is the 100 TB shape for small deletes over huge partitions —
    * a GDPR erasure of a handful of keys inside a 1 TB partition costs
    * O(deleted rows) write instead of a partition rewrite. Deletes
    * stack: a second MoR delete matches against the already-deleted
    * view and appends its own sidecar. Rows where the predicate is
    * null are kept (SQL DELETE semantics). Returns the new version, or
    * the current one when nothing matches. */
  def deleteWhereMor(spark: SparkSession, root: String,
                     predicate: Column): Long =
    publish(root)(stageMorDelete(spark, root, predicate, _))

  /** The staging half of [[deleteWhereMor]] against an EXPLICIT base
    * version (sidecar + manifest written, nothing published) — what
    * lets [[Catalog.transactMorDelete]] land row erasures across
    * several tables as ONE atomic catalog commit. Returns -1 when the
    * predicate matches nothing (no version staged). */
  private[graft] def stageMorDelete(spark: SparkSession, root: String,
                                    predicate: Column, base: Long): Long = {
    require(base >= 0, s"no committed version at $root")
    val dels = deleteEntries(root, base)
    // rows already masked by an equality delete must not re-land as
    // position-delete rows (harmless but unbounded growth otherwise)
    val live = livePositioned(spark, root, base, dels,
      eqDeleteEntries(root, base))
    val matches = live.filter(predicate)
      .select(col(FileCol), col(PosCol)).persist()
    try {
      if (matches.head(1).isEmpty) return -1L
      val baseEntries = inheritedEntries(root, base,
        partitionSpec(root).getOrElse("<partition>"))
      stageNext(root, base) { next =>
        // one sidecar file: the delete set is small by the operation's
        // nature (a production writer would target file sizes instead)
        matches.coalesce(1).write.parquet(s"$root/v=$next/_deletes")
        writeManifest(root, next, baseEntries, dels :+ next,
          eqDeleteEntries(root, base))
        carryVersionMeta(spark, root, base, next)
      }
    } finally matches.unpersist()
  }

  /** Row-level DELETE BY KEY as a merge-on-read EQUALITY-delete commit
    * (Iceberg v2's second delete-file flavor — the one CDC writers
    * land, because it needs NO read of the table at all): `keys`'
    * distinct rows become a `v=N/_eqdeletes/` sidecar masking every
    * row in a STRICTLY OLDER storage version whose key columns match
    * (null-safe). Zero data bytes move and zero data bytes are READ —
    * where [[deleteWhereMor]] must scan to resolve (file, position)
    * identities, this commit's cost is the key set itself. Readers
    * resolve it with one broadcast anti-join per sidecar batch;
    * [[applyDeletes]] folds it back into clean data. Returns the new
    * version. */
  def deleteEqualityMor(spark: SparkSession, root: String,
                        keys: DataFrame): Long =
    publish(root)(stageEqualityDelete(spark, root, keys, _))

  /** The staging half of [[deleteEqualityMor]] against an EXPLICIT
    * base version (sidecar + manifest written, nothing published) —
    * what lets [[Catalog]] transactions land governed key erasures
    * atomically. */
  private[graft] def stageEqualityDelete(spark: SparkSession, root: String,
                                         keys: DataFrame, base: Long): Long = {
    require(base >= 0, s"no committed version at $root")
    val keyCols = keys.columns.toSeq
    require(keyCols.nonEmpty, "equality delete needs at least one key column")
    val baseEntries = inheritedEntries(root, base,
      partitionSpec(root).getOrElse("<partition>"))
    stageNext(root, base) { next =>
      keys.distinct().coalesce(1)
        .write.parquet(s"$root/v=$next/_eqdeletes")
      writeManifest(root, next, baseEntries, deleteEntries(root, base),
        eqDeleteEntries(root, base) :+ (next -> keyCols))
      carryVersionMeta(spark, root, base, next)
    }
  }

  /** MERGE-upsert whose write cost tracks the BATCH, not the table —
    * the Flink→Iceberg CDC upsert shape: `source`'s rows are
    * fast-appended (touching no existing bytes, like [[commitAppend]])
    * and the SAME commit lands `source`'s key tuples as an
    * equality-delete sidecar. The strict sequence rule does the rest:
    * the sidecar at version N masks matching rows only in files
    * STRICTLY OLDER than N, so the batch's own appended rows survive
    * while every older row with a matching key dies — upsert semantics
    * with zero reads and zero rewrites of existing data. Compare
    * [[mergeDeltaCommit]], the copy-on-write twin that rewrites every
    * touched partition per batch: at streaming cadence on a 100 TB
    * table, this is the only shape that holds. Readers pay one
    * broadcast anti-join per unfolded batch; fold with
    * [[applyDeletes]] on the maintenance cadence. */
  def upsertMor(spark: SparkSession, root: String, partitionCol: String,
                source: DataFrame, keyCols: Seq[String],
                statsCols: Seq[String] = Seq.empty,
                bloomCols: Seq[String] = Seq.empty): Long =
    publish(root)(stageUpsertMor(source, root, partitionCol, keyCols, _,
      statsCols, bloomCols))

  /** The staging half of [[upsertMor]] against an EXPLICIT base
    * version (appended files + equality sidecar + manifest written,
    * nothing published) — what lets [[Catalog]] transactions and the
    * governed streaming sink land CDC upserts atomically with other
    * tables. Unlike [[mergeDeltaCommit]], there is NO key-partition
    * stability requirement: equality deletes match globally, so a key
    * may migrate between partitions across batches. */
  private[graft] def stageUpsertMor(source: DataFrame, root: String,
                                    partitionCol: String,
                                    keyCols: Seq[String], base: Long,
                                    statsCols: Seq[String] = Seq.empty,
                                    bloomCols: Seq[String] = Seq.empty)
      : Long = {
    require(keyCols.nonEmpty, "upsert needs at least one key column")
    stageManifested(source, root, partitionCol, base, append = true,
      statsCols = statsCols, bloomCols = bloomCols,
      eqDeleteKeys = Some(keyCols))
  }

  /** The one-commit CONDITIONAL-MERGE write (staging half): fast-append
    * `batch` (the statement's updated-row images and inserts) and land
    * `delKeys` — the matched keys the statement updates OR deletes,
    * which under conditional clauses is NOT the batch's own key set —
    * as an equality-delete sidecar in the SAME version. Old twins of
    * updated keys and every deleted key die; the appended rows survive
    * by the strict sequence rule; matched-but-no-clause rows are
    * simply absent from both and stay untouched. Zero reads or
    * rewrites of existing data at commit time. */
  private[graft] def stageMergeBatch(batch: DataFrame, root: String,
                                     partitionCol: String,
                                     delKeys: DataFrame, base: Long,
                                     statsCols: Seq[String] = Seq.empty,
                                     bloomCols: Seq[String] = Seq.empty)
      : Long = {
    require(delKeys.columns.nonEmpty,
      "merge delete-key set needs at least one key column")
    // an insert-only outcome (no clause matched) must not leave an
    // empty sidecar taxing every future read with a no-op anti-join
    val del = if (delKeys.isEmpty) None else Some(delKeys)
    stageManifested(batch, root, partitionCol, base, append = true,
      statsCols = statsCols, bloomCols = bloomCols,
      eqDeleteFrame = del)
  }

  /** Live unapplied merge-on-read sidecars of a version — position-
    * delete files + equality-delete sidecars. Each unfolded sidecar
    * adds one broadcast anti-join to EVERY read until [[applyDeletes]]
    * folds it, so streaming sinks and the maintenance cadence key
    * their fold trigger on this count (the `listStats` drift-signal
    * pattern applied to MoR debt). */
  def morDebt(root: String, version: Long = -1L): Int = {
    val v = if (version >= 0) version else latestVersion(root)
    if (v < 0) 0
    else deleteEntries(root, v).size + eqDeleteEntries(root, v).size
  }

  /** Fold accumulated merge-on-read delete files back into clean data
    * (Iceberg's `rewrite_position_delete_files` + compaction): every
    * partition holding LIVE delete rows is rewritten without them as
    * one delta commit that drops all `!deletes` references; untouched
    * partitions move zero bytes. Stale delete rows (their files were
    * already rewritten by later deltas) are dropped for free. Returns
    * the new version, or the current one when there are no delete
    * files to fold. */
  def applyDeletes(spark: SparkSession, root: String): Long = {
    // a mixed-era table migrates first: the fold's touched-partition
    // rewrite assumes partition names and the current spec agree
    migrateSpec(spark, root)
    publish(root)(stageApplyDeletes(spark, root, _))
  }

  /** The staging half of [[applyDeletes]] against an EXPLICIT base
    * version (rewritten partitions + manifest written, nothing
    * published) — what lets [[Catalog.foldTable]] land a governed
    * table's fold as one atomic catalog commit. Returns `base` when
    * there is nothing to fold. Mixed-era tables refuse here (the
    * public path migrates first; governed tables migrate on the
    * maintenance cadence). */
  private[graft] def stageApplyDeletes(spark: SparkSession, root: String,
                                       base: Long): Long = {
    val v = base
    val dels = deleteEntries(root, v)
    val eqs = eqDeleteEntries(root, v)
    if (dels.isEmpty && eqs.isEmpty) return v
    val partCol = partitionSpec(root).getOrElse(
      throw new IllegalStateException(
        s"table at $root has MoR deletes but no partition spec"))
    val entries = manifestEntries(root, v)
    val liveDirs = entries.map { case (p, sv) => s"v=$sv/$p" }.toSet
    // partition dirs whose live files still carry delete rows
    val dirOf = "^(v=\\d+/(.+))/[^/]+$".r
    def toParts(files: Seq[String]): Seq[String] = files.flatMap {
      case dirOf(full, part) if liveDirs.contains(full) => Some(part)
      case _ => None
    }.distinct
    val posTouched: Seq[String] =
      if (dels.isEmpty) Seq.empty
      else toParts(readDeleteFiles(spark, root, dels)
        .select(FileCol).distinct().collect().map(_.getString(0)).toSeq)
    // files some equality delete still masks live rows in: one
    // broadcast SEMI-join per sidecar key set over the pos-resolved
    // scan (rows a position delete already killed must not drag their
    // partition into the rewrite)
    val eqTouched: Seq[String] =
      if (eqs.isEmpty) Seq.empty
      else {
        val afterPos = livePositioned(spark, root, v, dels, Seq.empty)
        val dead = eqDeleteGroups(spark, root, eqs)
          .map { case (keyCols, delDf) =>
            val cur = withSeq(afterPos)
            cur.join(broadcast(delDf), eqMasked(cur, keyCols, delDf),
              "left_semi").select(FileCol)
          }.reduce(_.unionByName(_))
          .distinct().collect().map(_.getString(0)).toSeq
        toParts(dead)
      }
    val touched = (posTouched ++ eqTouched).distinct.sorted
    if (touched.isEmpty)
      // every delete row references a vanished file (or masks nothing
      // live): metadata-only commit that drops the now-dead
      // `!deletes` / `!eqdeletes` references
      stageNext(root, v) { n =>
        writeManifest(root, n, entries)
        carryVersionMeta(spark, root, v, n)
      }
    else {
      val partOf = regexp_extract(col(FileCol), "^v=\\d+/(.+)/[^/]+$", 1)
      val survivors = livePositioned(spark, root, v, dels, eqs)
        .filter(partOf.isin(touched: _*))
        .drop(FileCol, PosCol)
      stageManifested(survivors, root, partCol, v, append = false,
        removeParts = touched.toSet, dropDeletes = true)
    }
  }

  /** Record `next`'s schema + field-id metadata as inherited unchanged
    * from `base` (metadata-only and delete-only commits move no data
    * but must stay era-resolvable). */
  private def carryVersionMeta(spark: SparkSession, root: String,
                               base: Long, next: Long): Unit = {
    val schema = recordedSchema(root, base)
      .getOrElse(scan(spark, root, base, withPos = false).schema)
    MetaIO.writeString(schemaPath(root, next), schema.json)
    val (fids, lastId) = assignFieldIds(root, base, schema)
    writeFields(root, next, fids, lastId)
    carryDefaults(root, base, next)
  }

  /** Partition-pruned MERGE-upsert commit — the Delta `MERGE INTO`
    * with dynamic partition pruning: only the partitions the source
    * touches are read, merged ([[MergeUpsert.merge]]: source wins on
    * key match, target survives otherwise), and rewritten as a delta
    * commit; untouched partitions move zero bytes. Requires the key's
    * partition to be stable (a key never migrates between partitions —
    * true of every table here, where the partition date derives from
    * the row's own event time). */
  def mergeDeltaCommit(spark: SparkSession, root: String, source: DataFrame,
                       key: String, partitionCol: String): Long = {
    val pss = parseSpecs(partitionCol)
    val touched = source
      .select(rowDirExpr(pss, source.schema)).distinct()
      .collect().map(_.getString(0)).filter(_ != null).toSeq.sorted
    if (touched.isEmpty) return latestVersion(root)
    val curAll = read(spark, root)
    val cur = curAll
      .filter(rowDirExpr(pss, curAll.schema).isin(touched: _*))
    commitDelta(MergeUpsert.merge(cur, source, key), root, partitionCol)
  }

  /** The (partition dir, storage version) entries a manifested commit
    * inherits from `base`: its manifest if it has one, else the plain
    * partitioned commit's own directories. */
  private def inheritedEntries(root: String, base: Long,
                               partitionCol: String): Seq[(String, Long)] =
    if (base < 0) Seq.empty
    else {
      val m = manifestEntries(root, base)
      if (m.nonEmpty) m
      // an emptied-but-manifested base (everything deleted/truncated)
      // legitimately inherits nothing
      else if (MetaIO.exists(manifestPath(root, base))) Seq.empty
      else {
        // a plain partitioned commit works as the inherited base; an
        // UNpartitioned one cannot (no partition dirs to reference —
        // inheriting nothing would silently drop its rows)
        val dirs = listPartitionDirs(root, base)
        require(dirs.nonEmpty,
          s"version $base at $root has no $partitionCol=... partition " +
            "directories; commitDelta needs a partitioned (or empty) base")
        dirs.map(_ -> base)
      }
    }

  private def stageManifested(slice: DataFrame, root: String,
                              partitionCol: String, base: Long,
                              append: Boolean,
                              removeParts: Set[String] = Set.empty,
                              statsCols: Seq[String] = Seq.empty,
                              dropDeletes: Boolean = false,
                              bloomCols: Seq[String] = Seq.empty,
                              eqDeleteKeys: Option[Seq[String]] = None,
                              eqDeleteFrame: Option[DataFrame] = None,
                              allowCrossEra: Boolean = false)
      : Long = {
    require(eqDeleteKeys.isEmpty || eqDeleteFrame.isEmpty,
      "eqDeleteKeys and eqDeleteFrame are exclusive (one sidecar per commit)")
    val baseEntries = inheritedEntries(root, base, partitionCol)
    // validate the spec BEFORE claiming a version dir: a mismatch must
    // fail clean, not leave an orphan claim behind
    MetaIO.mkdirs(MetaIO.join(root))
    recordOrValidateSpec(root, partitionCol)
    // a copy-on-write delta's "complete new content of each touched
    // partition" contract is only checkable within ONE spec era: rows
    // of a touched partition may hide inside inherited old-era
    // directories this commit cannot see. Appends never rewrite, so
    // they stay safe across eras; [[applyDeletes]]/[[migrateSpec]]
    // remove every old-era entry they rewrite and opt in explicitly.
    if (!append && !allowCrossEra) {
      val foreign = foreignEraEntries(root,
        baseEntries.filterNot(e => removeParts.contains(e._1)))
      require(foreign.isEmpty,
        s"table at $root has live directories under an older partition " +
          s"spec (${foreign.take(3).map(_._1).mkString(", ")}…) — run " +
          "migrateSpec (or the maintenance cadence) before a " +
          "copy-on-write delta commit")
    }
    // hidden partitioning: a transform spec derives the directory value
    // at write time; the source column stays in the data files and the
    // derived field exists ONLY as the directory layer (readers drop
    // it). Multi-column specs nest one directory level per field.
    val pss = parseSpecs(partitionCol)
    val writeDf = pss.foldLeft(slice) { (df, ps) =>
      if (ps.isIdentity) df
      else {
        require(!slice.columns.contains(ps.field),
          s"data column '${ps.field}' collides with the derived " +
            s"partition field of spec '${ps.spec}'")
        df.withColumn(ps.field,
          ps.valueExpr(slice.schema(ps.source).dataType))
      }
    }
    // REBALANCE on the partition fields before LARGE partitioned
    // writes: without it every write task emits one file into every
    // partition dir it sees — tasks × partitions small files, and the
    // file count (so the commit/rename and every later read) GROWS
    // with the core count (measured: IVF appendBatch anti-scaled 8→32
    // cores at the x100 bench on exactly this). A plain
    // repartition(fields) would fix the fan-out but serialize each
    // partition value into one task; the AQE rebalance clusters by the
    // fields AND splits oversized partitions
    // (optimizeSkewsInRebalancePartitions, on by default), so hot
    // partitions keep parallel writers. Guide §6.
    //
    // SIZE-ADAPTIVE, not unconditional: the rebalance is one extra
    // exchange per commit, which for the metadata-sized commits of a
    // small table costs a job-floor each while the files it saves are
    // tiny anyway (measured: +0.3–0.6 s on every snapshot-commit bench
    // key at sf0.1, for zero read benefit at that scale). The gate is
    // the optimizer's own size estimate of the slice — cheap,
    // data-derived, and scale-respecting: past the threshold the
    // fan-out is real money (object-store file counts), below it the
    // extra exchange is pure floor. Threshold parameterised via
    // spark.graft.commit.rebalanceBytes (default 64 MB ≈ half a
    // target output file).
    val rebalanceBytes = slice.sparkSession.conf
      .getOption("spark.graft.commit.rebalanceBytes").map(_.toLong)
      .getOrElse(64L * 1024 * 1024)
    // stats off the ANALYZED plan, deliberately: `optimizedPlan` would
    // run a full extra optimizer pass per commit (measured: +5–50 %
    // on every commit-heavy bench key — driver CPU, not data), while
    // the analyzed plan is already materialized by Dataset creation
    // and its size visitor is a cheap tree walk. The estimate skews
    // HIGH (no filter selectivity), i.e. errs toward rebalancing —
    // the safe direction at scale.
    val sliceBytes = writeDf.queryExecution.analyzed.stats.sizeInBytes
    val clustered =
      if (pss.isEmpty || sliceBytes < BigInt(rebalanceBytes)) writeDf
      else writeDf.hint("rebalance", pss.map(_.field): _*)
    stageNext(root, base) { next =>
      clustered.write.mode("append").partitionBy(pss.map(_.field): _*)
        .parquet(s"$root/v=$next")
      commitChecksAndStats(slice.sparkSession, root, next, statsCols, bloomCols)
      val touched = listPartitionDirs(root, next)
      val kept =
        if (append) baseEntries
        else baseEntries.filterNot(e =>
          touched.contains(e._1) || removeParts.contains(e._1))
      // unapplied MoR delete files ride along: a delta rewrite of some
      // partitions computed its slice through [[read]] (deletes already
      // applied, so they're baked into the rewritten files) and the
      // carried entries still mask deleted rows in every INHERITED file;
      // entries whose files were rewritten anti-join nothing (no-op).
      // [[applyDeletes]] is the fold that rewrites and drops them.
      val carried =
        if (dropDeletes || base < 0) Seq.empty else deleteEntries(root, base)
      // carried equality deletes stay correct across a delta rewrite for
      // free: rewritten files land at storage version `next` >= every
      // carried delete version, so the strict sequence rule never
      // re-masks rows the rewrite already resolved, while inherited
      // files stay masked
      val carriedEq =
        if (dropDeletes || base < 0) Seq.empty
        else eqDeleteEntries(root, base)
      // an upsert commit lands its batch's key set as an equality-delete
      // sidecar IN THIS version: older twins die, the batch survives
      val ownEq = eqDeleteKeys.toSeq.map { ks =>
        // key tuples re-read from the files just written, not recomputed
        // through the slice's lineage (which may be arbitrarily deep)
        slice.sparkSession.read.parquet(s"$root/v=$next")
          .select(ks.map(col): _*).distinct()
          .coalesce(1).write.parquet(s"$root/v=$next/_eqdeletes")
        next -> ks
      } ++ eqDeleteFrame.toSeq.map { keys =>
        // an EXPLICIT key set in the same version (conditional-MERGE
        // writes: the tombstoned keys are the matched rows the statement
        // updated or deleted, NOT the appended batch's own keys) — the
        // strict sequence rule still spares the batch's appended rows
        keys.distinct().coalesce(1)
          .write.parquet(s"$root/v=$next/_eqdeletes")
        next -> keys.columns.toSeq
      }
      writeManifest(root, next, kept ++ touched.map(_ -> next), carried,
        carriedEq ++ ownEq)
      // record the evolved table schema: base columns keep their TYPE
      // (an append/delta may ADD columns but never silently flip an
      // existing column's type — the Iceberg evolution rule), new slice
      // columns are appended; readers null-fill added columns over files
      // written before they existed
      val baseSchema: Option[types.StructType] =
        if (base < 0 || baseEntries.isEmpty) None
        else recordedSchema(root, base)
          .orElse(Some(read(slice.sparkSession, root, base).schema))
      val evolved = baseSchema match {
        case None => slice.schema
        case Some(bs) => types.StructType(bs.fields ++
          slice.schema.fields.filterNot(f => bs.fieldNames.contains(f.name)))
      }
      MetaIO.writeString(schemaPath(root, next), evolved.json)
      // stable field ids ride every manifested commit: base names keep
      // their ids, new columns allocate past the id high-water mark
      // (rename/drop readers resolve physical names through these)
      locally {
        val (fids, lastId) = assignFieldIds(root, base, evolved)
        writeFields(root, next, fids, lastId)
        carryDefaults(root, base, next)
      }
    }
  }

  /** Relative LEAF partition directories of a version — one path per
    * partition, nested one level per spec field
    * (`f1=v1/f2=v2` for a two-column spec). */
  private def listPartitionDirs(root: String, version: Long): Seq[String] = {
    def partSubdirs(d: String): Seq[String] = {
      MetaIO.list(d).filter(p => MetaIO.isDir(p) &&
        MetaIO.name(p).contains("="))
    }
    def leaves(d: String, rel: String): Seq[String] = {
      val subs = partSubdirs(d)
      if (subs.isEmpty) Seq(rel)
      else subs.flatMap(s => leaves(s, s"$rel/${MetaIO.name(s)}"))
    }
    partSubdirs(MetaIO.join(root, s"v=$version"))
      .flatMap(p => leaves(p, MetaIO.name(p))).sorted
  }

  // ───────── file-level column stats (manifest data skipping) ─────────
  //
  // The one Iceberg read-path capability beyond partition pruning: the
  // manifest records per-FILE min/max bounds for chosen columns, and a
  // selective predicate on a NON-partition column prunes files before
  // Spark ever plans the scan. Stats live as a tiny TYPED parquet
  // sidecar under the storage version that wrote the files
  // (`v=N/_stats/`, underscore-prefixed so data scans ignore it), so a
  // manifested read collects bounds across every referenced storage
  // version. Files without stats are always kept — skipping is purely
  // an IO optimization, never an answer change.

  private def statsPath(root: String, version: Long) =
    MetaIO.join(root, s"v=$version", "_stats")

  /** Test/audit hook: commit-time jobs that had to RE-READ just-written
    * data (fallback stats scans for footer-unusable columns, constraint
    * scans for unprovable shapes). The footer-lift contract — a commit
    * reads each written file's data at most once, and on the common
    * path not at all — is pinned by specs asserting this stays 0. */
  private[graft] val commitDataScans = new java.util.concurrent.atomic.AtomicLong

  /** Every commit's validation + bookkeeping over the just-written
    * files, sharing ONE parquet-FOOTER pass: CHECK constraints
    * (bounds-proven where possible), the `_stats` sidecar (`__rows`
    * always — [[fastCount]]'s metadata count — plus min/max for
    * `statsCols`), and bloom sidecars. Footers are what the write
    * job's tasks just produced, so the common path reads ZERO data
    * bytes after the write itself; only footer-unusable columns
    * (INT96 timestamps, FP NaN semantics — see [[FooterStats]]) or
    * unprovable constraints fall back to one column-pruned scan. */
  private def commitChecksAndStats(spark: SparkSession, root: String,
                                   version: Long, statsCols: Seq[String],
                                   bloomCols: Seq[String]): Unit = {
    // constraints read + proofs parsed ONCE per commit (the footer
    // pass and the validation share them)
    val cs = constraints(root)
    val proofs = cs.map { case (_, e) => constraintProof(spark, e) }
    val constraintCols = proofs.flatMap(_.toSeq.flatMap(_._2))
    // declared auto-NDV columns ride the same pass: bounds through the
    // footer lift (NDV is unusable without them), sketches below
    val autoNdv = ndvColumns(root)
    val footer = FooterStats.collect(spark, MetaIO.join(root),
      MetaIO.join(root, s"v=$version"),
      (statsCols ++ constraintCols ++ autoNdv).distinct)
    enforceConstraints(spark, root, version, footer, cs, proofs)
    completeStats(spark, root, version, (statsCols ++ autoNdv).distinct,
      footer).foreach {
      _.coalesce(1)
        .write.mode("overwrite").parquet(statsPath(root, version).toString)
    }
    recordFileBlooms(spark, root, version, bloomCols)
    if (autoNdv.nonEmpty && footer.nonEmpty)
      recordFileNdv(spark, root, version, autoNdv)
  }

  /** Write the `_ndv` sidecar for ONE freshly written storage version
    * (the auto-NDV half of [[collectNdv]]'s backfill): one
    * column-pruned scan of the new files only — the per-commit
    * O(batch) tax [[setNdvColumns]] opts into. */
  private def recordFileNdv(spark: SparkSession, root: String, sv: Long,
                            cols: Seq[String]): Unit = {
    val df = spark.read.parquet(s"$root/v=$sv")
    val present = cols.filter(df.columns.contains)
    if (present.isEmpty) return
    val tmp = MetaIO.join(root, s"v=$sv",
      s".ndv.new-${java.util.UUID.randomUUID()}")
    ndvFrame(df, present).coalesce(1)
      .write.mode("overwrite").parquet(tmp.toString)
    val target = ndvPath(root, sv)
    MetaIO.delete(target, recursive = true)
    MetaIO.moveTree(tmp, target)
    ndvTableCache.clear()
  }

  /** The `_stats` sidecar frame for storage version `sv` — `_file`
    * (root-relative, reader-decoded form), `__rows`, and typed
    * min/max for each of `want` present in the data: footer-lifted,
    * with ONE column-pruned scan folding in any columns whose footers
    * are unusable. None ⇔ the version has no data files. */
  private def completeStats(spark: SparkSession, root: String, sv: Long,
                            want: Seq[String],
                            footer0: Seq[FooterStats.FileStat])
      : Option[DataFrame] = {
    if (footer0.isEmpty) return None
    if (footer0.exists(_.schema.isEmpty)) {
      // files without Spark's schema metadata: the legacy one-scan path
      commitDataScans.incrementAndGet()
      val df = spark.read.parquet(s"$root/v=$sv")
      val present = want.filter(df.columns.contains)
      val aggs = count(lit(1)).as("__rows") +: present.flatMap(c =>
        Seq(min(col(c)).as(s"${c}__min"), max(col(c)).as(s"${c}__max")))
      return Some(df.groupBy(input_file_name().as("_file"))
        .agg(aggs.head, aggs.tail: _*)
        .withColumn("_file", regexp_extract(col("_file"), "(v=\\d+/.*)$", 1)))
    }
    // partition columns are DIRECTORY-encoded, not in any footer: they
    // stats-record through the fallback scan (whose partition inference
    // decodes them), exactly like the legacy path did
    val dirFields = footer0
      .flatMap(_.file.split("/").drop(1).dropRight(1))
      .filter(_.contains("=")).map(_.takeWhile(_ != '=')).toSet
    val inFooter = want.filter(footer0.head.schema.fieldNames.contains)
    val present = want.filter(c =>
      footer0.head.schema.fieldNames.contains(c) || dirFields.contains(c))
    val bad = present.filter(c => footer0.exists(fs => !fs.bounds.contains(c)))
    var colTypes: Map[String, org.apache.spark.sql.types.DataType] =
      inFooter.map(c => c -> footer0.head.schema(c).dataType).toMap
    val footer =
      if (bad.isEmpty) footer0
      else {
        commitDataScans.incrementAndGet()
        val df = spark.read.parquet(s"$root/v=$sv")
        val aggs = bad.flatMap(c =>
          Seq(min(col(c)).as(s"${c}__min"), max(col(c)).as(s"${c}__max")))
        val scanDf = df.groupBy(input_file_name().as("_file"))
          .agg(aggs.head, aggs.tail: _*)
        colTypes = colTypes ++ bad.map(c =>
          c -> scanDf.schema(s"${c}__min").dataType)
        val scanned = scanDf.collect()
          .map { r =>
            val rel = "(v=\\d+/.*)$".r.findFirstIn(r.getString(0))
              .getOrElse(r.getString(0))
            decodeReportedPath(rel) -> r
          }.toMap
        footer0.map { fs =>
          // a zero-row file groups to no scan row: its bounds are null
          val extra = scanned.get(decodeReportedPath(fs.file)) match {
            case Some(r) => bad.zipWithIndex.map { case (c, i) =>
              c -> (r.get(1 + 2 * i), r.get(2 + 2 * i)) }.toMap
            case None => bad.map(c => c -> (null, null)).toMap
          }
          fs.copy(bounds = fs.bounds ++ extra)
        }
      }
    Some(statsFrame(spark, footer, present, colTypes))
  }

  /** A stats-shaped local frame over completed footer rows — no file
    * is read; the rows live on the driver. */
  private def statsFrame(spark: SparkSession,
                         footer: Seq[FooterStats.FileStat],
                         cols: Seq[String],
                         colTypes: Map[String, types.DataType] = Map.empty)
      : DataFrame = {
    val sc = footer.head.schema
    def typeOf(c: String) = colTypes.getOrElse(c, sc(c).dataType)
    val fields = types.StructField("_file", types.StringType, false) +:
      types.StructField("__rows", types.LongType, false) +:
      cols.flatMap(c => Seq(
        types.StructField(s"${c}__min", typeOf(c), nullable = true),
        types.StructField(s"${c}__max", typeOf(c), nullable = true)))
    val rows: java.util.List[org.apache.spark.sql.Row] = footer.map { fs =>
      org.apache.spark.sql.Row.fromSeq(fs.file +: fs.rows +:
        cols.flatMap { c =>
          val (lo, hi) = fs.bounds(c); Seq[Any](lo, hi)
        })
    }.asJava
    spark.createDataFrame(rows, types.StructType(fields))
  }

  /** The recorded per-file bounds of a storage version (empty frame
    * columns differ by table; None when the version carries none). */
  def fileStats(spark: SparkSession, root: String,
                version: Long): Option[DataFrame] =
    if (MetaIO.exists(statsPath(root, version)))
      Some(spark.read.parquet(statsPath(root, version).toString))
    else None

  /** Columns with recorded min/max bounds in ANY storage version
    * `version` references — the `stats.columns` inspection property.
    * Schema-only sidecar reads, zero data bytes. */
  def statsCoverage(root: String, version: Long = -1L): Seq[String] = {
    val v = if (version >= 0) version else latestVersion(root)
    if (v < 0) return Seq.empty
    val svs = manifestEntries(root, v).map(_._2).distinct match {
      case Seq() => Seq(v)
      case s => s
    }
    svs.flatMap(sv => fileStats(SparkSession.active, root, sv))
      .flatMap(_.columns.filter(_.endsWith("__min"))
        .map(_.stripSuffix("__min")))
      .distinct.sorted
  }

  /** BACKFILL stats sidecars for files that already exist — the
    * Iceberg `compute_table_stats` / SQL ANALYZE analog: a table
    * written without `statsCols` (or before the skipping feature)
    * gains per-file min/max bounds + `__rows` WITHOUT rewriting a
    * byte of data, turning on [[readSkipping]] file pruning and
    * [[fastCount]] metadata counts retroactively. One scan per
    * storage version that lacks coverage, over only that version's
    * files; versions whose sidecar already covers every requested
    * column are skipped (idempotent), and previously-recorded columns
    * are preserved (the recompute unions them in). The sidecar swap
    * is a tmp-dir atomic move; in the brief window between old-drop
    * and new-move readers simply keep all files (skipping is IO-only
    * by construction). Returns the storage versions recomputed. */
  def collectStats(spark: SparkSession, root: String,
                   statsCols: Seq[String], version: Long = -1L): Seq[Long] = {
    require(statsCols.nonEmpty, "collectStats needs at least one column")
    fastBoundsCache.clear()
    fastRangesCache.clear() // a backfill changes per-file bounds too
    val v = if (version >= 0) version else latestVersion(root)
    require(v >= 0, s"no committed version at $root")
    val storageVersions = {
      val m = manifestEntries(root, v)
      if (m.isEmpty) Seq(v) else m.map(_._2).distinct.sorted
    }
    storageVersions.flatMap { sv =>
      val existingCols: Seq[String] = fileStats(spark, root, sv)
        .map(_.columns.toSeq.filter(_.endsWith("__min"))
          .map(_.stripSuffix("__min")))
        .getOrElse(Seq.empty)
      val covered = fileStats(spark, root, sv).isDefined &&
        statsCols.forall(existingCols.contains)
      if (covered) None
      else {
        val want = (existingCols ++ statsCols).distinct
        // footer-lifted like every commit; recompute into a tmp
        // sidecar, then swap atomically
        val footer = FooterStats.collect(spark, MetaIO.join(root),
          MetaIO.join(root, s"v=$sv"), want)
        completeStats(spark, root, sv, want, footer).map { st =>
          val tmp = MetaIO.join(root, s"v=$sv",
            s".stats.new-${java.util.UUID.randomUUID()}")
          st.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
          val target = statsPath(root, sv)
          // drop the old sidecar first, then the exclusive move (on
          // object stores: arbiter-decided copy + delete; racing
          // recomputes lose loudly instead of interleaving files)
          MetaIO.delete(target, recursive = true)
          MetaIO.moveTree(tmp, target)
          sv
        }
      }
    }
  }

  /** Root-relative DATA files under the given (relative dir, storage
    * version) entries, DESCENDING into partition subdirectories — an
    * unmanifested PARTITIONED snapshot keeps its parquet under
    * `v=N/part=.../`, which a flat listing would miss (making every
    * coverage check silently fail table-wide). The raw FS names the
    * sidecars' decoded `_file` values compare against. */
  private def candidateDataFiles(root: String,
                                 dirs: Seq[(String, Long)]): Set[String] =
    dirs.flatMap { case (rel, _) =>
      val d = MetaIO.join(root, rel).toString
      FooterStats.dataFiles(d).map { abs =>
        s"$rel/" + abs.stripPrefix(d).stripPrefix("/")
      }
    }.toSet

  /** MIN/MAX of a column from METADATA — the stats-sidecar twin of
    * [[fastCount]]: folds the recorded per-file bounds over the
    * manifest file listing, touching no data bytes. REFUSES (returns
    * None) when any candidate file lacks recorded bounds for the
    * column or when ANY merge-on-read delete is unapplied — a delete
    * may have removed exactly the extreme row, so bounds from stats
    * would lie (Iceberg's same caveat; fold deletes first). */
  def fastBounds(spark: SparkSession, root: String, column: String,
                 version: Long = -1L): Option[(Any, Any)] = {
    val v = if (version >= 0) version else latestVersion(root)
    require(v >= 0, s"no committed version at $root")
    if (deleteEntries(root, v).nonEmpty ||
      eqDeleteEntries(root, v).nonEmpty) return None
    val entries = manifestEntries(root, v)
    val dirs: Seq[(String, Long)] =
      if (entries.isEmpty) Seq(s"v=$v" -> v)
      else entries.sorted.map { case (p, sv) => s"v=$sv/$p" -> sv }
    val candidates: Set[String] = candidateDataFiles(root, dirs)
    val stats = dirs.map(_._2).distinct.sorted
      .flatMap(fileStats(spark, root, _))
      .filter(st => st.columns.contains(s"${column}__min"))
      .map(_.select(col("_file"), col(s"${column}__min"),
        col(s"${column}__max")).collect().toSeq)
      .flatten
      .map(r => (decodeReportedPath(r.getString(0)), r.get(1), r.get(2)))
      .filter { case (f, _, _) => candidates(f) }
    val covered = stats.map(_._1).toSet
    if (!candidates.forall(covered) || stats.isEmpty) return None
    // all-null files record null bounds — they cannot contribute
    val nonNull = stats.filter(s => s._2 != null && s._3 != null)
    if (nonNull.isEmpty) return None
    implicit val ord: Ordering[Any] = statValueOrdering
    Some((nonNull.map(_._2).min, nonNull.map(_._3).max))
  }

  /** Driver-side ordering over stats-sidecar values, matching Spark's
    * own sort order. Spark orders strings by UTF-8 BYTES
    * (UTF8String.compareTo); Java's compareTo orders UTF-16 code
    * units — they disagree on supplementary-plane characters (a
    * surrogate pair's lead unit 0xD800-0xDBFF sorts below
    * 0xE000-0xFFFF), so driver-side folds must compare the same bytes
    * Spark's min/max recorded. */
  private[graft] val statValueOrdering: Ordering[Any] = new Ordering[Any] {
    def compare(a: Any, b: Any): Int = (a, b) match {
      case (x: String, y: String) =>
        java.util.Arrays.compareUnsigned(
          x.getBytes(java.nio.charset.StandardCharsets.UTF_8),
          y.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      case _ => a.asInstanceOf[Comparable[Any]].compareTo(b)
    }
  }

  /** [[fastBounds]] restricted to an explicit kept-file subset (the
    * runtime filter's metadata tier over a PREDICATE-pruned dim scan):
    * folds the recorded bounds of exactly `files` (root-relative, as
    * [[skippingKept]] reports them). Sound as a key-domain superset —
    * the kept files hold every row the pruned scan can produce.
    * Refuses (None) on any coverage gap or unapplied MoR delete. */
  private[graft] def fastBoundsFiles(spark: SparkSession, root: String,
                                     column: String, version: Long,
                                     files: Seq[String])
      : Option[(Any, Any)] = {
    if (files.isEmpty) return None
    if (deleteEntries(root, version).nonEmpty ||
        eqDeleteEntries(root, version).nonEmpty) return None
    val svs = files.map(f =>
      f.stripPrefix("v=").takeWhile(_.isDigit).toLong).distinct.sorted
    val want = files.toSet
    val stats = svs.flatMap(fileStats(spark, root, _))
      .filter(st => st.columns.contains(s"${column}__min"))
      .flatMap(_.select(col("_file"), col(s"${column}__min"),
        col(s"${column}__max")).collect())
      .map(r => (decodeReportedPath(r.getString(0)), r.get(1), r.get(2)))
      .filter { case (f, _, _) => want(f) }
    if (stats.map(_._1).toSet != want) return None
    val nonNull = stats.filter(s => s._2 != null && s._3 != null)
    if (nonNull.isEmpty) return None
    implicit val ord: Ordering[Any] = statValueOrdering
    Some((nonNull.map(_._2).min, nonNull.map(_._3).max))
  }

  /** A stats-sidecar value on a NUMERIC measuring stick (for sizing
    * gaps between ranges — ordering alone cannot say which of two
    * gaps is smaller). None for immeasurable types (strings). */
  private def statValueMeasure(v: Any): Option[Double] = v match {
    case n: java.lang.Number => Some(n.doubleValue())
    case d: java.sql.Date => Some(d.toLocalDate.toEpochDay.toDouble)
    case d: java.time.LocalDate => Some(d.toEpochDay.toDouble)
    case t: java.sql.Timestamp => Some(t.getTime.toDouble)
    case i: java.time.Instant => Some(i.toEpochMilli.toDouble)
    case dt: java.time.LocalDateTime =>
      Some(dt.toEpochSecond(java.time.ZoneOffset.UTC).toDouble * 1e6 +
        dt.getNano / 1000)
    case b: java.math.BigDecimal => Some(b.doubleValue())
    case _ => None
  }

  /** [[fastBoundsFiles]] refined to a UNION OF RANGES: the per-file
    * bounds of `column` over exactly `files`, merged by overlap into
    * at most `maxRanges` disjoint ascending [lo, hi] ranges — a
    * multi-modal key domain (two clusters at opposite ends of the
    * type) yields the clusters instead of one envelope that prunes
    * nothing between them. Same refusal discipline as
    * [[fastBoundsFiles]] (coverage gap, unapplied MoR deletes);
    * all-null files contribute no range. Over the cap, ranges merge
    * across the SMALLEST value gaps (keeping the `maxRanges − 1`
    * widest gaps as separators — strictly tighter than the envelope
    * at every cap); immeasurable gap types (strings) collapse to the
    * envelope. */
  private[graft] def fastBoundsRangesFiles(spark: SparkSession,
                                           root: String, column: String,
                                           version: Long,
                                           files: Seq[String],
                                           maxRanges: Int = 8)
      : Option[Seq[(Any, Any)]] = {
    if (files.isEmpty || maxRanges < 1) return None
    if (deleteEntries(root, version).nonEmpty ||
        eqDeleteEntries(root, version).nonEmpty) return None
    val svs = files.map(f =>
      f.stripPrefix("v=").takeWhile(_.isDigit).toLong).distinct.sorted
    val want = files.toSet
    val stats = svs.flatMap(fileStats(spark, root, _))
      .filter(st => st.columns.contains(s"${column}__min"))
      .flatMap(_.select(col("_file"), col(s"${column}__min"),
        col(s"${column}__max")).collect())
      .map(r => (decodeReportedPath(r.getString(0)), r.get(1), r.get(2)))
      .filter { case (f, _, _) => want(f) }
    if (stats.map(_._1).toSet != want) return None
    val nonNull = stats.filter(s => s._2 != null && s._3 != null)
    if (nonNull.isEmpty) return None
    val ord = statValueOrdering
    val sorted = nonNull.map(s => (s._2, s._3)).sortWith {
      (a, b) => ord.lt(a._1, b._1)
    }
    // merge overlaps: ranges sorted by lo, the next merges in when
    // its lo sits at or under the running hi
    val merged = sorted.tail.foldLeft(Vector(sorted.head)) {
      case (acc, (lo, hi)) =>
        val (clo, chi) = acc.last
        if (ord.lteq(lo, chi))
          acc.init :+ ((clo, if (ord.gt(hi, chi)) hi else chi))
        else acc :+ ((lo, hi))
    }
    if (merged.size <= maxRanges) return Some(merged)
    // over cap: keep the maxRanges−1 widest gaps as separators
    val gapSizes = (1 until merged.size).map { i =>
      for {
        a <- statValueMeasure(merged(i - 1)._2)
        b <- statValueMeasure(merged(i)._1)
      } yield (i, b - a)
    }
    if (gapSizes.exists(_.isEmpty)) // immeasurable: envelope only
      return Some(Seq((merged.head._1, merged.last._2)))
    val separators = gapSizes.flatten.sortBy(-_._2)
      .take(maxRanges - 1).map(_._1).sorted
    val groups = (Seq(0) ++ separators ++ Seq(merged.size)).sliding(2)
      .map { case Seq(a, b) => (merged(a)._1, merged(b - 1)._2) }
      .toSeq
    Some(groups)
  }

  /** [[fastBoundsRangesFiles]] over ALL of version `v`'s live data
    * files (what the whole-table [[fastBounds]] is to
    * [[fastBoundsFiles]]), MEMOIZED per (root, version, column,
    * maxRanges) — the runtime-filter rule consults this at plan time
    * on every star-join query, and the sidecar collect must be paid
    * once, not per plan (the [[fastBoundsCached]] discipline: compute
    * OUTSIDE the map, never hold a CHM bin lock through a Spark
    * job). */
  private[graft] def fastBoundsRanges(spark: SparkSession, root: String,
                                      column: String, version: Long = -1L,
                                      maxRanges: Int = 8)
      : Option[Seq[(Any, Any)]] = {
    val v = if (version >= 0) version else latestVersion(root)
    if (v < 0) return None
    if (fastRangesCache.size > 1024) fastRangesCache.clear()
    val key = (MetaIO.join(root).toString, v, column, maxRanges)
    val cached = fastRangesCache.get(key)
    if (cached != null) return cached
    val computed: Option[Seq[(Any, Any)]] = {
      val entries = manifestEntries(root, v)
      val dirs: Seq[(String, Long)] =
        if (entries.isEmpty) Seq(s"v=$v" -> v)
        else entries.sorted.map { case (p, sv) => s"v=$sv/$p" -> sv }
      fastBoundsRangesFiles(spark, root, column, v,
        candidateDataFiles(root, dirs).toSeq, maxRanges)
    }
    val prev = fastRangesCache.putIfAbsent(key, computed)
    if (prev != null) prev else computed
  }

  private val fastRangesCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, String, Int),
      Option[Seq[(Any, Any)]]]

  /** `COUNT(*)` from METADATA — the Iceberg manifests-only count: sums
    * the per-file `__rows` the stats sidecars record at write time and
    * subtracts live position-delete rows, touching no data bytes for
    * any file with recorded stats (files written before counts existed
    * fall back to one scan over JUST those files). Equality-delete
    * sidecars cannot be resolved without reading keys, so their
    * presence falls back to the full resolved count — run
    * [[applyDeletes]] on the maintenance cadence to restore the
    * metadata path. */
  def fastCount(spark: SparkSession, root: String,
                version: Long = -1L): Long =
    fastCountMeta(spark, root, version).getOrElse {
      val v = if (version >= 0) version else latestVersion(root)
      // equality deletes need key matching (data), and files without
      // recorded counts need their own scan — [[fastCountMeta]]
      // declined, so fall back through the resolving read / partial
      // scan paths below
      if (eqDeleteEntries(root, v).nonEmpty) read(spark, root, v).count()
      else fastCountFallback(spark, root, v)
    }

  /** The STRICTLY metadata-only count: Some(n) iff no equality-delete
    * sidecar is live and every candidate file carries a recorded
    * `__rows` (position deletes subtract from their tiny sidecars —
    * still metadata-class). None means answering needs data bytes —
    * callers that only want the free answer (e.g. the connector's
    * aggregate pushdown, which must not run scans at PLANNING time)
    * decline instead of falling back. */
  def fastCountMeta(spark: SparkSession, root: String,
                    version: Long = -1L): Option[Long] = {
    val v = if (version >= 0) version else latestVersion(root)
    require(v >= 0, s"no committed version at $root")
    if (eqDeleteEntries(root, v).nonEmpty) return None
    val (candidates, counted) = countedFiles(spark, root, v)
    if (!candidates.forall(counted.contains)) return None
    Some(candidates.map(counted).sum - deletedRows(spark, root, v,
      candidates.toSet))
  }

  private def fastCountFallback(spark: SparkSession, root: String,
                                v: Long): Long = {
    val (candidates, counted) = countedFiles(spark, root, v)
    val (known, unknown) = candidates.partition(counted.contains)
    val base = known.map(counted).sum + (
      if (unknown.isEmpty) 0L
      else spark.read.parquet(unknown.map(f => s"$root/$f"): _*).count())
    base - deletedRows(spark, root, v, candidates.toSet)
  }

  /** Total bytes of version `v`'s live data files — the planner-
    * statistics size (one metadata walk; `MetaIO.size` per candidate).
    * Catalyst's auto-broadcast threshold compares against THIS, so a
    * relation that reports it gets broadcast joins for free where the
    * default (a huge placeholder) forces sort-merge. */
  def dataSizeBytes(root: String, version: Long = -1L): Long = {
    val v = if (version >= 0) version else latestVersion(root)
    require(v >= 0, s"no committed version at $root")
    val entries = manifestEntries(root, v)
    val dirs: Seq[String] =
      if (entries.isEmpty) Seq(s"v=$v")
      else entries.sorted.map { case (p, sv) => s"v=$sv/$p" }
    dirs.flatMap { rel =>
      MetaIO.list(MetaIO.join(root, rel))
        .filterNot(p => MetaIO.name(p).startsWith("_") ||
          MetaIO.name(p).startsWith("."))
        .filterNot(MetaIO.isDir(_))
        .map(MetaIO.size)
    }.sum
  }

  /** (every candidate data file of version `v`, the recorded per-file
    * row counts) — the shared metadata walk of the count paths. */
  private def countedFiles(spark: SparkSession, root: String,
                           v: Long): (Seq[String], Map[String, Long]) = {
    val entries = manifestEntries(root, v)
    val dirs: Seq[(String, Long)] =
      if (entries.isEmpty) Seq(s"v=$v" -> v)
      else entries.sorted.map { case (p, sv) => s"v=$sv/$p" -> sv }
    // every candidate data file of the read, root-relative
    val candidates: Seq[String] = dirs.flatMap { case (rel, _) =>
      val d = MetaIO.join(root, rel)
      MetaIO.listNames(d)
        .filterNot(n => n.startsWith("_") || n.startsWith("."))
        .filterNot(n => MetaIO.isDir(MetaIO.join(root, rel, n)))
        .map(n => s"$rel/$n")
    }
    // stats paths are Spark-reported (URI-encoded) — decode them to
    // the raw filesystem form the candidate listing uses
    val counted: Map[String, Long] = dirs.map(_._2).distinct.sorted
      .flatMap(fileStats(spark, root, _))
      .filter(_.columns.contains("__rows"))
      .map(_.select("_file", "__rows").collect()
        .map(r => decodeReportedPath(r.getString(0)) -> r.getLong(1))
        .toMap)
      .foldLeft(Map.empty[String, Long])(_ ++ _)
    (candidates, counted)
  }

  /** Live position-delete rows of version `v` landing in `live` files
    * — subtracted by both count paths (each (file,pos) lands once:
    * stacked deletes anti-join the already-deleted view before
    * committing). The per-file rollup is tiny (a delete set by
    * nature), so the decode runs driver-side. */
  private def deletedRows(spark: SparkSession, root: String, v: Long,
                          live: Set[String]): Long = {
    val dels = deleteEntries(root, v)
    if (dels.isEmpty) 0L
    else readDeleteFiles(spark, root, dels)
      .groupBy(FileCol).count().collect()
      .filter(r => live(decodeReportedPath(r.getString(0))))
      .map(_.getLong(1)).sum
  }

  // ─────────── file-level bloom filters (point-lookup skipping) ───────────
  //
  // Min/max bounds cannot prune a point lookup over UNSORTED data —
  // every file's range spans the whole key space. The table formats
  // answer with per-file bloom filters (parquet's column bloom
  // filters; Iceberg carries them as Puffin sidecars): k hash probes
  // per value into an m-bit set, a file whose filter misses any probe
  // of the literal CANNOT contain it. Same sidecar discipline as the
  // stats: `v=N/_blooms/` rows (_file, column, bits array<long>),
  // built by one aggregation over only the just-written files.
  // Membership is one-sided — a missing filter or a false positive
  // only costs IO, never correctness.

  /** Bloom geometry: 8192 bits (128 longs ≈ 1 KB per file per column),
    * 3 probes — ~1-2% false positives at ~1k distinct values/file. */
  private val BloomBits = 8192
  private val BloomWords = BloomBits / 64
  private val BloomK = 3

  private def bloomsPath(root: String, version: Long) =
    MetaIO.join(root, s"v=$version", "_blooms")

  /** The k probe positions of a value, as column expressions — double
    * hashing pos_i = (xxhash64 + i·murmur3) mod m, both seeds Spark's
    * defaults so [[probePositions]] reproduces them driver-side for a
    * literal. Long overflow wraps identically in both places. */
  private def probeCols(c: Column): Seq[Column] =
    (0 until BloomK).map(i =>
      pmod(xxhash64(c) + lit(i.toLong) * hash(c).cast("long"),
        lit(BloomBits.toLong)))

  /** [[probeCols]] at caller-chosen geometry — the dim-key runtime
    * bloom's row-side probe (same double-hash discipline and seeds, so
    * the driver-built filter and the scan's codegen'd probes agree). */
  private[graft] def probeColsAt(c: Column, mBits: Long, k: Int): Seq[Column] =
    (0 until k).map(i =>
      pmod(xxhash64(c) + lit(i.toLong) * hash(c).cast("long"),
        lit(mBits)))

  /** Row-level might-contain over a driver-built bloom (`words` =
    * mBits/64 little-endian longs): true/null only when every probe
    * bit is set — a fact row this refutes cannot equal any key the
    * bloom recorded, so an equi-join would drop it anyway. */
  private[graft] def bloomProbeColumn(c: Column, mBits: Long, k: Int,
                                      words: Seq[Long]): Column = {
    val wordsLit = typedLit(words)
    probeColsAt(c, mBits, k).map { p =>
      (element_at(wordsLit, (p / lit(64L)).cast("int") + lit(1))
        .bitwiseAND(call_function("shiftleft", lit(1L),
          pmod(p, lit(64L)).cast("int")))) =!= lit(0L)
    }.reduce(_ && _)
  }

  /** Driver-side probe positions of a literal CAST TO the column's
    * recorded type (hashing an int literal against a long column would
    * probe the wrong bits and falsely refute — so an uncastable or
    * unknown type yields None and the file is kept). */
  private def probePositions(
      lit0: org.apache.spark.sql.catalyst.expressions.Literal,
      dt: types.DataType): Option[Seq[Int]] =
    literalHashes(lit0, dt).map { case (h1, h2) =>
      (0 until BloomK).map(i =>
        Math.floorMod(h1 + i.toLong * h2, BloomBits.toLong).toInt)
    }

  /** The (xxhash64, murmur3) pair of a literal cast to `dt` — the
    * shared driver-side half of every bloom probe derivation (file
    * sidecars and the runtime dim-key bloom); None when the cast is
    * impossible or yields null. */
  private[graft] def literalHashes(
      lit0: org.apache.spark.sql.catalyst.expressions.Literal,
      dt: types.DataType): Option[(Long, Long)] = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal, Murmur3Hash, XxHash64}
    if (!Cast.canCast(lit0.dataType, dt)) return None
    val casted = Cast(lit0, dt, Some("UTC")).eval(null)
    if (casted == null) return None
    val cl = Literal(casted, dt) // internal-representation constructor
    val h1 = XxHash64(Seq(cl), 42L).eval(null).asInstanceOf[Long]
    val h2 = Murmur3Hash(Seq(cl), 42).eval(null).asInstanceOf[Int].toLong
    Some((h1, h2))
  }

  /** A hashed value's probes at FILE-sidecar geometry, pre-resolved to
    * `[word1, mask1, word2, mask2, word3, mask3]` so the distributed
    * sidecar test is pure array/bit arithmetic. */
  private[graft] def fileBloomProbeWords(h: (Long, Long)): Seq[Long] =
    (0 until BloomK).flatMap { i =>
      val p = Math.floorMod(h._1 + i.toLong * h._2, BloomBits.toLong).toInt
      Seq((p / 64).toLong, 1L << (p % 64))
    }

  /** Candidates minus the files whose bloom sidecar on `column`
    * refutes EVERY probed key (`keyProbes` rows from
    * [[fileBloomProbeWords]]) — the file-level half of a runtime
    * dim-key filter past the IN-set cap: one distributed filter over
    * the tiny sidecar relation, files without a sidecar row kept. */
  private[graft] def bloomKeysKept(spark: SparkSession, root: String,
                                   column: String,
                                   keyProbes: Seq[Seq[Long]],
                                   candidates: Seq[String]): Seq[String] = {
    if (keyProbes.isEmpty || candidates.isEmpty) return candidates
    val statVersions = candidates
      .map(f => f.stripPrefix("v=").takeWhile(_.isDigit).toLong)
      .distinct.sorted
    val blooms = statVersions.flatMap(fileBlooms(spark, root, _))
      .reduceOption(_.unionByName(_))
      .getOrElse(return candidates)
    val mayAny = exists(typedLit(keyProbes), t =>
      (0 until BloomK).map(i =>
        (element_at(col("bits"), element_at(t, i * 2 + 1).cast("int") + 1)
          .bitwiseAND(element_at(t, i * 2 + 2))) =!= lit(0L))
        .reduce(_ && _))
    val refuted = blooms.filter(col("column") === column).filter(!mayAny)
      .select("_file").collect()
      .map(r => decodeReportedPath(r.getString(0))).toSet
    candidates.filterNot(refuted)
  }

  /** Build per-file bloom sidecars for `bloomCols` over version
    * `version`'s freshly-written files — one distributed aggregation
    * per covered column over only the new files (the write's own cost
    * class; a production writer lifts parquet's built-in column bloom
    * filters instead of rescanning). */
  private def bloomFrame(df: DataFrame, present: Seq[String]): DataFrame =
    present.map { c =>
      df.select(input_file_name().as("_file"),
          explode(array(probeCols(col(c)): _*)).as("p"))
        .distinct()
        .groupBy("_file")
        .agg(collect_set(col("p")).as("ps"))
        .select(
          regexp_extract(col("_file"), "(v=\\d+/.*)$", 1).as("_file"),
          lit(c).as("column"),
          expr(s"""transform(sequence(0L, ${BloomWords - 1}L),
            w -> aggregate(filter(ps, p -> p div 64 = w), 0L,
              (acc, p) -> acc | shiftleft(1L, cast(p % 64 as int))))""")
            .as("bits"))
    }.reduce(_.unionByName(_))

  private def recordFileBlooms(spark: SparkSession, root: String,
                               version: Long, bloomCols: Seq[String]): Unit = {
    if (bloomCols.isEmpty) return
    val df = spark.read.parquet(s"$root/v=$version")
    val present = bloomCols.filter(df.columns.contains)
    if (present.isEmpty) return
    bloomFrame(df, present)
      .coalesce(1)
      .write.mode("overwrite").parquet(bloomsPath(root, version).toString)
  }

  /** BACKFILL bloom sidecars for files that already exist — the
    * point-lookup twin of [[collectStats]]: pre-bloom tables gain
    * per-(file, column) filters without rewriting data, turning on
    * equality/IN file pruning on hash/unsorted layouts where min/max
    * bounds refute nothing. Same contract: one scan per uncovered
    * storage version, idempotent, existing columns preserved, atomic
    * sidecar swap. Returns the storage versions recomputed. */
  def collectBlooms(spark: SparkSession, root: String,
                    bloomCols: Seq[String], version: Long = -1L): Seq[Long] = {
    require(bloomCols.nonEmpty, "collectBlooms needs at least one column")
    val v = if (version >= 0) version else latestVersion(root)
    require(v >= 0, s"no committed version at $root")
    val storageVersions = {
      val m = manifestEntries(root, v)
      if (m.isEmpty) Seq(v) else m.map(_._2).distinct.sorted
    }
    storageVersions.flatMap { sv =>
      val existing: Seq[String] = fileBlooms(spark, root, sv)
        .map(_.select("column").distinct()
          .collect().map(_.getString(0)).toSeq)
        .getOrElse(Seq.empty)
      if (fileBlooms(spark, root, sv).isDefined &&
          bloomCols.forall(existing.contains)) None
      else {
        val df = spark.read.parquet(s"$root/v=$sv")
        val present = (existing ++ bloomCols).distinct
          .filter(df.columns.contains)
        if (present.isEmpty) None
        else {
          val tmp = MetaIO.join(root, s"v=$sv",
            s".blooms.new-${java.util.UUID.randomUUID()}")
          bloomFrame(df, present).coalesce(1)
            .write.mode("overwrite").parquet(tmp.toString)
          val target = bloomsPath(root, sv)
          MetaIO.delete(target, recursive = true)
          MetaIO.moveTree(tmp, target)
          Some(sv)
        }
      }
    }
  }

  /** The recorded per-file bloom filters of a storage version (None
    * when it carries none). */
  def fileBlooms(spark: SparkSession, root: String,
                 version: Long): Option[DataFrame] =
    if (MetaIO.exists(bloomsPath(root, version)))
      Some(spark.read.parquet(bloomsPath(root, version).toString))
    else None

  /** Columns with recorded bloom filters in ANY storage version
    * `version` references — the `bloom.columns` inspection property
    * (one tiny sidecar scan per referenced version). */
  def bloomCoverage(root: String, version: Long = -1L): Seq[String] = {
    val v = if (version >= 0) version else latestVersion(root)
    if (v < 0) return Seq.empty
    val svs = manifestEntries(root, v).map(_._2).distinct match {
      case Seq() => Seq(v)
      case s => s
    }
    svs.flatMap(sv => fileBlooms(SparkSession.active, root, sv))
      .flatMap(_.select("column").distinct().collect().map(_.getString(0)))
      .distinct.sorted
  }

  /** Files DEFINITELY not containing any of the predicate's equality
    * literals, per its top-level conjuncts of shape `c = lit` /
    * `c IN (lits)` over bloom-covered columns. A file is refuted by a
    * conjunct iff for EVERY literal some probe bit is clear; files
    * without a filter row for the column are never refuted. */
  private def bloomRefuted(spark: SparkSession, root: String, v: Long,
                           statVersions: Seq[Long],
                           parsed: org.apache.spark.sql.catalyst.expressions.Expression): Set[String] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{And, EqualTo, In, Literal => CLit}
    val blooms = statVersions
      .flatMap(fileBlooms(spark, root, _))
      .reduceOption(_.unionByName(_))
      .getOrElse(return Set.empty)
    val schema: Option[types.StructType] =
      Some(recordedSchema(root, v).getOrElse(read(spark, root, v).schema))
    def conjuncts(e: org.apache.spark.sql.catalyst.expressions.Expression):
        Seq[org.apache.spark.sql.catalyst.expressions.Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    val eqLeaves: Seq[(String, Seq[CLit])] = conjuncts(parsed).collect {
      case EqualTo(a: UnresolvedAttribute, l: CLit) =>
        a.nameParts.last -> Seq(l)
      case EqualTo(l: CLit, a: UnresolvedAttribute) =>
        a.nameParts.last -> Seq(l)
      case In(a: UnresolvedAttribute, ls) if ls.forall(_.isInstanceOf[CLit]) =>
        a.nameParts.last -> ls.map(_.asInstanceOf[CLit])
    }
    eqLeaves.flatMap { case (c, lits) =>
      val dtOpt = schema.flatMap(_.fields.find(_.name == c)).map(_.dataType)
      val probes = dtOpt.map(dt => lits.map(probePositions(_, dt)))
      probes match {
        case Some(ps) if ps.forall(_.isDefined) =>
          // "may contain literal l" = all k probe bits set
          val mayAny = ps.flatten.map(pos =>
            pos.map(p => (element_at(col("bits"), p / 64 + 1)
              .bitwiseAND(lit(1L << (p % 64)))) =!= lit(0L))
              .reduce(_ && _)).reduce(_ || _)
          blooms.filter(col("column") === c).filter(!mayAny)
            .select("_file").collect().map(_.getString(0)).toSeq
        case _ => Seq.empty // unknown type / uncastable literal: keep
      }
    }.toSet
  }

  /** Candidate files refuted by their TRANSFORM partition value alone —
    * hidden partitioning's read half: a predicate on the SOURCE column
    * prunes derived directories without the query ever naming the
    * layout. A `days` / integral-`truncate` directory value is a
    * [lo, hi] BOUND on the source column and refutes through
    * [[boundsSql]] (evaluated over a tiny driver-built (file, bounds)
    * relation — the same metadata cost class as the stats path);
    * `bucket` / string-`truncate` directories refute top-level
    * equality/IN conjuncts by recomputing the transform of each
    * literal driver-side, cast to the column's recorded type first
    * (the [[probePositions]] discipline — hashing an int literal
    * against a long column would bucket differently and falsely
    * refute). Identity fields prune as exact [v, v] bounds — classic
    * partition pruning, applied at the manifest file listing so the
    * explicit-file scan never reads a refuted directory. Null
    * partitions (`__HIVE_DEFAULT_PARTITION__`) and
    * unresolvable values always keep — refutation-only, never an
    * answer change. */
  private def transformRefuted(spark: SparkSession, root: String, v: Long,
      candidates: Seq[String],
      parsed: org.apache.spark.sql.catalyst.expressions.Expression)
      : Set[String] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{And, Cast, EqualTo, In, Murmur3Hash, Literal => CLit}
    def svOf(f: String): Long = f.stripPrefix("v=").takeWhile(_.isDigit).toLong
    // one (field, files) task per era × spec field — each field of a
    // multi-column spec refutes independently. Identity fields prune
    // too: their directory value is an exact [v, v] bound on the data
    // column (classic partition pruning, done here at the manifest
    // file listing).
    val transforms = candidates.groupBy(f => partitionSpecAt(root, svOf(f)))
      .toSeq.flatMap { case (specOpt, fs) =>
        specOpt.toSeq.flatMap(parseSpecs).map(_ -> fs)
      }
    if (transforms.isEmpty) return Set.empty
    lazy val schema: types.StructType =
      recordedSchema(root, v).getOrElse(read(spark, root, v).schema)
    def conjuncts(e: org.apache.spark.sql.catalyst.expressions.Expression):
        Seq[org.apache.spark.sql.catalyst.expressions.Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    // `keep ⇔ bounds cannot refute` over a driver-built stats-shaped
    // relation (file, src__min, src__max)
    def refuteBounds(src: String, rows: Seq[(String, String)],
                     lo: Column, hi: Column): Seq[String] = {
      if (rows.isEmpty) return Seq.empty
      import spark.implicits._
      val st = rows.toDF("_file", "_pv")
        .select(col("_file"), lo.as(s"${src}__min"), hi.as(s"${src}__max"))
      val keepSql = boundsSql(parsed, Set(src).contains)
      st.filter(not(coalesce(expr(keepSql), lit(true))))
        .select("_file").collect().map(_.getString(0)).toSeq
    }
    // equality/IN conjuncts on `src`, as literal groups (one group per
    // conjunct — EACH conjunct may independently refute)
    def eqLiteralGroups(src: String): Seq[Seq[CLit]] =
      conjuncts(parsed).collect {
        case EqualTo(a: UnresolvedAttribute, l: CLit)
          if a.nameParts.last == src => Seq(l)
        case EqualTo(l: CLit, a: UnresolvedAttribute)
          if a.nameParts.last == src => Seq(l)
        case In(a: UnresolvedAttribute, ls)
          if a.nameParts.last == src &&
            ls.forall(_.isInstanceOf[CLit]) =>
          ls.map(_.asInstanceOf[CLit])
      }
    def castLit(l: CLit, dt: types.DataType): Option[Any] = {
      if (!Cast.canCast(l.dataType, dt)) return None
      Option(Cast(l, dt, Some("UTC")).eval(null))
    }
    transforms.toSeq.flatMap { case (ps, fs) =>
      val dtOpt = schema.fields.find(_.name == ps.source).map(_.dataType)
      dtOpt.toSeq.flatMap { dt =>
        val vals: Seq[(String, String)] = fs.flatMap { f =>
          f.split("/").find(_.startsWith(ps.field + "="))
            .map(seg => f -> unescapePathValue(seg.drop(ps.field.length + 1)))
        }.filterNot(_._2 == "__HIVE_DEFAULT_PARTITION__")
        (ps, specBoundExprs(ps, dt)) match {
          case (ps0, Some((lo, hi))) =>
            // identity / days / int-truncate: the dir value is an
            // exact [lo, hi] range of the source column
            refuteBounds(ps0.source, vals, lo, hi)
          case (TruncateSpec(w, src), _) => // string truncate: eq only
            eqLiteralGroups(src).flatMap { lits =>
              val allowed =
                lits.map(castLit(_, dt).map(u =>
                  truncateLiteral(u.toString, w)))
              if (allowed.exists(_.isEmpty)) Seq.empty
              else {
                val as = allowed.flatten.toSet
                vals.filterNot { case (_, pv) => as.contains(pv) }.map(_._1)
              }
            }
          case (BucketSpec(n, src), _) => // bucket: equality only
            eqLiteralGroups(src).flatMap { lits =>
              val allowed = lits.map(l => castLit(l, dt).map { _ =>
                val cl = CLit(Cast(l, dt, Some("UTC")).eval(null), dt)
                val h = Murmur3Hash(Seq(cl), 42).eval(null)
                  .asInstanceOf[Int]
                Math.floorMod(h, n).toString
              })
              if (allowed.exists(_.isEmpty)) Seq.empty
              else {
                val as = allowed.flatten.toSet
                vals.filterNot { case (_, pv) => as.contains(pv) }.map(_._1)
              }
            }
          case _ => Seq.empty
        }
      }
    }.toSet
  }

  /** Truncate a string-truncate PROBE literal the way the write side
    * derives the directory value — by CODE POINTS, matching Spark's
    * `substring` (String.take counts UTF-16 units: a supplementary-
    * plane character would make the two prefixes differ and falsely
    * refute a file that actually matches). */
  private[graft] def truncateLiteral(s: String, w: Int): String =
    s.substring(0, s.offsetByCodePoints(0,
      math.min(w, s.codePointCount(0, s.length))))

  /** Rewrite a row predicate into its file-BOUNDS test over the stats
    * columns (`c__min`/`c__max`): true ⇔ the file's bounds CANNOT
    * refute the predicate. Only the monotone fragment prunes —
    * comparisons and IN between a column and literals, composed with
    * AND/OR; anything else (LIKE, IS NULL, expressions over columns,
    * uncovered columns) conservatively keeps the file. NULL bounds
    * (all-null file, missing stats column) also keep — `coalesce(...,
    * true)` at every leaf. */
  private def boundsSql(e: org.apache.spark.sql.catalyst.expressions.Expression,
                        covered: String => Boolean): String = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions._
    def leaf(a: UnresolvedAttribute, side: String, op: String,
             l: Literal): String = {
      val c = a.nameParts.last
      if (!covered(c)) "true"
      else s"coalesce(`${c}__$side` $op ${l.sql}, true)"
    }
    def eq(a: UnresolvedAttribute, l: Literal): String = {
      val c = a.nameParts.last
      if (!covered(c)) "true"
      else s"(coalesce(`${c}__min` <= ${l.sql}, true) AND " +
        s"coalesce(`${c}__max` >= ${l.sql}, true))"
    }
    e match {
      case And(l, r) => s"(${boundsSql(l, covered)} AND ${boundsSql(r, covered)})"
      case Or(l, r) => s"(${boundsSql(l, covered)} OR ${boundsSql(r, covered)})"
      case GreaterThan(a: UnresolvedAttribute, l: Literal) => leaf(a, "max", ">", l)
      case GreaterThan(l: Literal, a: UnresolvedAttribute) => leaf(a, "min", "<", l)
      case GreaterThanOrEqual(a: UnresolvedAttribute, l: Literal) => leaf(a, "max", ">=", l)
      case GreaterThanOrEqual(l: Literal, a: UnresolvedAttribute) => leaf(a, "min", "<=", l)
      case LessThan(a: UnresolvedAttribute, l: Literal) => leaf(a, "min", "<", l)
      case LessThan(l: Literal, a: UnresolvedAttribute) => leaf(a, "max", ">", l)
      case LessThanOrEqual(a: UnresolvedAttribute, l: Literal) => leaf(a, "min", "<=", l)
      case LessThanOrEqual(l: Literal, a: UnresolvedAttribute) => leaf(a, "max", ">=", l)
      case EqualTo(a: UnresolvedAttribute, l: Literal) => eq(a, l)
      case EqualTo(l: Literal, a: UnresolvedAttribute) => eq(a, l)
      case In(a: UnresolvedAttribute, vs) if vs.forall(_.isInstanceOf[Literal]) =>
        vs.map(v => eq(a, v.asInstanceOf[Literal])).mkString("(", " OR ", ")")
      case _ => "true"
    }
  }

  /** [[read]] + `.filter(predicate)`, with manifest-stats FILE SKIPPING:
    * files whose recorded bounds refute the predicate never reach the
    * scan (`result.inputFiles` shows the pruned list). Answer-identical
    * to the unpruned read by construction — bounds only ever refute,
    * the surviving files still run the full row filter, and files
    * without stats are kept. The predicate is a SQL boolean expression
    * (e.g. `"price > 4000 AND product_id = 'p1'"`); driver-side work is
    * one walk of the referenced partition dirs (the same metadata cost
    * every manifest read pays) plus a filter over the tiny stats
    * relation. */
  def readSkipping(spark: SparkSession, root: String, predicate: String,
                   version: Long = -1L): DataFrame = {
    val v = if (version >= 0) version else latestVersion(root)
    require(v >= 0, s"no committed version at $root")
    scanKeptFiles(spark, root, v, skippingKept(spark, root, predicate, v),
      Some(expr(predicate)))
  }

  /** The file-skipping half of [[readSkipping]]: the root-relative data
    * files of version `v` the predicate cannot refute. Exposed so the
    * connector can compute the kept set ONCE at planning time — its
    * post-pruning byte total is the planner statistic (a selective scan
    * of a big table becomes broadcast-joinable) and the same list feeds
    * the physical scan via [[readKept]]. */
  private[graft] def skippingKept(spark: SparkSession, root: String,
                                  predicate: String, version: Long = -1L)
      : Seq[String] = {
    val v = if (version >= 0) version else latestVersion(root)
    require(v >= 0, s"no committed version at $root")
    val entries = manifestEntries(root, v)
    // (relative dir, storage version) pairs the read would scan
    val dirs: Seq[(String, Long)] =
      if (entries.isEmpty) Seq(s"v=$v" -> v)
      else entries.sorted.map { case (part, sv) => s"v=$sv/$part" -> sv }
    val candidates: Seq[String] = dirs.flatMap { case (rel, _) =>
      val d = MetaIO.join(root, rel)
      MetaIO.listNames(d)
        .filterNot(n => n.startsWith("_") || n.startsWith("."))
        .filterNot(n => MetaIO.isDir(MetaIO.join(root, rel, n)))
        .map(n => s"$rel/$n")
    }
    val statVersions = dirs.map(_._2).distinct.sorted
    val parsed = spark.sessionState.sqlParser.parseExpression(predicate)
    val stats = statVersions.flatMap(fileStats(spark, root, _))
      .reduceOption((a, b) => a.unionByName(b, allowMissingColumns = true))
    val boundsRefuted: Set[String] = stats match {
      case None => Set.empty
      case Some(st) =>
        val coveredCols = st.columns.filter(_.endsWith("__min"))
          .map(_.stripSuffix("__min")).toSet
        val keepSql = boundsSql(parsed, coveredCols.contains)
        // definitely-refutable files only: NULL/missing bounds keep
        st.filter(not(coalesce(expr(keepSql), lit(true))))
          .select("_file").collect().map(_.getString(0)).toSet
    }
    // bloom filters refute the equality/IN conjuncts bounds cannot
    // (point lookups over unsorted data); transform partition values
    // refute through the source column's predicate — hidden
    // partitioning's read half. Stats/bloom refutations carry
    // Spark-reported (URI-encoded) paths — decode them to the raw
    // filesystem form the candidate listing uses (transform
    // refutations are candidate paths already).
    val refuted = (boundsRefuted ++
      bloomRefuted(spark, root, v, statVersions, parsed))
      .map(decodeReportedPath) ++
      transformRefuted(spark, root, v, candidates, parsed)
    candidates.filterNot(refuted)
  }

  /** Scan exactly `kept` (as produced by [[skippingKept]]) and apply
    * the row predicate above — the physical half of [[readSkipping]],
    * callable separately so a planner that already paid for the kept
    * set does not prune twice. */
  private[graft] def readKept(spark: SparkSession, root: String, v: Long,
                              kept: Seq[String], predicate: String)
      : DataFrame =
    scanKeptFiles(spark, root, v, kept, Some(expr(predicate)))

  /** Total bytes of `kept` root-relative data files — the post-pruning
    * planner statistic. */
  private[graft] def keptBytes(root: String, kept: Seq[String]): Long =
    kept.map { f =>
      val p = MetaIO.join(root, f)
      if (MetaIO.exists(p)) MetaIO.size(p) else 0L
    }.sum

  /** LIMIT-driven file pruning (the connector's `SupportsPushDownLimit`
    * target): a scan over the FEWEST recorded-count files whose row
    * total guarantees `minRows` (largest files first), or the plain
    * read when the guarantee is unreachable. Sound because any file
    * subset is a superset of some valid LIMIT answer once its
    * GUARANTEED total reaches `minRows`: uncounted files contribute no
    * guarantee (they are dropped only when the counted subset already
    * covers), any live MoR delete sidecar disables pruning entirely (a
    * delete may hollow out any file), and the caller re-applies its own
    * LIMIT above the scan. */
  def readLimit(spark: SparkSession, root: String, minRows: Long,
                version: Long = -1L): DataFrame = {
    val v = if (version >= 0) version else latestVersion(root)
    require(v >= 0, s"no committed version at $root")
    if (minRows <= 0 || deleteEntries(root, v).nonEmpty ||
        eqDeleteEntries(root, v).nonEmpty)
      return read(spark, root, v)
    val (candidates, counted) = countedFiles(spark, root, v)
    val known = candidates.filter(counted.contains)
      .sortBy(f => (-counted(f), f))
    var sum = 0L
    val taken = known.takeWhile { f =>
      val need = sum < minRows; if (need) sum += counted(f); need
    }
    if (sum < minRows || taken.size >= candidates.size)
      read(spark, root, v)
    else scanKeptFiles(spark, root, v, taken, None)
  }

  /** Exact value range of a partition DIRECTORY value (`_pv`, string)
    * for order-preserving transforms: identity (lo = hi = the value),
    * days (the day's first/last instant, zone-free UTC derivation
    * mirroring the write side), integral truncate ([t, t+w-1]). None
    * for hash and string-truncate transforms — their dir value bounds
    * nothing usable here. */
  private def specBoundExprs(ps: PartSpec, dt: types.DataType)
      : Option[(Column, Column)] = ps match {
    case IdentitySpec(_) =>
      val v0 = col("_pv").cast(dt); Some((v0, v0))
    case DaysSpec(_) => dt match {
      case types.TimestampType =>
        // mirror the UTC write-side derivation: the directory day `d`
        // covers instants [d*86400e6, (d+1)*86400e6) micros —
        // zone-free, so a reader session in any time zone
        // reconstructs the writer's bounds exactly
        val dayMicros = "cast(datediff(cast(_pv as date), " +
          "DATE'1970-01-01') as bigint) * 86400000000L"
        Some((expr(s"timestamp_micros($dayMicros)"),
          expr(s"timestamp_micros($dayMicros + 86399999999L)")))
      case _ =>
        val lo = col("_pv").cast(types.DateType).cast(dt)
        val hi = dt match {
          case types.DateType => lo
          case _ => expr("timestampadd(MICROSECOND, -1, " +
            "timestampadd(DAY, 1, cast(cast(_pv as date) as " +
            "timestamp_ntz)))").cast(dt)
        }
        Some((lo, hi))
    }
    case TruncateSpec(w, _) if !dt.isInstanceOf[types.StringType] =>
      Some((col("_pv").cast(types.LongType).cast(dt),
        (col("_pv").cast(types.LongType) + lit(w.toLong - 1)).cast(dt)))
    case _ => None
  }

  /** Per-file pruning metadata for [[topNKept]]: row counts plus, per
    * requested column, (lo, hi) bounds and null counts. Each piece is
    * sourced from the `_stats`/`_ndv` sidecars first, then DERIVED
    * from the file's partition directory where the layout proves it
    * exactly: identity/days/int-truncate dir values are exact value
    * ranges of the source column ([[specBoundExprs]]); those
    * transforms map a null source to the null directory, so a valued
    * dir proves ZERO source nulls and the null directory proves the
    * file all-null (bucket hashes null into a valued dir — proves
    * nothing). A `days(ts)`-partitioned serving table therefore
    * TopN-prunes to its trailing partitions with no stats/ndv
    * coverage of `ts` at all — partition values are consulted
    * whenever the sidecars come up short. */
  private final case class TopNColMeta(lo: Any, hi: Any,
                                       boundsKnown: Boolean,
                                       nulls: Option[Long])
  private final case class TopNMeta(rows: Map[String, Long],
      cols: Map[(String, String), TopNColMeta])

  private def topNFileMeta(spark: SparkSession, root: String, version: Long,
                           dirs: Seq[(String, Long)],
                           candidates: Set[String], cols: Seq[String],
                           tableSchema: () => types.StructType)
      : TopNMeta = {
    val svs = dirs.map(_._2).distinct.sorted
    // ONE collect per sidecar frame, grabbing _file + __rows + every
    // requested column's pieces at once — the naive per-(frame ×
    // column) selects multiply tiny plan-time jobs on the serving
    // path (the very overhead TopN pruning is meant to shrink)
    val statFrames = svs.flatMap(fileStats(spark, root, _))
    var rows = Map.empty[String, Long]
    var sideBounds = Map.empty[(String, String), (Any, Any)]
    statFrames.foreach { st =>
      val present = cols.filter(c => st.columns.contains(s"${c}__min"))
      val hasRows = st.columns.contains("__rows")
      if (hasRows || present.nonEmpty) {
        val sel = col("_file") +:
          ((if (hasRows) Seq(col("__rows")) else Nil) ++
            present.flatMap(c =>
              Seq(col(s"${c}__min"), col(s"${c}__max"))))
        st.select(sel: _*).collect().foreach { r =>
          val f = decodeReportedPath(r.getString(0))
          var i = 1
          if (hasRows) {
            if (!r.isNullAt(i)) rows += f -> r.getLong(i)
            i += 1
          }
          present.foreach { c =>
            sideBounds += (f, c) -> ((r.get(i), r.get(i + 1)))
            i += 2
          }
        }
      }
    }
    val ndvFrames = svs.flatMap(fileNdv(spark, root, _))
    var sideNulls = Map.empty[(String, String), Long]
    ndvFrames.foreach { nf =>
      val present = cols.filter(c => nf.columns.contains(s"${c}__nulls"))
      if (present.nonEmpty) {
        val sel = col("_file") +: present.map(c => col(s"${c}__nulls"))
        nf.select(sel: _*).collect().foreach { r =>
          val f = decodeReportedPath(r.getString(0))
          present.zipWithIndex.foreach { case (c, i) =>
            if (!r.isNullAt(i + 1)) sideNulls += (f, c) -> r.getLong(i + 1)
          }
        }
      }
    }
    lazy val schema: types.StructType = tableSchema()
    def svOf(f: String): Long =
      f.stripPrefix("v=").takeWhile(_.isDigit).toLong
    val derived =
      scala.collection.mutable.Map.empty[(String, String), TopNColMeta]
    // merge, never overwrite: a column can source several specs (e.g.
    // days(ts),bucket(4,ts)) — keep the strongest piece of each
    def put(key: (String, String), m: TopNColMeta): Unit =
      derived.get(key) match {
        case Some(prev) => derived(key) = TopNColMeta(
          if (prev.boundsKnown) prev.lo else m.lo,
          if (prev.boundsKnown) prev.hi else m.hi,
          prev.boundsKnown || m.boundsKnown,
          prev.nulls.orElse(m.nulls))
        case None => derived(key) = m
      }
    candidates.groupBy(f => partitionSpecAt(root, svOf(f))).foreach {
      case (specOpt, fs) =>
        specOpt.toSeq.flatMap(parseSpecs)
          .filter(ps => cols.contains(ps.source)).foreach { ps =>
            schema.fields.find(_.name == ps.source).map(_.dataType)
              .foreach { dt =>
                val withVal: Seq[(String, String)] = fs.toSeq.flatMap { f =>
                  f.split("/").find(_.startsWith(ps.field + "="))
                    .map(seg => f ->
                      unescapePathValue(seg.drop(ps.field.length + 1)))
                }
                val (nullDir, valued) =
                  withVal.partition(_._2 == "__HIVE_DEFAULT_PARTITION__")
                val provesNulls = ps match {
                  case _: BucketSpec => false // hash(null) = a valued dir
                  case _ => true
                }
                if (provesNulls) nullDir.foreach { case (f, _) =>
                  put((f, ps.source), TopNColMeta(null, null,
                    boundsKnown = true, nulls = rows.get(f)))
                }
                val boundExprs = specBoundExprs(ps, dt)
                if (valued.nonEmpty && (provesNulls || boundExprs.isDefined)) {
                  val ranges: Map[String, (Any, Any)] = boundExprs match {
                    case Some((lo, hi)) =>
                      import spark.implicits._
                      valued.toDF("_file", "_pv")
                        .select(col("_file"), lo.as("lo"), hi.as("hi"))
                        .collect()
                        .map(r => r.getString(0) -> ((r.get(1), r.get(2))))
                        .toMap
                    case None => Map.empty
                  }
                  valued.foreach { case (f, _) =>
                    val rg = ranges.get(f)
                    put((f, ps.source), TopNColMeta(
                      rg.map(_._1).orNull, rg.map(_._2).orNull,
                      boundsKnown = rg.isDefined,
                      nulls = if (provesNulls) Some(0L) else None))
                  }
                }
              }
          }
    }
    val merged = (for { f <- candidates.toSeq; c <- cols } yield {
      val d = derived.get((f, c))
      val sb = sideBounds.get((f, c))
      val nu = sideNulls.get((f, c)).orElse(d.flatMap(_.nulls))
      val (lo, hi, known) = sb match {
        case Some((l, h)) => (l, h, true)
        case None => d.filter(_.boundsKnown)
          .map(m => (m.lo, m.hi, true)).getOrElse((null, null, false))
      }
      (f, c) -> TopNColMeta(lo, hi, known, nu)
    }).toMap
    TopNMeta(rows, merged)
  }

  /** Rewrite a row predicate into its file-stats PROOF test: true ⇔
    * the file's bounds + null counts prove the predicate holds for
    * EVERY row of the file. The dual of [[boundsSql]] (which asks
    * whether the predicate can hold for ANY row): every leaf is
    * `coalesce(..., false)`, so a missing bound, missing null count,
    * or unprovable shape contributes NO proof. Sound, not complete:
    * OR proves when either side proves for all rows, IN only via a
    * constant file (min = max), anything else (NOT, expressions over
    * columns) proves nothing. */
  private def mustSql(e: org.apache.spark.sql.catalyst.expressions.Expression,
                      covered: String => Boolean): String = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions._
    def nn(c: String): String = s"coalesce(`${c}__nulls` = 0, false)"
    def leaf(a: UnresolvedAttribute, test: String => String): String = {
      val c = a.nameParts.last
      if (!covered(c)) "false"
      else s"(coalesce(${test(c)}, false) AND ${nn(c)})"
    }
    def eqTest(c: String, l: Literal): String =
      s"`${c}__min` = ${l.sql} AND `${c}__max` = ${l.sql}"
    e match {
      case And(l, r) =>
        s"(${mustSql(l, covered)} AND ${mustSql(r, covered)})"
      case Or(l, r) =>
        s"(${mustSql(l, covered)} OR ${mustSql(r, covered)})"
      case GreaterThan(a: UnresolvedAttribute, l: Literal) =>
        leaf(a, c => s"`${c}__min` > ${l.sql}")
      case GreaterThan(l: Literal, a: UnresolvedAttribute) =>
        leaf(a, c => s"`${c}__max` < ${l.sql}")
      case GreaterThanOrEqual(a: UnresolvedAttribute, l: Literal) =>
        leaf(a, c => s"`${c}__min` >= ${l.sql}")
      case GreaterThanOrEqual(l: Literal, a: UnresolvedAttribute) =>
        leaf(a, c => s"`${c}__max` <= ${l.sql}")
      case LessThan(a: UnresolvedAttribute, l: Literal) =>
        leaf(a, c => s"`${c}__max` < ${l.sql}")
      case LessThan(l: Literal, a: UnresolvedAttribute) =>
        leaf(a, c => s"`${c}__min` > ${l.sql}")
      case LessThanOrEqual(a: UnresolvedAttribute, l: Literal) =>
        leaf(a, c => s"`${c}__max` <= ${l.sql}")
      case LessThanOrEqual(l: Literal, a: UnresolvedAttribute) =>
        leaf(a, c => s"`${c}__min` >= ${l.sql}")
      case EqualTo(a: UnresolvedAttribute, l: Literal) =>
        leaf(a, c => eqTest(c, l))
      case EqualTo(l: Literal, a: UnresolvedAttribute) =>
        leaf(a, c => eqTest(c, l))
      case EqualNullSafe(a: UnresolvedAttribute, l: Literal)
          if l.value != null =>
        leaf(a, c => eqTest(c, l))
      case In(a: UnresolvedAttribute, vs)
          if vs.forall(_.isInstanceOf[Literal]) =>
        leaf(a, c => s"`${c}__min` = `${c}__max` AND `${c}__min` IN " +
          vs.map(_.sql).mkString("(", ", ", ")"))
      case IsNotNull(a: UnresolvedAttribute) =>
        if (covered(a.nameParts.last)) nn(a.nameParts.last) else "false"
      case IsNull(a: UnresolvedAttribute) =>
        val c = a.nameParts.last
        if (covered(c)) s"coalesce(`${c}__nulls` = `__rows`, false)"
        else "false"
      case _ => "false"
    }
  }

  /** The subset of `candidates` whose metadata PROVES the parsed row
    * predicate true for EVERY row ([[mustSql]] over a driver-built
    * stats-shaped frame from [[topNFileMeta]]'s merged pieces). Only
    * these files' rows may count toward TopN pruning guarantees under
    * a pushed filter. */
  private def mustMatchFiles(spark: SparkSession,
                             candidates: Seq[String],
                             filterCols: Seq[String], meta: TopNMeta,
                             schema: types.StructType,
      parsed: org.apache.spark.sql.catalyst.expressions.Expression)
      : Set[String] = {
    val present = filterCols.filter(c => schema.fields.exists(_.name == c))
    val fields = types.StructField("_file", types.StringType, false) +:
      types.StructField("__rows", types.LongType, true) +:
      present.flatMap { c =>
        val dt = schema(c).dataType
        Seq(types.StructField(s"${c}__min", dt, true),
          types.StructField(s"${c}__max", dt, true),
          types.StructField(s"${c}__nulls", types.LongType, true))
      }
    val rowSeq = candidates.map { f =>
      val cells: Seq[Any] =
        Seq[Any](f, meta.rows.get(f).map(Long.box).orNull) ++
          present.flatMap { c =>
            val m = meta.cols.get((f, c))
            Seq[Any](m.filter(_.boundsKnown).map(_.lo).orNull,
              m.filter(_.boundsKnown).map(_.hi).orNull,
              m.flatMap(_.nulls).map(Long.box).orNull)
          }
      org.apache.spark.sql.Row.fromSeq(cells)
    }
    import scala.jdk.CollectionConverters._
    val frame = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](rowSeq.asJava),
      types.StructType(fields))
    frame.filter(expr(mustSql(parsed, present.toSet.contains)))
      .select("_file").collect().map(_.getString(0)).toSet
  }

  /** TOP-N file pruning (the connector's `SupportsPushDownTopN`
    * target): the file list guaranteed to contain EVERY valid
    * `ORDER BY column [DESC] [NULLS FIRST|LAST] LIMIT n` answer, or
    * None when pruning cannot be proven sound. The caller keeps its
    * own TopN above the scan — pruning is IO-only.
    *
    * Soundness: a file F may be dropped only when the KEPT files are
    * guaranteed to hold ≥ n rows STRICTLY better-ranked than the best
    * possible row of F — then no row of F can appear in any valid
    * top-n under any tie-break. Guarantees come from metadata only:
    * per-file `__rows` + min/max bounds (the `_stats` sidecar) give
    * each file's value range, and per-file null counts (the `_ndv`
    * sidecar, recorded by [[collectNdv]] / [[setNdvColumns]])
    * separate null rows from value rows — null ordering makes the
    * raw row count unusable alone. Declines (None) when any live
    * file lacks either sidecar for the column, when any MoR delete is
    * unapplied (a delete may hollow out exactly the guaranteed rows),
    * or when nothing would be pruned.
    *
    * Files sort by their best possible row (best first); the kept set
    * is the shortest prefix that beats the first excluded file — best
    * bounds are monotone along the prefix order, so beating file k
    * beats every file after it. A declared [[setSortOrder]] write
    * order makes the bounds disjoint and the prefix minimal: this is
    * the serve-surface path for `ORDER BY ts DESC LIMIT k` dashboard
    * queries. */
  private[graft] def topNKept(spark: SparkSession, root: String,
                              version: Long, column: String,
                              descending: Boolean, nullsFirst: Boolean,
                              n: Int,
                              candidatesOverride: Option[Seq[String]] = None,
                              filterSql: Option[String] = None)
      : Option[Seq[String]] = {
    if (n <= 0) return None
    if (deleteEntries(root, version).nonEmpty ||
        eqDeleteEntries(root, version).nonEmpty) return None
    val entries = manifestEntries(root, version)
    val dirs: Seq[(String, Long)] =
      if (entries.isEmpty) Seq(s"v=$version" -> version)
      else entries.sorted.map { case (p, sv) => s"v=$sv/$p" -> sv }
    // under a pushed filter the caller hands the skipping survivors —
    // the prefix search runs over exactly the files the scan would read
    val candidates: Set[String] =
      candidatesOverride.map(_.toSet)
        .getOrElse(candidateDataFiles(root, dirs))
    // the prefix search below is O(files log files) driver work, but
    // the sidecar collect above it is still per-file rows — past this
    // the planning pass would dominate; decline, scan plain
    if (candidates.size > 65536 || candidates.size < 2) return None
    val parsedFilter = filterSql.map(
      spark.sessionState.sqlParser.parseExpression)
    val filterCols: Seq[String] = parsedFilter.toSeq.flatMap(_.collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        a.nameParts.last
    }).distinct
    // table schema resolved ONCE for the whole pruning pass (a table
    // without a recorded schema pays read-plan inference exactly once)
    lazy val tblSchema: types.StructType = recordedSchema(root, version)
      .getOrElse(read(spark, root, version).schema)
    val meta = topNFileMeta(spark, root, version, dirs, candidates,
      (column +: filterCols).distinct, () => tblSchema)
    val stats: Map[String, (Any, Any, Long)] = candidates.toSeq.flatMap {
      f =>
        for {
          rows <- meta.rows.get(f)
          cm <- meta.cols.get((f, column)) if cm.boundsKnown
        } yield f -> (cm.lo, cm.hi, rows)
    }.toMap
    val nulls: Map[String, Long] = candidates.toSeq.flatMap { f =>
      meta.cols.get((f, column)).flatMap(_.nulls).map(f -> _)
    }.toMap
    if (!candidates.forall(f => stats.contains(f) && nulls.contains(f)))
      return None
    // Filter-safe guarantee accounting: a kept file's rows count
    // toward the "≥ n strictly-better rows" guarantee ONLY when its
    // bounds + null counts PROVE the pushed row predicate true for
    // EVERY row (mustSql) — otherwise the filter could hollow the
    // file out and the guarantee would lie. Unproven files still
    // participate as candidates (their unfiltered best bound
    // over-ranks their best surviving row, which only makes the
    // pruning target harder to beat — conservative). The caller
    // guarantees the predicate here is the COMPLETE row filter (TopN
    // is only pushed when no residual filter remains above the scan).
    val mustMatch: String => Boolean = parsedFilter match {
      case None => _ => true
      case Some(pe) =>
        mustMatchFiles(spark, candidates.toSeq, filterCols,
          meta, tblSchema, pe).contains
    }
    val ord = statValueOrdering
    // a row is None (null) or Some(value); strictly-better under the
    // requested ordering
    def rowBetter(a: Option[Any], b: Option[Any]): Boolean = (a, b) match {
      case (None, None) => false
      case (None, Some(_)) => nullsFirst
      case (Some(_), None) => !nullsFirst
      case (Some(x), Some(y)) =>
        if (descending) ord.gt(x, y) else ord.lt(x, y)
    }
    case class F(file: String, lo: Any, hi: Any, rows: Long, nullRows: Long) {
      def valueRows: Long = rows - nullRows
      // the best-possible row in this file
      def best: Option[Any] =
        if (nullsFirst && nullRows > 0) None
        else if (valueRows > 0) Some(if (descending) hi else lo)
        else None // all-null file under NULLS LAST: best is null
      // the weakest value row's bound (all value rows rank at least
      // this strongly)
      def worst: Any = if (descending) lo else hi
    }
    val files = candidates.toSeq.map { f =>
      val (lo, hi, rows) = stats(f)
      F(f, lo, hi, rows, nulls(f))
    }
    // an all-null file under NULLS FIRST can tie-beat nothing and be
    // beaten by nothing null — it must always be kept; rank such files
    // first so they land in every prefix
    val sorted = files.sortWith { (a, b) =>
      rowBetter(a.best, b.best) ||
        (a.best == b.best && a.file < b.file)
    }
    // Shortest prefix whose GUARANTEED strictly-better rows beat the
    // first excluded file's best (bests are monotone non-improving,
    // so beating file k beats every file past it). A prefix file G's
    // guarantee against target r: its null rows when null out-ranks r
    // (NULLS FIRST, r non-null), plus ALL its value rows when even
    // its weakest bound out-ranks r. Computed incrementally — a
    // Fenwick tree over worst-bound ranks answers "value rows of
    // prefix files whose worst beats x" in log time, so the walk is
    // O(files log files), not the naive quadratic re-sum per k.
    val valBetter: (Any, Any) => Boolean =
      if (descending) ord.gt else ord.lt
    val distinctW = files.map(_.worst).filter(_ != null)
      .distinct.sortWith(valBetter) // strongest first
    val wRank: Map[Any, Int] = distinctW.zipWithIndex.toMap
    val bit = new Array[Long](distinctW.size + 1)
    def bitAdd(rank: Int, v: Long): Unit = {
      var i = rank + 1
      while (i <= distinctW.size) { bit(i) += v; i += i & (-i) }
    }
    def bitSum(count: Int): Long = { // sum over ranks [0, count)
      var i = count; var s = 0L
      while (i > 0) { s += bit(i); i -= i & (-i) }
      s
    }
    def ranksBeating(x: Any): Int = { // first rank NOT beating x
      var lo = 0; var hi = distinctW.size
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (valBetter(distinctW(mid), x)) lo = mid + 1 else hi = mid
      }
      lo
    }
    var nullRowsPrefix = 0L
    var valueRowsPrefix = 0L
    var k = 1
    while (k < sorted.size) {
      val g = sorted(k - 1) // the file entering the prefix
      if (mustMatch(g.file)) { // only PROVEN-surviving rows guarantee
        nullRowsPrefix += g.nullRows
        valueRowsPrefix += g.valueRows
        if (g.worst != null && g.valueRows > 0)
          bitAdd(wRank(g.worst), g.valueRows)
      }
      val guaranteed = sorted(k).best match {
        // target is a null row: only non-null rows beat it, and only
        // under NULLS LAST (nothing out-ranks null under NULLS FIRST)
        case None => if (!nullsFirst) valueRowsPrefix else 0L
        case Some(x) =>
          (if (nullsFirst) nullRowsPrefix else 0L) +
            bitSum(ranksBeating(x))
      }
      if (guaranteed >= n) {
        return Some(sorted.take(k).map(_.file))
      }
      k += 1
    }
    None // nothing prunable
  }

  /** Scan exactly `kept` (root-relative data files) with no row
    * filter — the physical half of [[topNKept]]. */
  private[graft] def readFiles(spark: SparkSession, root: String, v: Long,
                               kept: Seq[String]): DataFrame =
    scanKeptFiles(spark, root, v, kept, None)

  /** The shared pruned-file scan of [[readSkipping]] / [[readLimit]]:
    * read exactly `kept` (root-relative data files) under version
    * `v`'s schema/era/delete semantics, applying `rowFilter` above. */
  private def scanKeptFiles(spark: SparkSession, root: String, v: Long,
                            kept: Seq[String],
                            rowFilter: Option[Column]): DataFrame = {
    def filtered(df: DataFrame): DataFrame = rowFilter.fold(df)(df.filter)
    if (kept.isEmpty) {
      val schema = read(spark, root, v).schema
      return filtered(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema))
    }
    // mirror read()'s manifested path: schema from version metadata,
    // basePath-rooted union so partition columns resolve; the storage
    // `v` layer is inferred as a partition and dropped — and unapplied
    // MoR delete files mask their rows here exactly as in [[read]]
    val dels = deleteEntries(root, v)
    val eqs = eqDeleteEntries(root, v)
    // one scan per spec era (see [[scan]]): mixed dir layouts cannot
    // share a partition-discovery pass; a data column named "v"
    // collides with the storage layer and scans per storage version
    val recSchema = recordedSchema(root, v)
    val vCollision = recSchema.exists(_.fieldNames.contains("v"))
    def svOf(f: String): Long =
      f.stripPrefix("v=").takeWhile(_.isDigit).toLong
    // field-id evolution: old-era files must resolve physical names by
    // id (a renamed column read under the current name null-fills) —
    // the same era projection [[scan]] applies, over kept FILES
    val eras = eraProjections(spark, root, v,
      kept.map(f => (f, svOf(f))), withPos = dels.nonEmpty || eqs.nonEmpty)
    if (eras.isDefined)
      return filtered(resolveDeletes(spark, root, dels, eqs, eras.get))
    val keptGroups: Seq[(Option[String], Seq[String])] =
      if (!vCollision)
        kept.groupBy(f => partitionSpecAt(root, svOf(f)))
          .toSeq.sortBy(_._1.getOrElse(""))
      else kept.groupBy(f => Option(svOf(f).toString))
        .toSeq.sortBy(_._1.getOrElse(""))
    val scans = keptGroups.map { case (key, fs) =>
      val reader = recSchema.map(spark.read.schema(_)).getOrElse(spark.read)
      val bp = if (!vCollision) root else s"$root/v=${key.get}"
      // hidden partitioning: drop this group's derived directory fields
      val spec = if (!vCollision) key
        else partitionSpecAt(root, key.get.toLong)
      val hidden = spec.toSeq.flatMap(parseSpecs)
        .filterNot(_.isIdentity).map(_.field)
      def hide(df: DataFrame): DataFrame = hidden.foldLeft(df)(_.drop(_))
      val base = reader.option("basePath", bp)
        .parquet(fs.map(f => s"$root/$f"): _*)
      val b2 =
        if (dels.nonEmpty || eqs.nonEmpty)
          base.select(col("*") +: posCols: _*)
        else base
      hide(if (!vCollision) b2.drop("v") else b2)
    }
    filtered(resolveDeletes(spark, root, dels, eqs,
      scans.reduce(_.unionByName(_))))
  }

  // ───────── per-column NDV sketches (CBO statistics; Puffin analog) ─────────
  //
  // Iceberg ships theta sketches as Puffin blobs so engines can feed
  // join-order estimation; the graft analog is a `v=N/_ndv/` sidecar
  // holding one MERGEABLE Datasketches HLL sketch per (file, column)
  // (`hll_sketch_agg` over the column's xxhash64 — a 64-bit hash
  // makes every column type sketchable and collision noise is far
  // below HLL's own error), plus that file's own estimate for the
  // `files` inspection surface. Table-level NDV folds the LIVE files'
  // sketches with `hll_union_agg` — no data rescan, any subset of
  // files composes (the point of mergeable sketches: a partial
  // rewrite invalidates only the rewritten files' rows). Collection
  // is an explicit ANALYZE-style action ([[collectNdv]]), not a
  // per-commit tax: one scan per uncovered storage version.

  private def ndvPath(root: String, version: Long) =
    MetaIO.join(root, s"v=$version", "_ndv")

  private def ndvColsPath(root: String) = MetaIO.join(root, "_ndvcols")

  /** Declare columns whose NDV sketches every FUTURE data-writing
    * commit maintains in its own footer-lift pass (one column-pruned
    * scan of the new files, O(batch)) — CBO join reorder then works on
    * a freshly written table without a manual ANALYZE/`collect_ndv`
    * call. Declarative like [[setSortOrder]]: versions committed
    * BEFORE the declaration stay uncovered (and [[tableNdv]] reports a
    * column only at full live-file coverage) — run [[collectNdv]] once
    * to backfill history. Min/max bounds for the declared columns are
    * recorded alongside (Catalyst treats a counts-only numeric
    * ColumnStat as all-null — see [[collectNdv]]). */
  def setNdvColumns(root: String, cols: Seq[String]): Unit = {
    require(cols.nonEmpty, "ndv columns need at least one column")
    MetaIO.mkdirs(MetaIO.join(root))
    MetaIO.writeString(ndvColsPath(root), cols.mkString(","))
  }

  /** The declared auto-NDV columns, if any. */
  def ndvColumns(root: String): Seq[String] =
    if (!MetaIO.exists(ndvColsPath(root))) Seq.empty
    else MetaIO.readString(ndvColsPath(root)).trim.split(",").toSeq
      .map(_.trim).filter(_.nonEmpty)

  def fileNdv(spark: SparkSession, root: String,
              version: Long): Option[DataFrame] =
    if (MetaIO.exists(ndvPath(root, version)))
      Some(spark.read.parquet(ndvPath(root, version).toString))
    else None

  /** Columns with recorded NDV sketches in ANY storage version
    * `version` references — the `ndv.columns` inspection property. */
  def ndvCoverage(root: String, version: Long = -1L): Seq[String] = {
    val v = if (version >= 0) version else latestVersion(root)
    if (v < 0) return Seq.empty
    val svs = manifestEntries(root, v).map(_._2).distinct match {
      case Seq() => Seq(v)
      case s => s
    }
    svs.flatMap(sv => fileNdv(SparkSession.active, root, sv))
      .flatMap(_.columns.filter(_.endsWith("__hll"))
        .map(_.stripSuffix("__hll")))
      .distinct.sorted
  }

  /** The per-file sketch frame: `_file`, and per column a binary
    * `${c}__hll` sketch plus its own `${c}__ndv` estimate. Nulls are
    * excluded from the sketch (the SQL distinct-count convention). */
  private def ndvFrame(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap { c =>
      val sk = hll_sketch_agg(when(col(c).isNotNull, xxhash64(col(c))))
      Seq(sk.as(s"${c}__hll"),
        coalesce(hll_sketch_estimate(sk), lit(0L)).as(s"${c}__ndv"),
        // Catalyst's ColumnStat.hasCountStats needs nullCount next to
        // distinctCount — without it JoinEstimation falls back to
        // cartesian-style cardinalities and CBO reorder loses its
        // signal
        count(when(col(c).isNull, lit(1))).as(s"${c}__nulls"))
    }
    df.groupBy(input_file_name().as("_file"))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("_file", regexp_extract(col("_file"), "(v=\\d+/.*)$", 1))
  }

  /** BACKFILL NDV sketch sidecars — the Iceberg `compute_table_stats`
    * (Puffin theta) analog, same contract as [[collectStats]] /
    * [[collectBlooms]]: one scan per storage version lacking coverage,
    * idempotent, previously-recorded columns preserved, atomic sidecar
    * swap. Returns the storage versions recomputed. */
  def collectNdv(spark: SparkSession, root: String,
                 ndvCols: Seq[String], version: Long = -1L): Seq[Long] = {
    require(ndvCols.nonEmpty, "collectNdv needs at least one column")
    val v = if (version >= 0) version else latestVersion(root)
    require(v >= 0, s"no committed version at $root")
    // ONE analyze call yields full CBO statistics: Catalyst's range-
    // overlap check treats a counts-only numeric ColumnStat as an
    // all-null column (NullRange -> "disjoint" -> zero-row joins), so
    // NDV is only usable next to min/max bounds — backfill them
    // through the footer-lifted stats path for the same columns
    collectStats(spark, root, ndvCols, v)
    val storageVersions = {
      val m = manifestEntries(root, v)
      if (m.isEmpty) Seq(v) else m.map(_._2).distinct.sorted
    }
    val recomputed = storageVersions.flatMap { sv =>
      val existing: Seq[String] = fileNdv(spark, root, sv)
        .map(_.columns.toSeq.filter(_.endsWith("__hll"))
          .map(_.stripSuffix("__hll")))
        .getOrElse(Seq.empty)
      if (fileNdv(spark, root, sv).isDefined &&
          ndvCols.forall(existing.contains)) None
      else {
        val df = spark.read.parquet(s"$root/v=$sv")
        val present = (existing ++ ndvCols).distinct
          .filter(df.columns.contains)
        if (present.isEmpty) None
        else {
          val tmp = MetaIO.join(root, s"v=$sv",
            s".ndv.new-${java.util.UUID.randomUUID()}")
          ndvFrame(df, present).coalesce(1)
            .write.mode("overwrite").parquet(tmp.toString)
          val target = ndvPath(root, sv)
          MetaIO.delete(target, recursive = true)
          MetaIO.moveTree(tmp, target)
          Some(sv)
        }
      }
    }
    ndvTableCache.clear() // estimates may have changed
    recomputed
  }

  /** Table-level NDV per covered column of `version`'s LIVE files,
    * folded from the per-file sketches (`hll_union_agg`, no data
    * read). A column reports only when EVERY live data file carries
    * its sketch — partial coverage would silently underestimate.
    * Unapplied MoR deletes do NOT refuse (unlike [[fastBounds]]):
    * NDV is an optimizer ESTIMATE and deletes only make it an
    * overestimate, the safe direction for join planning. Results are
    * process-memoized per (root, version) — sidecars are immutable
    * once folded and the connector consults this on every plan. */
  def tableNdv(spark: SparkSession, root: String,
               version: Long = -1L): Map[String, NdvStat] = {
    val v = if (version >= 0) version else latestVersion(root)
    if (v < 0) return Map.empty
    if (ndvTableCache.size > 256) ndvTableCache.clear()
    // compute OUTSIDE the map (get / compute / putIfAbsent): the fold
    // below runs Spark jobs (sidecar reads, hll_union_agg) whose
    // planning can re-enter caching rules — never hold a CHM bin lock
    // through a Spark job (the domainCache/fastBoundsCached rule)
    val cacheKey = (MetaIO.join(root).toString, v)
    val cached = ndvTableCache.get(cacheKey)
    if (cached != null) return cached
    val computed: Map[String, NdvStat] = {
      val entries = manifestEntries(root, v)
      val dirs: Seq[(String, Long)] =
        if (entries.isEmpty) Seq(s"v=$v" -> v)
        else entries.sorted.map { case (p, sv) => s"v=$sv/$p" -> sv }
      val svs = dirs.map(_._2).distinct.sorted
      // metadata-only fast path: no sidecars anywhere → no jobs
      if (!svs.exists(sv => MetaIO.exists(ndvPath(root, sv))))
        Map.empty
      else {
        val candidates: Set[String] = candidateDataFiles(root, dirs)
        val frames = svs.flatMap(fileNdv(spark, root, _))
        if (frames.isEmpty) Map.empty
        else {
          val all = frames
            .reduce(_.unionByName(_, allowMissingColumns = true))
            .collect()
          val byFile = all.map(r =>
            decodeReportedPath(r.getAs[String]("_file")) -> r).toMap
          val covered = candidates.forall(byFile.contains)
          if (!covered || candidates.isEmpty) Map.empty
          else {
            val cols = frames.flatMap(_.columns).distinct
              .filter(_.endsWith("__hll")).map(_.stripSuffix("__hll"))
            val rows = candidates.toSeq.map(byFile)
            cols.flatMap { c =>
              val sketches = rows.map { r =>
                val i = r.fieldIndex(s"${c}__hll")
                if (r.isNullAt(i)) null else r.getAs[Array[Byte]](i)
              }
              if (sketches.contains(null)) None // partial column coverage
              else {
                val est = spark
                  .createDataset(sketches)(
                    org.apache.spark.sql.Encoders.BINARY)
                  .toDF("sk")
                  .agg(hll_sketch_estimate(hll_union_agg(col("sk"))))
                  .first.getLong(0)
                val nulls = rows.map { r =>
                  val i = r.fieldIndex(s"${c}__nulls")
                  if (r.isNullAt(i)) 0L else r.getLong(i)
                }.sum
                Some(c -> NdvStat(est, nulls))
              }
            }.toMap
          }
        }
      }
    }
    val prev = ndvTableCache.putIfAbsent(cacheKey, computed)
    if (prev != null) prev else computed
  }

  /** [[fastBounds]] memoized per (root, version, column) — the
    * connector's planner statistics consult bounds on every plan, and
    * a committed version's sidecars only change through
    * [[collectStats]] (which clears this). */
  def fastBoundsCached(spark: SparkSession, root: String, column: String,
                       version: Long = -1L): Option[(Any, Any)] = {
    val v = if (version >= 0) version else latestVersion(root)
    if (v < 0) return None
    // bounded like the runtime filter's domain cache: a streaming sink
    // commits a version per trigger, and per-version keys would
    // otherwise accumulate forever in a long-lived driver
    if (fastBoundsCache.size > 1024) fastBoundsCache.clear()
    // compute OUTSIDE the map (get / compute / putIfAbsent): the fold
    // runs tiny Spark collects whose planning could re-enter caching
    // rules — never hold a CHM bin lock through a Spark job
    val key = (MetaIO.join(root).toString, v, column)
    val cached = fastBoundsCache.get(key)
    if (cached != null) return cached
    val computed = fastBounds(spark, root, column, v)
    val prev = fastBoundsCache.putIfAbsent(key, computed)
    if (prev != null) prev else computed
  }

  private val fastBoundsCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, String),
      Option[(Any, Any)]]

  /** One column's folded table statistics: the HLL distinct estimate
    * and the exact null count (summed per-file counters). */
  case class NdvStat(ndv: Long, nullCount: Long)

  private[graft] val ndvTableCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long),
      Map[String, NdvStat]]

  // ───────────────── crash-leftover GC (orphan sweep) ─────────────────

  /** Remove version directories left behind by writers that crashed
    * between [[claimVersion]] and commit — the `remove_orphan_files`
    * analog of the reference's maintenance DAG
    * (`iceberg_maintenance.py:1-117`). A directory is an orphan iff it
    * carries no `_committed` stamp (the data write never finished), no
    * ref or marker points at it, and it is older than `graceMs`
    * (protecting a commit legitimately in flight right now — the same
    * `older_than` guard Iceberg's procedure takes). Returns the
    * versions removed.
    *
    * Note: versions created before `_committed` stamping existed are
    * indistinguishable from orphans; on such a table, stamp them first
    * or keep them ref-pinned. */
  def sweepOrphans(root: String, graceMs: Long = 3600000L): Seq[Long] = {
    val now = System.currentTimeMillis()
    val referenced = refs(root).values.toSet + latestVersion(root)
    val orphans = versions(root).filter { v =>
      val dir = MetaIO.join(root, s"v=$v")
      !isCommitted(root, v) && !referenced(v) &&
        now - MetaIO.mtimeMillis(dir) > graceMs
    }
    orphans.foreach { v =>
      MetaIO.delete(MetaIO.join(root, s"v=$v"), recursive = true)
    }
    orphans
  }

  /** Remove branch-commit lock directories older than `graceMs` — the
    * crash recovery for [[withBranchLock]] (a holder that died leaves
    * the lock forever; no real commit holds one anywhere near an
    * hour). Returns the lock names removed. */
  def sweepStaleLocks(root: String, graceMs: Long = 3600000L): Seq[String] = {
    val d = refsDir(root)
    if (!MetaIO.exists(d)) return Seq.empty
    val now = System.currentTimeMillis()
    val stale = MetaIO.list(d)
      .filter(p => MetaIO.name(p).startsWith(".lock.") &&
        now - MetaIO.mtimeMillis(p) > graceMs)
    stale.foreach(MetaIO.delete(_, recursive = true))
    stale.map(p => MetaIO.name(p).stripPrefix(".lock."))
  }
}
