package graft.operators

import scala.collection.parallel.CollectionConverters._
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ListedParquet
import org.apache.spark.sql.types

/** Versioned parquet table: snapshots, time travel, rollback, expiry.
  *
  * The reference gets these from Iceberg (`compaction.py:30-80` calls
  * its snapshot procedures); no table-format jars ship here, so the
  * same capability class is a directory-of-versions protocol:
  * `<root>/v=N/` holds the full snapshot for version N and a
  * `_latest` marker file names the current version. Writers publish a
  * new version directory then atomically move the marker ([[Refs]]
  * holds the marker, the named refs and the commit locks) — readers of
  * any existing version are never disturbed (copy-on-write semantics,
  * the same isolation Iceberg's copy-on-write mode gives).
  *
  * Every commit runs ONE protocol, owned by two helpers: [[stageNext]]
  * claims `v=N` (N = max on-disk version + 1), runs the entry point's
  * write and publishes the version's one commit record `v=N/_commit`
  * ([[Commit]]: parent, manifest, schema, field ids, defaults and
  * idempotent-writer stamps — its existence is the committed stamp);
  * [[publish]] reads the base, runs a staging half against it and
  * moves `_latest` under main's branch lock while it still names the
  * base (a writer that lost the race throws). Every `stage*` half is a
  * [[stageNext]] body; every public commit is a [[publish]] over one.
  *
  * Scale: a snapshot write is one distributed parquet job; commit is a
  * single tiny marker rename. Time-travel reads are ordinary
  * partition-pruned scans of one version directory.
  */
object SnapshotTable {

  /** Latest committed version, or -1 if none. */
  def latestVersion(root: String): Long = Refs.head(root)

  /** Every version directory on disk (committed or a live claim),
    * ascending; non-numeric `v=` names are not versions. */
  def versions(root: String): Seq[Long] =
    MetaIO.listNames(root)
      .filter(_.startsWith("v="))
      .flatMap(_.stripPrefix("v=").toLongOption)
      .sorted

  /** Atomically claim a version directory ([[MetaIO.claimDir]] — a
    * POSIX atomic createDirectory locally, mkdirs + an exclusive
    * `.claim` file on generic filesystems): of two writers racing to
    * the same version number, exactly one wins — the loser fails fast
    * here instead of silently clobbering the winner's files. Writers
    * append into the claimed directory and never delete it, which
    * would release the claim mid-write. */
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
    * run `write(N)` — which returns the version's record — and publish
    * that record with `parent` = `base` (ancestry for fast-forward
    * checks) as the LAST step. Nothing is published to readers.
    * Validation that must not leave an orphan claim runs BEFORE this
    * call. The record carries `base`'s writer stamps forward, with
    * `txn` replacing its writer's (see [[Txn]]): no commit kind can
    * lose a writer's last batch. */
  private def stageNext(root: String, base: Long, txn: Option[Txn] = None)
                       (write: Long => Commit): Long = {
    val next = nextVersion(root)
    claimVersion(root, next)
    val stamps = commitOf(root, base).txns
      .filterNot(t => txn.exists(_.writer == t.writer)) ++ txn
    writeCommit(root, next, write(next).copy(parent = base, txns = stamps))
    next
  }

  private def nextVersion(root: String): Long =
    versions(root).lastOption.getOrElse(-1L) + 1

  /** Publish one staged version: read the base (the `_latest` marker),
    * run `stage` against it, and move the marker — under main's branch
    * lock, and only while the marker still names `base`. Of two writers
    * staged from one base exactly one publishes; the other throws
    * `ConcurrentModificationException` (as a losing branch commit
    * does), and its staged version is a leftover for expiry. A stage
    * returning -1 or `base` staged nothing: the marker stays and `base`
    * is returned. */
  private[graft] def publish(root: String)(stage: Long => Long): Long = {
    val base = latestVersion(root)
    val next = stage(base)
    if (next < 0 || next == base) base
    else Refs.advance(root) { current =>
      if (current != base)
        throw new java.util.ConcurrentModificationException(
          s"table at $root moved from v$base to v$current while v$next " +
            "was staged; stage again against the current version")
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
    * cannot give). The recorded parent is the version this staging
    * logically succeeds (ancestry for fast-forward checks). */
  private[graft] def stageVersion(df: DataFrame, root: String,
                                  parent: Long = -1L,
                                  statsCols: Seq[String] = Seq.empty,
                                  bloomCols: Seq[String] = Seq.empty,
                                  txn: Option[Txn] = None): Long =
    stageNext(root, parent, txn) { next =>
      // append into the claimed directory: an overwrite would delete
      // it first, and while it is gone another writer can claim it
      df.write.mode("append").parquet(s"$root/v=$next")
      // the footer schema, made nullable, is what read-time inference
      // returns: recording it lets every read of this version plan
      // without a footer-sampling job
      commitChecksAndStats(df.sparkSession, root, next, statsCols, bloomCols)
        .map(_.schema).find(_.nonEmpty)
        .fold(Commit())(sc => Commit().withSchema(ListedParquet.nullable(sc)))
    }

  // ──────────────── the commit record (`v=N/_commit`) ────────────────
  //
  // Everything a version knows about itself is ONE write-once file,
  // published by [[stageNext]] after the version's data and sidecars
  // (tmp write + no-replace rename; the arbiter decides on object
  // stores). Its existence IS the committed stamp: a claim whose
  // writer crashed carries none, which is what [[sweepOrphans]] keys
  // on (Iceberg gets the same signal from "is this file reachable from
  // any snapshot"), and a record is never partly visible. The grammar
  // is the manifest's: one `dir sv` line per live (partition dir,
  // storage version) entry — split on the LAST space, escaped dir
  // names may carry spaces — plus `!`-prefixed records, which no
  // partition dir name starts with:
  //
  //   !parent P            the version this one was staged against
  //   !manifested          reads resolve through the entries (an
  //                        emptied table has none)
  //   !deletes D           position deletes at `v=D/_deletes/`
  //   !eqdeletes D k1,k2   equality deletes at `v=D/_eqdeletes/`
  //   !schema <json>       the table schema at this version (every
  //                        commit kind records it; only an adopted
  //                        external `v=N` lacks it and infers)
  //   !last I              the field-id high-water mark
  //   !field I<TAB>name    field id I's name at this version
  //   !default I<TAB>sql   field id I's initial default
  //   !txn B writer        idempotent writer `writer` committed its
  //                        batch B at or before this version ([[Txn]])
  //
  // A field a commit kind does not write stays absent (a plain
  // [[commit]] records no manifest and no field ids), and every
  // accessor below is a projection of one parse. Records are read per
  // call, never cached: after GC a version number can be claimed again.

  /** An idempotent writer's stamp (Delta's `SetTransaction`): writer
    * `writer` has committed every batch up to `batch`. Every record
    * carries its base's stamps ([[stageNext]]), so the stamps of the
    * version a writer stages on answer whether a batch is a replay —
    * one record read, at any history length, through compaction, folds
    * and expiry. Exactly-once for any writer whose batch ids are
    * monotone per writer (the Structured Streaming `batchId`
    * contract). */
  private[graft] final case class Txn(writer: String, batch: Long) {
    require(writer.nonEmpty && !writer.exists(c => c == '\n' || c == '\r'),
      s"writer id must be a non-empty single line, got '$writer'")
  }

  /** One version's commit record. `fields` is None for a version
    * that records no field-id table (plain commits). */
  private[graft] final case class Commit(
      parent: Long = -1L,
      manifested: Boolean = false,
      entries: Seq[(String, Long)] = Vector.empty,
      deletes: Seq[Long] = Vector.empty,
      eqDeletes: Seq[(Long, Seq[String])] = Vector.empty,
      schemaJson: Option[String] = None,
      fields: Option[Seq[(Int, String)]] = None,
      lastId: Int = 0,
      defaults: Seq[(Int, String)] = Vector.empty,
      txns: Seq[Txn] = Vector.empty) {
    lazy val schema: Option[types.StructType] = schemaJson.map(
      types.DataType.fromJson(_).asInstanceOf[types.StructType])

    def withSchema(s: types.StructType): Commit = copy(schemaJson = Some(s.json))

    /** Unapplied merge-on-read deletes: reads must resolve them. */
    def hasDeletes: Boolean = deletes.nonEmpty || eqDeletes.nonEmpty

    def render: String = (Seq(s"!parent $parent") ++
      Option.when(manifested)("!manifested") ++
      entries.distinct.sorted.map { case (p, v) => s"$p $v" } ++
      deletes.distinct.sorted.map(d => s"!deletes $d") ++
      eqDeletes.distinct.sortBy(_._1).map { case (d, ks) =>
        s"!eqdeletes $d ${ks.mkString(",")}" } ++
      schemaJson.map(j => s"!schema $j") ++
      fields.toSeq.flatMap(fs => s"!last $lastId" +:
        fs.map { case (id, n) => s"!field $id\t$n" }) ++
      defaults.map { case (id, sql) => s"!default $id\t$sql" } ++
      txns.map(t => s"!txn ${t.batch} ${t.writer}")
    ).mkString("\n")
  }

  private def parseCommit(text: String): Commit = {
    def idAnd(rest: String): (Int, String) = {
      val i = rest.indexOf('\t')
      rest.substring(0, i).toInt -> rest.substring(i + 1)
    }
    text.linesIterator.filter(_.nonEmpty).foldLeft(Commit()) { (c, line) =>
      if (!line.startsWith("!")) {
        val i = line.lastIndexOf(' ')
        c.copy(entries = c.entries :+ (line.substring(0, i) ->
          line.substring(i + 1).toLong))
      } else {
        val sp = line.indexOf(' ')
        val rest = if (sp < 0) "" else line.substring(sp + 1)
        (if (sp < 0) line else line.substring(0, sp)) match {
          case "!parent" => c.copy(parent = rest.toLong)
          case "!manifested" => c.copy(manifested = true)
          case "!deletes" => c.copy(deletes = c.deletes :+ rest.toLong)
          case "!eqdeletes" =>
            val i = rest.indexOf(' ')
            c.copy(eqDeletes = c.eqDeletes :+ (rest.substring(0, i).toLong ->
              rest.substring(i + 1).split(",").toSeq.filter(_.nonEmpty)))
          case "!schema" => c.copy(schemaJson = Some(rest))
          case "!last" =>
            c.copy(lastId = rest.toInt, fields = c.fields.orElse(Some(Vector.empty)))
          case "!field" =>
            c.copy(fields = Some(c.fields.getOrElse(Vector.empty) :+ idAnd(rest)))
          case "!default" => c.copy(defaults = c.defaults :+ idAnd(rest))
          case "!txn" =>
            val i = rest.indexOf(' ')
            c.copy(txns = c.txns :+ Txn(rest.substring(i + 1),
              rest.substring(0, i).toLong))
          case other => throw new IllegalStateException(
            s"unknown commit record line '$other'")
        }
      }
    }
  }

  private def commitPath(root: String, version: Long) =
    MetaIO.join(root, s"v=$version", "_commit")

  /** Publish `version`'s record (create-only). [[stageNext]] is the
    * protocol's caller; tests adopting an external `v=N` directory
    * stamp it with an empty plain record. */
  private[graft] def writeCommit(root: String, version: Long,
                                 record: Commit = Commit()): Unit =
    MetaIO.publishExclusive(commitPath(root, version), record.render)

  /** `version`'s record, or None when it has none (a live or crashed
    * claim, an expired version, or a negative version). */
  private[graft] def record(root: String, version: Long): Option[Commit] = {
    val p = commitPath(root, version)
    if (version < 0 || !MetaIO.exists(p)) None
    else Some(parseCommit(MetaIO.readString(p)))
  }

  /** `version`'s record, or the empty one every accessor answers for a
    * version without a record. */
  private def commitOf(root: String, version: Long): Commit =
    record(root, version).getOrElse(Commit())

  /** Is `version` committed (its record published)? */
  def isCommitted(root: String, version: Long): Boolean =
    MetaIO.exists(commitPath(root, version))

  /** When `version` was committed (epoch millis: its record's
    * modification time), or None when it is not. */
  def commitTime(root: String, version: Long): Option[Long] =
    Option.when(isCommitted(root, version))(
      MetaIO.mtimeMillis(commitPath(root, version)))

  /** Read the current snapshot (or a specific `version` — time
    * travel). Manifest-aware: a delta-committed version
    * ([[commitDelta]]) resolves through its partition manifest to ONE
    * unified scan over every referenced `v=M/part=...` directory, so
    * partition pruning and pushdown behave exactly as on a plain
    * partitioned table. Planning reads the commit record and lists the
    * directories it names on the driver ([[scanLeaves]]): no listing
    * job and no schema-inference job at any directory count. Every
    * read path (branches, [[Catalog]], Serving) goes through here, so
    * delta tables compose everywhere. */
  def read(spark: SparkSession, root: String, version: Long = -1L): DataFrame = {
    val v = if (version >= 0) version else latestVersion(root)
    require(v >= 0, s"no committed version at $root")
    val c = commitOf(root, v)
    resolveDeletes(spark, root, c, scan(spark, root, v, c, c.hasDeletes))
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

  private def withPosCols(df: DataFrame, withPos: Boolean): DataFrame =
    if (withPos) df.select(col("*") +: posCols: _*) else df

  /** The physical scan of a version — plain, manifested, or
    * era-projected — optionally carrying each row's (file, position)
    * identity from the parquet reader's `_metadata` column (needed to
    * resolve merge-on-read position deletes). */
  private def scan(spark: SparkSession, root: String, v: Long, c: Commit,
                   withPos: Boolean): DataFrame =
    if (c.manifested || c.entries.nonEmpty)
      scanEntries(spark, root, c, c.entries, withPos)
    else withPosCols(scanLeaves(spark, root, Seq(s"v=$v"), c.schema), withPos)

  /** The one physical parquet scan: `leaves` (root-relative `v=N/...`
    * data directories or files) planned from the manifest on the
    * driver. Each directory leaf is listed by
    * [[FooterStats.dataStatuses]] through the FileSystem the scan
    * reads with, driver-parallel; file leaves list through their
    * directory, one call per directory rather than per file. The
    * listing becomes Spark's own file index ([[ListedParquet]]), so
    * planning runs no listing job at any directory count. Each
    * storage-version directory `root/v=N` is a partition base path:
    * `col=value` levels below it are partition columns, the `v=N`
    * level never is, so a data column named `v` needs no special
    * case. The schema is the record's (`schema`, version METADATA —
    * the Iceberg rule: planning reads no footer); a version without
    * one (an adopted `v=N`) infers it in a job, counted by
    * [[Metrics.schemaInferences]]. `base` names a leaf's base path; a
    * delete sidecar directory is its own base. */
  private def scanLeaves(spark: SparkSession, root: String,
                         leaves: Seq[String],
                         schema: Option[types.StructType],
                         base: String => String = l => s"v=${svOf(l)}")
      : DataFrame = {
    val listed = leaves.groupBy(l =>
        if (l.endsWith(".parquet")) l.take(l.lastIndexOf('/')) else l)
      .toVector.sortBy(_._1).par.map { case (rel, ls) =>
        val p = new HPath(s"$root/$rel")
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        lazy val named = fs.listStatus(p).map(s => s"$rel/${s.getPath.getName}" -> s).toMap
        fs.makeQualified(new HPath(s"$root/${base(rel)}")) ->
          (if (ls.head == rel) FooterStats.dataStatuses(fs, p) else ls.map(k =>
            named.getOrElse(k, throw new java.io.FileNotFoundException(s"$root/$k"))))
      }.seq
    if (schema.isEmpty) Metrics.schemaInferences.incrementAndGet()
    ListedParquet.frame(spark, listed, schema)
  }

  /** The manifested scan of the version recorded by `c`, RESTRICTED
    * to `m` — the entry-set parameterization [[scan]] and
    * [[appendedBetween]] share. A manifested version with zero live
    * entries — everything was deleted (deleteWhere emptying every
    * partition) or truncated — is an empty scan under the version's
    * recorded schema, NOT a doomed schema inference. */
  private def scanEntries(spark: SparkSession, root: String, c: Commit,
                          m: Seq[(String, Long)],
                          withPos: Boolean): DataFrame =
    if (m.isEmpty) withPosCols(scanLeaves(spark, root, Seq.empty,
      Some(c.schema.getOrElse(throw new IllegalStateException(
        s"$root has an empty manifest and no recorded schema")))), withPos)
    else scanSpecEras(spark, root, c,
      m.sorted.map { case (part, sv) => s"v=$sv/$part" }, withPos)

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

  /** [[resolvePositioned]] of record `c`'s deletes for readers: the
    * identity columns dropped. */
  private def resolveDeletes(spark: SparkSession, root: String, c: Commit,
                             df: DataFrame): DataFrame =
    if (!c.hasDeletes) df
    else resolvePositioned(spark, root, c.deletes, c.eqDeletes, df)
      .drop(FileCol, PosCol)

  /** Version `v`'s live rows (record `c`) with their (file, position)
    * identities; `withEqDeletes = false` resolves position deletes
    * only. */
  private def livePositioned(spark: SparkSession, root: String, v: Long,
                             c: Commit,
                             withEqDeletes: Boolean = true): DataFrame =
    resolvePositioned(spark, root, c.deletes,
      if (withEqDeletes) c.eqDeletes else Seq.empty,
      scan(spark, root, v, c, withPos = true))

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
    * order), each group one (keys…, [[EqVerCol]]) frame. A sidecar
    * reads under its key columns' types in the deleting version's
    * recorded schema, so planning reads no footer. */
  private[graft] def eqDeleteGroups(spark: SparkSession, root: String,
                                    eqs: Seq[(Long, Seq[String])])
      : Seq[(Seq[String], DataFrame)] =
    eqs.groupBy(_._2).toSeq.sortBy(_._1.mkString(",")).map {
      case (keyCols, group) => keyCols -> group.map { case (d, _) =>
        val keys = commitOf(root, d).schema.map(s => types.StructType(keyCols.map(s(_))))
        scanLeaves(spark, root, Seq(s"v=$d/_eqdeletes"), keys, identity)
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

  /** The position-delete sidecars of versions `dels`, under their
    * fixed schema. */
  private def readDeleteFiles(spark: SparkSession, root: String,
                              dels: Seq[Long]): DataFrame =
    scanLeaves(spark, root, dels.map(d => s"v=$d/_deletes"),
      Some(types.StructType(Seq(types.StructField(FileCol, types.StringType),
        types.StructField(PosCol, types.LongType)))), identity)

  /** The schema recorded when `version` was staged (every commit kind
    * records one; None for a version adopted without a record). */
  def recordedSchema(root: String, version: Long): Option[types.StructType] =
    commitOf(root, version).schema

  // ──────── field-id schema evolution (rename/drop as metadata) ────────
  //
  // Iceberg's rule: every column carries a STABLE field id; a rename or
  // drop is a metadata-only commit (zero data movement) and readers
  // resolve each file era's physical names by id. A version's record
  // maps id → the name current AT THAT VERSION (`!field` lines); files
  // of a storage era are projected onto the reading version's names
  // through the shared ids. Eras whose record has no field-id table
  // (plain commits) fall back to name-identity (a drop-then-readd
  // across that boundary could resurrect — impossible between eras
  // that record ids, since the re-added column gets a fresh id).

  /** The field-id table of `version`: (id, name-at-that-version). */
  def fieldIds(root: String, version: Long): Option[Seq[(Int, String)]] =
    commitOf(root, version).fields

  // ──────── initial defaults (Iceberg v3 `initial-default`) ────────
  //
  // A column added WITH a default reads that value — not null — from
  // every file written before the column existed; files written after
  // the add carry real values (genuine NULLs stay NULL — the reader
  // distinguishes the eras by field id, which a blanket coalesce could
  // not). Recorded per version as fieldId → literal SQL (`!default`
  // lines), carried by every later record like the field ids; time
  // travel to pre-add versions has no such column at all.

  /** `version`'s initial defaults: field id → default SQL literal. */
  def columnDefaults(root: String, version: Long): Seq[(Int, String)] =
    commitOf(root, version).defaults

  /** Ids for `schema`'s fields at a version whose base record is `b`:
    * names present in the base keep their ids (or their base-schema
    * POSITION when the base records no field ids — the name-identity
    * fallback the reader applies to those eras), new names allocate
    * past the base's id high-water mark (Iceberg's `last-column-id`:
    * ids allocate strictly past it FOREVER, so a column dropped and
    * later re-added under the same name can never reclaim the dropped
    * id, and thus never resurrects old files' bytes). Returns
    * (assignment, new high water). */
  private def assignFieldIds(b: Commit,
      schema: types.StructType): (Seq[(Int, String)], Int) = {
    val baseIds: Map[String, Int] =
      b.fields.map(_.map(t => t._2 -> t._1).toMap)
        .getOrElse(b.schema
          .map(_.fieldNames.toSeq.zipWithIndex.map { case (n, i) => n -> (i + 1) }.toMap)
          .getOrElse(Map.empty))
    var nextId = math.max(b.lastId, (baseIds.values.toSeq :+ 0).max)
    val assigned = schema.fields.toSeq.map { f =>
      baseIds.get(f.name) match {
        case Some(id) => id -> f.name
        case None => nextId += 1; nextId -> f.name
      }
    }
    (assigned, nextId)
  }

  /** `b` with its field ids re-derived for `schema` ([[assignFieldIds]])
    * — the carry every manifested version makes from its base record
    * (defaults, and whatever the caller does not replace, ride
    * along). */
  private def withFieldIds(b: Commit, schema: types.StructType): Commit = {
    val (fids, lastId) = assignFieldIds(b, schema)
    b.withSchema(schema).copy(manifested = true, fields = Some(fids),
      lastId = lastId)
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
    val b = commitOf(root, base)
    require(b.entries.nonEmpty,
      s"$op is metadata-only on manifested tables; plain snapshots " +
        "rewrite via commit()")
    // every spec era with LIVE directories is a directory layout —
    // including pre-evolution eras not yet migrated
    if (op != "add") locally {
      val history = specHistory(root)
      val liveSpecs = b.entries
        .flatMap(e => specAt(history, e._2)).toSet ++
        history.lastOption.map(_._1)
      // a transform spec's SOURCE column is equally a layout column —
      // renaming `ts` out from under `days(ts)` would orphan the layout
      val layoutCols = liveSpecs.flatMap(s => parseSpecs(s).map(_.source))
      require(!layoutCols.contains(name),
        s"cannot $op partition column '$name' — a live directory " +
          "layout (current or unmigrated era) derives from it")
    }
    val schema = b.schema.getOrElse(read(spark, root, base).schema)
    if (op == "add")
      require(!schema.fieldNames.contains(name),
        s"column '$name' already exists")
    else
      require(schema.fieldNames.contains(name),
        s"no column '$name' in ${schema.fieldNames.mkString(", ")}")
    to.foreach(n => require(!schema.fieldNames.contains(n),
      s"column '$n' already exists"))
    val (baseFields, baseLast) = assignFieldIds(b, schema)
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
    if (op != "add") b.eqDeletes.foreach { case (d, ks) =>
      require(!ks.contains(name),
        s"cannot $op '$name': it is a key of the unapplied equality " +
          s"delete at version $d — run applyDeletes first")
    }
    // every entry inherited — zero data moved; unapplied MoR delete
    // files ride along (dropping them would resurrect deleted rows);
    // the high-water mark survives a drop — that is the whole point;
    // initial defaults ride along: a drop releases its entry (the id
    // never returns), an add-with-default records one under the fresh
    // id, a rename keeps ids — and therefore defaults — untouched
    val dropped =
      if (op == "drop") baseFields.find(_._2 == name).map(_._1) else None
    stageNext(root, base)(_ => b.withSchema(newSchema).copy(
      fields = Some(newFields), lastId = lastId,
      defaults = b.defaults.filterNot(d => dropped.contains(d._1)) ++
        foldedDefault.map(lastId -> _)))
  }

  /** `leaves` (root-relative `v=N/part=...` partition DIRECTORIES on
    * the [[scan]] path, individual FILES on the [[readSkipping]] path)
    * under record `c`'s schema, one scan per group of storage versions
    * sharing a partition-spec ERA and a physical naming. Directories
    * written under different specs cannot share a partition-discovery
    * pass (their dir layouts disagree), but each era's scan keeps its
    * own partition pruning, and a predicate on the other era's column
    * pushes down as a data filter there. The schema comes from version
    * METADATA, so a union over storage versions written before a
    * column existed still surfaces it (null-filled).
    *
    * Field-id resolution (the Iceberg evolution rule): when version
    * metadata carries a field-id table, an era whose PHYSICAL column
    * names differ from the current ones is scanned under its physical
    * read schema (pushdown and partition pruning intact) and projected
    * onto the current names by field id; added-later columns
    * null-fill, dropped ids are not selected. File pruning keeps this
    * per-era resolution, or a renamed column would silently null-fill
    * from old-era files. */
  private def scanSpecEras(spark: SparkSession, root: String, c: Commit,
                           leaves: Seq[String],
                           withPos: Boolean): DataFrame = {
    val cur = for (f <- c.fields; s <- c.schema) yield (f, s)
    val nameToId = cur.toSeq.flatMap(_._1.map(t => t._2 -> t._1)).toMap
    // physical name of each current field in era `sv` (None = absent);
    // None for the whole era when it reads under the current names
    def projOf(sv: Long): Option[Seq[Option[String]]] = cur.flatMap {
      case (_, curSchema) =>
        val era = commitOf(root, sv)
        val eraIds = era.fields.map(_.toMap)
        val eraNames = era.schema.map(_.fieldNames.toSet)
        Some(curSchema.fields.toSeq.map { f =>
          eraIds match {
            case Some(ids) => nameToId.get(f.name).flatMap(ids.get)
              .filter(p => eraNames.forall(_.contains(p)))
            case None => Some(f.name) // pre-field-id era: name identity
          }
        }).filterNot(_ == curSchema.fieldNames.toSeq.map(Option(_)))
    }
    val bySv = leaves.map(svOf).distinct.map(sv => sv -> projOf(sv)).toMap
    val history = specHistory(root)
    leaves.groupBy(l => (bySv(svOf(l)), specAt(history, svOf(l))))
      .toSeq.sortBy(_._2.min).map {
        case ((None, spec), ls) =>
          // hidden partitioning: a transform era's DERIVED directory
          // fields are layout, not data — partition discovery surfaces
          // them, readers never do
          val hidden = spec.toSeq.flatMap(parseSpecs)
            .filterNot(_.isIdentity).map(_.field)
          hidden.foldLeft(
            withPosCols(scanLeaves(spark, root, ls, c.schema), withPos))(
            _.drop(_))
        case ((Some(proj), _), ls) =>
          val curSchema = cur.get._2
          val readSchema = types.StructType(
            curSchema.fields.toSeq.zip(proj).collect {
              case (f, Some(p)) => types.StructField(p, f.dataType, nullable = true)
            })
          // mirror the current-name scan's column order: data columns
          // in schema order, the partition column appended last
          // (Spark's layout for partition-discovery reads). A column
          // absent from the era fills its INITIAL DEFAULT when one was
          // declared at add time (pre-add files read the default; eras
          // that HAVE the column read real values, NULLs included),
          // null otherwise
          val partCol = history.lastOption.map(_._1)
          val defs = c.defaults.toMap
          val projected = curSchema.fields.toSeq.zip(proj)
            .sortBy { case (f, _) => if (partCol.contains(f.name)) 1 else 0 }
            .map {
              case (f, Some(p)) => col(s"`$p`").as(f.name)
              case (f, None) =>
                nameToId.get(f.name).flatMap(defs.get) match {
                  case Some(d) => expr(d).cast(f.dataType).as(f.name)
                  case None => lit(null).cast(f.dataType).as(f.name)
                }
            }
          // `_metadata` resolves directly against the scan relation
          scanLeaves(spark, root, ls, Some(readSchema))
            .select(projected ++ (if (withPos) posCols else Seq.empty): _*)
      }.reduce(_.unionByName(_))
  }

  /** MERGE-upsert `source` into the table on `key` and commit the
    * result as a new snapshot (the reference's silver MERGE,
    * `bronze_to_silver.py:156-188`, with explicit versioning). */
  def mergeCommit(spark: SparkSession, root: String, source: DataFrame,
                  key: String): Long =
    commit(MergeUpsert.merge(read(spark, root), source, key), root)

  /** Roll back: re-point the marker at an existing older version
    * (atomic, like commit, and under the same main branch lock). */
  def rollback(root: String, version: Long): Unit = {
    require(versions(root).contains(version), s"unknown version $version")
    Refs.advance(root)(_ => version)
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
    val toC = commitOf(root, to)
    val toEntries = toC.entries
    require(fromEntries.nonEmpty && toEntries.nonEmpty,
      "incremental read needs manifested versions on both ends")
    val dropped = fromEntries.toSet -- toEntries.toSet
    require(dropped.isEmpty,
      s"history $fromVersion..$to is not append-only (entries " +
        s"${dropped.take(3).mkString(", ")}… were rewritten or " +
        "removed) — incremental consumers must read below the " +
        "compaction watermark")
    val newEntries = (toEntries.toSet -- fromEntries.toSet).toSeq.sorted
    if (newEntries.isEmpty) return read(spark, root, to).limit(0)
    resolveDeletes(spark, root, toC,
      scanEntries(spark, root, toC, newEntries, toC.hasDeletes))
  }

  /** Expire old snapshots, keeping the current one, the newest
    * `retainLast` versions older than it, EVERY version newer than
    * it (after a rollback, newer versions are roll-forward targets),
    * and every version any branch or tag ref points at (a named ref is
    * a liveness guarantee, exactly as in Nessie/Iceberg GC). Returns
    * the versions removed.
    *
    * Only COMMITTED versions participate — a crashed claim without a
    * commit record must neither be "expired" here nor occupy a
    * retainLast slot that should protect a real snapshot; it is
    * [[sweepOrphans]]' to remove.
    *
    * Delta-aware: a retired version's directory survives while any
    * LIVE record still references its partitions or delete sidecars
    * (structural sharing keeps storage roots alive — Iceberg's
    * reachability rule at partition granularity); it is physically
    * removed by a later call once nothing references it. Returns the
    * versions actually removed. */
  def expireSnapshots(root: String, retainLast: Int): Seq[Long] = {
    val current = latestVersion(root)
    val pinned = refs(root).values.toSet
    val retire = versions(root).filter(v => v < current && isCommitted(root, v))
      .sorted.dropRight(math.max(retainLast, 0))
      .filterNot(pinned).toSet
    deleteUnreachable(root, versions(root).filterNot(retire))
  }

  /** Delete every committed version that no version of `live`
    * reaches ([[reachableFrom]]) — the one expiry rule of both table
    * kinds: a plain table's live set is its unretired versions, a
    * governed table's the versions its surviving catalog manifests
    * name. Returns the deleted versions, ascending. */
  private[graft] def deleteUnreachable(root: String,
                                       live: Iterable[Long]): Seq[Long] = {
    val keep = live.flatMap(reachableFrom(root, _)).toSet
    val dead = versions(root).filter(v => !keep(v) && isCommitted(root, v))
    dead.foreach { v =>
      MetaIO.delete(MetaIO.join(root, s"v=$v"), recursive = true)
    }
    dead
  }

  /** The version directories a read of `v` touches — its own, every
    * storage version its entries name, and its merge-on-read sidecars'
    * — which expiry must keep while `v` is live. */
  private[graft] def reachableFrom(root: String, v: Long): Seq[Long] = {
    val c = commitOf(root, v)
    v +: (c.entries.map(_._2) ++ c.deletes ++ c.eqDeletes.map(_._1))
  }

  // ───────────────────────── named refs (Nessie analog) ─────────────────────
  //
  // The reference's headline catalog feature is git-like branches/tags
  // over table state (Nessie; `infrastructure/init/nessie_setup.py:1-75`).
  // Same capability class here, over the directory-of-versions protocol,
  // in the layout [[Refs]] owns: the main head is the latest version, a
  // branch or tag ref holds one version, and a version's record
  // (`!parent P`) is its ancestry. Every head move — a commit to any
  // branch, a fast-forward, a rollback — runs under the branch's commit
  // lock ([[Refs.advance]]), so a concurrent committer to the SAME
  // branch fails fast instead of silently losing the other's commit.
  // Version directories stay globally numbered and copy-on-write, so
  // branches share storage history and never disturb each other's
  // readers.

  /** The branch name that aliases the latest version. */
  val MainBranch = Refs.Main

  /** All named refs as `"branch.x" / "tag.y" -> version` (main excluded). */
  def refs(root: String): Map[String, Long] =
    Seq("branch", "tag").flatMap(k => Refs.names(root, k).map(n => s"$k.$n" -> refVersion(root, k, n)))
      .toMap

  private def refVersion(root: String, kind: String, name: String): Long =
    Refs.read(root, kind, name)
      .getOrElse(throw new IllegalArgumentException(s"unknown $kind '$name' at $root"))
      .toLong

  /** Resolve a branch head (main = the latest version). */
  def branchVersion(root: String, name: String): Long =
    if (name == MainBranch) latestVersion(root) else refVersion(root, "branch", name)

  /** Resolve a tag. */
  def tagVersion(root: String, name: String): Long = refVersion(root, "tag", name)

  /** Create a branch at `fromVersion` (default: current main head).
    * Fails if the branch already exists — create-only, like
    * `nessie branch` / `git branch`. */
  def createBranch(root: String, name: String, fromVersion: Long = -1L): Long = {
    require(name != MainBranch, "main always exists; cannot be created")
    val v = if (fromVersion >= 0) fromVersion else latestVersion(root)
    require(versions(root).contains(v), s"unknown version $v")
    // exclusive create, not check-then-write: two racing creators
    // cannot both win
    Refs.create(root, "branch", name, v.toString, s"branch '$name' already exists")
    v
  }

  /** Pin an immutable tag at `version` (default: current main head).
    * Tags can never be re-pointed — delete-and-recreate is the only
    * mutation, as in Nessie. */
  def createTag(root: String, name: String, version: Long = -1L): Long = {
    val v = if (version >= 0) version else latestVersion(root)
    require(versions(root).contains(v), s"unknown version $v")
    Refs.create(root, "tag", name, v.toString,
      s"tag '$name' already exists (tags are immutable)")
    v
  }

  /** Read the snapshot a branch heads or a tag pins. */
  def readBranch(spark: SparkSession, root: String, name: String): DataFrame =
    read(spark, root, branchVersion(root, name))

  def readTag(spark: SparkSession, root: String, name: String): DataFrame =
    read(spark, root, tagVersion(root, name))

  /** Publish `df` as a new snapshot on `branch` and advance its head.
    * The version directory is claimed atomically (global numbering —
    * branches share the version space, like Nessie commit hashes), the
    * parent version is recorded for ancestry, and the branch head moves
    * under the branch lock: of two committers racing to the same
    * branch, exactly one wins; the loser throws instead of silently
    * overwriting the winner's head. Commits to a non-main branch never
    * touch main's head, so main readers are fully isolated. */
  def commitToBranch(df: DataFrame, root: String, branch: String): Long =
    // the full commit path: CHECK constraints and `_stats` apply to a
    // branch commit exactly as to a main one, so a violating frame can
    // never reach main by a later fast-forward
    Refs.advance(root, branch)(stageVersion(df, root, _))

  /** `version`'s recorded parent, or -1 (a root commit, or a version
    * without a record). */
  def parentVersion(root: String, version: Long): Long =
    commitOf(root, version).parent

  /** Is `anc` an ancestor of (or equal to) `desc` by the recorded
    * parent chain? The walk stops at the first version with no
    * recorded parent, or below `anc` (a parent is always an older
    * version: versions are claimed max + 1). */
  def isAncestor(root: String, anc: Long, desc: Long): Boolean = {
    var v = desc
    while (v >= math.max(anc, 0L)) {
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
    Refs.advance(root, toBranch) { target =>
      val source = branchVersion(root, fromBranch)
      require(isAncestor(root, target, source),
        s"'$toBranch' (v$target) is not an ancestor of '$fromBranch' " +
          s"(v$source): not a fast-forward — merge instead")
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
    Refs.drop(root, "branch", name)
  }

  def dropTag(root: String, name: String): Unit = Refs.drop(root, "tag", name)

  // ─────────── partition-manifest delta snapshots (shallow versions) ───────────
  //
  // A plain [[commit]] rewrites the WHOLE table per version — fine for
  // small tables, fatal at 100 TB where an incremental run touches a
  // handful of date partitions. Delta commits fix the cost model the
  // way Iceberg/Delta do, one level coarser (partition-granular instead
  // of file-granular): version N's directory holds ONLY the rewritten
  // partitions, and its record's entries map EVERY live partition to
  // the version directory that physically stores it. Untouched
  // partitions are inherited by reference — structural sharing, zero
  // copies — so a commit's write cost is the batch's partitions, while
  // readers of any version still get one unified partition-pruned
  // scan. Time travel, refs, and the marker protocol are unchanged;
  // only expiry must honor entry REACHABILITY (a version directory
  // stays on disk while any live record references its partitions —
  // see [[expireSnapshots]]).
  //
  //   v=0/_commit   p=2024-01-01 -> v=0, p=2024-01-02 -> v=0
  //   v=1/_commit   p=2024-01-01 -> v=0, p=2024-01-02 -> v=1   (delta)
  //
  // Reading v=1 scans v=0/p=2024-01-01 ∪ v=1/p=2024-01-02 as ONE
  // parquet relation whose file index is listed from these entries on
  // the driver, each `v=N` directory a partition base path (so `p` is
  // a partition column and the `v` layer is not a column at all):
  // predicate pushdown and partition pruning work exactly as on a
  // plain partitioned table, and planning runs no listing job.

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
    specAt(specHistory(root), sv)

  /** [[partitionSpecAt]] over a history read once: a caller resolving
    * many storage versions reads `_partition_spec` once, not per
    * version. */
  private def specAt(history: Seq[(String, Long)], sv: Long): Option[String] =
    history.filter(_._2 <= sv).lastOption.map(_._1)

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
  // driver-side (the [[literalHashes]] discipline, literal cast to
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
    val history = specHistory(root)
    val cur = history.lastOption.map(_._1)
    entries.filter(e => specAt(history, e._2) != cur)
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
    val c = commitOf(root, v)
    val foreign = foreignEraEntries(root, c.entries)
    if (foreign.isEmpty) return v
    val resolved = livePositioned(spark, root, v, c)
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
  // never gets its commit record, so nothing is published and
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
    * sort); append compaction of either table kind
    * ([[Maintenance.stageCompaction]]) applies the order and re-records
    * stats for these columns. A governed table declares it on its
    * [[Catalog.tableRoot]]. */
  def setSortOrder(root: String, cols: Seq[String],
                   zorder: Boolean = false): Unit = {
    require(cols.nonEmpty, "sort order needs at least one column")
    require(!zorder || cols.size == 2,
      "z-order write order interleaves exactly TWO dimensions")
    MetaIO.mkdirs(MetaIO.join(root))
    MetaIO.writeString(sortOrderPath(root),
      (if (zorder) "zorder:" else "") + cols.mkString(","))
  }

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
  def manifestEntries(root: String, version: Long): Seq[(String, Long)] =
    commitOf(root, version).entries

  /** Storage versions whose `v=N/_deletes/` parquet holds merge-on-read
    * position-delete rows applicable to this version's scan, in commit
    * order (empty for tables with no unapplied MoR deletes). */
  def deleteEntries(root: String, version: Long): Seq[Long] =
    commitOf(root, version).deletes

  /** Storage versions carrying equality-delete sidecars
    * (`v=D/_eqdeletes/`) applicable to this version's scan, each with
    * the key columns its rows match on — empty for tables with no
    * unapplied equality deletes. Record line:
    * `!eqdeletes D col1,col2`. */
  def eqDeleteEntries(root: String,
                      version: Long): Seq[(Long, Seq[String])] =
    commitOf(root, version).eqDeletes

  /** The NEWEST storage version per partition — the full mapping for
    * delta-committed versions (one entry per partition); for
    * append-committed versions prefer [[manifestEntries]], which keeps
    * every contributing directory. */
  def manifest(root: String, version: Long): Map[String, Long] =
    manifestEntries(root, version).groupBy(_._1)
      .view.mapValues(_.map(_._2).max).toMap

  /** The (root-relative dir, storage version) pairs version `v`'s scan
    * reads: its manifest entries, or `v=N` itself for an unmanifested
    * snapshot. Reads the commit record and nothing else. */
  private def liveDirs(root: String, v: Long): Seq[(String, Long)] = {
    val entries = manifestEntries(root, v)
    if (entries.isEmpty) Seq(s"v=$v" -> v)
    else entries.sorted.map { case (p, sv) => s"v=$sv/$p" -> sv }
  }

  /** The storage versions whose files (and sidecars) version `v` reads. */
  private def storageVersions(root: String, v: Long): Seq[Long] =
    liveDirs(root, v).map(_._2).distinct.sorted

  /** Root-relative DATA files of version `v` — the one live-file
    * listing. Descends into partition subdirectories with
    * [[FooterStats.dataFiles]]'s rule (an unmanifested PARTITIONED
    * snapshot keeps its parquet under `v=N/part=.../`); these raw FS
    * names are what the sidecars' decoded `_file` values compare
    * against. */
  private[graft] def liveFiles(root: String, v: Long): Seq[String] =
    liveDirs(root, v).flatMap { case (rel, _) =>
      val d = MetaIO.join(root, rel)
      FooterStats.dataFiles(d).map(abs =>
        s"$rel/" + abs.stripPrefix(d).stripPrefix("/"))
    }

  /** The storage version of a root-relative data file (`v=M/...`). */
  private[graft] def svOf(file: String): Long =
    file.stripPrefix("v=").takeWhile(_.isDigit).toLong

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
                                 bloomCols: Seq[String] = Seq.empty,
                                 txn: Option[Txn] = None): Long =
    stageManifested(slice, root, partitionCol, base, append = true,
      statsCols = statsCols, bloomCols = bloomCols, txn = txn)

  // ───────── idempotent-writer transactions (Delta SetTransaction) ─────────

  /** [[commitAppend]] that EXACTLY ONCE lands batch `batchId` of the
    * idempotent writer `writerId`: the staged record carries the stamp
    * ([[Txn]]), so it publishes atomically with the rows, and a batch
    * at or below the writer's stamp in the base version's record is a
    * replay that stages nothing ([[graft.sources.TableHandle.publishOnce]],
    * the one exactly-once protocol of both table kinds). A crash after
    * the marker move leaves the stamp visible and the replay skips; a
    * crash before it leaves an unpublished claim for [[sweepOrphans]]
    * and the replay commits. Returns the new version, or the current
    * one on a replay. */
  def commitAppendTxn(slice: DataFrame, root: String, partitionCol: String,
                      writerId: String, batchId: Long,
                      statsCols: Seq[String] = Seq.empty,
                      bloomCols: Seq[String] = Seq.empty): Long =
    commitOnce(root, writerId, batchId)(stageAppend(slice, root,
      partitionCol, _, statsCols, bloomCols, _))

  /** The MoR-upsert twin of [[commitAppendTxn]] (an Update-mode
    * streaming sink: each trigger's rows REPLACE their key's older
    * twins via [[upsertMor]]'s append + equality-delete commit —
    * O(batch), zero table reads). */
  def commitUpsertTxn(source: DataFrame, root: String, partitionCol: String,
                      keyCols: Seq[String], writerId: String, batchId: Long,
                      statsCols: Seq[String] = Seq.empty,
                      bloomCols: Seq[String] = Seq.empty): Long =
    commitOnce(root, writerId, batchId)(stageUpsertMor(source, root,
      partitionCol, keyCols, _, statsCols, bloomCols, _))

  /** The full-snapshot twin of [[commitAppendTxn]] (a Complete-mode
    * streaming sink replaces the table every trigger). */
  def commitTxn(df: DataFrame, root: String,
                writerId: String, batchId: Long,
                statsCols: Seq[String] = Seq.empty,
                bloomCols: Seq[String] = Seq.empty): Long =
    commitOnce(root, writerId, batchId)(stageVersion(df, root, _,
      statsCols, bloomCols, _))

  private def commitOnce(root: String, writerId: String, batchId: Long)
                        (stage: (Long, Option[Txn]) => Long): Long =
    new graft.sources.TableHandle(None, root)
      .publishOnce(writerId, batchId)(stage).getOrElse(latestVersion(root))

  /** The newest batch `writerId` had committed as of `version`: the
    * stamp in that version's record, or None. */
  private[graft] def txnBatch(root: String, version: Long,
                              writerId: String): Option[Long] =
    commitOf(root, version).txns.collectFirst { case Txn(`writerId`, b) => b }

  /** The newest batch id `writerId` has COMMITTED to this table, or
    * None: the stamp in the published version's record (one record
    * read, no walk). A version undone by [[rollback]] and a claim that
    * crashed before its marker move are not the published version, so
    * a replayed batch re-commits in exactly those states. */
  def lastTxnBatch(root: String, writerId: String): Option[Long] =
    txnBatch(root, latestVersion(root), writerId)

  /** The published version's ancestry, newest first: the `_latest`
    * version, then each recorded parent (one record read per step),
    * ending at a root commit or at a version without a record
    * (expired). */
  private[graft] def publishedChain(root: String): Iterator[Long] =
    Iterator.unfold(latestVersion(root))(v =>
      record(root, v).map(c => v -> c.parent))

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
  private[graft] def stageDeleteWhere(spark: SparkSession, root: String,
                                      partitionCol: String,
                                      predicate: Column,
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
    if (!hasRows(matched)) return -1L
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

  /** Whether a persisted or checkpointed frame holds a row, in ONE job
    * whose tasks each pull at most one row (on a persisted frame that
    * pull also fills the partition's cache block). `head(1)` reads the
    * first partition alone and runs a second job over the rest when that
    * one is empty. */
  private def hasRows(df: DataFrame): Boolean =
    df.queryExecution.toRdd.mapPartitions(it => Iterator(it.hasNext))
      .collect().contains(true)

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
    val b = commitOf(root, base)
    // rows already masked by an equality delete must not re-land as
    // position-delete rows (harmless but unbounded growth otherwise)
    val live = livePositioned(spark, root, base, b)
    val matches = live.filter(predicate)
      .select(col(FileCol), col(PosCol)).persist()
    try {
      if (!hasRows(matches)) return -1L
      val carried = carryMeta(spark, root, base, b)
      stageNext(root, base) { next =>
        // one sidecar file: the delete set is small by the operation's
        // nature (a production writer would target file sizes instead)
        matches.coalesce(1).write.parquet(s"$root/v=$next/_deletes")
        carried.copy(deletes = b.deletes :+ next)
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
                                         keys: DataFrame, base: Long,
                                         txn: Option[Txn] = None): Long = {
    require(base >= 0, s"no committed version at $root")
    val keyCols = keys.columns.toSeq
    require(keyCols.nonEmpty, "equality delete needs at least one key column")
    val b = commitOf(root, base)
    val carried = carryMeta(spark, root, base, b)
    stageNext(root, base, txn) { next =>
      keys.distinct().coalesce(1)
        .write.parquet(s"$root/v=$next/_eqdeletes")
      carried.copy(eqDeletes = b.eqDeletes :+ (next -> keyCols))
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
                                    bloomCols: Seq[String] = Seq.empty,
                                    txn: Option[Txn] = None)
      : Long = {
    require(keyCols.nonEmpty, "upsert needs at least one key column")
    stageManifested(source, root, partitionCol, base, append = true,
      statsCols = statsCols, bloomCols = bloomCols,
      eqDeleteKeys = Some(keyCols), txn = txn)
  }

  /** One CDC batch's staging half (the Debezium batch shape: upserts
    * plus delete tombstones): `upserts` land as [[stageUpsertMor]] and
    * `deleteKeys` chain a [[stageEqualityDelete]] version on it, whose
    * sidecar outranks the batch's own append by the sequence rule — a
    * key carried by both sides ends DELETED (sources that interleave
    * ops per key pre-reduce the batch to its last op per key). Zero
    * table reads, zero rewrites. -1 when both sides are empty. */
  private[graft] def stageCdc(spark: SparkSession, root: String,
                              partitionCol: String, keyCols: Seq[String],
                              upserts: DataFrame, deleteKeys: DataFrame,
                              base: Long, txn: Option[Txn] = None): Long = {
    val hasUp = !upserts.isEmpty
    val v = if (!hasUp) base else stageUpsertMor(upserts, root, partitionCol,
      keyCols, base, txn = txn)
    if (!deleteKeys.isEmpty) stageEqualityDelete(spark, root,
      deleteKeys.select(keyCols.map(col): _*), v, txn)
    else if (hasUp) v
    else -1L
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
    val c = commitOf(root, v)
    c.deletes.size + c.eqDeletes.size
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
    val b = commitOf(root, v)
    if (!b.hasDeletes) return v
    val dels = b.deletes
    val eqs = b.eqDeletes
    val partCol = partitionSpec(root).getOrElse(
      throw new IllegalStateException(
        s"table at $root has MoR deletes but no partition spec"))
    val liveRel = b.entries.map { case (p, sv) => s"v=$sv/$p" }.toSet
    // partition dirs whose live files still carry delete rows
    val dirOf = "^(v=\\d+/(.+))/[^/]+$".r
    def toParts(files: Seq[String]): Seq[String] = files.flatMap {
      case dirOf(full, part) if liveRel.contains(full) => Some(part)
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
        val afterPos = livePositioned(spark, root, v, b, withEqDeletes = false)
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
      stageNext(root, v)(_ => carryMeta(spark, root, v, b)
        .copy(deletes = Seq.empty, eqDeletes = Seq.empty))
    else {
      val partOf = regexp_extract(col(FileCol), "^v=\\d+/(.+)/[^/]+$", 1)
      val survivors = livePositioned(spark, root, v, b)
        .filter(partOf.isin(touched: _*))
        .drop(FileCol, PosCol)
      stageManifested(survivors, root, partCol, v, append = false,
        removeParts = touched.toSet, dropDeletes = true)
    }
  }

  /** `base`'s record `b` carried onto a version that moves no data
    * (metadata-only and delete-only commits): the inherited entries,
    * deletes and defaults, and the schema — inferred once when
    * unrecorded — with field ids re-derived, so the version stays
    * era-resolvable. */
  private def carryMeta(spark: SparkSession, root: String, base: Long,
                        b: Commit): Commit =
    withFieldIds(b, b.schema.getOrElse(
      scan(spark, root, base, b, withPos = false).schema))
      .copy(entries = inheritedEntries(root, base, b,
        partitionSpec(root).getOrElse("<partition>")))

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
    * inherits from `base` (record `b`): its entries if it is
    * manifested — an emptied base (everything deleted/truncated)
    * legitimately inherits nothing — else the plain partitioned
    * commit's own directories. */
  private def inheritedEntries(root: String, base: Long, b: Commit,
                               partitionCol: String): Seq[(String, Long)] =
    if (base < 0) Seq.empty
    else if (b.manifested) b.entries
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

  private def stageManifested(slice: DataFrame, root: String,
                              partitionCol: String, base: Long,
                              append: Boolean,
                              removeParts: Set[String] = Set.empty,
                              statsCols: Seq[String] = Seq.empty,
                              dropDeletes: Boolean = false,
                              bloomCols: Seq[String] = Seq.empty,
                              eqDeleteKeys: Option[Seq[String]] = None,
                              eqDeleteFrame: Option[DataFrame] = None,
                              allowCrossEra: Boolean = false,
                              txn: Option[Txn] = None)
      : Long = {
    require(eqDeleteKeys.isEmpty || eqDeleteFrame.isEmpty,
      "eqDeleteKeys and eqDeleteFrame are exclusive (one sidecar per commit)")
    val b = commitOf(root, base)
    val baseEntries = inheritedEntries(root, base, b, partitionCol)
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
    stageNext(root, base, txn) { next =>
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
      // Carried equality deletes stay correct across a delta rewrite for
      // free: rewritten files land at storage version `next` >= every
      // carried delete version, so the strict sequence rule never
      // re-masks rows the rewrite already resolved, while inherited
      // files stay masked
      val carried = if (dropDeletes) Commit() else b
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
      // record the evolved table schema: base columns keep their TYPE
      // (an append/delta may ADD columns but never silently flip an
      // existing column's type — the Iceberg evolution rule), new slice
      // columns are appended; readers null-fill added columns over files
      // written before they existed
      val baseSchema: Option[types.StructType] =
        if (base < 0 || baseEntries.isEmpty) None
        else b.schema.orElse(Some(read(slice.sparkSession, root, base).schema))
      val evolved = baseSchema match {
        case None => slice.schema
        case Some(bs) => types.StructType(bs.fields ++
          slice.schema.fields.filterNot(f => bs.fieldNames.contains(f.name)))
      }
      // stable field ids ride every manifested commit: base names keep
      // their ids, new columns allocate past the id high-water mark
      // (rename/drop readers resolve physical names through these);
      // the base's defaults ride along
      withFieldIds(b, evolved).copy(
        entries = kept ++ touched.map(_ -> next),
        deletes = carried.deletes, eqDeletes = carried.eqDeletes ++ ownEq)
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

  // ───────── per-file sidecars: stats, blooms, NDV sketches ─────────
  //
  // The manifest's per-file metadata — Iceberg's manifest min/max
  // stats, bloom filters and Puffin NDV sketches — lives in three
  // sidecar kinds ([[Sidecar]]) under one contract:
  // - layout: `v=N/_<kind>`, one row per data file of storage version
  //   N, keyed by the root-relative `_file` (underscore-prefixed, so
  //   data scans never see it);
  // - each kind owns its storage: `_stats` is a small text file in the
  //   commit record's line grammar, written and parsed on the driver
  //   (no Spark job either way — its frame is local); `_blooms` and
  //   `_ndv` are tiny parquet dirs (their frames scan data anyway);
  // - a commit writes its sidecars straight into its own, still
  //   unpublished `v=N` ([[commitChecksAndStats]]);
  // - a backfill (the `collect*` ANALYZE family, [[backfill]]) writes
  //   the existing plus the requested columns to a tmp name, then
  //   swaps it in with an exclusive move ([[writeSidecar]]);
  // - coverage is the union over the storage versions the read
  //   references ([[coverageOf]]).
  // Stats are their own file, not lines of `_commit`: the record is
  // write-once, while a backfill rewrites a published version's stats.
  // Sidecars only ever refute or answer from metadata: a file without
  // one is kept by every pruning path and makes every metadata-answer
  // path decline — an IO cost, never an answer change.

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
    * `statsCols`; written on the driver, no job), bloom sidecars, and
    * sketches for the declared auto-NDV columns ([[setNdvColumns]]:
    * one column-pruned scan of the new files, the O(batch) tax it opts
    * into). Footers are what the write job's tasks just produced, so
    * the common path reads ZERO data bytes and runs ZERO jobs after
    * the write itself; only footer-unusable columns (INT96 timestamps,
    * FP NaN semantics — see [[FooterStats]]) or unprovable constraints
    * fall back to one column-pruned scan. Returns the footer pass (its
    * Spark schema is what the version records). */
  private def commitChecksAndStats(spark: SparkSession, root: String,
                                   version: Long, statsCols: Seq[String],
                                   bloomCols: Seq[String])
      : Seq[FooterStats.FileStat] = {
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
    writeSidecar(root, version, Stats, completeStats(spark, root, version,
      (statsCols ++ autoNdv).distinct, footer))
    if (bloomCols.nonEmpty)
      writeSidecar(root, version, Blooms,
        Blooms.frame(spark, root, version, bloomCols))
    if (autoNdv.nonEmpty && footer.nonEmpty)
      writeSidecar(root, version, Ndv,
        Ndv.frame(spark, root, version, autoNdv))
    footer
  }

  /** One sidecar kind: its `v=N/` name, its storage (`load` the
    * sidecar at a path, `store` a frame to one — parquet unless the
    * kind says otherwise), the columns a recorded sidecar covers, its
    * frame builder over storage version `sv`'s files (None: nothing to
    * record), and the memo caches a backfill of it invalidates. */
  private sealed abstract class Sidecar(val dir: String) {
    def covered(sidecar: DataFrame): Seq[String]
    def frame(spark: SparkSession, root: String, sv: Long,
              cols: Seq[String]): Option[DataFrame]
    def load(spark: SparkSession, path: String): DataFrame =
      spark.read.parquet(path)
    def store(f: DataFrame, out: String): Unit =
      f.coalesce(1).write.mode("overwrite").parquet(out)
    def clearCaches(): Unit = ()
  }

  /** `__rows` plus typed `c__min`/`c__max` per column, footer-lifted
    * ([[completeStats]]): manifest data skipping and metadata counts.
    *
    * Stored as TEXT in the commit record's line grammar: one
    * `!column name<TAB>type-json` record per frame column, then one
    * line per data file with its values TAB-separated. Values are
    * Catalyst INTERNAL values — date days, timestamp micros, decimal
    * `unscaled:scale`, base64 binary, Java float/double text (NaN,
    * ±Infinity and -0.0 included), escaped strings (`\\`, `\t`,
    * `\n`, `\r`) — so no session time zone touches a bound and every
    * bound round-trips exactly; `\N` is null. A column of any other
    * type records no bounds (uncovered: pruning keeps its files,
    * metadata answers decline). */
  private case object Stats extends Sidecar("_stats") {
    def covered(st: DataFrame): Seq[String] = suffixed(st, "__min")
    def frame(spark: SparkSession, root: String, sv: Long,
              cols: Seq[String]): Option[DataFrame] =
      completeStats(spark, root, sv, cols, FooterStats.collect(spark,
        MetaIO.join(root), MetaIO.join(root, s"v=$sv"), cols))
    override def clearCaches(): Unit = {
      fastBoundsCache.clear()
      fastRangesCache.clear()
    }

    override def load(spark: SparkSession, path: String): DataFrame =
      loadAll(spark, Seq(path))

    /** The stats files at `paths` as ONE local frame (it collects on
      * the driver, no job), columns unioned by name, absent ones null —
      * what a `unionByName` of their frames answers, without the job a
      * union plan collects with. A column typed differently across
      * files falls back to that union (its type widening). */
    def loadAll(spark: SparkSession, paths: Seq[String]): DataFrame = {
      val parsed = paths.map(p => parse(MetaIO.readString(p)))
      val fields = parsed.flatMap(_._1.fields).distinct
      if (fields.map(_.name).distinct.size < fields.size)
        parsed.map { case (sc, rows) => spark.createDataFrame(rows.asJava, sc) }
          .reduce(_.unionByName(_, allowMissingColumns = true))
      else spark.createDataFrame(parsed.flatMap { case (sc, rows) =>
        rows.map(r => org.apache.spark.sql.Row.fromSeq(fields.map { f =>
          val i = sc.fieldNames.indexOf(f.name)
          if (i < 0) null else r.get(i)
        }))
      }.asJava, types.StructType(fields))
    }

    // the frames stored here are local (footer-lifted) unless a
    // fallback scan built them
    override def store(f: DataFrame, out: String): Unit = {
      val keep = f.schema.fields.toSeq.zipWithIndex
        .filter { case (fl, _) => encodable(fl.dataType) }
      val rows = f.collect().toSeq
      MetaIO.writeString(out, (keep.map { case (fl, _) =>
        s"!column ${escape(fl.name)}\t${escape(fl.dataType.json)}" } ++
        rows.map(r => keep.map { case (fl, i) =>
          encode(r.get(i)) }.mkString("\t"))).mkString("\n"))
    }

    private def parse(text: String)
        : (types.StructType, Seq[org.apache.spark.sql.Row]) = {
      val (heads, body) = text.split("\n").toSeq.filter(_.nonEmpty)
        .partition(_.startsWith("!"))
      val schema = types.StructType(heads.map { l =>
        require(l.startsWith("!column "), s"unknown stats record line '$l'")
        val Array(n, t) = l.stripPrefix("!column ").split("\t", -1)
        types.StructField(unescape(n), types.DataType.fromJson(unescape(t)))
      })
      (schema, body.map(l => org.apache.spark.sql.Row.fromSeq(
        l.split("\t", -1).toSeq.zip(schema.fields)
          .map { case (v, fl) => decode(v, fl.dataType) })))
    }

    private def encodable(dt: types.DataType): Boolean = dt match {
      case types.ByteType | types.ShortType | types.IntegerType |
           types.LongType | types.FloatType | types.DoubleType |
           types.BooleanType | types.StringType | types.BinaryType |
           types.DateType | types.TimestampType |
           types.TimestampNTZType | _: types.DecimalType => true
      case _ => false
    }

    private def encode(v: Any): String = v match {
      case null => "\\N"
      case d: java.math.BigDecimal => s"${d.unscaledValue}:${d.scale}"
      case b: Array[Byte] => java.util.Base64.getEncoder.encodeToString(b)
      // dates → days, timestamps → micros, strings → their text
      case _ => escape(CatalystTypeConverters.convertToCatalyst(v).toString)
    }

    // java.time values: the local frame's converters take them exactly,
    // with no calendar rebase or session zone in between
    private def decode(s: String, dt: types.DataType): Any =
      if (s == "\\N") null
      else dt match {
        case types.ByteType => s.toByte
        case types.ShortType => s.toShort
        case types.IntegerType => s.toInt
        case types.LongType => s.toLong
        case types.FloatType => s.toFloat
        case types.DoubleType => s.toDouble
        case types.BooleanType => s.toBoolean
        case types.StringType => unescape(s)
        case types.BinaryType => java.util.Base64.getDecoder.decode(s)
        case types.DateType => java.time.LocalDate.ofEpochDay(s.toLong)
        case types.TimestampType => DateTimeUtils.microsToInstant(s.toLong)
        case types.TimestampNTZType =>
          DateTimeUtils.microsToLocalDateTime(s.toLong)
        case _: types.DecimalType =>
          val i = s.indexOf(':')
          new java.math.BigDecimal(new java.math.BigInteger(s.substring(0, i)),
            s.substring(i + 1).toInt)
        case other => throw new IllegalStateException(
          s"unexpected stats column type $other")
      }

    private def escape(s: String): String = s.flatMap {
      case '\\' => "\\\\"
      case '\t' => "\\t"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case c => c.toString
    }

    private def unescape(s: String): String =
      "(?s)\\\\(.)".r.replaceAllIn(s, m => scala.util.matching.Regex
        .quoteReplacement(m.group(1) match {
          case "t" => "\t"
          case "n" => "\n"
          case "r" => "\r"
          case c => c
        }))
  }

  /** (`_file`, `column`, `bits`) rows — point-lookup skipping
    * ([[bloomFrame]]). */
  private case object Blooms extends Sidecar("_blooms") {
    def covered(b: DataFrame): Seq[String] =
      b.select("column").distinct().collect().map(_.getString(0)).toSeq
    def frame(spark: SparkSession, root: String, sv: Long,
              cols: Seq[String]): Option[DataFrame] =
      scanFrame(spark, root, sv, cols)(bloomFrame)
  }

  /** Mergeable HLL sketches, estimates and null counts per column
    * ([[ndvFrame]]) — CBO statistics. */
  private case object Ndv extends Sidecar("_ndv") {
    def covered(n: DataFrame): Seq[String] = suffixed(n, "__hll")
    def frame(spark: SparkSession, root: String, sv: Long,
              cols: Seq[String]): Option[DataFrame] =
      scanFrame(spark, root, sv, cols)(ndvFrame)
    override def clearCaches(): Unit = ndvTableCache.clear()
  }

  private def suffixed(df: DataFrame, suffix: String): Seq[String] =
    df.columns.toSeq.filter(_.endsWith(suffix)).map(_.stripSuffix(suffix))

  /** `build` over storage version `sv`'s data, restricted to the `cols`
    * the data has (None when it has none of them). */
  private def scanFrame(spark: SparkSession, root: String, sv: Long,
                        cols: Seq[String])
                       (build: (DataFrame, Seq[String]) => DataFrame)
      : Option[DataFrame] = {
    val df = spark.read.parquet(s"$root/v=$sv")
    val present = cols.filter(df.columns.contains)
    if (present.isEmpty) None else Some(build(df, present))
  }

  private def sidecarPath(root: String, sv: Long, kind: Sidecar): String =
    MetaIO.join(root, s"v=$sv", kind.dir)

  /** Storage version `sv`'s `kind` sidecar (None when it has none). */
  private def readSidecar(spark: SparkSession, root: String, sv: Long,
                          kind: Sidecar): Option[DataFrame] =
    Option.when(MetaIO.exists(sidecarPath(root, sv, kind)))(
      kind.load(spark, sidecarPath(root, sv, kind)))

  /** Write `frame`, if any, as `sv`'s `kind` sidecar; true when written.
    * A commit writes straight into its unpublished `v=N`. With `swap`
    * (a backfill of a published version) the frame goes to a tmp name,
    * the old sidecar is dropped, then the exclusive move lands the new
    * one (on object stores an arbiter-decided copy + delete: racing
    * recomputes lose loudly instead of interleaving files); a reader
    * in the window between drop and move keeps every file. */
  private def writeSidecar(root: String, sv: Long, kind: Sidecar,
                           frame: Option[DataFrame],
                           swap: Boolean = false): Boolean =
    frame.exists { f =>
      val target = sidecarPath(root, sv, kind)
      val out = if (!swap) target else MetaIO.join(root, s"v=$sv",
        s".${kind.dir.stripPrefix("_")}.new-${java.util.UUID.randomUUID()}")
      kind.store(f, out)
      if (swap) {
        MetaIO.delete(target, recursive = true)
        MetaIO.moveTree(out, target)
      }
      true
    }

  /** Columns `kind` covers in ANY storage version `version` references
    * — the `*.columns` inspection properties. */
  private def coverageOf(root: String, version: Long,
                         kind: Sidecar): Seq[String] = {
    val v = if (version >= 0) version else latestVersion(root)
    if (v < 0) Seq.empty
    else storageVersions(root, v)
      .flatMap(readSidecar(SparkSession.active, root, _, kind))
      .flatMap(kind.covered).distinct.sorted
  }

  /** BACKFILL `kind` sidecars for files that already exist, without
    * rewriting a byte of data: one frame build per storage version
    * whose sidecar is missing or lacks a requested column, over only
    * that version's files, with its previously covered columns
    * recomputed alongside (preserved). Covered versions are skipped
    * (idempotent). Returns the storage versions recomputed. */
  private def backfill(spark: SparkSession, root: String, kind: Sidecar,
                       cols: Seq[String], version: Long): Seq[Long] = {
    val v = if (version >= 0) version else latestVersion(root)
    require(v >= 0, s"no committed version at $root")
    val done = storageVersions(root, v).filter { sv =>
      val have = readSidecar(spark, root, sv, kind).map(kind.covered)
      !have.exists(h => cols.forall(h.contains)) &&
        writeSidecar(root, sv, kind, kind.frame(spark, root, sv,
          (have.getOrElse(Seq.empty) ++ cols).distinct), swap = true)
    }
    kind.clearCaches()
    done
  }

  /** The ANALYZE coverage of a version, per sidecar kind — what a
    * rewrite must re-record so a compacted table keeps its skipping
    * stats, blooms and NDV sketches (the staleness trap Iceberg
    * documents on `rewrite_data_files`). */
  private[graft] final case class Coverage(stats: Seq[String],
                                           blooms: Seq[String],
                                           ndv: Seq[String]) {
    /** Re-sketch NDV after the rewrite committed `version` (stats and
      * blooms re-record through the commit's own footer pass). */
    def resketch(spark: SparkSession, root: String,
                 version: Long = -1L): Unit =
      if (ndv.nonEmpty) collectNdv(spark, root, ndv, version)
  }

  private[graft] def coverage(root: String, version: Long = -1L): Coverage =
    Coverage(statsCoverage(root, version), bloomCoverage(root, version),
      ndvCoverage(root, version))

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
    * columns differ by table; None when the version carries none) — a
    * local frame: it collects without a job. */
  def fileStats(spark: SparkSession, root: String,
                version: Long): Option[DataFrame] =
    readSidecar(spark, root, version, Stats)

  /** The stats of storage versions `svs` as ONE local frame (what a
    * `unionByName` of their [[fileStats]] answers, collected without
    * a job); None when none of them carries stats. */
  private[graft] def fileStatsOf(spark: SparkSession, root: String,
                                 svs: Seq[Long]): Option[DataFrame] = {
    val paths = svs.map(sidecarPath(root, _, Stats)).filter(MetaIO.exists)
    Option.when(paths.nonEmpty)(Stats.loadAll(spark, paths))
  }

  /** Columns with recorded min/max bounds in ANY storage version
    * `version` references — the `stats.columns` inspection property.
    * Schema-only sidecar reads, zero data bytes. */
  def statsCoverage(root: String, version: Long = -1L): Seq[String] =
    coverageOf(root, version, Stats)

  /** BACKFILL stats sidecars ([[backfill]]) — the Iceberg
    * `compute_table_stats` / SQL ANALYZE analog: a table written
    * without `statsCols` (or before the skipping feature) gains
    * per-file min/max bounds + `__rows`, turning on [[readSkipping]]
    * file pruning and [[fastCount]] metadata counts retroactively.
    * Footer-lifted like every commit. Returns the storage versions
    * recomputed. */
  def collectStats(spark: SparkSession, root: String,
                   statsCols: Seq[String], version: Long = -1L): Seq[Long] = {
    require(statsCols.nonEmpty, "collectStats needs at least one column")
    backfill(spark, root, Stats, statsCols, version)
  }

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
    fastBoundsFiles(spark, root, column, v, liveFiles(root, v))
  }

  /** The recorded non-null (min, max) bounds of `column` over exactly
    * `files` (root-relative) — the shared fold of every bounds answer.
    * None when `files` is empty, any of them lacks recorded bounds, or
    * a merge-on-read delete is unapplied; all-null files record null
    * bounds and contribute none (None when no file has any). */
  private def fileBounds(spark: SparkSession, root: String, column: String,
                         version: Long, files: Seq[String])
      : Option[Seq[(Any, Any)]] = {
    if (files.isEmpty) return None
    if (commitOf(root, version).hasDeletes) return None
    val want = files.toSet
    val stats = files.map(svOf).distinct.sorted
      .flatMap(fileStats(spark, root, _))
      .filter(st => st.columns.contains(s"${column}__min"))
      .flatMap(_.select(col("_file"), col(s"${column}__min"),
        col(s"${column}__max")).collect())
      .map(r => (decodeReportedPath(r.getString(0)), r.get(1), r.get(2)))
      .filter { case (f, _, _) => want(f) }
    if (stats.map(_._1).toSet != want) return None
    Some(stats.collect { case (_, lo, hi) if lo != null && hi != null =>
      (lo, hi) }).filter(_.nonEmpty)
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
      : Option[(Any, Any)] =
    fileBounds(spark, root, column, version, files).map { b =>
      implicit val ord: Ordering[Any] = statValueOrdering
      (b.map(_._1).min, b.map(_._2).max)
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
    if (maxRanges < 1) return None
    val ord = statValueOrdering
    val sorted = fileBounds(spark, root, column, version, files)
      .getOrElse(return None).sortWith((a, b) => ord.lt(a._1, b._1))
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
    val computed =
      fastBoundsRangesFiles(spark, root, column, v, liveFiles(root, v),
        maxRanges)
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
    liveFiles(root, v).map(f => MetaIO.size(MetaIO.join(root, f))).sum
  }

  /** (every candidate data file of version `v`, the recorded per-file
    * row counts) — the shared metadata walk of the count paths. */
  private def countedFiles(spark: SparkSession, root: String,
                           v: Long): (Seq[String], Map[String, Long]) = {
    // stats paths are Spark-reported (URI-encoded) — decode them to
    // the raw filesystem form the live-file listing uses
    val counted: Map[String, Long] = storageVersions(root, v)
      .flatMap(fileStats(spark, root, _))
      .filter(_.columns.contains("__rows"))
      .map(_.select("_file", "__rows").collect()
        .map(r => decodeReportedPath(r.getString(0)) -> r.getLong(1))
        .toMap)
      .foldLeft(Map.empty[String, Long])(_ ++ _)
    (liveFiles(root, v), counted)
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

  /** Bloom geometry of the `_blooms` sidecar: 8192 bits (128 longs ≈
    * 1 KB per file per column), 3 probes — ~1-2% false positives at ~1k
    * distinct values/file. Min/max bounds cannot prune a point lookup
    * over UNSORTED data (every file's range spans the key space); a
    * file whose filter misses any probe of a literal CANNOT hold it. */
  private val BloomBits = 8192
  private val BloomWords = BloomBits / 64
  private val BloomK = 3

  /** The k probe positions of a value, as column expressions — double
    * hashing pos_i = (xxhash64 + i·murmur3) mod m, both seeds Spark's
    * defaults so [[probeBits]] reproduces them driver-side for a
    * literal (the file sidecars and the dim-key runtime bloom alike).
    * Long overflow wraps identically in both places. */
  private[graft] def probeColsAt(c: Column, mBits: Long, k: Int): Seq[Column] =
    (0 until k).map(i =>
      pmod(xxhash64(c) + lit(i.toLong) * hash(c).cast("long"),
        lit(mBits)))

  /** [[probeColsAt]]'s positions, driver-side, for a value hashed by
    * [[literalHashes]]. */
  private[graft] def probeBits(h: (Long, Long), mBits: Long,
                               k: Int): Seq[Long] =
    (0 until k).map(i => Math.floorMod(h._1 + i.toLong * h._2, mBits))

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

  /** The (xxhash64, murmur3) pair of a literal CAST TO the column's
    * recorded type — the shared driver-side half of every bloom probe
    * derivation (hashing an int literal against a long column would
    * probe the wrong bits and falsely refute, so an impossible cast or
    * a null result yields None and the file is kept). */
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
    probeBits(h, BloomBits, BloomK).flatMap(p => Seq(p / 64, 1L << (p % 64)))

  /** "All k probe bits set" on a `_blooms` row's `bits`: probe i's
    * (1-based word index, bit mask) from `probe` — the sidecar
    * might-contain test of [[bloomRefuted]] and [[bloomKeysKept]]. */
  private def bloomMay(probe: Int => (Column, Column)): Column =
    (0 until BloomK).map { i =>
      val (word, mask) = probe(i)
      (element_at(col("bits"), word).bitwiseAND(mask)) =!= lit(0L)
    }.reduce(_ && _)

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
    val blooms = candidates.map(svOf).distinct.sorted
      .flatMap(fileBlooms(spark, root, _))
      .reduceOption(_.unionByName(_))
      .getOrElse(return candidates)
    val mayAny = exists(typedLit(keyProbes), t => bloomMay(i =>
      (element_at(t, i * 2 + 1).cast("int") + 1, element_at(t, i * 2 + 2))))
    val refuted = blooms.filter(col("column") === column).filter(!mayAny)
      .select("_file").collect()
      .map(r => decodeReportedPath(r.getString(0))).toSet
    candidates.filterNot(refuted)
  }

  /** The per-file bloom frame over storage version data `df`: one
    * distributed aggregation per covered column (the write's own cost
    * class; a production writer lifts parquet's built-in column bloom
    * filters instead of rescanning). */
  private def bloomFrame(df: DataFrame, present: Seq[String]): DataFrame =
    present.map { c =>
      df.select(input_file_name().as("_file"),
          explode(array(probeColsAt(col(c), BloomBits, BloomK): _*))
            .as("p"))
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

  /** BACKFILL bloom sidecars ([[backfill]]) — the point-lookup twin of
    * [[collectStats]]: pre-bloom tables gain per-(file, column) filters
    * without rewriting data, turning on equality/IN file pruning on
    * hash/unsorted layouts where min/max bounds refute nothing.
    * Returns the storage versions recomputed. */
  def collectBlooms(spark: SparkSession, root: String,
                    bloomCols: Seq[String], version: Long = -1L): Seq[Long] = {
    require(bloomCols.nonEmpty, "collectBlooms needs at least one column")
    backfill(spark, root, Blooms, bloomCols, version)
  }

  /** The recorded per-file bloom filters of a storage version (None
    * when it carries none). */
  def fileBlooms(spark: SparkSession, root: String,
                 version: Long): Option[DataFrame] =
    readSidecar(spark, root, version, Blooms)

  /** Columns with recorded bloom filters in ANY storage version
    * `version` references — the `bloom.columns` inspection property
    * (one tiny sidecar scan per referenced version). */
  def bloomCoverage(root: String, version: Long = -1L): Seq[String] =
    coverageOf(root, version, Blooms)

  /** The top-level conjuncts of a parsed predicate. */
  private def conjuncts(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = {
    import org.apache.spark.sql.catalyst.expressions.And
    e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
  }

  /** The top-level `c = lit` / `c IN (lits)` conjuncts of a parsed
    * predicate, as (column, literals) — what blooms and hashed or
    * string-truncated partition values can refute. */
  private def eqLeaves(
      parsed: org.apache.spark.sql.catalyst.expressions.Expression)
      : Seq[(String, Seq[org.apache.spark.sql.catalyst.expressions.Literal])] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{EqualTo, In, Literal => CLit}
    conjuncts(parsed).collect {
      case EqualTo(a: UnresolvedAttribute, l: CLit) =>
        a.nameParts.last -> Seq(l)
      case EqualTo(l: CLit, a: UnresolvedAttribute) =>
        a.nameParts.last -> Seq(l)
      case In(a: UnresolvedAttribute, ls) if ls.forall(_.isInstanceOf[CLit]) =>
        a.nameParts.last -> ls.map(_.asInstanceOf[CLit])
    }
  }

  /** Files DEFINITELY not containing any of the predicate's equality
    * literals, per its [[eqLeaves]] over bloom-covered columns. A file
    * is refuted by a conjunct iff for EVERY literal some probe bit is
    * clear; files without a filter row for the column are never
    * refuted. */
  private def bloomRefuted(spark: SparkSession, root: String, v: Long,
                           statVersions: Seq[Long],
                           parsed: org.apache.spark.sql.catalyst.expressions.Expression): Set[String] = {
    val blooms = statVersions
      .flatMap(fileBlooms(spark, root, _))
      .reduceOption(_.unionByName(_))
      .getOrElse(return Set.empty)
    val schema = recordedSchema(root, v).getOrElse(read(spark, root, v).schema)
    eqLeaves(parsed).flatMap { case (c, lits) =>
      val dtOpt = schema.fields.find(_.name == c).map(_.dataType)
      val probes = dtOpt.map(dt =>
        lits.map(literalHashes(_, dt).map(fileBloomProbeWords)))
      probes match {
        case Some(ps) if ps.forall(_.isDefined) =>
          val mayAny = ps.flatten.map(ws => bloomMay(i =>
            (lit(ws(2 * i).toInt + 1), lit(ws(2 * i + 1))))).reduce(_ || _)
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
    * (the [[literalHashes]] discipline — hashing an int literal
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
    import org.apache.spark.sql.catalyst.expressions.{Cast, Murmur3Hash, Literal => CLit}
    // one (field, files) task per era × spec field — each field of a
    // multi-column spec refutes independently. Identity fields prune
    // too: their directory value is an exact [v, v] bound on the data
    // column (classic partition pruning, done here at the manifest
    // file listing).
    val history = specHistory(root)
    val transforms = candidates.groupBy(f => specAt(history, svOf(f)))
      .toSeq.flatMap { case (specOpt, fs) =>
        specOpt.toSeq.flatMap(parseSpecs).map(_ -> fs)
      }
    if (transforms.isEmpty) return Set.empty
    lazy val schema: types.StructType =
      recordedSchema(root, v).getOrElse(read(spark, root, v).schema)
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
      eqLeaves(parsed).collect { case (c, lits) if c == src => lits }
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
    val candidates = liveFiles(root, v)
    val statVersions = storageVersions(root, v)
    val parsed = spark.sessionState.sqlParser.parseExpression(predicate)
    val stats = fileStatsOf(spark, root, statVersions)
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
    if (minRows <= 0 || commitOf(root, v).hasDeletes) return read(spark, root, v)
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

  private def topNFileMeta(spark: SparkSession, root: String,
                           svs: Seq[Long],
                           candidates: Set[String], cols: Seq[String],
                           tableSchema: () => types.StructType)
      : TopNMeta = {
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
    val history = specHistory(root)
    candidates.groupBy(f => specAt(history, svOf(f))).foreach {
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
    if (commitOf(root, version).hasDeletes) return None
    // under a pushed filter the caller hands the skipping survivors —
    // the prefix search runs over exactly the files the scan would read
    val candidates: Set[String] =
      candidatesOverride.getOrElse(liveFiles(root, version)).toSet
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
    val meta = topNFileMeta(spark, root, storageVersions(root, version),
      candidates, (column +: filterCols).distinct, () => tblSchema)
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
    if (kept.isEmpty) return filtered(read(spark, root, v).limit(0))
    // read()'s manifested path over FILES: schema from version
    // metadata, field-id era projection, one scan per spec era — and
    // unapplied MoR delete files mask their rows here exactly as in
    // [[read]]
    val c = commitOf(root, v)
    filtered(resolveDeletes(spark, root, c,
      scanSpecEras(spark, root, c, kept, c.hasDeletes)))
  }

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

  /** The recorded per-file NDV sketches of a storage version (None
    * when it carries none). */
  def fileNdv(spark: SparkSession, root: String,
              version: Long): Option[DataFrame] =
    readSidecar(spark, root, version, Ndv)

  /** Columns with recorded NDV sketches in ANY storage version
    * `version` references — the `ndv.columns` inspection property. */
  def ndvCoverage(root: String, version: Long = -1L): Seq[String] =
    coverageOf(root, version, Ndv)

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

  /** BACKFILL NDV sketch sidecars ([[backfill]]) — the Iceberg
    * `compute_table_stats` (Puffin theta) analog. Returns the storage
    * versions recomputed. */
  def collectNdv(spark: SparkSession, root: String,
                 ndvCols: Seq[String], version: Long = -1L): Seq[Long] = {
    require(ndvCols.nonEmpty, "collectNdv needs at least one column")
    val v = if (version >= 0) version else latestVersion(root)
    // ONE analyze call yields full CBO statistics: Catalyst's range-
    // overlap check treats a counts-only numeric ColumnStat as an
    // all-null column (NullRange -> "disjoint" -> zero-row joins), so
    // NDV is only usable next to min/max bounds — backfill them
    // through the footer-lifted stats path for the same columns
    collectStats(spark, root, ndvCols, v)
    backfill(spark, root, Ndv, ndvCols, v)
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
      // no sidecar anywhere: no listing, no jobs
      val frames = storageVersions(root, v).flatMap(fileNdv(spark, root, _))
      val candidates =
        if (frames.isEmpty) Set.empty[String] else liveFiles(root, v).toSet
      lazy val byFile = frames
        .reduce(_.unionByName(_, allowMissingColumns = true))
        .collect().map(r =>
          decodeReportedPath(r.getAs[String]("_file")) -> r).toMap
      if (candidates.isEmpty || !candidates.forall(byFile.contains))
        Map.empty
      else {
        val rows = candidates.toSeq.map(byFile)
        frames.flatMap(Ndv.covered).distinct.flatMap { c =>
          val sketches = rows.map { r =>
            val i = r.fieldIndex(s"${c}__hll")
            if (r.isNullAt(i)) null else r.getAs[Array[Byte]](i)
          }
          if (sketches.contains(null)) None // partial column coverage
          else {
            val est = spark
              .createDataset(sketches)(org.apache.spark.sql.Encoders.BINARY)
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
    * carries no commit record (its staging never finished — data,
    * sidecars or a `._commit.tmp-*` leftover may sit there), no ref or
    * marker points at it, and it is older than `graceMs` (protecting a
    * commit legitimately in flight right now — the same `older_than`
    * guard Iceberg's procedure takes). Returns the versions removed. */
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

  /** Remove commit locks older than `graceMs` ([[Refs.sweepStaleLocks]]).
    * Returns the branch names whose lock was removed. */
  def sweepStaleLocks(root: String, graceMs: Long = 3600000L): Seq[String] =
    Refs.sweepStaleLocks(root, graceMs)
}
