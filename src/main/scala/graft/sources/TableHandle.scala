package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

import graft.operators.{Catalog, SnapshotTable}

/** One graft table, plain or governed: a plain snapshot table is its
  * root (`catalog` = None, `name` = the root), a governed one is table
  * `name` of the catalog at `catalog`. The SQL table ([[GraftTable]]),
  * the SQL DML ([[GraftDml]]), the streaming source and sink
  * ([[GraftStreaming]]) and every exactly-once writer
  * ([[publishOnce]]) read and publish through this handle, and it is
  * the one place that tells the two kinds apart.
  *
  * An OFFSET orders a table's history: a plain table's version, or a
  * catalog commit of a governed one (a commit may leave the table
  * untouched). The type is public only so the DML commands, which live
  * in Spark's package, can carry it; everything it offers is
  * `private[graft]`. */
final class TableHandle private[graft] (
    private[graft] val catalog: Option[String],
    private[graft] val name: String) {

  /** The table's version store. */
  private[graft] val root: String =
    catalog.fold(name)(Catalog.tableRoot(_, name))

  /** The newest offset (-1 = none). */
  private[graft] def latest: Long =
    catalog.fold(SnapshotTable.latestVersion(root))(Catalog.latestCommit)

  /** The table version offset `p` names (-1 = the table did not exist). */
  private[graft] def versionAt(p: Long): Long = catalog match {
    case _ if p < 0 => -1L
    case None => p
    case Some(cat) => Catalog.tableVersions(cat, p).getOrElse(name, -1L)
  }

  /** The offset tag `tag` names: a plain table's own tag, a catalog
    * tag of a governed one. */
  private def tagOffset(tag: String): Long =
    catalog.fold(SnapshotTable.tagVersion(root, tag))(Catalog.tagCommit(_, tag))

  /** The table version at tag `tag`. */
  private[graft] def tagVersion(tag: String): Long = versionAt(tagOffset(tag))

  /** The table version at the head of branch `branch`: a plain table's
    * own branch, a catalog branch of a governed one. */
  private[graft] def branchVersion(branch: String): Long = catalog match {
    case None => SnapshotTable.branchVersion(root, branch)
    case Some(cat) => Catalog.branchVersions(cat, branch).getOrElse(name, -1L)
  }

  /** The table version a `VERSION AS OF` pin names: an offset, else a
    * tag, else a branch head. Only the tag lookup itself falls through
    * to the branch: a table absent at a valid tag reads -1. */
  private[graft] def versionOf(pin: String): Long = pin.toLongOption match {
    case Some(p) => versionAt(p)
    case None => scala.util.Try(tagOffset(pin)).toOption match {
      case Some(p) => versionAt(p)
      case None => branchVersion(pin)
    }
  }

  /** The newest offset committed at or before `ms` (epoch millis):
    * `TIMESTAMP AS OF`. A plain table walks its PUBLISHED chain (the
    * marker's version, then its recorded parents): rollback only moves
    * the marker, so rolled-back and never-published versions are off
    * it, and commit times grow along it. A governed table resolves
    * through [[Catalog.resolveAsOf]]. */
  private[graft] def offsetAsOf(ms: Long): Long = catalog match {
    case None =>
      val v = SnapshotTable.publishedChain(root)
        .find(SnapshotTable.commitTime(root, _).exists(_ <= ms))
      require(v.nonEmpty, s"no version of $this committed at or before epoch-ms $ms")
      v.get
    case Some(cat) => Catalog.resolveAsOf(cat, ms)
  }

  /** The current table version (-1 = none). */
  private[graft] def version: Long = versionAt(latest)

  /** The schema of the current version. */
  private[graft] def schema(spark: SparkSession): StructType = {
    val v = version
    require(v >= 0, s"no committed version of $this")
    SnapshotTable.read(spark, root, v).schema
  }

  /** Publish one staged version: `stage` gets the base version (-1 =
    * none) and returns the version it staged; -1 or the base means it
    * staged nothing. A plain table moves its marker
    * ([[SnapshotTable.publish]]: a lost race throws), a governed one
    * lands one catalog commit ([[Catalog.publishTable]]: a lost race
    * stages again on the moved table, unless `restage` is false — a
    * stage writing a frame built before the call, which may have read
    * the table, must not land on top of another writer's rows). Returns
    * the new version (plain) or catalog commit (governed); the base
    * when nothing was staged. */
  private[graft] def publish(stage: Long => Long,
                             restage: Boolean = true): Long =
    catalog match {
      case None => SnapshotTable.publish(root)(stage)
      case Some(cat) => Catalog.publishTable(cat, name, restage)(stage)
    }

  /** Publish one staged version EXACTLY ONCE per batch of the
    * idempotent writer `writer` — the one protocol of every
    * exactly-once writer, plain or governed. A replay (`batchId` at or
    * below the writer's stamp in the base version's record,
    * [[SnapshotTable.Txn]]) stages nothing; otherwise `stage(base,
    * stamp)` stages with the stamp, so the stamp publishes atomically
    * with the rows. The check runs inside the stage: a governed writer
    * that lost a publish race checks again on the moved table. Returns
    * the new offset, or None on a replay or when nothing was staged. */
  private[graft] def publishOnce(writer: String, batchId: Long)
      (stage: (Long, Option[SnapshotTable.Txn]) => Long): Option[Long] = {
    val txn = Some(SnapshotTable.Txn(writer, batchId))
    var staged = false
    val offset = publish { base =>
      val v =
        if (SnapshotTable.txnBatch(root, base, writer).exists(_ >= batchId)) -1L
        else stage(base, txn)
      staged = v >= 0 && v != base
      v
    }
    Option.when(staged)(offset)
  }

  /** Fold the table's merge-on-read sidecars once their count
    * ([[SnapshotTable.morDebt]]) reaches `threshold` (0 disables): each
    * unfolded sidecar adds a broadcast anti-join to every read.
    * Best-effort: a fold that loses a race leaves the debt to a later
    * call or the maintenance cadence. */
  private[graft] def foldIfOverdue(spark: SparkSession, threshold: Int): Unit = {
    val v = version
    if (threshold > 0 && v >= 0 && SnapshotTable.morDebt(root, v) >= threshold)
      try catalog match {
        case None => SnapshotTable.applyDeletes(spark, root)
        case Some(cat) => Catalog.foldTable(spark, cat, name)
      } catch { case _: java.util.ConcurrentModificationException => () }
  }

  /** The DSv2 table name. */
  override def toString: String =
    catalog.fold(s"graft.`$root`")(cat => s"governed.`$cat`.$name")
}
