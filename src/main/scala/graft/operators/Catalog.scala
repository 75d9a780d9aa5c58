package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.sources.TableHandle

/** Multi-table catalog with ATOMIC cross-table commits — the Nessie
  * analog (`infrastructure/init/nessie_setup.py:1-75`).
  *
  * [[SnapshotTable]] gives each table its own versioned history, but
  * its refs are per-table: bronze, silver, and the marts cannot move
  * together, so a reader can observe silver ahead of the marts built
  * from it. The reference avoids that by committing table state to a
  * catalog whose commits span tables; this is the same protocol over
  * directories:
  *
  * {{{
  *   <root>/tables/<name>/      a SnapshotTable version store (no
  *                              per-table refs — the catalog owns state)
  *   <root>/_commits/c=N        manifest: "<table> <version>" lines
  * }}}
  * plus the head (the current commit), the branch and tag refs and the
  * commit lock in the layout [[Refs]] owns.
  *
  * A transaction STAGES a new fully-written version in every updated
  * table (data files on disk, nothing published), writes the next
  * manifest mapping every table to its version, and publishes with ONE
  * atomic marker move. Readers resolve every table through one
  * manifest, so they always see a consistent cross-table state: either
  * all of a transaction's tables or none. A crash mid-transaction
  * leaves only unpublished staged versions and possibly an unreferenced
  * manifest — invisible to readers, removed by [[expireCommits]].
  *
  * Concurrency is optimistic, like Nessie's CAS on a branch head: the
  * publish section is a [[Refs.advance]] of main (under the same commit
  * lock as [[SnapshotTable]] commits and every other head move) and re-checks
  * that every table the commit touches still sits where the
  * committer's base had it — of two committers staging the same table
  * from the same base exactly one publishes; the loser gets
  * `ConcurrentModificationException`. [[publish]] is the one catalog
  * commit protocol every governed writer goes through: it reads the
  * base, runs the writer's stage against the base's table map, and
  * commits. A lost race is retried in one loop — at most
  * [[PublishAttempts]] attempts, sleeping 50 ms × attempt between
  * them, the last loss thrown with the earlier ones attached as
  * suppressed exceptions: a busy commit lock re-commits the versions
  * already staged, a version-claim collision stages again, and a moved
  * touched table re-stages on the new base — except for a stage over
  * frames built before the call ([[transact]], [[transactDelta]]),
  * where that loss is thrown at once.
  * Commit ids are allocated max(existing)+1, NOT base+1, so manifests
  * left behind by [[rollback]] (legitimate roll-forward targets) never
  * block new commits — the same rule as `SnapshotTable.stageVersion`.
  * A `.published.c=N` stamp separates manifests that really published
  * (rollback targets, kept forever while newer than current) from
  * crashed unpublished leftovers (collected by [[expireCommits]] after
  * a grace period).
  *
  * Scale: staging is the distributed work (one parquet job per updated
  * table); the commit point is one tiny file create + one marker
  * rename, no matter how many tables or how much data moved. Catalog
  * metadata is O(tables × commits) driver-side text.
  */
object Catalog {

  private def commitsDir(root: String) = MetaIO.join(root, "_commits")
  private def manifestPath(root: String, commit: Long): String =
    MetaIO.join(commitsDir(root), s"c=$commit")

  /** Filesystem root of `table`'s version store. */
  def tableRoot(root: String, table: String): String = {
    require(table.matches("[A-Za-z0-9._-]+"), s"invalid table name '$table'")
    s"$root/tables/$table"
  }

  /** Latest published catalog commit, or -1 before any. */
  def latestCommit(root: String): Long = Refs.head(root)

  /** All manifest ids present on disk, ascending (including any
    * unpublished crash leftovers newer than the marker). */
  def commits(root: String): Seq[Long] =
    MetaIO.listNames(commitsDir(root))
      .filter(_.startsWith("c="))
      .map(_.stripPrefix("c=").toLong)
      .sorted

  /** The table → version mapping at `commit` (default: the latest
    * published commit; empty before any commit). */
  def tableVersions(root: String, commit: Long = -1L): Map[String, Long] = {
    val c = if (commit >= 0) commit else latestCommit(root)
    if (c < 0) return Map.empty
    val p = manifestPath(root, c)
    require(MetaIO.exists(p), s"unknown catalog commit $c at $root")
    parseManifest(p)
  }

  private def parseManifest(p: String): Map[String, Long] =
    MetaIO.readString(p).linesIterator.filter(_.nonEmpty).map { line =>
      val Array(name, v) = line.split(' ')
      name -> v.toLong
    }.toMap

  /** Tables known to the current catalog state. */
  def tables(root: String): Seq[String] =
    tableVersions(root).keys.toSeq
      .filterNot(_.startsWith(ViewKey)).sorted

  private def publishedStamp(root: String, commit: Long): String =
    MetaIO.join(commitsDir(root), s".published.c=$commit")

  private def deleteManifest(root: String, commit: Long): Unit = {
    MetaIO.delete(manifestPath(root, commit))
    MetaIO.delete(publishedStamp(root, commit))
  }

  /** True iff `commit`'s manifest completed publication (vs a crashed
    * committer's leftover). Published manifests newer than the current
    * marker are rollback's roll-forward targets and survive GC. */
  def isPublished(root: String, commit: Long): Boolean =
    MetaIO.exists(publishedStamp(root, commit))

  /** Atomically commit already-staged table versions on top of `base`:
    * the new manifest carries the CURRENT mapping overlaid with
    * `staged`. Under the commit lock: verify the commit still applies —
    * with the Nessie-style RECONCILIATION rule rather than a whole-
    * catalog CAS: a moved main is fine as long as every table this
    * commit CHANGES (staged at a version other than its base one, or
    * dropped) is unchanged between `base` and the current commit,
    * because the staged versions' parent lineage (and any manifest
    * entries a delta/append stage inherited from the base) is then
    * still exactly the live state. An entry staged at the table's base
    * version is no change when the table's current version descends
    * from it through the recorded parents: it neither conflicts nor
    * replaces the current mapping (a refresh that re-derives silver
    * from an unchanged bronze keeps a concurrently appended bronze). A
    * current version that does not descend from it — a rollback, a
    * dropped table — conflicts like any change. Independent writers to
    * disjoint tables therefore serialize only on the tiny lock section,
    * never on re-staging; a committer whose tables DID move gets
    * [[TablesMoved]] and must re-stage ([[publish]] does where the
    * stage re-reads what it derives from). Then allocate the next id
    * past EVERY manifest on disk (so rollback leftovers never block —
    * max+1, NOT base+1), publish the manifest, stamp it, move the
    * marker. The commit lock is held only for this driver-side
    * section ([[Refs.advance]]); all staging I/O happens before. */
  private[graft] def commitStaged(root: String, staged: Map[String, Long],
                                  base: Long,
                                  drop: Set[String] = Set.empty): Long =
      Refs.advance(root) { current =>
    val curVs = tableVersions(root, current)
    def lost(why: String) = new TablesMoved(
      s"catalog at $root moved from $base to $current and $why; re-stage " +
        "against the current base and retry")
    // tableVersions(-1) means "latest"; a pre-first-commit base is the
    // EMPTY mapping. A base whose manifest GC already collected (a very
    // stale committer) cannot prove anything unchanged — full conflict,
    // UNCONDITIONALLY: a synthesized "shifted" mapping would still
    // compare equal (None == None) for touched tables absent from the
    // CURRENT manifest, letting a stale committer resurrect a
    // concurrently-dropped table against GC-deleted lineage.
    val baseVs =
      if (current == base) curVs
      else if (base < 0) Map.empty[String, Long]
      else scala.util.Try(tableVersions(root, base)).getOrElse(throw lost(
        "the base manifest was garbage-collected — the staged lineage " +
          "cannot be proven current"))
    val changed = staged.filter { case (t, v) => !baseVs.get(t).contains(v) }
    val carriedOff = staged.keySet.filterNot(t => changed.contains(t) ||
      SnapshotTable.isAncestor(tableRoot(root, t), staged(t),
        curVs.getOrElse(t, -1L)))
    val conflicted = (changed.keySet ++ drop ++ carriedOff)
      .filter(t => baseVs.get(t) != curVs.get(t)).toSeq.sorted
    if (conflicted.nonEmpty) throw lost(
      s"touched table(s) ${conflicted.mkString(", ")} changed underneath " +
        "(a concurrent committer won the race on them)")
    val next = (commits(root) :+ math.max(base, current)).max + 1
    val manifest = (curVs -- drop) ++ changed
    MetaIO.mkdirs(commitsDir(root))
    MetaIO.publishString(manifestPath(root, next),
      manifest.toSeq.sortBy(_._1).map { case (n, v) => s"$n $v" }.mkString("\n"))
    // stamp BEFORE the marker move: a crash in between leaves a stamped
    // never-current manifest (harmless — a valid consistent mapping GC
    // keeps), never a published-looking hole. The stamp content is the
    // publish wall time — the commit-log timestamp [[resolveAsOf]]
    // time-travels on.
    MetaIO.writeString(publishedStamp(root, next),
      System.currentTimeMillis().toString)
    next
  }

  /** What a [[publish]] stage staged: manifest key (table or view) →
    * its new version, and the keys the commit removes. */
  private[graft] final case class Staged(versions: Map[String, Long],
                                         drop: Set[String] = Set.empty)

  /** [[commitStaged]]'s refusal: a table the commit touches moved
    * since its base — the staged versions no longer extend the live
    * state. A busy commit lock is a plain
    * `ConcurrentModificationException`. */
  private[graft] final class TablesMoved(msg: String)
      extends java.util.ConcurrentModificationException(msg)

  /** Attempts [[publish]] makes before a lost race is the caller's. */
  private[graft] val PublishAttempts = 6

  /** Publish one catalog commit — the catalog twin of
    * `SnapshotTable.publish`: read the base commit and its table →
    * version map, run `stage(base, tables)`, and hand what it staged
    * to [[commitStaged]]. Returns `Right(new commit)`, or `Left(base)`
    * when the stage staged nothing (None). A lost attempt sleeps
    * 50 ms × attempt and tries again, at most [[PublishAttempts]]
    * times; the last loss is thrown with the earlier ones suppressed:
    *  - a busy commit lock re-commits what is already staged;
    *  - a version-claim collision while staging stages again;
    *  - [[TablesMoved]] re-reads the base and stages again when
    *    `restage`. A stage over frames its caller built before the
    *    call (which may have read the moved table) passes
    *    `restage = false`: it never re-reads the base, and a moved
    *    table is thrown at once rather than lost.
    * The lost attempts' staged versions are unreferenced leftovers for
    * [[expireCommits]]. */
  private[graft] def publish(root: String, restage: Boolean = true)
                            (stage: (Long, Map[String, Long]) => Option[Staged])
      : Either[Long, Long] = {
    var lost = List.empty[Throwable]
    var base = latestCommit(root)
    var staged = Option.empty[Staged] // against `base`, not yet committed
    while (true) {
      try {
        staged = staged.orElse(stage(base, tableVersions(root, base)))
        return staged.toRight(base).map(s =>
          commitStaged(root, s.versions, base, s.drop))
      } catch {
        case e: java.util.ConcurrentModificationException
            if lost.size + 1 < PublishAttempts &&
              (restage || !e.isInstanceOf[TablesMoved]) =>
          lost ::= e
          if (e.isInstanceOf[TablesMoved]) staged = None
          if (restage && staged.isEmpty) base = latestCommit(root)
          Thread.sleep(50L * lost.size)
        case e: java.util.ConcurrentModificationException =>
          lost.reverse.foreach(e.addSuppressed)
          throw e
      }
    }
    Left(base) // unreachable
  }

  /** [[publish]] for a writer staging one table: `stage` gets the
    * table's version at the base (-1 when the base has no such table)
    * and returns the staged version — -1 or the base version itself
    * means nothing was staged, as in `SnapshotTable.publish`, and the
    * base commit is returned. `restage` as in [[publish]]. */
  private[graft] def publishTable(root: String, table: String,
                                  restage: Boolean = true)
                                 (stage: Long => Long): Long =
    publish(root, restage) { (_, tables) =>
      val prev = tables.getOrElse(table, -1L)
      val v = stage(prev)
      Option.when(v >= 0 && v != prev)(Staged(Map(table -> v)))
    }.merge

  /** Publish wall time of a commit (epoch millis) — the stamp content,
    * falling back to the manifest mtime for pre-stamp catalogs. */
  def commitTimeMs(root: String, commit: Long): Long = {
    val p = publishedStamp(root, commit)
    val stamped =
      if (MetaIO.exists(p)) MetaIO.readString(p).trim else ""
    if (stamped.nonEmpty && stamped.forall(_.isDigit)) stamped.toLong
    else MetaIO.mtimeMillis(manifestPath(root, commit))
  }

  /** Resolve the newest commit published at or before `asOfMs` —
    * Iceberg/Nessie-style timestamp time travel over the commit log.
    * Resolution spans every PUBLISHED commit (including ones newer
    * than the current marker after a [[rollback]] — they existed at
    * that wall time, exactly like snapshots after an Iceberg
    * rollback). Throws if nothing was published yet at `asOfMs`. */
  def resolveAsOf(root: String, asOfMs: Long): Long = {
    val candidates = commits(root)
      .filter(c => isPublished(root, c) && commitTimeMs(root, c) <= asOfMs)
    require(candidates.nonEmpty,
      s"no catalog commit at $root published at or before epoch-ms $asOfMs")
    candidates.max
  }

  /** Atomically publish new contents for several tables as ONE catalog
    * commit: every DataFrame is staged (fully written, unpublished),
    * then all of them publish together. Unmentioned tables carry over
    * unchanged. Returns the new catalog commit id.
    *
    * If any stage write throws, nothing was published — readers still
    * see the previous commit for every table, and the already-staged
    * versions are unreferenced leftovers for [[expireCommits]]. */
  def transact(root: String, updates: Seq[(String, DataFrame)]): Long = {
    require(updates.map(_._1).distinct.size == updates.size,
      "a transaction updates each table at most once")
    publish(root, restage = false) { (_, prev) =>
      Some(Staged(updates.map { case (name, df) =>
        name -> SnapshotTable.stageVersion(df, tableRoot(root, name),
          prev.getOrElse(name, -1L))
      }.toMap))
    }.merge
  }

  /** [[transact]]'s incremental sibling — the 100 TB write path:
    * every update is a PARTITION-DELTA stage
    * ([[SnapshotTable.stageDelta]]): only the partitions present in
    * the slice are written, everything else is inherited from the
    * table's version at the current catalog commit by manifest
    * reference. One atomic publish covers all tables, and the
    * transaction's write cost is the batch — so an incremental
    * pipeline can land silver + every mart as ONE isolated,
    * rollback-able catalog commit without rewriting any table.
    * `updates` entries are (table, complete-new-content-of-touched-
    * partitions, partitionCol). */
  def transactDelta(root: String,
                    updates: Seq[(String, DataFrame, String)]): Long = {
    require(updates.map(_._1).distinct.size == updates.size,
      "a transaction updates each table at most once")
    publish(root, restage = false) { (_, prev) =>
      Some(Staged(updates.map { case (name, slice, partitionCol) =>
        name -> SnapshotTable.stageDelta(slice, tableRoot(root, name),
          partitionCol, prev.getOrElse(name, -1L))
      }.toMap))
    }.merge
  }

  /** Row-level MERGE-ON-READ deletes across tables as ONE atomic
    * catalog commit — the governed "right to be forgotten": each
    * (table, predicate) stages a [[SnapshotTable.stageMorDelete]]
    * delete-file version against the table's version AT THE CURRENT
    * CATALOG COMMIT (never the table root's highest staged leftover),
    * and all of them publish together — a reader either sees every
    * erasure or none, and [[rollback]] resurrects them together (until
    * the retention window ends and [[expireCommits]] + the table GC
    * drop the bytes). Write cost: O(matched rows) per table — no
    * partition rewrites ([[Maintenance]]'s fold applies them later).
    * Tables whose predicate matches nothing carry over unchanged;
    * returns the current commit when nothing matched anywhere. */
  def transactMorDelete(spark: SparkSession, root: String,
                        deletes: Seq[(String, Column)]): Long = {
    require(deletes.map(_._1).distinct.size == deletes.size,
      "a transaction deletes from each table at most once")
    publish(root) { (_, prev) =>
      val staged = deletes.flatMap { case (name, pred) =>
        require(prev.contains(name),
          s"table '$name' not in catalog at $root")
        val v = SnapshotTable.stageMorDelete(spark, tableRoot(root, name),
          pred, prev(name))
        Option.when(v >= 0)(name -> v)
      }.toMap
      Option.when(staged.nonEmpty)(Staged(staged))
    }.merge
  }

  /** Read `table` at a catalog `commit` (default: latest) — every
    * table read through the same commit id is mutually consistent. */
  def read(spark: SparkSession, root: String, table: String,
           commit: Long = -1L): DataFrame = {
    val vs = tableVersions(root, commit)
    require(vs.contains(table),
      s"table '$table' not in catalog commit " +
        s"${if (commit >= 0) commit else latestCommit(root)} at $root")
    SnapshotTable.read(spark, tableRoot(root, table), vs(table))
  }

  /** Compact a catalog table's append-fragmented partitions — the
    * governed twin of [[Maintenance.compactAppends]], publishing the
    * same stage ([[Maintenance.stageCompaction]], against the table's
    * version at the current commit) as one catalog commit; a publish
    * that loses a race stages again on the moved table. Returns the new
    * catalog commit, or the current one when nothing is fragmented.
    * Run on the streaming bronze after enough micro-batch appends
    * ([[graft.streaming.GovernedStream]]). */
  def compactTable(spark: SparkSession, root: String, table: String,
                   partitionCol: String, minEntries: Int = 4): Long =
    new TableHandle(Some(root), table).publish { prev =>
      require(prev >= 0, s"table '$table' not in catalog at $root")
      Maintenance.stageCompaction(spark, tableRoot(root, table),
        partitionCol, prev, minEntries, filesPerPartition = 4)
    }

  /** Fold a governed table's accumulated merge-on-read sidecars back
    * into clean data as ONE atomic catalog commit — the governed twin
    * of [[SnapshotTable.applyDeletes]]. A long-running upsert stream
    * lands one equality-delete sidecar per trigger and every unfolded
    * sidecar taxes every read with a broadcast anti-join; the
    * streaming sinks call this when [[SnapshotTable.morDebt]] crosses
    * their fold threshold. Returns the new commit (or the current one
    * when there is nothing to fold). */
  def foldTable(spark: SparkSession, root: String, table: String): Long =
    publishTable(root, table) { prev =>
      require(prev >= 0, s"table '$table' not in catalog at $root")
      SnapshotTable.stageApplyDeletes(spark, tableRoot(root, table), prev)
    }

  /** Re-point the catalog at an older published commit (atomic, and
    * under the commit lock like every head move) — rolls EVERY table
    * back together, which is the point. The
    * rolled-back-from manifests stay on disk as roll-forward targets
    * (re-`rollback` to any of them); they never block new commits
    * (allocation is max+1) and GC keeps them while they're newer than
    * current. To discard them deliberately, see [[abandonRollForward]]. */
  def rollback(root: String, commit: Long): Unit = {
    require(commits(root).contains(commit), s"unknown catalog commit $commit")
    Refs.advance(root)(_ => commit)
  }

  /** Deliberately discard the rolled-back-from history: delete every
    * PUBLISHED manifest newer than the current commit (ref-pinned ones
    * refuse — drop the branch/tag first). This is the explicit
    * destructive counterpart to [[rollback]]; GC never does it on its
    * own. Table versions those manifests referenced become unreachable
    * and fall to the next [[expireCommits]]. Returns the dropped ids.
    * Runs under the commit lock so an in-flight committer (who may be
    * allocating past these ids) can't interleave. */
  def abandonRollForward(root: String): Seq[Long] = Refs.locked(root) { current =>
    val (branchRefs, tagRefs) = refs(root)
    val pinned = tagRefs.values.toSet ++ branchRefs.values.map(_._1)
    val drop = commits(root).filter(c => c > current && isPublished(root, c))
    val blocked = drop.filter(pinned)
    require(blocked.isEmpty,
      s"commits ${blocked.mkString(",")} are pinned by a branch/tag; " +
        "drop the ref before abandoning")
    drop.foreach(deleteManifest(root, _))
    drop
  }

  // ───────────── persisted governed views (catalog-versioned) ─────────────
  //
  // A governed view is DDL state like everything else in this catalog:
  // its definition text lives as an immutable versioned file under
  // `views/<name>/v=N`, and each catalog commit's manifest pins the
  // definition version under the reserved `!view.<name>` key. CREATE /
  // REPLACE / DROP are therefore ordinary atomic catalog commits —
  // rollback rewinds them with the data, and `VERSION AS OF <commit>`
  // resolves the DEFINITION at that commit (the read side then pins
  // the definition's table references at the same commit, so a
  // time-traveled view sees the catalog's cross-table-consistent
  // state of that instant).

  /** Reserved manifest-key prefix for view definitions. */
  private[graft] val ViewKey = "!view."

  private def viewDefPath(root: String, name: String, v: Long): String =
    MetaIO.join(root, "views", name, s"v=$v")

  /** CREATE (or, with `replace`, re-point) a persisted view as ONE
    * atomic catalog commit. Returns the new commit. */
  def putView(root: String, name: String, body: String,
              replace: Boolean = false): Long = {
    require(name.matches("[A-Za-z0-9._-]+"), s"invalid view name '$name'")
    publish(root) { (_, cur) =>
      require(!cur.contains(name), s"'$name' already exists as a TABLE")
      if (cur.contains(ViewKey + name) && !replace)
        throw new IllegalArgumentException(s"view '$name' already exists")
      val dir = MetaIO.join(root, "views", name)
      MetaIO.mkdirs(dir)
      val dv = MetaIO.listNames(dir).filter(_.startsWith("v="))
        .map(_.stripPrefix("v=").toLong).maxOption.getOrElse(-1L) + 1
      // exclusive create = the def-version claim; a racing creator
      // lands the next number (an orphan def file from a lost commit
      // CAS is invisible — only the manifest pin publishes)
      MetaIO.createExclusive(viewDefPath(root, name, dv), body)
      Some(Staged(Map(ViewKey + name -> dv)))
    }.merge
  }

  /** DROP a persisted view as one atomic catalog commit; false when
    * no such view exists (nothing committed). */
  def dropView(root: String, name: String): Boolean =
    publish(root) { (_, cur) =>
      Option.when(cur.contains(ViewKey + name))(
        Staged(Map.empty, drop = Set(ViewKey + name)))
    }.isRight

  /** The stored definition body of view `name` at `commit` (default
    * latest); None when the commit carries no such view. */
  def viewBody(root: String, name: String, commit: Long = -1L)
      : Option[String] =
    tableVersions(root, commit).get(ViewKey + name)
      .map(v => MetaIO.readString(viewDefPath(root, name, v)))

  /** View names at `commit` (default latest). */
  def viewNames(root: String, commit: Long = -1L): Seq[String] =
    tableVersions(root, commit).keys.toSeq
      .filter(_.startsWith(ViewKey)).map(_.stripPrefix(ViewKey)).sorted

  // ─────────── catalog refs: branches and tags over commits ───────────
  //
  // The reference's headline Nessie capability is git-like refs over
  // the WHOLE catalog (`nessie_setup.py:32-60` creates branches whose
  // commits span every table). Per-table branches (SnapshotTable refs)
  // cannot isolate a multi-table change; these can: a catalog branch
  // forks from a main commit, its commits live in a per-branch manifest
  // namespace (`_commits/<branch>/c=N`, same exclusive-create CAS and
  // full table→version mapping as main), and main readers never see
  // them. Publishing is a git fast-forward: allowed only while main
  // still sits at the branch's fork point, and lands the branch head's
  // whole mapping as ONE main commit. Tags pin main commits immutably.
  // A branch ref holds "<fork> <head>"; no catalog ref is named main.

  /** `name` as a catalog branch or tag name. */
  private def refName(name: String): String = {
    require(name != Refs.Main, s"invalid ref name '$name'")
    name
  }
  private def branchManifest(root: String, name: String, n: Long): String =
    MetaIO.join(commitsDir(root), name, s"c=$n")

  /** Fork a branch from the current (or an explicit) main commit. */
  def createBranch(root: String, name: String, from: Long = -1L): Long = {
    val fork = if (from >= 0) from else latestCommit(root)
    require(commits(root).contains(fork), s"unknown catalog commit $fork")
    Refs.create(root, "branch", refName(name), s"$fork -1",
      s"branch '$name' already exists")
    fork
  }

  /** (fork main-commit, branch head n; -1 = no branch commits yet). */
  private def branchState(root: String, name: String): (Long, Long) = {
    val ref = Refs.read(root, "branch", refName(name))
    require(ref.isDefined, s"unknown catalog branch '$name'")
    val Array(f, h) = ref.get.split(' ')
    (f.toLong, h.toLong)
  }

  /** The branch head's table → version mapping. */
  def branchVersions(root: String, name: String): Map[String, Long] = {
    val (fork, head) = branchState(root, name)
    if (head < 0) tableVersions(root, fork)
    else parseManifest(branchManifest(root, name, head))
  }

  /** Read `table` as the branch head sees it. */
  def readBranch(spark: SparkSession, root: String, table: String,
                 name: String): DataFrame = {
    val vs = branchVersions(root, name)
    require(vs.contains(table), s"table '$table' not on branch '$name'")
    SnapshotTable.read(spark, tableRoot(root, table), vs(table))
  }

  /** [[transact]] on a branch: stage fully-written versions in every
    * updated table and publish them as the branch's next commit — main
    * readers are untouched. Same optimistic CAS (exclusive-create of
    * the branch's next manifest). */
  def transactOnBranch(root: String, name: String,
                       updates: Seq[(String, DataFrame)]): Long = {
    require(updates.map(_._1).distinct.size == updates.size,
      "a transaction updates each table at most once")
    val (fork, head) = branchState(root, name)
    val prev = branchVersions(root, name)
    val staged = updates.map { case (t, df) =>
      t -> SnapshotTable.stageVersion(df, tableRoot(root, t),
        prev.getOrElse(t, -1L))
    }.toMap
    val next = head + 1
    val p = branchManifest(root, name, next)
    MetaIO.mkdirs(MetaIO.join(commitsDir(root), name))
    val manifest = prev ++ staged
    // ONE exclusive publish is both the CAS (the manifest number is
    // the branch's next head — a racing committer loses on the same
    // number) and the atomic content write
    try MetaIO.publishExclusive(p,
      manifest.toSeq.sortBy(_._1).map { case (t, v) => s"$t $v" }.mkString("\n"))
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new java.util.ConcurrentModificationException(
          s"branch '$name' commit $next already exists (concurrent " +
            "committer); re-stage against the new head and retry")
    }
    Refs.repoint(root, "branch", name, s"$fork $next")
    next
  }

  /** Publish a branch to main as ONE atomic commit — the git
    * fast-forward: allowed only while main still sits at the branch's
    * fork point (nothing on main to lose); a moved main means
    * divergence, which needs a content-level merge instead. Returns
    * the new main commit. */
  def fastForwardMain(root: String, name: String): Long = {
    val (fork, head) = branchState(root, name)
    val current = latestCommit(root)
    if (current != fork)
      throw new java.util.ConcurrentModificationException(
        s"main moved from fork $fork to $current since branch '$name' " +
          "forked: not a fast-forward — merge table contents instead")
    if (head < 0) return current
    commitStaged(root, branchVersions(root, name), current)
  }

  /** Content-level merge of a DIVERGED branch into main — the other
    * half of the Nessie flow ([[fastForwardMain]] covers the clean
    * case): for every table the branch updated since its fork, MERGE
    * its head rows into MAIN's current content (`keys(table)` is the
    * merge key; branch wins per key, main rows the branch never
    * touched survive — the same last-writer-wins row semantics as
    * [[SnapshotTable.mergeBranch]]); tables the branch left alone keep
    * main's version. All merged tables publish as ONE atomic main
    * commit. */
  def mergeBranchMain(spark: SparkSession, root: String, name: String,
                      keys: Map[String, String]): Long = {
    val (fork, _) = branchState(root, name)
    val branchVs = branchVersions(root, name)
    val forkVs = tableVersions(root, fork)
    val updated = branchVs.filter { case (t, v) => forkVs.get(t) != Some(v) }
    val missing = updated.keySet.filterNot(keys.contains)
    require(missing.isEmpty,
      s"no merge key given for branch-updated tables: ${missing.mkString(", ")}")
    publish(root) { (_, mainVs) =>
      Option.when(updated.nonEmpty)(Staged(updated.map { case (t, v) =>
        val branchContent = SnapshotTable.read(spark, tableRoot(root, t), v)
        val merged = mainVs.get(t) match {
          case Some(mv) => MergeUpsert.merge(
            SnapshotTable.read(spark, tableRoot(root, t), mv),
            branchContent, keys(t))
          case None => branchContent
        }
        t -> SnapshotTable.stageVersion(merged, tableRoot(root, t),
          mainVs.getOrElse(t, -1L))
      }))
    }.merge
  }

  /** Drop a branch ref and its manifest namespace (staged table
    * versions it referenced become unreferenced — [[expireCommits]]
    * collects them). */
  def dropBranch(root: String, name: String): Unit = {
    Refs.drop(root, "branch", refName(name))
    MetaIO.delete(MetaIO.join(commitsDir(root), name), recursive = true)
  }

  /** Pin a main commit immutably. */
  def tag(root: String, name: String, commit: Long = -1L): Long = {
    val c = if (commit >= 0) commit else latestCommit(root)
    require(commits(root).contains(c), s"unknown catalog commit $c")
    Refs.create(root, "tag", refName(name), c.toString,
      s"tag '$name' already exists (tags are immutable)")
    c
  }

  def tagCommit(root: String, name: String): Long =
    Refs.read(root, "tag", refName(name))
      .getOrElse(throw new IllegalArgumentException(s"unknown catalog tag '$name'"))
      .toLong

  def dropTag(root: String, name: String): Unit =
    Refs.drop(root, "tag", refName(name))

  /** All branch names (with fork/head) and tag names (with commit). */
  def refs(root: String): (Map[String, (Long, Long)], Map[String, Long]) =
    (Refs.names(root, "branch").map(n => n -> branchState(root, n)).toMap,
      Refs.names(root, "tag").map(n => n -> tagCommit(root, n)).toMap)

  /** Catalog-level GC: drop old manifests beyond `retainLast` (the
    * current commit, PUBLISHED newer-than-current roll-forward targets,
    * and the newest `retainLast` older manifests survive), plus
    * never-published crash-leftover manifests older than `graceMs`
    * wherever they sit; then delete every table version no surviving
    * manifest references, and sweep stale commit locks. Returns
    * (removed commits, removed versions per table). */
  def expireCommits(root: String, retainLast: Int,
                    graceMs: Long = 3600000L): (Seq[Long], Map[String, Seq[Long]]) = {
    val current = latestCommit(root)
    val now = System.currentTimeMillis()
    // ref-pinned main commits survive any retention policy: tag
    // targets, and every live branch's fork point (branch reads with
    // no branch commits resolve through the fork's manifest)
    val (branchRefs, tagRefs) = refs(root)
    val pinned = tagRefs.values.toSet ++ branchRefs.values.map(_._1)
    val dropOld = commits(root).filter(_ < current)
      .dropRight(math.max(retainLast, 0)).filterNot(pinned)
    // crashed unpublished leftovers: never stamped published (published
    // manifests newer than current are rollback's roll-forward targets
    // — kept no matter how old; unpublished ones below current must not
    // occupy retention slots as if they were history), old enough that
    // no in-flight committer still holds them
    val dropCrashed = commits(root).filter(c => c != current &&
      !pinned(c) && !isPublished(root, c) &&
      now - MetaIO.mtimeMillis(manifestPath(root, c)) > graceMs)
    val drop = (dropOld ++ dropCrashed).distinct.sorted
    drop.foreach(deleteManifest(root, _))
    // a crashed committer's commit lock blocks all publishes — sweep it
    // with the same grace discipline as the table-level locks
    Refs.sweepStaleLocks(root, graceMs)

    // table-version reachability spans main manifests AND every live
    // branch's manifest namespace — a branch's staged versions must
    // survive until the branch is dropped
    val live = commits(root)
    val branchMappings = branchRefs.keys.toSeq.flatMap { name =>
      MetaIO.list(MetaIO.join(commitsDir(root), name))
        .filter(p => MetaIO.name(p).startsWith("c="))
        .map(parseManifest)
    }
    val referenced: Map[String, Set[Long]] =
      (live.map(c => tableVersions(root, c)) ++ branchMappings)
        .flatMap(_.toSeq)
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val tablesDir = MetaIO.join(root, "tables")
    val removedVersions =
      if (!MetaIO.exists(tablesDir)) Map.empty[String, Seq[Long]]
      else {
        val names = MetaIO.listNames(tablesDir).sorted
        names.map { name =>
          val tr = tableRoot(root, name)
          // delta-manifested versions keep their storage roots and
          // merge-on-read sidecars alive: reachability extends through
          // each live version's record (targets are storage versions —
          // one hop suffices)
          val dead = SnapshotTable.deleteUnreachable(tr,
            referenced.getOrElse(name, Set.empty))
          // crashed mid-stage claims (unstamped) go through the table
          // sweep with the same grace discipline
          name -> (dead ++ SnapshotTable.sweepOrphans(tr, graceMs)).sorted
        }.filter(_._2.nonEmpty).toMap
      }
    // view DEFINITION files are catalog content too: a dropped or
    // replaced view's old definition versions stay reachable only
    // through retained manifests — once nothing references one (and it
    // is old enough that no in-flight putView still holds it), it goes
    // the way of unreferenced table versions
    val viewsDir = MetaIO.join(root, "views")
    if (MetaIO.exists(viewsDir)) {
      val liveDefs: Map[String, Set[Long]] = referenced
        .filter(_._1.startsWith(ViewKey))
        .map { case (k, vs) => k.stripPrefix(ViewKey) -> vs }
      MetaIO.listNames(viewsDir).foreach { name =>
        val dir = MetaIO.join(viewsDir, name)
        val keep = liveDefs.getOrElse(name, Set.empty)
        MetaIO.listNames(dir).filter(_.startsWith("v=")).foreach { n =>
          val v = n.stripPrefix("v=").toLong
          val p = MetaIO.join(dir, n)
          if (!keep(v) && now - MetaIO.mtimeMillis(p) > graceMs)
            MetaIO.delete(p)
        }
        if (MetaIO.listNames(dir).isEmpty)
          MetaIO.delete(dir, recursive = true)
      }
    }
    (drop, removedVersions)
  }
}
