package graft.operators

/** The ref store of both table kinds — the only code that knows where a
  * head, a named ref and a commit lock live. A plain table's root and a
  * catalog's root share one layout:
  *
  * {{{
  *   <root>/_latest              the main head: one number (a plain
  *                               table's version, a catalog's commit)
  *   <root>/_refs/branch.<name>  a branch ref (plain: the head version;
  *                               catalog: "<fork> <head>")
  *   <root>/_refs/tag.<name>     a tag: the number it pins
  *   <root>/_refs/.lock.<name>   branch `name`'s commit lock (main's
  *                               guards `_latest`)
  * }}}
  *
  * A head moves only through [[advance]], under its branch's lock: of
  * two movers one wins and the other throws
  * `ConcurrentModificationException`. Refs are created exclusively
  * (a duplicate throws `IllegalArgumentException`) and re-pointed with
  * an atomic publish, so a reader never sees an empty or partial ref.
  * Each table kind keeps its own name rules and ref contents. */
private[graft] object Refs {

  /** The branch whose head is `_latest`. */
  val Main = "main"

  private def headPath(root: String) = MetaIO.join(root, "_latest")
  private def dir(root: String) = MetaIO.join(root, "_refs")
  private def lockPath(root: String, branch: String) =
    MetaIO.join(dir(root), s".lock.$branch")

  private def path(root: String, kind: String, name: String): String = {
    require(name.matches("[A-Za-z0-9._-]+"), s"invalid ref name '$name'")
    MetaIO.join(dir(root), s"$kind.$name")
  }

  /** The main head, or -1 before the first move. */
  def head(root: String): Long = {
    val m = headPath(root)
    if (MetaIO.exists(m)) MetaIO.readString(m).trim.toLong else -1L
  }

  /** Move `branch`'s head — the only head writer. Under the branch's
    * commit lock, `next` gets the current head (a plain branch's
    * version; a non-main branch must exist) and returns the new one,
    * or throws to refuse; the head is written only when it changed.
    * Returns the new head. */
  def advance(root: String, branch: String = Main)(next: Long => Long): Long =
    locked(root, branch) { current =>
      val n = next(current)
      if (n != current) {
        if (branch == Main) MetaIO.publishString(headPath(root), n.toString)
        else repoint(root, "branch", branch, n.toString)
      }
      n
    }

  /** Run `body` on `branch`'s current head holding the branch's commit
    * lock (an exclusive directory claim: the loser fails fast), for a
    * caller that must exclude head moves without making one. */
  def locked[A](root: String, branch: String = Main)(body: Long => A): A = {
    MetaIO.mkdirs(dir(root))
    val lock = lockPath(root, branch)
    try MetaIO.claimDir(lock)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new java.util.ConcurrentModificationException(
          s"branch '$branch' at $root has a commit in flight (or a stale " +
            s"lock at $lock after a crash, which fails every commit to the " +
            "branch until it is removed by hand, by sweepStaleLocks or by " +
            "expireCommits); stage again against the current head and retry")
    }
    try body(
      if (branch == Main) head(root)
      else read(root, "branch", branch).getOrElse(throw new IllegalArgumentException(
        s"unknown branch '$branch' at $root")).toLong)
    finally MetaIO.delete(lock, recursive = true)
  }

  /** A ref's content, or None when it does not exist. */
  def read(root: String, kind: String, name: String): Option[String] = {
    val p = path(root, kind, name)
    Option.when(MetaIO.exists(p))(MetaIO.readString(p).trim)
  }

  /** Create a ref exclusively: of two racing creators one wins, the
    * other gets `IllegalArgumentException(existsMsg)`. */
  def create(root: String, kind: String, name: String, content: String,
             existsMsg: => String): Unit = {
    val p = path(root, kind, name)
    MetaIO.mkdirs(dir(root))
    try MetaIO.publishExclusive(p, content)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new IllegalArgumentException(existsMsg)
    }
  }

  /** Re-point an existing ref atomically. */
  def repoint(root: String, kind: String, name: String, content: String): Unit =
    MetaIO.publishString(path(root, kind, name), content)

  def drop(root: String, kind: String, name: String): Unit =
    MetaIO.delete(path(root, kind, name))

  /** The names of every `kind` ref (locks and tmp files excluded). */
  def names(root: String, kind: String): Seq[String] =
    MetaIO.listNames(dir(root)).filter(_.startsWith(s"$kind.")).map(_.stripPrefix(s"$kind."))

  /** Remove commit locks older than `graceMs` — the crash recovery for
    * [[locked]] (a holder that died leaves its lock forever; no real
    * commit holds one anywhere near an hour). Returns the branch names
    * whose lock was removed. */
  def sweepStaleLocks(root: String, graceMs: Long): Seq[String] = {
    val d = dir(root)
    if (!MetaIO.exists(d)) return Seq.empty
    val now = System.currentTimeMillis()
    val stale = MetaIO.list(d)
      .filter(p => MetaIO.name(p).startsWith(".lock.") &&
        now - MetaIO.mtimeMillis(p) > graceMs)
    stale.foreach(MetaIO.delete(_, recursive = true))
    stale.map(p => MetaIO.name(p).stripPrefix(".lock."))
  }
}
