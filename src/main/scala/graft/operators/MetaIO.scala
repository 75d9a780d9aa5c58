package graft.operators

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, Options, Path => HPath}
import org.apache.hadoop.fs.permission.FsPermission

/** The table/catalog METADATA IO seam — every filesystem touch of the
  * snapshot-format protocol (markers, manifests, sidecars, claims,
  * locks) goes through here, so the format runs wherever a Hadoop
  * `FileSystem` does. The protocol needs exactly two primitives beyond
  * plain read/write/list:
  *
  *   - ATOMIC RENAME (publish: marker moves, sidecar swaps) —
  *     `FileContext.rename(..., OVERWRITE)`, atomic on HDFS; local
  *     paths use java.nio `ATOMIC_MOVE`.
  *   - EXCLUSIVE CREATE (claims and locks: version-dir claims, catalog
  *     commit locks) — `create(path, overwrite = false)`, atomic on
  *     HDFS; local paths use `CREATE_NEW`. Directory claims compose
  *     mkdirs + an exclusive `.claim` file (generic `mkdirs` is
  *     idempotent and cannot claim).
  *
  * Dispatch: a path carrying a URI scheme (`file://`, `hdfs://`, …)
  * routes through Hadoop; a plain absolute path uses java.nio directly
  * (identical semantics, none of the Hadoop local-FS overhead on the
  * hot path). Setting `GRAFT_IO_FORCE_HADOOP` in the environment
  * routes EVERYTHING through Hadoop — how the suite proves the seam
  * end to end against `file://` (Spark's RawLocalFileSystem).
  *
  * OBJECT-STORE (simulated S3) mode — the catalog-arbitrated answer
  * for stores with neither primitive (classic S3; the reference's own
  * deployment substrate: `infrastructure/seaweedfs/s3.json` +
  * `processing/spark_jobs/spark_config.py` pointing Iceberg at s3a
  * warehouse paths). Set `GRAFT_IO_OBJECT_STORE=<arbiter dir>` (or
  * install a [[CommitArbiter]] programmatically) and the seam changes
  * contract:
  *
  *   - [[rename]] REFUSES outright — object stores have no rename, and
  *     protocol code must not depend on one. Publishes go through
  *     [[publishString]] (atomic-visible PUT — S3's native guarantee),
  *     [[publishExclusive]] (arbiter-decided create-only PUT) and
  *     [[moveTree]] (arbiter-decided copy + delete, what s3a "rename"
  *     actually is).
  *   - [[createExclusive]] / [[claimDir]] are DECIDED BY THE ARBITER
  *     (a backend with a real test-and-set: this sandbox's
  *     [[FileArbiter]], production's DynamoDB/JDBC row); the visible
  *     file/dir is then written as a derived cache by the winner, and
  *     [[exists]]/[[readString]] consult the arbiter when the cache
  *     has not landed yet — so losers racing the winner still read
  *     what was committed. [[delete]] releases the arbiter entry with
  *     the path (locks release, expired claims free their key).
  *
  * Spark's own DATA writes (`df.write.parquet`) ride Spark's committer
  * and are out of this seam's scope — on real S3 that is the
  * rename-free magic committer's job. The simulation constrains what
  * it owns: the snapshot/catalog METADATA protocol. */
private[graft] object MetaIO {

  private val forceHadoop = sys.env.contains("GRAFT_IO_FORCE_HADOOP")

  /** The object-store arbiter — None = filesystem mode (rename +
    * exclusive create available). Settable for tests; initialized from
    * `GRAFT_IO_OBJECT_STORE=<arbiter dir>` for whole-suite proof runs. */
  @volatile private[graft] var arbiter: Option[CommitArbiter] =
    sys.env.get("GRAFT_IO_OBJECT_STORE").filter(_.nonEmpty)
      .map(new FileArbiter(_))

  /** Is the seam running in object-store (no-rename) mode? */
  private[graft] def objectStoreMode: Boolean = arbiter.isDefined

  // arbitration keys are the normalized metadata paths themselves:
  // strip a local-file scheme so `file:///x`, `file:/x` and `/x`
  // arbitrate as one domain
  private def arbKey(p: String): String = p.replaceFirst("^file:/+", "/")

  // a URI scheme prefix — matches both "file:///x" and the engine's
  // single-slash "file:/x" form, never a plain absolute path
  private val SchemePrefix = "^[A-Za-z][A-Za-z0-9+.-]*:/".r

  private def viaHadoop(p: String): Boolean =
    forceHadoop || SchemePrefix.findPrefixOf(p).isDefined

  private[graft] def conf: Configuration =
    try org.apache.spark.sql.SparkSession.active
      .sparkContext.hadoopConfiguration
    catch { case _: Throwable => new Configuration() }

  private def hp(p: String) = new HPath(p)
  // FileContext, not FileSystem: its local implementation is the RAW
  // local fs (no `.crc` checksum sidecars that a mixed-path writer —
  // an external tool touching a metadata file directly — would trip),
  // and its rename carries the atomic OVERWRITE flag HDFS honors.
  // Memoized per (scheme, authority): unlike FileSystem.get,
  // FileContext instances are NOT cached by Hadoop, and a catalog
  // commit makes dozens of metadata touches — constructing a fresh
  // client per touch would tax every hdfs:// commit (FileContext is
  // documented thread-safe).
  private val fcCache =
    new java.util.concurrent.ConcurrentHashMap[String, FileContext]()
  private def fc(p: String): FileContext = {
    val uri = hp(p).toUri
    val key = s"${uri.getScheme}://${Option(uri.getAuthority).getOrElse("")}"
    fcCache.computeIfAbsent(key,
      _ => FileContext.getFileContext(uri, conf))
  }
  private def status(p: String) = fc(p).getFileStatus(hp(p))

  /** Join path segments with '/'. Operates on plain strings so `file://`
    * (and any other scheme) URIs flow through untouched — java.nio
    * `Paths.get` would reject them. */
  def join(parts: String*): String =
    parts.map(_.stripSuffix("/")).mkString("/")

  /** The last path segment (file or directory name). */
  def name(p: String): String =
    p.stripSuffix("/").substring(p.stripSuffix("/").lastIndexOf('/') + 1)

  def exists(p: String): Boolean =
    (if (viaHadoop(p)) fc(p).util().exists(hp(p))
     else Files.exists(Paths.get(p))) ||
      // object-store mode: a claim the arbiter granted IS committed
      // state even while the winner's derived-cache PUT is in flight
      arbiter.exists(_.exists(arbKey(p)))

  def isDir(p: String): Boolean =
    if (viaHadoop(p)) {
      val c = fc(p)
      c.util().exists(hp(p)) && c.getFileStatus(hp(p)).isDirectory
    } else Files.isDirectory(Paths.get(p))

  def mkdirs(p: String): Unit =
    if (viaHadoop(p)) {
      try fc(p).mkdir(hp(p), FsPermission.getDirDefault, true)
      catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => () }
    } else { Files.createDirectories(Paths.get(p)); () }

  def readString(p: String): String =
    try {
      if (viaHadoop(p)) {
        val in = fc(p).open(hp(p))
        try new String(in.readAllBytes(), UTF_8) finally in.close()
      } else Files.readString(Paths.get(p))
    } catch {
      case e: java.io.IOException =>
        // object-store mode: the arbiter entry carries the committed
        // content while the winner's derived-cache PUT is in flight
        arbiter.flatMap(_.read(arbKey(p))).getOrElse(throw e)
    }

  /** Write (create or truncate). NOT atomic — protocol files that must
    * appear atomically write a tmp and [[rename]] it. */
  def writeString(p: String, s: String): Unit =
    if (viaHadoop(p)) {
      val out = fc(p).create(hp(p),
        java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
        Options.CreateOpts.createParent())
      try out.write(s.getBytes(UTF_8)) finally out.close()
    } else { Files.writeString(Paths.get(p), s); () }

  /** EXCLUSIVE create — the lock/claim primitive: throws
    * `java.nio.file.FileAlreadyExistsException` (one canonical type
    * for every backend) when the path already exists. In object-store
    * mode the ARBITER decides (content recorded with the entry), and
    * the winner then PUTs the visible file as a derived cache. */
  def createExclusive(p: String, content: String = ""): Unit =
    if (arbiter.isDefined) {
      arbiter.get.createExclusive(arbKey(p), content)
      putSimulated(p, content)
    } else if (viaHadoop(p)) {
      try {
        val out = fc(p).create(hp(p),
          java.util.EnumSet.of(CreateFlag.CREATE),
          Options.CreateOpts.createParent())
        try out.write(content.getBytes(UTF_8)) finally out.close()
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException |
             _: org.apache.hadoop.fs.PathExistsException =>
          throw new java.nio.file.FileAlreadyExistsException(p)
        case e: java.io.IOException if e.getMessage != null &&
            e.getMessage.contains("already exists") =>
          throw new java.nio.file.FileAlreadyExistsException(p)
      }
    } else {
      Files.write(Paths.get(p), content.getBytes(UTF_8),
        StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
      ()
    }

  /** EXCLUSIVE directory claim: exactly one concurrent claimer wins,
    * losers get `FileAlreadyExistsException`. Local = atomic
    * createDirectory; generic filesystems compose mkdirs (idempotent)
    * with an exclusive `.claim` dotfile — dot-prefixed, so every
    * listing in the format already ignores it. */
  def claimDir(p: String): Unit =
    if (arbiter.isDefined) {
      // same pre-check as the Hadoop branch: an on-store leftover dir
      // (unexpired crash debris) blocks the claim even when the
      // arbiter itself has no entry for it
      if (exists(p))
        throw new java.nio.file.FileAlreadyExistsException(p)
      arbiter.get.createExclusive(arbKey(p))
      mkdirs(p)
    } else if (viaHadoop(p)) {
      if (fc(p).util().exists(hp(p)))
        throw new java.nio.file.FileAlreadyExistsException(p)
      mkdirs(p)
      createExclusive(join(p, ".claim"))
    } else {
      Files.createDirectory(Paths.get(p))
      ()
    }

  /** ATOMIC rename. `overwrite = true` replaces an existing
    * destination FILE atomically (HDFS `Options.Rename.OVERWRITE`;
    * local `REPLACE_EXISTING + ATOMIC_MOVE`). Directory destinations
    * must not exist (callers delete first — the format never
    * overwrite-renames onto a live directory). */
  def rename(src: String, dst: String, overwrite: Boolean = false): Unit = {
    if (objectStoreMode)
      throw new UnsupportedOperationException(
        s"object-store mode: no atomic rename ($src -> $dst); publish " +
          "through publishString/publishExclusive/moveTree")
    renameImpl(src, dst, overwrite)
  }

  // the real move, reachable only from this file: object-store mode
  // refuses the PUBLIC rename so protocol code cannot depend on one,
  // but the local SIMULATION of S3's atomic-visible PUT is implemented
  // with a same-directory move (an implementation detail of the
  // simulation, exactly as a real PUT is of S3)
  private def renameImpl(src: String, dst: String,
                         overwrite: Boolean): Unit =
    if (viaHadoop(src)) {
      try {
        if (overwrite)
          fc(src).rename(hp(src), hp(dst), Options.Rename.OVERWRITE)
        else fc(src).rename(hp(src), hp(dst), Options.Rename.NONE)
      } catch {
        // one canonical already-exists type across backends — the
        // no-replace rename doubles as an exclusive-publish primitive
        case _: org.apache.hadoop.fs.FileAlreadyExistsException |
             _: org.apache.hadoop.fs.PathExistsException if !overwrite =>
          throw new java.nio.file.FileAlreadyExistsException(dst)
      }
    } else {
      if (overwrite)
        Files.move(Paths.get(src), Paths.get(dst),
          StandardCopyOption.ATOMIC_MOVE,
          StandardCopyOption.REPLACE_EXISTING)
      else if (Files.isDirectory(Paths.get(src))) {
        // directory targets (sidecar swaps) can't hard-link; the
        // caller deleted the destination first — the pre-check guards
        // the contract, the move stays atomic
        if (Files.exists(Paths.get(dst)))
          throw new java.nio.file.FileAlreadyExistsException(dst)
        Files.move(Paths.get(src), Paths.get(dst),
          StandardCopyOption.ATOMIC_MOVE)
      } else {
        // POSIX rename(2) silently REPLACES an existing destination
        // even under ATOMIC_MOVE — but link(2) atomically fails on
        // one, which is exactly the exclusive-publish contract
        // (immutable tags, create-only branches) this primitive
        // carries: link then unlink the source
        Files.createLink(Paths.get(dst), Paths.get(src))
        Files.delete(Paths.get(src))
      }
      ()
    }

  /** An atomic-visible full-object write — S3's native PUT guarantee,
    * simulated locally with a same-directory hidden tmp + move so a
    * concurrent reader sees the old content or the new, never a
    * partial write. */
  private def putSimulated(p: String, s: String): Unit = {
    val dir = p.substring(0, math.max(p.lastIndexOf('/'), 0))
    val tmp = join(dir, s"..put.${java.util.UUID.randomUUID()}")
    writeString(tmp, s)
    renameImpl(tmp, p, overwrite = true)
  }

  /** PUBLISH `s` at `p`, replacing any existing content
    * atomically-visibly — THE protocol publish primitive (markers,
    * manifests, refs, offsets). Filesystems: tmp + atomic
    * overwrite-rename. Object stores: a direct PUT (atomic by the
    * store's own contract; WHO may publish was already decided by the
    * arbiter-held lock or claim every publish site runs under). */
  def publishString(p: String, s: String): Unit =
    if (objectStoreMode) putSimulated(p, s)
    else {
      val dir = p.substring(0, math.max(p.lastIndexOf('/'), 0))
      val tmp = join(dir, s".${name(p)}.tmp-${java.util.UUID.randomUUID()}")
      writeString(tmp, s)
      renameImpl(tmp, p, overwrite = true)
    }

  /** PUBLISH `s` at `p` only if `p` does not exist — atomic content
    * and already-exists check in one step (create-only refs, tags,
    * resolve-once anchors): losers get
    * `java.nio.file.FileAlreadyExistsException`, and a concurrent
    * reader never sees an empty or partial file. Filesystems: tmp +
    * no-replace rename (link(2)-backed). Object stores: the arbiter
    * decides, then the winner PUTs the derived cache. */
  def publishExclusive(p: String, s: String): Unit =
    if (objectStoreMode) createExclusive(p, s)
    else {
      val dir = p.substring(0, math.max(p.lastIndexOf('/'), 0))
      val tmp = join(dir, s".${name(p)}.tmp-${java.util.UUID.randomUUID()}")
      writeString(tmp, s)
      try renameImpl(tmp, p, overwrite = false)
      catch {
        case e: java.nio.file.FileAlreadyExistsException =>
          delete(tmp); throw e
      }
    }

  /** MOVE a file or directory tree to a destination that must not
    * exist (sidecar swaps, table/view renames): one atomic no-replace
    * rename on filesystems; on object stores the arbiter claims the
    * destination (losers throw `FileAlreadyExistsException`), then the
    * tree copies object-by-object and the source deletes — exactly
    * what `s3a` rename is, made safe by the arbitration. */
  def moveTree(src: String, dst: String): Unit =
    if (objectStoreMode) {
      // Match filesystem no-replace semantics even when dst was written
      // by a plain PUT (which records no arbiter entry).
      if (exists(dst))
        throw new java.nio.file.FileAlreadyExistsException(dst)
      if (isDir(src)) {
        // Arbitrate in a namespace exists()/readString() never consult,
        // so a concurrent reader observes absent-then-complete, never a
        // claimed-but-empty destination while the tree copies. The
        // claim releases on success; crash debris is swept with the
        // same leftovers expireCommits handles.
        val claim = arbKey(dst) + ".__movetree"
        arbiter.get.createExclusive(claim)
        val prefix = src.stripSuffix("/")
        walkFiles(src).foreach { f =>
          val rel = f.stripPrefix(prefix).stripPrefix("/")
          copyFile(f, join(dst, rel))
        }
        mkdirs(dst) // an empty tree still moves
        delete(src, recursive = true)
        arbiter.get.delete(claim)
      } else {
        // Single file: the claim carries the SOURCE content, so during
        // the copy window readString(dst)'s arbiter fallback returns
        // the real bytes (a renamed view definition is never seen
        // empty). Binary payloads only ever hit the byte-exact copy —
        // the UTF-8 fallback exists for protocol text files.
        arbiter.get.createExclusive(arbKey(dst), readString(src))
        copyFile(src, dst)
        delete(src, recursive = true)
      }
    } else renameImpl(src, dst, overwrite = false)

  /** Byte-exact single-file copy (parquet sidecars are binary). */
  private def copyFile(src: String, dst: String): Unit = {
    val dir = dst.substring(0, math.max(dst.lastIndexOf('/'), 0))
    if (dir.nonEmpty) mkdirs(dir)
    if (viaHadoop(src) || viaHadoop(dst)) {
      val in = fc(src).open(hp(src))
      val bytes = try in.readAllBytes() finally in.close()
      val out = fc(dst).create(hp(dst),
        java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
        Options.CreateOpts.createParent())
      try out.write(bytes) finally out.close()
    } else {
      Files.copy(Paths.get(src), Paths.get(dst),
        StandardCopyOption.REPLACE_EXISTING)
      ()
    }
  }

  /** Immediate children as FULL paths (empty when `p` is missing or
    * not a directory). */
  def list(p: String): Seq[String] =
    if (viaHadoop(p)) {
      val c = fc(p)
      if (!c.util().exists(hp(p)) || !c.getFileStatus(hp(p)).isDirectory)
        Seq.empty
      else c.util().listStatus(hp(p)).toSeq
        .map(s => join(p, s.getPath.getName))
    } else {
      val d = Paths.get(p)
      if (!Files.isDirectory(d)) Seq.empty
      else {
        val stream = Files.list(d)
        try stream.iterator().asScala
          .map(c => join(p, c.getFileName.toString)).toSeq
        finally stream.close()
      }
    }

  /** Immediate child NAMES. */
  def listNames(p: String): Seq[String] = list(p).map(name)

  /** Every FILE under `p`, recursively, as full paths. */
  def walkFiles(p: String): Seq[String] =
    if (!exists(p)) Seq.empty
    else if (isDir(p)) list(p).flatMap(walkFiles)
    else Seq(p)

  /** Delete a file, or a whole tree with `recursive = true`. Missing
    * paths are a no-op. In object-store mode the arbiter entry for the
    * path (and, recursively, its subtree) releases with it — deleting
    * a lock dir IS the lock release, and an expired claim frees its
    * key for a future claimer. */
  def delete(p: String, recursive: Boolean = false): Unit = {
    if (viaHadoop(p)) {
      if (fc(p).util().exists(hp(p))) { fc(p).delete(hp(p), recursive); () }
    } else {
      val path = Paths.get(p)
      if (Files.exists(path)) {
        if (recursive && Files.isDirectory(path)) {
          val stream = Files.walk(path)
          try stream.iterator().asScala.toSeq.reverse.foreach(Files.delete)
          finally stream.close()
        } else Files.delete(path)
      }
    }
    arbiter.foreach { a =>
      if (recursive) a.deleteTree(arbKey(p)) else a.delete(arbKey(p))
    }
  }

  def mtimeMillis(p: String): Long =
    if (viaHadoop(p)) status(p).getModificationTime
    else Files.getLastModifiedTime(Paths.get(p)).toMillis

  def size(p: String): Long =
    if (viaHadoop(p)) status(p).getLen
    else Files.size(Paths.get(p))
}
