package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One timed operation: when it was due and handed to a worker (open
  * loop only), when it ran, the Spark work it submitted, whether it
  * threw, whether its answer was later found wrong, and whether it ran
  * traced. */
final class Op(val kind: String, val label: String, val due: Double,
               val dispatch: Double, val start: Double, val end: Double,
               val work: WorkCounter.Work, val error: String,
               val traced: Boolean) {
  @volatile var wrong: Boolean = false
  def ok: Boolean = error == null && !wrong
}

/** The state of one benchmark run: the session, the seed, the timed
  * budget, the operations and checks recorded so far, and samples that
  * only the traced run reports. Thread-safe where the dashboard's
  * workers need it. */
final class Run(val spark: SparkSession, val seed: Long,
                val seconds: Double, val tracer: Tracer, val work: Path,
                val nproc: Int) {
  val ops = mutable.ArrayBuffer.empty[Op]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val values = mutable.LinkedHashMap.empty[String, Any]
  private val kindCount = mutable.Map.empty[String, Int]

  def sc = spark.sparkContext
  def tracing: Boolean = tracer.enabled

  private val counter = new WorkCounter
  sc.addSparkListener(counter)
  private val nextOp = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Whether the next operation of `kind` runs traced. A traced run
    * traces every operation except reads, which alternate traced and
    * untraced (starting traced) so `trace.overhead` compares the two
    * inside one run. */
  def nextTraced(kind: String): Boolean = synchronized {
    val n = kindCount.getOrElse(kind, 0)
    kindCount(kind) = n + 1
    tracing && (kind != "read" || n % 2 == 0)
  }

  /** Time `body` as one operation of `kind`; a throw is recorded as a
    * failed operation and yields None. */
  def op[A](kind: String, traced: Boolean, due: Double = Double.NaN,
            dispatch: Double = Double.NaN, label: String = "")
           (body: => A): (Op, Option[A]) = {
    val id = nextOp.incrementAndGet()
    val prev = sc.getLocalProperty(WorkCounter.OpProperty)
    sc.setLocalProperty(WorkCounter.OpProperty, id.toString)
    val t0 = Clock.nowMs
    val (res, err) =
      try (Some(tracer.root(sc, kind, traced)(body)), null)
      catch { case NonFatal(e) =>
        System.err.println(s"[perfbench] $kind failed: $e")
        (None, Option(e.getMessage).getOrElse(e.getClass.getName).take(300))
      }
      finally sc.setLocalProperty(WorkCounter.OpProperty, prev)
    val t1 = Clock.nowMs
    Tracer.drainBus(sc) // after the clock stops: counts need every event
    val o = new Op(kind, label, due, dispatch, t0, t1, counter.of(id), err,
      traced)
    synchronized { ops += o }
    (o, res)
  }

  def span[A](name: String)(body: => A): A = tracer.span(sc, name)(body)

  def check(name: String, ok: Boolean, detail: String = ""): Unit = synchronized {
    if (!ok) System.err.println(s"[perfbench] check $name failed: $detail")
    checks += ((name, ok, detail))
  }

  def sample(name: String, v: Double): Unit = synchronized {
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  }

  def timeLeft: Boolean = Clock.nowMs < deadline
  @volatile var deadline: Double = Double.PositiveInfinity
  /** Start the timed budget: `seconds` from now. */
  def startTimed(): Unit = deadline = Clock.nowMs + seconds * 1000.0

  /** A fresh directory under the run's work dir. */
  def dir(name: String): String = {
    val d = work.resolve(name)
    Files.createDirectories(d)
    d.toString
  }
}

/** Filesystem accounting under a catalog root (space amplification,
  * files a commit adds, files maintenance removes). */
object Disk {
  /** (file count, bytes) under `root`. */
  def walk(root: String): (Long, Long) = {
    val fs = files(root)
    (fs.size.toLong, fs.iterator.map(f => Files.size(java.nio.file.Paths.get(f))).sum)
  }

  def files(root: String): Set[String] = {
    val p = java.nio.file.Paths.get(root)
    if (!Files.exists(p)) Set.empty
    else {
      val it = Files.walk(p)
      try {
        val b = Set.newBuilder[String]
        it.forEach(f => if (Files.isRegularFile(f)) b += f.toString)
        b.result()
      } finally it.close()
    }
  }

  def delete(root: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))

  /** Bytes of the files a DataFrame's scan reads. */
  def inputBytes(df: org.apache.spark.sql.DataFrame): Long =
    df.inputFiles.map { u =>
      val f = new java.io.File(new java.net.URI(u))
      if (f.exists()) f.length() else 0L
    }.sum
}
