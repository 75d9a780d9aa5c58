package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Milliseconds since the run started, on the same epoch base as the
  * Spark listener's event times (so span and job intervals compare). */
object Clock {
  private val epochMs = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  val startEpochMs: Double = epochMs
  def nowMs: Double = (System.nanoTime() - nano0) / 1e6
  /** A listener event time (epoch ms) on the run clock. */
  def ofEpoch(ms: Long): Double = ms - epochMs

  /** Host CPU time stolen from this VM so far, in ms (`/proc/stat`). */
  def stealMs: Double = {
    val f = scala.io.Source.fromFile("/proc/stat")
    try f.getLines().next().trim.split("\\s+").lift(8)
      .map(_.toDouble * 10.0).getOrElse(0.0)
    finally f.close()
  }
}

/** Spans around the benchmark's calls into the program, plus the
  * benchmark's own Spark listener. Both are active only in a traced
  * run; untraced runs call [[span]] as a plain pass-through.
  *
  * Spans stay in memory and are written out once, at run end. A span's
  * id is set as the Spark local property [[SpanProperty]] while it is
  * open, so every job a call submits (from its own thread or a thread
  * it starts) carries the innermost open span's id.
  */
final class Tracer(val enabled: Boolean, val runId: String) {
  import Tracer._

  private val nextId = new AtomicLong(0L)
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  val spans = new ConcurrentLinkedQueue[Span]()
  val listener = new Recorder

  /** Whether the calling thread is inside a traced root operation. */
  def active: Boolean = enabled && stack.get().nonEmpty

  /** Run `body` under a span named `name` if this thread is inside a
    * traced operation ([[root]]); otherwise just run it. */
  def span[A](sc: SparkContext, name: String)(body: => A): A =
    if (!active) body else open(sc, name)(body)

  /** Run one root operation, traced when `traced` (and tracing is on):
    * the listener is attached for the operation's lifetime and drained
    * before the operation counts as done. */
  def root[A](sc: SparkContext, name: String, traced: Boolean)(body: => A): A =
    if (!enabled || !traced) body
    else {
      attach(sc)
      try open(sc, name)(body)
      finally detach(sc)
    }

  private def open[A](sc: SparkContext, name: String)(body: => A): A = {
    val id = nextId.incrementAndGet()
    val parents = stack.get()
    val prevProp = sc.getLocalProperty(SpanProperty)
    stack.set(id :: parents)
    sc.setLocalProperty(SpanProperty, id.toString)
    val t0 = Clock.nowMs
    try body
    finally {
      val t1 = Clock.nowMs
      sc.setLocalProperty(SpanProperty, prevProp)
      stack.set(parents)
      spans.add(Span(id, parents.headOption.getOrElse(0L), name, t0, t1,
        runId))
    }
  }

  private val attached = new AtomicInteger(0)

  private def attach(sc: SparkContext): Unit = synchronized {
    if (attached.getAndIncrement() == 0) sc.addSparkListener(listener)
  }

  private def detach(sc: SparkContext): Unit = synchronized {
    drainBus(sc)
    if (attached.decrementAndGet() == 0) sc.removeSparkListener(listener)
  }

  def spanRecords: Seq[Map[String, Any]] = spans.asScala.toSeq.sortBy(_.id)
    .map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start" -> s.start, "end" -> s.end, "run" -> s.run))
}

/** Spark work per timed operation: jobs, stages and tasks. Every
  * operation runs with its id as the local property [[OpProperty]]; this
  * listener, attached for the whole run (traced or not), counts the jobs
  * carrying each id and the stages and tasks those jobs completed. */
final class WorkCounter extends SparkListener {
  import WorkCounter._
  private val stageOp = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val work = new java.util.concurrent.ConcurrentHashMap[Long, Work]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(OpProperty)))
      .map(_.toLong).foreach { op =>
        e.stageIds.foreach(stageOp.put(_, op))
        work.merge(op, Work(1, 0, 0), _ + _)
      }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageOp.remove(e.stageInfo.stageId)).foreach(op =>
      work.merge(op, Work(0, 1, e.stageInfo.numTasks), _ + _))

  /** The work operation `op` submitted (call after a bus drain). */
  def of(op: Long): Work = Option(work.remove(op)).getOrElse(Work(0, 0, 0))
}

object WorkCounter {
  val OpProperty = "graft.perfbench.op"

  final case class Work(jobs: Int, stages: Int, tasks: Int) {
    def +(o: Work): Work = Work(jobs + o.jobs, stages + o.stages, tasks + o.tasks)
  }
}

object Tracer {
  val SpanProperty = "graft.perfbench.span"

  case class Span(id: Long, parent: Long, name: String, start: Double,
                  end: Double, run: String)

  /** Wait until the listener bus has delivered every queued event. The
    * bus drain is `private[spark]`, so it is reached reflectively. It
    * throws if the drain is missing or times out: the work counts would
    * then be short. */
  def drainBus(sc: SparkContext): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  /** The benchmark's own listener: job intervals with their span id and
    * description, per-stage task metrics, and per-task run times
    * (`executorRunTime`, for busy share and skew). */
  final class Recorder extends SparkListener {
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Map[String, Any]]()
    val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Double]()
    val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
    val tasks = new ConcurrentLinkedQueue[(Int, Long)]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      jobs.put(e.jobId, Map(
        "id" -> e.jobId,
        "start" -> Clock.ofEpoch(e.time),
        "span" -> p.flatMap(x => Option(x.getProperty(SpanProperty)))
          .map(_.toLong).getOrElse(0L),
        "desc" -> p.flatMap(x => Option(x.getProperty("spark.job.description")))
          .getOrElse(""),
        "stages" -> e.stageIds.toSeq))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobEnds.put(e.jobId, Clock.ofEpoch(e.time))

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      stages.add(Map(
        "id" -> i.stageId,
        "tasks" -> i.numTasks,
        "input_bytes" -> (if (m == null) 0L else m.inputMetrics.bytesRead),
        "output_bytes" -> (if (m == null) 0L else m.outputMetrics.bytesWritten),
        "shuffle_bytes" -> (if (m == null) 0L
          else m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten),
        "spill_bytes" -> (if (m == null) 0L
          else m.memoryBytesSpilled + m.diskBytesSpilled),
        "run_ms" -> (if (m == null) 0L else m.executorRunTime)))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      tasks.add((e.stageId, if (m == null) 0L else m.executorRunTime))
    }

    def jobRecords: Seq[Map[String, Any]] =
      jobs.asScala.toSeq.sortBy(_._1).map { case (id, j) =>
        j + ("end" -> jobEnds.get(id))
      }

    def stageRecords: Seq[Map[String, Any]] = stages.asScala.toSeq

    def taskRecords: Seq[Seq[Long]] =
      tasks.asScala.toSeq.map { case (s, run) => Seq(s.toLong, run) }
  }
}
