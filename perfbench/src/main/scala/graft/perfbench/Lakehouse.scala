package graft.perfbench

import java.time.LocalDateTime

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.operators.{Bronze, Catalog, GovernedPipeline, PipelineRun, Serving,
  SnapshotTable}
import graft.streaming.GovernedStream

/** The governed lakehouse the `lakehouse` workload writes and reads: a
  * catalog bootstrapped with `GovernedPipeline.runFull` on the earlier
  * part of the sf0.1 `events` stream, and the rest of the stream cut into
  * seeded micro-batches of about an hour and a half of arrivals each, in
  * ingest-time order.
  */
object Lakehouse {
  val Source = "trades"

  /** One micro-batch: its rows and the ingest time it runs up to. */
  final case class Batch(id: Long, upTo: LocalDateTime, rows: java.util.List[Row])

  /** The catalog, the events, the first day of the stream, and the
    * micro-batches not yet committed. */
  final case class Setup(cat: String, events: DataFrame, start: LocalDateTime,
                         batches: IndexedSeq[Batch])

  /** The arrival time the bronze model assigns an event
    * (`Bronze.ingest`: ts + event_id % 600 s). */
  val ingestedAt: Column =
    expr("timestampadd(SECOND, cast(event_id % 600 as int), ts)")

  /** Load the events, bootstrap the catalog on arrivals up to day
    * `bootstrapDays`, and cut the rest into micro-batches spanning
    * `minMinutes`–`maxMinutes` of arrivals each (seeded). */
  def setup(run: Run, dir: String, bootstrapDays: Int, minMinutes: Int,
            maxMinutes: Int): Setup = {
    val spark = run.spark
    val events = Gen.events(spark)
    val start = events.agg(min("ts")).head().getAs[LocalDateTime](0)
      .toLocalDate.atStartOfDay
    val cut = start.plusDays(bootstrapDays.toLong)
    val cat = s"$dir/catalog"
    // traced runs also trace the bootstrap, for the runFull layer metrics
    run.tracer.root(run.sc, "setup", run.tracing)(
      run.span("GovernedPipeline.runFull")(GovernedPipeline.runFull(spark, "", cat,
        eventsOverride = Some(events.filter(ingestedAt <= lit(cut))))))

    val rest = events.filter(ingestedAt > lit(cut))
      .withColumn("_ing", ingestedAt)
      .orderBy("_ing", "event_id").collect()
    val rng = new Gen.Rng(run.seed)
    val batches = Vector.newBuilder[Batch]
    var (from, i, id) = (cut, 0, 0L)
    while (i < rest.length) {
      val upTo = from.plusMinutes(rng.int(minMinutes, maxMinutes).toLong)
      var j = i
      while (j < rest.length &&
        !rest(j).getAs[LocalDateTime]("_ing").isAfter(upTo)) j += 1
      if (j > i) {
        batches += Batch(id, upTo,
          rest.slice(i, j).map(r => Row.fromSeq(r.toSeq.dropRight(1))).toSeq.asJava)
        id += 1
      }
      from = upTo
      i = j
    }
    Setup(cat, events, start, batches.result())
  }

  /** Hand one micro-batch to the program: bronze transform, then one
    * atomic catalog commit. */
  def ingest(run: Run, s: Setup, b: Batch): Unit = {
    val df = run.spark.createDataFrame(b.rows, s.events.schema)
    val bronze = run.span("Bronze.ingest")(Bronze.ingest(df))
    run.span("GovernedStream.commitBatch")(
      GovernedStream.commitBatch(run.spark, s.cat, Source, b.id, bronze))
  }

  def refresh(run: Run, s: Setup): Long =
    run.span("GovernedPipeline.refreshFromBronze")(
      GovernedPipeline.refreshFromBronze(run.spark, s.cat))

  /** One maintenance cycle: compact bronze's append-fragmented
    * partitions (any holding two or more appends), expire old commits,
    * sweep orphaned versions. */
  def maintain(run: Run, s: Setup): Unit = {
    run.span("Catalog.compactTable")(
      Catalog.compactTable(run.spark, s.cat, "bronze", "_ingestion_date",
        minEntries = 2))
    run.span("Catalog.expireCommits")(
      Catalog.expireCommits(s.cat, retainLast = 3, graceMs = 0L))
    run.span("SnapshotTable.sweepOrphans")(
      SnapshotTable.sweepOrphans(Catalog.tableRoot(s.cat, "bronze"), graceMs = 0L))
  }

  val CheckedTables = Seq("silver", "ohlcv_1m", "ohlcv_1h", "daily_metrics",
    "price_latest")

  /** Bytes of the data files the latest commit references. */
  def liveBytes(run: Run, cat: String): Long =
    Catalog.tableVersions(cat).keys.toSeq.map(t =>
      Disk.inputBytes(Catalog.read(run.spark, cat, t))).sum

  /** The derived tables at the catalog's latest commit must equal a
    * plain `PipelineRun.run` full rebuild over the same events (the
    * equality `GovernedStreamSpec` asserts). */
  def checkAgainstRebuild(run: Run, s: Setup, upTo: LocalDateTime): Unit = {
    val out = run.dir("rebuild")
    PipelineRun.run(run.spark, "", out,
      eventsOverride = Some(s.events.filter(ingestedAt <= lit(upTo))))
    CheckedTables.foreach { t =>
      val a = run.spark.read.parquet(s"$out/$t")
      val b = Catalog.read(run.spark, s.cat, t)
      val cols = a.columns.sorted.toSeq
      if (b.columns.sorted.toSeq != cols)
        run.check(s"rebuild.$t", ok = false, "columns differ")
      else {
        def rows(df: DataFrame) = df.select(cols.map(col): _*)
          .orderBy(cols.map(col): _*).collect().map(_.toSeq).toSeq
        val (ra, rb) = (rows(a), rows(b))
        run.check(s"rebuild.$t", ra == rb,
          s"${rb.size} published rows vs ${ra.size} rebuilt")
      }
    }
    Disk.delete(out)
  }
}


/** `lakehouse`: the deployment loop, then its readers.
  *
  *  - Set-up commits the stream's first micro-batch untimed: that
  *    commit also creates the stream's state table, so it does less
  *    work than every later one.
  *  - Write phase (closed loop, one writer): one cycle of [[RefreshEvery]]
  *    steady-state micro-batches committed through
  *    `GovernedStream.commitBatch`, then `refreshFromBronze` publishing
  *    the gold marts, then a maintenance cycle. A fixed cycle, not a time
  *    budget, so the work per run does not depend on how many writes a
  *    host fits in.
  *  - Read phase (open loop, fixed rate, `nproc` workers): dashboard
  *    queries over `Serving.registerCatalog` views pinned to the commit
  *    the write phase left (several versions, append-fragmented bronze),
  *    for about [[ReadShare]] of the timed budget.
  */
object LakehouseWorkload {
  val RefreshEvery = 2
  val ReadShare = 0.25
  val BootstrapDays = 5

  def setup(run: Run, dir: String): Lakehouse.Setup = {
    val s = Lakehouse.setup(run, dir, BootstrapDays, minMinutes = 80, maxMinutes = 100)
    Lakehouse.ingest(run, s, s.batches.head)
    s.copy(batches = s.batches.tail)
  }

  def timed(run: Run, s: Lakehouse.Setup): Unit = {
    def filesIfTraced(traced: Boolean) =
      if (traced) Disk.files(s.cat) else Set.empty[String]

    s.batches.take(RefreshEvery).foreach { b =>
      val traced = run.nextTraced("write")
      val before = filesIfTraced(traced)
      run.op("write", traced)(Lakehouse.ingest(run, s, b))
      if (traced) commitFiles(run, "write", before, Disk.files(s.cat))
    }
    val tr = run.nextTraced("refresh")
    val before = filesIfTraced(tr)
    val (_, c) = run.op("refresh", tr)(Lakehouse.refresh(run, s))
    if (tr) {
      commitFiles(run, "refresh", before, Disk.files(s.cat))
      c.foreach(stageTimes(run, s, _))
    }
    val tm = run.nextTraced("maintenance")
    val beforeM = filesIfTraced(tm)
    run.op("maintenance", tm)(Lakehouse.maintain(run, s))
    if (tm) {
      val after = Disk.files(s.cat)
      run.sample("maintenance.files_removed", (beforeM -- after).size)
      commitFiles(run, "maintenance", beforeM, after)
    }
    run.values("batches") = RefreshEvery
    val (files, bytes) = Disk.walk(s.cat)
    val live = Lakehouse.liveBytes(run, s.cat)
    run.values("space_amp") = bytes.toDouble / live
    run.values("catalog_files") = files
    run.values("catalog_bytes") = bytes
    run.values("live_bytes") = live

    Dashboard.phase(run, s.cat, s.start)
    Lakehouse.checkAgainstRebuild(run, s, s.batches(RefreshEvery - 1).upTo)
  }

  /** Files a traced commit added, split into data and metadata files. */
  private def commitFiles(run: Run, kind: String, before: Set[String],
                          after: Set[String]): Unit = {
    val added = (after -- before).toSeq
    val data = added.filter(_.endsWith(".parquet"))
    run.sample(s"$kind.files_added", added.size)
    run.sample("Catalog.files_per_commit", data.size)
    run.sample("Catalog.meta_files_per_commit", added.size - data.size)
    run.sample("Catalog.bytes_per_commit",
      added.map(f => new java.io.File(f).length()).sum.toDouble)
  }

  /** The per-stage seconds the refresh published in `pipeline_metrics`
    * (its newest run), recorded against the traced refresh. */
  private def stageTimes(run: Run, s: Lakehouse.Setup, commit: Long): Unit = {
    val m = Catalog.read(run.spark, s.cat, "pipeline_metrics", commit)
    val last = m.agg(max("run_id")).head().getLong(0)
    val rows = m.filter(col("run_id") === last)
      .select("stage", "seconds", "attempts").collect()
    rows.foreach { r =>
      run.sample(s"stage_ms.${r.getString(0)}", r.getDouble(1) * 1000.0)
      run.sample("stage_retries", (r.getInt(2) - 1).max(0).toDouble)
    }
    run.sample("refresh.staged_ms", rows.map(_.getDouble(1)).sum * 1000.0)
  }
}

/** The dashboard readers: an open loop of seeded queries at a fixed
  * [[Rate]] per second (seeded jitter within half a slot) on `nproc`
  * workers, each timed from its due time, over views pinned to one
  * catalog commit. Every answer is checked afterwards against the same
  * pinned tables scanned in full. */
object Dashboard {
  val Rate = 6.0

  /** A query: its kind, SQL, and the rows it must return, as a filter
    * over the full table `table`. */
  final case class Query(kind: String, sql: String, table: String,
                         keep: Row => Boolean)

  private def ts(t: LocalDateTime) = s"TIMESTAMP_NTZ '${t.toString.replace('T', ' ')}'"

  /** Query kinds come in blocks of 20 with fixed proportions, each block
    * in a seeded order, so every run's mix has the same shape. */
  val Block: Seq[String] = Seq.fill(6)("latest") ++ Seq.fill(5)("candles_1m") ++
    Seq.fill(4)("candles_1h") ++ Seq.fill(3)("daily") ++ Seq.fill(2)("health")

  def kinds(rng: Gen.Rng): Iterator[String] =
    Iterator.continually(rng.shuffle(Block)).flatten

  /** A query of `kind` with seeded parameters. */
  def query(kind: String, rng: Gen.Rng, products: Seq[String],
            start: LocalDateTime, anchor: LocalDateTime): Query = {
    val p = rng.pick(products)
    def prod(r: Row) = r.getAs[String]("product_id") == p
    def at(r: Row) = r.getAs[LocalDateTime]("window_start")
    kind match {
      case "latest" =>
        Query(kind, s"SELECT * FROM price_latest WHERE product_id = '$p'",
          "price_latest", prod)
      case "candles_1m" =>
        // a day the bootstrap holds, so every such query reads data
        val from = start.plusDays(rng.int(0, LakehouseWorkload.BootstrapDays - 2).toLong)
          .plusHours(rng.int(0, 23).toLong)
        val to = from.plusHours(1)
        Query(kind, s"SELECT * FROM ohlcv_1m WHERE product_id = '$p' " +
          s"AND _partition_date = DATE '${from.toLocalDate}' " +
          s"AND window_start >= ${ts(from)} AND window_start < ${ts(to)} " +
          "ORDER BY window_start", "ohlcv_1m",
          r => prod(r) && !at(r).isBefore(from) && at(r).isBefore(to))
      case "candles_1h" =>
        val from = anchor.minusHours(24)
        Query(kind, s"SELECT * FROM ohlcv_1h WHERE product_id = '$p' " +
          s"AND _partition_date >= DATE '${from.toLocalDate}' " +
          s"AND window_start > ${ts(from)} ORDER BY window_start", "ohlcv_1h",
          r => prod(r) && at(r).isAfter(from))
      case "daily" =>
        Query(kind, s"SELECT * FROM daily_metrics WHERE product_id = '$p' " +
          s"AND date >= DATE '${start.toLocalDate}' " +
          s"AND date < DATE '${start.toLocalDate.plusMonths(1)}' ORDER BY date",
          "daily_metrics", prod)
      case "health" =>
        Query(kind, "SELECT * FROM pipeline_health ORDER BY stage",
          "pipeline_health", _ => true)
    }
  }

  /** Run one query: plan, then execute; in a traced operation, record
    * what its scans read. */
  def exec(run: Run, q: Query): Seq[Row] = {
    val df = run.spark.sql(q.sql)
    run.span("read.plan")(df.queryExecution.executedPlan)
    val rows = run.span("read.exec")(df.collect().toSeq)
    if (run.tracer.active) {
      val (files, bytes, scanned) = Plans.scanned(df)
      run.sample("read.files_per_query", files.toDouble)
      run.sample("read.bytes_per_query", bytes.toDouble)
      run.sample("read.rows_scanned_per_row_returned",
        scanned.toDouble / rows.size.max(1))
    }
    rows
  }

  def phase(run: Run, cat: String, start: LocalDateTime): Unit = {
    val spark = run.spark
    val (_, reg) = run.op("register", run.nextTraced("register")) {
      run.span("Serving.registerCatalog")(Serving.registerCatalog(spark, cat))
      run.span("Serving.registerCatalogHealth")(
        Serving.registerCatalogHealth(spark, cat))
    }
    if (reg.isEmpty) return
    val anchor = spark.table("ohlcv_1h").agg(max("window_start")).head()
      .getAs[LocalDateTime](0)
    // one untimed query of each kind first, so the timed phase measures
    // planned, compiled query shapes rather than the JIT meeting each one
    val warm = new Gen.Rng(run.seed + 4)
    val products = spark.table("price_latest").select("product_id").distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    Block.distinct.foreach(k => exec(run, query(k, warm, products, start, anchor)))
    val rng = new Gen.Rng(run.seed + 3)
    val mix = kinds(rng)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(run.nproc)
    val submitted = Seq.newBuilder[java.util.concurrent.Future[_]]
    val answers = new java.util.concurrent.ConcurrentLinkedQueue[(Op, Query, Seq[Row])]()
    // whole blocks, as many as fit in ReadShare of the budget (at least
    // one), so every run reads the same mix
    val blocks = math.max(1L,
      math.round(LakehouseWorkload.ReadShare * run.seconds * Rate / Block.size))
    val n = blocks * Block.size
    val t0 = Clock.nowMs
    var sent = 0
    // fixed rate: query i is due at (i + seeded jitter in [0, 0.5)) / Rate
    var due = t0 + rng.next() * 500.0 / Rate
    while (sent < n) {
      val q = query(mix.next(), rng, products, start, anchor)
      val qDue = due
      val wait = qDue - Clock.nowMs
      if (wait > 0)
        java.util.concurrent.locks.LockSupport.parkNanos((wait * 1e6).toLong)
      val sentAt = Clock.nowMs
      val traced = run.nextTraced("read")
      val task: Runnable = () => {
        val (o, rows) = run.op("read", traced, qDue, sentAt, q.kind)(exec(run, q))
        rows.foreach(r => answers.add((o, q, r)))
      }
      submitted += pool.submit(task)
      sent += 1
      due = t0 + (sent + rng.next() * 0.5) * 1000.0 / Rate
    }
    pool.shutdown()
    pool.awaitTermination(10, java.util.concurrent.TimeUnit.MINUTES)
    submitted.result().foreach(_.get()) // a worker's failure outside its operation fails the run
    run.values("queries") = sent
    run.values("rate_per_s") = Rate
    check(run, answers.asScala.toSeq)
  }

  /** Each answer must equal its query's filter over the pinned table
    * scanned in full (doubles compared to 1e-9 relative: the health
    * rollup's double sums may merge partial aggregates in any order). */
  private def check(run: Run, answers: Seq[(Op, Query, Seq[Row])]): Unit = {
    val full = answers.map(_._2.table).distinct.map(t =>
      t -> run.spark.table(t).collect().toSeq).toMap
    def same(a: Any, b: Any): Boolean = (a, b) match {
      case (x: Double, y: Double) =>
        x == y || math.abs(x - y) <= 1e-9 * math.max(math.abs(x), math.abs(y))
      case _ => a == b
    }
    def key(r: Row) = r.toSeq.map(String.valueOf).mkString("|")
    def norm(rows: Seq[Row]) = rows.sortBy(key)
    var bad = 0
    answers.foreach { case (o, q, rows) =>
      val exp = norm(full(q.table).filter(q.keep))
      val got = norm(rows)
      val ok = exp.size == got.size && exp.zip(got).forall { case (x, y) =>
        x.length == y.length && x.toSeq.zip(y.toSeq).forall { case (a, b) => same(a, b) }
      }
      if (!ok) { o.wrong = true; bad += 1 }
    }
    run.check("dashboard.answers", bad == 0,
      s"$bad of ${answers.size} answers differ from full scans")
  }
}
