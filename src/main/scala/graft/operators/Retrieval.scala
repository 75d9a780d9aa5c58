package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Rounding

/** Corpus retrieval scoring — the TF-IDF / BM25 family a training-data
  * platform uses to rank documents against queries (quality-weighted
  * sampling, targeted corpus slicing, eval-set mining). The reference's
  * pipeline stops at vocabulary statistics (`bronze_to_silver.py`'s
  * token profiling); these are the standard next step over the same
  * tables.
  *
  * Determinism contract (shared with [[TextAnalysis.bigramDocScore]]):
  * no `ln`/`log` anywhere — libm transcendentals are not correctly
  * rounded, so cross-engine bit-equality would be luck. Both scores use
  * the RATIONAL idf forms (`N/df` for TF-IDF, the BM25
  * `(N-df+0.5)/(df+0.5)` ratio without the usual log wrapper): every
  * operation is an IEEE multiply/divide/add with an identical
  * expression tree on the oracle side, then one `roundScaled` at the
  * contract boundary. Rankings are over the ROUNDED score with a full
  * tie-break, so `LIMIT`/`row_number` pick the same rows everywhere.
  */
object Retrieval {

  /** The same whitespace tokenizer every text operator here uses. */
  private def tokens = split(trim(lower(col("text"))), "\\s+")

  /** A Spark SQL string literal for a phrase/query term — backslashes
    * escaped BEFORE quotes, or a term ending in `\` would swallow the
    * closing quote and break the expression. */
  private def sqlLit(t: String): String =
    "'" + t.replace("\\", "\\\\").replace("'", "\\'") + "'"

  /** Per-(doc, term) frequencies — one shuffle on the (doc_id, term)
    * key with map-side partial counts. */
  private def termFreq(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(tokens).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))

  /** Top-k terms per document by TF-IDF (`tf · N / df`, the log-free
    * rational idf — see the object doc for why).
    *
    * Scale: the tf table is one shuffle; df re-aggregates tf on the
    * term key (a second, vocab-sized shuffle — map-side partials make
    * heavy terms combine early); N is a broadcast 1-row aggregate. The
    * per-doc top-k is a window over the doc_id partition — bounded by
    * doc vocabulary, never a global sort; at 100 TB the tf→df join
    * co-partitions on term and the df side (|vocab| rows) broadcasts
    * under the usual threshold. */
  def tfIdf(docs: DataFrame, k: Int = 5): DataFrame = {
    val tf = termFreq(docs)
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = broadcast(docs.agg(count(lit(1)).as("n_docs")))
    tf.join(df, "term").crossJoin(n)
      .withColumn("tf_idf", Rounding.roundScaled(
        col("tf").cast("double") * col("n_docs").cast("double") /
          col("df").cast("double"), 8))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("doc_id")
          .orderBy(col("tf_idf").desc, col("term"))))
      .filter(col("rnk") <= k)
      .select("doc_id", "term", "tf", "df", "tf_idf", "rnk")
  }

  /** The fixed keyword query [[bm25Search]] scores by default — terms
    * that actually occur in the synthetic corpus vocabulary. */
  val DefaultQuery: Seq[String] = Seq("merge", "spark", "vector", "window")

  /** BM25 keyword search: rank documents against a bag-of-words query,
    * `score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1-b + b·dl/avgdl))`
    * with the standard k1=1.2, b=0.75 and the RATIONAL idf (no log —
    * object doc). Docs containing none of the query terms score 0 and
    * are omitted. Constants are written as the same decimal literals on
    * both engines (never computed, e.g. k1+1 pre-folded to 2.2) so the
    * parsed doubles agree bit-for-bit.
    *
    * Determinism: the per-doc sum folds contributions in term order
    * (sort_array(collect_list) here, `list(... ORDER BY term)` +
    * list_reduce in the oracle) — a plain SUM over doubles would be
    * partition-order dependent. Final ranking is rounded-score desc,
    * doc_id asc: a total order, so LIMIT k is stable.
    *
    * Scale: tf is the one corpus-sized shuffle; the query-term filter
    * cuts it to |query|·n_docs rows BEFORE any join; df restricted to
    * query terms and the (n_docs, Σdl) stats row are broadcast; the
    * doc-length join co-partitions on doc_id. The final top-k is
    * `TakeOrderedAndProject` — a bounded per-partition heap, never a
    * global sort. */
  def bm25Search(docs: DataFrame, query: Seq[String] = DefaultQuery,
                 k: Int = 20): DataFrame = {
    val qTerms = query.distinct.sorted
    val tf = termFreq(docs)
    val qtf = tf.filter(col("term").isin(qTerms: _*))
    val df = broadcast(qtf.groupBy("term").agg(count(lit(1)).as("df")))
    val dls = docs.select(col("doc_id"), size(tokens).cast("bigint").as("dl"))
    val stats = broadcast(dls.agg(
      count(lit(1)).as("n_docs"), sum("dl").as("sum_dl")))
    val contribs = qtf
      .join(df, "term")
      .join(dls, "doc_id")
      .crossJoin(stats)
      .withColumn("avgdl",
        col("sum_dl").cast("double") / col("n_docs").cast("double"))
      .withColumn("idf",
        (col("n_docs").cast("double") - col("df").cast("double") + lit(0.5d)) /
          (col("df").cast("double") + lit(0.5d)))
      .withColumn("contrib",
        col("idf") * (col("tf").cast("double") * lit(2.2d)) /
          (col("tf").cast("double") +
            lit(1.2d) * (lit(0.25d) +
              lit(0.75d) * (col("dl").cast("double") / col("avgdl")))))
    contribs.groupBy("doc_id")
      .agg(max(col("dl")).as("dl"),
        count(lit(1)).as("n_hits"),
        sort_array(collect_list(struct(col("term"), col("contrib"))))
          .as("cs"))
      .select(col("doc_id"), col("dl"), col("n_hits"),
        Rounding.roundScaled(
          expr("aggregate(cs, cast(0 as double), (acc, s) -> acc + s.contrib)"),
          8).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(k)
  }

  private def bm25Dir(root: String, v: Long): String =
    MetaIO.join(root, s"v=$v", "_bm25").toString

  /** How many postings one inverted-list row may carry: hot terms
    * (stopwords touch every document) split into `doc_id`-range chunks
    * so no single row grows with the corpus — query-path explode
    * concatenates chunks transparently, and per-(doc, term)
    * contributions are chunk-invariant. */
  val PostingChunkDocs: Long = 1L << 18

  /** FULL index builds actually executed (idempotent skips and delta
    * segments excluded) — the audit hook the upsert-maintenance spec
    * and driver key pin to prove delta maintenance never silently
    * degrades to an O(corpus) rebuild (the [[FuzzyJoin.pricingJobs]]
    * pattern). */
  private[graft] val fullBuilds =
    new java.util.concurrent.atomic.AtomicLong

  /** Per-doc token counts of a slice — the (doc_id, dl) frame the
    * postings build, the doclens sidecar, and the corpus scalars all
    * derive from (ONE tokenize pass per slice when the caller
    * persists it). The whitespace tokenizer never yields zero tokens
    * (empty text is one empty-string token), so `dl >= 1` and the
    * postings always carry every doc — doclens derived from postings
    * (compaction) is exactly doclens derived from text. */
  private def docLens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), size(tokens).cast("bigint").as("dl"))

  /** The chunked posting-list frame for a doc slice: per (term, chunk)
    * the sorted `[(doc_id, tf, dl, ps), ...]` list plus the
    * slice-local per-term df — ONE layout shared by full builds,
    * delta segments, and compaction merges (a format change lands
    * everywhere at once). `ps` is the sorted in-doc POSITION list
    * (token offsets) — the Lucene positional-postings field that
    * makes [[phraseSearch]] answerable from the index; BM25 readers
    * ignore it. */
  private def chunkedPostings(docs: DataFrame, dls: DataFrame): DataFrame = {
    // df is a window count over the term partition of the per-(doc,
    // term) frame, NOT a second aggregation of the tokenize subtree —
    // the old `tp.groupBy(term)` branch re-evaluated the whole
    // explode+count pipeline a second time and paid a join to bring df
    // back. The window rides BEFORE the doclens join on purpose: df
    // counts each (doc_id, term) pair once while the join fans posting
    // entries out per doc COPY — the exact duplicate-id semantics the
    // scan-path equivalence (and the overlap-refusal specs) pin.
    val tp = docs.select(col("doc_id"),
      posexplode(tokens).as(Seq("pos", "term")))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"),
        sort_array(collect_list(col("pos"))).as("ps"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy("term")))
    tp.join(dls, "doc_id")
      .withColumn("chunk", expr(s"doc_id div ${PostingChunkDocs}L"))
      .groupBy("term", "chunk")
      .agg(sort_array(collect_list(
        struct(col("doc_id"), col("tf"), col("dl"), col("ps"))))
        .as("postings"),
        min(col("df")).as("df")) // constant within a term
  }

  /** The fixed schemas of the index sidecars — posting segments, their
    * doc-length files and tombstone deltas — as [[chunkedPostings]],
    * [[docLens]] and the tombstone pricing write them (doc ids are
    * BIGINT, as every result frame here types them). Reads declare
    * them, so a keyword call runs no footer-inference job. */
  private val SegmentSchema = "term STRING, chunk BIGINT, postings ARRAY<" +
    "STRUCT<doc_id: BIGINT, tf: BIGINT, dl: BIGINT, ps: ARRAY<INT>>>, df BIGINT"
  private val DoclensSchema = "doc_id BIGINT, dl BIGINT"
  private val TombSchema = "_seg STRING, doc_id BIGINT, dl BIGINT"

  /** The posting segments `segs` unioned, each row tagged `_seg`. */
  private def readSegments(spark: org.apache.spark.sql.SparkSession,
                           root: String, segs: Seq[String]): DataFrame =
    segs.map(sp => spark.read.schema(SegmentSchema)
      .parquet(MetaIO.join(root, sp)).withColumn("_seg", lit(sp)))
      .reduce(_ unionByName _)

  /** Write one posting segment: tmp dir first, atomic tree swap into
    * `v=$version/_bm25/$name`. Returns the root-relative segment
    * path. */
  private def writeSegment(chunked: DataFrame, root: String,
                           version: Long, name: String): String = {
    val tmp = MetaIO.join(root, s"v=$version",
      s".bm25.new-${java.util.UUID.randomUUID()}")
    // Layout assumption, stated honestly: [[compactIndex]]'s merge ends
    // in a window over the term partition (term-clustered by
    // construction), and [[chunkedPostings]]' final (term, chunk)
    // aggregate PRESERVES its term window's clustering only while the
    // intervening doclens join broadcasts (HashPartitioning(term)
    // satisfies the agg's ClusteredDistribution(term, chunk), so no
    // re-exchange) — true for batch-sized slices; a shuffled doclens
    // join at much larger slices re-clusters by (term, chunk) and a
    // term's postings may then split across files, WEAKENING (never
    // breaking) the `term IN (...)` row-group pruning. Accepted trade:
    // the alternative `repartitionByRange`/`repartition(term)` costs a
    // sampling job or an always-on extra exchange per segment write,
    // which at the measured batch sizes outweighed the pruning risk.
    // The within-file (term, chunk) sort keeps row groups prunable.
    chunked
      .sortWithinPartitions("term", "chunk")
      .write.mode("overwrite").parquet(tmp.toString)
    val dir = bm25Dir(root, version)
    MetaIO.mkdirs(dir)
    val segDir = MetaIO.join(dir, name)
    MetaIO.delete(segDir, recursive = true)
    MetaIO.moveTree(tmp, segDir)
    s"v=$version/_bm25/$name"
  }

  /** Write a segment's DOC-LENGTH sidecar `(doc_id, dl)` at
    * `<segment>.dl` — the Lucene norms-file analog, n_docs rows of two
    * longs. The liveDocs delta path joins it to price tombstones and
    * detect key collisions WITHOUT touching corpus text or posting
    * lists: O(doc count) metadata instead of O(token count) text. */
  private def writeDoclens(dls: DataFrame, root: String,
                           version: Long, name: String): Unit = {
    val tmp = MetaIO.join(root, s"v=$version",
      s".bm25dl.new-${java.util.UUID.randomUUID()}")
    // no repartitionByRange: its RangePartitioner SAMPLING job cost one
    // extra action per sidecar write, and the sidecar's only readers
    // ([[liveDoclens]], the delta pricing) always scan the WHOLE file
    // set — doc_id range layout bought no pruning. Within-partition
    // sort keeps row groups ordered for free.
    dls.select(col("doc_id"), col("dl"))
      .sortWithinPartitions("doc_id")
      .write.mode("overwrite").parquet(tmp.toString)
    val dir = bm25Dir(root, version)
    MetaIO.mkdirs(dir)
    val dlDir = MetaIO.join(dir, s"$name.dl")
    MetaIO.delete(dlDir, recursive = true)
    MetaIO.moveTree(tmp, dlDir)
  }

  /** Write a tombstone delta `(_seg, doc_id, dl)`: the superseded doc
    * copies of ONE maintenance step, keyed to the segment each dead
    * copy lives in (Lucene's per-segment liveDocs, not a global id
    * set — a RE-INSERTED id in a newer segment must survive the
    * anti-join that kills its dead ancestor copy). Returns the
    * root-relative path. One file: the set is upsert-batch-sized by
    * construction. */
  private def writeTombs(t: DataFrame, root: String,
                         version: Long, name: String): String = {
    val tmp = MetaIO.join(root, s"v=$version",
      s".bm25tomb.new-${java.util.UUID.randomUUID()}")
    t.select(col("_seg"), col("doc_id"), col("dl"))
      .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val dir = bm25Dir(root, version)
    MetaIO.mkdirs(dir)
    val d = MetaIO.join(dir, name)
    MetaIO.delete(d, recursive = true)
    MetaIO.moveTree(tmp, d)
    s"v=$version/_bm25/$name"
  }

  /** A version's parsed index coverage: LIVE corpus scalars (already
    * net of tombstoned docs), the covered doc-id range (None on
    * pre-range records — the delta path then declines to full
    * rebuild), the SEGMENT list (one per covered append, the Lucene
    * segment model), and the TOMBSTONE delta list (per-segment dead
    * doc copies — empty until an upsert/eq-delete is absorbed). An
    * `n_docs=0` record legitimately carries zero segments. */
  private final case class IndexMeta(nDocs: Long, sumDl: Long,
                                     segs: Seq[String],
                                     range: Option[(Long, Long)],
                                     tombs: Seq[String])

  /** Publish a version's coverage record: corpus scalars, the covered
    * doc-id range (`[0, -1]` = empty corpus — the DISJOINTNESS guard
    * [[indexCorpusDelta]]'s fast path checks appends against), the
    * segment list, and the tombstone list. Atomic — readers key on
    * this file. */
  private def publishIndexMeta(root: String, v: Long, nDocs: Long,
                               sumDl: Long, docRange: (Long, Long),
                               segs: Seq[String],
                               tombs: Seq[String]): Unit = {
    // an empty corpus publishes coverage with no segment dir — the
    // publish tmp file still needs its parent
    MetaIO.mkdirs(bm25Dir(root, v))
    MetaIO.publishString(MetaIO.join(bm25Dir(root, v), "stats"),
      s"n_docs=$nDocs\nsum_dl=$sumDl\n" +
        s"min_doc=${docRange._1}\nmax_doc=${docRange._2}\n" +
        s"segments=${segs.mkString(",")}\n" +
        s"tombs=${tombs.mkString(",")}")
  }

  /** The (n_docs, Σdl, [min_doc, max_doc]) scalars of a doc-length
    * frame; an empty slice reports the canonical empty range
    * `[0, -1]`. */
  private def scalarsOf(dls: DataFrame): (Long, Long, (Long, Long)) = {
    val r = dls.agg(count(lit(1)), coalesce(sum("dl"), lit(0L)),
      min("doc_id"), max("doc_id")).head()
    (r.getLong(0), r.getLong(1),
      if (r.getLong(0) == 0L) (0L, -1L) else (r.getLong(2), r.getLong(3)))
  }

  private def readIndexMeta(root: String, v: Long): Option[IndexMeta] =
    scala.util.Try {
      val kv = MetaIO.readString(MetaIO.join(bm25Dir(root, v), "stats"))
        .split("\n").map(_.split("=", 2))
        .collect { case Array(key, x) => key -> x }.toMap
      for {
        n <- kv.get("n_docs").flatMap(_.toLongOption)
        s <- kv.get("sum_dl").flatMap(_.toLongOption)
      } yield IndexMeta(n, s,
        kv.get("segments").map(_.split(",").toSeq.filter(_.nonEmpty))
          .getOrElse(Seq(s"v=$v/_bm25/postings")),
        for {
          lo <- kv.get("min_doc").flatMap(_.toLongOption)
          hi <- kv.get("max_doc").flatMap(_.toLongOption)
        } yield (lo, hi),
        kv.get("tombs").map(_.split(",").toSeq.filter(_.nonEmpty))
          .getOrElse(Seq.empty))
    }.toOption.flatten

  /** The covered segment list of a version's index (empty when the
    * version is uncovered) — the audit surface driver keys and specs
    * use to assert delta maintenance actually appended a segment
    * instead of silently rebuilding. */
  def indexSegments(root: String, version: Long = -1L): Seq[String] = {
    val v = if (version >= 0) version else SnapshotTable.latestVersion(root)
    if (v < 0) Seq.empty
    else readIndexMeta(root, v).map(_.segs).getOrElse(Seq.empty)
  }

  /** The tombstone delta list of a version's index — audit twin of
    * [[indexSegments]]. */
  private[graft] def indexTombs(root: String, version: Long = -1L)
      : Seq[String] = {
    val v = if (version >= 0) version else SnapshotTable.latestVersion(root)
    if (v < 0) Seq.empty
    else readIndexMeta(root, v).map(_.tombs).getOrElse(Seq.empty)
  }

  /** The unioned `(_seg, doc_id, dl)` tombstone frame of a coverage
    * record, None when it has none. */
  private def readTombFrame(spark: org.apache.spark.sql.SparkSession,
                            root: String,
                            tombs: Seq[String]): Option[DataFrame] =
    if (tombs.isEmpty) None
    else Some(tombs.map(tp =>
      spark.read.schema(TombSchema).parquet(MetaIO.join(root, tp)))
      .reduce(_ unionByName _))

  /** The unioned live `(_seg, doc_id, dl)` doc inventory of a coverage
    * record — segment doclens minus tombstones — or None when any
    * segment predates the doclens sidecar (the precise delta path then
    * declines to a full rebuild, which writes doclens going
    * forward). */
  private def liveDoclens(spark: org.apache.spark.sql.SparkSession,
                          root: String, meta: IndexMeta)
      : Option[DataFrame] = {
    import spark.implicits._
    val paths = meta.segs.map(sp => sp -> MetaIO.join(root, s"$sp.dl"))
    if (!paths.forall(p => MetaIO.exists(p._2))) return None
    val all =
      if (paths.isEmpty) Seq.empty[(String, Long, Long)]
        .toDF("_seg", "doc_id", "dl")
      else paths.map { case (sp, p) =>
        spark.read.schema(DoclensSchema).parquet(p)
          .select(lit(sp).as("_seg"), col("doc_id"), col("dl"))
      }.reduce(_ unionByName _)
    Some(readTombFrame(spark, root, meta.tombs) match {
      case None => all
      case Some(t) => all.join(t.select("_seg", "doc_id"),
        Seq("_seg", "doc_id"), "left_anti")
    })
  }

  /** Build the INVERTED-INDEX sidecar for a stored documents snapshot
    * table — the [[FuzzyJoin.collectGramStats]] pattern applied to
    * retrieval (the Lucene posting-list shape, Spark-native): one
    * corpus pass records, per term, the document frequency and the
    * chunked posting list `[(doc_id, tf, dl, ps), ...]` (doc length
    * carried IN the posting so the query path needs no doc join),
    * plus the doclens sidecar and the corpus scalars (n_docs, Σdl).
    * [[bm25SearchStored]] then answers a query from ~‖query‖ posting
    * rows — ZERO corpus scans.
    *
    * Layout: postings range-partitioned and sorted by (term, chunk),
    * so a query's `term IN (...)` prunes parquet row groups; chunk
    * contents are `sort_array`ed (deterministic bytes). Idempotent per
    * version; the postings dir lands first and the scalars file — the
    * coverage marker readers key on — publishes LAST and atomically,
    * so a half-built index is invisible. `textCol` names the column to
    * tokenize (a curated corpus indexes `clean_text`). Returns the
    * version covered. */
  def indexCorpus(spark: org.apache.spark.sql.SparkSession, root: String,
                  version: Long = -1L, textCol: String = "text"): Long = {
    val v = if (version >= 0) version else SnapshotTable.latestVersion(root)
    require(v >= 0, s"no committed version at $root")
    if (MetaIO.exists(MetaIO.join(bm25Dir(root, v), "stats")))
      return v // idempotent
    val docs0 = SnapshotTable.read(spark, root, v)
    val docs =
      if (textCol == "text") docs0
      else docs0.withColumn("text", col(textCol))
    val dls = docLens(docs).persist()
    try {
      val (n, s, range) = scalarsOf(dls)
      val segs =
        if (n == 0L) Seq.empty[String] // empty corpus: coverage, no dir
        else {
          val sp = writeSegment(chunkedPostings(docs, dls), root, v,
            "postings")
          writeDoclens(dls, root, v, "postings")
          Seq(sp)
        }
      fullBuilds.incrementAndGet()
      publishIndexMeta(root, v, n, s, range, segs, Seq.empty)
      v
    } finally dls.unpersist()
  }

  /** INCREMENTAL index maintenance (the Lucene segment + liveDocs
    * model): index version `v` as the nearest covered ancestor's
    * coverage PLUS an O(batch) delta — never an O(corpus) re-index —
    * whenever the history since that ancestor is expressible as
    * appended rows and doc-keyed equality deletes:
    *
    *  - **Append-only, range-disjoint** (the fast path): the appended
    *    batch becomes posting segment `seg-v`; per-term df totals are
    *    segment sums, the corpus scalars add. No data read beyond the
    *    batch.
    *  - **MERGE-upserted / eq-deleted** (the liveDocs path — the
    *    reference's silver table is upserted every batch,
    *    `bronze_to_silver.py:156-188`, so an index that full-rebuilds
    *    on upsert rebuilds forever): new equality-delete sidecars
    *    keyed EXACTLY on `doc_id` mark ancestor doc copies dead. The
    *    dead copies are priced against the per-segment doclens
    *    sidecars (O(doc count), zero text reads), recorded as
    *    per-segment TOMBSTONES consulted by every query's anti-join,
    *    and the replacement rows are delta-indexed as `seg-v` — the
    *    strict eq-delete sequence rule guarantees old copies die and
    *    batch rows survive, mirroring [[SnapshotTable.upsertMor]].
    *    Corpus scalars subtract the tombstoned (count, Σdl) exactly.
    *
    * Falls back to a FULL rebuild (never silently double-counts) when:
    * position-delete history changed (dead rows at unknown doc ids),
    * an eq-delete keys on anything but `doc_id`, history was rewritten
    * (compaction), a batch doc collides with a live ancestor doc
    * WITHOUT an eq-delete covering it, a batch carries duplicate ids,
    * or an ancestor segment predates the doclens sidecar. Idempotent
    * per version; segment/tombstone dirs land first, stats publishes
    * atomically last. */
  def indexCorpusDelta(spark: org.apache.spark.sql.SparkSession,
                       root: String, version: Long = -1L,
                       textCol: String = "text"): Long = {
    val v = if (version >= 0) version else SnapshotTable.latestVersion(root)
    require(v >= 0, s"no committed version at $root")
    if (MetaIO.exists(MetaIO.join(bm25Dir(root, v), "stats")))
      return v // idempotent
    // nearest covered ancestor — lazily, so a long version history
    // pays one metadata read, not thousands
    val parent = ((v - 1) to 0L by -1L).iterator
      .flatMap(p => readIndexMeta(root, p).map(p -> _))
      .nextOption()
    parent match {
      case None => indexCorpus(spark, root, v, textCol)
      case Some((p, meta)) =>
        // position deletes must be UNCHANGED since p: old ones are
        // already reflected in p's postings, new ones hollow out
        // ancestor segments at doc ids only a scan could name
        val posOk = SnapshotTable.deleteEntries(root, v) ==
          SnapshotTable.deleteEntries(root, p)
        val eqP = SnapshotTable.eqDeleteEntries(root, p).toSet
        val newEq = SnapshotTable.eqDeleteEntries(root, v).filterNot(eqP)
        val eqOk = newEq.forall(_._2 == Seq("doc_id"))
        val delta =
          if (posOk && eqOk)
            // appendedBetween REFUSES rewritten history and resolves
            // the new deletes, so this is exactly the batch's live rows
            scala.util.Try(SnapshotTable.appendedBetween(spark, root, p, v))
              .toOption
          else None
        (delta, meta.range) match {
          case (Some(d0), Some((plo, phi))) =>
            val d =
              if (textCol == "text") d0
              else d0.withColumn("text", col(textCol))
            val dls = docLens(d).persist()
            try {
              def unionRange(dn: Long, dlo: Long,
                             dhi: Long): (Long, Long) =
                if (meta.nDocs == 0L && dn == 0L) (0L, -1L)
                else if (meta.nDocs == 0L) (dlo, dhi)
                else if (dn == 0L) (plo, phi)
                else (math.min(plo, dlo), math.max(phi, dhi))
              def writeSeg(dn: Long): Seq[String] =
                if (dn == 0L) meta.segs
                else {
                  val sp = writeSegment(chunkedPostings(d, dls), root, v,
                    s"seg-$v")
                  writeDoclens(dls, root, v, s"seg-$v")
                  meta.segs :+ sp
                }
              val done =
                if (newEq.isEmpty) {
                  // scalars first: a disjoint no-delete append must not
                  // read the ancestor inventory at all
                  val (dn, dsum, (dlo, dhi)) = scalarsOf(dls)
                  if (meta.nDocs == 0L || dn == 0L || dhi < plo ||
                      dlo > phi) {
                    // FAST path: no collision is possible, no doc dies —
                    // pure segment append, zero ancestor reads
                    publishIndexMeta(root, v, meta.nDocs + dn,
                      meta.sumDl + dsum, unionRange(dn, dlo, dhi),
                      writeSeg(dn), meta.tombs)
                    Some(v)
                  } else deltaWithTombstones(spark, root, v, meta, newEq,
                    dls, unionRange, writeSeg)
                } else
                  // an eq-delete forces the liveDocs path regardless of
                  // ranges — batch scalars fold into ITS pricing job
                  // (one multi-aggregate action, not a separate
                  // scalarsOf + refusal probe + tombstone aggregate)
                  deltaWithTombstones(spark, root, v, meta, newEq, dls,
                    unionRange, writeSeg)
              done match {
                case Some(dv) => dv
                case None => indexCorpus(spark, root, v, textCol)
              }
            } finally dls.unpersist()
          case _ => indexCorpus(spark, root, v, textCol)
        }
    }
  }

  /** The liveDocs half of [[indexCorpusDelta]]: price the batch
    * against the ancestor's live doc inventory, refuse (None → caller
    * full-rebuilds) on uncovered collisions or in-batch duplicate ids,
    * otherwise tombstone the superseded copies and publish.
    *
    * ONE pricing action: the batch scalars (n, Σdl, id range), the
    * refusal gate (in-batch duplicate ids, collisions with live
    * survivors), and the tombstone pricing (dead count + Σdl) all fold
    * into a single multi-aggregate job over batch ∪ live inventory —
    * the old shape paid a separate job-submission floor for each
    * (scalarsOf, the `bad` emptiness probe, the tombstone aggregate),
    * and at batch sizes those floors, not data, dominated the key. */
  private def deltaWithTombstones(spark: org.apache.spark.sql.SparkSession,
                                  root: String, v: Long, meta: IndexMeta,
                                  newEq: Seq[(Long, Seq[String])],
                                  dls: DataFrame,
                                  unionRange: (Long, Long, Long) => (Long, Long),
                                  writeSeg: Long => Seq[String])
      : Option[Long] = {
    import spark.implicits._
    val live0 = liveDoclens(spark, root, meta).getOrElse(return None)
    val eqKeys = SnapshotTable.eqDeleteGroups(spark, root, newEq)
      .map(_._2.select(col("doc_id")))
      .reduceOption(_ unionByName _)
      .getOrElse(Seq.empty[Long].toDF("doc_id")).distinct()
    val live = live0.persist()
    try {
      // batch rows flagged _b=true, live inventory rows _b=false, the
      // eq-delete key set left-joined on — per doc id one row of
      // per-side facts, then one global fold:
      //   _nb   > 1                → in-batch duplicate id (refuse)
      //   _nb   > 0 ∧ live survivor (no _eq) → uncovered collision
      //                              (would double-count df — refuse)
      //   live ∧ _eq               → tombstoned copy (count, Σdl)
      //   batch side               → dn, Σdl, [min,max] doc id
      val perId = dls.select(col("doc_id"), col("dl"), lit(true).as("_b"))
        .unionByName(live.select(col("doc_id"), col("dl"),
          lit(false).as("_b")))
        .join(eqKeys.withColumn("_eq", lit(true)), Seq("doc_id"), "left")
        .groupBy("doc_id")
        .agg(
          sum(when(col("_b"), 1L).otherwise(0L)).as("_nb"),
          sum(when(col("_b"), col("dl"))).as("_bdl"),
          max(when(!col("_b") && col("_eq").isNull, 1L).otherwise(0L))
            .as("_surv"),
          sum(when(!col("_b") && col("_eq").isNotNull, 1L).otherwise(0L))
            .as("_tn"),
          sum(when(!col("_b") && col("_eq").isNotNull, col("dl")))
            .as("_tdl"))
      val r = perId.agg(
        coalesce(sum("_nb"), lit(0L)),                             // 0 dn
        coalesce(sum("_bdl"), lit(0L)),                            // 1 Σdl
        min(when(col("_nb") > 0L, col("doc_id"))),                 // 2 dlo
        max(when(col("_nb") > 0L, col("doc_id"))),                 // 3 dhi
        coalesce(sum(when(col("_nb") > 1L, 1L)), lit(0L)),         // 4 dups
        coalesce(sum(when(col("_nb") > 0L && col("_surv") === 1L, 1L)),
          lit(0L)),                                                // 5 coll
        coalesce(sum("_tn"), lit(0L)),                             // 6 tn
        coalesce(sum("_tdl"), lit(0L))).head()                     // 7 tdl
      // refusal gate — same conditions as the old two probes: a batch
      // id colliding with a live ancestor doc NOT covered by an
      // eq-delete would double-count df; a duplicate id within the
      // batch would double-count inside the new segment
      if (r.getLong(4) > 0L || r.getLong(5) > 0L) return None
      val (dn, dsum) = (r.getLong(0), r.getLong(1))
      val (dlo, dhi) =
        if (dn == 0L) (0L, -1L) else (r.getLong(2), r.getLong(3))
      val (tn, tdl) = (r.getLong(6), r.getLong(7))
      // the tombstones: live ancestor copies an eq-delete kills —
      // each keyed to ITS segment, so a re-inserted id in the new
      // segment survives the query anti-join
      val tombs =
        if (tn == 0L) meta.tombs
        else meta.tombs :+ writeTombs(
          live.join(eqKeys, Seq("doc_id"), "left_semi"), root, v,
          s"tomb-$v")
      publishIndexMeta(root, v, meta.nDocs + dn - tn,
        meta.sumDl + dsum - tdl, unionRange(dn, dlo, dhi), writeSeg(dn),
        tombs)
      Some(v)
    } finally live.unpersist()
  }

  /** SEGMENT COMPACTION (the Lucene merge policy): fold a version's
    * accumulated posting segments into ONE merged segment and PURGE
    * its tombstones — each delta append adds a segment the query must
    * union and each tombstone delta an anti-join, so a long
    * append/upsert history taxes every query; the merge re-groups
    * LIVE postings (union → explode → drop tombstoned → regroup by
    * (term, chunk)), never re-tokenizing the corpus — cost is the
    * index size, not the text. Per-term df is recomputed as the exact
    * count of live posting entries (the same arithmetic the query
    * path does on the fly); corpus scalars carry over unchanged
    * (already live-adjusted), so answers are bit-identical before and
    * after (spec-pinned). The merged doclens sidecar derives from the
    * live postings (every doc has ≥1 token — [[docLens]]). Idempotent:
    * one segment with no tombstones is left alone. The merged dir
    * lands first, the stats rewrite publishes atomically last.
    * Superseded segment dirs are NOT deleted: a later version's
    * coverage record (or an in-flight query that already loaded the
    * old stats) may still chain to them, and no check here can close
    * that window — they are dead weight on disk until
    * [[SnapshotTable]] version expiry removes their version dirs
    * wholesale, the same retention rule every sidecar follows.
    * Returns the segment count after. */
  def compactIndex(spark: org.apache.spark.sql.SparkSession,
                   root: String, version: Long = -1L): Int = {
    val v = if (version >= 0) version else SnapshotTable.latestVersion(root)
    require(v >= 0, s"no committed version at $root")
    val meta = readIndexMeta(root, v).getOrElse(
      throw new IllegalStateException(
        s"no index coverage at $root v=$v — run indexCorpus first"))
    if (meta.segs.size <= 1 && meta.tombs.isEmpty)
      return meta.segs.size // idempotent
    val post = readSegments(spark, root, meta.segs)
    val exploded = post
      .select(col("_seg"), col("term"), explode(col("postings")).as("p"))
    val live = (readTombFrame(spark, root, meta.tombs) match {
      case None => exploded
      case Some(t) => exploded
        .withColumn("doc_id", col("p.doc_id"))
        .join(t.select("_seg", "doc_id"), Seq("_seg", "doc_id"),
          "left_anti")
    }).select(col("term"), col("p")).persist()
    try {
      // exact live df per term — for a tombstone-free index this is
      // precisely the recorded segment-df sum; a window sum of
      // posting-list sizes over the term partition (not a separate
      // aggregate + join back), matching [[chunkedPostings]] so the
      // frame reaches [[writeSegment]] already term-clustered
      val merged = live
        .withColumn("chunk", expr(s"p.doc_id div ${PostingChunkDocs}L"))
        .groupBy("term", "chunk")
        .agg(sort_array(collect_list(col("p"))).as("postings"))
        .withColumn("df", sum(size(col("postings")).cast("bigint"))
          .over(Window.partitionBy("term")))
      // a legacy record without a range recomputes it from the live
      // postings instead of publishing the empty-range sentinel (which
      // would make a later delta's disjointness check pass vacuously)
      val range = meta.range.getOrElse {
        val r = live.agg(count(lit(1)), min("p.doc_id"), max("p.doc_id"))
          .head()
        if (r.getLong(0) == 0L) (0L, -1L) else (r.getLong(1), r.getLong(2))
      }
      val seg = writeSegment(merged, root, v, s"merged-$v")
      writeDoclens(
        live.select(col("p.doc_id").as("doc_id"), col("p.dl").as("dl"))
          .distinct(),
        root, v, s"merged-$v")
      publishIndexMeta(root, v, meta.nDocs, meta.sumDl, range, Seq(seg),
        Seq.empty)
      1
    } finally live.unpersist()
  }

  /** The fixed phrase [[phraseSearch]] answers by default — an
    * adjacent pair that occurs in the synthetic corpus. */
  val DefaultPhrase: Seq[String] = Seq("merge", "group")

  /** PHRASE SEARCH over the positional postings — the capability the
    * `ps` field exists for (Lucene's phrase query): find every
    * document containing the token sequence `phrase` with at most
    * `slop` extra positions between CONSECUTIVE terms (slop 0 =
    * exact adjacency, Lucene's `"a b"`; slop n = the ordered
    * proximity query `"a b"~n`), with its occurrence count —
    * occurrences are counted at their END positions, so overlapping
    * matches count (position arithmetic, not regex). The query reads
    * only the phrase terms' posting rows (term-pruned, unioned across
    * segments; a doc lives wholly in ONE segment, so in-doc position
    * arithmetic never crosses a segment boundary; tombstoned doc
    * copies drop via the per-segment anti-join) — ZERO corpus scans.
    * The match is an iterated positional extension: positions of term
    * i that extend a match of terms 0..i-1 =
    * `filter(ps_i, p -> ∃ a ∈ acc: 1 ≤ p−a ≤ slop+1)` — ‖phrase‖−1
    * co-partitioned doc_id joins over ≤‖matching docs‖ rows. Falls
    * back to a corpus scan when the index does not cover the version.
    * Output: (doc_id, n_occurrences) for matching docs, doc_id
    * order. */
  def phraseSearch(spark: org.apache.spark.sql.SparkSession,
                   root: String, phrase: Seq[String] = DefaultPhrase,
                   version: Long = -1L, slop: Int = 0): DataFrame = {
    require(phrase.nonEmpty, "phrase needs at least one term")
    require(slop >= 0, "slop must be >= 0")
    val v = if (version >= 0) version else SnapshotTable.latestVersion(root)
    require(v >= 0, s"no committed version at $root")
    readIndexMeta(root, v) match {
      case None =>
        phraseScan(SnapshotTable.read(spark, root, v), phrase, slop)
      case Some(m) if m.segs.isEmpty || m.nDocs == 0L =>
        import spark.implicits._
        Seq.empty[(Long, Int)].toDF("doc_id", "n_occurrences")
      case Some(m) =>
        val post0 = readSegments(spark, root, m.segs)
          .filter(col("term").isin(phrase.distinct: _*))
          .select(col("_seg"), col("term"),
            explode(col("postings")).as("p"))
          .select(col("_seg"), col("term"), col("p.doc_id").as("doc_id"),
            col("p.ps").as("ps"))
        val post = readTombFrame(spark, root, m.tombs) match {
          case None => post0
          case Some(t) => post0.join(t.select("_seg", "doc_id"),
            Seq("_seg", "doc_id"), "left_anti")
        }
        def ofTerm(t: String, as: String): DataFrame =
          post.filter(col("term") === t)
            .select(col("doc_id"), col("ps").as(as))
        val first = ofTerm(phrase.head, "acc")
        val matched = phrase.zipWithIndex.tail.foldLeft(first) {
          case (cur, (t, i)) =>
            cur.join(ofTerm(t, s"ps_$i"), "doc_id")
              .withColumn("acc", expr(
                s"filter(ps_$i, p -> exists(acc, " +
                  s"a -> p - a >= 1 AND p - a <= ${slop + 1}))"))
              .filter(size(col("acc")) > 0)
              .drop(s"ps_$i")
        }
        matched
          .select(col("doc_id"),
            size(col("acc")).as("n_occurrences"))
          .orderBy("doc_id")
    }
  }

  /** The scan-path twin of [[phraseSearch]] (uncovered versions, and
    * the spec's equivalence anchor): per doc, the same iterated
    * positional extension over token-offset arrays — identical
    * position arithmetic, so index ≡ scan for every (phrase, slop). */
  private[graft] def phraseScan(docs: DataFrame, phrase: Seq[String],
                                slop: Int = 0): DataFrame = {
    def posOf(t: String): String =
      s"filter(sequence(1, size(w)), j -> element_at(w, j) = ${sqlLit(t)})"
    val first = docs.select(col("doc_id"), tokens.as("w"))
      .withColumn("acc", expr(posOf(phrase.head)))
    val done = phrase.tail.foldLeft(first) { (cur, t) =>
      cur.withColumn("acc", expr(
        s"filter(${posOf(t)}, p -> exists(acc, " +
          s"a -> p - a >= 1 AND p - a <= ${slop + 1}))"))
    }
    done.filter(size(col("acc")) > 0)
      .select(col("doc_id"), size(col("acc")).as("n_occurrences"))
      .orderBy("doc_id")
  }

  /** The BM25 contribution column over a live posting-entry frame
    * `(term, df, doc_id, tf, dl)` — the same expression tree as
    * [[bm25Search]], with the corpus scalars folded in as literals. */
  private def withContrib(entries: DataFrame, nDocs: Long,
                          sumDl: Long): DataFrame =
    entries
      .withColumn("avgdl",
        lit(sumDl).cast("double") / lit(nDocs).cast("double"))
      .withColumn("idf",
        (lit(nDocs).cast("double") - col("df").cast("double") +
          lit(0.5d)) / (col("df").cast("double") + lit(0.5d)))
      .withColumn("contrib",
        col("idf") * (col("tf").cast("double") * lit(2.2d)) /
          (col("tf").cast("double") +
            lit(1.2d) * (lit(0.25d) +
              lit(0.75d) * (col("dl").cast("double") / col("avgdl")))))

  /** The term-ordered deterministic per-group score fold shared by the
    * single and batched stored search paths. */
  private def foldBm25(contribs: DataFrame,
                       keys: Seq[String]): DataFrame =
    contribs.groupBy(keys.map(col): _*)
      .agg(max(col("dl")).as("dl"),
        count(lit(1)).as("n_hits"),
        sort_array(collect_list(struct(col("term"), col("contrib"))))
          .as("cs"))
      .select(keys.map(col) ++ Seq(col("dl"), col("n_hits"),
        Rounding.roundScaled(
          expr("aggregate(cs, cast(0 as double), " +
            "(acc, s) -> acc + s.contrib)"), 8).as("bm25")): _*)

  /** The live query-term posting entries `(term, doc_id, tf, dl)` of a
    * coverage record plus the exact per-term df frame: recorded
    * segment-df sums when no tombstone exists (zero extra work), a
    * count over the live entries when one does (identical integers —
    * each live (doc, term) pair is exactly one entry). */
  private def livePostings(spark: org.apache.spark.sql.SparkSession,
                           root: String, m: IndexMeta,
                           qTerms: Seq[String])
      : (DataFrame, DataFrame) = {
    val post = readSegments(spark, root, m.segs)
      .filter(col("term").isin(qTerms: _*))
    val exploded = post
      .select(col("_seg"), col("term"), explode(col("postings")).as("p"))
      .select(col("_seg"), col("term"), col("p.doc_id").as("doc_id"),
        col("p.tf").as("tf"), col("p.dl").as("dl"))
    readTombFrame(spark, root, m.tombs) match {
      case None =>
        // per-term df = exact sum over disjoint segments (df repeats
        // on each chunk row WITHIN a segment → distinct first); tiny:
        // ≤ ‖query‖ × segments rows, broadcast back
        (exploded.drop("_seg"),
          post.select("_seg", "term", "df").distinct()
            .groupBy("term").agg(sum("df").as("df")))
      case Some(t) =>
        val live = exploded.join(t.select("_seg", "doc_id"),
          Seq("_seg", "doc_id"), "left_anti").drop("_seg")
        (live, live.groupBy("term").agg(count(lit(1)).as("df")))
    }
  }

  /** [[bm25Search]] over a STORED documents table through the
    * [[indexCorpus]] inverted index: the query reads ~‖query‖ posting
    * rows (term-pruned parquet row groups, unioned across the
    * version's SEGMENTS, tombstoned doc copies dropped by the
    * per-segment anti-join) and never scans the corpus —
    * bit-identical to the scan path (per-term df is the exact live
    * posting-entry count, then the same contribution expression tree
    * over the same (tf, df, dl, N, Σdl) operands and the same
    * term-ordered fold), which the shared oracle proves. Falls back
    * to the corpus-scanning [[bm25Search]] when the sidecar does not
    * cover the version (or is unreadable), answer-identical either
    * way. */
  def bm25SearchStored(spark: org.apache.spark.sql.SparkSession,
                       root: String, query: Seq[String] = DefaultQuery,
                       k: Int = 20, version: Long = -1L): DataFrame = {
    val v = if (version >= 0) version else SnapshotTable.latestVersion(root)
    require(v >= 0, s"no committed version at $root")
    readIndexMeta(root, v) match {
      case None => // uncovered version: the scan path is the answer
        bm25Search(SnapshotTable.read(spark, root, v), query, k)
      case Some(m) if m.segs.isEmpty || m.nDocs == 0L =>
        // covered-but-empty corpus: zero hits, no reads of anything
        import spark.implicits._
        Seq.empty[(Long, Long, Long, Double)]
          .toDF("doc_id", "dl", "n_hits", "bm25")
      case Some(m) =>
        val (live, dfTot) = livePostings(spark, root, m,
          query.distinct.sorted)
        foldBm25(
          withContrib(live.join(broadcast(dfTot), "term"),
            m.nDocs, m.sumDl), Seq("doc_id"))
          .orderBy(col("bm25").desc, col("doc_id"))
          .limit(k)
    }
  }

  /** The fixed query SET [[bm25SearchStoredBatch]] answers by default —
    * three overlapping keyword queries over the synthetic corpus
    * vocabulary. */
  val DefaultQueryBatch: Seq[(String, Seq[String])] = Seq(
    "q0" -> Seq("merge", "spark", "vector", "window"),
    "q1" -> Seq("group", "window"),
    "q2" -> Seq("batch", "scan", "filter"))

  /** BATCHED serving: score a SET of keyword queries against the
    * stored index in ONE job — the serving-tier shape, where planning
    * and the posting read amortize over the whole query batch instead
    * of paying one Spark job per query. The union of all query terms
    * prunes the posting scan once; the tiny (query_id, term) table
    * broadcasts onto the live entries (a term shared by two queries
    * contributes to both); per-(query, doc) scores fold with the same
    * deterministic term-ordered sum; the per-query top-k is ONE
    * row_number window over ≤‖matched docs‖ rows — so the marginal
    * cost of an extra query is its new terms' posting rows, not a
    * planning round-trip ([[graft.operators.Similarity.annTopK]]'s
    * broadcast-query-side shape applied to the lexical leg). Falls
    * back to per-query corpus scans when the version is uncovered,
    * answer-identical. Output: (query_id, doc_id, dl, n_hits, bm25)
    * — each query's rows are EXACTLY [[bm25SearchStored]]'s for that
    * query, ordered (query_id, bm25 desc, doc_id). */
  def bm25SearchStoredBatch(spark: org.apache.spark.sql.SparkSession,
                            root: String,
                            queries: Seq[(String, Seq[String])] =
                              DefaultQueryBatch,
                            k: Int = 20, version: Long = -1L): DataFrame = {
    require(queries.nonEmpty, "need at least one query")
    require(queries.map(_._1).distinct.size == queries.size,
      "query ids must be unique")
    val v = if (version >= 0) version else SnapshotTable.latestVersion(root)
    require(v >= 0, s"no committed version at $root")
    import spark.implicits._
    val qFrame = queries
      .flatMap { case (qid, ts) => ts.distinct.map(qid -> _) }
      .toDF("query_id", "term")
    val allTerms = queries.flatMap(_._2).distinct.sorted
    readIndexMeta(root, v) match {
      case None =>
        val docs = SnapshotTable.read(spark, root, v)
        queries.map { case (qid, ts) =>
          bm25Search(docs, ts, k).withColumn("query_id", lit(qid))
        }.reduce(_ unionByName _)
          .select("query_id", "doc_id", "dl", "n_hits", "bm25")
          .orderBy(col("query_id"), col("bm25").desc, col("doc_id"))
      case Some(m) if m.segs.isEmpty || m.nDocs == 0L =>
        Seq.empty[(String, Long, Long, Long, Double)]
          .toDF("query_id", "doc_id", "dl", "n_hits", "bm25")
      case Some(m) =>
        val (live, dfTot) = livePostings(spark, root, m, allTerms)
        val contribs = withContrib(live.join(broadcast(dfTot), "term"),
          m.nDocs, m.sumDl)
          .join(broadcast(qFrame), "term")
        foldBm25(contribs, Seq("query_id", "doc_id"))
          .withColumn("_rn", row_number().over(
            Window.partitionBy("query_id")
              .orderBy(col("bm25").desc, col("doc_id"))))
          .filter(col("_rn") <= k).drop("_rn")
          .orderBy(col("query_id"), col("bm25").desc, col("doc_id"))
    }
  }

  /** HYBRID SEARCH — Reciprocal Rank Fusion (Cormack et al. 2009) of
    * the lexical [[bm25Search]] leg over `docs` and a dense
    * cosine-similarity leg over `emb` (query = the `queryVec` row's
    * embedding, the query-by-example form): each leg contributes
    * `1/(kRrf + rank)` for the documents in its top-`n`, fused scores
    * rank the final top-`k`. RRF is the standard production fusion for
    * keyword+vector retrieval because it needs NO score calibration —
    * only ranks cross the leg boundary, so a BM25 scale change or an
    * embedding roll never re-weights the fusion.
    *
    * Determinism: ranks are integers from totally-ordered legs (score
    * desc, id asc — both leg scores already replay bit-for-bit in the
    * oracle, see [[bm25Search]] / `ann_topk`), and the fused score is
    * two IEEE divides added in a fixed order (lexical + dense) then
    * [[Rounding.roundScaled]] at the contract boundary. Absent-leg
    * ranks surface as 0 with a 0 contribution.
    *
    * Scale: each leg ends in a `TakeOrderedAndProject` bounded heap
    * (never a global sort) — the lexical leg's cost is [[bm25Search]]'s
    * (query-term-filtered tf), the dense leg is one broadcast-query
    * scan of the embedding table; the fusion then full-outer-joins two
    * ≤`n`-row frames (broadcast, sub-millisecond) so fusion cost is
    * independent of corpus size. The `row_number` windows run over
    * those ≤`n`-row frames, not the corpus. */
  def hybridSearch(docs: DataFrame, emb: DataFrame,
                   query: Seq[String] = DefaultQuery, queryVec: Long = 0L,
                   n: Int = 50, k: Int = 20, kRrf: Int = 60): DataFrame = {
    val lex = bm25Search(docs, query, n)
      .select(col("doc_id"),
        row_number().over(Window.orderBy(col("bm25").desc, col("doc_id")))
          .as("lex_rank"))
    val nrm = Similarity.withNorms(emb)
    val q = nrm.filter(col("vec_id") === queryVec)
      .select(col("embedding").as("q_embedding"), col("nrm").as("q_nrm"))
    val denseTop = nrm.filter(col("vec_id") =!= queryVec)
      .crossJoin(broadcast(q))
      .withColumn("cosine",
        graft.functions.DotProduct.dot(col("embedding"), col("q_embedding")) /
          (col("nrm") * col("q_nrm")))
      .orderBy(col("cosine").desc, col("vec_id")).limit(n)
    val dense = denseTop
      .select(col("vec_id").as("doc_id"),
        row_number().over(Window.orderBy(col("cosine").desc, col("vec_id")))
          .as("dense_rank"))
    fuseRrf(lex, dense, kRrf, k)
  }

  /** The RRF fusion tail shared by [[hybridSearch]] and
    * [[hybridSearchStored]]: full-outer join of two ≤n-row ranked leg
    * frames (`doc_id`, `lex_rank`/`dense_rank`), fused score =
    * Σ 1/(kRrf + rank) over present legs added lexical-then-dense,
    * rounded at the boundary; absent legs surface as rank 0. */
  private def fuseRrf(lex: DataFrame, dense: DataFrame, kRrf: Int,
                      k: Int): DataFrame = {
    def contrib(rank: Column): Column =
      coalesce(lit(1.0d) / (lit(kRrf.toDouble) + rank.cast("double")),
        lit(0.0d))
    lex.join(dense, Seq("doc_id"), "full_outer")
      .withColumn("rrf", Rounding.roundScaled(
        contrib(col("lex_rank")) + contrib(col("dense_rank")), 8))
      .select(col("doc_id"),
        coalesce(col("lex_rank"), lit(0)).as("lex_rank"),
        coalesce(col("dense_rank"), lit(0)).as("dense_rank"), col("rrf"))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(k)
  }

  /** [[hybridSearch]] with BOTH legs index-backed — the fully STORED
    * serving hybrid: the lexical leg reads ~‖query‖ posting rows from
    * [[indexCorpus]]'s inverted index (zero corpus scans), the dense
    * leg probes [[IncrementalIvf]]'s persisted centroid-partitioned
    * lists (partition-pruned to `nprobe` lists — zero embedding-table
    * scans), and the fusion is the same calibration-free RRF. The
    * dense leg is the IVF approximation (ranked within probed lists),
    * exactly [[IncrementalIvf.search]]'s semantics — the oracle
    * replays both legs and the fusion bit-for-bit. `queryEmb` supplies
    * the query-by-example vector (`vec_id = queryVec` row). */
  def hybridSearchStored(spark: org.apache.spark.sql.SparkSession,
                         docsRoot: String, ivfRoot: String,
                         queryEmb: DataFrame,
                         query: Seq[String] = DefaultQuery,
                         queryVec: Long = 0L, n: Int = 50, k: Int = 20,
                         nprobe: Int = 4, kRrf: Int = 60): DataFrame = {
    val lex = bm25SearchStored(spark, docsRoot, query, n)
      .select(col("doc_id"),
        row_number().over(Window.orderBy(col("bm25").desc, col("doc_id")))
          .as("lex_rank"))
    val dense = IncrementalIvf
      .search(spark, ivfRoot,
        queryEmb.filter(col("vec_id") === queryVec)
          .select("vec_id", "embedding"),
        nprobe, n)
      .select(col("neighbor_id").as("doc_id"),
        col("rank").as("dense_rank"))
    fuseRrf(lex, dense, kRrf, k)
  }
}
