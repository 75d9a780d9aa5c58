package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The training-data curation pipeline as governed catalog
  * transactions — [[GovernedPipeline]]'s stage→gate→atomic-publish
  * discipline applied to the LLM-data operators: every arriving
  * document batch is cleaned, quality- and repetition-scored,
  * deduplicated against the GOVERNED cross-batch signature store, and
  * published as ONE atomic catalog commit.
  *
  * Catalog tables:
  *  - `corpus` (by `batch_id`) — one row per ingested doc: cleaned
  *    text, quality/repetition signals, the cross-batch dedup verdict,
  *    and the final `keep` conjunction (the per-batch slice of
  *    [[TextAnalysis.curationReport]]);
  *  - `dedup_signatures` (by `sig_bucket`) — [[IncrementalDedup]]'s
  *    canonical MinHash store, HERE version-governed with the corpus:
  *    `Catalog.rollback` rewinds the corpus AND the store together, so
  *    re-ingestion after a rollback re-deduplicates consistently
  *    (the split-brain a path-owned store would suffer).
  *
  * Exactly-once per batch: committed batch ids are partition METADATA
  * of the corpus table (driver-side manifest names, never a scan) — a
  * replayed batch id returns the current commit untouched. A batch
  * whose staged keep-rate falls below `minKeepRate` (a poisoned crawl
  * shard) aborts BEFORE publication: nothing becomes visible, the
  * staged partition stays on disk for debugging, and the signature
  * store is untouched (the staged-but-unpublished version is
  * [[Catalog.expireCommits]] fodder).
  *
  * Scale: per batch this stages O(batch) rows — signals are
  * shuffle-free projections sharing one doc_id co-partitioning with
  * the dedup verdicts; the dedup plan is [[IncrementalDedup.plan]]
  * (band join against the store, corpus never rescanned); both
  * appends are partition fast-appends.
  */
object CurationRun {

  /** Batch ids already published in the corpus table (driver-side
    * partition metadata, bounded by batches-per-history). */
  def committedBatchIds(catalogRoot: String): Set[Long] =
    batchIdsAt(catalogRoot, Catalog.tableVersions(catalogRoot))

  private def batchIdsAt(catalogRoot: String,
                         tables: Map[String, Long]): Set[Long] =
    tables.get("corpus") match {
      case None => Set.empty
      case Some(v) =>
        SnapshotTable
          .manifestEntries(Catalog.tableRoot(catalogRoot, "corpus"), v)
          .map(_._1).filter(_.startsWith("batch_id="))
          .map(_.stripPrefix("batch_id=").toLong).toSet
    }

  /** Ingest one document batch (`doc_id`, `text`): stage the curated
    * corpus slice and the signature-store append, gate on the staged
    * keep-rate, publish both atomically. Returns the catalog commit id
    * (the current one when `batchId` was already published).
    *
    * `substringWindow = Some(w)` additionally runs Lee et al.
    * ExactSubstr against a GOVERNED `substring_store` table (the
    * canonical window-hash store [[Dedup.exactSubstringBatch]] keeps
    * path-owned): each corpus row gains `substr_removed` (tokens
    * inside duplicated spans, 0 when clean) and the store append
    * publishes in the SAME atomic commit as the corpus — a gate abort
    * leaves both untouched, [[Catalog.rollback]] rewinds both
    * together, and [[retract]] drops a retracted doc's canonicals so
    * its passages re-admit. */
  def runBatch(spark: SparkSession, catalogRoot: String, batch: DataFrame,
               batchId: Long, threshold: Double = 0.8,
               minKeepRate: Double = 0.2,
               substringWindow: Option[Int] = None): Long = {
    def tr(t: String) = Catalog.tableRoot(catalogRoot, t)
    Catalog.publish(catalogRoot) { (base, prev) =>
      // a replay of a published batch publishes nothing: exactly-once skip
      Option.unless(batchIdsAt(catalogRoot, prev).contains(batchId)) {
        val storeContent =
          if (prev.contains("dedup_signatures"))
            Catalog.read(spark, catalogRoot, "dedup_signatures", base)
              .select("doc_id", "mh")
          else {
            import spark.implicits._
            Seq.empty[(Long, Array[Long])].toDF("doc_id", "mh")
          }
        val (verdicts, newSigs, dedupCaches) =
          IncrementalDedup.planCached(batch, storeContent, threshold)
        val substr = substringWindow.map { w =>
          val store =
            if (prev.contains("substring_store"))
              Catalog.read(spark, catalogRoot, "substring_store", base)
                .groupBy("wh").agg(min(col("canon_key")).as("canon_key"))
            else {
              import spark.implicits._
              Seq.empty[(String, Long)].toDF("wh", "canon_key")
            }
          Dedup.exactSubstringStage(batch, store, w)
        }
        try {

        // per-doc curation row: shuffle-free signal projections joined to
        // the dedup verdict on one doc_id co-partitioning
        val corpus0 = TextAnalysis.clean(batch)
          .join(TextAnalysis.quality(batch)
            .select("doc_id", "n_words", "distinct_ratio", "quality_pass"),
            "doc_id")
          .join(TextAnalysis.repetition(batch)
            .select("doc_id", "top_word_frac", "repetition_pass"), "doc_id")
          .join(verdicts, "doc_id")
          .withColumn("keep",
            col("quality_pass") && col("repetition_pass") && !col("is_dup"))
          .withColumn("batch_id", lit(batchId))
        val corpus = substr match {
          case None => corpus0
          case Some((spans, _, _)) =>
            corpus0
              .join(spans.groupBy("doc_id")
                .agg(sum(col("span_end") - col("span_start"))
                  .as("substr_removed")),
                Seq("doc_id"), "left")
              .withColumn("substr_removed",
                coalesce(col("substr_removed"), lit(0L)))
        }

        val vCorpus = SnapshotTable.stageAppend(corpus, tr("corpus"),
          "batch_id", prev.getOrElse("corpus", -1L))
        val staged = Map("corpus" -> vCorpus) ++
          (if (newSigs.isEmpty) Map.empty[String, Long]
           else Map("dedup_signatures" -> SnapshotTable.stageAppend(newSigs,
             tr("dedup_signatures"), "sig_bucket",
             prev.getOrElse("dedup_signatures", -1L)))) ++
          (substr match {
            case Some((_, newCanon, _)) if !newCanon.isEmpty =>
              Map("substring_store" -> SnapshotTable.stageAppend(newCanon,
                tr("substring_store"), "wh_bucket",
                prev.getOrElse("substring_store", -1L)))
            case _ => Map.empty[String, Long]
          })

        // gate over the STAGED batch slice: a poisoned shard publishes
        // nothing (neither corpus rows nor its dedup signatures)
        val slice = SnapshotTable.read(spark, tr("corpus"), vCorpus)
          .filter(col("batch_id") === batchId)
        val (n, kept) = {
          val r = slice.agg(count(lit(1)),
            sum(when(col("keep"), 1L).otherwise(0L))).head()
          // SUM over zero rows is NULL — an empty batch must not NPE here
          (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
        }
        if (n > 0 && kept.toDouble / n < minKeepRate)
          throw new IllegalStateException(
            f"curation gate failed for batch $batchId: keep rate " +
              f"${kept.toDouble / n}%.2f < $minKeepRate%.2f — nothing " +
              s"published; staged slice at ${tr("corpus")}/v=$vCorpus")

        Catalog.Staged(staged)
        } finally {
          // staging wrote every row the caches fed — release them so a
          // long-lived ingestion driver doesn't accumulate cached blocks
          dedupCaches.foreach(_.unpersist())
          substr.foreach(_._3.unpersist())
        }
      }
    }.merge
  }

  /** BOOTSTRAP composition — the [[GovernedPipeline.runFull]] analog
    * for the curation pipeline (VERDICT r14 #6): curate a whole
    * documents table as deterministic batches driven through
    * [[runBatch]], exposing the full governed surface including
    * `substringWindow`. Every commit atomically carries the corpus
    * slice + the MinHash signature append + (with `substringWindow`)
    * the substring-store append — a gate abort publishes none of
    * them, and [[Catalog.rollback]] rewinds all three together.
    * Batches split by `doc_id % batches` (deterministic, so a crashed
    * bootstrap RESUMES: committed batch ids replay as exactly-once
    * skips). Returns the last commit id. */
  def runFull(spark: SparkSession, docs: DataFrame, catalogRoot: String,
              batches: Int = 4, threshold: Double = 0.8,
              minKeepRate: Double = 0.2,
              substringWindow: Option[Int] = None): Long = {
    require(batches > 0, "need at least one batch")
    (0 until batches).flatMap { b =>
      val slice =
        docs.filter(pmod(col("doc_id"), lit(batches.toLong)) === b.toLong)
      // an empty batch never publishes, so it also never registers in
      // committedBatchIds — skip it here or every re-run would land a
      // junk empty commit where exactly-once skips should hold
      if (slice.isEmpty) None
      else Some(runBatch(spark, catalogRoot, slice, b.toLong, threshold,
        minKeepRate, substringWindow))
    }.lastOption.getOrElse(Catalog.latestCommit(catalogRoot))
  }

  /** The released dataset view: every kept doc across all batches. */
  def keptCorpus(spark: SparkSession, catalogRoot: String): DataFrame =
    Catalog.read(spark, catalogRoot, "corpus").filter(col("keep"))

  /** GOVERNED RETRACTION (right-to-be-forgotten over the curated
    * corpus): erase `docIds` from the corpus AND their canonical
    * MinHash signatures as ONE atomic merge-on-read catalog commit
    * ([[Catalog.transactMorDelete]]) — O(matched rows), no partition
    * rewrites, readers see both erasures or neither. Dropping the
    * signatures is deliberate: a future near-duplicate of a retracted
    * document must be ADMITTED again (nothing of the retracted text
    * may keep acting as a dedup anchor). Returns the new catalog
    * commit (or the current one when no id matched). */
  def retract(spark: SparkSession, catalogRoot: String,
              docIds: Seq[Long]): Long = {
    require(docIds.nonEmpty, "retract needs at least one doc_id")
    val prev = Catalog.tableVersions(catalogRoot)
    val targets = Seq("corpus", "dedup_signatures").filter(prev.contains)
      .map(t => t -> col("doc_id").isin(docIds: _*)) ++
      // substring canonicals are packed doc_id·ChunkIdSpace+pos keys:
      // drop every canonical the retracted docs own, so their passages
      // stop acting as dedup anchors (the §2 re-admission rule) — same
      // atomic commit as the corpus erasure
      (if (prev.contains("substring_store"))
         Seq("substring_store" ->
           expr(s"canon_key div ${ChunkDedup.ChunkIdSpace}")
             .isin(docIds: _*))
       else Nil)
    Catalog.transactMorDelete(spark, catalogRoot, targets)
  }
}
