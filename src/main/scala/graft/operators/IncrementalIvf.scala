package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.functions.DotProduct

/** Incremental IVF index maintenance — the ANN twin of
  * [[IncrementalDedup]]: new embedding batches are appended into a
  * PERSISTED inverted-file index (centroid-partitioned
  * [[SnapshotTable]]) without ever rebuilding it, and queries probe
  * the stored lists with real partition pruning. This is how a 100 TB
  * vector corpus is actually served: the index is a table, appends are
  * O(batch), and the quantizer is frozen metadata.
  *
  * Layout under `root`:
  *  - `root/centroids` — the coarse quantizer, written ONCE at index
  *    creation and immutable after (the Iceberg partition-spec rule
  *    applied to ANN: appends against a drifting quantizer silently
  *    fragment the lists, so a later `quantizer` argument throws);
  *  - `root/lists` — `(vec_id, centroid_id, embedding, nrm)`
  *    partitioned by `centroid_id`: each append is an atomic
  *    fast-append commit of only the batch's rows.
  *
  * Replay-safe at batch cost: the vec-id anti-join that drops
  * already-indexed vectors reads ONLY the partitions the batch's own
  * assignments touch (partition-pruned — never a corpus scan).
  */
object IncrementalIvf {

  private def listsRoot(root: String) = s"$root/lists"
  private def centRoot(root: String) = s"$root/centroids"

  /** The stored quantizer as `(centroid_id, ct_embedding, ct_nrm)`. */
  def readCentroids(spark: SparkSession, root: String): DataFrame =
    SnapshotTable.read(spark, centRoot(root))
      .select(col("centroid_id"), col("ct_embedding"), col("ct_nrm"))

  /** Append `batch` (`vec_id`, `embedding`) to the index. On the FIRST
    * append `quantizer` (as [[Similarity.trainCentroids]] /
    * [[Similarity.trainCentroidsOrdered]] emit: `centroid_id`,
    * `ct_embedding`, `ct_nrm`) seeds the immutable quantizer —
    * defaulting to the batch's `nlist` lowest-id vectors, the same
    * deterministic rule as [[Similarity.ivfTopK]]. Passing a quantizer
    * on a later append throws: re-quantizing an existing index is a
    * rebuild, not an append. Returns the new lists version. */
  def appendBatch(spark: SparkSession, root: String, batch: DataFrame,
                  quantizer: Option[DataFrame] = None,
                  nlist: Int = 16): Long = {
    val exists = SnapshotTable.latestVersion(centRoot(root)) >= 0
    val n = Similarity.withNorms(batch)
      .select("vec_id", "embedding", "nrm").persist()
    if (exists && quantizer.nonEmpty)
      throw new IllegalArgumentException(
        "index already has a quantizer: appending with a new one would " +
          "fragment the inverted lists — rebuild instead")
    val cent =
      if (exists) readCentroids(spark, root)
      else {
        val q = quantizer.getOrElse(Similarity.lowestIds(n, nlist))
        // an empty quantizer would brick the index permanently: every
        // later append assigns against zero centroids (indexing nothing)
        // and the exists-guard forbids ever supplying a real one
        if (q.isEmpty) {
          n.unpersist()
          throw new IllegalArgumentException(
            "index creation requires a non-empty quantizer (or a first " +
              "batch with vec_id < nlist rows to seed one)")
        }
        SnapshotTable.commit(q, centRoot(root))
        readCentroids(spark, root)
      }
    // nearest-centroid assignment over the BATCH only: one narrow
    // projection against the collected quantizer (ivfTopK's index build)
    val asg = Similarity.centroids(cent).assign(n, "embedding", "nrm")
      .select("vec_id", "centroid_id", "embedding", "nrm").persist()
    // replay safety at BATCH cost: only the touched partitions are read
    val lroot = listsRoot(root)
    // planning metadata, ≤ nlist rows — the same bounded driver-side
    // resolution every partition-pruned write here does
    val touched = asg.select(col("centroid_id")).distinct()
      .collect().map(_.getLong(0))
    val slice =
      if (SnapshotTable.latestVersion(lroot) < 0 || touched.isEmpty) asg
      else {
        val existing = SnapshotTable.read(spark, lroot)
          .filter(col("centroid_id").isin(touched.toIndexedSeq: _*))
          .select("vec_id")
        asg.join(existing, Seq("vec_id"), "left_anti")
      }
    val out =
      if (slice.isEmpty) SnapshotTable.latestVersion(lroot)
      else SnapshotTable.commitAppend(slice, lroot, "centroid_id")
    asg.unpersist() // the commit consumed them — release the cache
    n.unpersist()
    out
  }

  /** How skewed are the stored lists? One row per centroid with its
    * vector count plus the index-wide balance ratio
    * `max_n / avg_n` — the drift signal a rebalance cadence watches
    * (a frozen quantizer under distribution drift concentrates new
    * vectors in few lists, and probe cost follows list size). */
  def listStats(spark: SparkSession, root: String): DataFrame = {
    val per = SnapshotTable.read(spark, listsRoot(root))
      .groupBy("centroid_id").agg(count(lit(1)).as("n_vectors"))
    per.crossJoin(broadcast(
      per.agg((max("n_vectors").cast("double") /
        avg("n_vectors")).as("balance_ratio"))))
  }

  /** REBUILD the index with a retrained quantizer into `destRoot` —
    * the answer to quantizer drift that [[appendBatch]]'s frozen-
    * quantizer rule deliberately refuses in place. Side-by-side roll,
    * the way production vector stores do it: the new index builds
    * next to the live one (O(corpus) — a rebuild's honest cost, paid
    * on the rebalance cadence, never per batch), the old index serves
    * reads throughout, and [[swapAlias]] flips the serving pointer
    * atomically (flip back = instant rollback). New quantizer =
    * `quantizer` or [[Similarity.trainCentroids]] over the stored
    * vectors (deterministic); returns the new index's lists version. */
  def rebalance(spark: SparkSession, root: String, destRoot: String,
                nlist: Int = 16, iters: Int = 5,
                quantizer: Option[DataFrame] = None): Long = {
    require(SnapshotTable.latestVersion(listsRoot(destRoot)) < 0 &&
      SnapshotTable.latestVersion(centRoot(destRoot)) < 0,
      s"rebalance destination $destRoot already holds an index")
    val vectors = SnapshotTable.read(spark, listsRoot(root))
      .select("vec_id", "embedding")
    val q = quantizer.getOrElse(
      Similarity.trainCentroids(vectors, nlist, iters))
    appendBatch(spark, destRoot, vectors, Some(q), nlist)
  }

  /** Atomically point `aliasPath` (a one-line pointer file, the
    * serving alias) at `indexRoot`. Readers resolve through
    * [[resolveAlias]]; the flip is a tmp-write + atomic move. */
  def swapAlias(aliasPath: String, indexRoot: String): Unit = {
    if (aliasPath.contains('/'))
      MetaIO.mkdirs(aliasPath.substring(0, aliasPath.lastIndexOf('/')))
    MetaIO.publishString(aliasPath, indexRoot)
  }

  /** The index root `aliasPath` currently serves. */
  def resolveAlias(aliasPath: String): String =
    MetaIO.readString(aliasPath).trim

  /** Probe the stored index: for each query (`query_id`, `embedding`),
    * rank exactly within its `nprobe` nearest lists and return the
    * top-k — identical semantics to [[Similarity.ivfTopK]] over the
    * union of every appended batch. One projection scores each query
    * against the collected quantizer and is collected with its
    * `nprobe` nearest centroid ids (‖queries‖ planning-time rows; no
    * job when `queries` is a local relation). Those rows are the
    * broadcast probe side, and their ids a literal filter, so the
    * lists scan PRUNES to the probed partitions — the per-query cost
    * an IVF index exists to buy. The lists scan plans from the
    * manifest on the driver ([[SnapshotTable.read]]), so no listing
    * job runs however many list directories the appends have made. */
  def search(spark: SparkSession, root: String, queries: DataFrame,
             nprobe: Int = 4, k: Int = 10): DataFrame = {
    val cent = Similarity.centroids(readCentroids(spark, root))
    val q = Similarity.withNorms(queries)
      .select(col("vec_id").as("query_id"),
        col("embedding").as("q_embedding"), col("nrm").as("q_nrm"))
    val probeRows = q
      .select(col("*"),
        cent.nearest(col("q_embedding"), col("q_nrm"), nprobe).as("probes"))
      .collect().toSeq
      .flatMap(r => r.getSeq[Row](3).map(p => Row(r(0), p(0), r(1), r(2))))
    val probed = probeRows.map(_.get(1)).distinct
    val pruneTo =
      if (probed.isEmpty) lit(false)
      else col("centroid_id").isin(probed: _*)
    val probeSide = spark.createDataFrame(probeRows.asJava,
      StructType(q.schema.head +: StructField("centroid_id", LongType) +:
        q.schema.tail))
    SnapshotTable.read(spark, listsRoot(root))
      .filter(pruneTo)
      .join(broadcast(probeSide), Seq("centroid_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine",
        DotProduct.dot(col("embedding"), col("q_embedding")) /
          (col("nrm") * col("q_nrm")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("cosine").desc, col("vec_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("cosine"), col("rank"))
  }
}
