package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Hashing

/** Embedding similarity: near-dup pairs and ANN top-k over the
  * `embeddings` table (Array[Float] column).
  *
  * Cosine is computed with codegen'd higher-order functions
  * (`zip_with` + `aggregate`) in strict ascending element order, so the
  * IEEE double result is bit-identical to the DuckDB oracle's
  * `list_reduce` fold (both folds start from 0.0).
  *
  * Scale paths:
  *  - near-dup: 32-plane random-hyperplane LSH signatures (built in the
  *    projection, no shuffle, persisted), 4×8-bit bands → bucket join →
  *    exact cosine verify. Candidate work is O(Σ bucket²), never n².
  *  - top-k: the correctness baseline broadcasts the (small) query set
  *    against the full corpus — a single scan with a per-query bounded
  *    heap via window rank; the LSH-bucketed variant restricts each
  *    query to its candidate buckets first (recall < 1, throughput ≫).
  */
object Similarity {

  import graft.functions.{DotProduct, NearestCentroids}

  private def ensureRegistered(df: DataFrame): Unit = {
    val spark = df.sparkSession
    Seq(DotProduct, NearestCentroids).filterNot(f =>
      spark.sessionState.functionRegistry.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier(f.name)))
      .foreach(_.register(spark))
  }

  /** vec_id, embedding, nrm — norm via the native codegen'd dot
    * product (graft.functions.DotProduct), bit-identical to the
    * declarative fold. */
  def withNorms(emb: DataFrame): DataFrame = {
    ensureRegistered(emb)
    emb.withColumn("nrm",
      sqrt(DotProduct.dot(col("embedding"), col("embedding"))))
  }

  /** A centroid frame's rows as `graft_nearest_k`'s array literal. */
  private[graft] final case class Centroids(array: Column, size: Int) {

    /** Each row's `k` nearest centroids, best first. */
    def nearest(emb: Column, nrm: Column, k: Int): Column =
      NearestCentroids.nearestK(emb, nrm, array, k)

    /** `frame` plus `centroid_id`, the nearest centroid to its `emb` —
      * one narrow projection. With no centroids no row is kept, as the
      * empty cross product kept none. */
    def assign(frame: DataFrame, emb: String, nrm: String): DataFrame =
      if (size == 0) frame.withColumn("centroid_id", lit(null).cast("bigint"))
        .filter(lit(false))
      else frame.withColumn("centroid_id",
        nearest(col(emb), col(nrm), 1)(0)("centroid_id"))
  }

  /** Collect `cent` (`centroid_id`, `ct_embedding`, `ct_nrm`; at most
    * nlist rows) on the driver into the literal every nearest-centroid
    * decision here scores against. */
  private[graft] def centroids(cent: DataFrame): Centroids = {
    ensureRegistered(cent)
    val sel = cent.select(col("centroid_id").cast("bigint"),
      col("ct_embedding"), col("ct_nrm"))
    val rows = sel.collect().toSeq
    Centroids(org.apache.spark.sql.graft.GraftV1Wrap.column(
      org.apache.spark.sql.catalyst.expressions.Literal.create(rows,
        org.apache.spark.sql.types.ArrayType(sel.schema))), rows.size)
  }

  /** The `k` lowest-id vectors of a normed frame as centroids — the
    * deterministic quantizer (and k-means seed) of every index here. */
  private[operators] def lowestIds(n: DataFrame, k: Int): DataFrame =
    n.filter(col("vec_id") < k).select(col("vec_id").as("centroid_id"),
      col("embedding").as("ct_embedding"), col("nrm").as("ct_nrm"))

  /** The fixed query set (vec_id < nQueries) of a normed frame. */
  private def queriesOf(n: DataFrame, nQueries: Int): DataFrame =
    n.filter(col("vec_id") < nQueries).select(col("vec_id").as("query_id"),
      col("embedding").as("q_embedding"), col("nrm").as("q_nrm"))

  private def cosine(prefixA: String, prefixB: String): Column =
    DotProduct.dot(col(s"${prefixA}_embedding"), col(s"${prefixB}_embedding")) /
      (col(s"${prefixA}_nrm") * col(s"${prefixB}_nrm"))

  /** Random-hyperplane LSH signature bits + band values per vector.
    * The signature stage is persisted before banding so the band
    * generator captures a cached attribute, not the 16×64-op signature
    * expression (projection collapse would re-run it per band and per
    * self-join side). */
  def lshBands(emb: DataFrame): DataFrame = {
    val sign = Hashing.planeSignSpark("i", "j")
    val sig =
      s"transform(sequence(0, ${Hashing.NumPlanes - 1}), i -> " +
        s"if(aggregate(sequence(0, ${Hashing.EmbDim - 1}), 0D, (acc, j) -> " +
        s"acc + $sign * cast(element_at(embedding, j + 1) as double)) > 0D, 1L, 0L))"
    val bb = Hashing.PlaneBandBits
    emb
      .withColumn("sig", expr(sig))
      .persist()
      .select(col("*"),
        expr(s"inline(transform(sequence(0, ${Hashing.PlaneBands - 1}), k -> " +
          s"struct(k as band, aggregate(sequence(0, ${bb - 1}), 0L, (a, m) -> " +
          s"a + shiftleft(element_at(sig, k * $bb + m + 1), m)) as bval)))"))
  }

  /** Embedding near-dup pairs: LSH-band candidates, exact cosine ≥
    * `threshold` verify. */
  def nearDupPairs(emb: DataFrame, threshold: Double = 0.4): DataFrame = {
    val banded = lshBands(withNorms(emb))
      .select(col("vec_id"), col("embedding"), col("nrm"), col("band"), col("bval"))
    val a = banded.select(col("vec_id").as("vec_a"),
      col("embedding").as("a_embedding"), col("nrm").as("a_nrm"),
      col("band"), col("bval"))
    val b = banded.select(col("vec_id").as("vec_b"),
      col("embedding").as("b_embedding"), col("nrm").as("b_nrm"),
      col("band"), col("bval"))
    a.join(b, Seq("band", "bval"))
      .filter(col("vec_a") < col("vec_b"))
      .dropDuplicates("vec_a", "vec_b")
      .withColumn("cosine", cosine("a", "b"))
      .filter(col("cosine") >= threshold)
      .select("vec_a", "vec_b", "cosine")
  }

  /** Brute-force cosine top-k for a fixed query set (vec_id < nQueries),
    * queries broadcast — the exact-correctness path. */
  def annTopK(emb: DataFrame, nQueries: Int = 10, k: Int = 10): DataFrame = {
    val n = withNorms(emb).persist()
    val q = queriesOf(n, nQueries)
    val c = n.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("c_embedding"), col("nrm").as("c_nrm"))
    c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", cosine("q", "c"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("cosine").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** Lloyd k-means training for the IVF coarse quantizer (library path;
    * the oracle-checked [[ivfTopK]] uses the deterministic lowest-id
    * quantizer so DuckDB can mirror it). Deterministic: seeds are the
    * `k` lowest-id vectors; each iteration assigns every vector to its
    * nearest centroid (broadcast) and recomputes means with one
    * groupBy(centroid) shuffle of narrow partial sums — the standard
    * scalable k-means loop (k×dim doubles per partition combine). Empty
    * clusters keep their previous centroid. */
  def trainCentroids(emb: DataFrame, k: Int = 16, iters: Int = 5): DataFrame =
    lloyd(emb, k, iters) { assigned =>
      // mean per cluster: aggregate(zip) of double arrays, then rescale
      assigned
        .groupBy("centroid_id")
        .agg(count(lit(1)).as("cn"),
          array((0 until Hashing.EmbDim).map(i =>
            sum(element_at(col("v_embedding"), i + 1).cast("double"))): _*)
            .as("sums"))
        .select(col("centroid_id"),
          expr("transform(sums, s -> cast(s / cn as float))").as("new_emb"))
    }

  /** The Lloyd loop both trainers share: seed with the `k` lowest-id
    * vectors, then per iteration assign every vector
    * (`vec_id`, `v_embedding`, `v_nrm`, `centroid_id`) and replace each
    * centroid by its `means` row (`centroid_id`, `new_emb`); a cluster
    * without one keeps its centroid. */
  private def lloyd(emb: DataFrame, k: Int, iters: Int)
                   (means: DataFrame => DataFrame): DataFrame = {
    val n = withNorms(emb).persist()
    // lineage barrier: the plan would double per iteration
    var cent = lowestIds(n, k).localCheckpoint()
    for (_ <- 1 to iters) {
      val assigned = centroids(cent).assign(n
        .select(col("vec_id"), col("embedding").as("v_embedding"),
          col("nrm").as("v_nrm")), "v_embedding", "v_nrm")
      val updated = cent
        .select(col("centroid_id"), col("ct_embedding").as("old_emb"))
        .join(means(assigned), Seq("centroid_id"), "left")
        .select(col("centroid_id"),
          coalesce(col("new_emb"), col("old_emb")).as("embedding"))
      cent = withNorms(updated)
        .select(col("centroid_id"), col("embedding").as("ct_embedding"),
          col("nrm").as("ct_nrm"))
        .localCheckpoint()
    }
    n.unpersist()
    cent
  }

  /** Lloyd k-means with bit-deterministic means — the oracle-checkable
    * twin of [[trainCentroids]] (same seeding, same assignment rule):
    * each cluster's per-dimension sum is folded over members in strict
    * ascending vec_id order, so the IEEE double result is identical on
    * any engine that folds in the same order (the DuckDB oracle does,
    * via `list(... ORDER BY vec_id)` + `list_reduce`) — a
    * groupBy-partial double sum would be partition-order-dependent and
    * hash-diverge on near-ties. The cost is a per-cluster
    * collect_list (members of ONE cluster on one reducer): fine for the
    * oracle-checked config; at corpus scale use [[trainCentroids]]'
    * partial-sums path (same quantizer contract, no ordered-fold
    * guarantee). */
  def trainCentroidsOrdered(emb: DataFrame, k: Int = 16,
                            iters: Int = 1): DataFrame =
    lloyd(emb, k, iters) { assigned =>
      assigned
        .groupBy("centroid_id")
        .agg(count(lit(1)).as("cn"),
          sort_array(collect_list(struct(col("vec_id"), col("v_embedding"))))
            .as("ms"))
        .select(col("centroid_id"), expr(
          s"""transform(
             |  aggregate(ms, array_repeat(cast(0 as double), ${Hashing.EmbDim}),
             |    (acc, m) -> zip_with(acc, m.v_embedding,
             |      (x, y) -> x + cast(y as double))),
             |  s -> cast(s / cn as float))""".stripMargin).as("new_emb"))
    }

  /** IVF (inverted-file) ANN: the second classic corpus-scale index
    * besides LSH. A coarse quantizer of `nlist` centroids partitions the
    * corpus into inverted lists (each vector assigned to its nearest
    * centroid); a query probes only its `nprobe` nearest lists and ranks
    * exactly within them.
    *
    * Centroids are the `nlist` lowest-id vectors — a deterministic
    * quantizer, so the DuckDB oracle mirrors the index bit-for-bit and
    * the whole path is oracle-checked (recall < 1 by construction, like
    * the LSH variant). A production deployment would k-means-train the
    * centroids (iterative Spark jobs over a sample) and keep everything
    * else here unchanged.
    *
    * Scale shape: the centroids (at most nlist rows) are collected once
    * into a `graft_nearest_k` literal, so the assignment and the probes
    * are narrow projections — no shuffle, no cross product. The
    * assigned list table is persisted: that is THE IVF index, and at
    * warehouse scale it is written out partitioned/bucketed by
    * `centroid_id` (Layout.writeBucketed), making the probe join
    * co-located and the per-query scan |corpus| × nprobe/nlist. Probes
    * are broadcast. */
  def ivfTopK(emb: DataFrame, nlist: Int = 16, nprobe: Int = 4,
              nQueries: Int = 10, k: Int = 10,
              centroids: Option[DataFrame] = None): DataFrame = {
    val n = withNorms(emb).persist()
    val cent = Similarity.centroids(centroids.getOrElse(lowestIds(n, nlist)))
    // inverted lists: nearest centroid per vector
    val lists = cent.assign(n
      .select(col("vec_id"), col("embedding").as("v_embedding"),
        col("nrm").as("v_nrm")), "v_embedding", "v_nrm")
      .persist()
    // query → nprobe nearest centroids
    val probes = queriesOf(n, nQueries).select(col("*"),
        inline(cent.nearest(col("q_embedding"), col("q_nrm"), nprobe)))
      .select("query_id", "centroid_id", "q_embedding", "q_nrm")
    // exact rank within the probed lists only
    lists.join(broadcast(probes), Seq("centroid_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine",
        DotProduct.dot(col("v_embedding"), col("q_embedding")) /
          (col("v_nrm") * col("q_nrm")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("cosine").desc, col("vec_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("cosine"), col("rank"))
  }

  /** Recall@k of an approximate ANN result against the exact one —
    * the index-quality metric every ANN deployment tracks: per query,
    * `|approx ∩ exact| / |exact|`, plus the hit count. Both inputs are
    * (query_id, neighbor_id, ...) top-k tables ([[annTopK]] as ground
    * truth vs [[ivfTopK]] / [[annTopKBucketed]]). One co-partitioned
    * join + rollup over the tiny ‖queries × k‖ result tables. */
  def annRecall(exact: DataFrame, approx: DataFrame): DataFrame =
    exact.select("query_id", "neighbor_id")
      .join(approx.select(col("query_id"), col("neighbor_id"))
        .withColumn("_hit", lit(true)),
        Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("k"),
        sum(when(col("_hit"), 1L).otherwise(0L)).as("hits"))
      .withColumn("recall",
        col("hits").cast("double") / col("k").cast("double"))

  /** LSH-bucketed ANN (the 100 TB path): candidates limited to vectors
    * sharing ≥ 1 signature band with the query; same ranking semantics,
    * recall < 1 by construction — but fully deterministic (fixed
    * hyperplanes), so the DuckDB oracle mirrors the bucketing exactly
    * and this path is oracle-checked like the brute-force one. */
  def annTopKBucketed(emb: DataFrame, nQueries: Int = 10, k: Int = 10): DataFrame = {
    val banded = lshBands(withNorms(emb))
      .select(col("vec_id"), col("embedding"), col("nrm"), col("band"), col("bval"))
    val q = banded.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"),
        col("embedding").as("q_embedding"), col("nrm").as("q_nrm"),
        col("band"), col("bval"))
    val c = banded.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("c_embedding"), col("nrm").as("c_nrm"),
      col("band"), col("bval"))
    c.join(broadcast(q), Seq("band", "bval"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("cosine", cosine("q", "c"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("cosine").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** Int8 SCALAR QUANTIZATION of the embedding column — the
    * compressed-index path (FAISS's SQ8): each vector becomes a
    * per-vector scale (max|x|/127), 64 int8 codes
    * (round(x/scale), exactly representable in a byte), and the
    * integer code norm — a ~4× smaller index whose scan cost at
    * corpus scale is a quarter of the float path's IO. Quantization
    * is a shuffle-free projection; max and round are
    * order-independent, and the one division per element is a single
    * correctly-rounded double op, so codes are bit-identical on any
    * engine. All-zero vectors quantize to zero codes (scale 0 guard).
    * The result table IS the index artifact — at a deployment it is
    * what gets persisted instead of the raw floats. */
  def quantizeInt8(emb: DataFrame): DataFrame =
    emb
      .withColumn("scale", expr(
        "cast(aggregate(embedding, cast(0 as float), " +
          "(a, x) -> greatest(a, abs(x))) as double) / 127.0D"))
      .withColumn("codes", expr(
        "transform(embedding, x -> if(scale = 0D, 0, " +
          "cast(round(cast(x as double) / scale) as int)))"))
      .withColumn("qnrm", expr(
        "sqrt(cast(aggregate(codes, 0L, " +
          "(acc, c) -> acc + cast(c as bigint) * c) as double))"))
      .select(col("vec_id"), col("scale"), col("codes"), col("qnrm"))

  /** ANN top-k over the int8-quantized index: candidates rank by the
    * quantized cosine — the EXACT integer dot product of the code
    * arrays over the product of the integer code norms (the per-vector
    * scales cancel out of the ratio). Everything after quantization is
    * integer arithmetic plus correctly-rounded sqrt/divide, so the
    * approximate score is bit-deterministic on any engine — what makes
    * this approximation oracle-checkable where a float-sum
    * approximation would drift. Quantization error shows up as
    * recall < 1 against [[annTopK]] (bound-tested), the standard SQ
    * trade. Same broadcast-queries single-scan shape as [[annTopK]];
    * ties break on neighbor_id. */
  def annTopKQuantized(emb: DataFrame, nQueries: Int = 10,
                       k: Int = 10): DataFrame = {
    val sq = quantizeInt8(emb).persist()
    val q = sq.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"),
        col("codes").as("q_codes"), col("qnrm").as("q_qnrm"))
    val c = sq.select(col("vec_id").as("neighbor_id"),
      col("codes").as("c_codes"), col("qnrm").as("c_qnrm"))
    c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("qdot", expr(
        "aggregate(zip_with(q_codes, c_codes, " +
          "(a, b) -> cast(a as bigint) * b), 0L, (acc, v) -> acc + v)"))
      .withColumn("qcosine",
        col("qdot").cast("double") /
          nullif(col("q_qnrm") * col("c_qnrm"), lit(0.0d)))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("qcosine").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "qcosine", "rank")
  }

  /** Exact ordered fold of squared element distances between two
    * float-array columns (double arithmetic, strict element order —
    * engine-reproducible). */
  private def subSqDist(a: String, b: String): Column =
    expr(s"""aggregate(zip_with($a, $b, (x, y) ->
      |  (cast(x as double) - cast(y as double)) *
      |  (cast(x as double) - cast(y as double))), 0D,
      |  (acc, v) -> acc + v)""".stripMargin)

  private def subDot(a: String, b: String): Column =
    expr(s"""aggregate(zip_with($a, $b, (x, y) ->
      |  cast(x as double) * cast(y as double)), 0D,
      |  (acc, v) -> acc + v)""".stripMargin)

  /** The `m` subvectors of `embedding` as exploded
    * `s: struct<m, <field>>` rows, subspace order. */
  private def subvectors(m: Int, field: String): Column = {
    val sub = Hashing.EmbDim / m
    explode(expr(s"""transform(sequence(0, ${m - 1}), mm ->
      |named_struct('m', mm,
      |  '$field', slice(embedding, mm * $sub + 1, $sub)))""".stripMargin))
      .as("s")
  }

  /** ADC lookup table (`query_id`, `m`, `code`, `term`): each query
    * subvector's dot product with every codeword of its subspace. */
  private def pqLut(emb: DataFrame, cb: DataFrame, nQueries: Int,
                    m: Int): DataFrame =
    emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), subvectors(m, "qv"))
      .select(col("query_id"), col("s.m").as("m"), col("s.qv").as("qv"))
      .join(broadcast(cb), Seq("m"))
      .withColumn("term", subDot("qv", "cw"))
      .select("query_id", "m", "code", "term")

  /** Top-k per query of (`query_id`, `vec_id`, `m`, `term`) rows, each
    * pair scored by the subspace-ORDERED fold of its LUT terms. */
  private def adcTopK(terms: DataFrame, k: Int): DataFrame =
    terms.groupBy("query_id", "vec_id")
      .agg(collect_list(struct(col("m"), col("term"))).as("ts"))
      .withColumn("pq_score", expr(
        "aggregate(array_sort(ts), 0D, (acc, s) -> acc + s.term)"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("pq_score").desc, col("vec_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("pq_score"), col("rank"))

  /** PQ codebook: `nCodes` codewords per subspace, taken from the
    * `nCodes` lowest-id vectors' subvectors — the deterministic
    * quantizer stance of [[ivfTopK]] (swap per-subspace k-means in at
    * deployment; everything downstream is unchanged). M×K tiny rows. */
  def pqCodebook(emb: DataFrame, m: Int = 8, nCodes: Int = 16): DataFrame = {
    val sub = Hashing.EmbDim / m
    require(sub * m == Hashing.EmbDim, s"$m subspaces must divide the dim")
    emb.filter(col("vec_id") < nCodes)
      .select(col("vec_id").cast("int").as("code"), subvectors(m, "cw"))
      .select(col("s.m").as("m"), col("code"), col("s.cw").as("cw"))
  }

  /** PRODUCT-QUANTIZATION encoding (Jégou et al. 2011) — the
    * compressed-index path beyond [[quantizeInt8]]: each vector
    * becomes M sub-codes (here 8×4 bits ≈ 4 bytes per 64-dim vector,
    * a 64× compression), each sub-code the codeword minimizing the
    * EXACT squared subvector distance (argmin window over narrow
    * rows, code tie-break). The codes table IS the index; at corpus
    * scale it is what gets stored and scanned. */
  def pqCodes(emb: DataFrame, codebook: DataFrame, m: Int = 8): DataFrame = {
    val subv = emb.select(col("vec_id"), subvectors(m, "sv"))
      .select(col("vec_id"), col("s.m").as("m"), col("s.sv").as("sv"))
    subv.join(broadcast(codebook), Seq("m"))
      .withColumn("d", subSqDist("sv", "cw"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("vec_id", "m")
          .orderBy(col("d"), col("code"))))
      .filter(col("rn") === 1)
      .select("vec_id", "m", "code")
  }

  /** PQ ANN top-k via ASYMMETRIC DISTANCE COMPUTATION: the query stays
    * un-quantized; a per-query lookup table of subspace dot products
    * against every codeword (‖queries‖×M×K rows, broadcast) scores a
    * corpus vector as the M-term sum of its codes' LUT entries —
    * folded in subspace ORDER (collect/sort/fold), so the approximate
    * score is bit-identical on any engine and the whole path is
    * oracle-checked like the other ANN variants. Scan cost at corpus
    * scale is the CODES table (bytes, not floats); recall < 1 is the
    * PQ trade (bound-tested). */
  def annTopKPq(emb: DataFrame, nQueries: Int = 10, k: Int = 10,
                m: Int = 8, nCodes: Int = 16): DataFrame = {
    val cb = pqCodebook(emb, m, nCodes).persist()
    val codes = pqCodes(emb, cb, m).persist()
    adcTopK(codes.join(broadcast(pqLut(emb, cb, nQueries, m)), Seq("m", "code"))
      .filter(col("vec_id") =!= col("query_id")), k)
  }

  /** IVF-PQ ANN (Jégou et al. 2011; the FAISS IVFPQ production
    * standard, here the `by_residual=false` variant — codes encode raw
    * vectors, so the PQ stage is exactly [[pqCodes]]): the coarse
    * quantizer prunes WHICH vectors each query scores (nprobe/nlist of
    * the corpus, the [[ivfTopK]] assignment verbatim) and product
    * quantization shrinks WHAT is scanned per candidate (M code bytes
    * + a broadcast LUT, the [[annTopKPq]] ADC verbatim) — the two
    * orthogonal cost levers composed, which is what a billion-vector
    * deployment actually runs.
    *
    * Scale shape: the persisted index is the codes table joined to the
    * centroid assignment — at warehouse scale written bucketed by
    * `centroid_id`, so a probe scans ~‖corpus‖·nprobe/nlist CODE rows
    * (bytes, not floats); probes and the per-query LUT broadcast.
    * Determinism: same lowest-id quantizers and subspace-ordered ADC
    * fold as the component operators, so the full composition is
    * oracle-checked end to end like every other ANN variant. */
  def ivfPqTopK(emb: DataFrame, nlist: Int = 16, nprobe: Int = 4,
                nQueries: Int = 10, k: Int = 10,
                m: Int = 8, nCodes: Int = 16): DataFrame = {
    val n = withNorms(emb).persist()
    val cent = centroids(lowestIds(n, nlist))
    // coarse assignment — ivfTopK's inverted-list build
    val asg = cent.assign(n, "embedding", "nrm")
      .select("vec_id", "centroid_id")
    val cb = pqCodebook(emb, m, nCodes).persist()
    val codes = pqCodes(emb, cb, m).persist()
    // queries → nprobe nearest lists (broadcast), then the candidate
    // (query, vector) pairs — each vector lives in exactly ONE list,
    // so a pair appears at most once, no dedup
    val probes = queriesOf(n, nQueries).select(col("query_id"),
        inline(cent.nearest(col("q_embedding"), col("q_nrm"), nprobe)))
      .select("query_id", "centroid_id")
    val cand = asg.join(broadcast(probes), Seq("centroid_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .select("query_id", "vec_id")
    // ADC: annTopKPq's scoring, restricted to the probed lists
    adcTopK(codes.join(cand, Seq("vec_id"))
      .join(broadcast(pqLut(emb, cb, nQueries, m)), Seq("query_id", "m", "code")), k)
  }

  /** SemDeDup-style SEMANTIC deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding space with the trained
    * coarse quantizer, then compare pairs ONLY within a cluster and
    * drop every vector that has a higher-priority (lower-id)
    * cluster-mate above the cosine threshold. The whole point is the
    * cluster valve: pairwise work is quadratic per cluster, linear in
    * cluster count — pick k ∝ N/target-cluster-size at scale and the
    * comparison never becomes all-pairs (the paper runs this shape at
    * web scale; cluster skew is an equi-join on `cluster_id`, so AQE
    * skew-split applies). Uses the ordered-fold k-means
    * ([[trainCentroidsOrdered]]) so the DuckDB oracle reproduces the
    * clustering bit-identically; at corpus scale swap in
    * [[trainCentroids]] (same contract, partial-sums speed).
    *
    * Returns (vec_id, cluster_id, keep): `keep=false` rows are the
    * semantic near-dups a curation pass removes. */
  def semanticDedup(emb: DataFrame, k: Int = 16, iters: Int = 1,
                    threshold: Double = 0.4): DataFrame = {
    val n = withNorms(emb).persist()
    val cent = centroids(trainCentroidsOrdered(n.drop("nrm"), k, iters))
    val asg = cent.assign(n
      .select(col("vec_id"), col("embedding").as("v_embedding"),
        col("nrm").as("v_nrm")), "v_embedding", "v_nrm")
      .select(col("vec_id"), col("centroid_id").as("cluster_id"),
        col("v_embedding"), col("v_nrm"))
      .persist()
    val a = asg.select(col("cluster_id"), col("vec_id").as("vec_a"),
      col("v_embedding").as("a_embedding"), col("v_nrm").as("a_nrm"))
    val b = asg.select(col("cluster_id"), col("vec_id").as("vec_b"),
      col("v_embedding").as("b_embedding"), col("v_nrm").as("b_nrm"))
    val dropped = a.join(b, Seq("cluster_id"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cosine", cosine("a", "b"))
      .filter(col("cosine") >= threshold)
      .select(col("vec_b").as("vec_id")).distinct()
      .withColumn("_dup", lit(true))
    asg.select("vec_id", "cluster_id")
      .join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster_id"),
        col("_dup").isNull.as("keep"))
  }
}
