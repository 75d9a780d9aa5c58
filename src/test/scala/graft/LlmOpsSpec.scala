package graft

import org.apache.spark.sql.functions._

import graft.operators._
import graft.sources.Tables

/** Dedup / similarity / text-analysis semantics. */
class LlmOpsSpec extends GraftSuite {
  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog", 44L),
    (1L, "the quick brown fox jumps over the lazy dog", 44L), // exact dup
    (2L, "the quick brown fox jumps over the lazy cat", 44L), // near dup
    (3L, "completely different words appear here now folks", 49L))
    .toDF("doc_id", "text", "n_chars")

  test("exact dedup groups identical content, keeps min doc_id") {
    val d = Dedup.exact(docs)
    assert(d.count() === 3)
    val dup = d.filter(col("n_docs") === 2).head()
    assert(dup.getAs[Long]("keep_doc_id") === 0L)
  }

  test("ngram jaccard finds the near-dup pair and only it") {
    val pairs = Dedup.ngramJaccard(docs, 0.6).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L))) // identical => jaccard 1
    assert(pairs.contains((0L, 2L)) && pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("minhash LSH candidates verify to the same pairs as exact jaccard >= 0.6") {
    val mh = Dedup.minhashLsh(docs, 0.6).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // identical docs always collide in every band
    assert(mh.contains((0L, 1L)))
    val j = Dedup.ngramJaccard(docs, 0.6).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mh.subsetOf(j)) // LSH+verify never exceeds the exact pair set
  }

  test("simhash: identical docs at hamming 0") {
    val pairs = Dedup.simhash(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.exists(p => p._1 == 0L && p._2 == 1L && p._3 == 0))
  }

  test("ann top-k ranks the exact nearest first; bucketed is a subset") {
    val emb = Tables.embeddings(spark, sf)
    val bf = Similarity.annTopK(emb, nQueries = 3, k = 5)
    assert(bf.filter(col("rank") === 1).count() === 3)
    // rank 1 matches an independent max-cosine computation for query 0
    val n = Similarity.withNorms(emb)
    val q0 = n.filter(col("vec_id") === 0)
      .select(col("embedding").as("q_embedding"), col("nrm").as("q_nrm"))
    val best = n.filter(col("vec_id") =!= 0).crossJoin(q0)
      .withColumn("cos",
        expr("aggregate(zip_with(q_embedding, embedding, (x, y) -> cast(x as double) * cast(y as double)), 0D, (acc, v) -> acc + v)") /
          (col("q_nrm") * col("nrm")))
      .orderBy(col("cos").desc, col("vec_id")).select("vec_id").head().getLong(0)
    val got = bf.filter(col("query_id") === 0 && col("rank") === 1)
      .select("neighbor_id").head().getLong(0)
    assert(got === best)
    val bucketed = Similarity.annTopKBucketed(emb, nQueries = 3, k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = n.select(lit(1)).count() // force plan; recall property below
    assert(full > 0)
    val bfPairsAll = Similarity.annTopK(emb, nQueries = 3, k = 500)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bucketed.subsetOf(bfPairsAll))
  }

  test("lang id, quality, tokens, fingerprint are deterministic and sane") {
    val d = Seq((0L, "the cat is on the mat and the dog is in the house", 50L))
      .toDF("doc_id", "text", "n_chars")
    val lid = TextAnalysis.langId(spark, d).head()
    assert(lid.getAs[String]("pred_lang") === "en")
    val q = TextAnalysis.quality(d).head()
    assert(q.getAs[Long]("n_words") === 13L)
    assert(q.getAs[Boolean]("quality_pass"))
    val t = TextAnalysis.tokenCount(d).head()
    assert(t.getAs[Long]("ws_tokens") === 13L)
    assert(t.getAs[Long]("est_bpe_tokens") === 13L) // ceil(50/4)
    val f1 = TextAnalysis.fingerprint(d).head().getAs[Long]("prefix_hash")
    val f2 = TextAnalysis.fingerprint(d).head().getAs[Long]("prefix_hash")
    assert(f1 === f2 && f1 > 0)
  }

  test("ivf topk: contiguous ranks, ordered cosines, no self-matches, deterministic") {
    val emb = Tables.embeddings(spark, sf)
    val r1 = Similarity.ivfTopK(emb).collect()
    assert(r1.nonEmpty)
    val byQuery = r1.groupBy(_.getAs[Long]("query_id"))
    byQuery.foreach { case (q, rows) =>
      val sorted = rows.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Int]("rank")).toSeq === (1 to sorted.length))
      val cos = sorted.map(_.getAs[Double]("cosine"))
      assert(cos.zip(cos.tail).forall { case (a, b) => a >= b })
      assert(!rows.exists(r => r.getAs[Long]("neighbor_id") == q))
    }
    val r2 = Similarity.ivfTopK(emb).collect()
    assert(r1.map(_.toString).sorted.sameElements(r2.map(_.toString).sorted))
  }

  test("k-means centroids: deterministic, k rows, right dim, usable by ivf search") {
    val emb = Tables.embeddings(spark, sf)
    val c1 = Similarity.trainCentroids(emb, k = 8, iters = 3).collect()
    assert(c1.length === 8)
    assert(c1.forall(_.getAs[Seq[Float]]("ct_embedding").length === 64))
    val c2 = Similarity.trainCentroids(emb, k = 8, iters = 3).collect()
    assert(c1.map(_.toString).sorted.sameElements(c2.map(_.toString).sorted))
    val trained = Similarity.trainCentroids(emb, k = 8, iters = 2)
    val res = Similarity.ivfTopK(emb, nprobe = 3, centroids = Some(trained))
    assert(res.count() > 0)
    assert(res.groupBy("query_id").count().collect().forall(_.getLong(1) <= 10))
  }

  test("ordered-fold k-means matches the scalable trainer's assignments") {
    val emb = Tables.embeddings(spark, sf)
    val o1 = Similarity.trainCentroidsOrdered(emb, k = 8, iters = 2).collect()
    assert(o1.length === 8)
    assert(o1.forall(
      _.getAs[scala.collection.Seq[Float]]("ct_embedding").length === 64))
    // bit-deterministic across runs (the property the oracle relies on)
    val o2 = Similarity.trainCentroidsOrdered(emb, k = 8, iters = 2).collect()
    assert(o1.map(_.toString).sorted.sameElements(o2.map(_.toString).sorted))
    // same quantizer contract as the scalable twin: identical seeds and
    // assignment rule, means differ only by summation order (float ulp)
    val s1 = Similarity.trainCentroids(emb, k = 8, iters = 2).collect()
      .map(r => r.getAs[Long]("centroid_id") ->
        r.getAs[scala.collection.Seq[Float]]("ct_embedding")).toMap
    o1.foreach { r =>
      val o = r.getAs[scala.collection.Seq[Float]]("ct_embedding")
      val s = s1(r.getAs[Long]("centroid_id"))
      o.zip(s).foreach { case (a, b) => assert(math.abs(a - b) < 1e-4f) }
    }
    // drives the same IVF probe path
    val res = Similarity.ivfTopK(emb,
      centroids = Some(Similarity.trainCentroidsOrdered(emb, 16, 1)))
    assert(res.count() > 0)
    assert(res.groupBy("query_id").count().collect().forall(_.getLong(1) <= 10))
  }

  test("decontaminate: oversized eval set drops the broadcast hint, same result") {
    val d = Seq(
      (0L, "alpha beta gamma delta", "src0"),
      (1L, "alpha beta gamma other words here", "src1"),
      (2L, "totally unrelated content right here", "src1"),
      (3L, "beta gamma delta tail", "src2"))
      .toDF("doc_id", "text", "source")
    // four documents fit in one AQE-coalesced partition, and the
    // small-plan rule would hint the shingle join shuffle-hash over the
    // broadcast hint: it is off here
    val base = withConf(SmallPlanSpec.NoGate) {
      val base = TextAnalysis.decontaminate(d).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      val unhinted = TextAnalysis.decontaminate(d, maxBroadcastShingles = 0L)
      val got = unhinted.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      assert(got.sameElements(base))
      // above the threshold the shingle join carries no broadcast HINT
      // (AQE stays free to choose; nothing forces the eval set onto the
      // driver), below it the hint is present
      val hinted = TextAnalysis.decontaminate(d)
      assert(hinted.queryExecution.optimizedPlan.toString
        .toLowerCase.contains("broadcast"))
      assert(!unhinted.queryExecution.optimizedPlan.toString
        .toLowerCase.contains("broadcast"))
      base
    }
    // with the rule on, the join over the cached eval set runs as one
    // job to the same answer
    val one = TextAnalysis.decontaminate(d)
    val (rows, jobs) = MaintenanceJobCountSpec.jobsOf(spark)(one.collect())
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).sameElements(base))
    assert(jobs.size === 1, jobs.mkString("; "))
  }

  test("ann recall: exact vs itself is 1.0, approximate paths in (0, 1]") {
    val emb = Tables.embeddings(spark, sf)
    val exact = Similarity.annTopK(emb).persist()
    val self = Similarity.annRecall(exact, exact).collect()
    assert(self.nonEmpty && self.forall(_.getAs[Double]("recall") === 1.0d))
    val ivfR = Similarity.annRecall(exact, Similarity.ivfTopK(emb)).collect()
    assert(ivfR.forall { r =>
      val rec = r.getAs[Double]("recall"); rec >= 0.0d && rec <= 1.0d })
    assert(ivfR.forall(_.getAs[Long]("k") === 10L))
    // the probe paths find SOMETHING on this data (not a vacuous 0)
    assert(ivfR.map(_.getAs[Long]("hits")).sum > 0)
    exact.unpersist()
  }

  test("vocab topk counts occurrences and doc frequency with deterministic ties") {
    val v = TextAnalysis.vocabTopK(docs, k = 3).collect()
    // 'the' appears 2x in docs 0-2 => 6 occurrences over 3 docs
    assert(v.head.getAs[String]("token") === "the")
    assert(v.head.getAs[Long]("total_occurrences") === 6L)
    assert(v.head.getAs[Long]("doc_freq") === 3L)
    assert(v.length === 3)
    // ties broken lexicographically: all remaining tokens count<=3
    assert(v(1).getAs[Long]("total_occurrences") >= v(2).getAs[Long]("total_occurrences"))
  }

  test("text clean redacts URLs/emails and strips stopwords, preserving duplicates") {
    val d = Seq(
      (0L, "see https://x.io/a and mail bob@x.io the the cat", 48L),
      (1L, "", 0L))
      .toDF("doc_id", "text", "n_chars")
    val c = TextAnalysis.clean(d).collect().sortBy(_.getLong(0))
    val r0 = c(0)
    assert(r0.getAs[Long]("n_urls") === 1L)
    assert(r0.getAs[Long]("n_emails") === 1L)
    // 'the' (stoplist) removed twice — duplicates count individually;
    // 'and' is also an en stopword
    assert(r0.getAs[Long]("n_stopwords_removed") === 3L)
    assert(r0.getAs[String]("clean_text") === "see <url> mail <email> cat")
    assert(c(1).getAs[Long]("n_tokens_kept") === 1L) // [""] survives
  }

  test("stratified sample is deterministic, monotone in rate, and respects strata") {
    val d = (0L until 400L).map(i =>
      (i, s"doc $i", if (i % 2 == 0) "en" else "zh", s"src${i % 4}", 6L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val s1 = TextAnalysis.stratifiedSample(d).collect()
    val s2 = TextAnalysis.stratifiedSample(d).collect()
    assert(s1.map(_.getLong(0)).sorted.sameElements(s2.map(_.getLong(0)).sorted))
    val byLang = s1.groupBy(_.getAs[String]("lang")).view.mapValues(_.length).toMap
    // en at 0.5 over 200 docs, zh at 0.25 over 200 docs: binomial-ish
    assert(byLang("en") > 60 && byLang("en") < 140)
    assert(byLang("zh") > 20 && byLang("zh") < 90)
    // raising a rate only ADDS rows (hash buckets are nested)
    val wider = TextAnalysis.stratifiedSample(d,
      Seq("en" -> 0.9, "zh" -> 0.25)).collect().map(_.getLong(0)).toSet
    assert(s1.map(_.getLong(0)).toSet.subsetOf(wider))
  }

  test("token percentiles are exact discrete ranks with integer indexing") {
    // 10 docs with 1..10 tokens: p50 = rank ceil(5.0)=5 -> 5 tokens,
    // p90 = rank 9 -> 9, p99 = rank ceil(9.9)=10 -> 10
    val d = (1 to 10).map(i =>
      (i.toLong, (1 to i).map(j => s"w$j").mkString(" "), "en", i.toLong))
      .toDF("doc_id", "text", "lang", "n_chars")
    val p = TextAnalysis.tokenPercentiles(d).head()
    assert(p.getAs[Long]("n_docs") === 10L)
    assert(p.getAs[Long]("p50_tokens") === 5L)
    assert(p.getAs[Long]("p90_tokens") === 9L)
    assert(p.getAs[Long]("p99_tokens") === 10L)
  }

  test("decontaminate flags only non-eval docs sharing a shingle with the eval set") {
    val d = Seq(
      (0L, "alpha beta gamma delta", "src0"),  // eval doc
      (1L, "alpha beta gamma other words here", "src1"), // shares 'alpha beta gamma'
      (2L, "totally unrelated content right here", "src1"),
      (3L, "beta gamma delta tail", "src2"))   // shares 'beta gamma delta'
      .toDF("doc_id", "text", "source")
    val r = TextAnalysis.decontaminate(d, evalSource = "src0").collect()
      .map(x => x.getLong(0) -> x.getAs[Long]("n_shared_shingles")).toMap
    assert(r === Map(1L -> 1L, 3L -> 1L)) // eval doc 0 and clean doc 2 absent
  }

  test("sequence packing fills 512-token contexts in doc_id order per shard") {
    // 5 docs of 300 tokens in one shard: preceding cumsums 0,300,600,
    // 900,1200 -> packs 0,0,1,1,2 with ctx=512
    val d = (0 to 4).map(i =>
      (i.toLong, (1 to 300).map(j => "w").mkString(" "), "s0"))
      .toDF("doc_id", "text", "source")
    val rows = TextAnalysis.sequencePacking(d).collect()
      .sortBy(_.getAs[Long]("pack_id"))
    assert(rows.map(r => (r.getAs[Long]("pack_id"), r.getAs[Long]("n_docs"),
      r.getAs[Long]("pack_tokens"))).toSeq ===
      Seq((0L, 2L, 600L), (1L, 2L, 600L), (2L, 1L, 300L)))
  }

  test("doc chunks: sliding windows cover every token, last clamped") {
    val words = (1 to 51).map(i => s"w$i")
    val d = Seq((0L, words.mkString(" "), 51L), (1L, "a b c", 3L))
      .toDF("doc_id", "text", "n_chars")
    val out = TextAnalysis.docChunks(d, chunkSize = 8, stride = 6)
      .collect().sortBy(r => (r.getLong(0), r.getLong(1)))
    val (c0, c1) = out.partition(_.getLong(0) == 0L)
    // short doc: exactly one chunk = whole text
    assert(c1.length === 1 && c1.head.getAs[String]("chunk_text") === "a b c"
      && c1.head.getAs[Long]("n_tokens") === 3L)
    // 51 tokens, size 8 stride 6 -> (51-8+5)/6+1 = 9 chunks
    assert(c0.length === 9)
    // chunk i starts at token i*6+1; text token count == n_tokens
    c0.foreach { r =>
      val i = r.getLong(1)
      val toks = r.getAs[String]("chunk_text").split(" ").toSeq
      assert(toks.size.toLong === r.getAs[Long]("n_tokens"))
      assert(toks.head === s"w${i * 6 + 1}")
    }
    // last chunk clamped to the doc end: 51 - 8*6 = 3 tokens, ends at w51
    assert(c0.last.getAs[Long]("n_tokens") === 3L
      && c0.last.getAs[String]("chunk_text").endsWith("w51"))
    // consecutive full chunks overlap by size-stride = 2 tokens
    val t0 = c0(0).getAs[String]("chunk_text").split(" ").toSeq
    val t1 = c0(1).getAs[String]("chunk_text").split(" ").toSeq
    assert(t0.takeRight(2) === t1.take(2))
  }

  test("multimodal: decode stub is deterministic with the right shape") {
    val media = Multimodal.mediaTable(docs)
    val feats = Multimodal.decodeFeatures(spark, media).collect()
      .sortBy(_.doc_id)
    assert(feats.length === 4)
    assert(feats.forall(_.feature.length === 8))
    // identical payloads (docs 0 and 1) decode identically
    assert(feats(0).checksum === feats(1).checksum)
    assert(feats(0).feature.toSeq === feats(1).feature.toSeq)
    val meta = Multimodal.metadata(docs)
    assert(meta.filter(col("doc_id") === 0).head().getAs[String]("mime")
      === "image/png")
  }

  test("frame sampling fans videos out into deterministic byte-slice frames") {
    val media = Multimodal.mediaTable(
      Tables.documents(spark, sf).limit(100))
    val frames = Multimodal.sampleFrames(media, frameBytes = 64, maxFrames = 8)
    val videos = media.filter(col("mime") === "video/mp4")
    assert(frames.count() > videos.count()) // fan-out happened
    assert(frames.groupBy("doc_id").count()
      .filter(col("count") > 8).count() === 0) // capped
    // frame indices are dense from 0 and offsets follow the stride
    assert(frames.filter(col("frame_offset") =!= col("frame_idx") * 64)
      .count() === 0)
    // deterministic: same call twice, identical rows
    val again = Multimodal.sampleFrames(media, frameBytes = 64, maxFrames = 8)
    assert(frames.exceptAll(again).count() === 0)
  }

  test("approx percentiles and distinct counts stay within sketch bounds") {
    val corpus = Tables.documents(spark, sf)
    val exact = TextAnalysis.tokenPercentiles(corpus).collect()
      .map(r => r.getString(0) -> r).toMap
    TextAnalysis.tokenPercentilesApprox(corpus).collect().foreach { r =>
      val e = exact(r.getString(0))
      assert(r.getAs[Long]("n_docs") === e.getAs[Long]("n_docs"))
      // GK sketch at accuracy 1000 on small groups: rank-exact here,
      // allow one discrete step of slack
      Seq("p50_tokens", "p90_tokens", "p99_tokens").foreach { c =>
        val diff = math.abs(r.getAs[Long](c) - e.getAs[Long](c)).toDouble
        assert(diff <= math.max(2.0, 0.05 * e.getAs[Long](c)),
          s"$c drifted: approx ${r.getAs[Long](c)} vs exact ${e.getAs[Long](c)}")
      }
    }
    val exactVocab = TextAnalysis.vocabTopK(corpus).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("doc_freq")).toMap
    TextAnalysis.vocabTopKApprox(corpus).collect().foreach { r =>
      val e = exactVocab(r.getString(0))
      // HLL++ at rsd 0.023: allow 3 sigma ~ 7%
      assert(math.abs(r.getAs[Long]("doc_freq") - e) <= math.max(2.0, 0.07 * e),
        s"doc_freq for '${r.getString(0)}': ${r.getAs[Long]("doc_freq")} vs $e")
    }
  }

  test("bigram LM: pair counts and conditional probabilities are exact") {
    val corpus = Seq(
      (0L, "a b a b a c", 11L), (1L, "a b x", 5L))
      .toDF("doc_id", "text", "n_chars")
    val got = TextAnalysis.bigramLm(corpus).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("pair_count"), r.getAs[Long]("unigram_count"),
          r.getAs[Double]("cond_p"))).toMap
    // 'a' appears 4x; 'a b' 3x -> P(b|a)=0.75; 'a c' 1x -> 0.25
    assert(got(("a", "b")) === ((3L, 4L, 0.75)))
    assert(got(("a", "c")) === ((1L, 4L, 0.25)))
    // 'b a' 2x of 3 b's; 'b x' 1x
    assert(got(("b", "a")) === ((2L, 3L, 2.0 / 3.0)))
    assert(got(("b", "x")) === ((1L, 3L, 1.0 / 3.0)))
  }

  test("bigram doc score: smoothed mean transition prob, OOV counted") {
    val d = Seq(
      (0L, "the cat sat on the mat", "src1"),   // LM shard
      (1L, "the dog sat on the mat", "src1"),   // LM shard
      (2L, "quantum flux capacitor overload", "src0"),
      (3L, "the", "src0"))                       // 1 token -> excluded
      .toDF("doc_id", "text", "source")
    val r = TextAnalysis.bigramDocScore(d).collect()
      .map(x => x.getLong(0) -> x).toMap
    assert(r.keySet === Set(0L, 1L, 2L))
    // in-domain docs: every bigram seen, symmetric counts -> same score
    assert(r(0L).getAs[Long]("n_unseen") === 0L)
    assert(r(0L).getAs[Double]("avg_p") === r(1L).getAs[Double]("avg_p"))
    // out-of-domain doc: all 3 bigrams unseen, every token OOV ->
    // p = 1/V each with V = 6 distinct LM tokens {the,cat,sat,on,mat,
    // dog} -> avg = 1/6 rounded at 8 decimals
    assert(r(2L).getAs[Long]("n_bigrams") === 3L)
    assert(r(2L).getAs[Long]("n_unseen") === 3L)
    assert(r(2L).getAs[Double]("avg_p") === 0.16666667d)
    // the quality ordering a perplexity filter wants: in-domain > OOV
    assert(r(0L).getAs[Double]("avg_p") > r(2L).getAs[Double]("avg_p"))
  }

  test("curation report: keep = quality AND repetition AND canonical AND clean") {
    val good = (1 to 30).map(i => s"word$i").mkString(" ")
    val d = Seq(
      (0L, "eval shard text here now", "src0"),            // eval doc
      (1L, good, "src1"),                                   // keep
      (2L, good, "src1"),                                   // exact dup of 1 -> drop
      (3L, "x " * 200, "src1"),                             // repetitive -> drop
      (4L, "tiny", "src1"),                                 // fails quality -> drop
      (5L, s"$good eval shard text here now", "src2"))      // contaminated -> drop
      .toDF("doc_id", "text", "source")
      .withColumn("n_chars", length(col("text")).cast("bigint"))
    val r = TextAnalysis.curationReport(d).collect()
      .map(x => x.getLong(0) -> x).toMap
    assert(r.size === 6)
    def flags(id: Long) = (r(id).getAs[Boolean]("quality_pass"),
      r(id).getAs[Boolean]("repetition_pass"),
      r(id).getAs[Boolean]("is_canonical"),
      r(id).getAs[Boolean]("contaminated"),
      r(id).getAs[Boolean]("keep"))
    assert(flags(1L) === ((true, true, true, false, true)))
    assert(flags(2L)._3 === false && flags(2L)._5 === false) // dup loses
    assert(flags(3L)._2 === false && flags(3L)._5 === false) // repetitive
    assert(flags(4L)._1 === false && flags(4L)._5 === false) // low quality
    assert(flags(5L)._4 === true && flags(5L)._5 === false)  // contaminated
    // exactly one keeper in this corpus
    assert(r.values.count(_.getAs[Boolean]("keep")) === 1)
  }

  test("cluster stats roll the label table into a size histogram") {
    val stats = Dedup.clusterStats(
      Dedup.clusters(Dedup.ngramJaccard(docs, 0.6))).collect()
    // docs 0,1,2 form one near-dup cluster; doc 3 has no edges
    assert(stats.length === 1)
    assert(stats.head.getAs[Long]("cluster_size") === 3L)
    assert(stats.head.getAs[Long]("n_clusters") === 1L)
    assert(stats.head.getAs[Long]("n_docs") === 3L)
  }

  test("two-star CC matches min-label propagation and collapses deep chains fast") {
    import spark.implicits._
    // real dup graph: identical labeling to the propagation algorithm
    val pairs = Dedup.ngramJaccard(docs, 0.6).persist()
    val viaProp = Dedup.clusters(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sortBy(_._1)
    val viaStar = Dedup.clustersTwoStar(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sortBy(_._1)
    assert(viaStar.toSeq === viaProp.toSeq)
    pairs.unpersist()

    // pathological diameter: a 200-link chain (propagation would need
    // ~200 rounds; the star alternation contracts it within maxIter
    // and labels every node with the component min, 0)
    val chain = (0L until 200L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val labels = Dedup.clustersTwoStar(chain).collect()
    assert(labels.length === 201)
    assert(labels.forall(_.getLong(1) === 0L))
    assert(labels.count(_.getBoolean(2)) === 1)

    // two disjoint components + an isolated self-pair keep distinct labels
    val two = Seq((10L, 11L), (11L, 12L), (20L, 21L), (30L, 30L))
      .toDF("doc_a", "doc_b")
    val got = Dedup.clustersTwoStar(two).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L, 30L -> 30L))
  }

  test("repetition: sorted-run fold finds the top word count, bigram dups exact") {
    val rep = Seq(
      (0L, "a a a b a a a a a a", 19L),             // 9×'a' of 10 words
      (1L, "one two three four five six seven eight nine ten", 49L),
      (2L, "solo", 4L))                             // single word, 0 bigrams
      .toDF("doc_id", "text", "n_chars")
    val got = TextAnalysis.repetition(rep).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(got(0L).getAs[Long]("top_word_count") === 9L)
    assert(got(0L).getAs[Double]("top_word_frac") === 0.9)
    // bigrams: 9 total, distinct {a a, a b, b a} = 3 -> dup frac 6/9
    assert(got(0L).getAs[Long]("n_bigrams") === 9L)
    assert(got(0L).getAs[Long]("n_distinct_bigrams") === 3L)
    assert(math.abs(got(0L).getAs[Double]("dup_bigram_frac") - 6.0 / 9.0) < 1e-12)
    assert(!got(0L).getAs[Boolean]("repetition_pass"))
    // all-distinct doc: top frac exactly at the 0.10 threshold -> pass
    assert(got(1L).getAs[Long]("top_word_count") === 1L)
    assert(got(1L).getAs[Double]("dup_bigram_frac") === 0.0)
    assert(got(1L).getAs[Boolean]("repetition_pass"))
    // single-word doc: no bigrams, top frac 1.0 -> fail
    assert(got(2L).getAs[Long]("n_bigrams") === 0L)
    assert(got(2L).getAs[Double]("dup_bigram_frac") === 0.0)
    assert(!got(2L).getAs[Boolean]("repetition_pass"))
  }

  test("dataset split: content-free, stable under corpus growth, covers all docs") {
    val real = spark.read.parquet(s"$sf/documents.parquet")
    val split = TextAnalysis.datasetSplit(real)
    assert(split.count() === real.count())
    val m = split.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m.values.sum === real.count())
    assert(m("train") > m.getOrElse("validation", 0L) &&
      m("train") > m.getOrElse("test", 0L))
    // stability: a subset's assignments agree with the full corpus
    // (a doc's split must never flip as other docs arrive)
    val full = split.select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    TextAnalysis.datasetSplit(real.limit(50))
      .select("doc_id", "split").collect()
      .foreach(r => assert(full(r.getLong(0)) === r.getString(1)))
    // bad fractions fail loudly
    intercept[IllegalArgumentException] {
      TextAnalysis.datasetSplit(real, trainPct = 96, valPct = 5)
    }
  }
}
