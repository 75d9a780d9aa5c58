package graft

import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.functions._

import graft.operators.Retrieval

class RetrievalSpec extends GraftSuite {

  private def docs = {
    import spark.implicits._
    Seq(
      (1L, "spark spark spark merge", "en", "src0", 23L),
      (2L, "vector window merge join join join", "en", "src0", 34L),
      (3L, "the the the the the the the the", "en", "src1", 31L),
      (4L, "spark vector window merge", "en", "src1", 25L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  test("tfIdf ranks a doc's dominant rare term first") {
    val out = Retrieval.tfIdf(docs, k = 2)
    // doc 1: "spark" tf=3 df=2 → 3*4/2=6.0 beats "merge" tf=1 df=3 → 4/3
    val d1 = out.filter(col("doc_id") === 1L)
      .orderBy("rnk").collect()
    assert(d1.map(_.getString(1)).toSeq === Seq("spark", "merge"))
    assert(d1.head.getDouble(4) === 6.0)
    // every doc emits at most k rows, rnk is 1..k
    val counts = out.groupBy("doc_id").count().collect()
    assert(counts.forall(_.getLong(1) <= 2))
    assert(out.agg(min("rnk"), max("rnk")).head.getInt(0) === 1)
  }

  test("tfIdf tie-break is term-alphabetical") {
    // doc 4: all four terms tf=1; scores differ only via df, ties on
    // equal df resolve alphabetically
    val d4 = Retrieval.tfIdf(docs, k = 4)
      .filter(col("doc_id") === 4L).orderBy("rnk").collect()
    val byScoreThenTerm = d4.sortBy(r => (-r.getDouble(4), r.getString(1)))
    assert(d4.map(_.getString(1)).toSeq ===
      byScoreThenTerm.map(_.getString(1)).toSeq)
  }

  test("bm25Search scores query-term docs and omits non-matching docs") {
    val out = Retrieval.bm25Search(docs).collect()
    val ids = out.map(_.getLong(0)).toSet
    assert(ids === Set(1L, 2L, 4L)) // doc 3 has no query term
    val byId = out.map(r => r.getLong(0) -> r).toMap
    // doc 4 hits all four query terms; doc 1 two; doc 2 three
    assert(byId(4L).getLong(2) === 4L)
    assert(byId(1L).getLong(2) === 2L)
    assert(byId(2L).getLong(2) === 3L)
    // more distinct hits at comparable length ranks doc 4 first
    val ranked = out.sortBy(r => -r.getDouble(3)).map(_.getLong(0)).toSeq
    assert(ranked.head === 4L)
  }

  test("bm25 contribution saturates in tf (k1 bound)") {
    import spark.implicits._
    // one query term, two docs of equal length: tf=1 vs tf=100 — the
    // tf=100 doc must score higher but below (k1+1)/1 = 2.2 times idf
    val d = Seq(
      (1L, ("spark " + "x " * 99).trim, "en", "s", 1L),
      (2L, ("spark " * 100).trim, "en", "s", 1L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Retrieval.bm25Search(d, query = Seq("spark"), k = 10)
      .orderBy("doc_id").collect()
    val (s1, s2) = (out(0).getDouble(3), out(1).getDouble(3))
    assert(s2 > s1)
    // equal dl = avgdl → contrib(1) = idf, contrib(∞) → idf·2.2: the
    // 100× tf gain is capped under (k1+1)×
    assert(s2 / s1 < 2.2)
  }

  test("tfIdf and bm25Search run on the sf0.001 corpus") {
    val d = spark.read.parquet(s"$sf/documents.parquet")
    assert(Retrieval.tfIdf(d).count() > 0)
    val b = Retrieval.bm25Search(d)
    assert(b.count() > 0 && b.count() <= 20)
  }

  test("plans: df/stats broadcast, top-k stays bounded, no cartesian blowup") {
    val d = spark.read.parquet(s"$sf/documents.parquet")
    // sf0.001's documents fit in one AQE-coalesced partition, so the
    // small-plan rule would run both plans in one task: it is off here
    val answers = withConf(SmallPlanSpec.NoGate) {
      // tf_idf: vocab-sized df side broadcasts; the per-doc top-k is a
      // WindowGroupLimit (partial heap below the exchange), not a sort+filter
      val tp = Retrieval.tfIdf(d).queryExecution.executedPlan.toString
      assert(tp.contains("BroadcastHashJoin"))
      assert(tp.contains("WindowGroupLimit"))
      // bm25: query-term df and the 1-row stats broadcast; the global
      // top-k is TakeOrderedAndProject, never a full sort. The doc-length
      // join is deliberately NOT hinted (n_docs rows — must be free to
      // fall back to a co-partitioned join at scale).
      val bp = Retrieval.bm25Search(d).queryExecution.executedPlan.toString
      assert(bp.contains("BroadcastHashJoin"))
      assert(bp.contains("TakeOrderedAndProject"))
      (Retrieval.tfIdf(d).collect().toSet, Retrieval.bm25Search(d).collect().toSeq)
    }
    // with the rule on, both answer the same, and tf_idf runs with no
    // broadcast (bm25's ORDER BY … LIMIT keeps its plan)
    val tf = Retrieval.tfIdf(d)
    assert((tf.collect().toSet, Retrieval.bm25Search(d).collect().toSeq) === answers)
    assert(!nodes(tf.queryExecution.executedPlan).exists(_.isInstanceOf[BroadcastExchangeExec]))
  }

  test("degenerate inputs: empty corpus and no-hit query") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String, String, String, Long)]
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    assert(Retrieval.tfIdf(empty).count() === 0)
    assert(Retrieval.bm25Search(empty).count() === 0)
    // a query hitting nothing returns zero rows, not an error
    assert(Retrieval.bm25Search(docs,
      query = Seq("zzz_absent")).count() === 0)
  }

  private def embFixture = {
    import spark.implicits._
    Seq(
      (0L, Array(1.0f, 0.0f)), // the query-by-example vector
      (1L, Array(0.9f, 0.1f)), // nearest
      (2L, Array(0.5f, 0.5f)),
      (3L, Array(0.0f, 1.0f)), // orthogonal
      (4L, Array(-1.0f, 0.1f)) // anti-correlated, outside top-3
    ).toDF("vec_id", "embedding")
  }

  test("hybridSearch fuses lexical and dense ranks with RRF") {
    val out = Retrieval.hybridSearch(docs, embFixture, n = 3, k = 10)
      .collect()
    val byId = out.map(r =>
      r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getDouble(3)))).toMap
    // dense leg (cosine vs vec 0): 1 > 2 > 3 > 4 — top-3 ranks 1,2,3
    assert(byId(1L)._2 === 1 && byId(2L)._2 === 2 && byId(3L)._2 === 3)
    // doc 3 has no query terms (lexical-absent), doc 4 is outside the
    // dense top-3 (dense-absent) — absent legs surface as rank 0
    assert(byId(3L)._1 === 0)
    assert(byId(4L)._2 === 0)
    // every doc in either leg appears exactly once; nothing else does
    assert(out.map(_.getLong(0)).sorted === Array(1L, 2L, 3L, 4L))
    // the fused score is exactly 1/(60+rank) summed over present legs
    out.foreach { r =>
      val (l, d) = (r.getInt(1), r.getInt(2))
      assert(l > 0 || d > 0, "a row with no leg leaked into the fusion")
      val expect = BigDecimal(
        (if (l > 0) 1.0d / (60.0d + l) else 0.0d) +
          (if (d > 0) 1.0d / (60.0d + d) else 0.0d))
        .setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(r.getDouble(3) - expect) < 1e-12,
        s"rrf mismatch for doc ${r.getLong(0)}")
    }
    // output is ordered by fused score desc, doc_id asc
    val key = out.map(r => (-r.getDouble(3), r.getLong(0))).toSeq
    assert(key === key.sorted)
    // a doc strong in BOTH legs outranks docs present in only one
    val both = out.filter(r => r.getInt(1) > 0 && r.getInt(2) > 0)
      .map(_.getLong(0)).toSet
    assert(both.nonEmpty)
    assert(both.contains(out.head.getLong(0)))
  }

  test("bm25SearchStored answers from the index alone, across posting chunks") {
    import spark.implicits._
    import java.nio.file.{Files => JFiles, Paths}
    // doc ids straddling PostingChunkDocs boundaries: shared terms
    // split into multiple posting chunks, whose explode must
    // reassemble the exact scan-path contribution set
    val c = Retrieval.PostingChunkDocs
    val wide = Seq(
      (1L, "spark spark spark merge"),
      (2L, "vector window merge join join join"),
      (c + 3L, "spark vector window merge"),
      (2L * c + 5L, "merge window and plain filler words here")
    ).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("bigint"))
    val root = JFiles.createTempDirectory("graft-bm25-idx")
      .toString + "/t"
    graft.operators.SnapshotTable.commit(wide, root)
    assert(Retrieval.indexCorpus(spark, root) === 0L)
    val scan = Retrieval.bm25Search(wide).collect().map(_.toSeq).toSeq
    val stored = Retrieval.bm25SearchStored(spark, root)
      .collect().map(_.toSeq).toSeq
    assert(stored === scan)

    // behavioral IO proof: corrupt every DATA file (sidecars intact)
    // — the stored search must still answer, because it reads only
    // the posting sidecar
    JFiles.list(Paths.get(root, "v=0")).toArray.map(_.toString)
      .filter(_.endsWith(".parquet"))
      .foreach(p => JFiles.write(Paths.get(p), "not parquet".getBytes))
    val blind = Retrieval.bm25SearchStored(spark, root)
      .collect().map(_.toSeq).toSeq
    assert(blind === scan)
    // re-index is an idempotent metadata check (no corpus scan — the
    // corrupt data files would throw)
    assert(Retrieval.indexCorpus(spark, root) === 0L)
  }

  test("indexCorpusDelta maintains posting segments; union ≡ full re-index") {
    import java.nio.file.{Files => JFiles}
    import graft.operators.SnapshotTable
    val root = JFiles.createTempDirectory("graft-bm25-delta")
      .toString + "/t"
    val d = docs
    SnapshotTable.commitAppend(
      d.filter(col("doc_id") <= 2L), root, "source") // v0
    Retrieval.indexCorpus(spark, root)
    SnapshotTable.commitAppend(
      d.filter(col("doc_id") === 3L), root, "source") // v1
    assert(Retrieval.indexCorpusDelta(spark, root) === 1L)
    SnapshotTable.commitAppend(
      d.filter(col("doc_id") === 4L), root, "source") // v2
    assert(Retrieval.indexCorpusDelta(spark, root) === 2L)
    // v2 coverage = three segments (full + two deltas)
    val stats = new String(JFiles.readAllBytes(
      java.nio.file.Paths.get(root, "v=2", "_bm25", "stats")))
    assert(stats.linesIterator.find(_.startsWith("segments="))
      .get.stripPrefix("segments=").split(",").length === 3)
    // segment union ≡ full re-index ≡ corpus scan
    assert(Retrieval.bm25SearchStored(spark, root)
      .collect().map(_.toSeq).toSeq ===
      Retrieval.bm25Search(d).collect().map(_.toSeq).toSeq)
    // every covered version answers under ITS corpus
    assert(Retrieval.bm25SearchStored(spark, root, version = 0L)
      .collect().map(_.toSeq).toSeq ===
      Retrieval.bm25Search(d.filter(col("doc_id") <= 2L))
        .collect().map(_.toSeq).toSeq)
    // a REWRITE (partition-delete drops doc 1's rows) invalidates
    // ancestor segments — the delta path must fall back to a FULL
    // rebuild, and the answer must track the removal
    SnapshotTable.deleteWhere(spark, root, "source",
      col("doc_id") === 1L) // v3
    assert(Retrieval.indexCorpusDelta(spark, root) === 3L)
    val s3 = new String(JFiles.readAllBytes(
      java.nio.file.Paths.get(root, "v=3", "_bm25", "stats")))
    assert(!s3.contains("seg-"), "a rewritten history reused segments")
    assert(Retrieval.bm25SearchStored(spark, root)
      .collect().map(_.toSeq).toSeq ===
      Retrieval.bm25Search(d.filter(col("doc_id") =!= 1L))
        .collect().map(_.toSeq).toSeq)
  }

  test("compactIndex merges segments bit-identically; time travel and later deltas survive") {
    import java.nio.file.{Files => JFiles, Paths}
    import graft.operators.SnapshotTable
    val root = JFiles.createTempDirectory("graft-bm25-compact")
      .toString + "/t"
    val d = docs
    SnapshotTable.commitAppend(
      d.filter(col("doc_id") <= 2L), root, "source") // v0
    Retrieval.indexCorpus(spark, root)
    SnapshotTable.commitAppend(
      d.filter(col("doc_id") === 3L), root, "source") // v1
    Retrieval.indexCorpusDelta(spark, root)
    SnapshotTable.commitAppend(
      d.filter(col("doc_id") === 4L), root, "source") // v2
    Retrieval.indexCorpusDelta(spark, root)
    val pre = Retrieval.bm25SearchStored(spark, root)
      .collect().map(_.toSeq).toSeq
    assert(Retrieval.compactIndex(spark, root) === 1)
    assert(Retrieval.compactIndex(spark, root) === 1) // idempotent
    // answers bit-identical after the merge
    assert(Retrieval.bm25SearchStored(spark, root)
      .collect().map(_.toSeq).toSeq === pre)
    // the merged dir stands; superseded dirs stay on disk (an
    // in-flight reader or a later coverage record may chain to them —
    // version expiry is the GC), but v2's coverage references ONLY
    // the merged segment
    assert(JFiles.exists(Paths.get(root, "v=2", "_bm25", "merged-2")))
    assert(JFiles.exists(Paths.get(root, "v=2", "_bm25", "seg-2")))
    val postStats = new String(JFiles.readAllBytes(
      Paths.get(root, "v=2", "_bm25", "stats")))
    assert(postStats.linesIterator.find(_.startsWith("segments="))
      .get.stripPrefix("segments=") === "v=2/_bm25/merged-2")
    // ancestor coverage (time travel) still answers under ITS corpus
    assert(Retrieval.bm25SearchStored(spark, root, version = 1L)
      .collect().map(_.toSeq).toSeq ===
      Retrieval.bm25Search(d.filter(col("doc_id") <= 3L))
        .collect().map(_.toSeq).toSeq)
    // a later delta chains onto the merged coverage
    SnapshotTable.commitAppend(
      d.filter(col("doc_id") === 1L).withColumn("doc_id", lit(9L)),
      root, "source") // v3
    Retrieval.indexCorpusDelta(spark, root)
    val full = d.unionByName(
      d.filter(col("doc_id") === 1L).withColumn("doc_id", lit(9L)))
    assert(Retrieval.bm25SearchStored(spark, root)
      .collect().map(_.toSeq).toSeq ===
      Retrieval.bm25Search(full).collect().map(_.toSeq).toSeq)
  }

  test("indexCorpusDelta rebuilds on a doc_id overlap instead of double-counting") {
    import java.nio.file.{Files => JFiles, Paths}
    import graft.operators.SnapshotTable
    val root = JFiles.createTempDirectory("graft-bm25-dup")
      .toString + "/t"
    val d = docs
    SnapshotTable.commitAppend(
      d.filter(col("doc_id") <= 2L), root, "source") // v0: docs 1,2
    Retrieval.indexCorpus(spark, root)
    // append a batch whose id range OVERLAPS the covered range —
    // append-only FILES, but the disjointness the segment math needs
    // is gone; the delta path must fall back to a full rebuild
    SnapshotTable.commitAppend(
      d.filter(col("doc_id") === 1L)
        .withColumn("source", lit("dup")), root, "source") // v1: doc 1 again
    assert(Retrieval.indexCorpusDelta(spark, root) === 1L)
    val stats = new String(JFiles.readAllBytes(
      Paths.get(root, "v=1", "_bm25", "stats")))
    assert(!stats.contains("seg-"), "an overlapping append reused segments")
    // the FULL rebuild scores the duplicated doc as the scan path does
    val merged = d.filter(col("doc_id") <= 2L).unionByName(
      d.filter(col("doc_id") === 1L).withColumn("source", lit("dup")))
    assert(Retrieval.bm25SearchStored(spark, root)
      .collect().map(_.toSeq).toSeq ===
      Retrieval.bm25Search(merged).collect().map(_.toSeq).toSeq)
  }

  test("indexCorpus covers an empty corpus without crashing; queries return empty") {
    import java.nio.file.{Files => JFiles}
    val root = JFiles.createTempDirectory("graft-bm25-empty")
      .toString + "/t"
    graft.operators.SnapshotTable.commit(docs.limit(0), root)
    assert(Retrieval.indexCorpus(spark, root) === 0L)
    val out = Retrieval.bm25SearchStored(spark, root)
    assert(out.count() === 0)
    assert(out.columns.toSeq === Seq("doc_id", "dl", "n_hits", "bm25"))
  }

  test("phraseSearch answers from positional postings, counting overlaps") {
    import spark.implicits._
    import java.nio.file.{Files => JFiles, Paths}
    val pd = Seq(
      (1L, "merge group merge group x"), // two disjoint occurrences
      (2L, "merge x group"), // terms present, never adjacent
      (3L, "a a a a"), // overlap fodder for phrase (a, a)
      (4L, "group merge") // reversed order must not match
    ).toDF("doc_id", "text")
    val root = JFiles.createTempDirectory("graft-phrase")
      .toString + "/t"
    graft.operators.SnapshotTable.commit(pd, root)
    Retrieval.indexCorpus(spark, root)
    def hits(p: Seq[String]) =
      Retrieval.phraseSearch(spark, root, p).collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toSeq
    assert(hits(Seq("merge", "group")) === Seq(1L -> 2))
    // OVERLAPPING occurrences count (position arithmetic, not regex)
    assert(hits(Seq("a", "a")) === Seq(3L -> 3))
    assert(hits(Seq("a", "a", "a")) === Seq(3L -> 2))
    // single term degenerates to term-frequency hits
    assert(hits(Seq("merge")) === Seq(1L -> 2, 2L -> 1, 4L -> 1))
    // absent phrase: empty, not an error
    assert(hits(Seq("zzz", "merge")) === Seq.empty)
    // equivalence with the scan-path twin on every shape above
    Seq(Seq("merge", "group"), Seq("a", "a"), Seq("a", "a", "a"),
      Seq("merge")).foreach { p =>
      assert(hits(p) === Retrieval.phraseScan(pd, p).collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toSeq)
    }
    // IO proof: the query path reads only the index
    JFiles.list(Paths.get(root, "v=0")).toArray.map(_.toString)
      .filter(_.endsWith(".parquet"))
      .foreach(f => JFiles.write(Paths.get(f), "junk".getBytes))
    assert(hits(Seq("merge", "group")) === Seq(1L -> 2))
  }

  test("phraseSearch spans delta segments, survives compaction, falls back uncovered") {
    import spark.implicits._
    import java.nio.file.{Files => JFiles}
    import graft.operators.SnapshotTable
    // an in-doc phrase never crosses a segment boundary (a doc lives
    // wholly in one segment) — but MATCHING DOCS live in different
    // segments, and the union must surface all of them
    val v0 = Seq((1L, "merge group merge group", "s0"),
      (2L, "merge x group", "s0")).toDF("doc_id", "text", "source")
    val v1 = Seq((5L, "y merge group y", "s1"))
      .toDF("doc_id", "text", "source")
    val root = JFiles.createTempDirectory("graft-phrase-seg")
      .toString + "/t"
    SnapshotTable.commitAppend(v0, root, "source")
    Retrieval.indexCorpus(spark, root)
    SnapshotTable.commitAppend(v1, root, "source")
    assert(Retrieval.indexCorpusDelta(spark, root) === 1L)
    def hits() = Retrieval.phraseSearch(spark, root, Seq("merge", "group"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toSeq
    val expected = Seq(1L -> 2, 5L -> 1)
    assert(hits() === expected, "a match in the delta segment was dropped")
    // the compaction merge carries the ps field: answers bit-identical
    assert(Retrieval.compactIndex(spark, root) === 1)
    assert(hits() === expected)
    // uncovered version routes to the scan twin (not an error)
    val root2 = JFiles.createTempDirectory("graft-phrase-fb")
      .toString + "/t"
    SnapshotTable.commit(v0.unionByName(v1), root2)
    assert(Retrieval.phraseSearch(spark, root2, Seq("merge", "group"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toSeq === expected)
    // zero-segment coverage (empty corpus): empty frame, right schema
    val root3 = JFiles.createTempDirectory("graft-phrase-empty")
      .toString + "/t"
    SnapshotTable.commit(v0.limit(0), root3)
    assert(Retrieval.indexCorpus(spark, root3) === 0L)
    val empty = Retrieval.phraseSearch(spark, root3, Seq("merge", "group"))
    assert(empty.count() === 0)
    assert(empty.columns.toSeq === Seq("doc_id", "n_occurrences"))
  }

  test("bm25SearchStored falls back to the scan path without coverage") {
    import java.nio.file.{Files => JFiles}
    val root = JFiles.createTempDirectory("graft-bm25-fb")
      .toString + "/t"
    graft.operators.SnapshotTable.commit(docs, root)
    val out = Retrieval.bm25SearchStored(spark, root)
      .collect().map(_.toSeq).toSeq
    assert(out === Retrieval.bm25Search(docs).collect().map(_.toSeq).toSeq)
  }

  test("hybridSearchStored fuses the two index-backed legs and needs no original input") {
    import java.nio.file.{Files => JFiles, Paths}
    val base = JFiles.createTempDirectory("graft-hybrid-st").toString
    val docsRoot = s"$base/docs"
    val ivfRoot = s"$base/ivf"
    graft.operators.SnapshotTable.commit(docs, docsRoot)
    Retrieval.indexCorpus(spark, docsRoot)
    graft.operators.IncrementalIvf.appendBatch(spark, ivfRoot, embFixture)
    val lexRanks = Retrieval.bm25SearchStored(spark, docsRoot, k = 50)
      .collect().zipWithIndex
      .map { case (r, i) => r.getLong(0) -> (i + 1) }.toMap
    val denseRanks = graft.operators.IncrementalIvf
      .search(spark, ivfRoot, embFixture.filter(col("vec_id") === 0L),
        nprobe = 4, k = 50)
      .collect().map(r => r.getLong(1) -> r.getInt(3)).toMap
    val out = Retrieval
      .hybridSearchStored(spark, docsRoot, ivfRoot, embFixture)
      .collect()
    // fusion = exactly the RRF of the two stored legs' ranks
    assert(out.map(_.getLong(0)).toSet ===
      (lexRanks.keySet ++ denseRanks.keySet))
    out.foreach { r =>
      val id = r.getLong(0)
      assert(r.getInt(1) === lexRanks.getOrElse(id, 0))
      assert(r.getInt(2) === denseRanks.getOrElse(id, 0))
      val expect = BigDecimal(
        lexRanks.get(id).map(x => 1.0d / (60.0d + x)).getOrElse(0.0d) +
          denseRanks.get(id).map(x => 1.0d / (60.0d + x)).getOrElse(0.0d))
        .setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(r.getDouble(3) - expect) < 1e-12)
    }
    // IO proof: corrupt the docs TABLE's data files — both legs read
    // only their indexes, so the stored hybrid still answers
    JFiles.list(Paths.get(docsRoot, "v=0")).toArray.map(_.toString)
      .filter(_.endsWith(".parquet"))
      .foreach(p => JFiles.write(Paths.get(p), "junk".getBytes))
    val blind = Retrieval
      .hybridSearchStored(spark, docsRoot, ivfRoot, embFixture)
      .collect()
    assert(blind.map(_.toSeq).toSeq === out.map(_.toSeq).toSeq)
  }

  test("hybridSearch leg depth n bounds each leg's contribution") {
    val out = Retrieval.hybridSearch(docs, embFixture, n = 1, k = 10)
      .collect()
    // exactly one doc per leg carries a nonzero rank (and it is 1)
    assert(out.count(_.getInt(1) > 0) === 1)
    assert(out.count(_.getInt(2) > 0) === 1)
    assert(out.filter(_.getInt(1) > 0).head.getInt(1) === 1)
    assert(out.filter(_.getInt(2) > 0).head.getInt(2) === 1)
  }
}
