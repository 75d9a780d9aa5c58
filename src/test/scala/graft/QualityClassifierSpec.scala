package graft

import org.apache.spark.sql.functions._

import graft.operators.{QualityClassifier, TextAnalysis}

/** Learned quality classifier: separates planted junk from real text,
  * produces calibrated-ish probabilities, and composes with the
  * deterministic holdout split. */
class QualityClassifierSpec extends GraftSuite {
  import spark.implicits._

  private def docs = spark.read.parquet(s"$sf/documents.parquet")
    .select("doc_id", "text", "lang", "source")

  // real docs + planted junk: repeated single words and one-char noise
  private def corpus = docs.limit(120).unionByName(
    (0 until 40).map { i =>
      (10000L + i, if (i % 2 == 0) Seq.fill(60)("spam").mkString(" ")
      else "x y " + Seq.fill(50)("z").mkString(" "))
    }.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("junk")))

  // a session that has run a Dataset.observe holds an initialised
  // ObservationManager, which is not serializable: training and scoring
  // must not ship anything that reaches the session to a task
  private def observeFirst(): Unit = {
    val obs = org.apache.spark.sql.Observation("qc")
    assert(spark.range(3).observe(obs, count(lit(1)).as("n")).count() === 3)
    assert(obs.get("n") === 3L)
  }

  test("the model separates planted junk from corpus text") {
    observeFirst()
    val model = QualityClassifier.train(corpus)
    val scored = QualityClassifier.score(corpus, model)
    assert(scored.count() === 160)
    // probabilities are probabilities
    assert(scored.filter(col("quality_prob") < 0 ||
      col("quality_prob") > 1).count() === 0)
    // planted junk scores below the real docs on average, by a margin
    val junkAvg = scored.filter(col("doc_id") >= 10000L)
      .agg(avg("quality_prob")).head.getDouble(0)
    val realAvg = scored.filter(col("doc_id") < 10000L)
      .agg(avg("quality_prob")).head.getDouble(0)
    assert(realAvg - junkAvg > 0.5,
      s"real=$realAvg junk=$junkAvg — no separation")
    // ...and the thresholded verdict gets the junk
    val junkKept = scored.filter(col("doc_id") >= 10000L &&
      col("quality_keep")).count()
    assert(junkKept <= 4, s"$junkKept junk docs kept")
  }

  test("scoring reproduces the model's own probabilities") {
    observeFirst()
    val model = QualityClassifier.train(corpus)
    // the model's probability per doc, computed on the driver
    val own = new org.apache.spark.ml.feature.VectorAssembler()
      .setInputCols(QualityClassifier.FeatureCols.toArray)
      .setOutputCol("features").setHandleInvalid("keep")
      .transform(QualityClassifier.features(corpus)
        .na.fill(0.0, QualityClassifier.FeatureCols))
      .select("doc_id", "features").collect()
      .map(r => r.getLong(0) -> model.predictProbability(
        r.getAs[org.apache.spark.ml.linalg.Vector](1))(1)).toMap
    val scored = QualityClassifier.score(corpus, model)
      .select("doc_id", "quality_prob").as[(Long, Double)].collect()
    assert(scored.length === 160)
    scored.foreach { case (id, p) =>
      assert(math.abs(p - own(id)) < 1e-12, s"doc $id: $p vs ${own(id)}")
    }
  }

  test("holdout flow: train on the train split, score the test split") {
    observeFirst()
    val split = TextAnalysis.datasetSplit(corpus)
    val train = corpus.join(split.filter(col("split") === "train")
      .select("doc_id"), "doc_id")
    val test = corpus.join(split.filter(col("split") === "test")
      .select("doc_id"), "doc_id")
    val model = QualityClassifier.train(train)
    val scored = QualityClassifier.score(test, model)
    assert(scored.count() === test.count())
    // weak labels on the held-out slice mostly agree with the model
    val agree = scored
      .join(QualityClassifier.features(test).select("doc_id", "label"),
        "doc_id")
      .filter((col("label") === 1.0) === col("quality_keep")).count()
    assert(agree.toDouble / scored.count() >= 0.85)
  }
}
