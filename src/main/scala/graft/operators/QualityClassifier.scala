package graft.operators

import org.apache.spark.ml.classification.{LogisticRegression, LogisticRegressionModel}
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** MODEL-based document quality scoring — the learned filter LLM data
  * pipelines run beside the heuristic gates (CCNet's linear model,
  * the fastText quality classifiers behind LLaMA-style corpora): a
  * logistic model over the corpus's deterministic quality signals,
  * trained with weak supervision (the heuristic keep verdicts as
  * bootstrap labels — a deployment swaps in human/LM labels, nothing
  * else changes) and scored as one projection over the corpus.
  *
  * Spark-first: features are the EXISTING [[TextAnalysis.quality]] /
  * repetition signals (codegen'd projections), training is
  * `spark.ml`'s distributed L-BFGS logistic regression over the
  * assembled vectors, scoring is one projection of the fitted
  * coefficients. Iterative float optimization is NOT oracle-hashable
  * (like [[Similarity.trainCentroids]]), so this is a library component:
  * the spec pins separability on planted junk, probability shape,
  * and the holdout flow through [[TextAnalysis.datasetSplit]]. */
object QualityClassifier {

  val FeatureCols: Seq[String] = Seq(
    "n_words", "n_distinct_words", "avg_word_len", "distinct_ratio",
    "punct_count", "top_word_frac", "dup_bigram_frac")

  /** Deterministic per-doc numeric features + the heuristic bootstrap
    * label: quality shape stats joined with the Gopher-style
    * repetition fractions on one doc_id co-partitioning. */
  def features(docs: DataFrame): DataFrame =
    TextAnalysis.quality(docs)
      .join(TextAnalysis.repetition(docs)
        .select("doc_id", "top_word_frac", "dup_bigram_frac"),
        Seq("doc_id"))
      .withColumn("label",
        (col("quality_pass") && col("top_word_frac") <= 0.3 &&
          col("dup_bigram_frac") <= 0.3).cast("double"))

  private def assemble(feat: DataFrame): DataFrame =
    new VectorAssembler()
      .setInputCols(FeatureCols.toArray)
      .setOutputCol("features")
      .setHandleInvalid("keep")
      .transform(feat.na.fill(0.0, FeatureCols))

  /** Fit the logistic model on the labelled feature table (default:
    * [[features]]' weak labels). */
  def train(docs: DataFrame,
            labelled: Option[DataFrame] = None): LogisticRegressionModel =
    new LogisticRegression()
      .setMaxIter(50)
      .setRegParam(0.01)
      .setLabelCol("label")
      .setFeaturesCol("features")
      .fit(assemble(labelled.getOrElse(features(docs))))

  /** Score the corpus: (doc_id, quality_prob, quality_keep) — one
    * projection, the 100 TB shape. The model's probability
    * `1 / (1 + exp(-(w·x + b)))` is built as a Column from its
    * coefficients and intercept on the driver, so no model object (whose
    * training summary holds the session) rides a task closure. */
  def score(docs: DataFrame, model: LogisticRegressionModel,
            threshold: Double = 0.5): DataFrame = {
    val w = model.coefficients.toArray
    val margin = FeatureCols.indices
      .map(i => col(FeatureCols(i)).cast("double") * lit(w(i)))
      .reduce(_ + _) + lit(model.intercept)
    features(docs).na.fill(0.0, FeatureCols)
      .select(col("doc_id"),
        (lit(1.0) / (lit(1.0) + exp(-margin))).as("quality_prob"))
      .withColumn("quality_keep", col("quality_prob") >= threshold)
  }
}
