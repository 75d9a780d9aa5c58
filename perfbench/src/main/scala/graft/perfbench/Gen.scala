package graft.perfbench

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.sources.Tables

/** The benchmark's inputs: the sf0.1 `events`, `documents` and
  * `embeddings` tables the repository's `Bench` reads, kept under
  * [[DataDir]] so a run reads only its own checkout, and loaded through
  * `graft.sources.Tables`. The seed derives only what is drawn from
  * them — micro-batch cuts, query choices, and the perturbation of
  * replicated vectors and documents — through [[Rng]]: the same seed
  * gives the same inputs.
  */
object Gen {
  /** The sf0.1 tables, under the repository root (a run's working directory). */
  val DataDir: String = Paths.get("perfbench", "data", "sf0.1").toAbsolutePath.toString

  def events(spark: SparkSession): DataFrame = Tables.events(spark, DataDir)
  def documents(spark: SparkSession): DataFrame = Tables.documents(spark, DataDir)
  def embeddings(spark: SparkSession): DataFrame =
    Tables.embeddings(spark, DataDir).drop("label")

  /** A seeded stream of driver-side choices. */
  final class Rng(seed: Long) {
    private val r = new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L + 17L)
    def next(): Double = r.nextDouble()
    def gaussian(): Double = r.nextGaussian()
    def int(lo: Int, hi: Int): Int = lo + r.nextInt(hi - lo + 1)
    def pick[A](xs: Seq[A]): A = xs(r.nextInt(xs.size))
    def shuffle[A](xs: Seq[A]): Seq[A] = {
      val a = xs.toArray[Any]
      for (i <- a.length - 1 to 1 by -1) {
        val j = r.nextInt(i + 1)
        val t = a(i); a(i) = a(j); a(j) = t
      }
      a.toSeq.asInstanceOf[Seq[A]]
    }
  }

  /** `v` moved by seeded Gaussian noise of deviation `sigma` per
    * component, scaled back to `v`'s norm (the sf0.1 vectors are unit
    * vectors). */
  def perturb(v: Array[Float], sigma: Double, rng: Rng): Array[Float] = {
    val w = v.map(x => x + sigma * rng.gaussian())
    val scale = math.sqrt(v.map(x => x.toDouble * x).sum / w.map(x => x * x).sum)
    w.map(x => (x * scale).toFloat)
  }

  /** `n` seeded replicas of the vectors `src`, each re-keyed to
    * `id + copy * stride` (the `graft.ScaleData` re-keying) and
    * [[perturb]]ed. Distinct sources within one call. */
  def vectorReplicas(src: IndexedSeq[(Long, Array[Float])], n: Int, copy: Int,
                     stride: Long, sigma: Double, rng: Rng): Seq[(Long, Array[Float])] =
    rng.shuffle(src.indices).take(n).sorted.map { i =>
      val (id, v) = src(i)
      (id + copy * stride, perturb(v, sigma, rng))
    }

  /** `n` seeded replicas of the document rows `src` (`doc_id`, `text`,
    * `lang`, `source`, `n_chars`), re-keyed like [[vectorReplicas]],
    * with each word replaced by a seeded word of `vocab` at rate
    * `swap`. */
  def documentReplicas(src: IndexedSeq[Row], n: Int, copy: Int, stride: Long,
                       vocab: IndexedSeq[String], swap: Double, rng: Rng): Seq[Row] =
    rng.shuffle(src.indices).take(n).sorted.map { i =>
      val r = src(i)
      val text = r.getAs[String]("text").split(" ")
        .map(w => if (rng.next() < swap) rng.pick(vocab) else w).mkString(" ")
      Row(r.getAs[Long]("doc_id") + copy * stride, text, r.getAs[String]("lang"),
        r.getAs[String]("source"), text.length.toLong)
    }
}
