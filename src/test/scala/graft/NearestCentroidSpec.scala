package graft

import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.functions.{DotProduct, NearestCentroids}
import graft.operators.{IncrementalIvf, Metrics, Similarity}

/** `graft_nearest_k` answers exactly what the `row_number() <= k`
  * window over the vector × centroid cross product answered — on
  * seeded random vectors and on ties, nulls, NaN, zero norms, empty and
  * ragged inputs, interpreted and generated — and the IVF operators
  * built on it plan no cross product and no window ranking centroids. */
class NearestCentroidSpec extends GraftSuite {

  private val Dim = 8

  private val VecSchema = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType))))

  /** `rows` as a parquet-backed frame (not a local relation, whose
    * projections the optimizer folds before codegen), with norms. */
  private def frame(rows: Seq[(Long, Array[Float])]): DataFrame = {
    val dir = Files.createTempDirectory("graft-nearest").toString + "/v"
    spark.createDataFrame(
      rows.map { case (id, e) => Row(id, Option(e).map(_.toSeq).orNull) }
        .toList.asJava, VecSchema)
      .repartition(2).write.parquet(dir)
    Similarity.withNorms(spark.read.parquet(dir))
  }

  private def centroidFrame(rows: Seq[(Long, Array[Float])]): DataFrame =
    frame(rows).select(col("vec_id").as("centroid_id"),
      col("embedding").as("ct_embedding"), col("nrm").as("ct_nrm"))

  private def random(seed: Int, n: Int, from: Long): Seq[(Long, Array[Float])] = {
    val rng = new Random(seed)
    (0 until n).map(i => (from + i, Array.fill(Dim)(rng.nextGaussian().toFloat)))
  }

  /** Per vector, its ranked (centroid id, score bits) pairs: scores
    * compare by bit pattern, so NaN equals NaN and -0.0 differs from
    * 0.0. */
  private type Ranked = Map[Long, Seq[(Any, Option[Long])]]

  private def bits(score: Any): Option[Long] =
    Option(score).map(d => java.lang.Double.doubleToLongBits(d.asInstanceOf[Double]))

  /** The plan the expression replaces: cross product, cosine per pair,
    * `row_number` over each vector's centroids. */
  private def viaWindow(v: DataFrame, cent: DataFrame, k: Int): Ranked = {
    val got = v.crossJoin(broadcast(cent))
      .withColumn("ccos", DotProduct.dot(col("embedding"), col("ct_embedding")) /
        (col("nrm") * col("ct_nrm")))
      .withColumn("prn", row_number().over(Window.partitionBy("vec_id")
        .orderBy(col("ccos").desc, col("centroid_id"))))
      .filter(col("prn") <= k)
      .select("vec_id", "prn", "centroid_id", "ccos").collect().toSeq
      .groupBy(_.getLong(0)).map { case (id, rs) =>
        id -> rs.sortBy(_.getInt(1)).map(r => (r.get(2), bits(r.get(3))))
      }
    val ids = v.select("vec_id").collect().map(_.getLong(0))
    ids.map(id => id -> got.getOrElse(id, Seq.empty)).toMap
  }

  private def viaExpr(v: DataFrame, cent: DataFrame, k: Int): Ranked =
    v.select(col("vec_id"), Similarity.centroids(cent)
        .nearest(col("embedding"), col("nrm"), k))
      .collect().map(r => r.getLong(0) ->
        r.getSeq[Row](1).map(p => (p.get(0), bits(p.get(1))))).toMap

  /** Both answers, or both errors' messages (cause chains flattened). */
  private def outcome(f: => Ranked): Either[String, Ranked] =
    try Right(f)
    catch {
      case t: Throwable =>
        Left(Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
          .map(e => String.valueOf(e.getMessage)).mkString(" | "))
    }

  private def assertSame(v: DataFrame, cent: DataFrame, ks: Seq[Int]): Unit =
    ks.foreach { k =>
      val w = viaWindow(v, cent, k)
      assert(viaExpr(v, cent, k) === w, s"k=$k")
    }

  test("graft_nearest_k equals the window plan on seeded random vectors, with exact ties") {
    val base = random(601, 12, 0L)
    // duplicate centroids (ids 100, 101 copy ids 3, 7): exact ties, the
    // lowest id must win
    val cent = centroidFrame(base ++ Seq(100L -> base(3)._2, 101L -> base(7)._2))
    val v = frame(random(602, 300, 1000L) ++ Seq(2000L -> base(3)._2))
    assertSame(v, cent, Seq(1, 3, 14, 20))
    val top = viaExpr(v, cent, 2)(2000L).map(_._1)
    assert(top === Seq(3L, 100L))
  }

  test("null embedding, NaN component and an empty centroid array match the window plan") {
    val base = random(603, 6, 0L)
    val nan = Array.fill(Dim)(0.5f)
    nan(2) = Float.NaN
    val v = frame(random(604, 20, 1000L) ++
      Seq(2000L -> (null: Array[Float]), 2001L -> nan))
    assertSame(v, centroidFrame(base), Seq(1, 4, 6, 9))
    // a NaN centroid scores NaN for every vector: greatest, so first
    val withNan = centroidFrame(base :+ (50L -> nan))
    assertSame(v, withNan, Seq(1, 3))
    assert(viaExpr(v, withNan, 1)(1000L).map(_._1) === Seq(50L))
    // a null embedding still ranks every centroid (null score, id order)
    assert(viaExpr(v, centroidFrame(base), 2)(2000L) === Seq((0L, None), (1L, None)))
    // no centroids: nothing ranked, as from the empty cross product
    val none = centroidFrame(base).filter(lit(false))
    assertSame(v, none, Seq(1, 3))
  }

  test("a zero-norm vector gives the window plan's result or error under either ANSI setting") {
    val cent = centroidFrame(random(605, 5, 0L))
    val v = frame(random(606, 10, 1000L) :+ (2000L -> Array.fill(Dim)(0.0f)))
    Seq("true", "false").foreach { ansi =>
      withConf("spark.sql.ansi.enabled" -> ansi) {
        val w = outcome(viaWindow(v, cent, 2))
        val e = outcome(viaExpr(v, cent, 2))
        if (ansi == "true") {
          assert(w.left.exists(_.contains("DIVIDE_BY_ZERO")), w)
          assert(e.left.exists(_.contains("DIVIDE_BY_ZERO")), e)
        } else {
          assert(w.isRight, w)
          assert(e === w)
          assert(e.toOption.get(2000L) === Seq((0L, None), (1L, None)))
        }
      }
    }
  }

  test("ragged arrays fail loudly, as graft_dot does") {
    val cent = centroidFrame(random(607, 4, 0L))
    val v = frame(Seq(1L -> Array(1.0f, 2.0f, 3.0f)))
    assert(outcome(viaWindow(v, cent, 1)).left.exists(_.contains("array lengths differ")))
    assert(outcome(viaExpr(v, cent, 1)).left
      .exists(_.contains("graft_nearest_k: array lengths differ")))
  }

  test("generated and interpreted evaluation agree bit for bit") {
    val cent = centroidFrame(random(608, 16, 0L))
    val v = frame(random(609, 200, 1000L) :+ (2000L -> (null: Array[Float])))
    val gen = viaExpr(v, cent, 4)
    // the projection runs inside whole-stage codegen
    val df = v.select(Similarity.centroids(cent)
      .nearest(col("embedding"), col("nrm"), 4))
    df.collect()
    val plan = nodes(df.queryExecution.executedPlan)
    assert(plan.exists {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec =>
        w.child.expressions.exists(_.exists(_.isInstanceOf[NearestCentroids]))
      case _ => false
    }, plan.map(_.nodeName))
    val interp = withConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(viaExpr(v, cent, 4))
    assert(interp === gen)
    assert(gen === viaWindow(v, cent, 4))
  }

  test("graft_nearest_k is callable from SQL in an isolated session") {
    val s2 = spark.newSession()
    NearestCentroids.register(s2)
    val r = s2.sql(
      """SELECT graft_nearest_k(array(1.0F, 0.0F), 1.0D, array(
        |  named_struct('centroid_id', 7L, 'ct_embedding', array(0.0F, 1.0F), 'ct_nrm', 1.0D),
        |  named_struct('centroid_id', 3L, 'ct_embedding', array(1.0F, 0.0F), 'ct_nrm', 1.0D),
        |  named_struct('centroid_id', 5L, 'ct_embedding', array(1.0F, 0.0F), 'ct_nrm', 1.0D)),
        |  2) AS nk""".stripMargin)
      .head().getSeq[Row](0).map(p => (p.getLong(0), p.getDouble(1)))
    assert(r === Seq((3L, 1.0), (5L, 1.0)))
  }

  /** The executed plans of every action `body` ran. */
  private def plansOf(body: => Unit): Seq[SparkPlan] = {
    val seen = mutable.ArrayBuffer.empty[SparkPlan]
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        seen.synchronized { seen += qe.executedPlan; () }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try body
    finally {
      Metrics.drainBus(spark)
      spark.listenerManager.unregister(l)
    }
    seen.synchronized(seen.toSeq)
  }

  /** No cross product, and no window ranking centroids (one ordered by
    * `centroid_id`); a window ranking neighbours stays. */
  private def assertNoCentroidPairs(what: String, plans: Seq[SparkPlan]): Unit = {
    assert(plans.nonEmpty, what)
    val bad = plans.flatMap(nodes).filter {
      case _: CartesianProductExec | _: BroadcastNestedLoopJoinExec => true
      case w: WindowExec => w.orderSpec.exists(_.child.references
        .exists(_.name == "centroid_id"))
      case _ => false
    }
    assert(bad.isEmpty, s"$what plans centroid pairs: ${bad.map(_.nodeName)}")
  }

  test("IVF assignment and probes plan no cross product and no centroid window") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet").select("vec_id", "embedding")
    val root = Files.createTempDirectory("graft-nearest-ivf").toString
    IncrementalIvf.appendBatch(spark, root, emb.filter(col("vec_id") < 200))
    assertNoCentroidPairs("appendBatch", plansOf {
      IncrementalIvf.appendBatch(spark, root, emb.filter(col("vec_id") >= 200)); ()
    })
    assertNoCentroidPairs("search", plansOf {
      IncrementalIvf.search(spark, root, emb.filter(col("vec_id") < 10)).collect(); ()
    })
    assertNoCentroidPairs("ivfTopK", plansOf { Similarity.ivfTopK(emb).collect(); () })
    assertNoCentroidPairs("ivfPqTopK", plansOf { Similarity.ivfPqTopK(emb).collect(); () })
  }
}
