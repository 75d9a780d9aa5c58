package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, QuaternaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Native Catalyst expression `graft_nearest_k(embedding, nrm,
  * centroids, k)`: the `k` centroids nearest to one vector by cosine,
  * as `array<struct<centroid_id: bigint, ccos: double>>`, best first —
  * the rows a `row_number() <= k` window over the vector × centroid
  * cross product keeps, in its order (`ccos DESC NULLS LAST`, NaN
  * greatest as Spark sorts it, then `centroid_id ASC NULLS FIRST`).
  * The argmax is `graft_nearest_k(..., 1)[0]`.
  *
  * `ccos` is `dot / (nrm * ct_nrm)` exactly as the window plan computes
  * it: [[DotProduct]]'s ascending double accumulation, and `Divide`'s
  * semantics under the session's ANSI setting at analysis
  * (`failOnError`, fixed when the builder runs) — the
  * divisor is checked first (null → null; zero → null, or
  * DIVIDE_BY_ZERO under ANSI) and only then is the dot product taken.
  * A null embedding or norm therefore scores null for every centroid
  * and still ranks them all by id, as the window does. Ragged arrays
  * fail loudly, as in `graft_dot`.
  *
  * `centroids` (`array<struct<centroid_id: bigint, ct_embedding:
  * array<float>, ct_nrm: double>>`, any field names) and `k` must be
  * foldable: the literal is unpacked once per plan ([[CentroidSet]]),
  * and each row runs one bounded k-slot insertion over it inside
  * whole-stage codegen — no explode, shuffle or sort.
  */
case class NearestCentroids(embedding: Expression, nrm: Expression,
                            centroids: Expression, k: Expression,
                            failOnError: Boolean)
    extends QuaternaryExpression {

  override def first: Expression = embedding
  override def second: Expression = nrm
  override def third: Expression = centroids
  override def fourth: Expression = k

  override def checkInputDataTypes(): TypeCheckResult =
    (embedding.dataType, nrm.dataType, centroids.dataType, k.dataType) match {
      case (ArrayType(FloatType, _), DoubleType, ArrayType(StructType(Array(
          StructField(_, LongType, _, _), StructField(_, ArrayType(FloatType, _), _, _),
          StructField(_, DoubleType, _, _))), _), IntegerType)
          if centroids.foldable && k.foldable && k.eval() != null =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(s"$prettyName expects " +
        "(array<float>, double, a foldable array<struct<bigint, array<float>, " +
        s"double>>, a foldable int), got ${children.map(_.dataType.sql).mkString(", ")}")
    }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("centroid_id", LongType), StructField("ccos", DoubleType))),
    containsNull = false)
  override def nullable: Boolean = centroids.nullable
  override def prettyName: String = NearestCentroids.name

  @transient private lazy val set: CentroidSet =
    Option(centroids.eval().asInstanceOf[ArrayData]).map(new CentroidSet(_)).orNull
  @transient private lazy val kValue: Int = k.eval().asInstanceOf[Int]

  override def eval(input: InternalRow): Any = Option(set).map { s =>
    val n = nrm.eval(input)
    s.nearest(embedding.eval(input).asInstanceOf[ArrayData], n == null,
      if (n == null) 0.0d else n.asInstanceOf[Double], kValue, failOnError)
  }.orNull

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    if (set == null)
      return ev.copy(code = code"boolean ${ev.isNull} = true; $javaType ${ev.value} = null;")
    val setRef = ctx.addReferenceObj("graftCentroids", set, classOf[CentroidSet].getName)
    val (e, n) = (embedding.genCode(ctx), nrm.genCode(ctx))
    ev.copy(code = code"""
      |${e.code}
      |${n.code}
      |boolean ${ev.isNull} = false;
      |$javaType ${ev.value} = $setRef.nearest(${e.isNull} ? null : ${e.value},
      |  ${n.isNull}, ${n.value}, $kValue, $failOnError);""".stripMargin)
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression,
      newFourth: Expression): NearestCentroids =
    copy(embedding = newFirst, nrm = newSecond, centroids = newThird, k = newFourth)
}

/** A centroid literal unpacked for scoring (null fields stay null), and
  * the per-row loop both of [[NearestCentroids]]' evaluation paths call. */
final class CentroidSet(a: ArrayData) extends Serializable {
  private val rows = (0 until a.numElements()).map(a.getStruct(_, 3))
  private val ids = rows.map(r => if (r.isNullAt(0)) null else Long.box(r.getLong(0))).toArray
  private val embs = rows.map(r => if (r.isNullAt(1)) null else r.getArray(1).toFloatArray()).toArray
  private val nrms = rows.map(r => if (r.isNullAt(2)) null else Double.box(r.getDouble(2))).toArray

  def nearest(emb: ArrayData, embNrmNull: Boolean, embNrm: Double, k: Int,
              failOnError: Boolean): ArrayData = {
    val n = ids.length
    val scored = new Array[Boolean](n)
    val score = new Array[Double](n)
    // i ranks strictly before j: scored first, then the higher score
    // (NaN greatest, -0.0 = 0.0), then the lower id (null first)
    def before(i: Int, j: Int): Boolean =
      if (scored(i) != scored(j)) scored(i)
      else {
        val c = if (scored(i)) SQLOrderingUtil.compareDoubles(score(i), score(j)) else 0
        if (c != 0) c > 0
        else ids(j) != null && (ids(i) == null || ids(i) < ids(j))
      }
    val slots = new Array[Int](math.max(0, math.min(k, n)))
    var filled = 0
    var c = 0
    while (c < n) {
      if (!embNrmNull && nrms(c) != null) {
        val d = embNrm * nrms(c)
        if (d == 0.0d) {
          if (failOnError) throw org.apache.spark.sql.graft.GraftV1Wrap.divideByZeroError()
        } else if (emb != null && embs(c) != null) {
          val ct = embs(c)
          if (emb.numElements() != ct.length)
            throw new IllegalArgumentException(s"${NearestCentroids.name}: " +
              s"array lengths differ (${emb.numElements()} vs ${ct.length})")
          var acc = 0.0d
          var i = 0
          while (i < ct.length) { acc += emb.getFloat(i).toDouble * ct(i).toDouble; i += 1 }
          score(c) = acc / d
          scored(c) = true
        }
      }
      if (filled < slots.length || (slots.nonEmpty && before(c, slots.last))) {
        var p = if (filled < slots.length) { filled += 1; filled - 1 } else slots.length - 1
        while (p > 0 && before(c, slots(p - 1))) { slots(p) = slots(p - 1); p -= 1 }
        slots(p) = c
      }
      c += 1
    }
    new GenericArrayData(slots.take(filled).map[Any](c =>
      InternalRow(ids(c), if (scored(c)) score(c) else null)))
  }
}

object NearestCentroids extends GraftFunction("graft_nearest_k",
    classOf[NearestCentroids], 4)(a =>
    new NearestCentroids(a(0), a(1), a(2), a(3), SQLConf.get.ansiEnabled)) {

  /** Column API: the `k` centroids of the literal `centroids` nearest to
    * `embedding` (norm `nrm`), best first. */
  def nearestK(embedding: Column, nrm: Column, centroids: Column, k: Int): Column =
    call(embedding, nrm, centroids, org.apache.spark.sql.functions.lit(k))
}
