package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression: dot product of two FLOAT array columns
  * accumulated in double, elementwise ascending — bit-identical to the
  * declarative `aggregate(zip_with(a, b, (x, y) -> double(x)*double(y)),
  * 0D, (acc, v) -> acc + v)` fold and to the DuckDB oracle's
  * `list_reduce` over a 0.0-seeded product list.
  *
  * Rationale (SURVEY §3): the interpreted higher-order-function fold
  * boxes every element; this expression participates in whole-stage
  * codegen with a primitive float loop, which matters when the dot
  * product sits inside an LSH-candidate verify or a top-k scan over
  * billions of pairs. Null semantics: null if either array is null;
  * arrays must be equal length (guaranteed by the embedding schema).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  private def isFloatArray(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isFloatArray(left.dataType) && isFloatArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects two array<float> arguments, got " +
        s"${left.dataType.sql} and ${right.dataType.sql}")

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    // fail loudly on ragged inputs — a silently truncated dot product
    // would quietly shift cosine scores on corrupted embedding rows
    if (n != y.numElements())
      throw new IllegalArgumentException(
        s"$prettyName: array lengths differ (${n} vs ${y.numElements()})")
    var acc = 0.0d
    var i = 0
    while (i < n) {
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  throw new IllegalArgumentException(
         |    "graft_dot: array lengths differ (" + $n + " vs " + $b.numElements() + ")");
         |}
         |double $acc = 0.0d;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

object DotProduct extends GraftFunction("graft_dot", classOf[DotProduct], 2)(
    a => new DotProduct(a(0), a(1))) {

  /** Column API: dot(a, b) in double. */
  def dot(a: Column, b: Column): Column = call(a, b)
}
