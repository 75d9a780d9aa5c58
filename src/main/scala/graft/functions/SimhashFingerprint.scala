package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native Catalyst expression: 60-bit SimHash fingerprint over an array
  * of word hashes. Bit b of the result is set iff the count of hashes
  * with bit b set exceeds the count without — identical to the
  * declarative double-`aggregate` fold in the DuckDB oracle and the
  * ScalaTest cross-check, but codegen'd as two primitive loops instead
  * of 60·|words| boxed lambda evaluations.
  */
case class SimhashFingerprint(child: Expression) extends UnaryExpression {

  private val bits = Hashing.SimhashBits

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<bigint>, got ${dt.sql}")
  }

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash"

  override def nullSafeEval(input: Any): Any = {
    val hs = input.asInstanceOf[ArrayData]
    val n = hs.numElements()
    val counts = new Array[Int](bits)
    var i = 0
    while (i < n) {
      val h = hs.getLong(i)
      var b = 0
      while (b < bits) {
        counts(b) += (if (((h >> b) & 1L) == 1L) 1 else -1)
        b += 1
      }
      i += 1
    }
    var fp = 0L
    var b = 0
    while (b < bits) {
      if (counts(b) > 0) fp |= (1L << b)
      b += 1
    }
    fp
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, hs => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      val h = ctx.freshName("h")
      val counts = ctx.freshName("counts")
      val fp = ctx.freshName("fp")
      s"""
         |int $n = $hs.numElements();
         |int[] $counts = new int[$bits];
         |for (int $i = 0; $i < $n; $i++) {
         |  long $h = $hs.getLong($i);
         |  for (int $b = 0; $b < $bits; $b++) {
         |    $counts[$b] += ((($h >> $b) & 1L) == 1L) ? 1 : -1;
         |  }
         |}
         |long $fp = 0L;
         |for (int $b = 0; $b < $bits; $b++) {
         |  if ($counts[$b] > 0) $fp |= (1L << $b);
         |}
         |${ev.value} = $fp;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimhashFingerprint =
    copy(child = newChild)
}

object SimhashFingerprint extends GraftFunction("graft_simhash",
    classOf[SimhashFingerprint], 1)(a => new SimhashFingerprint(a(0))) {

  def fingerprint(hs: Column): Column = call(hs)
}
