package graft.functions

import java.io.ByteArrayInputStream

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, BooleanType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

/** Native Catalyst expression: bloom-filter membership probe of a
  * string column against a SERIALIZED `util.sketch.BloomFilter`
  * carried as a foldable binary literal — the codegen'd replacement
  * for the per-row Scala UDF `s => bf.mightContainString(s)` (SURVEY
  * §3: no Scala UDFs in hot paths). This is Spark's own idiom for
  * runtime bloom pruning: `BloomFilterMightContain` also ships the
  * sketch bytes inside the plan (per-task cost = filter size, the
  * same as the broadcast-task-binary the UDF closure paid).
  *
  * The filter deserializes ONCE on the driver (lazily / at codegen
  * time) and the probe runs `mightContainBinary` directly over the
  * column's UTF-8 bytes — no per-row String materialization, no
  * boxing, stays inside whole-stage codegen. Bit-identical to
  * `mightContainString` by construction (the sketch hashes the same
  * UTF-8 bytes). Null string → null; the filter argument must be a
  * non-null foldable literal (checked).
  */
case class BloomContains(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != BinaryType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects a binary serialized bloom filter as its " +
          s"first argument, got ${left.dataType.sql}")
    else if (!left.foldable)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects a FOLDABLE filter argument (the sketch is " +
          "deserialized once per plan, not per row)")
    else if (right.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects a string probe column, got " +
          s"${right.dataType.sql}")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = BooleanType
  override def prettyName: String = BloomContains.name

  @transient private lazy val filter: BloomFilter = {
    val bytes = left.eval(null).asInstanceOf[Array[Byte]]
    require(bytes != null, s"$prettyName: filter literal is null")
    BloomFilter.readFrom(new ByteArrayInputStream(bytes))
  }

  override def nullSafeEval(f: Any, s: Any): Any =
    filter.mightContainBinary(s.asInstanceOf[UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // deserialized once here; the object rides the codegen references
    // array, so generated code probes the bitset with zero per-row setup
    val bloomRef = ctx.addReferenceObj("graftBloomFilter", filter,
      classOf[BloomFilter].getName)
    nullSafeCodeGen(ctx, ev, (_, s) =>
      s"${ev.value} = $bloomRef.mightContainBinary($s.getBytes());")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BloomContains =
    copy(left = newLeft, right = newRight)
}

object BloomContains extends GraftFunction("graft_bloom_contains",
    classOf[BloomContains], 2)(a => new BloomContains(a(0), a(1))) {

  /** One-call serialization of a built filter into the literal the
    * expression expects. */
  def serialize(bf: BloomFilter): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    bf.writeTo(out)
    out.toByteArray
  }

  /** Column API: membership of `s` in the serialized filter `bytes`. */
  def contains(bytes: Column, s: Column): Column = call(bytes, s)
}
