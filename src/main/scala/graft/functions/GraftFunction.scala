package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** What every graft expression's companion shares: its SQL name, the
  * `ExpressionInfo` and arity-checked builder [[graft.GraftExtensions]]
  * injects, imperative registration for sessions not built with the
  * extensions (idempotent), and the Column call (which requires one of
  * the two). */
abstract class GraftFunction(val name: String, cls: Class[_ <: Expression],
                             arity: Int)(build: Seq[Expression] => Expression) {

  val info = new ExpressionInfo(cls.getName, name)

  val builder: Seq[Expression] => Expression = { args =>
    require(args.length == arity, s"$name expects $arity argument(s)")
    build(args)
  }

  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry
      .registerFunction(FunctionIdentifier(name), info, builder)

  protected def call(args: Column*): Column =
    org.apache.spark.sql.functions.call_function(name, args: _*)
}

object GraftFunction {
  val all: Seq[GraftFunction] =
    Seq(DotProduct, NearestCentroids, SimhashFingerprint, BloomContains)
}
