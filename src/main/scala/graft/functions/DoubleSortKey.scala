package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

/** Order-preserving bit projection of a double: a long whose SIGNED
  * order equals the double's sort order (negatives ascending, -0.0
  * folded into +0.0, NaN last — matching Spark's sort semantics). The
  * classic sortable-double transform: flip all mantissa/exponent bits
  * for negatives so two's-complement comparison agrees with IEEE-754
  * ordering.
  *
  * This is the bucketing primitive for distributed selection
  * ([[graft.operators.PercentileOps]]): the key's top bits partition
  * the value space into contiguous, order-aligned buckets without any
  * data-dependent boundary choice — a pure per-row projection, so the
  * histogram pass stays map-side-partial and deterministic.
  *
  * No DuckDB twin is needed: the key only routes rows to buckets; the
  * values the caller finally emits are untouched doubles, so oracle
  * results never see it.
  */
case class DoubleSortKey(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[DoubleType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"double_sort_key requires a double argument, got ${child.dataType}")

  override def dataType: DataType = LongType
  override def prettyName: String = "double_sort_key"

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[Double]
    val bits = java.lang.Double.doubleToLongBits(if (v == 0.0) 0.0 else v)
    bits ^ ((bits >> 63) & Long.MaxValue)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val bits = ctx.freshName("bits")
      s"""
         |long $bits = Double.doubleToLongBits(($c == 0.0) ? 0.0 : $c);
         |${ev.value} = $bits ^ (($bits >> 63) & Long.MAX_VALUE);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): DoubleSortKey =
    copy(child = newChild)
}
