package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Dot product of two array<double> columns as a tight primitive loop.
  *
  * Bit-identical to the declarative fold
  * `aggregate(zip_with(a,b,(x,y)=>x*y), 0.0, (acc,x)=>acc+x)` (and to the
  * DuckDB oracle's list_reduce — see [[EngineFns.sqlDot]]): same
  * left-to-right multiply/add order over IEEE doubles. The declarative
  * form allocates a zipped struct array and dispatches two interpreted
  * lambdas per element; this loop reads primitives straight out of the
  * ArrayData. Arrays must be equal length (embedding columns are).
  */
case class VecDot(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback {

  private def isDoubleArray(dt: DataType) = dt match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isDoubleArray(left.dataType) && isDoubleArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_dot requires two array<double> arguments, got ${left.dataType}, ${right.dataType}")

  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += x.getDouble(i) * y.getDouble(i); i += 1 }
    acc
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
}
