package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/**
 * Native dot product over two numeric-array columns. The higher-order
 * `aggregate(zip_with(a, b, _*_), ...)` formulation is codegen'd but
 * materializes an intermediate array per ROW PAIR — on an n² near-dup
 * pass that is gigabytes of short-lived ArrayData garbage. This
 * expression loops directly over the two ArrayData buffers.
 *
 * Float inputs multiply in float then widen (matching what
 * `zip_with(a, b, (x, y) => x * y)` produces element-wise); double
 * inputs stay double. Accumulation is a left-to-right double sum, the
 * same order as `aggregate`'s sequential fold, so results are
 * bit-identical to the expression-tree form (and to the DuckDB oracle's
 * list_cosine_similarity numerator on double input).
 */
object VecKernel {
  def dotDouble(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a.getDouble(i) * b.getDouble(i); i += 1 }
    acc
  }

  def dotFloat(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += (a.getFloat(i) * b.getFloat(i)).toDouble; i += 1 }
    acc
  }
}

case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  private def isFloat: Boolean = left.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  override protected def nullSafeEval(a: Any, b: Any): Any =
    if (isFloat) VecKernel.dotFloat(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    else VecKernel.dotDouble(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = if (isFloat) "dotFloat" else "dotDouble"
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VecKernel.$m($a, $b)")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProduct =
    copy(left = l, right = r)
  override def prettyName: String = "vec_dot"
}

object VecExprs {
  def dot(a: Column, b: Column): Column =
    ColumnBridge.column(DotProduct(ColumnBridge.expression(a), ColumnBridge.expression(b)))
}
