package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Codegen'd dot product of two array<double> columns.
  *
  * The built-in route — `aggregate(zip_with(a, b, _*_), 0d, _+_)` — runs as
  * interpreted HigherOrderFunction lambdas (~µs per ELEMENT); for similarity
  * search that put vector math at 100+ seconds for a 5k×5 corpus×query scan.
  * This expression is a tight loop over the ArrayData ([[ArrayDot.dot]],
  * called from whole-stage codegen), ~1000× cheaper, and the building block
  * for cosine similarity and random-hyperplane LSH projections (dot against
  * a literal plane).
  *
  * Shorter input decides the iteration count; null arrays yield null
  * (BinaryExpression's default null-intolerant contract). Null elements are
  * treated as 0 — embeddings have none.
  */
case class ArrayDot(left: Expression, right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(DoubleType, _) => true
      case _                        => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_array_dot expects array<double> inputs, got ${left.dataType.sql} / ${right.dataType.sql}")
  }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "graft_array_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    ArrayDot.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.expressions.ArrayDot.dot($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): ArrayDot =
    copy(left = newLeft, right = newRight)
}

object ArrayDot {

  /** The kernel: the generated code calls it, and so does every driver-side
    * replay of a plan that scores with this expression, so both sum in the
    * same order. */
  def dot(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) s += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    s
  }
}
