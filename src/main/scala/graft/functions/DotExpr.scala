package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native dot product over exactly `dim` elements of two double-array
  * columns — the pair-scoring kernel of every similarity/dedup query.
  * One loop ([[DotExpr.dot]]) on both evaluation paths instead of the
  * dim-term unrolled expression tree the foldLeft formulation produced.
  *
  * IEEE contract (must match the oracle SQL's chains): acc starts at
  * 0.0 and adds a(i)*b(i) in ascending element order — the identical
  * operation sequence, so scores are bit-for-bit equal. An input
  * shorter than `dim` yields NULL, exactly like the oracle's a[i]
  * out-of-range access (a silent truncation would return a finite but
  * wrong score). Elements are assumed non-null per the embedding
  * schema contract.
  */
final case class DotExpr(left: Expression, right: Expression, dim: Int)
    extends BinaryExpression {

  // dim < 1 would make the loop a silent no-op returning 0.0 for
  // every row — reject at construction
  require(dim >= 1, s"dim must be >= 1, got $dim")

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_dot"

  // binding to a non-array / wrong-element-type column must fail at
  // analysis, not as a ClassCastException inside generated code
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<double>, array<double>), " +
          s"got (${l.catalogString}, ${r.catalogString})")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() < dim || y.numElements() < dim) null
    else DotExpr.dot(x, y, dim)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) =>
      s"""if ($x.numElements() < $dim || $y.numElements() < $dim) ${ev.isNull} = true;
         |else ${ev.value} = graft.functions.DotExpr.dot($x, $y, $dim);""".stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotExpr =
    copy(left = newLeft, right = newRight)
}

object DotExpr {

  /** The class doc's sum; both arrays hold at least `dim` elements. */
  def dot(x: ArrayData, y: ArrayData, dim: Int): Double = {
    var acc = 0.0
    var i = 0
    while (i < dim) {
      acc += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    acc
  }
}
