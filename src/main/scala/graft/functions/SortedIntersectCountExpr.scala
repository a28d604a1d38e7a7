package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** |A ∩ B| of two ASCENDING-SORTED distinct long-array columns as a
  * single merge scan — the pair-verification kernel of the similarity
  * joins (All-Pairs `n_inter`, the triangle count's per-edge common-
  * neighbor count). `size(array_intersect(a, b))` pays, per ROW, an
  * OpenHashSet build over one side plus a materialized result array
  * that only gets counted and thrown away; candidate-pair relations
  * run this millions of times per query, so the constant factor is the
  * stage. The merge scan ([[SortedIntersectCountExpr.intersectCount]],
  * on both evaluation paths) is two cursors over primitive longs — no
  * allocation, no hashing.
  *
  * CONTRACT: both inputs ascending-sorted with distinct elements
  * (`sort_array` over an `array_distinct` output). On unsorted input
  * the count is silently wrong — callers own the sort, placed in the
  * per-document projection UNDER the pair join so it runs once per doc
  * side, not once per candidate pair. Element nulls must not occur
  * (the hashed-shingle / adjacency relations are built from non-null
  * generators; `containsNull` alone can't gate this — a nullable
  * hash expression marks its transform() output containsNull=true
  * even though it never yields null); array nulls propagate like
  * every binary expression.
  */
final case class SortedIntersectCountExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_sorted_intersect_count"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<bigint>, array<bigint>), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    SortedIntersectCountExpr.intersectCount(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) =>
      s"${ev.value} = graft.functions.SortedIntersectCountExpr.intersectCount($x, $y);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCountExpr =
    copy(left = newLeft, right = newRight)
}

object SortedIntersectCountExpr {

  def intersectCount(x: ArrayData, y: ArrayData): Long = {
    val nx = x.numElements()
    val ny = y.numElements()
    var i = 0
    var j = 0
    var n = 0L
    while (i < nx && j < ny) {
      val xv = x.getLong(i)
      val yv = y.getLong(j)
      if (xv == yv) { n += 1L; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    n
  }
}
