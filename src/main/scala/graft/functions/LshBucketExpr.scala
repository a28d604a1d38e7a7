package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Native Catalyst expression for the random-hyperplane LSH bucket id —
  * the one hot-path scalar where the built-in surface falls short:
  * higher-order functions (transform/aggregate) evaluate interpreted,
  * and unrolling 16 planes x 64 dims into literal expression trees
  * produced multi-MiB task binaries in round 1. This expression carries
  * the plane matrix as ONE referenced object for one two-level loop
  * ([[LshBucketExpr.bucket]]) that both evaluation paths call.
  *
  * IEEE contract (must match the oracle SQL's unrolled chains and
  * VectorFns.lshBucket): per plane, acc starts at 0.0 and adds
  * w(i)*a(i) in ascending element order — the identical operation
  * sequence, so buckets are bit-for-bit equal across all three
  * implementations.
  */
final case class LshBucketExpr(
    child: Expression,
    planes: Seq[Seq[Double]]) extends UnaryExpression {

  // an empty plane set would emit bucket 0 for EVERY vector, silently
  // collapsing the LSH candidate join into an all-pairs cross join —
  // fail at construction like DotExpr/SimHashExpr's width guards
  require(planes.nonEmpty, "graft_lsh_bucket needs at least one hyperplane")

  // planes is Seq[Seq[Double]], NOT Array[Array[Double]]: case-class
  // equality on arrays is reference-based, which would make two
  // semantically identical LshBucketExpr instances never compare equal
  // and silently defeat Catalyst canonicalization / subexpression
  // elimination. The kernel runs over this materialized array form.
  @transient private lazy val planeArr: Array[Array[Double]] =
    planes.iterator.map(_.toArray).toArray

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_lsh_bucket"

  // binding to a non-array / wrong-element-type column must fail at
  // analysis, not as a ClassCastException inside generated code
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<double>, got ${other.catalogString}")
    }

  private def dim: Int = planes.head.length

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    // a vector shorter than the plane width yields NULL, matching the
    // oracle's out-of-range a[i] access (reading past numElements()
    // throws on a GenericArrayData and reads garbage on an
    // UnsafeArrayData)
    if (arr.numElements() < dim) null
    else LshBucketExpr.bucket(arr, planeArr)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("lshPlanes", planeArr, "double[][]")
    nullSafeCodeGen(ctx, ev, arr =>
      s"""if ($arr.numElements() < $dim) ${ev.isNull} = true;
         |else ${ev.value} = graft.functions.LshBucketExpr.bucket($arr, $planesRef);""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): LshBucketExpr =
    copy(child = newChild)
}

object LshBucketExpr {

  /** Bit p set iff plane p's dot with `arr` is positive; `arr` is at least as wide as a plane. */
  def bucket(arr: ArrayData, planes: Array[Array[Double]]): Long = {
    var bucket = 0L
    var p = 0
    while (p < planes.length) {
      val w = planes(p)
      var acc = 0.0
      var i = 0
      while (i < w.length) {
        acc += w(i) * arr.getDouble(i)
        i += 1
      }
      if (acc > 0.0) bucket |= 1L << p
      p += 1
    }
    bucket
  }
}
