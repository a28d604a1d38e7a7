package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native SimHash signature over an array of token-hash longs: bit b of
  * the result is set iff the sum over tokens of ((h >> b) & 1) * 2 - 1
  * is positive. Pure integer arithmetic — trivially engine-identical —
  * but the per-bit higher-order-aggregate formulation evaluated `bits`
  * interpreted passes over the token array per row; this is one
  * two-level loop ([[SimHashExpr.signature]]) on both evaluation paths.
  */
final case class SimHashExpr(child: Expression, bits: Int)
    extends UnaryExpression {

  // out-of-range values would wrap the 1L << b shift (b >= 64) or
  // blow up array allocation (b < 1) at RUNTIME per row — reject at
  // construction instead. 63 keeps the signature
  // positive-representable in an int64 sign bit away.
  require(bits >= 1 && bits <= 63, s"bits must be in [1, 63], got $bits")

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash"

  // binding to a non-array / wrong-element-type column must fail at
  // analysis, not as garbage values inside the kernel
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<bigint>, got ${other.catalogString}")
    }

  override def nullSafeEval(input: Any): Any =
    SimHashExpr.signature(input.asInstanceOf[ArrayData], bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr =>
      s"${ev.value} = graft.functions.SimHashExpr.signature($arr, $bits);")

  override protected def withNewChildInternal(newChild: Expression): SimHashExpr =
    copy(child = newChild)
}

object SimHashExpr {

  def signature(arr: ArrayData, bits: Int): Long = {
    val n = arr.numElements()
    val counts = new Array[Long](bits)
    var i = 0
    while (i < n) {
      val h = arr.getLong(i)
      var b = 0
      while (b < bits) {
        counts(b) += ((h >> b) & 1L) * 2L - 1L
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < bits) {
      if (counts(b) > 0L) sig |= 1L << b
      b += 1
    }
    sig
  }
}
