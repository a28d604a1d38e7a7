package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** First 60 bits of md5(x) as a non-negative long — the engine's
  * universal hashing primitive (shingle/token/band/bucket keys), as
  * ONE digest-to-long step. The composed formulation
  * `conv(substring(md5(c), 1, 15), 16, 10)` pays, per row, a 32-char
  * hex ENCODE of the digest, a substring copy, a base-16 string
  * PARSE, and a long cast — four allocations and two parses around
  * 16 bytes of actual hashing; at tens of millions of hashes per
  * dedup query that wrapper was a measurable slice of every scan
  * stage. Here the digest's first 8 bytes fold big-endian and drop
  * the low nibble (the first 15 hex chars ARE the first 7.5 bytes), so
  * the value is bit-for-bit the composed formulation's and the DuckDB
  * twin [[graft.OracleSql.hex60]] is unaffected (Hex60Spec pins
  * equivalence on both evaluation paths). The companion's digest and
  * fold are the engine's one md5-to-60-bit implementation:
  * [[graft.Cols.hex60Scalar]] and [[HashedShingleSetExpr]] use them.
  */
final case class Hex60Expr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_hex60"

  // strict: non-string callers go through Cols.hex60, which inserts
  // the explicit string cast (ImplicitCastInputTypes is unavailable
  // outside the sql package — AbstractDataType is private[sql])
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${other.catalogString}")
  }

  override def nullSafeEval(input: Any): Any =
    Hex60Expr.hash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    // the companion's static forwarder is directly callable from the
    // generated Java — no reference object, no boxing
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.Hex60Expr.hash($c);")

  override protected def withNewChildInternal(newChild: Expression): Hex60Expr =
    copy(child = newChild)
}

object Hex60Expr {

  /** Each thread's MD5 digest, shared by every hex60 in the engine. A
    * caller that streams bytes in with `update` ends with `digest()`,
    * which resets it for the next caller.
    */
  private[graft] val md5: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  /** An md5 digest's first 15 hex chars as a value in [0, 2^60): its
    * first 8 bytes big-endian with the low nibble dropped.
    */
  private[graft] def fold(d: Array[Byte]): Long = {
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v >>> 4
  }

  /** hex60 of a string's UTF-8 bytes. */
  def hash(s: UTF8String): Long = fold(md5.get().digest(s.getBytes))
}
