package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** The distinct hashed word-n-gram set of a token array —
  * `array_distinct(transform(shingles3(tokens), hex60))` fused into
  * ONE native pass. The composed form runs two interpreted
  * higher-order lambdas per document (HOFs evaluate interpreted AND
  * exclude their whole projection from codegen), builds every
  * space-joined n-gram as a fresh string, and then md5s it through
  * the conv/substring wrapper; this expression streams the digest
  * over the token BYTES directly (token bytes + 0x20 separators —
  * byte-identical input to md5, so the hash values are exactly
  * hex60(t_i || ' ' || ... || t_{i+n-1})) and dedups into the output
  * array in first-occurrence order — the same array the composed form
  * produced, element for element.
  *
  * Shorter-than-n token arrays yield the empty array (the composed
  * form's `WHERE len >= n` guard usually makes this unreachable; the
  * spanFrac caller relies on it). Null TOKENS must not occur (split()
  * output never contains them); a null token's shingles are skipped,
  * where the concat-based form null-propagated them into dropped
  * null elements — same surviving set.
  */
final case class HashedShingleSetExpr(child: Expression, n: Int)
    extends UnaryExpression {

  require(n >= 1, s"shingle width must be >= 1, got $n")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "graft_hashed_shingles"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${other.catalogString}")
  }

  override def nullSafeEval(input: Any): Any =
    HashedShingleSetExpr.compute(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    // one static call — the projection stays inside whole-stage
    // codegen (the composed HOF form evicted it)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.HashedShingleSetExpr.compute($c, $n);")

  override protected def withNewChildInternal(
      newChild: Expression): HashedShingleSetExpr = copy(child = newChild)
}

object HashedShingleSetExpr {

  def compute(arr: ArrayData, n: Int): ArrayData = {
    val m = arr.numElements()
    if (m < n) return new GenericArrayData(Array.empty[Long])
    // token bytes extracted ONCE per document, reused by the n
    // overlapping shingles each token participates in
    val toks = new Array[Array[Byte]](m)
    var i = 0
    while (i < m) {
      val t = arr.getUTF8String(i)
      toks(i) = if (t == null) null else t.getBytes
      i += 1
    }
    val md = Hex60Expr.md5.get()
    val out = new Array[Long](m - n + 1)
    var nOut = 0
    val seen = new java.util.HashSet[java.lang.Long](((m - n + 1) * 4) / 3 + 1)
    i = 0
    while (i <= m - n) {
      var nullTok = false
      var j = 0
      while (j < n && !nullTok) {
        if (toks(i + j) == null) nullTok = true
        j += 1
      }
      if (!nullTok) {
        j = 0
        while (j < n) {
          if (j > 0) md.update(' '.toByte)
          md.update(toks(i + j))
          j += 1
        }
        val v = Hex60Expr.fold(md.digest()) // digest() resets the instance
        if (seen.add(v)) { out(nOut) = v; nOut += 1 }
      } else md.reset()
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, nOut))
  }
}
