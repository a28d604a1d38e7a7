package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native k-permutation MinHash signature over an array of shingle-hash
  * longs: element j of the result is
  * `min over h in child of (a(j) * (h mod p) + b(j)) mod p`.
  *
  * Semantically identical to the higher-order formulation
  * `array(array_min(transform(transform(sh, h -> h % p),
  * h -> (a_j*h + b_j) % p)) for j < k)` — the one the DuckDB oracle
  * still runs — but that shape costs k interpreted lambda passes and
  * k+1 intermediate arrays per row (Spark's higher-order functions do
  * not participate in codegen). This is ONE loop on both evaluation
  * paths ([[MinHashSigExpr.signature]]): each element is reduced mod p
  * once, then all k running minima update with two multiply-adds each.
  *
  * Inputs are 60-bit md5-derived hashes (non-negative), so `h % p` and
  * `(a*h' + b) % p` never see a negative operand and Java `%` matches
  * DuckDB's `%` exactly; the largest intermediate, max(a)·(p-1)+max(b),
  * must stay below 2^63 — callers guarantee that with p ≈ 1e9 and
  * a ≈ 1e7. An EMPTY input array yields NULL (the per-element
  * formulation yields an array of k nulls there; both encode "no
  * shingles" and neither can produce a band key, but the single-null
  * form never materializes nulls inside an array slot). A null input
  * yields null.
  */
final case class MinHashSigExpr(
    child: Expression, p: Long, a: Seq[Long], b: Seq[Long])
    extends UnaryExpression {

  require(a.nonEmpty && a.length == b.length,
    s"coefficient vectors must be non-empty and equal-length, got ${a.length}/${b.length}")
  // (max a)·(p-1) + max b must not overflow a signed 64-bit multiply-add
  require(a.forall(x => x > 0 && x <= Long.MaxValue / p) && b.forall(_ >= 0),
    s"coefficients must satisfy 0 < a <= ${Long.MaxValue / p} and b >= 0 for overflow-free mod-$p arithmetic")

  // the kernel's array forms of the (structurally compared) Seq fields
  @transient private lazy val aArr: Array[Long] = a.toArray
  @transient private lazy val bArr: Array[Long] = b.toArray

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true // empty input → null signature
  override def prettyName: String = "graft_minhash_sig"

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<bigint>, got ${other.catalogString}")
    }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    if (arr.numElements() == 0) null
    else MinHashSigExpr.signature(arr, p, aArr, bArr)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("minhashA", aArr, "long[]")
    val bRef = ctx.addReferenceObj("minhashB", bArr, "long[]")
    nullSafeCodeGen(ctx, ev, arr =>
      s"""if ($arr.numElements() == 0) ${ev.isNull} = true;
         |else ${ev.value} = graft.functions.MinHashSigExpr.signature($arr, ${p}L, $aRef, $bRef);""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSigExpr =
    copy(child = newChild)
}

object MinHashSigExpr {

  /** The class doc's signature of a non-empty `arr`. */
  def signature(arr: ArrayData, p: Long, a: Array[Long], b: Array[Long]): UnsafeArrayData = {
    val k = a.length
    val n = arr.numElements()
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = arr.getLong(i) % p
      var j = 0
      while (j < k) {
        val v = (a(j) * h + b(j)) % p
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(mins)
  }
}
