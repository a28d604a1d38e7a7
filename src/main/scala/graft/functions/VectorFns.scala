package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Vector primitives over `embeddings.embedding` (ARRAY<FLOAT>, dim 64).
  *
  * Everything here must produce BIT-IDENTICAL doubles in Spark and in the
  * DuckDB oracle, so:
  *   - float elements are widened to double first (exact),
  *   - dot products / norms are explicit left-associated chains starting
  *     at 0.0 — the same IEEE operation sequence both engines evaluate —
  *     never a reduction whose association order an engine may choose,
  *   - random-hyperplane LSH weights are md5-derived doubles computed
  *     ONCE in Scala and inlined as literals into both the Spark plan
  *     and the oracle SQL text.
  *
  * The oracle SQL unrolls the chains to dim-64 expressions; the Spark
  * side runs them as native kernels ([[DotExpr]], [[LshBucketExpr]])
  * inside whole-stage codegen, so at scale this is a per-row map over
  * the scan with no shuffle.
  */
object VectorFns {

  val Dim = 64
  val Planes = 16

  /** md5(s) first 60 bits -> [0,1) -> signed [-1,1); same formula as
    * Cols.unitHash but evaluated at plan-build time.
    */
  def md5Signed(s: String): Double =
    graft.Cols.hex60Scalar(s) / 1.152921504606846976e18 * 2 - 1

  /** Random-hyperplane weights, w(plane)(dim), deterministic. */
  val planes: IndexedSeq[IndexedSeq[Double]] =
    (0 until Planes).map(p => (0 until Dim).map(d => md5Signed(s"$p,$d")))

  /** Exact float->double widening of an embedding column. An array CAST,
    * not a transform() lambda: element-wise semantics are identical, but
    * Cast stays inside whole-stage codegen while higher-order functions
    * evaluate interpreted AND exclude their whole projection from
    * codegen.
    */
  def toDouble(emb: Column): Column =
    emb.cast(org.apache.spark.sql.types.ArrayType(DoubleType))

  /** 0.0 + a[1]*b[1] + ... + a[64]*b[64], left-associated — one native
    * loop ([[DotExpr.dot]], called by both Spark evaluation paths)
    * evaluating the identical IEEE sequence the oracle's unrolled SQL
    * chain does.
    */
  def dot(a: Column, b: Column): Column = dotN(a, b, Dim)

  /** Dim-parameterized variant for subvector kernels (PQ subspaces):
    * same left-associated chain contract over the first `n` elements.
    */
  def dotN(a: Column, b: Column, n: Int): Column =
    org.apache.spark.sql.GraftColumnShim.column(DotExpr(
      org.apache.spark.sql.GraftColumnShim.expression(a),
      org.apache.spark.sql.GraftColumnShim.expression(b), n))

  def normSq(a: Column): Column = dot(a, a)

  /** cosine = dot / (sqrt(normSqA) * sqrt(normSqB)); pass precomputed
    * norms so each vector's norm is evaluated once per row, not per pair.
    */
  def cosine(dotAB: Column, normSqA: Column, normSqB: Column): Column =
    dotAB / (sqrt(normSqA) * sqrt(normSqB))

  /** 16-bit random-hyperplane LSH bucket id of a double-array embedding:
    * bit p set iff (0.0 + w(p,1)*a[1] + ...) > 0.
    *
    * Implemented as a native Catalyst expression ([[LshBucketExpr]])
    * whose one loop, [[LshBucketExpr.bucket]], both Spark evaluation
    * paths call: the HOF formulation evaluates interpreted, and the r1
    * unrolled-literal formulation produced multi-MiB task binaries.
    * Same IEEE operation sequence as the oracle's unrolled SQL chains.
    */
  def lshBucket(a: Column): Column =
    org.apache.spark.sql.GraftColumnShim.column(
      LshBucketExpr(
        org.apache.spark.sql.GraftColumnShim.expression(a), planes))

  /** The pre-expression HOF formulation (compact zip_with+aggregate
    * folds), kept as the comparison baseline for LshBucketExprSpec:
    * both must produce identical buckets on every fixture vector.
    */
  private[graft] def lshBucketHof(a: Column): Column =
    (0 until Planes).map { p =>
      val proj = aggregate(
        zip_with(typedLit(planes(p)), a, (w, x) => w * x),
        lit(0.0), (acc, x) => acc + x)
      when(proj > 0.0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _).cast(LongType)

  // ── DuckDB twins (SQL text over a double-list column) ─────────────

  /** Shortest round-trip decimal repr; DuckDB parses back to the same
    * IEEE double.
    */
  private def litSql(d: Double): String =
    // Locale.ROOT: the default-locale format would render whole values
    // as "-1,0" on comma-decimal locales and corrupt the oracle SQL
    if (d == Math.floor(d) && !d.isInfinite)
      String.format(java.util.Locale.ROOT, "%.1f", Double.box(d))
    else d.toString

  def sqlToDouble(emb: String): String =
    s"list_transform($emb, x -> CAST(x AS DOUBLE))"

  def sqlDot(a: String, b: String): String = sqlDotN(a, b, Dim)

  def sqlDotN(a: String, b: String, n: Int): String =
    (1 to n).map(i => s"$a[$i]*$b[$i]").mkString("(0.0 + ", " + ", ")")

  def sqlNormSq(a: String): String = sqlDot(a, a)

  def sqlCosine(dotAB: String, normSqA: String, normSqB: String): String =
    s"($dotAB / (sqrt($normSqA) * sqrt($normSqB)))"

  def sqlLshBucket(a: String): String =
    (0 until Planes).map { p =>
      val proj = (1 to Dim).map(i => s"(${litSql(planes(p)(i - 1))})*$a[$i]")
        .mkString("(0.0 + ", " + ", ")")
      s"(CASE WHEN $proj > 0.0 THEN ${1L << p} ELSE 0 END)"
    }.mkString("CAST((", " + ", ") AS BIGINT)")
}
