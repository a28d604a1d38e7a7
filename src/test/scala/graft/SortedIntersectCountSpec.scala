package graft

import graft.functions.SortedIntersectCountExpr
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.prop.TableDrivenPropertyChecks

/** The sorted-merge intersection-count kernel that replaced
  * size(array_intersect) in the All-Pairs verification and triangle
  * stages. Pins: (1) equivalence with array_intersect counting on
  * sorted distinct arrays across generated cases, on BOTH the codegen
  * and interpreted paths; (2) null array propagation; (3) analysis-time
  * rejection of non-long-array inputs; (4) the expression stays inside
  * whole-stage codegen (no fallback marker in the executed plan).
  */
class SortedIntersectCountSpec extends AnyFunSuite with SparkSessionTestWrapper
    with TableDrivenPropertyChecks {
  import spark.implicits._

  private def cnt(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    org.apache.spark.sql.GraftColumnShim.column(SortedIntersectCountExpr(
      org.apache.spark.sql.GraftColumnShim.expression(a),
      org.apache.spark.sql.GraftColumnShim.expression(b)))

  test("equals size(array_intersect) on sorted distinct arrays, codegen and interpreted") {
    // deterministic pseudo-random distinct sorted sets of varied sizes,
    // overlap shapes: disjoint, identical, subset, interleaved, empty
    def set(seed: Long, n: Int): Seq[Long] = {
      var x = seed | 1L
      (0 until n).map { _ =>
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17; math.abs(x) % 1000
      }.distinct.sorted.map(_.toLong)
    }
    val cases = (for {
      i <- 0 until 12
      j <- 0 until 12
    } yield (set(i * 7 + 1, i * 13 % 40), set(j * 11 + 5, j * 17 % 40))) ++ Seq(
      (Seq.empty[Long], Seq.empty[Long]),
      (Seq(1L, 2L, 3L), Seq.empty[Long]),
      (Seq(1L, 2L, 3L), Seq(1L, 2L, 3L)),
      (Seq(Long.MinValue, 0L, Long.MaxValue), Seq(Long.MinValue, Long.MaxValue)))
    val df = cases.toDF("a", "b")
    onBothEvalPaths { path =>
      val got = df.select(
        cnt(col("a"), col("b")).as("merge"),
        size(array_intersect(col("a"), col("b"))).cast("long").as("ref"))
        .collect()
      assert(got.length === cases.size)
      got.zip(cases).foreach { case (r, (a, b)) =>
        assert(r.getLong(0) === r.getLong(1), s"$path a=$a b=$b")
      }
    }
  }

  test("null arrays propagate to null") {
    val df = Seq(
      (Some(Seq(1L, 2L)), None: Option[Seq[Long]]),
      (None: Option[Seq[Long]], Some(Seq(1L, 2L))),
      (Some(Seq(1L, 2L)), Some(Seq(2L, 3L)))).toDF("a", "b")
    val got = df.select(cnt(col("a"), col("b"))).collect().map(r =>
      if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(got.toSeq === Seq(None, None, Some(1L)))
  }

  test("non-long-array inputs fail at analysis, not at runtime") {
    val df = Seq((Seq("x"), Seq(1L))).toDF("a", "b")
    val e = intercept[Exception](df.select(cnt(col("a"), col("b"))).collect())
    assert(e.getMessage.toLowerCase.contains("graft_sorted_intersect_count") ||
      e.getMessage.toLowerCase.contains("datatype_mismatch"),
      s"unexpected error: ${e.getMessage}")
  }

  test("stays inside whole-stage codegen") {
    // arrays derived from a range scan: non-foldable, so the projection
    // must actually run (a literal input constant-folds to a
    // LocalTableScan and proves nothing about codegen membership)
    val df = spark.range(4)
      .select(array(col("id"), col("id") + 2).as("a"),
        array(col("id") + 1, col("id") + 2).as("b"))
      .select(cnt(col("a"), col("b")).as("n"))
    assert(df.as[Long].collect().toSeq === Seq(1L, 1L, 1L, 1L))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), s"projection fell out of codegen:\n$plan")
  }
}
