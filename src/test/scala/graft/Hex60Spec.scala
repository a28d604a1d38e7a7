package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

/** The native hex60 expression vs the composed
  * conv(substring(md5(c), 1, 15), 16, 10) formulation it replaced —
  * the two must be bit-for-bit equal on every input (the DuckDB twin
  * is pinned to the composed form). Also pins scalar-twin agreement
  * (Cols.hex60Scalar) and null propagation.
  */
class Hex60Spec extends AnyFunSuite with SparkSessionTestWrapper {
  import spark.implicits._

  private def composed(c: org.apache.spark.sql.Column) =
    conv(substring(md5(c), 1, 15), 16, 10).cast(LongType)

  private val samples = Seq(
    "", "a", "hello world", "the quick brown fox",
    "uniçødé 日本語 😀",
    "0", "-1", "cms3|token", "w2|tok", " leading", "trailing ",
    "a b c d e f g h i j k l m n o p q r s t u v w x y z",
    "x" * 1000)

  test("equals the composed conv/substring/md5 formulation, codegen and interpreted") {
    // non-foldable source: concat with a range-derived suffix so the
    // optimizer cannot constant-fold either side
    val df = spark.range(samples.size.toLong)
      .select(concat(
        element_at(typedlit(samples), col("id").cast("int") + 1),
        col("id").cast("string")).as("s"))
    onBothEvalPaths { path =>
      val rows = df.select(Cols.hex60(col("s")).as("fast"),
        composed(col("s")).as("ref")).collect()
      assert(rows.length === samples.size)
      rows.foreach(r => assert(r.getLong(0) === r.getLong(1), s"$path row=$r"))
    }
  }

  test("agrees with the scalar twin hex60Scalar") {
    val got = samples.toDF("s").select(Cols.hex60(col("s"))).collect().map(_.getLong(0))
    assert(got.toSeq === samples.map(Cols.hex60Scalar))
  }

  test("null input propagates; non-negative range") {
    val got = Seq(Some("x"), None).toDF("s")
      .select(Cols.hex60(col("s"))).collect()
    assert(!got(0).isNullAt(0) && got(0).getLong(0) >= 0L &&
      got(0).getLong(0) < (1L << 60))
    assert(got(1).isNullAt(0))
  }

  test("numeric input takes the same implicit string cast the composed form took") {
    val df = spark.range(5).select(col("id"))
    val rows = df.select(Cols.hex60(col("id")).as("fast"),
      composed(col("id").cast("string")).as("ref")).collect()
    rows.foreach(r => assert(r.getLong(0) === r.getLong(1), s"row=$r"))
  }
}
