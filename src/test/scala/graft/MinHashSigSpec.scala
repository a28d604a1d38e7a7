package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftColumnShim
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.MinHashSigExpr

/** MinHashSigExpr — the one-pass codegen replacement for the
  * k×(transform+array_min) signature formulation — must be value-
  * identical to that formulation, because the DuckDB oracle still runs
  * the per-permutation list_min shape: any divergence desyncs every
  * minhash-family CORRECTNESS row.
  */
class MinHashSigSpec extends AnyFunSuite with SparkSessionTestWrapper {

  private val P = 1000000007L
  private val K = 12
  private def A(j: Int): Long = 1000003L * j + 12345L
  private def B(j: Int): Long = 7919L * j + 271L

  private def native(c: Column): Column =
    GraftColumnShim.column(MinHashSigExpr(
      GraftColumnShim.expression(c), P, (0 until K).map(A), (0 until K).map(B)))

  /** The formulation the oracle runs (and the engine ran before the
    * native expression): k independent interpreted passes.
    */
  private def hof(c: Column): Column = {
    val hh = transform(c, h => h % lit(P))
    array((0 until K).map(j =>
      array_min(transform(hh, h => (lit(A(j)) * h + lit(B(j))) % lit(P)))): _*)
  }

  private def shingleHashes(dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("tokens"))
      .filter(size(col("tokens")) >= 3)
      .select(col("doc_id"),
        array_distinct(transform(col("tokens"), t => Cols.hex60(t))).as("hh"))

  test("native signature equals the k-pass HOF formulation on real shingle hashes") {
    val rows = shingleHashes("/root/testdata/sf0.001")
      .select(col("doc_id"), native(col("hh")).as("fast"), hof(col("hh")).as("slow"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2),
        s"signature mismatch for doc_id=${r.get(0)}")
    }
  }

  test("signatures match on adversarial synthetic inputs (0, p-1, p, large 60-bit)") {
    import spark.implicits._
    val data = Seq(
      Seq(0L),
      Seq(P - 1L),
      Seq(P),
      Seq((1L << 60) - 1L),
      Seq(0L, P - 1L, P, P + 1L, 123456789012345L, (1L << 60) - 1L)
    ).toDF("hh")
    onBothEvalPaths { path =>
      val rows = data
        .select(native(col("hh")).as("fast"), hof(col("hh")).as("slow"))
        .collect()
      assert(rows.length === 5)
      rows.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1), s"$path $r"))
    }
  }

  test("null input → null; empty input → null (no band key either way)") {
    import spark.implicits._
    val df = Seq(
      (1L, Some(Seq(42L))),
      (2L, Some(Seq.empty[Long])),
      (3L, None)
    ).toDF("id", "hh")
    onBothEvalPaths { path =>
      val rows = df.select(col("id"), native(col("hh")).as("sig"))
        .orderBy("id").collect()
      assert(!rows(0).isNullAt(1), path)
      assert(rows(1).isNullAt(1), s"$path: empty array must yield a null signature")
      assert(rows(2).isNullAt(1), s"$path: null input must yield a null signature")
    }
  }

  test("interpreted eval agrees with codegen (both paths exercised)") {
    // the expression's own eval() on a literal, against a plan on each path
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, LongType}
    val in = new GenericArrayData(Array[Any](7L, 99999L, (1L << 59) + 17L))
    val e = MinHashSigExpr(
      Literal.create(in, ArrayType(LongType)), P, (0 until K).map(A), (0 until K).map(B))
    val interpreted = e.eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray().toSeq
    import spark.implicits._
    val df = Seq(Seq(7L, 99999L, (1L << 59) + 17L)).toDF("hh")
    onBothEvalPaths { path =>
      val viaPlan = df.select(native(col("hh"))).collect()(0).getSeq[Long](0)
      assert(interpreted == viaPlan, path)
    }
  }
}
