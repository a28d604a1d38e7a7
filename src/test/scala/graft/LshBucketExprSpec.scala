package graft

import graft.functions.VectorFns
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native codegen LshBucketExpr must agree bucket-for-bucket with
  * the interpreted higher-order-function formulation on every fixture
  * vector — same planes, same IEEE operation order.
  */
class LshBucketExprSpec extends AnyFunSuite with SparkSessionTestWrapper {

  test("native expression == HOF formulation on all fixture embeddings") {
    val emb = Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
      .select(col("vec_id"), VectorFns.toDouble(col("embedding")).as("emb"))
    val both = emb.select(
      col("vec_id"),
      VectorFns.lshBucket(col("emb")).as("native"),
      VectorFns.lshBucketHof(col("emb")).as("hof"))
    val mismatches = both.filter(col("native") =!= col("hof")).count()
    assert(mismatches === 0)
    // sanity: buckets spread across the 16-bit space, not constant
    assert(both.select("native").distinct().count() > 1)
  }

  test("lsh bucket and dot equal their reference formulations, codegen and interpreted") {
    import spark.implicits._
    val emb = col("emb")
    val rnd = new scala.util.Random(11)
    val vectors = Seq.fill(200)(Some(Seq.fill(VectorFns.Dim)(rnd.nextGaussian())))
    // a short vector and a null take each kernel's null guard
    val df = (vectors ++ Seq(Some(Seq(1.0, -2.0)), None)).toDF("emb")
    // the left-associated chain DotExpr replaced; an out-of-range
    // element is null, like the oracle's a[i]
    val chain = (1 to VectorFns.Dim).foldLeft(lit(0.0)) { (acc, i) =>
      acc + try_element_at(emb, lit(i)) * try_element_at(emb, lit(i)) }
    onBothEvalPaths { path =>
      val rows = df.select(VectorFns.lshBucket(emb), VectorFns.lshBucketHof(emb),
        VectorFns.dot(emb, emb), chain, coalesce(size(emb), lit(-1))).collect()
      val (wide, short) = rows.partition(_.getInt(4) >= VectorFns.Dim)
      assert(wide.length === 200 && short.length === 2, path)
      wide.foreach { r =>
        assert(r.getLong(0) === r.getLong(1), s"$path lsh $r")
        assert(r.getDouble(2) === r.getDouble(3), s"$path dot $r")
      }
      short.foreach(r =>
        assert(r.isNullAt(0) && r.isNullAt(2) && r.isNullAt(3), s"$path short $r"))
    }
  }

  test("the expression participates in whole-stage codegen") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select(VectorFns.lshBucket(VectorFns.toDouble(col("embedding"))).as("b"))
    // in executedPlan.toString a whole-stage-codegen member is starred:
    // "*(1) Project [graft_lsh_bucket(...)]"
    val plan = emb.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [graft_lsh_bucket"), s"projection not codegen'd:\n$plan")
  }

  test("null or too-short embedding yields null bucket (oracle out-of-range semantics)") {
    import spark.implicits._
    val full = (1 to VectorFns.Dim).map(_.toDouble)
    val df = Seq(Some(Seq(1.0, -2.0)), None, Some(full)).toDF("emb")
    val out = df.select(VectorFns.lshBucket(col("emb")).as("b")).collect()
    // short vector AND null input -> null; full-width vector -> a bucket
    assert(out.count(_.isNullAt(0)) === 2)
    assert(out.count(!_.isNullAt(0)) === 1)
  }

  test("too-short arrays yield null dot (oracle out-of-range semantics)") {
    import spark.implicits._
    val full = (1 to VectorFns.Dim).map(_.toDouble)
    val df = Seq((Seq(1.0, 2.0), full), (full, full)).toDF("a", "b")
    val out = df.select(VectorFns.dot(col("a"), col("b")).as("d")).collect()
    assert(out.count(_.isNullAt(0)) === 1)
    assert(out.count(!_.isNullAt(0)) === 1)
  }

  test("wrong input type fails at analysis, not inside generated code") {
    import spark.implicits._
    val df = Seq(("abc", Seq(1L, 2L))).toDF("s", "hh")
    val e1 = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(VectorFns.lshBucket(col("s"))).collect()
    }
    assert(e1.getMessage.contains("graft_lsh_bucket"))
    val e2 = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(VectorFns.dot(col("s"), col("s"))).collect()
    }
    assert(e2.getMessage.contains("graft_dot"))
    // a long-array where double-array is required is also a mismatch
    val e3 = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(VectorFns.lshBucket(col("hh"))).collect()
    }
    assert(e3.getMessage.contains("graft_lsh_bucket"))
  }

  test("semantically equal expressions canonicalize equal (plane matrix is structural)") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val child = Literal.create(Seq.fill(VectorFns.Dim)(0.5), ArrayType(DoubleType))
    // rebuild the plane matrix element by element: DISTINCT collection
    // instances with equal values. An Array-keyed case class compares
    // these by reference and would break Catalyst canonicalization /
    // subexpression elimination; the Seq-carried matrix is structural.
    val rebuilt = VectorFns.planes.map(_.map(identity))
    val ea = graft.functions.LshBucketExpr(child, VectorFns.planes)
    val eb = graft.functions.LshBucketExpr(child, rebuilt)
    assert(ea === eb)
    assert(ea.canonicalized === eb.canonicalized)
    assert(ea.semanticEquals(eb))
  }

  test("degenerate parameters are rejected at construction, not at runtime") {
    val e = intercept[IllegalArgumentException] {
      graft.functions.LshBucketExpr(
        org.apache.spark.sql.catalyst.expressions.Literal(1L), Nil)
    }
    assert(e.getMessage.contains("hyperplane"))
    val e2 = intercept[IllegalArgumentException] { new graft.functions.TopKAgg(0) }
    assert(e2.getMessage.contains("top-k size"))
  }
}
