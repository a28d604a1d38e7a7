package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The fused hashed-shingle-set expression vs the composed
  * array_distinct(transform(shingles3(tokens), hex60)) chain it
  * replaced — must be equal ELEMENT FOR ELEMENT (same values, same
  * first-occurrence order), on both codegen paths, for n=3 and the
  * spanFrac n=5 shape including the short-document empty-array
  * contract.
  */
class HashedShingleSetSpec extends AnyFunSuite with SparkSessionTestWrapper {
  import spark.implicits._

  // the composed reference formulation (the pre-r11 shape)
  private def composed3(tokens: org.apache.spark.sql.Column) =
    array_distinct(transform(
      array_distinct(transform(sequence(lit(1), size(tokens) - 2), i =>
        concat(element_at(tokens, i), lit(" "),
          element_at(tokens, i + 1), lit(" "),
          element_at(tokens, i + 2)))),
      s => conv(substring(md5(s), 1, 15), 16, 10).cast("long")))

  private val texts = Seq(
    "a b c d e",
    "a a a a a a",                      // duplicate shingles collapse
    "x y z",                            // exactly n tokens
    "repeat one repeat one repeat one repeat one",
    "uniç ødé 日本 語 😀 tokens here",
    "a b c a b c a b c",               // wrap-around duplicates
    "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12")

  test("equals the composed chain element-for-element, codegen and interpreted") {
    val df = texts.toDF("text")
      .select(split(col("text"), " ").as("tokens"))
      .filter(size(col("tokens")) >= 3)
    onBothEvalPaths { path =>
      val rows = df.select(
        graft.ops.DedupOps.hashedShingles(col("tokens"), 3).as("fused"),
        composed3(col("tokens")).as("ref")).collect()
      assert(rows.length === texts.size)
      rows.foreach(r => assert(r.getSeq[Long](0) === r.getSeq[Long](1), s"$path row=$r"))
    }
  }

  test("n=5: short documents yield the empty array (the spanFrac guard contract)") {
    val got = Seq("a b c d", "a b c d e", "").toDF("text")
      .select(split(col("text"), " ").as("tokens"))
      .select(graft.ops.DedupOps.hashedShingles(col("tokens"), 5).as("g"))
      .collect().map(_.getSeq[Long](0))
    assert(got(0).isEmpty)
    assert(got(1).size === 1)
    assert(got(1).head === Cols.hex60Scalar("a b c d e"))
    assert(got(2).isEmpty)
  }

  test("hash values are the hex60 of the space-joined shingle strings") {
    val got = Seq("t1 t2 t3 t4").toDF("text")
      .select(graft.ops.DedupOps.hashedShingles(split(col("text"), " "), 3).as("g"))
      .collect().head.getSeq[Long](0)
    assert(got === Seq(Cols.hex60Scalar("t1 t2 t3"), Cols.hex60Scalar("t2 t3 t4")))
  }

  test("null array propagates; non-string-array input fails analysis") {
    val gotNull = Seq((1, null.asInstanceOf[String])).toDF("id", "text")
      .select(graft.ops.DedupOps.hashedShingles(split(col("text"), " "), 3))
      .collect().head
    assert(gotNull.isNullAt(0))
    val e = intercept[Exception] {
      Seq(Seq(1L, 2L)).toDF("a")
        .select(graft.ops.DedupOps.hashedShingles(col("a"), 3)).collect()
    }
    assert(e.getMessage.toLowerCase.contains("graft_hashed_shingles") ||
      e.getMessage.toLowerCase.contains("datatype_mismatch"))
  }
}
