package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The scalar JVM digest (Cols.hex60Scalar) must stay bit-identical to
  * the hex60 Column chain it twins — the contract its consumer
  * (VectorFns plane weights) depends on.
  */
class ColsSpec extends AnyFunSuite with SparkSessionTestWrapper {

  test("hex60Scalar equals the hex60 column chain on corpus tokens and edge strings") {
    import spark.implicits._
    // deterministic 200-token sample, limited BEFORE the collect
    val tokens = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(explode(split(col("text"), " ")).as("s"))
      .as[String].distinct().orderBy("s").limit(200).collect().toSeq
    val edges = Seq("", "a", "w2|x", "cms0|the", "0", " ", "héllo", "é中")
    val all = (tokens ++ edges).distinct
    val viaColumn = all.toDF("s")
      .select(col("s"), Cols.hex60(col("s")).as("h"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    all.foreach { s =>
      assert(Cols.hex60Scalar(s) === viaColumn(s), s"hex60 twins diverge on '$s'")
    }
  }
}
