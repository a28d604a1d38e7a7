package graft

import org.scalatest.funsuite.AnyFunSuite

/** The sliced certification twins must reproduce their registry rows
  * EXACTLY — the whole point of the protocol is that the DuckDB oracle
  * replayed against a sliced run certifies the registry relation. The
  * slice count deliberately does not divide anything evenly here
  * (3 slices over the fixture's key space) so partial-sum and
  * union-distinct identities are exercised across ragged slices.
  */
class SlicedExecSpec extends AnyFunSuite with SparkSessionTestWrapper {

  private val dir = "/root/testdata/sf0.001"

  private def tmpScratch(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-sliced-$tag").toString

  private def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.mkString("|")).toSet

  test("shingleCosineSliced reproduces dedup_shingle_cosine bit-for-bit") {
    val full = SparkEntry.queries("dedup_shingle_cosine")(spark, dir)
    val scratch = tmpScratch("cos")
    try {
      val sliced = ops.DedupOps.shingleCosineSliced(spark, dir, 3, s"$scratch/p")
      assert(rows(sliced) === rows(full))
    } finally spark.catalog.clearCache()
  }

  test("lshRecallSliced reproduces dedup_lsh_recall bit-for-bit") {
    val full = SparkEntry.queries("dedup_lsh_recall")(spark, dir)
    val scratch = tmpScratch("lshr")
    try {
      val sliced = ops.DedupOps.lshRecallSliced(spark, dir, 3, s"$scratch/p")
      assert(rows(sliced) === rows(full))
    } finally spark.catalog.clearCache()
  }

  test("sliced with an identity perSlice returns exactly its input") {
    // every key in exactly one slice: the union of the slices is the
    // input multiset — duplicates (k % 50 repeats keys) included
    val input = spark.range(0, 1000)
      .selectExpr("id % 50 AS k", "id AS v")
    def multiset(df: org.apache.spark.sql.DataFrame): Map[String, Int] =
      df.collect().map(_.mkString("|")).groupBy(identity).map { case (r, rs) => r -> rs.length }
    Seq(1, 7).foreach { slices =>
      val scratch = tmpScratch(s"id$slices")
      val out = ops.DedupOps.sliced(input, "k", slices, s"$scratch/p")(identity)
      assert(multiset(out.select("k", "v")) === multiset(input), s"slices=$slices")
    }
  }

  test("allPairsSliced reproduces allPairsOver bit-for-bit") {
    val docs = Tables.load(spark, dir, "documents")
    val full = ops.DedupOps.allPairsOver(docs, 3, 5)
    val scratch = tmpScratch("ap")
    try {
      val sliced = ops.DedupOps.allPairsSliced(spark, docs, 3, 5, 3, s"$scratch/p")
      assert(rows(sliced) === rows(full))
    } finally spark.catalog.clearCache()
  }
}
