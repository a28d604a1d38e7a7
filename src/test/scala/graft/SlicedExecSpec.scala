package graft

import org.scalatest.funsuite.AnyFunSuite

/** A sliced run must reproduce its registry row EXACTLY — the whole
  * point of the protocol is that the DuckDB oracle replayed against a
  * sliced run certifies the registry relation. Each case runs the row
  * exactly as graft.VerifySliced does and compares it with the
  * registered query. The slice count deliberately does not divide
  * anything evenly here (3 slices over the fixture's key space) so
  * partial-sum and union-distinct identities are exercised across
  * ragged slices.
  */
class SlicedExecSpec extends AnyFunSuite with SparkSessionTestWrapper {

  private val dir = "/root/testdata/sf0.001"

  private def tmpScratch(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-sliced-$tag").toString

  private def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.mkString("|")).toSet

  private def multiset(df: org.apache.spark.sql.DataFrame): Map[String, Int] =
    df.collect().map(_.mkString("|")).groupBy(identity).map { case (r, rs) => r -> rs.length }

  /** Runs `name` as graft.VerifySliced does, at 3 slices, and returns
    * its rows alongside the registered query's. */
  private def slicedAndFull(name: String): (Set[String], Set[String]) = {
    val full = rows(SparkEntry.queries(name)(spark, dir))
    spark.catalog.clearCache()
    val scratch = tmpScratch(name)
    try (rows(VerifySliced.row(spark, dir, name, ops.DedupOps.Sliced(3, s"$scratch/p"))), full)
    finally spark.catalog.clearCache()
  }

  // The case names keep the sliced runs' former function names
  // (shingleCosineSliced, lshRecallSliced, allPairsSliced); each sliced
  // run is now its row's own body with a DedupOps.Sliced pair join.

  test("shingleCosineSliced reproduces dedup_shingle_cosine bit-for-bit") {
    val (sliced, full) = slicedAndFull("dedup_shingle_cosine")
    assert(sliced === full)
  }

  test("lshRecallSliced reproduces dedup_lsh_recall bit-for-bit") {
    val (sliced, full) = slicedAndFull("dedup_lsh_recall")
    assert(sliced === full)
  }

  test("allPairsSliced reproduces allPairsOver bit-for-bit") {
    // the dedup_allpairs registry row is allPairsOver(documents, 3, 5)
    // with its self-join in the plan
    val (sliced, full) = slicedAndFull("dedup_allpairs")
    assert(sliced === full)
  }

  test("sliced with an identity perSlice returns exactly its input") {
    // every key in exactly one slice: the union of the slices is the
    // input multiset — duplicates (k % 50 repeats keys) included
    val input = spark.range(0, 1000)
      .selectExpr("id % 50 AS k", "id AS v")
    Seq(1, 7).foreach { slices =>
      val scratch = tmpScratch(s"id$slices")
      val out = ops.DedupOps.sliced(input, "k", slices, s"$scratch/p")(identity)
      assert(multiset(out.select("k", "v")) === multiset(input), s"slices=$slices")
    }
  }

  test("sliced over more slices than keys, some slices yielding no rows, returns the exact multiset") {
    // 64 slices over 50 keys leave at least 14 slices with no input, and
    // the filter drops every odd key, so more slices write nothing
    val input = spark.range(0, 1000)
      .selectExpr("id % 50 AS k", "id AS v")
    val scratch = tmpScratch("empty")
    val out = ops.DedupOps.sliced(input, "k", 64, s"$scratch/p")(_.filter("k % 2 = 0"))
    assert(multiset(out.select("k", "v")) === multiset(input.filter("k % 2 = 0")))
  }
}
