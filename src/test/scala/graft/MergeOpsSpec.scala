package graft

import graft.ops.MergeOps
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Unit tests for the merge kernel's reference semantics (SURVEY.md §2
  * O6–O14): S3-wins cell precedence, NaN-as-missing, first-match
  * dedup, primary-row-count preservation, ordered projection, anti-join.
  */
class MergeOpsSpec extends AnyFunSuite with SparkSessionTestWrapper {

  private val pSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("score", DoubleType),
    StructField("tag", StringType)))

  private val sSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("score", DoubleType),
    StructField("extra", StringType)))

  private def df(schema: StructType, rows: Row*) =
    spark.createDataFrame(rows.asJava, schema)

  private def primary = df(pSchema,
    Row(1L, 10.0, "p1"),            // non-null primary -> primary wins
    Row(2L, null, "p2"),            // null primary -> secondary fills
    Row(3L, Double.NaN, "p3"),      // NaN primary counts as MISSING
    Row(4L, 40.0, "p4"),            // no secondary match -> extra is null
    Row(2L, 20.0, "p2b"))           // duplicate primary id: kept as its own row

  private def secondary = df(sSchema,
    Row(1L, 111.0, "s1"),
    Row(2L, 222.0, "s2"),
    Row(3L, 333.0, "s3"),
    Row(9L, 999.0, "s9"))           // unmatched secondary row

  test("primary row count is exactly preserved, incl. duplicate primary ids") {
    val out = MergeOps.coalesceMerge(primary, secondary, "id")
    assert(out.count() === primary.count())
  }

  test("cell precedence: primary wins when present; null and NaN cells are filled") {
    val out = MergeOps.coalesceMerge(primary, secondary, "id")
      .collect().map(r => (r.getLong(0), r.getString(2)) -> r).toMap
    assert(out((1L, "p1")).getDouble(1) === 10.0)   // primary non-null wins
    assert(out((2L, "p2")).getDouble(1) === 222.0)  // null filled from secondary
    assert(out((3L, "p3")).getDouble(1) === 333.0)  // NaN treated as missing
    assert(out((4L, "p4")).getDouble(1) === 40.0)   // no match keeps primary
    assert(out((4L, "p4")).isNullAt(3))             // secondary-only col null
    assert(out((2L, "p2b")).getDouble(1) === 20.0)  // dup primary id independent
  }

  test("column order: primary columns in order, then secondary-only tail") {
    val out = MergeOps.coalesceMerge(primary, secondary, "id")
    assert(out.columns.toSeq === Seq("id", "score", "tag", "extra"))
  }

  test("first match is deterministic: min by remaining columns in schema order") {
    val dup = df(sSchema,
      Row(1L, 5.0, "zz"),
      Row(1L, 5.0, "aa"),   // same score, smaller extra -> not first (score ties, 'aa' < 'zz')
      Row(1L, 2.0, "mm"))   // smallest score -> the deterministic first
    val first = MergeOps.firstMatch(dup, "id").collect()
    assert(first.length === 1)
    assert(first.head.getDouble(1) === 2.0 && first.head.getString(2) === "mm")
  }

  test("duplicate secondary keys never multiply output rows") {
    val dup = secondary.union(secondary)
    val out = MergeOps.coalesceMerge(primary, dup, "id")
    assert(out.count() === primary.count())
  }

  test("requireKey fails fast with the reference's message shape") {
    val noId = df(StructType(Seq(StructField("x", LongType))), Row(1L))
    val e = intercept[IllegalArgumentException] {
      MergeOps.requireKey(noId, "id", "S3")
    }
    assert(e.getMessage.contains("'id' column not found in S3 data"))
  }

  test("unmatched returns exactly the secondary rows whose key is absent") {
    val un = MergeOps.unmatched(secondary, primary, "id").collect()
    assert(un.map(_.getLong(0)).toSeq === Seq(9L))
  }

  test("reportSample returns the head-N keys and the true total") {
    val many = df(sSchema, (100L to 120L).map(i => Row(i, 1.0, "x")): _*)
    val (sample, total) = MergeOps.reportSample(many, "id", 10)
    assert(total === 21L)
    assert(sample === (100L to 109L))
  }

  test("reportSample's one action gives what a count plus a sample gave") {
    def twoActions(d: DataFrame, key: String, n: Int): (Seq[Any], Long) =
      (d.select(col(key)).orderBy(col(key)).limit(n).collect().map(_.get(0)).toIndexedSeq,
        d.count())
    val strSchema = StructType(Seq(StructField("k", StringType), StructField("v", IntegerType)))
    val many = df(sSchema, (120L to 100L by -1L).map(i => Row(i, 1.0, "x")): _*).repartition(3)
    val inputs: Seq[(String, DataFrame, String)] = Seq(
      ("empty relation", df(sSchema), "id"),
      ("empty after a filter", many.filter(col("id") < 0), "id"),
      ("fewer than n rows", many.filter(col("id") < 104), "id"),
      ("more than n rows", many, "id"),
      ("null keys", df(sSchema, Row(null, 1.0, "a"), Row(5L, 2.0, "b"), Row(null, 3.0, "c"),
        Row(3L, 4.0, "d")), "id"),
      ("string keys", df(strSchema, Seq("b", "a", "é", "B", "aa", null).zipWithIndex
        .map { case (k, i) => Row(k, i) }: _*).repartition(2), "k"),
      ("an unmatched anti-join", MergeOps.unmatched(secondary, primary, "id"), "id"))
    for ((name, d, key) <- inputs; n <- Seq(1, 10))
      assert(MergeOps.reportSample(d, key, n) === twoActions(d, key, n), s"$name, n=$n")
  }

  test("a shared column that is text on one side only is coalesced as text, either way round") {
    def schema(t: DataType) = StructType(Seq(StructField("id", LongType), StructField("v", t)))
    def merged(p: DataFrame, s: DataFrame) = {
      val out = MergeOps.coalesceMerge(p, s, "id")
      assert(out.schema("v").dataType === StringType)
      out.collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    }
    // string primary against a double secondary holding a NaN and a value
    assert(merged(
      df(schema(StringType), Row(1L, null), Row(2L, null), Row(3L, "n/a")),
      df(schema(DoubleType), Row(1L, Double.NaN), Row(2L, 222.0), Row(3L, 333.0))) ===
      Map(1L -> None, 2L -> Some("222.0"), 3L -> Some("n/a")))
    // a double primary holding a NaN against a string secondary
    assert(merged(
      df(schema(DoubleType), Row(1L, Double.NaN), Row(2L, Double.NaN), Row(3L, 10.5)),
      df(schema(StringType), Row(1L, null), Row(2L, "n/a"), Row(3L, "x"))) ===
      Map(1L -> None, 2L -> Some("n/a"), 3L -> Some("10.5")))
  }

  test("nanToNull leaves non-float columns untouched and nulls NaNs") {
    val out = MergeOps.nanToNull(primary).collect()
      .map(r => (r.getLong(0), r.getString(2)) -> r).toMap
    assert(out((3L, "p3")).isNullAt(1))
    assert(out((1L, "p1")).getDouble(1) === 10.0)
  }
}
