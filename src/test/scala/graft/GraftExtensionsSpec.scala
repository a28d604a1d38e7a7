package graft

import graft.functions.VectorFns
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The graft SQL functions registered through spark.sql.extensions
  * (GraftExtensions) must behave exactly like their Column-API twins —
  * same expressions, same codegen, reachable from pure SQL.
  */
class GraftExtensionsSpec extends AnyFunSuite with SparkSessionTestWrapper {

  test("graft_dot from SQL equals VectorFns.dot, including the dim guard") {
    val row = spark.sql(
      """SELECT graft_dot(array(1.0d, 2.0d, 3.0d), array(4.0d, 5.0d, 6.0d), 3) AS d,
        |       graft_dot(array(1.0d), array(1.0d), 3) AS short""".stripMargin)
      .collect().head
    assert(row.getDouble(0) === 32.0)
    assert(row.isNullAt(1)) // under-width input -> NULL, oracle semantics
  }

  test("graft_dot default dim matches the library constant") {
    import spark.implicits._
    val full = (1 to VectorFns.Dim).map(_ => 0.5)
    val df = Seq((full, full)).toDF("a", "b")
    df.createOrReplaceTempView("ext_vec")
    val sql = spark.sql("SELECT graft_dot(a, b) AS d FROM ext_vec").collect().head.getDouble(0)
    val api = df.select(VectorFns.dot(col("a"), col("b"))).collect().head.getDouble(0)
    assert(sql === api)
  }

  test("graft_simhash and graft_lsh_bucket from SQL equal the Column API") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id"), VectorFns.toDouble(col("embedding")).as("emb"))
    emb.createOrReplaceTempView("ext_emb")
    val viaSql = spark.sql(
      "SELECT vec_id, graft_lsh_bucket(emb) AS b FROM ext_emb")
    val viaApi = emb.select(col("vec_id"), VectorFns.lshBucket(col("emb")).as("b"))
    assert(viaSql.exceptAll(viaApi).count() === 0)
    assert(viaApi.exceptAll(viaSql).count() === 0)

    val sig = spark.sql("SELECT graft_simhash(array(7L, 7L, 7L)) AS s").collect().head.getLong(0)
    assert(sig === 7L) // all tokens vote the same bits
    val sig48 = spark.sql("SELECT graft_simhash(array(-1L), 48) AS s").collect().head.getLong(0)
    assert(sig48 === (1L << 48) - 1) // bits arg respected
  }

  test("graft_simhash equals the per-bit token vote, codegen and interpreted") {
    import spark.implicits._
    def vote(h: Seq[Long], bits: Int): Long =
      (0 until bits).filter(b => h.map(x => ((x >> b) & 1L) * 2L - 1L).sum > 0L)
        .map(1L << _).sum
    val rnd = new scala.util.Random(7)
    val inputs = Seq(Seq.empty[Long], Seq(-1L, 0L, Long.MinValue, Long.MaxValue)) ++
      (0 until 60).map(i => Seq.fill(i % 9 + 1)(rnd.nextLong()))
    inputs.toDF("h").createOrReplaceTempView("ext_simhash")
    onBothEvalPaths { path =>
      val rows = spark.sql(
        "SELECT h, graft_simhash(h) AS s60, graft_simhash(h, 48) AS s48 FROM ext_simhash")
        .collect()
      assert(rows.length === inputs.size)
      rows.foreach { r =>
        val h = r.getSeq[Long](0)
        assert(r.getLong(1) === vote(h, 60) && r.getLong(2) === vote(h, 48), s"$path h=$h")
      }
    }
  }

  test("graft_unit_hash from SQL equals Cols.unitHash and lands in [0,1)") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id").cast("string").as("k"))
    docs.createOrReplaceTempView("ext_docs")
    val viaSql = spark.sql("SELECT k, graft_unit_hash(k) AS u FROM ext_docs")
    val viaApi = docs.select(col("k"), Cols.unitHash(col("k")).as("u"))
    assert(viaSql.exceptAll(viaApi).count() === 0)
    assert(viaApi.exceptAll(viaSql).count() === 0)
    val bounds = viaSql.agg(min("u"), max("u")).collect().head
    assert(bounds.getDouble(0) >= 0.0 && bounds.getDouble(1) < 1.0)
  }

  test("non-literal or wrong-arity arguments fail with a named error") {
    val e = intercept[Exception] {
      spark.sql("SELECT graft_dot(array(1.0d), array(1.0d), CAST(id AS INT)) FROM range(1)")
        .collect()
    }
    assert(e.getMessage.contains("graft_dot"))
    val e2 = intercept[Exception] {
      spark.sql("SELECT graft_lsh_bucket(array(1.0d), 2)").collect()
    }
    assert(e2.getMessage.contains("graft_lsh_bucket"))
  }

  test("out-of-range width literals are rejected at construction, not per row") {
    // bits >= 64 would silently wrap the 1L << b shift; bits < 1 would
    // blow up allocation; dim < 1 would no-op to 0.0 — all must fail
    // before any row is evaluated
    val e = intercept[Exception] {
      spark.sql("SELECT graft_simhash(array(1L), 100)").collect()
    }
    assert(e.getMessage.contains("bits must be in [1, 63]"))
    val e2 = intercept[Exception] {
      spark.sql("SELECT graft_dot(array(1.0d), array(1.0d), -5)").collect()
    }
    assert(e2.getMessage.contains("dim must be >= 1"))
  }

  test("graft_shingles UDTF streams exactly the transform+explode n-gram rows") {
    Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .createOrReplaceTempView("ext_docs")
    val viaUdtf = spark.sql(
      """SELECT doc_id, s.pos, s.shingle
        |FROM ext_docs
        |LATERAL VIEW graft_shingles(split(text, ' '), 3) s AS pos, shingle""".stripMargin)
    // the array-building twin: 1-based transform positions -> pos = i - 1
    val viaTransform = spark.sql(
      """SELECT doc_id, i - 1 AS pos,
        |  concat(t[i - 1], ' ', t[i], ' ', t[i + 1]) AS shingle
        |FROM (SELECT doc_id, split(text, ' ') AS t FROM ext_docs)
        |LATERAL VIEW explode(sequence(1, size(t) - 2)) AS i
        |WHERE size(t) >= 3""".stripMargin)
    assert(viaUdtf.count() > 0)
    assert(viaUdtf.exceptAll(viaTransform).count() === 0)
    assert(viaTransform.exceptAll(viaUdtf).count() === 0)
    // short docs emit nothing, and per-doc row counts are m - n + 1
    val counts = viaUdtf.groupBy("doc_id").count()
    val expected = spark.sql(
      "SELECT doc_id, size(split(text, ' ')) - 2 AS c FROM ext_docs WHERE size(split(text, ' ')) >= 3")
    assert(counts.join(expected, "doc_id")
      .filter(org.apache.spark.sql.functions.col("count") =!=
        org.apache.spark.sql.functions.col("c")).count() === 0)
  }

  test("graft_shingles rejects non-string-array input at analysis time") {
    val e = intercept[Exception] {
      spark.sql("SELECT graft_shingles(array(1, 2, 3), 2)").collect()
    }
    assert(e.getMessage.contains("ARRAY<STRING>"))
  }
}
