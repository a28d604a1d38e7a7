package graft

import graft.io.{JsonArraySource, JsonArraySplits}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.zip.GZIPOutputStream

/** The split JSON-array reader against Spark's own `multiLine` read of
  * the same file. Split sizes are forced down to a few bytes, and the
  * 1-byte size makes every byte offset a split boundary, so every entry
  * state (inside a string, after a backslash, mid-escape, inside a
  * multi-byte character, deep in a nested object) starts some split.
  */
class JsonArraySplitSpec extends AnyFunSuite with SparkSessionTestWrapper {

  private val root = Files.createTempDirectory("graft-json-split-spec")

  private def file(name: String, content: String): String = {
    val p = root.resolve(name)
    Files.write(p, content.getBytes(UTF_8))
    p.toString
  }

  private def multiLine(path: String, schema: Option[StructType]): DataFrame = {
    val r = spark.read.option("multiLine", value = true)
    schema.fold(r)(r.schema).json(path)
  }

  private def rows(df: DataFrame): Map[String, Int] =
    df.collect().toSeq.map(_.toString).groupBy(identity).map { case (k, v) => k -> v.size }

  private val wellFormed: Seq[(String, String)] = Seq(
    "pandas one-line" ->
      """[{"id":1,"name":"a","score":1.5,"tags":["x","y"]},{"id":2,"name":null,"score":2.0,"tags":[]},{"id":3,"name":"c","score":null}]""",
    "pretty-printed" ->
      """[
        |    {
        |        "id": 1,
        |        "name": "a",
        |        "score": 1.5
        |    },
        |    {
        |        "id": 2,
        |        "name": "b b",
        |        "score": -0.25
        |    }
        |]
        |""".stripMargin,
    "escaped quotes and backslash runs" ->
      """[{"id":1,"s":"a\"b"},{"id":2,"s":"\\"},{"id":3,"s":"\\\""},{"id":4,"s":"\\\\\\"},{"id":5,"s":"x\\\\\"}{\""}]""",
    "structure inside strings" ->
      """[{"id":1,"s":"},{"},{"id":2,"s":"[{\"id\":9}]"},{"id":3,"s":"]]]}}}"},{"id":4,"s":"{{{[[["}]""",
    "nested arrays of objects" ->
      """[{"id":1,"items":[{"a":1,"b":[{"c":2}]},{"a":3}]},{"id":2,"items":[]},{"id":3,"items":[{"a":4,"b":[]}]}]""",
    "unicode escapes and multi-byte characters" ->
      ("[{\"id\":1,\"s\":\"caf\\u00e9 \u00e9\u2603\u65e5\u672c \ud83d\ude00\"}," +
        "{\"id\":2,\"s\":\"\\ud83d\\ude00\\u2603\"},{\"id\":3,\"s\":\"q\\u0022\\u005c\"}]"),
    "CRLF, tabs and whitespace runs" ->
      "[\r\n\t{\"id\" :\t1 ,  \"s\":\"a\\tb\"}\r\n  ,\r\n\t\t{ \"id\":2,\"s\" : \"c\" }  \r\n\t]\r\n  \t",
    "bare NaN and infinities" ->
      """[{"id":1,"x":NaN},{"id":2,"x":1.5},{"id":3,"x":Infinity},{"id":4,"x":-Infinity}]""",
    "2-, 3- and 4-byte UTF-8 in keys and values" ->
      ("[{\"id\":1,\"\u00e9\":\"\u00e9\u00f1\",\"k\":\"\u20ac\u65e5\"}," +
        "{\"id\":2,\"k\":\"\ud83d\ude00x\ud83d\ude01\"}," +
        "{\"id\":3,\"\u00e9\":\"\u00f1\",\"k\":\"\u2603\ud83c\udf89\"}]"),
    "escaped surrogate pairs and bare NaN" ->
      ("[{\"id\":1,\"s\":\"\\ud83d\\ude00\",\"x\":NaN}," +
        "{\"id\":2,\"s\":\"a\\uD83C\\uDF89b\",\"x\":-1.5}," +
        "{\"id\":3,\"s\":\"\\ud83d\\ude00\\ud83d\\ude01\",\"x\":NaN}]"),
    "one object larger than several splits" ->
      s"""[{"id":1,"s":"a"},{"id":2,"big":"${"0123456789" * 12}","nest":{"k":[1,2,3]}},{"id":3,"s":"b"}]""")

  private val splitSizes = Seq(1L, 2L, 7L, 16L)

  wellFormed.zipWithIndex.foreach { case ((name, content), i) =>
    test(s"split read equals multiLine: $name") {
      val path = file(s"ok-$i.json", content)
      val inferred = multiLine(path, None).schema
      // an explicit schema in a column order inference would not give
      val schemas = Seq(None, Some(StructType(inferred.fields.reverse)))
      for (bytes <- splitSizes; schema <- schemas) withSplitBytes(bytes) {
        val clue = s"split size $bytes, schema $schema"
        val split = JsonArraySplits.read(spark, path, schema)
        assert(split.isDefined, s"fell back to multiLine at $clue")
        val expected = multiLine(path, schema)
        assert(split.get.schema === expected.schema, clue)
        assert(rows(split.get) === rows(expected), clue)
      }
    }
  }

  test("malformed or unsupported inputs fall back to multiLine") {
    val malformed = Seq(
      "[]", "[ ]", """{"id":1}""", """[{"id":1},{"id":2}""", """[{"id":1},{"id":tru}]""",
      """[1,2,3]""", """[{"id":1},2]""", """[{"id":1}{"id":2}]""", """[{"id":1},,{"id":2}]""",
      """[,{"id":1}]""", """[{"id":1},]""", """[{"id":1}] x""", """[{"id":1}][{"id":2}]""",
      """x[{"id":1}]""", """[{"id":1}]]""", """[{"id":1,"s":'a}'},{"id":2}]""",
      """[{"id":1,"s":"a"}}""", "\uFEFF[{\"id\":1},{\"id\":2}]",
      "[{\"id\":1,\"s\":\"raw\ttab\"},{\"id\":2}]")
    withSplitBytes(2) {
      malformed.zipWithIndex.foreach { case (content, i) =>
        val path = file(s"bad-$i.json", content)
        assert(JsonArraySplits.read(spark, path, None).isEmpty, content)
        assert(JsonArraySource(path).load(spark).schema === multiLine(path, None).schema, content)
      }
      val latin1 = root.resolve("latin1.json")
      Files.write(latin1, "[{\"id\":1,\"s\":\"café\"},{\"id\":2}]".getBytes("ISO-8859-1"))
      assert(JsonArraySplits.read(spark, latin1.toString, None).isEmpty, "not UTF-8")
      val gz = root.resolve("arr.json.gz")
      val out = new GZIPOutputStream(Files.newOutputStream(gz))
      try out.write("""[{"id":1},{"id":2},{"id":3}]""".getBytes(UTF_8)) finally out.close()
      assert(JsonArraySplits.read(spark, gz.toString, None).isEmpty, "compressed")
      assert(JsonArraySource(gz.toString).load(spark).count() === 3)
    }
    // default sizes: a small file is one split and keeps the multiLine read
    assert(JsonArraySplits.read(spark, file("one-split.json", """[{"id":1},{"id":2}]"""), None).isEmpty)
  }

  test("an invalid UTF-8 byte inside a string falls back to multiLine, with and without a schema") {
    val schema = StructType.fromDDL("id BIGINT, s STRING")
    val invalid = Seq(0xFF, 0x80, 0xC3).map(_.toByte)
    for ((bad, i) <- invalid.zipWithIndex) {
      val bytes = "[{\"id\":1,\"s\":\"a".getBytes(UTF_8) ++ Array(bad) ++
        "b\"},{\"id\":2,\"s\":\"c\"}]".getBytes(UTF_8)
      val p = root.resolve(s"not-utf8-$i.json")
      Files.write(p, bytes)
      for (bytes <- splitSizes; s <- Seq(None, Some(schema))) withSplitBytes(bytes) {
        val clue = f"byte 0x$bad%02X, split size $bytes, schema $s"
        assert(JsonArraySplits.read(spark, p.toString, s).isEmpty, clue)
        val got = JsonArraySource(p.toString, s).load(spark)
        val expected = multiLine(p.toString, s)
        assert(got.schema === expected.schema, clue)
        // without a schema the file reads as the corrupt-record column
        // alone, which Spark refuses to scan
        if (s.isDefined) assert(rows(got) === rows(expected), clue)
      }
    }
  }

  test("multi-byte characters across the 64 KiB chunk boundary") {
    // the first task of each pass starts at byte 0 and reads 64 KiB
    // chunks, so a character whose first byte is k bytes before 65536 is
    // cut in two by a chunk boundary. The file is about 206 kB: splits
    // of 70000 and 140000 bytes give three and two tasks, and the first
    // of them runs past that boundary
    val chars = Seq("\u00e9", "\u20ac", "\ud83d\ude00")
    for (c <- chars; k <- 1 until c.getBytes(UTF_8).length) {
      val head = "[{\"id\":0,\"s\":\""
      val pad = "a" * (65536 - head.length - k)
      val body = (1 to 5200).map(i => s"""{"id":$i,"s":"b$c$i"}""").mkString(",")
      val bytes = s"""$head$pad$c"},$body]""".getBytes(UTF_8)
      assert(new String(bytes, 65536 - k, c.getBytes(UTF_8).length, UTF_8) === c)
      val p = root.resolve(s"chunk-${c.codePointAt(0)}-$k.json")
      Files.write(p, bytes)
      val inferred = multiLine(p.toString, None).schema
      for (bytes <- Seq(70000L, 140000L);
           schema <- Seq(None, Some(StructType(inferred.fields.reverse)))) withSplitBytes(bytes) {
        val clue = s"char $c, $k bytes before the boundary, split size $bytes, schema $schema"
        val split = JsonArraySplits.read(spark, p.toString, schema)
        assert(split.isDefined, s"fell back to multiLine at $clue")
        val expected = multiLine(p.toString, schema)
        assert(split.get.schema === expected.schema, clue)
        assert(rows(split.get) === rows(expected), clue)
      }
    }
  }

  test("malformed input with an explicit schema falls back to multiLine") {
    // multiLine with a schema reads a malformed array as ONE all-null
    // row, while the records parsed one by one with that schema keep
    // the good ones (the last assert): the split read's inference
    // pass, which finds the corrupt record, keeps the two reads equal
    val schema = StructType.fromDDL("id BIGINT, ok BOOLEAN")
    val malformed = Seq(
      """[{"id": 1, "ok": true}, {"id": 2, "ok": tru}]""",
      """[{"id": 1, "ok": true}, {"id": 2, "ok": true}""")
    withSplitBytes(2) {
      malformed.zipWithIndex.foreach { case (content, i) =>
        val path = file(s"bad-schema-$i.json", content)
        assert(JsonArraySplits.read(spark, path, Some(schema)).isEmpty, content)
        val expected = multiLine(path, Some(schema))
        assert(rows(expected) === Map("[null,null]" -> 1), content)
        assert(rows(JsonArraySource(path, Some(schema)).load(spark)) === rows(expected), content)
      }
    }
    import spark.implicits._
    val perRecord = spark.read.schema(schema)
      .json(Seq("""{"id": 1, "ok": true}""", """{"id": 2, "ok": tru}""").toDS())
    assert(rows(perRecord) === Map("[1,true]" -> 1, "[null,null]" -> 1))
  }

  test("JsonArraySource reads a multi-split file through the split path") {
    val path = file("source.json", wellFormed.head._2)
    withSplitBytes(8) {
      val got = JsonArraySource(path).load(spark)
      assert(got.queryExecution.logical.toString.contains("LogicalRDD"), "split path not taken")
      // sized like Spark's scan of the file, so joins can still broadcast it
      assert(got.queryExecution.optimizedPlan.stats.sizeInBytes ===
        multiLine(path, None).queryExecution.optimizedPlan.stats.sizeInBytes)
      assert(rows(got) === rows(multiLine(path, None)))
    }
    assert(Paths.get(path).toFile.length() > 8)
  }
}
