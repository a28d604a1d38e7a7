package graft

import graft.io.{JdbcOptions, JdbcSource, JsonArraySource, ParquetSource}
import graft.ops.MergeOps
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.zip.GZIPOutputStream
import scala.jdk.CollectionConverters._

/** End-to-end tests of the reference pipeline's control flow
  * (SURVEY.md §2 O3/O16/O17/O18): JSON in, merge, unmatched report,
  * single-object CSV out, per-stage fail-fast routing, non-fatal
  * notifier failures.
  */
class PipelineSpec extends AnyFunSuite with SparkSessionTestWrapper {

  private val root = Files.createTempDirectory("graft-pipeline-spec").toString

  private def writeJson(name: String, content: String): String = {
    val p = Paths.get(root, name)
    Files.writeString(p, content)
    p.toString
  }

  private val primaryJson = writeJson("primary.json",
    """[
      |  {"id": 1, "qty": 10.5, "note": "from-s3"},
      |  {"id": 2, "note": "no-qty"},
      |  {"id": 5, "qty": 50.0, "note": "unmatched-primary"}
      |]""".stripMargin)

  private def writeSecondary(name: String, rows: Seq[Row]): String = {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("qty", DoubleType),
      StructField("region", StringType)))
    val p = s"$root/$name.parquet"
    spark.createDataFrame(rows.asJava, schema).write.mode("overwrite").parquet(p)
    p
  }

  private val secondaryPath = writeSecondary("secondary", Seq(
    Row(1L, 111.0, "east"), Row(2L, 222.0, "west"),
    Row(7L, 777.0, "north"), Row(8L, 888.0, "south")))

  private def spec(destFile: String) = Pipeline.PipelineSpec(
    primary = JsonArraySource(primaryJson),
    secondary = ParquetSource(secondaryPath),
    destDir = s"$root/out",
    destFile = destFile)

  /** Runs on an empty cache; the run must leave no cached relation and
    * no persisted RDD behind.
    */
  private def runChecked(s: Pipeline.PipelineSpec, notifier: Notifier) = {
    spark.catalog.clearCache()
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    val result = Pipeline.run(spark, s, notifier)
    assert(spark.sharedState.cacheManager.isEmpty, s"run left a cached relation: $result")
    assert(spark.sparkContext.getPersistentRDDs.keySet.subsetOf(persisted),
      s"run left a persisted RDD: $result")
    result
  }

  test("happy path: merge, exact-name single CSV, success + unmatched notifications") {
    val notifier = new RecordingNotifier
    val result = runChecked(spec("merged.csv"), notifier)
    assert(result.isRight)
    val r = result.toOption.get
    assert(r.mergedRows === 3)
    assert(r.unmatchedRows === 2) // ids 7, 8
    val csv = Paths.get(s"$root/out/merged.csv")
    assert(Files.exists(csv), "CSV must exist under the exact requested key")
    val lines = Files.readAllLines(csv).asScala
    assert(lines.size === 4) // header + 3 rows
    assert(lines.head.split(",").contains("id"))
    assert(notifier.messages.exists(_.startsWith("Success")))
    val unmatched = notifier.messages.find(_.startsWith("Unmatched"))
    assert(unmatched.exists(m => m.contains("2") && m.contains("7") && m.contains("8")))
  }

  test("merged values follow S3-wins precedence through the CSV") {
    val notifier = new RecordingNotifier
    Pipeline.run(spark, spec("prec.csv"), notifier)
    val out = spark.read.option("header", value = true)
      .csv(s"$root/out/prec.csv").collect()
      .map(r => r.getAs[String]("id") -> r.getAs[String]("qty")).toMap
    assert(out("1") === "10.5")   // primary qty wins
    assert(out("2") === "222.0")  // missing primary qty filled from secondary
    assert(out("5") === "50.0")   // unmatched primary keeps its value
  }

  test("fail-fast: unreadable primary -> Left(read-primary) + error notification") {
    val notifier = new RecordingNotifier
    val bad = spec("x.csv").copy(primary = JsonArraySource(s"$root/nope.json"))
    val result = runChecked(bad, notifier)
    assert(result.left.toOption.map(_.stage).contains("read-primary"))
    assert(notifier.messages.exists(_.startsWith("Error: failed to read JSON")))
  }

  test("fail-fast: missing key column -> Left(validate-key) + error notification") {
    val noId = writeJson("noid.json", """[{"name": "x"}]""")
    val notifier = new RecordingNotifier
    val result = runChecked(spec("y.csv").copy(primary = JsonArraySource(noId)), notifier)
    assert(result.left.toOption.map(_.stage).contains("validate-key"))
    assert(notifier.messages.exists(_.contains("'id' column not found")))
  }

  test("a failing notifier is non-fatal (reference gule_test_job.py:195-199)") {
    val result = runChecked(spec("nofail.csv"), new FailingNotifier)
    assert(result.isRight)
    assert(Files.exists(Paths.get(s"$root/out/nofail.csv")))
  }

  test("fail-fast: blocked destination -> Left(write-csv), cache released") {
    val blocked = writeJson("blocked", "a plain file where the destination directory goes")
    val notifier = new RecordingNotifier
    val result = runChecked(spec("z.csv").copy(destDir = blocked), notifier)
    assert(result.left.toOption.map(_.stage).contains("write-csv"))
    assert(notifier.messages.exists(_.startsWith("Error: failed to write CSV z.csv")))
  }

  test("back-to-back runs (the tenant fan-out shape) leave no cache behind") {
    spark.catalog.clearCache()
    val first = Pipeline.run(spark, spec("fan1.csv"), new RecordingNotifier)
    val second = Pipeline.run(spark, spec("fan2.csv"), new RecordingNotifier)
    assert(first.map(_.mergedRows) === Right(3L))
    assert(second.map(_.mergedRows) === Right(3L))
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("an interrupt inside a notification is not swallowed, and the cache is released") {
    val interrupting = new Notifier {
      def notify(text: String): Unit = throw new InterruptedException("cancelled")
    }
    spark.catalog.clearCache()
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    intercept[InterruptedException](Pipeline.run(spark, spec("int.csv"), interrupting))
    assert(spark.sharedState.cacheManager.isEmpty)
    assert(spark.sparkContext.getPersistentRDDs.keySet.subsetOf(persisted))
  }

  // Malformed and unusual primaries, with file splits forced to 4 bytes
  // so that the split reader, and its fallback to multiLine, is what runs.
  private def runSmallSplits(name: String, content: Array[Byte]) = {
    val p = Paths.get(root, name)
    Files.write(p, content)
    val notifier = new RecordingNotifier
    val result = withSplitBytes(4) {
      runChecked(spec(s"$name.csv").copy(primary = JsonArraySource(p.toString)), notifier)
    }
    (p.toString, result, notifier.messages)
  }

  private def missingId(path: String) = Left(Pipeline.PipelineError("validate-key",
    s"IllegalArgumentException: requirement failed: Error: 'id' column not found in JSON $path data"))

  test("malformed primary with small splits: empty array, truncated array, bad literal") {
    for ((name, content) <- Seq(
        "empty.json" -> "[   \n\n   ]\n",
        "truncated.json" -> """[{"id": 1, "qty": 1.0}, {"id": 2, "qty": 2""",
        "literal.json" -> """[{"id": 1, "ok": true}, {"id": 2, "ok": tru}]""")) {
      val (path, result, messages) = runSmallSplits(name, content.getBytes(UTF_8))
      assert(result === missingId(path), name)
      assert(messages.exists(_.contains("'id' column not found")), name)
    }
  }

  test("a primary read in small splits lands the same CSV as a one-split read") {
    val (_, split, _) = runSmallSplits("split.json", Files.readAllBytes(Paths.get(primaryJson)))
    val whole = runChecked(spec("whole.csv"), new RecordingNotifier)
    assert(split.map(r => (r.mergedRows, r.unmatchedRows)) === Right((3L, 2L)))
    def lines(f: String) = Files.readAllLines(Paths.get(s"$root/out/$f")).asScala.sorted
    assert(lines("split.json.csv") === lines("whole.csv"))
  }

  test("top-level object or gzip primary with small splits reads as multiLine does") {
    val (_, obj, _) = runSmallSplits("object.json",
      """{"id": 2, "qty": 3.0, "note": "top-level object"}""".getBytes(UTF_8))
    assert(obj.map(r => (r.mergedRows, r.unmatchedRows)) === Right((1L, 3L)))
    val lines = Files.readAllLines(Paths.get(s"$root/out/object.json.csv")).asScala
    assert(lines === Seq("id,note,qty,region", "2,top-level object,3.0,west"))

    val gz = new java.io.ByteArrayOutputStream
    val zip = new GZIPOutputStream(gz)
    try zip.write(Files.readAllBytes(Paths.get(primaryJson))) finally zip.close()
    val (_, gzipped, _) = runSmallSplits("primary.json.gz", gz.toByteArray)
    assert(gzipped.map(r => (r.mergedRows, r.unmatchedRows)) === Right((3L, 2L)))
  }

  // Failure matrix of the merge's inputs. Each secondary outweighs its
  // primary in the planner's estimate, so the merge's semi-join
  // reduction is what runs.
  private def matrixSpec(name: String, primary: String, secondary: Seq[Row]) = {
    val s = spec("merged.csv").copy(
      primary = JsonArraySource(writeJson(s"$name.json", primary)),
      secondary = ParquetSource(writeSecondary(s"$name-secondary", secondary)),
      destDir = s"$root/matrix-$name")
    def size(df: org.apache.spark.sql.DataFrame) = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val (p, sec) = (s.primary.load(spark), s.secondary.load(spark))
    assert(size(sec) > size(p), s"$name: the secondary must be the larger input")
    s
  }

  /** The destination holds exactly `files`: nothing half-written, no staging left. */
  private def assertDest(s: Pipeline.PipelineSpec, files: Seq[String]) = {
    val dir = Paths.get(s.destDir)
    val found =
      if (!Files.exists(dir)) Nil
      else {
        val l = Files.list(dir)
        try l.iterator.asScala.map(_.getFileName.toString).toSeq.sorted finally l.close()
      }
    assert(found === files, s"destination ${s.destDir}")
  }

  private def csvLines(s: Pipeline.PipelineSpec) =
    Files.readAllLines(Paths.get(s.destDir, s.destFile)).asScala.toSeq

  private def ranReduced(s: Pipeline.PipelineSpec) = MergeReductionSpec.ranReduced(
    MergeOps.coalesceMerge(s.primary.load(spark), s.secondary.load(spark), s.key))

  test("failure matrix: an empty secondary lands every primary row unfilled") {
    val s = matrixSpec("empty-secondary", """[{"id": 1, "qty": 1.5}, {"id": 2}]""", Nil)
    assert(ranReduced(s))
    val notifier = new RecordingNotifier
    val result = runChecked(s, notifier)
    assert(result.map(r => (r.mergedRows, r.unmatchedRows)) === Right((2L, 0L)))
    assert(csvLines(s) === Seq("id,qty,region", "1,1.5,", "2,,"))
    assert(notifier.messages.size === 1 && notifier.messages.head.startsWith("Success"))
    assertDest(s, Seq("merged.csv"))
  }

  test("failure matrix: duplicate primary and secondary keys keep primary rows and the first match") {
    val s = matrixSpec("duplicate-keys",
      """[{"id": 1, "qty": null, "note": "a"}, {"id": 1, "qty": 5.0, "note": "b"},
        | {"id": 2, "note": "c"}, {"id": 2, "note": "c"}, {"id": 3, "note": "d"}]""".stripMargin,
      Seq(Row(1L, 30.0, "z"), Row(1L, 10.0, "y"), Row(1L, null, "a"),
        Row(2L, 7.0, "w"), Row(2L, 7.0, "v")) ++
        (10L to 60L).map(i => Row(i, i.toDouble, s"r$i")))
    assert(ranReduced(s))
    val notifier = new RecordingNotifier
    val result = runChecked(s, notifier)
    assert(result.map(r => (r.mergedRows, r.unmatchedRows)) === Right((5L, 51L)))
    assert(csvLines(s).head === "id,note,qty,region")
    assert(csvLines(s).tail.sorted ===
      Seq("1,a,10.0,y", "1,b,5.0,y", "2,c,7.0,v", "2,c,7.0,v", "3,d,,"))
    assert(notifier.messages.map(_.takeWhile(_ != ' ')) === Seq("Unmatched", "Success:"))
    assertDest(s, Seq("merged.csv"))
  }

  private val clashSecondary =
    Seq(Row(1L, 111.0, "east"), Row(2L, 222.0, "west")) ++
      (10L to 40L).map(i => Row(i, i.toDouble, s"r$i"))

  test("failure matrix: a string column meeting a double one is coalesced as text") {
    val s = matrixSpec("clash-numeric", """[{"id": 1, "qty": "10.5"}, {"id": 2, "qty": null}]""",
      clashSecondary)
    assert(ranReduced(s))
    val result = runChecked(s, new RecordingNotifier)
    assert(result.map(_.mergedRows) === Right(2L))
    assert(csvLines(s) === Seq("id,qty,region", "1,10.5,east", "2,222.0,west"))
    assertDest(s, Seq("merged.csv"))
  }

  test("failure matrix: a non-numeric string meeting a double column lands as text") {
    val s = matrixSpec("clash-text", """[{"id": 1, "qty": "n/a"}, {"id": 2, "qty": "2.0"}]""",
      clashSecondary)
    assert(ranReduced(s))
    val notifier = new RecordingNotifier
    val result = runChecked(s, notifier)
    assert(result.map(r => (r.mergedRows, r.unmatchedRows)) === Right((2L, 31L)))
    assert(csvLines(s) === Seq("id,qty,region", "1,n/a,east", "2,2.0,west"))
    assert(notifier.messages.map(_.takeWhile(_ != ' ')) === Seq("Unmatched", "Success:"))
    assertDest(s, Seq("merged.csv"))
  }

  test("failure matrix: a non-numeric string key meeting a numeric one is left unmatched") {
    val s = matrixSpec("key-text", """[{"id": "1", "qty": 1.5}, {"id": "x"}, {"id": "002"}]""",
      clashSecondary)
    assert(ranReduced(s))
    val notifier = new RecordingNotifier
    val result = runChecked(s, notifier)
    assert(result.map(r => (r.mergedRows, r.unmatchedRows)) === Right((3L, 31L)))
    assert(csvLines(s).head === "id,qty,region")
    assert(csvLines(s).tail.sorted === Seq("002,222.0,west", "1,1.5,east", "x,,"))
    assert(notifier.messages.map(_.takeWhile(_ != ' ')) === Seq("Unmatched", "Success:"))
    assert(notifier.messages.head.contains("records: 31; sample ids: 10, 11,"))
    assertDest(s, Seq("merged.csv"))
  }

  test("failure matrix: a shared column with no common type fails at plan-merge") {
    val s = matrixSpec("clash-boolean", """[{"id": 1, "qty": true}, {"id": 2, "qty": false}]""",
      clashSecondary)
    val notifier = new RecordingNotifier
    val result = runChecked(s, notifier)
    assert(result.left.toOption.map(_.stage).contains("plan-merge"))
    assert(notifier.messages.size === 1)
    assert(notifier.messages.head.startsWith("Error: failed to plan merge"))
    assertDest(s, Nil)
  }

  test("a JDBC secondary, whose size the planner cannot estimate, keeps the unreduced merge") {
    // The reference's RDS table: a JDBC relation has no statistics, so
    // its estimate is a placeholder and the semi-join reduction never runs.
    System.setProperty("derby.system.home", "target/staging/derby")
    val jdbc = JdbcOptions(
      url = "jdbc:derby:memory:graft_pipeline_spec;create=true",
      dbtable = "rds_secondary", user = "app", password = "app",
      driver = "org.apache.derby.jdbc.EmbeddedDriver")
    spark.read.parquet(secondaryPath).write.format("jdbc").options(jdbc.asMap)
      .mode("overwrite").save()
    val viaParquet = spec("merged.csv").copy(destDir = s"$root/jdbc-parquet")
    val viaJdbc = viaParquet.copy(secondary = JdbcSource(jdbc), destDir = s"$root/jdbc")
    assert(!MergeReductionSpec.hasSemiJoin(MergeOps.coalesceMerge(
      viaJdbc.primary.load(spark), viaJdbc.secondary.load(spark), viaJdbc.key)))
    val notifier = new RecordingNotifier
    val result = runChecked(viaJdbc, notifier)
    assert(result.map(r => (r.mergedRows, r.unmatchedRows)) === Right((3L, 2L)))
    assert(runChecked(viaParquet, new RecordingNotifier).isRight)
    assert(csvLines(viaJdbc).head === csvLines(viaParquet).head)
    assert(csvLines(viaJdbc).tail.sorted === csvLines(viaParquet).tail.sorted)
    assert(notifier.messages.exists(_.startsWith("Success")))
    assertDest(viaJdbc, Seq("merged.csv"))
  }

  test("quoted embedded newlines survive the CSV round trip and don't inflate counts") {
    // regression: the count stage used to re-read without multiLine,
    // splitting a quoted newline into an extra phantom record
    val nlJson = writeJson("newline.json",
      """[
        |  {"id": 1, "qty": 1.0, "note": "line one\nline two"},
        |  {"id": 2, "qty": 2.0, "note": "plain"}
        |]""".stripMargin)
    val notifier = new RecordingNotifier
    val result = Pipeline.run(spark,
      spec("newline.csv").copy(primary = JsonArraySource(nlJson)), notifier)
    assert(result.isRight)
    assert(result.toOption.get.mergedRows === 2,
      s"embedded newline split a record: ${result.toOption.get}")
    val back = spark.read.option("header", value = true).option("multiLine", value = true)
      .csv(s"$root/out/newline.csv").collect()
      .map(r => r.getAs[String]("id") -> r.getAs[String]("note")).toMap
    assert(back("1") === "line one\nline two")
  }
}
