package graft

import graft.io._
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, date_format, input_file_name}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Round-trips every file-format source through real files, and runs a
  * pipeline whose sides use two different formats (the point of the
  * RelationSource abstraction).
  */
class SourcesSpec extends AnyFunSuite with SparkSessionTestWrapper {

  private val root = Files.createTempDirectory("graft-sources-spec").toString

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("v", DoubleType),
    StructField("s", StringType)))

  private def sample = spark.createDataFrame(Seq(
    Row(1L, 1.5, "a"), Row(2L, null, "b"), Row(3L, 3.25, null)).asJava, schema)

  test("JSON array source parses a multiline array file with explicit schema") {
    Files.writeString(Paths.get(s"$root/arr.json"),
      """[
        |  {"id": 1, "v": 1.5, "s": "a"},
        |  {"id": 2, "s": "b"},
        |  {"id": 3, "v": 3.25}
        |]""".stripMargin)
    val got = JsonArraySource(s"$root/arr.json", Some(schema)).load(spark)
    assert(got.columns.toSeq === Seq("id", "v", "s")) // schema order kept
    assert(got.collect().map(_.toString).sorted === sample.collect().map(_.toString).sorted)
  }

  test("JSON lines source round-trips Spark's own json writer output") {
    sample.write.mode("overwrite").json(s"$root/lines")
    val got = JsonLinesSource(s"$root/lines", Some(schema)).load(spark)
    assert(got.collect().map(_.toString).sorted === sample.collect().map(_.toString).sorted)
  }

  test("CSV source round-trips the CsvSink's single-object output") {
    val (csv, nWritten) = CsvSink.writeSingleCsv(sample, s"$root/csvout", "data.csv")
    assert(csv.getFileName.toString === "data.csv")
    assert(nWritten === sample.count())
    val got = CsvSource(csv.toString, Some(schema)).load(spark)
    // CSV has no null-vs-missing distinction for strings: "" reads as null,
    // matching the sink's nullValue="" rendering
    assert(got.collect().map(_.toString).sorted === sample.collect().map(_.toString).sorted)
  }

  test("a zero-row frame lands as exactly the header line, counted 0") {
    sample.write.mode("overwrite").parquet(s"$root/csvempty_src")
    val empties = Seq(
      "empty local frame" -> spark.createDataFrame(Seq.empty[Row].asJava, schema),
      "empty filtered parquet scan" ->
        spark.read.parquet(s"$root/csvempty_src").filter(col("id") < 0L))
    for (((label, df), i) <- empties.zipWithIndex) {
      val destDir = s"$root/csvempty_$i"
      val (csv, nWritten) = CsvSink.writeSingleCsv(df, destDir, "empty.csv")
      assert(nWritten === 0L, label)
      assert(Files.readString(csv) === "id,v,s\n", label)
      val landed = Files.list(Paths.get(destDir)).iterator.asScala
        .map(_.getFileName.toString).toSeq
      assert(landed === Seq("empty.csv"), s"$label: $landed")
    }
  }

  test("a failed CSV write leaves no staging directory behind") {
    val destDir = s"$root/csvfail"
    val poisoned = sample.withColumn("boom",
      org.apache.spark.sql.functions.raise_error(
        org.apache.spark.sql.functions.lit("injected write failure")))
    intercept[Exception] {
      CsvSink.writeSingleCsv(poisoned, destDir, "never.csv")
    }
    val leftovers = Files.list(Paths.get(destDir)).iterator.asScala
      .map(_.getFileName.toString).toSeq
    assert(!leftovers.exists(_.startsWith(".spark-staging-")),
      s"staging dir survived a failed write: $leftovers")
    assert(!leftovers.contains("never.csv"), "failed write must not produce the target")
  }

  test("ORC source round-trips Spark's orc writer output") {
    sample.write.mode("overwrite").orc(s"$root/orc")
    val got = OrcSource(s"$root/orc").load(spark)
    assert(got.collect().map(_.toString).sorted === sample.collect().map(_.toString).sorted)
  }

  test("binary-file source reads media files as (path, length, content) rows") {
    Files.createDirectories(Paths.get(s"$root/media"))
    val bytesA = Array[Byte](0x42, 0x49, 0x4e, 0x00, -1, 127)
    Files.write(Paths.get(s"$root/media/a.bin"), bytesA)
    Files.write(Paths.get(s"$root/media/b.bin"), Array[Byte](1, 2, 3))
    val got = BinaryFileSource(s"$root/media/*.bin").load(spark)
    assert(got.columns.toSeq === Seq("path", "length", "content"))
    val rows = got.collect().map(r =>
      (r.getString(0).split('/').last, r.getLong(1), r.getAs[Array[Byte]](2).toSeq))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq === Seq("a.bin", "b.bin"))
    assert(rows(0)._2 === bytesA.length.toLong)
    assert(rows(0)._3 === bytesA.toSeq)
    // the ingested bytes feed the multimodal decode path unchanged
    import spark.implicits._
    val frames = graft.ops.MultimodalOps.decodeFrames(
      got.select(col("length").as("doc_id"), col("content"))
        .as[graft.ops.MultimodalOps.MediaRow], stride = 1)
    assert(frames.count() === 2) // both payloads < 16 bytes -> 1 frame each
  }

  test("hive-partitioned layout: partition filters prune at the scan, not after it") {
    // the production layout for a date-partitioned 100 TB corpus:
    // dt=YYYY-MM-DD directories; a dt predicate must become a
    // PartitionFilter (directories never listed), NOT a data filter
    // (files read then discarded)
    val dir = s"$root/partitioned-events"
    Tables.load(spark, "/root/testdata/sf0.001", "events")
      .withColumn("dt", date_format(col("ts"), "yyyy-MM-dd"))
      .write.mode("overwrite").partitionBy("dt").parquet(dir)
    // partition-column type inference reads dt back as DATE — cast for
    // the string comparisons below
    val days = spark.read.parquet(dir).select(col("dt").cast("string"))
      .distinct().orderBy("dt").collect().map(_.getString(0))
    assert(days.length > 1, "fixture must span multiple partitions")
    val day = days.head // derived from the written data, not hardcoded

    val pruned = spark.read.parquet(dir).filter(col("dt") === day)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(dt"),
      s"dt predicate did not become a partition filter:\n$plan")
    // the pruned scan must touch exactly one partition's files
    val scannedFiles = pruned.select(input_file_name()).distinct().collect()
    assert(scannedFiles.nonEmpty)
    assert(scannedFiles.forall(_.getString(0).contains(s"dt=$day")),
      "scan read files outside the selected partition")
  }

  test("JDBC source round-trips a real database and honors the partitioned-read knobs") {
    // Embedded Derby (in /opt/spark/jars) stands in for the reference's
    // MariaDB server (gule_test_job.py:82-94): the options map is the
    // same either way, only url/driver differ per deployment.
    System.setProperty("derby.system.home", "target/staging/derby")
    val base = JdbcOptions(
      url = "jdbc:derby:memory:graft_sources_spec;create=true",
      dbtable = "jdbc_rt",
      user = "app", password = "app",
      driver = "org.apache.derby.jdbc.EmbeddedDriver")
    // NOTE no createTableColumnTypes override: Spark's DerbyDialect maps
    // StringType to CLOB and writes string NULLs as setNull(CLOB), which
    // Derby refuses to coerce into a VARCHAR column — the dialect's own
    // mapping is the one that round-trips nulls.
    sample.write.format("jdbc").options(base.asMap).mode("overwrite").save()

    // whole-table scan (the reference's shape): values round-trip exactly
    val whole = JdbcSource(base).load(spark)
    assert(whole.collect().map(_.toString).sorted ===
      sample.collect().map(_.toString).sorted)
    assert(whole.rdd.getNumPartitions === 1)

    // partitioned scan: Spark must issue numPartitions range-bounded
    // queries — the knob that keeps a large enrichment table parallel
    val part = JdbcSource(base.copy(
      partitionColumn = Some("id"), lowerBound = Some(0L),
      upperBound = Some(4L), numPartitions = Some(4))).load(spark)
    assert(part.rdd.getNumPartitions === 4)
    // bounds set the stride, never filter: all rows survive
    assert(part.collect().map(_.toString).sorted ===
      sample.collect().map(_.toString).sorted)
  }

  test("JDBC source pushes predicates into the database (PushedFilters in the scan)") {
    // the other production knob beyond partitioned reads: a filter on
    // the JDBC DataFrame must reach the generated SQL's WHERE clause
    // (advertised as PushedFilters on the scan node), so a large
    // enrichment table streams only matching rows over the wire
    System.setProperty("derby.system.home", "target/staging/derby")
    val base = JdbcOptions(
      url = "jdbc:derby:memory:graft_sources_push;create=true",
      dbtable = "jdbc_push",
      user = "app", password = "app",
      driver = "org.apache.derby.jdbc.EmbeddedDriver")
    sample.write.format("jdbc").options(base.asMap).mode("overwrite").save()
    val filtered = JdbcSource(base).load(spark).filter(col("v") > 2.0)
    val plan = filtered.queryExecution.executedPlan.toString.toLowerCase
    assert(plan.contains("pushedfilters:") && plan.contains("greaterthan(v,2.0)"),
      s"predicate not pushed into the JDBC scan:\n$plan")
    assert(filtered.collect().map(_.getLong(0)) === Array(3L))
  }

  test("MySQL dialect: the reference's JDBC shape resolves and maps MySQL-specific types") {
    // The reference's enrichment database is MariaDB reached over the
    // MYSQL wire protocol (reference common_settings.json:13 names
    // org.mariadb.jdbc.Driver; gule_test_job.py:84 sets
    // connection_type="mysql", and data.tf:19 builds a
    // jdbc:<dbtype>:// url) — so the dialect Spark selects for that
    // url shape is MySQLDialect. A live server is unreachable offline;
    // what IS testable is the dialect's type-mapping surface — the
    // MySQL-specific shapes (UNSIGNED promotion, TINYINT width,
    // BIT(n)) that a Derby-backed proof can't touch. These pins are
    // exactly what `spark.read.format("jdbc")` (JdbcSource's load
    // path) consults when it builds the scan schema from the remote
    // ResultSet metadata.
    import org.apache.spark.sql.jdbc.JdbcDialects
    import java.sql.Types
    val d = JdbcDialects.get("jdbc:mysql://db:3306/enrich")
    assert(d.getClass.getName === "org.apache.spark.sql.jdbc.MySQLDialect")

    def signed = new MetadataBuilder().putBoolean("isSigned", true)
    def unsigned = new MetadataBuilder().putBoolean("isSigned", false)
    // UNSIGNED promotion: the dialect consults the `isSigned` metadata
    // flag (populated from ResultSetMetaData.isSigned by the JDBC scan
    // schema builder — NOT the type-name string), and each unsigned
    // integer type must widen one tier, or values above the signed max
    // corrupt silently
    assert(d.getCatalystType(Types.TINYINT, "TINYINT", 3, signed) === Some(ByteType))
    assert(d.getCatalystType(Types.TINYINT, "TINYINT", 3, unsigned) === Some(ShortType))
    assert(d.getCatalystType(Types.SMALLINT, "SMALLINT", 5, signed) === Some(ShortType))
    assert(d.getCatalystType(Types.SMALLINT, "SMALLINT", 5, unsigned) === Some(IntegerType))
    // MEDIUMINT UNSIGNED fits in 32 bits — the one unsigned shape the
    // dialect keeps narrow (by type NAME: the driver reports it signed
    // at the wire level)
    assert(d.getCatalystType(Types.INTEGER, "MEDIUMINT UNSIGNED", 8,
      new MetadataBuilder()) === Some(IntegerType))
    // INT/BIGINT (signed and unsigned): the dialect DECLINES (None)
    // and Spark's default JDBC mapping applies, which promotes by the
    // ResultSet's isSigned flag (INT UNSIGNED->LongType, BIGINT
    // UNSIGNED->Decimal(20,0)) — pinning the decline documents where
    // that promotion happens so a dialect change can't silently
    // reroute it
    assert(d.getCatalystType(Types.INTEGER, "INT UNSIGNED", 10, unsigned) === None)
    assert(d.getCatalystType(Types.BIGINT, "BIGINT UNSIGNED", 20, unsigned) === None)
    // TINYINT(1): the MySQL driver reports it as Types.BIT typeName
    // "TINYINT"; the dialect declines single-bit shapes and the
    // default BIT->BooleanType mapping produces the boolean column
    assert(d.getCatalystType(Types.BIT, "TINYINT", 1, new MetadataBuilder()) === None)
    // BIT(n>1) arrives as Types.BIT or (MariaDB driver) VARBINARY with
    // typeName "BIT": binary payload, tagged `binarylong` so the write
    // path can round-trip it (LongType only under the legacy conf)
    val bitMd = new MetadataBuilder()
    assert(d.getCatalystType(Types.VARBINARY, "BIT", 8, bitMd) === Some(BinaryType))
    assert(bitMd.build().getLong("binarylong") === 1L)
    assert(d.getCatalystType(Types.BIT, "BIT", 8, new MetadataBuilder()) === Some(BinaryType))
    // DATETIME (no session zone in MySQL) honors the reader's NTZ
    // preference through metadata; TIMESTAMP (zone-normalized on the
    // server) is always the instant type
    assert(d.getCatalystType(Types.TIMESTAMP, "DATETIME", 19,
      new MetadataBuilder().putBoolean("isTimestampNTZ", false)) === Some(TimestampType))
    assert(d.getCatalystType(Types.TIMESTAMP, "DATETIME", 19,
      new MetadataBuilder().putBoolean("isTimestampNTZ", true)) === Some(TimestampNTZType))
    assert(d.getCatalystType(Types.TIMESTAMP, "TIMESTAMP", 19,
      new MetadataBuilder()) === Some(TimestampType))
  }

  test("MySQL dialect: write-side DDL type mapping (getJDBCType)") {
    // The inverse path of the read-side pins above: when the pipeline
    // WRITES a frame back to the reference's MySQL-protocol database
    // (df.write.format(\"jdbc\")), CREATE TABLE column types come from
    // the dialect's getJDBCType. Pin the MySQL-specific choices so a
    // dialect change can't silently produce a lossy DDL:
    import org.apache.spark.sql.jdbc.JdbcDialects
    import java.sql.Types
    val d = JdbcDialects.get("jdbc:mysql://db:3306/enrich")

    def ddl(t: DataType): Option[(String, Int)] =
      d.getJDBCType(t).map(j => (j.databaseTypeDefinition, j.jdbcNullType))
    // Strings must be LONGTEXT (unbounded) — MySQL's default TEXT caps
    // at 64 KiB and would truncate document-scale payloads
    assert(ddl(StringType) === Some(("LONGTEXT", Types.LONGVARCHAR)))
    // Instant timestamps -> TIMESTAMP (server-zone-normalized);
    // wall-clock NTZ -> DATETIME (MySQL's zoneless type) — swapping
    // these corrupts every value by the session-zone offset
    assert(ddl(TimestampType) === Some(("TIMESTAMP", Types.TIMESTAMP)))
    assert(ddl(TimestampNTZType) === Some(("DATETIME", Types.TIMESTAMP)))
    // Booleans -> BIT(1), the shape the read-side TINYINT(1)/BIT pin
    // above maps back to BooleanType — a lossless round trip
    assert(ddl(BooleanType) === Some(("BIT(1)", Types.BIT)))
    // REAL is a DOUBLE synonym in MySQL by default (no REAL_AS_FLOAT):
    // the dialect must emit FLOAT for FloatType or precision silently
    // doubles on write and narrows on read-back
    assert(ddl(FloatType) === Some(("FLOAT", Types.FLOAT)))
    assert(ddl(DoubleType) === Some(("DOUBLE PRECISION", Types.DOUBLE)))
    // Binary payloads (the multimodal column) -> BLOB
    assert(ddl(BinaryType) === Some(("BLOB", Types.BLOB)))
    assert(ddl(ByteType) === Some(("TINYINT", Types.TINYINT)))
  }

  test("pipeline runs with mixed source formats (jsonl primary, orc secondary)") {
    sample.write.mode("overwrite").json(s"$root/p-lines")
    val sec = spark.createDataFrame(Seq(
      Row(2L, 22.0, "filled"), Row(9L, 99.0, "unmatched")).asJava, schema)
    sec.write.mode("overwrite").orc(s"$root/s-orc")
    val spec = Pipeline.PipelineSpec(
      primary = JsonLinesSource(s"$root/p-lines", Some(schema)),
      secondary = OrcSource(s"$root/s-orc"),
      destDir = s"$root/mixed-out")
    val notifier = new RecordingNotifier
    val r = Pipeline.run(spark, spec, notifier)
    assert(r.isRight)
    assert(r.toOption.get.mergedRows === 3)
    assert(r.toOption.get.unmatchedRows === 1)
    val merged = spark.read.option("header", value = true)
      .csv(s"$root/mixed-out/merged.csv").collect()
      .map(r => r.getAs[String]("id") -> r.getAs[String]("v")).toMap
    assert(merged("2") === "22.0") // null primary filled from the ORC side
  }
}
