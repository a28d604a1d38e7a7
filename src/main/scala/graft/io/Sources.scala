package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Input abstraction for the reference pipeline (SURVEY.md §2 O3/O4).
  *
  * The reference reads its primary from an S3 JSON object
  * (`gule_test_job.py:54-72`) and its secondary from a MySQL table over
  * JDBC (`gule_test_job.py:82-94`). Both are behind one trait so the
  * pipeline logic is source-agnostic. The JDBC path is proven against a
  * REAL database fully offline: embedded Derby (in /opt/spark/jars)
  * backs both the `q_jdbc_mirror` oracle row
  * ([[graft.ops.PipelineQueries.runJdbcMirror]]) and SourcesSpec's
  * partitioned-read integration test — only url/driver differ from the
  * reference's MariaDB deployment.
  *
  * Format coverage: parquet, JSON array, JSONL, CSV and ORC are
  * implemented below. Avro is EXCLUDED by environment, not by design:
  * `spark.read.format("avro")` lives in the external `spark-avro`
  * module, which is absent from `/opt/spark/jars` (only the avro-core
  * runtime jars ship there) and unresolvable offline — adding an
  * `AvroSource` here would fail at runtime with "Failed to find data
  * source: avro". In a normal deployment, add
  * `org.apache.spark:spark-avro_2.13` matching the Spark version and an
  * `AvroSource(path)` becomes a four-line sibling of [[OrcSource]].
  */
trait RelationSource {
  def load(spark: SparkSession): DataFrame
  /** Human-readable label used in notification texts. */
  def describe: String
}

/** A single JSON file containing one top-level ARRAY of objects — the
  * reference's S3 payload shape (pandas `orient='records'`,
  * `gule_test_job.py:61`). A file larger than one of Spark's file splits
  * is parsed split by split in parallel ([[JsonArraySplits]]); a
  * one-split file, and any input the split reader does not take as-is,
  * goes through Spark's `multiLine` mode (the file parsed as one value,
  * in one task). Both give the same columns, types and rows.
  *
  * @param schema optional explicit schema. The reference preserves the
  *   JSON file's own column order (`gule_test_job.py:64-67`); Spark's
  *   schema inference returns fields alphabetically, so callers that
  *   care about column order (the merge's ordered projection, O12) pass
  *   the schema explicitly. Inference is the fallback for exploratory
  *   use.
  */
final case class JsonArraySource(path: String, schema: Option[StructType] = None)
    extends RelationSource {
  def load(spark: SparkSession): DataFrame =
    JsonArraySplits.read(spark, path, schema).getOrElse {
      val r = spark.read.option("multiLine", value = true)
      schema.fold(r)(r.schema).json(path)
    }
  def describe: String = s"JSON $path"
}

/** Parquet directory/file source (fixture tables; also the stand-in for
  * the JDBC side in offline tests).
  */
final case class ParquetSource(path: String) extends RelationSource {
  def load(spark: SparkSession): DataFrame = spark.read.parquet(path)
  def describe: String = s"parquet $path"
}

/** Newline-delimited JSON (one object per line — Spark's native JSON
  * layout, the shape distributed writers produce; contrast
  * [[JsonArraySource]], the reference's one-object-array payload).
  */
final case class JsonLinesSource(path: String, schema: Option[StructType] = None)
    extends RelationSource {
  def load(spark: SparkSession): DataFrame = {
    val r = spark.read
    schema.fold(r)(r.schema).json(path)
  }
  def describe: String = s"jsonl $path"
}

/** Headered CSV source. Pass a schema for exact types (header names are
  * matched by position after the header row is skipped); without one,
  * inference reads the file twice and types conservatively.
  */
final case class CsvSource(path: String, schema: Option[StructType] = None)
    extends RelationSource {
  def load(spark: SparkSession): DataFrame = {
    val r = spark.read.option("header", value = true)
    schema.fold(r.option("inferSchema", value = true))(r.schema).csv(path)
  }
  def describe: String = s"csv $path"
}

/** ORC source — the other columnar format Spark ships a vectorized
  * reader for; included so a reference user with ORC-resident tables
  * can switch without a format migration.
  */
final case class OrcSource(path: String) extends RelationSource {
  def load(spark: SparkSession): DataFrame = spark.read.orc(path)
  def describe: String = s"orc $path"
}

/** Opaque media files (images/audio/video) as rows — the ingestion
  * face of the multimodal tier ([[graft.ops.MultimodalOps]]): each
  * matched file becomes one row of (path, length, content BINARY),
  * ready for the partition-parallel decode path. Built on Spark's
  * `binaryFile` format, so predicate pushdown on path/length and the
  * `pathGlobFilter` option apply before any bytes are read.
  * modificationTime is dropped: it is environment-dependent and would
  * make otherwise-identical corpora compare unequal.
  */
final case class BinaryFileSource(pathGlob: String) extends RelationSource {
  def load(spark: SparkSession): DataFrame =
    spark.read.format("binaryFile").load(pathGlob)
      .select("path", "length", "content")
  def describe: String = s"binary $pathGlob"
}

/** Whole-table JDBC scan, options-driven — the reference's enrichment
  * input (`gule_test_job.py:82-94`; URL template `data.tf:17-21`,
  * driver jar `common_settings.json:12-15`).
  *
  * The reference reads the table in ONE partition (no partitioning
  * options) and then collects it to the driver. Here the scan stays
  * distributed: when `partitionColumn` is set, Spark issues
  * `numPartitions` range-bounded queries in parallel — the knob that
  * matters when the enrichment table is large.
  */
final case class JdbcOptions(
    url: String,
    dbtable: String,
    user: String,
    password: String,
    driver: String = "org.mariadb.jdbc.Driver",
    partitionColumn: Option[String] = None,
    lowerBound: Option[Long] = None,
    upperBound: Option[Long] = None,
    numPartitions: Option[Int] = None,
    fetchSize: Int = 10000) {

  // the case-class toString would print the credential verbatim into
  // any log/assertion/exception message interpolating this value;
  // Spark's own option redaction covers only its plan output
  override def toString: String =
    s"JdbcOptions($url, $dbtable, $user, <redacted>, $driver, " +
      s"$partitionColumn, $lowerBound, $upperBound, $numPartitions, $fetchSize)"

  /** The option map handed to `spark.read.format("jdbc")`. Partitioning
    * options are all-or-nothing: Spark requires
    * partitionColumn/lowerBound/upperBound/numPartitions together.
    */
  def asMap: Map[String, String] = {
    val base = Map(
      "url" -> url,
      "dbtable" -> dbtable,
      "user" -> user,
      "password" -> password,
      "driver" -> driver,
      "fetchsize" -> fetchSize.toString)
    val part = (partitionColumn, lowerBound, upperBound, numPartitions) match {
      case (Some(c), Some(lo), Some(hi), Some(n)) =>
        Map(
          "partitionColumn" -> c,
          "lowerBound" -> lo.toString,
          "upperBound" -> hi.toString,
          "numPartitions" -> n.toString)
      case (None, None, None, None) => Map.empty[String, String]
      case _ => throw new IllegalArgumentException(
        "JDBC partitioning requires partitionColumn, lowerBound, upperBound and numPartitions together")
    }
    base ++ part
  }
}

final case class JdbcSource(options: JdbcOptions) extends RelationSource {
  def load(spark: SparkSession): DataFrame =
    spark.read.format("jdbc").options(options.asMap).load()
  def describe: String = s"JDBC ${options.dbtable}"
}
