package graft.ops

import graft.{Pipeline, Q, StdoutNotifier}
import graft.io.{JsonArraySource, ParquetSource}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import java.nio.file.{Files, Paths}

/** Driver-checkable end-to-end run of the reference pipeline
  * (SURVEY.md §3.1): a JSON-array fixture (the "S3 object",
  * `gule_test_job.py:54-72`) is generated from the `orders` parquet,
  * merged with the "RDS" side, written as ONE headered CSV object with
  * an exact name (`gule_test_job.py:201-211`), and the CSV is read back
  * as the query result — so the oracle compare certifies the whole
  * read -> merge -> write -> read loop, not just the merge plan.
  *
  * Fixture generation (JSON/parquet staging under target/) is test
  * scaffolding standing in for the external uploads the reference
  * assumes; only the staged files' CONSUMPTION is engine behavior.
  */
object PipelineQueries {

  /** Streams a DataFrame to one JSON file holding a top-level array of
    * records — the reference's input payload shape (pandas
    * `orient='records'`). Streamed via toLocalIterator: no full
    * driver-side materialization.
    */
  def writeJsonArrayFixture(df: DataFrame, path: String): Unit = {
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    val w = Files.newBufferedWriter(p)
    try {
      w.write("[\n")
      val it = df.toJSON.toLocalIterator()
      var first = true
      while (it.hasNext) {
        if (!first) w.write(",\n")
        w.write(it.next())
        first = false
      }
      w.write("\n]\n")
    } finally w.close()
  }

  private def stagingDir(sfDir: String): String =
    s"${Staging.dir(sfDir)}/pipeline_e2e"

  /** Stages both e2e rows' inputs under `root`: the JSON-array primary
    * (`primary.json`) and the parquet secondary (`secondary.parquet`).
    * Returns the primary as generated from `orders`; its schema is the
    * one the JSON source is given.
    *
    * Fingerprint-guarded staging (the ensureBaseIvfIndex convention):
    * the fixtures are pure functions of the orders and customer tables,
    * so repeat runs (bench warm pairs, `graft.Verify`, the other e2e
    * row — Verify/Bench run rows sequentially) skip the
    * driver-streamed array serialization and go straight to the
    * pipeline surface the row certifies.
    */
  private def stageE2e(s: SparkSession, dir: String, root: String): DataFrame = {
    val p = MergeQueries.primary(s, dir)
    Staging.ensureStaged(root,
      Staging.sourceFingerprint(dir, Seq("orders", "customer"))) {
      writeJsonArrayFixture(p, s"$root/primary.json")
      MergeQueries.secondary(s, dir)
        .write.mode("overwrite").parquet(s"$root/secondary.parquet")
    }
    p
  }

  def runE2e(s: SparkSession, dir: String): DataFrame = {
    val root = stagingDir(dir)
    val p = stageE2e(s, dir, root)

    // Explicit schema on the JSON source: preserves the reference's
    // original-column-order contract (O12) and exact types; inference
    // would alphabetize columns and widen types.
    val spec = Pipeline.PipelineSpec(
      primary = JsonArraySource(s"$root/primary.json", Some(p.schema)),
      secondary = ParquetSource(s"$root/secondary.parquet"),
      destDir = s"$root/out",
      destFile = "merged.csv")

    val result = Pipeline.run(s, spec, new StdoutNotifier) match {
      case Right(r) => r
      case Left(e) => throw new RuntimeException(
        s"pipeline failed at stage ${e.stage}: ${e.message}")
    }

    // Read the single CSV object back with the merge's own schema (CSV
    // carries no types; the header row is skipped by header=true). `p`
    // has the schema the JSON source was given, so the schema is planned
    // without reading the JSON primary again.
    val mergedSchema = MergeOps.coalesceMerge(
      p, spec.secondary.load(s), spec.key).schema
    s.read.schema(mergedSchema).option("header", value = true)
      .option("multiLine", value = true)
      .csv(result.csvPath.toString)
  }

  /** The partitioned-layout twin of [[runE2e]]: the identical read ->
    * merge pipeline over the SAME staged fixtures, but the result lands
    * as PARTITIONED PARQUET, hive-partitioned by `priority` (5 values —
    * per-priority consumers prune to their directory), and the
    * read-back + oracle compare certify the partitioned round-trip
    * preserved every row and column of the merge. Both rows write in
    * parallel ([[graft.io.CsvSink]] encodes the merge's partitions as
    * they are and joins the files), so the gap between them is the cost
    * of the layout: `partitionBy` sorts each task's rows by `priority`
    * under the write, in the same stage as the JSON parse.
    */
  def runE2eParallel(s: SparkSession, dir: String): DataFrame = {
    val root = stagingDir(dir)
    val p = stageE2e(s, dir, root)
    val primary = JsonArraySource(s"$root/primary.json", Some(p.schema)).load(s)
    val secondary = ParquetSource(s"$root/secondary.parquet").load(s)
    val merged = MergeOps.coalesceMerge(primary, secondary, "id")
    val out = s"$root/out_parallel"
    merged.write.mode("overwrite").partitionBy("priority").parquet(out)
    // partition columns come back at the END of the inferred schema —
    // reorder to the merge's own column order (the O12 contract the
    // oracle's sorted-by-name compare doesn't see but consumers do)
    s.read.parquet(out).select(merged.schema.fieldNames.map(col): _*)
  }

  /** ORC round-trip certified by the oracle: the parquet `documents`
    * fixture is mirrored to ORC (staging under target/, like the e2e
    * fixtures), read back through [[graft.io.OrcSource]], and reduced
    * to a per-lang [[documentsDigest]]. DuckDB computes the same
    * digest over the parquet ORIGINAL, so a hash match proves the ORC
    * writer+reader preserved every row's text bit-exactly. (DuckDB
    * reads no ORC — mirroring on the Spark side and digest-comparing
    * against the source format is what makes the format gap
    * oracle-checkable at all.)
    */
  def runOrcMirror(s: SparkSession, dir: String): DataFrame = {
    val root = stagingDir(dir)
    graft.Tables.load(s, dir, "documents")
      .write.mode("overwrite").orc(s"$root/documents.orc")
    documentsDigest(graft.io.OrcSource(s"$root/documents.orc").load(s), "lang")
  }

  /** Per-`by` content digest of `documents` rows, shared by the ORC and
    * partition rows: row count, char total, and a sum of per-row
    * md5-derived text hashes, so a match covers every row's text, not
    * merely the row count.
    */
  private def documentsDigest(docs: DataFrame, by: String): DataFrame =
    docs.groupBy(by)
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").as("chars_total"),
        sum(graft.Cols.hex60(col("text")) % lit(1000003L)).cast(LongType)
          .as("text_digest"))

  /** DuckDB's [[documentsDigest]] over `from` (the parquet original). */
  private def documentsDigestSql(by: String, from: String): String =
    s"""SELECT $by, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS chars_total,
       |  CAST(sum(${graft.OracleSql.hex60("text")} % 1000003) AS BIGINT) AS text_digest
       |FROM $from GROUP BY $by""".stripMargin

  /** Hive-partitioned layout + partition PRUNING certified by the
    * oracle: `documents` is rewritten partitioned by `lang`
    * (directory-per-value — the layout a 100 TB corpus ships in so
    * per-language jobs never touch other languages' files), read back
    * with a `lang = 'en'` predicate — which Spark satisfies from
    * DIRECTORY NAMES alone (PartitionFilters in the scan; non-matching
    * files are never opened; PartitionPruneSpec pins the plan) — and
    * reduced to a per-source content digest. DuckDB computes the same
    * digest over the unpartitioned original WHERE lang='en', so a hash
    * match proves the partitioned layout preserved every row of the
    * pruned slice bit-exactly AND that pruning selected exactly the
    * right slice.
    */
  def runPartitionPrune(s: SparkSession, dir: String): DataFrame = {
    val root = stagingDir(dir)
    graft.Tables.load(s, dir, "documents")
      .write.mode("overwrite").partitionBy("lang")
      .parquet(s"$root/documents_by_lang.parquet")
    documentsDigest(
      s.read.parquet(s"$root/documents_by_lang.parquet").filter(col("lang") === "en"),
      "source")
  }

  /** JDBC round-trip certified by the oracle — the O4 operator
    * (`gule_test_job.py:82-94` reads its enrichment table over JDBC)
    * proven against a REAL database: the `supplier` fixture is written
    * into an embedded Derby database through `spark.write.format
    * ("jdbc")`, read back through [[graft.io.JdbcSource]] with the
    * partitioned-read knobs set (partitionColumn/numPartitions — the
    * scan issues range-bounded queries in parallel, the shape a large
    * enrichment table needs), and reduced to [[supplierDigest]].
    * DuckDB computes the same digest over the parquet ORIGINAL, so a
    * hash match proves the JDBC writer+reader preserved every row of
    * every column — not merely that a connection opened.
    * Derby is in-process (jdbc:derby:memory:), standing in for the
    * reference's MariaDB server: [[graft.io.JdbcOptions]] is the same
    * options map either way, only url/driver differ per deployment.
    */
  def runJdbcMirror(s: SparkSession, dir: String): DataFrame =
    supplierDigest(graft.io.JdbcSource(
      derbySupplierMirror(s, dir, "graft", "supplier_mirror")).load(s))

  /** Writes the `supplier` fixture through `spark.write.format("jdbc")`
    * into table `table` of the in-memory Derby database `db`, one
    * database per fixture dir, and returns the options that read it
    * back with the partitioned-read knobs set.
    */
  private def derbySupplierMirror(s: SparkSession, dir: String,
      db: String, table: String): graft.io.JdbcOptions = {
    // Derby writes its boot log to derby.log in the cwd unless homed;
    // keep the engine's droppings inside the staging convention. The
    // property is read at Derby boot (first connection in the JVM).
    System.setProperty("derby.system.home", "target/staging/derby")
    val tag = dir.replaceAll("[^0-9A-Za-z.]", "_")
    val opts = graft.io.JdbcOptions(
      url = s"jdbc:derby:memory:${db}_$tag;create=true",
      dbtable = table,
      user = "app",
      password = "app",
      // Derby >= 10.15 ships the JDBC drivers in derbytools.jar
      driver = "org.apache.derby.jdbc.EmbeddedDriver",
      // the partitioned-read knobs: 4 range-bounded parallel queries on
      // the integer key (rows outside the bounds still land in the
      // first/last stripe — bounds set stride, never filter)
      partitionColumn = Some("s_suppkey"),
      lowerBound = Some(0L),
      upperBound = Some(1L << 20),
      numPartitions = Some(4))
    graft.Tables.load(s, dir, "supplier")
      .write.format("jdbc")
      .options(opts.asMap)
      .mode("overwrite")
      .save()
    opts
  }

  /** Per-nation digest of every `supplier` column, shared by the two
    * JDBC rows: row count, a sum of md5-derived name hashes, and
    * floor-quantized account balances (floor of an identical IEEE
    * product is exact in both engines; DOUBLE round-trips Derby
    * bit-exactly).
    */
  private def supplierDigest(supp: DataFrame): DataFrame =
    supp.groupBy("s_nationkey")
      .agg(count(lit(1)).as("n_supp"),
        sum(graft.Cols.hex60(col("s_name")) % lit(1000003L)).cast(LongType)
          .as("name_digest"),
        sum(floor(col("s_acctbal") * lit(10000.0)).cast(LongType)).as("bal_digest"))

  /** DuckDB's [[supplierDigest]] over `from` (the parquet original). */
  private def supplierDigestSql(from: String): String =
    s"""SELECT s_nationkey, count(*) AS n_supp,
       |  CAST(sum(${graft.OracleSql.hex60("s_name")} % 1000003) AS BIGINT) AS name_digest,
       |  CAST(sum(CAST(floor(s_acctbal * 10000.0) AS BIGINT)) AS BIGINT) AS bal_digest
       |FROM $from GROUP BY s_nationkey""".stripMargin

  /** JDBC predicate pushdown certified by the oracle — the other
    * production knob SURVEY O4 names beyond partitioned reads: a
    * filtered read through [[graft.io.JdbcSource]] must ship the
    * predicate INTO the database (`WHERE` in the generated SQL, so a
    * 100 TB-side enrichment table streams only matching rows over the
    * wire) rather than scanning everything and filtering in Spark.
    * The query asserts the plan property itself — the JDBC scan node
    * must advertise the pushed `GreaterThan` in its `PushedFilters`
    * metadata, making the green row a proof of pushdown at BOTH
    * gate scales, not just of value correctness — and DuckDB then
    * certifies the digest of the filtered result over the parquet
    * original. Single-conjunct filter by design: scan-node metadata
    * truncates long filter lists in the plan string, which would turn
    * the assertion flaky.
    */
  def runJdbcPushdown(s: SparkSession, dir: String): DataFrame = {
    val filtered = graft.io.JdbcSource(
        derbySupplierMirror(s, dir, "graft_push", "supplier_push")).load(s)
      .filter(col("s_acctbal") > lit(1000.0))
    val plan = filtered.queryExecution.executedPlan.toString.toLowerCase
    // rendering-tolerant: the exact filter string ("greaterthan(
    // s_acctbal,1000.0)") varies with Spark's plan formatting and the
    // dialect's numeric rendering, so match the shape, not the bytes
    val pushedGt = raw"greaterthan\(s_acctbal,\s*1000(\.0+)?\)".r
    require(plan.contains("pushedfilters:") &&
      pushedGt.findFirstIn(plan).isDefined,
      s"JDBC scan did not push the predicate down:\n$plan")
    supplierDigest(filtered)
  }

  // ── malformed-record quarantine (PERMISSIVE parse + split) ────────
  // What a 100 TB ingest meets on day one and the reference's pandas
  // parse simply dies on: malformed lines inside the feed. The staged
  // fixture serializes orders to JSONL and deterministically corrupts
  // every o_orderkey % 37 == 0 line; the engine reads it PERMISSIVE
  // with an explicit corrupt-record column (line-oriented JSONL, so
  // the parse is split-distributed — never multiLine for bulk
  // ingest), splits clean rows from quarantined ones, and reports the
  // clean rollup plus the quarantine count. The oracle replays the
  // SAME corruption rule directly on the orders table, so the gate
  // certifies the full serialize → corrupt → permissive-parse →
  // split round-trip: every uncorrupted row recovered exactly (JSON
  // shortest-repr doubles round-trip bit-exact), every corrupted line
  // quarantined, none dropped.
  private def runJsonQuarantine(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val root = s"${Staging.dir(dir)}/quarantine"
    val src = s"$root/orders_jsonl"
    val base = graft.Tables.load(s, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
    Staging.ensureStaged(root, Staging.sourceFingerprint(dir, Seq("orders"))) {
      val js = to_json(struct(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice"), col("o_orderstatus")))
      base.select(
        when(col("o_orderkey") % 37 === 0, concat(lit("{corrupt! "), js))
          .otherwise(js).as("value"))
        .repartition(4) // multiple line-split files: the parse stays distributed
        .write.mode("overwrite").text(src)
    }
    val schema = StructType(base.schema.fields :+
      StructField("_corrupt_record", StringType, nullable = true))
    val parsed = s.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(src)
    parsed.agg(
      sum(when(col("_corrupt_record").isNull, 1L).otherwise(0L))
        .cast(org.apache.spark.sql.types.LongType).as("n_clean"),
      sum(when(col("_corrupt_record").isNotNull, 1L).otherwise(0L))
        .cast(org.apache.spark.sql.types.LongType).as("n_quarantined"),
      graft.Cols.dsum(when(col("_corrupt_record").isNull, col("o_totalprice")))
        .as("clean_total"),
      max(when(col("_corrupt_record").isNull, col("o_orderkey"))).as("max_clean_key"))
  }

  private val jsonQuarantineOracle: String =
    s"""SELECT
       |  CAST(count(CASE WHEN o_orderkey % 37 != 0 THEN 1 END) AS BIGINT) AS n_clean,
       |  CAST(count(CASE WHEN o_orderkey % 37 = 0 THEN 1 END) AS BIGINT) AS n_quarantined,
       |  ${graft.OracleSql.dsum("CASE WHEN o_orderkey % 37 != 0 THEN o_totalprice END")} AS clean_total,
       |  max(CASE WHEN o_orderkey % 37 != 0 THEN o_orderkey END) AS max_clean_key
       |FROM orders""".stripMargin

  val queries: Seq[Q] = Seq(
    Q("pipeline_e2e", MergeQueries.coalesceOracle)(runE2e),
    Q("pipeline_e2e_parallel", MergeQueries.coalesceOracle)(runE2eParallel),
    Q("q_orc_mirror", documentsDigestSql("lang", "documents"))(runOrcMirror),
    Q("q_partition_prune",
      documentsDigestSql("source", "documents WHERE lang = 'en'"))(runPartitionPrune),
    Q("q_jdbc_mirror", supplierDigestSql("supplier"))(runJdbcMirror),
    Q("q_jdbc_pushdown",
      supplierDigestSql("supplier WHERE s_acctbal > 1000.0"))(runJdbcPushdown),
    Q("q_json_quarantine", jsonQuarantineOracle)(runJsonQuarantine))
}
