package graft.ops

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Driver-checkable instantiations of the reference merge pipeline
  * (SURVEY.md §7.2): `orders` plays the primary ("S3 JSON") source,
  * `customer` the secondary ("RDS") source, joined on custkey renamed to
  * `id`, with an overlapping `balance` column to exercise the cell-level
  * precedence of `gule_test_job.py:135-152`. `merge_enrich` swaps the
  * roles, so the secondary is the larger input.
  */
object MergeQueries {

  /** Primary side: orders with an injected-null `balance` so the
    * secondary can fill gaps (open orders have no settled balance).
    */
  def primary(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "orders").select(
      col("o_custkey").as("id"),
      col("o_orderkey"),
      when(col("o_orderstatus") === "O", lit(null).cast(DoubleType))
        .otherwise(col("o_totalprice")).as("balance"),
      col("o_orderpriority").as("priority"))

  private val primarySql =
    """SELECT o_custkey AS id, o_orderkey,
      |       CASE WHEN o_orderstatus = 'O' THEN NULL ELSE o_totalprice END AS balance,
      |       o_orderpriority AS priority
      |FROM orders""".stripMargin

  /** Secondary side: customer with overlapping `balance` plus
    * secondary-only columns that land after the primary columns.
    */
  def secondary(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "customer").select(
      col("c_custkey").as("id"),
      col("c_name").as("cname"),
      col("c_acctbal").as("balance"),
      col("c_mktsegment").as("segment"))

  private val secondarySql =
    "SELECT c_custkey AS id, c_name AS cname, c_acctbal AS balance, c_mktsegment AS segment FROM customer"

  /** Secondary with duplicate keys, to exercise the first-match rule of
    * `gule_test_job.py:132` at query level (the deterministic "first" =
    * ascending (cname, balance, segment); see MergeOps.firstMatch).
    */
  def secondaryDup(spark: SparkSession, dir: String): DataFrame = {
    val base = secondary(spark, dir)
    base.unionAll(base.select(
      col("id"),
      upper(col("cname")).as("cname"),
      (col("balance") + lit(1.0)).as("balance"),
      col("segment")))
  }

  private val secondaryDupSql =
    s"""$secondarySql
       |UNION ALL
       |SELECT c_custkey AS id, upper(c_name) AS cname, c_acctbal + 1.0 AS balance, c_mktsegment AS segment FROM customer""".stripMargin

  /** The merge's oracle shape: the first match per `id` (ascending by the
    * secondary's other columns `sCols.tail`, DuckDB's NULLS LAST), left
    * joined to the primary and projected by `select`.
    */
  private def mergeOracle(pSql: String, secSql: String, sCols: Seq[String], select: String) =
    s"""WITH p AS ($pSql),
       |s0 AS ($secSql),
       |s AS (SELECT ${sCols.mkString(", ")} FROM (
       |        SELECT s0.*, row_number() OVER (PARTITION BY id ORDER BY ${sCols.tail.mkString(", ")}) AS rn
       |        FROM s0) t
       |      WHERE rn = 1)
       |SELECT $select
       |FROM p LEFT JOIN s ON p.id = s.id""".stripMargin

  /** Orders enriched from a customer-shaped secondary. */
  private def ordersOracle(secSql: String) =
    mergeOracle(primarySql, secSql, Seq("id", "cname", "balance", "segment"),
      """p.id, p.o_orderkey, COALESCE(p.balance, s.balance) AS balance,
        |       p.priority, s.cname, s.segment""".stripMargin)

  /** The merge oracle over the duplicate-free secondary — shared with
    * pipeline_e2e, whose CSV round-trip must reproduce these values.
    */
  def coalesceOracle: String = ordersOracle(secondarySql)

  /** The merge with the larger input as its secondary: every second
    * customer (the primary, with the balance of BUILDING customers
    * missing) enriched from orders, whose keys repeat. The primary holds
    * customers without orders, and orders of customers it lacks, so
    * MergeOps.coalesceMerge's semi-join reduction drops rows here.
    */
  private def enrichPrimary(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "customer").filter(col("c_custkey") % 2 === 0).select(
      col("c_custkey").as("id"),
      col("c_name").as("cname"),
      when(col("c_mktsegment") === "BUILDING", lit(null).cast(DoubleType))
        .otherwise(col("c_acctbal")).as("balance"))

  private def enrichSecondary(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "orders").select(
      col("o_custkey").as("id"),
      col("o_orderkey"),
      col("o_totalprice").as("balance"),
      col("o_orderpriority").as("priority"))

  private val enrichOracle = mergeOracle(
    """SELECT c_custkey AS id, c_name AS cname,
      |       CASE WHEN c_mktsegment = 'BUILDING' THEN NULL ELSE c_acctbal END AS balance
      |FROM customer WHERE c_custkey % 2 = 0""".stripMargin,
    "SELECT o_custkey AS id, o_orderkey, o_totalprice AS balance, o_orderpriority AS priority FROM orders",
    Seq("id", "o_orderkey", "balance", "priority"),
    "p.id, p.cname, COALESCE(p.balance, s.balance) AS balance, s.o_orderkey, s.priority")

  val queries: Seq[Q] = Seq(
    Q("merge_coalesce", coalesceOracle) { (s, dir) =>
      MergeOps.coalesceMerge(primary(s, dir), secondary(s, dir), "id")
    },
    Q("merge_firstmatch", ordersOracle(secondaryDupSql)) { (s, dir) =>
      MergeOps.coalesceMerge(primary(s, dir), secondaryDup(s, dir), "id")
    },
    Q("merge_enrich", enrichOracle) { (s, dir) =>
      MergeOps.coalesceMerge(enrichPrimary(s, dir), enrichSecondary(s, dir), "id")
    },
    Q("merge_unmatched",
      s"""WITH p AS ($primarySql), s AS ($secondarySql)
         |SELECT s.id, s.cname, s.balance, s.segment FROM s
         |WHERE NOT EXISTS (SELECT 1 FROM p WHERE p.id = s.id)""".stripMargin) { (s, dir) =>
      MergeOps.unmatched(secondary(s, dir), primary(s, dir), "id")
    },
    // O14: the head-10 report slice of the unmatched set, deterministic by key.
    Q("merge_report_sample",
      s"""WITH p AS ($primarySql), s AS ($secondarySql)
         |SELECT s.id, s.cname FROM s
         |WHERE NOT EXISTS (SELECT 1 FROM p WHERE p.id = s.id)
         |ORDER BY s.id LIMIT 10""".stripMargin) { (s, dir) =>
      MergeOps.unmatched(secondary(s, dir), primary(s, dir), "id")
        .select(col("id"), col("cname")).orderBy(col("id")).limit(10)
    },
  )
}
