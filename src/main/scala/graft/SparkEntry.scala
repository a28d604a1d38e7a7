package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Queries are registered per operator module; each Q carries its DuckDB
  * oracle SQL.
  */
object SparkEntry {

  private def registry: Seq[Q] =
    ops.MergeQueries.queries ++
      ops.PipelineQueries.queries ++
      ops.RelationalOps.queries ++
      ops.TpchOps.queries ++
      ops.EventOps.queries ++
      ops.TextOps.queries ++
      ops.DedupOps.queries ++
      ops.SimilarityOps.queries ++
      ops.MultimodalOps.queries

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * This is the reference pipeline's merge (SURVEY.md §7.2).
    */
  def entry(spark: SparkSession): DataFrame =
    ops.MergeQueries.queries.head.run(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2.
    *
    * Caching contract: some queries `persist()` an internally reused
    * relation (LSH signatures, shingle sets) and intentionally leave it
    * cached while their result DataFrame is still being consumed — the
    * result plan references the cached blocks, so the query cannot
    * unpersist them itself. A caller iterating many queries in one
    * session (as Verify and Bench do) should run
    * `spark.catalog.clearCache()` after fully consuming each result to
    * keep cached blocks from accumulating across calls.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables.
    */
  def oracleSql: Map[String, String] =
    registry.map(q => q.name -> q.oracle).toMap
}
