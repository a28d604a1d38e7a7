package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered operator query: a Spark DataFrame program over the
  * fixture tables plus the exact DuckDB oracle the driver replays for
  * the hash compare. Column names/types must match between the two (see
  * the builder contract in SparkEntry).
  */
final case class Q(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: String)

object Q {
  def apply(name: String, oracle: String)(run: (SparkSession, String) => DataFrame): Q =
    Q(name, run, oracle)
}
