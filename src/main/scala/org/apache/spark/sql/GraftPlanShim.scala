package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Statistics}
import org.apache.spark.sql.execution.LogicalRDD

/** Bridge between graft's custom logical plans and the public Dataset
  * API — the whole-operator sibling of [[GraftColumnShim]]. Spark 4
  * keeps `Dataset.ofRows` (logical plan → DataFrame) `private[sql]`;
  * this shim re-exports exactly the two conversions the
  * [[graft.plans]] operators need: wrap a custom LogicalPlan as a
  * DataFrame, and read a DataFrame's analyzed plan to compose it into
  * one. Same technique and same footprint discipline as
  * GraftColumnShim: nothing else internal is touched, apart from the
  * size estimate [[withSizeInBytes]] gives a plan over an RDD.
  */
object GraftPlanShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def analyzed(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed

  /** `df`, when it reads one RDD (`LogicalRDD`), with a size estimate
    * for join planning: Spark gives such a plan the largest size, so a
    * join never broadcasts it. Any other `df` is returned as it is.
    */
  def withSizeInBytes(df: DataFrame, bytes: Long): DataFrame = analyzed(df) match {
    case r: LogicalRDD =>
      val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
      ofRows(spark, r.copy()(spark, Some(Statistics(BigInt(bytes))), None))
    case _ => df
  }
}
