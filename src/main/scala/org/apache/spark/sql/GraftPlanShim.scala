package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.StructType

/** Bridge between graft's custom logical plans and the public Dataset
  * API — the whole-operator sibling of [[GraftColumnShim]]. Spark 4
  * keeps `Dataset.ofRows` (logical plan → DataFrame) `private[sql]`;
  * this shim re-exports exactly the two conversions the
  * [[graft.plans]] operators need: wrap a custom LogicalPlan as a
  * DataFrame, and read a DataFrame's analyzed plan to compose it into
  * one. Same technique and same footprint discipline as
  * GraftColumnShim: nothing else internal is touched, apart from the
  * plan over an RDD of rows with a size estimate that [[ofInternalRows]]
  * builds, and the nullable schema the JSON reader parses with.
  */
object GraftPlanShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def analyzed(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed

  /** `rows`, rows of `schema`, as a DataFrame (a `LogicalRDD`, as
    * `SparkSession.internalCreateDataFrame` builds) whose size estimate
    * for join planning is `bytes`: Spark gives a plan over an RDD the
    * largest size, so a join would never broadcast it.
    */
  def ofInternalRows(spark: SparkSession, rows: RDD[InternalRow], schema: StructType,
      bytes: BigInt): DataFrame = {
    val s = spark.asInstanceOf[classic.SparkSession]
    ofRows(s, LogicalRDD(DataTypeUtils.toAttributes(schema), rows)(s, Some(Statistics(bytes)), None))
  }

  /** `schema` with every field nullable, at every depth, as Spark reads
    * a dataset of JSON strings with a given schema.
    */
  def asNullable(schema: StructType): StructType = schema.asNullable

  /** The rows `df` computes, as its physical plan yields them. */
  def internalRows(df: DataFrame): RDD[InternalRow] =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.toRdd
}
