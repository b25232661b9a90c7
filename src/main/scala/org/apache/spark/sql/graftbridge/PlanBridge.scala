package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** LogicalPlan → DataFrame bridge. Spark 4's Connect refactor split the
  * classic Dataset behind `org.apache.spark.sql.classic`; custom logical
  * operators need this one-hop shim to be exposed as `DataFrame`s.
  */
object PlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def analyzedPlan(df: DataFrame): LogicalPlan = df.queryExecution.analyzed

  /** The relation's rows in Catalyst's internal form, for a task that reads
    * them without converting each row to a `Row`.
    */
  def internalRows(df: DataFrame): RDD[InternalRow] = df.queryExecution.toRdd
}
