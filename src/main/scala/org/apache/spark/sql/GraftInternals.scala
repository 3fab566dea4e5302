package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark's `private[sql]` Column <-> Expression converters
  * (Spark 4 moved these behind `org.apache.spark.sql.classic` for the
  * Connect refactor). Lives in the spark.sql package solely to satisfy
  * the access modifier; keep it minimal.
  */
object GraftInternals {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The planner strategies an extensions object would build into a
    * session (`buildPlannerStrategies` is `private[sql]`). */
  def plannerStrategies(ext: SparkSessionExtensions, s: SparkSession)
      : Seq[org.apache.spark.sql.execution.SparkStrategy] = ext.buildPlannerStrategies(s)

  /** Block until every event posted so far reached the listeners
    * (`listenerBus` is `private[spark]`). */
  def drainListenerBus(s: SparkSession): Unit =
    s.sparkContext.listenerBus.waitUntilEmpty()

  def analyzedPlan(df: Dataset[Row]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  def ofRows(s: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      s.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}
