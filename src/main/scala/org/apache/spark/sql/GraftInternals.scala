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

  /** Register a temp SQL function into a live session's registry. */
  def registerFunction(s: SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")

  /** Install an extra planner strategy on a live session (idempotent). */
  def addStrategy(s: SparkSession, strategy: org.apache.spark.sql.execution.SparkStrategy): Unit = {
    val exp = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
    if (!exp.extraStrategies.contains(strategy)) {
      exp.extraStrategies = exp.extraStrategies :+ strategy
    }
  }

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
