package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into the package-private classic Dataset and Column
  * factories — the standard technique for Spark extension libraries
  * that construct DataFrames from custom `LogicalPlan` nodes and
  * Columns from custom `Expression`s (the public API has neither
  * constructor). Only `ofRows` and `column` are exposed; nothing else
  * in the private surface is touched. */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A Column whose expression is `build` applied to the input
    * columns' expressions. No session is involved: the inputs stay
    * unconverted column nodes until the frame that uses the result
    * analyzes it, so the Column works in any session and from any
    * thread. */
  def column(inputs: Column*)(build: Seq[Expression] => Expression): Column =
    classic.ExpressionUtils.column(
      build(inputs.map(classic.ExpressionUtils.expression)))
}
