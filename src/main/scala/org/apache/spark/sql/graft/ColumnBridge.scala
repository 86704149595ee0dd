package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into the `private[sql]` Column <-> catalyst Expression
  * converters (Spark 4 moved them behind `org.apache.spark.sql.classic`).
  * Standard extension-library pattern: a tiny shim object inside the
  * `org.apache.spark.sql` package tree — only used by
  * graft.functions.VectorFunctions to expose native expressions as
  * `Column`s.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A composite `Column` (functions, lambdas) fully converted to its
    * catalyst tree by `spark`'s own converter — what a SQL function
    * builder must return; [[expression]] only unwraps a column built from
    * one expression.
    */
  def expression(spark: org.apache.spark.sql.SparkSession, c: Column): Expression =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].expression(c)

  /** Register a native expression under `name` for the SQL surface
    * (`SELECT name(...)`) of this session.
    */
  def registerExpression(
      spark: org.apache.spark.sql.SparkSession,
      name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, exprs => builder(exprs), "built-in")
}
