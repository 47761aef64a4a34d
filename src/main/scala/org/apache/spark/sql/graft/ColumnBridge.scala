package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.errors.QueryExecutionErrors

/** Bridge into the `private[sql]` Column↔Expression converters — the
  * standard packaging trick for Spark extension libraries that ship
  * custom Catalyst expressions (the public Column API deliberately hides
  * its expression backing in Spark 4). */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  /** Divide's ANSI error (DIVIDE_BY_ZERO), for kernels that divide. */
  def divideByZero(): ArithmeticException = QueryExecutionErrors.divideByZeroError(null)
}
