package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into the sql package so graft can wrap raw Catalyst Expressions
  * as Columns (the public API stopped exposing this in Spark 4).
  */
object GraftColumns {
  def of(e: Expression): Column = classic.ExpressionUtils.column(e)
  def exprOf(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
