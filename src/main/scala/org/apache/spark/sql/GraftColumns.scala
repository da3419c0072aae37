package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Catalyst expression ↔ Column, for graft functions written once as
  * an expression tree (graft.functions.ZOrder). Spark 4 keeps both
  * conversions private to org.apache.spark.sql, so the bridge lives in
  * that package. */
object GraftColumns {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
