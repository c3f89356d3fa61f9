package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> Catalyst Expression conversion for graft's native expressions
  * (`graft.exprs.catalyst.GraftFunctions`). Spark keeps both conversions
  * private to this package, which is the only reason this object is here. */
object GraftColumns {
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** A Column made by [[column]] unwraps to its expression; any other becomes
    * a placeholder that the Dataset using it converts with its columns. */
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
