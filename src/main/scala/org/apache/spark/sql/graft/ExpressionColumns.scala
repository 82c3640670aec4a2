package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> Catalyst expression bridge for graft's native
  * expressions. Spark 4 keeps the constructor that wraps an
  * [[Expression]] as a [[Column]] package-private to
  * `org.apache.spark.sql`; this object lives there so a Column-level
  * function can carry a native expression without a session (the
  * `register` + `call_function` route resolves through ONE session's
  * function registry). */
object ExpressionColumns {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
