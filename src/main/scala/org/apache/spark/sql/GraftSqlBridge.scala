package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge for Spark internals that are `private[sql]` at the Scala
  * level but stable public bytecode: Column ⇄ Expression conversion for
  * graft's native Catalyst expressions, and session cloning for the
  * streaming entries' child sessions. Scoped to exactly these calls.
  */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** A child of `s` that starts with a copy of its runtime conf and
    * temp views; conf written on the child never reaches `s`.
    */
  def cloneSession(s: SparkSession): SparkSession =
    s.asInstanceOf[classic.SparkSession].cloneSession()
}
