package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Column ⇄ Catalyst expression bridge for [[graft.functions.GraftFunctions]]:
  * Spark's classic conversions (`classic.ExpressionUtils`) are
  * `private[sql]`, so this object lives in package `org.apache.spark.sql`
  * to reach them. It lets a typed builder wrap a native expression in a
  * `Column` without any function-registry lookup.
  */
object GraftColumns {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
