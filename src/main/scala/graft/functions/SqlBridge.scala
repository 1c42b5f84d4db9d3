package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge.
  *
  * Spark 4 made the Column↔Expression conversions `private[sql]`
  * (columnNodeSupport.scala); custom Catalyst expressions still need
  * them to surface as user-facing Columns. This object lives under
  * `org.apache.spark.sql` solely to re-export those two conversions —
  * the standard extension-library workaround.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
