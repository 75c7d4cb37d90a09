package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> Expression bridge for custom Catalyst expressions.
  *
  * Spark 4 made the classic Column/Expression converters `private[sql]`
  * (`org.apache.spark.sql.classic.ExpressionUtils`), so third-party native
  * expressions need a shim inside the `org.apache.spark.sql` namespace —
  * the standard pattern for Spark extension libraries. Only these two
  * one-line forwarders live here; everything else stays in graft.*.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
