package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Classic-mode bridge between the public `Column` API and Catalyst
  * `Expression`s. Spark 4 made the `Column(expr)` constructor and `.expr`
  * accessor `private[sql]` (the Column API now fronts ColumnNode for
  * Connect), so a library shipping its own native expressions needs this
  * one-hop adapter in a `org.apache.spark.sql` subpackage — the same access
  * route Spark's own `functions` object uses internally.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Public face of [[RangeAlgebra.MaxDisjuncts]] (that object is
    * `private[sql]`) for callers outside the spark.sql tree.
    */
  val MaxDisjuncts: Int = RangeAlgebra.MaxDisjuncts
}
