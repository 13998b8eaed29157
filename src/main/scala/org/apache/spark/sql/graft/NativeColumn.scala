package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** The one bridge between graft's Catalyst expressions and the Column
  * API. Spark 4 keeps the Column <-> Expression conversions
  * `private[sql]`, so this object lives inside Spark's package and
  * forwards to them; every Column builder in `graft.functions` wraps its
  * expression here. A Column built this way needs nothing registered in
  * any session: it resolves on `spark.newSession()`, a foreachBatch
  * clone or a caller's own session alike, and plans exactly as the same
  * expression reached by name through a function registry.
  *
  * In code that wildcard-imports `org.apache.spark.sql._`, the name
  * `graft` can resolve to this package; write `_root_.graft` there.
  */
object NativeColumn {

  def column(e: Expression): Column = ExpressionUtils.column(e)

  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
