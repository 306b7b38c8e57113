package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to the `private[sql]` Column ↔ Expression converters.
  *
  * Spark 4 wraps Column around ColumnNode (connect/classic unification);
  * the classic converters live behind `private[sql]`, so custom Catalyst
  * expressions (graft.functions.*) go through this shim to become
  * user-facing `Column`s.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** [[expression]] with every Column node inside converted now. A
    * Dataset converts them when it plans the Column; a SQL function
    * builder has no Dataset, so it needs this form. */
  def converted(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  /** `s` with every field nullable, at any depth: the data schema Spark
    * gives a file source it reads (`StructType.asNullable` is
    * `private[spark]`). */
  def nullable(s: types.StructType): types.StructType = s.asNullable
}
