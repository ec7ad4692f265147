package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ catalyst Expression bridge. `ExpressionUtils` is
  * `private[sql]` in Spark 4 (Column wraps a ColumnNode now), so the
  * engine's custom codegen expressions ([[graft.functions.VectorExprs]])
  * cross through this one-file shim in the sql package. */
object GraftSqlBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Top-level column names `c` references, read off the Column's own
    * node tree: `expression(c)` is an opaque wrapper in Spark 4 whose
    * `references` are empty. */
  def referencedColumns(c: Column): Seq[String] =
    c.node.collect {
      case a: org.apache.spark.sql.internal.UnresolvedAttribute =>
        a.nameParts.head
    }.distinct
}
