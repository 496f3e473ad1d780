package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils}

/** Column ⇄ Expression boundary: graft's Column wrappers build their native
  * Catalyst expressions through it, and `GraftExtensions` turns
  * Column-composed functions into SQL function builders. Spark 4 backs
  * Column with ColumnNode and keeps the converters `private[sql]` — this
  * shim re-exports just the two conversions (no other internals touched).
  *
  * `expression` converts EAGERLY (ColumnNodeToExpressionConverter) rather
  * than via ExpressionUtils' lazy ColumnNodeExpression wrapper: a
  * FunctionRegistry builder's result goes straight into the analyzer, and
  * the lazy wrapper is opaque to it (reaches execution unresolved and dies
  * in codegen). The eager tree is ordinary catalyst nodes — nested built-in
  * calls resolve through the registry as if the user had typed the SQL.
  */
object ColumnBridge {
  def expression(c: Column): Expression = ColumnNodeToExpressionConverter(c.node)
  def column(e: Expression): Column = ExpressionUtils.column(e)
}
