package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge for graft's native Catalyst expressions.
  * `ExpressionUtils.column/expression` are `private[sql]` in Spark 4, so
  * this one-file shim lives in the `org.apache.spark.sql` package — the
  * standard pattern for third-party expression libraries. */
object GraftExpr {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `s` with every field nullable at every depth — what a file-source
    * read reports for a data schema (`StructType.asNullable` is
    * `private[spark]`). */
  def nullable(s: types.StructType): types.StructType = s.asNullable
}
