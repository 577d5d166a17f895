package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge. Spark 4 made the Column↔Expression
  * conversions `private[sql]` (Column became connect-agnostic); custom
  * Catalyst expressions still need them, so this one-file subpackage of
  * org.apache.spark.sql re-exposes exactly the two conversions — the
  * standard extension-point pattern for native expressions outside the
  * Spark tree — plus a peek at a column's string literal.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  /** `Some(s)` when `c` is `lit(s)` for a string `s`. */
  def stringLiteral(c: Column): Option[String] = c.node match {
    case org.apache.spark.sql.internal.Literal(s: String, _, _) => Some(s)
    case _ => None
  }
}
