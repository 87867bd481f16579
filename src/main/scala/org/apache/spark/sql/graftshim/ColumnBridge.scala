package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.internal.{Alias, UnresolvedAttribute}

/** Column ⇄ Expression bridge for Spark 4's column-node API. The classic
  * ExpressionUtils converters are private[sql], so this shim lives in an
  * org.apache.spark.sql subpackage — the established pattern for libraries
  * that construct Catalyst expressions directly. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The output name of an unresolved column: its alias, or the name of
    * the column it reads; None for any other expression. */
  def name(c: Column): Option[String] = c.node match {
    case Alias(_, Seq(n), _, _) => Some(n)
    case a: UnresolvedAttribute => Some(a.nameParts.last)
    case _ => None
  }
}
