package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** `Column ⇄ Expression` bridge. Spark 4 made the conversions
  * `private[sql]` (`classic.ExpressionUtils`), so pure column functions
  * that wrap a native Catalyst expression —
  * [[graft.operators.Curation.normalizeUrl]] wrapping
  * [[graft.plans.PercentNormalize]], and the typed column functions of
  * [[graft.plans.GraftFunctions]] — need this one-file shim inside
  * `org.apache.spark.sql`. The alternative (the per-session function
  * registry) forces every caller to register before building a plain
  * Column expression; a pure function must not depend on session state.
  * Standard extension-library pattern; only public Spark classes are
  * touched. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
