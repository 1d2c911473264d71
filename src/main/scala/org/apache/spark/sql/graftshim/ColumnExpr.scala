package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ColumnNodeToExpressionConverter

/** Spark 4 wraps Column around an opaque ColumnNode (for Connect parity);
  * the classic-session converter back to a Catalyst Expression is
  * `private[sql]`. This shim — our own source compiled into the sql package
  * namespace, the usual pattern for Spark extension libraries — re-exports
  * just that one conversion for graft's driver-side file pruning
  * (graft.lake.FilePruner). No Spark internals are modified.
  */
object ColumnExpr {
  /** Eagerly converts the ColumnNode tree to Catalyst (ExpressionUtils
    * would return a lazy ColumnNodeExpression wrapper whose children are
    * still internal nodes — useless for pattern matching). */
  def expression(c: Column): Expression = ColumnNodeToExpressionConverter(c.node)

  /** Wraps a Catalyst expression back into a Column (for graft's native
    * codegen expressions, e.g. graft.expressions.DotProduct). */
  def column(e: Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** Catalyst predicate → v1 `sources.Filter` — Spark's own translation
    * (`protected[sql]`), re-exported for graft's metadata-only aggregate
    * collapse and native-scan file pruning (MetadataAggregateRule and
    * NativeScanRule need the exact translation Spark would apply, never a
    * re-implementation that could drift). */
  def toV1Filter(e: Expression): Option[org.apache.spark.sql.sources.Filter] =
    org.apache.spark.sql.execution.datasources.DataSourceStrategy
      .translateFilter(e, supportNestedPredicatePushdown = true)
}
