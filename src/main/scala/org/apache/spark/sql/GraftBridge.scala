package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/**
 * Column <-> Expression bridge. Spark 4 `Column` wraps a ColumnNode and
 * the conversion helpers (`classic.ExpressionUtils`) are private[sql],
 * so this one-file shim lives in the org.apache.spark.sql package —
 * the standard pattern for Catalyst-level Spark extensions.
 */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Spark's own Catalyst → `sources.Filter` translation (the one DSv2
    * filter pushdown hands to `SupportsPushDownFilters`); protected[sql]. */
  def translateFilter(e: Expression): Option[sources.Filter] =
    execution.datasources.DataSourceStrategy.translateFilter(
      e, supportNestedPredicatePushdown = true)

  /** `types.AbstractDataType` is private[sql] in Spark 4; expressions
    * outside this package need it to declare `ExpectsInputTypes.
    * inputTypes`. The alias is the standard visibility bridge. */
  type AbstractDataType = types.AbstractDataType
}
