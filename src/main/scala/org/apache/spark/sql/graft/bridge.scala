/** Bridge package: lives under `org.apache.spark.sql` so the engine's
  * Catalyst extensions can use `private[sql]` Spark internals
  * (ExpressionUtils, AbstractDataType, …) — the standard pattern for
  * Spark extension libraries. Keep this layer thin: only expression
  * definitions, Column/Expression plumbing and session/plan factories;
  * all engine logic stays in the `graft.*` packages.
  */
package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils

object Bridge {
  /** Wrap a Catalyst expression as a public Column. */
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** Unwrap a Column to its Catalyst expression (classic sessions). */
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A copy of `s` with its own temp views; runtime conf, functions and
    * query-execution listeners are copied from `s`. */
  def cloneSession(s: SparkSession): SparkSession =
    s.asInstanceOf[classic.SparkSession].cloneSession()

  /** `df` as a frame of session `s` (same SparkContext). It carries `df`'s
    * analyzed plan, so nothing in it re-resolves against `s`'s views. */
  def rebind(s: SparkSession, df: DataFrame): DataFrame =
    classic.Dataset.ofRows(s.asInstanceOf[classic.SparkSession], df.queryExecution.analyzed)
}
