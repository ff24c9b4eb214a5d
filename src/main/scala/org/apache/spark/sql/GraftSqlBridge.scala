package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal Column ⇄ Expression bridge for graft's native Catalyst
  * expressions. Spark 4 made `Column` independent of `Expression` and the
  * conversion helpers (`org.apache.spark.sql.classic.ExpressionUtils`) are
  * `private[sql]`, so custom-expression libraries expose them through a
  * one-file shim in the `org.apache.spark.sql` package — the standard
  * interop pattern for Catalyst extension libraries.
  */
object GraftSqlBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** True if a DataSource short-name (e.g. "kafka") resolves on this
    * classpath — lets connector-dependent paths fail fast with a clear
    * message instead of a deep planner error.
    */
  def dataSourceAvailable(name: String): Boolean =
    try {
      org.apache.spark.sql.execution.datasources.DataSource.lookupDataSource(
        name, org.apache.spark.sql.internal.SQLConf.get)
      true
    } catch { case _: Throwable => false }
}
