package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal access bridge: `ExpressionUtils` (Expression <-> Column) is
  * `private[sql]` in Spark 4's classic backend, so the engine's custom
  * Catalyst expressions expose their Column API through this package —
  * the standard pattern Spark extension libraries use. Nothing else of
  * Spark's internals is re-exported. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Apply a `spark.sql.extensions`-style configurator to a fresh
    * registry (FunctionRegistry is `private[sql]`) and report which of
    * `names` resolve — lets tests verify extension wiring without
    * tearing down the shared session. */
  def extensionFunctionNames(
      configure: org.apache.spark.sql.SparkSessionExtensions => Unit,
      names: Seq[String]): Seq[String] = {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    configure(ext)
    val reg = ext.registerFunctions(
      new org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry)
    names.filter(n =>
      reg.functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(n)))
  }

  /** Optimizer rules an extensions configurator would inject into a
    * session (`buildOptimizerRules` is `private[sql]`). */
  def extensionOptimizerRules(
      configure: org.apache.spark.sql.SparkSessionExtensions => Unit,
      spark: org.apache.spark.sql.SparkSession)
      : Seq[org.apache.spark.sql.catalyst.rules.Rule[
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]] = {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    configure(ext)
    ext.buildOptimizerRules(spark)
  }

  /** DataFrame over an explicit logical plan (`Dataset.ofRows` is
    * `private[sql]`) — lets tests execute a hand-rewritten plan. */
  def ofRows(
      spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Blocks until every listener event posted so far has been delivered
    * (`listenerBus` is `private[spark]`) — lets tests count the jobs an
    * action started without waiting on a clock. */
  def drainListenerBus(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
