package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge. Spark 4 made the conversion `private[sql]`
  * (Connect refactor), so third-party Catalyst expressions need this
  * one-file shim inside the sql package — the standard extension pattern;
  * no Spark internals are modified. */
object shim {
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame from a (resolved) LogicalPlan — `Dataset.ofRows` went
    * `private[sql]` in the Connect refactor. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Register (or fetch) the driver's StateStoreCoordinator endpoint.
    * BATCH execution of `transformWithState` hardcodes a throwaway
    * RocksDB store whose lock check asks this coordinator — but the
    * endpoint is only registered when a streaming query starts, so a
    * batch-only JVM (Verify, Bench) fails with CANNOT_LOAD_STATE_STORE.
    * `forDriver` is idempotent (returns the existing endpoint if one is
    * registered) and `private[sql]`, hence this shim hook. */
  def ensureStateStoreCoordinator(
      spark: org.apache.spark.sql.SparkSession): Unit = {
    org.apache.spark.sql.execution.streaming.state.StateStoreCoordinatorRef
      .forDriver(org.apache.spark.SparkEnv.get,
        spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
          .sessionState.conf)
    ()
  }

  /** Block until every listener event posted so far has been delivered
    * (`listenerBus` is `private[spark]`) — a deterministic drain for
    * listener-based counters, instead of sleeping and hoping. */
  def drainListenerBus(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
