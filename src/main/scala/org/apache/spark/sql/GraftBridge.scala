package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to Spark 4's package-private Column <-> Expression conversions.
  * Spark 4 decoupled the public Column API from Catalyst; libraries that
  * define native expressions use a shim in org.apache.spark.sql to reach
  * the classic converter (the same access pattern Spark's own connectors
  * use). */
object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Runtime function registration on a live session (builder-time
    * extensions don't apply when getOrCreate returns an existing session). */
  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")

  /** Fork a session: same SparkContext and shared state, the session
    * state (incl. SQLConf) copied — conf changes on the clone are
    * invisible to the parent. Used by hop-loop operators that need
    * loop-scoped planner confs without mutating the shared session
    * (OPTIMIZATION r18, VERDICT r17 #2). */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .cloneSession()

  /** Blocks until every event already posted to the listener bus has
    * reached its listeners (at most 10 s), so counters read after an
    * action see all of that action's events. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Re-root a frame's logical plan onto another session of the same
    * SparkContext — zero data movement, the plan is simply re-analyzed
    * and re-planned under the target session's conf. */
  def onSession(target: SparkSession, df: Dataset[Row]): Dataset[Row] =
    org.apache.spark.sql.classic.Dataset.ofRows(
      target.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
        .queryExecution.logical)
}
