package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{DataFrame, Dataset, ExpressionUtils, SparkSession}

/** The `private[spark]` doorways graft needs, in one place:
  *
  *  - wrapping a library-defined [[LogicalPlan]] node back into a
  *    public DataFrame ([[ofRows]], [[logicalPlan]]) — Spark's own
  *    connectors and every custom-plan library use exactly this
  *    package-placement pattern;
  *  - turning a library-defined Catalyst [[Expression]] into a public
  *    Column and back ([[column]], [[expression]]), so a kernel joins a
  *    Column tree without a session or a function-registry entry;
  *  - draining the listener bus ([[drainListenerBus]]), so a measured
  *    pass reads its job, stage and task counters only after every
  *    event of its jobs has been delivered.
  *
  * Everything else in graft stays on public API.
  */
object Bridge {
  def ofRows(s: org.apache.spark.sql.SparkSession, plan: LogicalPlan): org.apache.spark.sql.DataFrame =
    Dataset.ofRows(s.asInstanceOf[SparkSession], plan)

  def logicalPlan(df: org.apache.spark.sql.DataFrame): LogicalPlan =
    df.asInstanceOf[DataFrame].queryExecution.analyzed

  def column(e: Expression): org.apache.spark.sql.Column = ExpressionUtils.column(e)

  def expression(c: org.apache.spark.sql.Column): Expression = ExpressionUtils.expression(c)

  /** Blocks until every listener event posted so far has been handled;
    * false if the bus is still busy after `timeoutMs`. */
  def drainListenerBus(s: org.apache.spark.sql.SparkSession, timeoutMs: Long = 60000): Boolean =
    try { s.sparkContext.listenerBus.waitUntilEmpty(timeoutMs); true }
    catch { case _: java.util.concurrent.TimeoutException => false }
}
