package org.apache.spark.sql.graftbridge

import scala.reflect.ClassTag

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{DataFrame, Dataset, ExpressionUtils, SparkSession}
import org.apache.spark.sql.execution.SQLExecution

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

  /** `f` of each partition of `df`'s rows, in partition order: one job
    * under a new SQL execution id, as a Dataset action runs. */
  def runJob[T: ClassTag](df: org.apache.spark.sql.DataFrame, name: String)(f: Iterator[InternalRow] => T): Array[T] = {
    val qe = df.asInstanceOf[DataFrame].queryExecution
    SQLExecution.withNewExecutionId(qe, Some(name))(qe.sparkSession.sparkContext.runJob(qe.toRdd, f))
  }

  /** `df`'s rows, collected as its physical plan returns them (a limit
    * scans partitions incrementally, as `head` does). */
  def collectRows(df: org.apache.spark.sql.DataFrame, name: String): Array[InternalRow] = {
    val qe = df.asInstanceOf[DataFrame].queryExecution
    SQLExecution.withNewExecutionId(qe, Some(name))(qe.executedPlan.executeCollect())
  }

  /** Blocks until every listener event posted so far has been handled;
    * false if the bus is still busy after `timeoutMs`. */
  def drainListenerBus(s: org.apache.spark.sql.SparkSession, timeoutMs: Long = 60000): Boolean =
    try { s.sparkContext.listenerBus.waitUntilEmpty(timeoutMs); true }
    catch { case _: java.util.concurrent.TimeoutException => false }
}
