package org.apache.spark.sql.graft

import org.apache.spark.TaskContext
import org.apache.spark.deploy.SparkHadoopUtil
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/**
 * Minimal bridge into `private[sql]` Spark internals. Everything the graft
 * engine needs from behind the `org.apache.spark.sql` access boundary goes
 * through here, so the rest of the codebase stays in package `graft`.
 */
object Shims {
  /** Wrap a Catalyst Expression as a user-facing Column (Spark 4 classic). */
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** Unwrap a Column back to its Catalyst Expression. */
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a session-scoped SQL function backed by a Catalyst builder. */
  def registerFunction(
      spark: SparkSession,
      name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")

  /** The bytes this thread has read from Hadoop file systems since the
    * call: what a file scan reports as its task's input bytes. */
  def inputBytesCallback(): () => Long =
    SparkHadoopUtil.get.getFSBytesReadOnThreadCallback()

  /** Count a read made outside a Spark scan in the running task's input
    * metrics, so stage metrics see it as they see a scan. */
  def recordInput(rows: Long, bytes: Long): Unit = {
    val metrics = TaskContext.get().taskMetrics().inputMetrics
    metrics.incRecordsRead(rows)
    metrics.incBytesRead(bytes)
  }
}
