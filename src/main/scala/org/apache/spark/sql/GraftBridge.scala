package org.apache.spark.sql

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.SQLExecution

/** Bridge into Spark 4's private[sql] Column↔Expression conversion —
  * the supported way for libraries to expose custom Catalyst expressions
  * as user-facing Columns in classic (non-Connect) mode.
  */
object GraftBridge {
  def column(e: Expression): Column =
    classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression =
    classic.ExpressionUtils.expression(c)

  /** Register a function into a LIVE session's registry (sessionState is
    * private[sql]) — lets GraftExtensions.register() add the graft_*
    * SQL surface to sessions built without withExtensions. */
  def registerFunction(spark: SparkSession,
      id: org.apache.spark.sql.catalyst.FunctionIdentifier,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .registerFunction(id, info, builder)

  /** Run `body` over `df`'s physical rows as one SQL execution, so that
    * listeners and the SQL UI see it as Dataset actions are seen; a
    * repeated run starts its SQL metrics from zero, as an action does. */
  def withExecution[T](df: DataFrame, name: String)(body: RDD[InternalRow] => T): T = {
    val qe = df.queryExecution
    qe.executedPlan.resetMetrics()
    SQLExecution.withNewExecutionId(qe, Some(name))(body(qe.toRdd))
  }

  /** Add to the running task's output metrics (their setters are
    * private[spark]); a writer that bypasses Hadoop reports its own. */
  def addOutputMetrics(bytes: Long, records: Long): Unit = {
    val m = TaskContext.get().taskMetrics().outputMetrics
    m.setBytesWritten(m.bytesWritten + bytes)
    m.setRecordsWritten(m.recordsWritten + records)
  }
}
