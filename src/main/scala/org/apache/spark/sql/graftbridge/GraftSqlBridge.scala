package org.apache.spark.sql.graftbridge

import java.util.concurrent.{CompletableFuture, ExecutorService}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset, ExpressionColumnNode, SparkSession => ClassicSparkSession}
import org.apache.spark.sql.execution.SQLExecution

/** Bridge into `private[sql]` surface needed to hang a custom LogicalPlan
  * off the public DataFrame API (the standard extension-library idiom: a
  * tiny shim compiled into the org.apache.spark.sql namespace; everything
  * else in graft stays in its own packages).
  */
object GraftSqlBridge {

  /** Wrap a custom logical plan as a DataFrame. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[ClassicSparkSession], plan)

  /** The analyzed logical plan behind a DataFrame. */
  def logicalPlan(df: DataFrame): LogicalPlan =
    df.queryExecution.analyzed

  /** Wrap a raw Catalyst expression as a user-facing Column. */
  def column(e: Expression): Column = new Column(ExpressionColumnNode(e))

  /** The Catalyst expression behind a Column (classic converter). */
  def expression(spark: SparkSession, c: Column): Expression =
    spark.asInstanceOf[ClassicSparkSession].expression(c)

  /** Run `body` on `exec` with the caller's active session and local
    * properties (job group, job tags, any caller-set property), so jobs
    * it starts are attributed like the caller's own. */
  def withThreadLocalCaptured[T](spark: SparkSession, exec: ExecutorService)(body: => T): CompletableFuture[T] =
    SQLExecution.withThreadLocalCaptured(spark.asInstanceOf[ClassicSparkSession], exec)(body)
}
