package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Compat shim: `classic.ExpressionUtils` is `private[sql]` in Spark 4,
  * so the Column⇄Expression bridge lives inside the sql namespace (the
  * standard extension-library pattern). Single point of contact with
  * semi-public API — everything else in graft uses only this. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Build a DataFrame over a custom LogicalPlan (classic.Dataset.ofRows
    * is `private[sql]`). */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The plan object of the cache-manager entry serving `df`, if any.
    * Its identity tells one persist of a plan from a later persist of
    * the same plan (after a `clearCache`), which `storageLevel` cannot. */
  def cachedPlan(df: org.apache.spark.sql.DataFrame)
      : Option[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] =
    df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager
      .lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).map(_.plan)

  /** Free the storage of a `localCheckpoint()`ed DataFrame. The blocks
    * live on the backing checkpointed RDD (not in the cache manager),
    * so `Dataset.unpersist()` cannot reach them; iterative drivers that
    * checkpoint per round must release prior generations through the
    * LogicalRDD node or leak one generation per iteration. No-op for
    * non-checkpoint plans. */
  def unpersistCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(blocking = false)
      case _ =>
    }
}
