package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.{Partition, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.{LogicalRDD, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.metric.SQLMetric

/** Minimal private[sql] bridge: build a DataFrame from a custom
  * LogicalPlan. `Dataset.ofRows` is private[sql], so this one object
  * lives under org.apache.spark.sql — the standard pattern for Spark
  * extension libraries that introduce their own plan nodes.
  */
object Bridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `df` behind a lazy local checkpoint, re-rooted on the checkpoint
    * RDD with fresh attribute ids and nothing inherited: no origin
    * statistics, constraints, partitioning or ordering. The RDD holds
    * the SQL metrics of the plan it was cut from, so the task metric
    * updates of whichever job computes its blocks still find them on
    * the driver.
    */
  def lazyCheckpoint(df: DataFrame): DataFrame = {
    val c = df.localCheckpoint(eager = false)
    val r = c.queryExecution.logical.asInstanceOf[LogicalRDD]
    val metrics = PlanMetrics.of(df.queryExecution.executedPlan)
    val s = df.sparkSession.asInstanceOf[classic.SparkSession]
    ofRows(s, LogicalRDD(r.output.map(_.newInstance()), new PinnedRDD(r.rdd, metrics))(s))
  }

  private object PlanMetrics extends AdaptiveSparkPlanHelper {
    def of(plan: SparkPlan): Seq[SQLMetric] =
      collectWithSubqueries(plan) { case p => p.metrics.values }.flatten
  }

  /** `prev` as it is, plus a driver-side reference to `pins`. */
  private class PinnedRDD(prev: RDD[InternalRow], @transient private val pins: Seq[AnyRef])
      extends RDD[InternalRow](prev) {
    override def compute(split: Partition, context: TaskContext): Iterator[InternalRow] =
      firstParent[InternalRow].iterator(split, context)
    override protected def getPartitions: Array[Partition] = firstParent[InternalRow].partitions
  }

  /** The engine's own DIVIDE_BY_ZERO (QueryExecutionErrors is
    * private[sql]) — lets graft expressions throw the identical ANSI
    * error Spark's Divide throws.
    */
  def divideByZeroError(): ArithmeticException =
    org.apache.spark.sql.errors.QueryExecutionErrors.divideByZeroError(null)

  /** Column from a raw Catalyst Expression (the Column(expr) ctor is
    * private in Spark 4) — for graft expressions that carry non-Column
    * payloads (e.g. a codebook matrix) and so can't go through the
    * function registry.
    */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): org.apache.spark.sql.Column =
    classic.ExpressionUtils.column(e)

  /** The inverse: raw Catalyst Expression of a Column — for graft
    * expressions whose child is a caller-supplied Column expression
    * (not a plain attribute name).
    */
  def expression(c: org.apache.spark.sql.Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /** Drain the async listener bus (private[spark]) — dev-only probes
    * that read SparkListener counters right after an action need the
    * events flushed first.
    */
  def waitListenerBusEmpty(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
