package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.storage.StorageLevel

/** Minimal bridge into Spark's `private[sql]` Column <-> Expression
  * conversions, required to expose a custom Catalyst Expression as a
  * user-facing Column (the same mechanism third-party Spark
  * extensions use before registering via SparkSessionExtensions).
  */
object SqlBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a function builder on a live session's registry. */
  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")

  /** A lazy `localCheckpoint` of `df` at `level`, planned the way the
    * cache manager plans a cached query: final-stage shuffle
    * optimizations and auto bucketed scan are off, so AQE does not
    * coalesce the last stage and the checkpoint keeps the partitioning
    * (and partition count) that `persist()` would. The result is a
    * `LogicalRDD` leaf bound to `df`'s own session.
    *
    * Also returns the SQL metrics of the producer's executed plan. Jobs
    * that read the checkpoint before its first read completes still
    * run tasks that report to them, after that first read has cut the
    * lineage and left the plan unreachable: a caller that holds the
    * pin holds these too, or the DAGScheduler logs an error for every
    * update to a collected accumulator.
    */
  def lazyLocalCheckpoint(df: DataFrame, level: StorageLevel): (DataFrame, Seq[AnyRef]) = {
    val ds = df.asInstanceOf[Dataset[_]]
    val planning = SparkSession.getOrCloneSessionWithConfigsOff(ds.sparkSession, Seq(
      SQLConf.ADAPTIVE_EXECUTION_APPLY_FINAL_STAGE_SHUFFLE_OPTIMIZATIONS,
      SQLConf.AUTO_BUCKETED_SCAN_ENABLED))
    val producing = Dataset.ofRows(planning, ds.logicalPlan)
    val ckpt = producing.localCheckpoint(eager = false, level)
    val metrics = Plans.collectWithSubqueries(producing.queryExecution.executedPlan) {
      case p => p.metrics.values
    }.flatten
    (Dataset.ofRows(ds.sparkSession, ckpt.logicalPlan), metrics)
  }

  private object Plans extends AdaptiveSparkPlanHelper
}
