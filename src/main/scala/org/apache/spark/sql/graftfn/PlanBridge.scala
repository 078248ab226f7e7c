package org.apache.spark.sql.graftfn

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.{CollectLimitExec, SQLExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Bridge from raw Catalyst [[LogicalPlan]]s to user-facing
  * DataFrames. `Dataset.ofRows` and the analyzed plan accessor are
  * `private[sql]` in Spark 4, so — like [[ColumnBridge]] — this
  * one-pager sits in an `org.apache.spark.sql` subpackage to reach
  * them. Needed by custom whole-operator nodes (e.g. the native as-of
  * join) that construct logical plans directly. */
object PlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def analyzed(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed

  /** A leaf [[org.apache.spark.sql.execution.SparkPlan]] over an
    * already-obtained InternalRow RDD (`RDDScanExec` is
    * `private[sql]`). Lets a custom physical operator that consumes
    * its child twice feed BOTH passes the same RDD object — pinning
    * one partition layout — instead of calling `child.execute()`
    * twice and trusting every subtree to return identical
    * partitionings. */
  def rddScan(output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute],
              rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
              name: String,
              partitioning: org.apache.spark.sql.catalyst.plans.physical.Partitioning)
      : org.apache.spark.sql.execution.SparkPlan =
    org.apache.spark.sql.execution.RDDScanExec(output, rdd, name, partitioning)

  /** `df.collect()` in no more jobs than a collect of its input when its
    * plan ends in a row limit: a `CollectLimitExec`, also as AQE's final
    * plan, runs its single-partition `execute()` (one job) instead of
    * `executeCollect`, which starts another job whenever the partitions
    * scanned so far hold too few rows. Other plans collect as usual.
    * Query execution listeners see the action as a `collect`. */
  def collectLimited(df: DataFrame): Array[Row] = {
    val qe = df.asInstanceOf[classic.Dataset[_]].queryExecution
    val toRow = CatalystTypeConverters.createToScalaConverter(df.schema)
    SQLExecution.withNewExecutionId(qe, Some("collect")) {
      qe.executedPlan match {
        case p @ (_: CollectLimitExec | _: AdaptiveSparkPlanExec) => p.execute().map(_.copy()).collect()
        case p => p.executeCollect()
      }
    }.map(toRow(_).asInstanceOf[Row])
  }

  /** Block until every event posted so far has reached every listener
    * (`listenerBus` is `private[spark]`). Listener events, query
    * execution callbacks included, are delivered asynchronously. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
