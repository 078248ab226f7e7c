package org.apache.spark.sql.graftfn

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

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

  /** InternalRow-level mapPartitions: run `f` directly over the
    * plan's Tungsten rows and re-wrap the result as a DataFrame with
    * `outSchema` — NO external-Row round-trip (the
    * `Dataset.mapPartitions` + `Encoders.row` form deserializes and
    * re-serializes every field of every row; for a pass that only
    * APPENDS a value, that cost dominates). Partitioning is preserved.
    *
    * Contract is the standard operator contract: rows handed to `f`
    * may be backed by reused buffers — copy anything retained across
    * `next()` calls — and rows emitted by `f` may themselves reuse
    * buffers (consumers materialize at buffering boundaries). */
  def internalMapPartitions(df: DataFrame,
      outSchema: org.apache.spark.sql.types.StructType)(
      f: Iterator[org.apache.spark.sql.catalyst.InternalRow] =>
         Iterator[org.apache.spark.sql.catalyst.InternalRow]): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    val rdd = ds.queryExecution.toRdd
      .mapPartitions(f, preservesPartitioning = true)
    ds.sparkSession.internalCreateDataFrame(rdd, outSchema)
  }

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

  /** Block until every event posted so far has reached every listener
    * (`listenerBus` is `private[spark]`). Listener events, query
    * execution callbacks included, are delivered asynchronously. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
