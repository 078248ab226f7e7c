package org.apache.spark.sql.graftbench

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The Spark-internal reads the tracer needs, exposed from inside the
  * `org.apache.spark.sql` package. */
object SparkBridge {

  /** Block until every event posted so far has reached every listener,
    * so span and count tables are complete before they are read. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The id of the QueryExecution an execution-end event reports, which
    * is how a QueryExecutionListener callback is matched to the SQL
    * execution id its jobs carry. */
  def queryExecutionId(e: SparkListenerSQLExecutionEnd): Option[Long] =
    Option(e.qe).map(_.id)

  /** (classes compiled, estimated total compile ms) since JVM start,
    * from Spark's codegen compilation-time histogram. The count is
    * exact; the time is count x the reservoir's mean. */
  def codegenTotals(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getCount * h.getSnapshot.getMean)
  }
}
