package org.apache.spark.graftspec

import org.apache.spark.metrics.source.CodegenMetrics

/** The Spark-internal reads the specs need, exposed from inside the
  * `org.apache.spark` package. */
object SpecBridge {

  /** Classes Spark's codegen has compiled since JVM start (the count of
    * its compilation-time histogram). */
  def codegenClasses(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
