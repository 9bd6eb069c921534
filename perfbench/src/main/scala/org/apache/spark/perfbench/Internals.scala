package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics

/** The two engine internals the benchmark reads, behind Spark's package
  * boundary: draining the listener bus (so every event of a query has
  * been delivered before it is attributed) and the process-wide count of
  * whole-stage-codegen compilations.
  */
object Internals {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)

  def codegenCompiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
