package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics

/** The two Spark-internal reads the benchmark needs, kept in one place:
  * draining the listener bus before listener-derived numbers are read, and
  * Spark's own whole-stage-codegen compile histogram.
  */
object SparkHooks {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  /** (classes compiled so far, mean compile ms of the reservoir sample). */
  def codegen: (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean)
  }
}
