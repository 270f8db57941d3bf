package org.apache.spark

import org.apache.spark.metrics.source.CodegenMetrics

/** Access to two engine internals Spark keeps package-private: the
  * listener bus drain (the traced run reads its listener's per-span sums
  * only after every task-end event of an iteration has been delivered)
  * and the JVM-wide count of generated classes compiled. */
object E2eBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  def codegenCompiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
