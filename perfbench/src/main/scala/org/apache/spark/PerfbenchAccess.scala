package org.apache.spark

/** The one Spark-internal call the benchmark needs: waiting for the
  * listener bus to deliver every event posted so far, so job and stage
  * counts are complete before they are reported.
  */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
