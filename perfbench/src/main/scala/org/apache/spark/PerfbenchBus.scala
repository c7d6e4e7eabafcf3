package org.apache.spark

/** The one Spark-internal call the benchmark needs: block until the
  * listener bus has delivered every posted event, so a call's trace is
  * complete when the call is closed. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
