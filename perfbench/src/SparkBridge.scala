package org.apache.spark

/** The one Spark-internal call the benchmark makes: waiting until the
  * listener bus has delivered every queued event, so the traced run's
  * per-operation counter snapshots are complete. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
