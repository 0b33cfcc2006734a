package org.apache.spark

/** The benchmark reads Spark's scheduler counters through listeners it
  * registers itself. Listener events arrive asynchronously, so before a
  * counter snapshot the harness waits for the bus to deliver everything
  * posted so far. That wait is package-private in Spark, hence this
  * accessor in Spark's own package. */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
