package org.apache.spark

/** Listener events arrive asynchronously; a reader that counts them
  * (`graft.core.WorkCounters`, the catalog tests) waits for the bus to
  * deliver everything posted so far. That wait is package-private in
  * Spark, hence this accessor in Spark's own package. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
