package org.apache.spark

/** Reaches the listener bus, which Spark keeps package-private, so the
  * benchmark can read its listener only after every event was delivered. */
object PerfbenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
