package org.apache.spark

/** The listener bus's drain is package-private; this is the one call the
  * benchmark needs from inside the package. */
object PerfbenchBus {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
