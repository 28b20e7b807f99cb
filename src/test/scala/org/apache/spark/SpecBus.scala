package org.apache.spark

/** The listener bus's drain is package-private; specs that read what a
  * listener saw call this instead of sleeping. */
object SpecBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
