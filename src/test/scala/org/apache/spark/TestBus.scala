package org.apache.spark

/** The listener bus is package-private; a spec that counts jobs must see
  * every queued event before and after the batch it measures. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
