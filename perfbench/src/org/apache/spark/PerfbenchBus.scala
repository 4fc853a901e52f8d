package org.apache.spark

/** The listener bus is package-private; the traced run must see every
  * queued job and stage event before it attributes them to spans. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
