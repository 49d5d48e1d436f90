package org.apache.spark

/** Listener events are delivered asynchronously; the traced run waits
  * for the bus to empty before it reads its counters. The bus is
  * package-private, hence this one-line bridge. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
