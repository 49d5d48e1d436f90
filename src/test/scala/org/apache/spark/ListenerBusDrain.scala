package org.apache.spark

/** Listener events arrive asynchronously; a spec that counts jobs waits
  * for the bus to empty first. The bus is package-private, hence this
  * bridge. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
