package org.apache.spark

/** Listener events arrive asynchronously; a caller that counts jobs or
  * stages (graft.tools.Measure, the specs) waits for the bus to empty
  * first. The bus is package-private, hence this bridge. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
