package org.apache.spark

/** Listeners registered on a context's bus — a spec checks that a
  * tool removes what it added. The bus is package-private, hence this
  * bridge. */
object BusListeners {
  def count(sc: SparkContext): Int = sc.listenerBus.listeners.size()
}
