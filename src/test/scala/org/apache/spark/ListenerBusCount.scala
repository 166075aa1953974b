package org.apache.spark

/** Test access to a SparkContext's listener bus, which Spark keeps
  * private to its own packages. */
object ListenerBusCount {
  /** Listeners registered on `sc`'s bus, over all its queues. */
  def apply(sc: SparkContext): Int = sc.listenerBus.listeners.size
}
