package org.apache.spark

/** Blocks until every event posted so far has reached every listener,
  * so a test can read a listener's counts right after an action. The
  * bus's drain is package-private to Spark, hence this package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
