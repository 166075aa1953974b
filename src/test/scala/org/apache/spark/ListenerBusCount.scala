package org.apache.spark

/** Test access to a SparkContext's listener bus, which Spark keeps
  * private to its own packages. */
object ListenerBusCount {
  /** Listeners of class `cls` registered on `sc`'s bus, over all its
    * queues. */
  def apply(sc: SparkContext, cls: Class[_]): Int = {
    import scala.jdk.CollectionConverters._
    sc.listenerBus.listeners.asScala.count(cls.isInstance)
  }
}
