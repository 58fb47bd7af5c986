package org.apache.spark

/** Listener counters are read only once every queued event has been
  * delivered; the bus drain that needs is `private[spark]`.
  */
object GraftBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
