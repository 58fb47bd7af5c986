package org.apache.spark

/** The benchmark reads its listener counters only once every queued
  * event has been delivered; the bus drain it needs is `private[spark]`.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
