package org.apache.spark

/** Waits until every posted listener event has been delivered, so a
  * caller can read what its own listener counted. `waitUntilEmpty` is
  * `private[spark]`, hence this package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
