package org.apache.spark

/** Lets a spec wait until every posted listener event has been delivered
  * before it reads what its own listener counted. `waitUntilEmpty` is
  * `private[spark]`, hence this package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
