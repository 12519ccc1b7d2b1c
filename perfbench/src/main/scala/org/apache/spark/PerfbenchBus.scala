package org.apache.spark

/** The listener bus delivers events asynchronously; the tracer waits for
  * it to drain before it reads its counters. `waitUntilEmpty` is
  * package-private to Spark, hence this one-method bridge. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
