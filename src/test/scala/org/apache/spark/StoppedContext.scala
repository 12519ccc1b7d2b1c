package org.apache.spark

/** Lets the shared test session outlive a suite that kills its context.
  * An `OutOfMemoryError` stops the SparkContext from another thread, and
  * until that stop finishes `SparkContext.getOrCreate` still hands out the
  * dying context, so every later suite would fail with "Cannot call
  * methods on a stopped SparkContext". `getActive` is `private[spark]`,
  * hence this package. */
object StoppedContext {

  /** Waits, up to `timeoutMs`, until no stopped context is still the
    * active one. */
  def awaitCleared(timeoutMs: Long = 120000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (SparkContext.getActive.exists(_.isStopped) && System.currentTimeMillis() < deadline)
      Thread.sleep(100)
  }
}
