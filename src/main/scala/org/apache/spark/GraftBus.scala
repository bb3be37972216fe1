package org.apache.spark

/** Package shim: `SparkContext.listenerBus` is `private[spark]`, so the
  * profilers reach it from inside the package. Draining the bus before
  * reading listener counters makes them exact, where a sleep only makes
  * them likely.
  */
object GraftBus {
  def drain(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
