package org.apache.spark

/** Package shim: `SparkContext.listenerBus` is `private[spark]`, so the
  * benchmark reaches it from inside the package (the same access
  * pattern as a package-private `Dataset` factory). Draining the bus
  * before reading listener counters replaces sleep-and-hope waits.
  */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
