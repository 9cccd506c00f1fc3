package org.apache.spark

/** Confined bridge to the driver's listener bus: `listenerBus` is
  * `private[spark]`, so the benchmark reaches it from this package only.
  * Draining before reading listener counters makes every count
  * deterministic without sleeping.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
