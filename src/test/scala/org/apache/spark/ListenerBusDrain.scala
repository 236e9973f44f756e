package org.apache.spark

/** Waits until every posted listener event has been delivered, so a
  * bench harness reads complete per-job counters. The bus is
  * `private[spark]`, hence this package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
