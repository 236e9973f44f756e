package org.apache.spark

/** Waits until every posted listener event has been delivered, so the
  * harness reads complete counters after a pass. The bus is
  * `private[spark]`, hence this package.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
