package org.apache.spark

/** Waits until every posted listener event has been delivered, so task
  * and stage counters read after an action include that action. The
  * listener bus is `private[spark]`, hence this package. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
