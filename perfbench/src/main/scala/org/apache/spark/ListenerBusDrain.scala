package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so
  * counters read after a run include its last jobs. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
