package org.apache.spark

/** Compile-time bridge to the `private[spark]` listener bus: waits until
  * every posted event has been delivered, so a listener read afterwards
  * has seen the jobs that were started before the call. */
object GraftListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
