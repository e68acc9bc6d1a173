package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * listener's counts are complete when the caller reads them.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
