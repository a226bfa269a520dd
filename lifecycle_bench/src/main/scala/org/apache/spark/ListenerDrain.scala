package org.apache.spark

/** Waits until the SparkContext's listener bus has delivered every event
  * posted so far, so job records are complete before they are attributed.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
