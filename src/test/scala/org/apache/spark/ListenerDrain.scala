package org.apache.spark

/** Test access to the driver's listener bus: blocks until every event
  * posted so far has reached every listener, so a listener's counts are
  * complete right after the action that produced them.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
