package org.apache.spark

/** Test access to the SparkContext's private listener bus: blocks until
  * every event posted so far has reached its listeners, so a listener's
  * counts are complete once the action that produced them returns. */
object ListenerBusFlush {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
