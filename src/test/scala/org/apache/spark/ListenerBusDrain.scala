package org.apache.spark

/** Test access to the `private[spark]` listener bus: block until every
  * posted event (query-execution callbacks included) has been delivered. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
