package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** `SparkContext.listenerBus` is `private[spark]`; this package sits under
  * `org.apache.spark` only to reach it. */
object ListenerBus {
  /** Blocks until every queued listener event has been delivered, so job,
    * stage and query events of finished actions are all visible. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
