package org.apache.spark.graftshim

import org.apache.spark.SparkContext

/** Test access to the listener bus, which is private to `org.apache.spark`. */
object ListenerBus {
  /** Blocks until every queued listener event has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
