package org.apache.spark

/** Lets the harness wait until every queued listener event is delivered,
  * so a pass's job, stage and Catalyst records are complete before they are
  * read. `listenerBus` is private to the `org.apache.spark` package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
