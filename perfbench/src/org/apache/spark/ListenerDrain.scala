package org.apache.spark

/** Waits until every posted listener event has been delivered, so numbers
  * read from a listener right after an action are complete. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
