package org.apache.spark

/** Waits until every posted listener event has been delivered, so counters
  * read right after a job are complete. The bus is package-private. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
