package org.apache.spark

/** Waits until every event posted so far reached every listener, so a
  * test's `SparkListener` counts are complete when it reads them.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
