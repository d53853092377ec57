package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a
  * pass's task metrics are all in before they are summed.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
