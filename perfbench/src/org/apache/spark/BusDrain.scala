package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a
  * listener's counters for the jobs that just ended are complete.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
