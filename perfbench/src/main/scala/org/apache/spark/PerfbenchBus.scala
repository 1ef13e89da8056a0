package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a
  * trace read right after an action sees all of that action's events.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
