package org.apache.spark

/** Waits until the listener bus has delivered every event posted so far,
  * so a phase's counters are complete when it is read.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
