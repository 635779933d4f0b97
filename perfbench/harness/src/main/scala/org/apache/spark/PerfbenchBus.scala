package org.apache.spark

/** Waits until the listener bus has delivered every event posted so far.
  * `LiveListenerBus.waitUntilEmpty` is package-private, hence the package:
  * without it, task and job events of a call that has just returned may
  * still be queued when the harness reads its counters. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
