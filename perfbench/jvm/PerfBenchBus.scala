package org.apache.spark

/** Listener-bus fence for the benchmark harness: returns once every
  * event posted so far has been delivered, so the next call's events
  * cannot be mixed with this call's.
  */
object PerfBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
