package org.apache.spark

/** Drains the listener bus, so a listener has seen every event of the
  * jobs that already returned before the benchmark reads its counters.
  */
object BenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
