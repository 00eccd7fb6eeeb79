package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so
  * counters read after a workload cover all of its jobs and tasks. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
