package org.apache.spark

/** The one private-API touch of the benchmark: listener events are
  * delivered asynchronously, so counters read at a span boundary are
  * only complete once the bus has drained every event posted before it. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
