package org.apache.spark

/** Listener events arrive on Spark's asynchronous bus. The benchmark
  * reads its listener totals only after the bus has delivered every event
  * of the pass it just timed; the bus itself is package-private. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
