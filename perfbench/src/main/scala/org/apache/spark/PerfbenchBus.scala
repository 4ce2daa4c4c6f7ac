package org.apache.spark

/** Listener events arrive asynchronously; the recorder reads its counters
  * only after the bus has delivered everything posted so far. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
