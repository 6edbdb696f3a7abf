package org.apache.spark

/** The listener bus is internal to Spark; the traced passes need to wait
  * until it has delivered every event of a pass before reading the spans.
  */
object PerfbenchBus {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
