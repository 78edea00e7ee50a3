package org.apache.spark

/** Drains the listener bus so every event of a finished span has been
  * delivered before the tracer attributes it (the bus is async). */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
