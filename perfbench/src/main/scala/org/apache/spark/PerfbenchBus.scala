package org.apache.spark

/** Lets the benchmark wait until its listener has seen every event
  * posted so far (the listener bus is asynchronous and package-private).
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
