package org.apache.spark

/** Lets the benchmark wait until the listener bus has delivered every
  * queued event, so span statistics are complete before they are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
