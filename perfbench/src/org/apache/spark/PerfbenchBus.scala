package org.apache.spark

/** Lets the benchmark's traced run wait for the listener bus to deliver
  * every posted event before it reads the listeners' records (the bus
  * accessor is package-private to Spark). */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
