package org.apache.spark

/** Drains the listener bus so that every event of a finished window has
  * reached the benchmark's listener before its counters are read. The bus
  * is package-private to Spark, hence this one-method bridge.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
