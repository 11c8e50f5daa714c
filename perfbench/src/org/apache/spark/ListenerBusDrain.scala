package org.apache.spark

/** Listener events arrive on an asynchronous bus; the benchmark reads
  * its listener only after every event of a call has been delivered.
  * The bus is package-private to Spark, hence this one-line bridge. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
