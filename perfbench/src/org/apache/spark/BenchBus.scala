package org.apache.spark

/** Listener events arrive asynchronously; the trace reads its counters
  * only after every event posted so far has been delivered. The drain
  * call is package-private to Spark, hence this one-line bridge. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
