package org.apache.spark

/** Listener events are delivered asynchronously; the benchmark reads its
  * listeners only after every event posted so far has been handled. The
  * bus is private to Spark, hence this accessor in Spark's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
