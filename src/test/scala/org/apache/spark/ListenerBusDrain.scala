package org.apache.spark

/** Listener events are delivered asynchronously; a spec that counts them
  * reads its listener only after every event posted so far has been
  * handled. The bus is private to Spark, hence this accessor in Spark's
  * package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
