package org.apache.spark

/** The listener bus delivers events asynchronously. The tracer reads its
  * counters only after every event posted so far has been delivered;
  * the drain call is package-private to Spark, hence this bridge. */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
