package org.apache.spark

/** Waits until every event posted so far has reached every listener. The
  * listener bus is asynchronous, and its drain hook is package-private to
  * Spark, hence this object's package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
