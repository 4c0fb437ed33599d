package org.apache.spark

/** Blocks until every event posted so far has reached every listener.
  * `SparkContext.listenerBus` is private to Spark, hence this package.
  */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
