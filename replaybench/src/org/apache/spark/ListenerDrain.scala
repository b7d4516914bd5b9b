package org.apache.spark

/** Blocks until every event posted so far has reached the listeners, so the
  * counts read after a traced call cover that call. The bus is internal to
  * Spark, hence this package. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
