package org.apache.spark

/** Listener events reach listeners asynchronously. The benchmark reads a
  * round's or a query's observations only after the bus has delivered
  * every event posted so far; the drain call is package-private to Spark,
  * hence this one-method bridge. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
