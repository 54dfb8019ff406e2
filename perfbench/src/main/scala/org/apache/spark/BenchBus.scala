package org.apache.spark

/** Blocks until every posted listener event has been delivered, so a traced
  * rep's spans are complete before they are read. The bus is private to
  * Spark; this accessor is the only reason the file lives in its package.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
