package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so
  * that counts read right after a span include all of its jobs. The bus is
  * package-private to Spark; this is the only reason the object lives in
  * Spark's package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
