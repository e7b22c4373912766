package org.apache.spark

/** Waits until Spark's asynchronous listener bus has delivered every
  * posted event. The bus is `private[spark]`, hence this package. */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
