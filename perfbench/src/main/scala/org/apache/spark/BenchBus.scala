package org.apache.spark

/** Spark posts listener events asynchronously; a probe that reads its
  * counters must first wait until every event posted so far has been
  * delivered. `LiveListenerBus.waitUntilEmpty` does exactly that but is
  * `private[spark]`, hence this one-line bridge in Spark's package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
