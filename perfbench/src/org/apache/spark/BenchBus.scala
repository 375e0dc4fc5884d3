package org.apache.spark

/** Waits until Spark's asynchronous listener bus has delivered every posted
  * event, so the traced run reads complete counters at span boundaries.
  * `listenerBus` is package-private, hence this file's package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
