package org.apache.spark

/** The listener bus is package-private; the traced run drains it after
  * every operation so each listener event is attributed to the
  * operation that caused it. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
