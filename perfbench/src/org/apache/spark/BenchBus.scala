package org.apache.spark

/** The listener bus drain is `private[spark]`; the benchmark needs it so
  * every task of a span has been counted before the span's numbers are read. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
