package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the
  * benchmark's tracer waits for it to empty so that every task and query
  * event of a span is recorded before the span's counts are read.
  */
object BenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(120000L)
}
