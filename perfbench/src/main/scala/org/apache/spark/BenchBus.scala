package org.apache.spark

/** Waits until the listener bus has delivered every event posted so far,
  * so the tracer's counters are complete when an iteration is read. The
  * bus is package-private to Spark; this accessor lives in Spark's package
  * for that reason only. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
