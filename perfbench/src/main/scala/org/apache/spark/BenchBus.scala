package org.apache.spark

/** Waits until every listener event posted so far has been delivered.
  * Lives in Spark's package because the bus is private to it; the traced
  * run calls it at each span end so the span's counts are complete. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
