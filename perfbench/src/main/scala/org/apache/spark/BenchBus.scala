package org.apache.spark

/** Lets the benchmark wait until Spark's listener bus has delivered every
  * event posted so far, so the traced counts are complete when read. The
  * bus is package-private, hence this file's package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
