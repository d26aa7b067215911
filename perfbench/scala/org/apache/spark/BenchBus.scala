package org.apache.spark

/** The listener bus is private to Spark; the traced pass drains it so
  * every event of a call has reached the benchmark's listeners before
  * they are read and removed. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
