package org.apache.spark

/** Lets the benchmark wait for Spark's listener bus to deliver every
  * queued event before it reads listener totals (the hook is
  * package-private to Spark).
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
