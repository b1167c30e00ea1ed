package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a
  * pass's counters are complete before they are read. The bus's drain call
  * is package-private to Spark, hence this file's package.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
