package org.apache.spark

/** The listener bus's drain is package-private to Spark; this is the one
  * call the benchmark needs from inside that package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
