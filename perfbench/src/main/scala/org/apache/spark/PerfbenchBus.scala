package org.apache.spark

/** Spark keeps its listener bus package-private; the benchmark needs it
  * drained before it reads what its listeners recorded. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
