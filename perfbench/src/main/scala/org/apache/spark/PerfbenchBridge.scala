package org.apache.spark

/** The listener bus's drain is package-private to Spark; the benchmark
  * needs it to read complete task metrics after a run. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
