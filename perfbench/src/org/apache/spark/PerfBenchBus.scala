package org.apache.spark

/** The listener bus is private to Spark; the benchmark's traced passes
  * drain it at every phase boundary so each event is counted under the
  * phase that was open when it was posted.
  */
object PerfBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
