package org.apache.spark

/** Blocks until every event posted so far has reached every listener.
  * The harness calls it after each traced step (and after each iteration)
  * so counters read afterwards are complete; the bus is private to Spark.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
