package org.apache.spark

/** Waits until every event posted so far has reached the listeners, so
  * counters read after an operation include all of its tasks and
  * query executions. The listener bus is package-private to Spark.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
