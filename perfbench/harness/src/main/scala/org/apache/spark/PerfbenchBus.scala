package org.apache.spark

/** Access to Spark's listener bus, which is package-private. */
object PerfbenchBus {

  /** Block until every event posted so far has reached the listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
