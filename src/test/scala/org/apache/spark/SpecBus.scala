package org.apache.spark

/** Test access to the listener bus: job-count laws drain it so every
  * event of the measured work is delivered before counting.
  */
object SpecBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
