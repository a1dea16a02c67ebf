package org.apache.spark

/** Test access to the listener bus: job-count laws drain it so every
  * event of the measured work is delivered before counting.
  */
object SpecBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The Spark jobs `op` starts, counted with every event delivered. */
  def jobsOf(sc: SparkContext)(op: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    drain(sc)
    sc.addSparkListener(listener)
    try {
      op
      drain(sc)
    } finally sc.removeSparkListener(listener)
    jobs.get()
  }
}
