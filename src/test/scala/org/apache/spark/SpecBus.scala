package org.apache.spark

/** Test access to the listener bus: job-count laws drain it so every
  * event of the measured work is delivered before counting.
  */
object SpecBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The call site (long form: the driver stack that started it) of each
    * Spark job `op` starts, in start order, with every event delivered.
    */
  def jobSitesOf(sc: SparkContext)(op: => Unit): Seq[String] = {
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        sites.add(j.stageInfos.map(_.details).mkString("\n")); ()
      }
    }
    drain(sc)
    sc.addSparkListener(listener)
    try {
      op
      drain(sc)
    } finally sc.removeSparkListener(listener)
    scala.jdk.CollectionConverters.CollectionHasAsScala(sites).asScala.toSeq
  }

  /** The Spark jobs `op` starts, counted with every event delivered. */
  def jobsOf(sc: SparkContext)(op: => Unit): Int = jobSitesOf(sc)(op).size
}
