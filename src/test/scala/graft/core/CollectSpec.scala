package graft.core

import org.apache.spark.SpecBus

import graft.SparkSpec

/** Laws of the bounded collect every driver path goes through. */
class CollectSpec extends SparkSpec {

  test("atMost reads a 4- and a 16-partition frame in exactly one Spark job: Some at n rows, None at n + 1") {
    Seq(4, 16).foreach { parts =>
      val n = 40L
      // an RDD-backed frame: no known row bound lets Spark drop the limit,
      // and every partition holds rows, so an incremental take would need
      // a second job after the first partition's
      def frame(rows: Long) = spark.createDataFrame(
        spark.sparkContext.parallelize(0L until rows, parts).map(org.apache.spark.sql.Row(_)),
        new org.apache.spark.sql.types.StructType().add("id", org.apache.spark.sql.types.LongType))
      val exact = frame(n)
      var got: Option[Array[org.apache.spark.sql.Row]] = None
      assert(SpecBus.jobsOf(spark.sparkContext) { got = Collect.atMost(exact, n) } == 1, s"$parts partitions")
      assert(got.map(_.map(_.getLong(0)).toSeq) == Some((0L until n).toSeq), "rows keep partition order")
      val over = frame(n + 1)
      assert(SpecBus.jobsOf(spark.sparkContext) { got = Collect.atMost(over, n) } == 1, s"$parts partitions")
      assert(got.isEmpty)
    }
  }

  test("atMost over a driver-built frame runs no job; a non-positive bound never collects") {
    import spark.implicits._
    val local = Seq(1L, 2L, 3L).toDF("id").filter($"id" > 1L)
    var got: Option[Array[org.apache.spark.sql.Row]] = None
    assert(SpecBus.jobsOf(spark.sparkContext) { got = Collect.atMost(local, 2L) } == 0)
    assert(got.map(_.map(_.getLong(0)).toSeq) == Some(Seq(2L, 3L)))
    assert(Collect.atMost(local, 1L).isEmpty)
    assert(SpecBus.jobsOf(spark.sparkContext) { got = Collect.atMost(spark.range(5).toDF(), 0L) } == 0)
    assert(got.isEmpty)
  }

  test("atMost above the first job's partitions keeps reading until the bound is decided") {
    val df = spark.range(0L, 100L, 1L, 40).toDF("id")
    assert(Collect.atMost(df, 100L).map(_.length) == Some(100))
    assert(Collect.atMost(df, 99L).isEmpty)
    // nulls come back as they are
    val withNull = spark.range(0L, 3L, 1L, 2).selectExpr("IF(id = 1, NULL, id) AS v")
    assert(Collect.atMost(withNull, 3L).map(_.count(_.isNullAt(0))) == Some(1))
  }

  /** The serialized task results `op`'s jobs send to the driver, in bytes. */
  private def resultBytesOf(op: => Unit): Long = {
    val bytes = new java.util.concurrent.atomic.AtomicLong()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        Option(t.taskMetrics).foreach(m => bytes.addAndGet(m.resultSize))
    }
    SpecBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      op
      SpecBus.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    bytes.get
  }

  test("atMost bounds the bytes a job sends: 16+ partitions each above n + 1 rows ship the budget, not 16 (n + 1) rows") {
    val n = 20L
    val jobBytes = 64L << 10
    // 32 partitions of 50 rows of about 1 KiB: a task stopping at n + 1
    // rows alone would send 21 KiB, 16 of them 336 KiB in the first job
    val wide = spark.range(0L, 32L * 50L, 1L, 32).selectExpr("id", "repeat('x', 1024) AS s")
    var got: Option[Array[org.apache.spark.sql.Row]] = Some(Array.empty)
    var jobs = 0
    val shipped = resultBytesOf {
      jobs = SpecBus.jobsOf(spark.sparkContext) { got = Collect.atMost(wide, n, jobBytes) }
    }
    assert(got.isEmpty)
    assert(jobs == 1)
    // what a task result carries besides its rows (metrics, accumulators)
    val overhead = resultBytesOf { Collect.atMost(wide.where("id < 0"), n, jobBytes) }
    info(s"shipped $shipped bytes against a budget of $jobBytes (+ $overhead without rows)")
    assert(shipped <= jobBytes + overhead, s"$shipped bytes shipped for a $jobBytes-byte budget")
    assert(shipped - overhead < (n + 1) * 1024L * 4, "the rows shipped are within 4 (n + 1)")
  }

  test("atMost with a task cut short at its byte share below the bound reads the rows through Spark") {
    val df = spark.range(0L, 40L, 1L, 4).selectExpr("id", "repeat('y', 1024) AS s")
    // a 2 KiB share holds one row: every task is cut short after it, with
    // 4 rows seen of a bound of 100, so the count decides nothing
    val got = Collect.atMost(df, 100L, 8L << 10)
    assert(got.map(_.map(_.getLong(0)).toSeq) == Some((0L until 40L).toSeq))
    assert(Collect.atMost(df, 39L, 8L << 10).isEmpty)
  }
}
