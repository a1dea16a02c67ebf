package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** MV cost-curvature measurement (VERDICT r17 #5): the claim under test
  * is "refresh prices at the CHANGE, never the table" — so CREATE cost
  * must grow roughly linearly with the fact while REFRESH-after-one-
  * bounded-INSERT stays flat. Builds an hourly-keyed MV over an
  * events-derived day-partitioned fact from the given fixture dir, then
  * times create, one single-day upsert + refresh, and a no-op refresh.
  *
  * Usage: runMain graft.tools.MvScale <fixtureDir> <scratchDir> [label]
  * Runs at `local[SPARK_GRAFT_CPUS]`, default the machine's processor
  * count. Prints one JSON line: {"label":…,"rows":N,"create_s":…,
  * "upsert_s":…,"refresh_s":…,"refresh_jobs":N,"noop_s":…,"groups":N};
  * `refresh_jobs` counts the Spark jobs the timed refresh started.
  */
object MvScale {

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val scratch = args(1)
    val label = if (args.length > 2) args(2) else src
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession
      .builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", classOf[graft.plans.GraftExtensions].getName)
      .getOrCreate()
    graft.core.GraftSession.tune(spark)
    spark.sparkContext.setLogLevel("ERROR")

    val base = new org.apache.hadoop.fs.Path(scratch)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(base)) fs.delete(base, true)
    val dir = new org.apache.hadoop.fs.Path(base, "ev").toString
    val mv = new org.apache.hadoop.fs.Path(base, "hourly").toString

    // the fixture's events, micro-scaled, day-partitioned — the shape a
    // TSDB fact lands in (the hourly MV's narrowing rides the day dirs +
    // per-file ts stats)
    val ev = graft.core.Tables.events(spark, src)
    val rows = ev.count()
    val tsKey = "spark.sql.parquet.outputTimestampType"
    spark.conf.set(tsKey, "TIMESTAMP_MICROS")
    graft.sources.Sources.writeParquet(
      ev.select(
          col("ts"),
          floor(col("value") * lit(1000000.0) + lit(0.5)).cast("long").as("u"),
          to_date(col("ts")).cast("string").as("day"))
        .repartition(col("day")),
      dir, Seq("day"))
    graft.sources.Snapshots.commit(spark, dir, Seq("day", "ts"))

    def timed[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    }

    val (_, createS) = timed {
      graft.sources.Mv.create(
        spark, dir, mv, Seq("h"), Seq("count(*) AS n_rows", "sum(u) AS u_tot"),
        keyExprs = Map("h" -> "date_trunc('hour', ts)"))
    }
    val groups = graft.sources.Snapshots.readSnapshot(spark, mv).count()

    // ONE bounded change: a single-row upsert into one existing day
    // partition-dir inference types `day` as DATE on read — render back
    val someDay =
      spark.read.parquet(dir).select(max(col("day")).cast("string")).head().getString(0)
    val oneRow = spark.sql(
      s"SELECT TIMESTAMP'${someDay} 01:30:00' AS ts, CAST(7 AS BIGINT) AS u, '$someDay' AS day")
    val (_, upsertS) = timed {
      graft.sources.DeleteVectors.upsert(spark, dir, oneRow, Seq("day", "ts"))
    }
    // the refresh's Spark jobs, counted by a listener on this session
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val counter = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    org.apache.spark.sql.graft.Bridge.drainListeners(spark.sparkContext)
    spark.sparkContext.addSparkListener(counter)
    val (_, refreshS) = timed(graft.sources.Mv.refresh(spark, mv))
    org.apache.spark.sql.graft.Bridge.drainListeners(spark.sparkContext)
    spark.sparkContext.removeSparkListener(counter)
    val refreshJobs = jobs.get()
    val (_, noopS) = timed(graft.sources.Mv.refresh(spark, mv))

    println(
      s"""{"label":"$label","rows":$rows,"create_s":${f"$createS%.2f"},""" +
        s""""upsert_s":${f"$upsertS%.2f"},"refresh_s":${f"$refreshS%.2f"},""" +
        s""""refresh_jobs":$refreshJobs,""" +
        s""""noop_s":${f"$noopS%.2f"},"groups":$groups}""")
    fs.delete(base, true)
    spark.stop()
  }
}
