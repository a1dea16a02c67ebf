package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SourcesSpec extends SparkSpec {

  test("csv and json round-trip the events table losslessly") {
    val ev = graft.core.Tables.events(spark, sf).drop("props") // commas inside json break naive csv
    val dir = Files.createTempDirectory("src").toString

    Sources.writeCsv(ev, s"$dir/csv")
    val csvBack = Sources.readCsv(spark, s"$dir/csv", ev.schema)
    assert(csvBack.count() == ev.count())
    // tolerance, not equality: double summation order differs between the
    // spread (repartitioned) scan and the read-back files
    assert(
      math.abs(csvBack.agg(sum("value")).head.getDouble(0) -
        ev.agg(sum("value")).head.getDouble(0)) < 1e-6)

    val full = graft.core.Tables.events(spark, sf)
    Sources.writeJson(full, s"$dir/json")
    val jsonBack = Sources.readJson(spark, s"$dir/json", full.schema)
    assert(jsonBack.count() == full.count())
    assert(
      jsonBack.agg(sum("event_id")).head.getLong(0) == full.agg(sum("event_id")).head.getLong(0))
  }

  test("orc round-trips with zstd and pushes filters to the scan") {
    import org.apache.spark.sql.functions._
    val ev = graft.core.Tables.events(spark, sf)
    val dir = Files.createTempDirectory("orc").toString
    Sources.writeOrc(ev, s"$dir/orc")
    val back = Sources.readOrc(spark, s"$dir/orc")
    assert(back.count() == ev.count())
    assert(
      back.agg(sum("event_id")).head.getLong(0) == ev.agg(sum("event_id")).head.getLong(0))
    val pruned = back.filter(col("event_type") === "error").select("event_id")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(event_type), EqualTo(event_type,error)]"), plan)
  }

  test("bucketed tables join without a shuffle") {
    import org.apache.spark.sql.functions._
    val li = graft.core.Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
    val o = graft.core.Tables.orders(spark, sf).select("o_orderkey", "o_totalprice")
    // a prior JVM's managed-table dirs survive in spark-warehouse while the
    // in-memory catalog starts empty — clear both sides first
    Seq("li_bucketed", "o_bucketed").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(s"spark-warehouse/$t")
      if (loc.exists()) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete()
        }
        rm(loc)
      }
    }
    Sources.writeBucketedTable(li, "li_bucketed", "l_orderkey", 8)
    Sources.writeBucketedTable(o, "o_bucketed", "o_orderkey", 8)
    val joined = spark
      .table("li_bucketed")
      .join(spark.table("o_bucketed"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).as("q"))
    // disable broadcast so the join strategy itself is under test
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange hashpartitioning"), plan) // buckets are pre-shuffled
      assert(joined.count() == li.select("l_orderkey").distinct().count())
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("partitioned parquet sink enables partition pruning on read") {
    val ev = graft.core.Tables.events(spark, sf)
    val dir = Files.createTempDirectory("src").toString
    Sources.writeParquet(ev, s"$dir/by_type", Seq("event_type"))
    // physical layout: one dir per event_type
    val dirs = new java.io.File(s"$dir/by_type").listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.count(_.startsWith("event_type=")) == 5)
    val pruned = Sources.readParquet(spark, s"$dir/by_type").filter(col("event_type") === "error")
    // plan must show partition filters, not a data filter over everything
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(event_type"), plan)
    assert(pruned.count() == ev.filter(col("event_type") === "error").count())
  }

  test("q76 day-range predicate lands in PartitionFilters and prunes to 3 of 30 days") {
    val q = graft.queries.EventQueries.q76(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(day"), plan)
    assert(plan.contains("2024-01-10") && plan.contains("2024-01-12"), plan)
    // pruning happens at file-listing time: the scan's file index keeps
    // only the 3 matching day directories out of 30 (unwrap AQE — its
    // children are not visible to collect until execution)
    val physical = q.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }
    val scans = physical.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    val nParts = org.apache.spark.sql.graft.Bridge.selectedPartitionCount(scans.head)
    assert(nParts == 3, s"expected 3 day partitions, got $nParts")
    // and the answer equals the same aggregate over the unpartitioned table
    val direct = graft.core.Tables
      .events(spark, sf)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      .filter(col("day") >= "2024-01-10" && col("day") <= "2024-01-12")
      .groupBy(col("day"), col("event_type"))
      .agg(count(lit(1)).as("n"), graft.core.Det.r2(sum(col("value"))).as("sv"))
    assert(q.exceptAll(direct).count() == 0 && direct.exceptAll(q).count() == 0)
  }

  test("compaction collapses a small-files dataset and preserves the data") {
    val docs = graft.core.Tables.documents(spark, sf)
    val dir = Files.createTempDirectory("compact").toString
    docs.repartition(64).write.parquet(s"$dir/small") // the small-files problem
    def parts(p: String): Array[java.io.File] =
      new java.io.File(p).listFiles().filter(_.getName.endsWith(".parquet"))
    assert(parts(s"$dir/small").length == 64)

    Sources.compactParquet(spark, s"$dir/small", s"$dir/big", targetBytes = 64L * 1024 * 1024)
    val after = parts(s"$dir/big")
    assert(after.length < 8, s"expected few files, got ${after.length}")
    val back = spark.read.parquet(s"$dir/big")
    assert(back.count() == docs.count())
    assert(
      back.agg(sum("doc_id")).head.getLong(0) == docs.agg(sum("doc_id")).head.getLong(0))
  }

  test("sorted compaction yields disjoint per-file key ranges (file-level pruning)") {
    val docs = graft.core.Tables.documents(spark, sf)
    val dir = Files.createTempDirectory("compactsort").toString
    docs.repartition(16).write.parquet(s"$dir/small")
    // tiny target forces multiple output files so the range claim is testable
    Sources.compactParquet(
      spark, s"$dir/small", s"$dir/sorted", targetBytes = 16L * 1024, sortCols = Seq("doc_id"))
    val bands = spark.read
      .parquet(s"$dir/sorted")
      .groupBy(input_file_name().as("f"))
      .agg(min("doc_id").as("lo"), max("doc_id").as("hi"))
      .collect()
      .map(r => (r.getAs[Long]("lo"), r.getAs[Long]("hi")))
      .sortBy(_._1)
    assert(bands.length > 1, "expected multiple output files")
    bands.zip(bands.tail).foreach { case ((_, hi), (lo2, _)) =>
      assert(hi < lo2, s"file key ranges overlap: hi=$hi lo2=$lo2")
    }
  }

  test("dynamic partition overwrite restates one day without touching the rest") {
    import spark.implicits._
    val dir = Files.createTempDirectory("dynover").toString
    val base = Seq(
      (1L, "2024-01-01", 10.0),
      (2L, "2024-01-01", 11.0),
      (3L, "2024-01-02", 20.0),
      (4L, "2024-01-03", 30.0)).toDF("id", "day", "v")
    Sources.writeParquet(base, dir, partitionCols = Seq("day"))
    // restate ONLY day 2 (correcting its values); days 1 and 3 keep files
    val restated = Seq((30L, "2024-01-02", 99.0)).toDF("id", "day", "v")
    Sources.overwritePartitionsDynamic(restated, dir, Seq("day"))
    val after = spark.read.parquet(dir)
    assert(after.filter($"day" === "2024-01-02").collect().map(r => (r.getAs[Long]("id"), r.getAs[Double]("v"))).toSet == Set((30L, 99.0)))
    // untouched partitions: all original rows still present
    assert(after.filter($"day" === "2024-01-01").count() == 2)
    assert(after.filter($"day" === "2024-01-03").count() == 1)
    assert(after.count() == 4)
  }

  test("z-ordered layout prunes 2-D box queries better than a 1-D range layout") {
    import spark.implicits._
    // uniform 8-bit grid — both dims carry equal significance
    val grid = (0 until 4096)
      .map { i => ((i * 2654435761L) & 255L, (i * 40503L + 17L) & 255L) }
      .toDF("x", "y")
    val dir = Files.createTempDirectory("zorder").toString
    Sources.writeZOrdered(grid, s"$dir/z", "x", "y", files = 16, bits = 8)
    grid
      .repartitionByRange(16, col("x"))
      .sortWithinPartitions(col("x"))
      .write
      .parquet(s"$dir/x")
    def filesTouched(path: String): Int = {
      val bbox = spark.read
        .parquet(path)
        .groupBy(input_file_name().as("f"))
        .agg(min("x").as("x0"), max("x").as("x1"), min("y").as("y0"), max("y").as("y1"))
        .collect()
      val boxes = for (bx <- 0 until 4; by <- 0 until 4)
        yield (bx * 64L, bx * 64L + 63L, by * 64L, by * 64L + 63L)
      boxes.map { case (qx0, qx1, qy0, qy1) =>
        bbox.count { r =>
          r.getAs[Long]("x0") <= qx1 && qx0 <= r.getAs[Long]("x1") &&
          r.getAs[Long]("y0") <= qy1 && qy0 <= r.getAs[Long]("y1")
        }
      }.sum
    }
    val zTouched = filesTouched(s"$dir/z")
    val xTouched = filesTouched(s"$dir/x")
    // the driver for parquet's min/max file skipping: fewer candidate files
    assert(
      zTouched * 4 <= xTouched * 3,
      s"z layout should touch materially fewer files: z=$zTouched vs x=$xTouched")
  }

  test("deleteWhere rewrites only the files holding matching rows (stats-pruned targeted delete)") {
    val ev = graft.core.Tables.events(spark, sf)
    val dir = Files.createTempDirectory("gdpr").toString
    // range-clustered layout on user_id → disjoint per-file key ranges, so
    // the delete predicate prunes to the one file holding the user
    ev.repartitionByRange(8, col("user_id"))
      .sortWithinPartitions(col("user_id"))
      .write
      .parquet(s"$dir/t")
    val before = new java.io.File(s"$dir/t")
      .listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> (f.lastModified(), f.length()))
      .toMap
    assert(before.size == 8)
    val victim = ev.selectExpr("min(user_id)").collect().head.getLong(0)
    val nVictim = ev.filter(col("user_id") === victim).count()
    assert(nVictim > 0)
    val (files, rows) = Sources.deleteWhere(spark, s"$dir/t", col("user_id") === victim)
    assert(rows == nVictim)
    assert(files == 1L, s"range-clustered layout should localize one user to one file, rewrote $files")
    val after = new java.io.File(s"$dir/t")
      .listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> (f.lastModified(), f.length()))
      .toMap
    // untouched files byte-identical in place
    assert(after.count { case (n, st) => before.get(n).contains(st) } == 7)
    val back = Sources.readParquet(spark, s"$dir/t")
    assert(back.filter(col("user_id") === victim).count() == 0)
    assert(back.count() == ev.count() - nVictim)
    // no-match predicate: zero rewrites, layout untouched
    val (f2, r2) = Sources.deleteWhere(spark, s"$dir/t", col("user_id") === -1L)
    assert(f2 == 0L && r2 == 0L)
  }

  test("deleteWhere keeps rows where the predicate is NULL (three-valued logic)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("gdpr_null").toString
    // user_id nullable: NULL rows must survive a delete on user_id === k —
    // the predicate evaluates NULL there, which is "not matched", not TRUE
    Seq(
      (Some(1L), "a"),
      (None: Option[Long], "keep-null-1"),
      (Some(2L), "b"),
      (None: Option[Long], "keep-null-2"),
      (Some(1L), "c"))
      .toDF("user_id", "payload")
      .coalesce(1)
      .write
      .parquet(s"$dir/t")
    val (files, rows) = Sources.deleteWhere(spark, s"$dir/t", col("user_id") === 1L)
    assert(files == 1L && rows == 2L)
    val back = Sources.readParquet(spark, s"$dir/t")
    assert(back.count() == 3L)
    assert(back.filter(col("user_id").isNull).count() == 2L, "NULL-predicate rows silently deleted")
    assert(back.filter(col("payload").startsWith("keep-null")).count() == 2L)
  }

  test("updateWhere: old-row SET semantics, NULL predicate rows untouched, only matching files rewritten") {
    import spark.implicits._
    val dir = Files.createTempDirectory("upd").toString + "/t"
    // two files: ids 1-3 and 10-12; the update matches only the first
    Seq((1L, 10L, 100L), (2L, 20L, 200L), (3L, 30L, 300L))
      .toDF("id", "n", "u")
      .coalesce(1)
      .write
      .parquet(dir)
    Seq((10L, 1L, 1L), (11L, 2L, 2L), (12L, 3L, 3L))
      .toDF("id", "n", "u")
      .coalesce(1)
      .write
      .mode("append")
      .parquet(dir)
    val before = new java.io.File(dir)
      .listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> (f.lastModified(), f.length()))
      .toMap
    assert(before.size == 2)
    // SET n = n*2, u = u + n: the `+ n` must use the OLD n
    val (files, rows) = Sources.updateWhere(
      spark,
      dir,
      col("id") <= 3L,
      Map("n" -> (col("n") * 2), "u" -> (col("u") + col("n"))))
    assert(files == 1L && rows == 3L)
    val back = Sources
      .readParquet(spark, dir)
      .orderBy("id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(back.take(3).toSeq == Seq((1L, 20L, 110L), (2L, 40L, 220L), (3L, 60L, 330L)),
      s"old-row semantics violated: ${back.take(3).toSeq}")
    assert(back.drop(3).toSeq == Seq((10L, 1L, 1L), (11L, 2L, 2L), (12L, 3L, 3L)))
    // the unmatched file was never rewritten
    val after = new java.io.File(dir)
      .listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> (f.lastModified(), f.length()))
      .toMap
    assert(after.count { case (n, st) => before.get(n).contains(st) } == 1)
    // NULL predicate row is not matched; partition-column SET is refused
    val pdir = Files.createTempDirectory("upd_p").toString + "/t"
    Seq((Some(1L), "2024-01-01", 5L), (None: Option[Long], "2024-01-01", 7L))
      .toDF("id", "day", "n")
      .write
      .partitionBy("day")
      .parquet(pdir)
    val (_, r2) = Sources.updateWhere(spark, pdir, col("id") === 1L, Map("n" -> (col("n") + 1)))
    assert(r2 == 1L)
    val rows2 = Sources.readParquet(spark, pdir).orderBy("n").select("n").as[Long].collect()
    assert(rows2.toSeq == Seq(6L, 7L), "NULL-id row must be untouched")
    val e = intercept[Exception] {
      Sources.updateWhere(spark, pdir, col("n") > 0L, Map("day" -> lit("2024-02-02")))
    }
    assert(e.getMessage.contains("partition column"), e.getMessage)
  }

  test("deleteWhere narrows its match scan to bloom-admitting files on a bloom-indexed table") {
    val dir = Files.createTempDirectory("gdpr_bloom").toString + "/t"
    // 8 round-robin files over id 0..799: stats can't localize a point
    spark
      .range(0L, 800L)
      .select(col("id"), (col("id") % 5).as("v"))
      .repartition(8)
      .write
      .parquet(dir)
    Snapshots.commit(spark, dir, Seq("id"), Seq("id"))
    // count records read across the delete: with bloom narrowing the
    // match scan touches 1-2 files (~100 rows each) plus the one-file
    // rewrite; without it the scan alone reads all 800 rows
    val read = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        read.addAndGet(t.taskMetrics.inputMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val (files, rows) = Sources.deleteWhere(spark, dir, col("id") === 123L)
      assert(files == 1L && rows == 1L)
      // drain the async listener bus: poll until no new task events land
      var last = -1L
      var spins = 0
      while (read.get() != last && spins < 40) { last = read.get(); Thread.sleep(250); spins += 1 }
      assert(read.get() < 500L, s"match scan read ${read.get()} records — bloom narrowing inactive")
    } finally spark.sparkContext.removeSparkListener(listener)
    // correctness unchanged: the row is gone, everything else survives
    val back = Sources.readParquet(spark, dir)
    assert(back.count() == 799L && back.filter(col("id") === 123L).count() == 0L)
    // a predicate no bloom can narrow (range) still deletes correctly
    val (_, r2) = Sources.deleteWhere(spark, dir, col("id") >= 790L)
    assert(r2 == 10L && Sources.readParquet(spark, dir).count() == 789L)
  }

  test("mergeIntoPartitioned rewrites only delta-touched partitions; the rest stay byte-identical") {
    import spark.implicits._
    val dir = Files.createTempDirectory("merge").toString + "/t"
    val base = Seq(
      (1L, "2024-01-01", 10.0),
      (2L, "2024-01-01", 11.0),
      (3L, "2024-01-02", 20.0),
      (4L, "2024-01-03", 30.0)).toDF("id", "day", "v")
    Sources.writeParquet(base, dir, partitionCols = Seq("day"))
    def fileBytes(day: String): Map[String, Seq[Byte]] = {
      val d = new java.io.File(s"$dir/day=$day")
      d.listFiles().filter(_.getName.endsWith(".parquet")).map { f =>
        f.getName -> java.nio.file.Files.readAllBytes(f.toPath).toSeq
      }.toMap
    }
    val before1 = fileBytes("2024-01-01")
    val before3 = fileBytes("2024-01-03")
    // delta: update id=3 (matched → update), insert id=5 into day 2
    // (not matched → insert), and open a brand-new day-4 partition
    val delta = Seq(
      (3L, "2024-01-02", 99.0),
      (5L, "2024-01-02", 21.0),
      (6L, "2024-01-04", 40.0)).toDF("id", "day", "v")
    val affected = Sources.mergeIntoPartitioned(spark, dir, delta, "day", Seq("id"))
    assert(affected == Seq("2024-01-02", "2024-01-04"))
    // untouched partitions: the exact same files with the exact same bytes
    assert(fileBytes("2024-01-01") == before1)
    assert(fileBytes("2024-01-03") == before3)
    val after = spark.read.parquet(dir)
    assert(after.filter($"day" === "2024-01-02").collect().map(r => (r.getAs[Long]("id"), r.getAs[Double]("v"))).toSet
      == Set((3L, 99.0), (5L, 21.0)))
    assert(after.filter($"day" === "2024-01-04").collect().map(r => (r.getAs[Long]("id"), r.getAs[Double]("v"))).toSet
      == Set((6L, 40.0)))
    assert(after.count() == 6)
    // no staging leftovers visible to readers or the filesystem
    assert(!new java.io.File(dir).list().exists(_.startsWith(".stage-")))
    // idempotent: re-merging the same delta changes nothing
    Sources.mergeIntoPartitioned(spark, dir, delta, "day", Seq("id"))
    assert(spark.read.parquet(dir).count() == 6)
  }

  test("readParquetEvolved unions footer schemas; old files null-fill added columns") {
    import spark.implicits._
    val dir = Files.createTempDirectory("evolve").toString + "/t"
    // generation 1 writes (id, v); generation 2 appends files carrying a new column
    Seq((1L, "a")).toDF("id", "v").write.parquet(dir)
    Seq((2L, "b", 9L)).toDF("id", "v", "extra").write.mode("append").parquet(dir)
    val merged = Sources.readParquetEvolved(spark, dir)
    assert(merged.columns.sorted.toSeq == Seq("extra", "id", "v"))
    val rows = merged
      .collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("v"), Option(r.getAs[Any]("extra"))))
      .toSet
    assert(rows == Set((1L, "a", None), (2L, "b", Some(9L))))
  }

  test("idempotentBatchAppend: replayed batch is skipped, crash leftovers cleaned, commit atomic") {
    import spark.implicits._
    val root = Files.createTempDirectory("idemp").toString + "/t"
    val b0 = Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v")
    assert(Sources.idempotentBatchAppend(b0, root, 0L))
    // replay of the SAME batch id must be a no-op (streaming restart re-offer)
    assert(!Sources.idempotentBatchAppend(b0.union(b0), root, 0L))
    assert(spark.read.parquet(root).count() == 2)
    // crash leftover: a stale staging dir for batch 1 must not block batch 1
    val stage = new java.io.File(s"$root/.batch-stage-1")
    stage.mkdirs()
    java.nio.file.Files.write(stage.toPath.resolve("garbage.parquet"), Array[Byte](9))
    assert(Sources.idempotentBatchAppend(Seq((3L, 30.0)).toDF("id", "v"), root, 1L))
    assert(!new java.io.File(s"$root/.batch-stage-1").exists())
    val all = spark.read.parquet(root)
    assert(all.count() == 3)
    // batch_id surfaces as a partition column for lineage/debug reads
    assert(all.columns.contains("batch_id"))
  }

  test("idempotentBatchAppend as a foreachBatch sink is exactly-once end-to-end") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("idempstream").toString + "/t"
    val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    val q = stream
      .toDS()
      .toDF("n")
      .writeStream
      .outputMode("append")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        Sources.idempotentBatchAppend(df, root, id)
        // simulate the restart replay: the same batch offered again
        Sources.idempotentBatchAppend(df, root, id)
        ()
      }
      .start()
    stream.addData(1L, 2L, 3L)
    q.processAllAvailable()
    stream.addData(4L, 5L)
    q.processAllAvailable()
    q.stop()
    val got = spark.read.parquet(root).select("n").as[Long].collect().sorted.toSeq
    assert(got == Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("expirePartitions drops whole day directories metadata-only and keeps the rest readable") {
    val ev = graft.core.Tables
      .events(spark, sf)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
    val dir = Files.createTempDirectory("ttl").toString
    Sources.writeParquet(ev, s"$dir/by_day", Seq("day"))
    val allDays = new java.io.File(s"$dir/by_day")
      .listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("day="))
      .map(_.getName.stripPrefix("day="))
      .sorted
    val cutoff = allDays(allDays.length / 2) // keep the later half
    val keptWant = allDays.filter(_ >= cutoff)
    val expired = Sources.expirePartitions(spark, s"$dir/by_day", "day", _ >= cutoff)
    assert(expired == allDays.filter(_ < cutoff).toSeq, "expired exactly the pre-cutoff days")
    val left = new java.io.File(s"$dir/by_day")
      .listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("day="))
      .map(_.getName.stripPrefix("day="))
      .sorted
    assert(left.toSeq == keptWant.toSeq)
    // survivors read back exactly: expiry never touches rows inside kept partitions
    val back = Sources.readParquet(spark, s"$dir/by_day")
    assert(back.count() == ev.filter(col("day") >= cutoff).count())
    // idempotent: nothing left to expire
    assert(Sources.expirePartitions(spark, s"$dir/by_day", "day", _ >= cutoff).isEmpty)
  }

  test("compactInPlace sizes oversized scopes: multi-file output near targetBytes, data intact") {
    val ev = graft.core.Tables
      .events(spark, sf)
      .select(col("event_id"), col("user_id"), col("value"), (col("event_id") % 2).as("p"))
    val dir = Files.createTempDirectory("sizedcompact").toString + "/t"
    Sources.writeParquet(ev.repartition(8), dir, Seq("p"))
    def landed(): Array[java.io.File] = new java.io.File(dir)
      .listFiles()
      .filter(_.isDirectory)
      .filter(_.getName.startsWith("p="))
      .flatMap(_.listFiles())
      .filter(_.getName.endsWith(".parquet"))
    val before = landed()
    assert(before.length == 16)
    val perDirBytes = before.map(_.length()).sum / 2
    // a target well below each dir's live bytes forces the oversized path
    val target = math.max(1024L, perDirBytes / 4)
    spark.conf.set("spark.graft.rewrite.targetBytes", target.toString)
    try {
      val (dirs, nBefore, nAfter) = Sources.compactInPlace(spark, dir)
      assert(dirs == 2L && nBefore == 16L)
      assert(nAfter > 2L, s"oversized scopes must land multiple files, got $nAfter")
      val after = landed()
      assert(after.length.toLong == nAfter)
      // the size discipline held: no landed file wildly above target
      after.foreach(f =>
        assert(f.length() < 3 * target, s"${f.getName} is ${f.length()} B vs target $target"))
      val back = spark.read.parquet(dir)
      assert(back.count() == ev.count())
      assert(back.agg(sum("event_id")).head.getLong(0) == ev.agg(sum("event_id")).head.getLong(0))
    } finally spark.conf.unset("spark.graft.rewrite.targetBytes")
  }

  test("deleteWhere/updateWhere rewrite an oversized file in parallel to sized files") {
    val ev = graft.core.Tables
      .events(spark, sf)
      .select(col("event_id"), col("user_id"), col("value"))
    val dir = Files.createTempDirectory("sizeddel").toString + "/t"
    ev.coalesce(1).write.parquet(dir) // ONE oversized file
    def files(): Array[java.io.File] =
      new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files().length == 1)
    val target = math.max(1024L, files().head.length() / 4)
    spark.conf.set("spark.graft.rewrite.targetBytes", target.toString)
    try {
      val (f1, r1) = Sources.deleteWhere(spark, dir, col("event_id") % 100 === 0)
      assert(f1 == 1L && r1 > 0L)
      assert(files().length > 1, "the delete rewrite must land multiple sized files")
      val n1 = spark.read.parquet(dir).count()
      assert(n1 == ev.filter(!(col("event_id") % 100 === 0)).count())
      val (f2, r2) = Sources.updateWhere(spark, dir, col("event_id") % 7 === 0, Map("value" -> lit(0.0)))
      assert(f2 >= 1L && r2 > 0L)
      assert(spark.read.parquet(dir).count() == n1, "UPDATE preserves row count")
      assert(
        spark.read.parquet(dir).filter(col("event_id") % 7 === 0 && col("value") =!= 0.0).count() == 0L)
    } finally spark.conf.unset("spark.graft.rewrite.targetBytes")
  }

  test("compactParquet FOLDS merge-on-read vectors; fully-deleted files are never read") {
    import spark.implicits._
    val dir = Files.createTempDirectory("compactfold").toString + "/t"
    val out = Files.createTempDirectory("compactfold").toString + "/out"
    Seq(
      (1L, "2024-01-01", 10.0),
      (2L, "2024-01-01", 11.0),
      (3L, "2024-01-02", 20.0),
      (4L, "2024-01-03", 30.0)).toDF("id", "day", "v")
      .repartition(col("day"))
      .write
      .partitionBy("day")
      .parquet(dir)
    Snapshots.commit(spark, dir, Seq("day"))
    DeleteVectors.deleteWhere(spark, dir, col("id") === 2L) // partial DV on day=01
    DeleteVectors.deleteWhere(spark, dir, col("day") === "2024-01-02") // full DV on day=02
    // canary: the fully-deleted file must never be opened by the rewrite
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val view = Snapshots.manifestView(spark, dir)
    val deadRel = view.rels.find(r => Snapshots.dvByRel(view).contains(r) && r.contains("day=2024-01-02")).get
    val deadPath = new org.apache.hadoop.fs.Path(dir, deadRel)
    val o = fs.create(deadPath, true)
    o.write("not parquet".getBytes("UTF-8")); o.close()
    fs.delete(new org.apache.hadoop.fs.Path(dir, deadRel + ".crc"), false)
    fs.delete(new org.apache.hadoop.fs.Path(deadPath.getParent, "." + deadPath.getName + ".crc"), false)
    Sources.compactParquet(spark, dir, out)
    val back = spark.read.parquet(out)
    assert(back.count() == 2L, "folded output holds exactly the surviving rows")
    assert(
      back.select("id").as[Long].collect().toSet == Set(1L, 4L),
      "deleted positions folded, fully-deleted file contributed nothing")
  }
}
