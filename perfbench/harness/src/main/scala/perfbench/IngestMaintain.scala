package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.kv.{KvEngine, KvHttpServer}
import graft.operators.TimeSeriesOps
import graft.sources.{DeleteVectors, Mv, Snapshots}

/** `ingest_maintain`: one client writing beside reading, on a
  * day-partitioned snapshot table with an hourly `date_trunc` view over
  * it and a last-value cache served over HTTP by graft's KV engine.
  *
  * Every cycle runs the same operations: a streaming epoch (a file-source
  * stream under `Trigger.AvailableNow` into `Streaming.upsertMorSink`),
  * late corrections by `DeleteVectors.upsert`, a one-series delete on few
  * files (the driver DV path), a SQL UPDATE and MERGE, a view refresh by
  * `Mv.refresh`, the dashboard reads (downsample and top-k over catalog
  * reads, a pruned `Snapshots.readSnapshot`, a
  * `VERSION AS OF` read of an earlier version and a manifest-answerable
  * count), the cache's PUTs, GETs and a flush of two collections, then a
  * broad delete whose candidate files hold more than 2^18 rows (the
  * distributed DV path) and a `CALL compact` of the day the stream writes
  * into.
  *
  * Every write is replayed on an in-memory model of the table (a map keyed
  * by `seq`); reads, the view and the cache are checked against the model,
  * a time-travel read against the model's totals at that version, and at
  * the end the whole table against the model.
  */
final class IngestMaintain(ctx: Ctx) extends Workload {
  import ctx.spark
  import IngestMaintain._

  private val series = if (ctx.small) 20 else 200
  private val days = if (ctx.small) 4 else 14
  private val perDay = if (ctx.small) 24 else 96
  private val epochRows = if (ctx.small) 200 else 5000
  private val collections = 8
  private val day0 = java.time.LocalDate.of(2024, 3, 1)
  private val us0 = day0.atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond * 1000000L
  private val dayUs = 86400L * 1000000L
  private val hourUs = 3600L * 1000000L

  private val base = s"${ctx.dir}/tables"
  private val root = s"$base/ev"
  private val mvRoot = s"$base/hourly"
  private val streamIn = s"${ctx.dir}/stream-in"
  private val checkpoint = s"${ctx.dir}/stream-ck"
  private var cat = ""
  private var engine: KvEngine = _
  private var server: KvHttpServer = _

  // the model: seq → point; the cache model: (collection, key) → value
  private val model = mutable.LongMap.empty[Pt]
  private val kvModel = mutable.Map.empty[(String, String), String]
  private val flushed = mutable.Set.empty[String]
  private val rng = new scala.util.Random(ctx.seed)
  private var nextSeq = 0L
  private var clockUs = 0L // end of the data the stream has delivered so far
  private var epochs = 0
  private val recentSeqs = mutable.ArrayBuffer.empty[Long]
  // committed versions and the model's (rows, sum(seq), sum(v)) at each
  private val history = mutable.ArrayBuffer.empty[(Long, (Long, Long, Double))]
  private var bytesPerRow = 0.0

  // per-layer counts, gathered while tracing is on
  private val counts = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private def tally(name: String, v: Double): Unit = if (ctx.tracer.enabled) counts(name) += v
  private val plans = new PlanCounts
  private var tableFiles = Map.empty[String, Long]

  private val schema = StructType(Seq(
    StructField("sid", LongType), StructField("ts", TimestampType), StructField("v", DoubleType),
    StructField("seq", LongType), StructField("day", DateType)))

  def setup(): Unit = {
    // SQL UPDATE and MERGE write deletion vectors too, like the stream and
    // the DeleteVectors calls on the same table
    spark.conf.set("spark.graft.rowlevel.mode", "mor")
    // the initial points: the model computes each one in Scala, the table
    // build computes the same arithmetic in Spark
    val rows = series.toLong * days * perDay
    val stepS = 86400L / perDay
    (0L until rows).foreach { seq =>
      val sid = seq / (days * perDay)
      val slot = seq % (days * perDay)
      val ts = us0 + slot * stepS * 1000000L + (seq * 104729L + ctx.seed) % stepS * 1000000L
      model(seq) = Pt(sid, ts, 100.0 + (sid % 50) + ((seq * 7919L + ctx.seed) % 100003L) / 1000.0, seq)
    }
    nextSeq = rows
    clockUs = us0 + days * dayUs
    Snapshots.createTable(spark, root, schema, partCols = Seq("day"), statsCols = Seq("day", "sid", "seq"))
    spark.range(rows)
      .select(
        (col("id") / (days * perDay)).cast("long").as("sid"),
        timestamp_micros(lit(us0) + col("id") % (days * perDay) * (stepS * 1000000L) +
          (col("id") * 104729L + ctx.seed) % stepS * 1000000L).as("ts"),
        col("id").as("seq"))
      .select(
        col("sid"), col("ts"),
        (lit(100.0) + col("sid") % 50 + (col("seq") * 7919L + ctx.seed) % 100003L / 1000.0).as("v"),
        col("seq"), to_date(col("ts")).as("day"))
      .repartition(col("day")).write.mode("append").partitionBy("day").parquet(root)
    Snapshots.commitAppend(spark, root, Snapshots.listDataFiles(spark, root))
    bytesPerRow = Disk.bytes(root).toDouble / rows
    Mv.create(spark, root, mvRoot, Seq("sid", "h"), Seq("count(*) AS n", "sum(v) AS s"),
      keyExprs = Map("h" -> "date_trunc('hour', ts)"))
    cat = ctx.catalog(base)
    Files.createDirectories(Paths.get(streamIn))
    engine = new KvEngine(spark, s"${ctx.dir}/kv", autoCreate = true)
    server = new KvHttpServer(engine, 0)
    server.start()
    tableFiles = listing()
    history += Snapshots.latestVersion(spark, root) -> totals(model.valuesIterator)
  }

  private def frame(pts: Seq[Pt]): DataFrame =
    spark.createDataFrame(
      pts.map(p => Row(p.sid, new java.sql.Timestamp(p.tsUs / 1000L), p.v, p.seq)).asJava,
      StructType(schema.fields.take(4)))
      .withColumn("day", to_date(col("ts")))

  // the model's checks name the day of every point: one string per day
  private val dayNames = mutable.LongMap.empty[String]
  private def dayOf(us: Long): String = {
    val d = (us - us0) / dayUs
    dayNames.getOrElseUpdate(d, day0.plusDays(d).toString)
  }
  private def coll(sid: Long): String = s"g${sid % collections}"

  /** Existing points of the last day delivered, for corrections. */
  private def recent(n: Int): Seq[Pt] = {
    val live = recentSeqs.filter(model.contains)
    val pool = if (live.size >= n) live else model.valuesIterator.filter(_.tsUs >= clockUs - dayUs).map(_.seq).toBuffer
    rng.shuffle(pool.toVector).take(n).flatMap(model.get)
  }

  private def newPoints(n: Int, fromUs: Long, spanUs: Long): Seq[Pt] =
    (0 until n).map { i =>
      val p = Pt(i % series, fromUs + (i.toLong * (spanUs / 1000000L)) / n * 1000000L,
        100.0 + rng.nextInt(100000) / 1000.0, nextSeq)
      nextSeq += 1
      p
    }

  private def totals(ps: Iterator[Pt]): (Long, Long, Double) =
    ps.foldLeft((0L, 0L, 0.0)) { case ((n, s, v), p) => (n + 1, s + p.seq, v + p.v) }

  /** Bookkeeping after a write (untimed): the version it committed and the
    * model's totals there, the files it added and the bytes of the rows the
    * user handed in.
    */
  private def wrote(userRows: Long): Unit = {
    history += Snapshots.latestVersion(spark, root) -> totals(model.valuesIterator)
    val now = listing()
    val fresh = now.keySet -- tableFiles.keySet
    tally("snapshots.files_written", fresh.size)
    tally("written_bytes", fresh.toSeq.map(now).sum.toDouble)
    tally("user_bytes", userRows * bytesPerRow)
    tableFiles = now
  }

  private def listing(): Map[String, Long] = {
    val s = Files.walk(Paths.get(root))
    try s.iterator.asScala.filter(Files.isRegularFile(_)).map(p => p.toString -> Files.size(p)).toMap
    finally s.close()
  }

  def cycle(n: Int): Seq[Op] = {
    val streamDay = dayOf(clockUs)
    val touched = mutable.Set.empty[Long]
    Seq(
      streamEpoch(touched),
      lateUpsert(),
      seriesDelete(),
      sqlUpdate(),
      sqlMerge(),
      refresh(touched),
      recentDownsample(),
      recentTopK(),
      snapshotRangeRead(),
      timeTravel(n),
      manifestCount(),
      kvPublish(touched),
      kvTiles(),
      kvFlush(),
      broadDelete(n),
      compact(streamDay))
  }

  private def streamEpoch(touched: mutable.Set[Long]): Op = {
    var batch: Seq[Pt] = Nil
    Op("stream_epoch", "write", prep = () => {
      batch = newPoints(epochRows, clockUs, hourUs)
      val lines = batch.map(p => s"""{"sid":${p.sid},"ts_us":${p.tsUs},"v":${p.v},"seq":${p.seq}}""")
      Files.write(Paths.get(streamIn, f"epoch-$epochs%05d.json"), lines.mkString("\n").getBytes(UTF_8))
      epochs += 1
    }, body = () => {
      val parent = ctx.tracer.current
      val upsert = graft.streaming.Streaming.upsertMorSink(root, Seq("day", "seq"), tag = "ingest")
      val sink: (DataFrame, Long) => Unit = (b, id) =>
        ctx.tracer.within(parent)(ctx.span("streaming", "upsertMorSink")(upsert(b, id)))
      ctx.span("streaming", "availableNow") {
        val q = spark.readStream
          .schema("sid BIGINT, ts_us BIGINT, v DOUBLE, seq BIGINT")
          .json(streamIn)
          .select(col("sid"), timestamp_micros(col("ts_us")).as("ts"), col("v"), col("seq"))
          .withColumn("day", to_date(col("ts")))
          .writeStream
          .option("checkpointLocation", checkpoint)
          .trigger(Trigger.AvailableNow())
          .foreachBatch(sink)
          .start()
        q.awaitTermination()
      }
      Check.ok.copy(post = () => {
        batch.foreach(p => model(p.seq) = p)
        clockUs += hourUs
        recentSeqs.clear()
        recentSeqs ++= batch.map(_.seq)
        touched ++= batch.map(_.sid).distinct.take(16)
        tally("epoch_rows", batch.size)
        wrote(batch.size)
      })
    })
  }

  private def lateUpsert(): Op = {
    var fixed = Seq.empty[Pt]
    Op("late_upsert", "write", prep = () => {
      fixed = recent(if (ctx.small) 20 else 400).map(p => p.copy(v = p.v + 0.25))
    }, body = () => {
      val (files, rows) =
        ctx.span("dv", "upsert")(DeleteVectors.upsert(spark, root, frame(fixed), Seq("day", "seq")))
      Check(() => rows == fixed.size, post = () => {
        fixed.foreach(p => model(p.seq) = p)
        tally("dv.changed_rows", rows.toDouble)
        tally("dv.rewritten_files", files.toDouble)
        wrote(fixed.size)
      })
    })
  }

  private def seriesDelete(): Op = Op("series_delete", "write", () => {
    val sid = rng.nextInt(series).toLong
    val day = dayOf(clockUs - dayUs)
    val (files, rows) = ctx.span("dv", "deleteWhere") {
      DeleteVectors.deleteWhere(spark, root, col("sid") === sid && col("day") === lit(day).cast("date"))
    }
    var gone = Vector.empty[Long]
    Check(() => rows == gone.size, post = () => {
      gone = model.valuesIterator.filter(p => p.sid == sid && dayOf(p.tsUs) == day).map(_.seq).toVector
      gone.foreach(model.remove)
      tally("dv.changed_rows", rows.toDouble)
      tally("dv.rewritten_files", files.toDouble)
      wrote(0)
    })
  })

  private def sqlUpdate(): Op = Op("sql_update", "write", () => {
    val sid = rng.nextInt(series).toLong
    val day = dayOf(clockUs - 2 * dayUs)
    ctx.span("snap", "UPDATE") {
      spark.sql(s"UPDATE $cat.ev SET v = v + 1.5 WHERE sid = $sid AND day = DATE'$day'").collect()
    }
    Check.ok.copy(post = () => {
      val hit = model.valuesIterator.filter(p => p.sid == sid && dayOf(p.tsUs) == day).toVector
      hit.foreach(p => model(p.seq) = p.copy(v = p.v + 1.5))
      wrote(hit.size)
    })
  })

  private def sqlMerge(): Op = {
    var old, fresh = Seq.empty[Pt]
    val view = s"merge_src_${math.abs(rng.nextLong())}"
    Op("sql_merge", "write", prep = () => {
      old = recent(if (ctx.small) 5 else 50).map(p => p.copy(v = p.v - 0.5))
      fresh = newPoints(old.size, clockUs - hourUs, hourUs)
      frame(old ++ fresh).createOrReplaceTempView(view)
    }, body = () => {
    ctx.span("snap", "MERGE") {
      spark.sql(s"""MERGE INTO $cat.ev AS t USING $view AS s ON t.day = s.day AND t.seq = s.seq
        WHEN MATCHED THEN UPDATE SET v = s.v
        WHEN NOT MATCHED THEN INSERT (sid, ts, v, seq, day) VALUES (s.sid, s.ts, s.v, s.seq, s.day)""").collect()
    }
    Check.ok.copy(post = () => {
      spark.catalog.dropTempView(view)
      (old ++ fresh).foreach(p => model(p.seq) = p)
      wrote(old.size + fresh.size)
    })
  })
  }

  private def refresh(touched: mutable.Set[Long]): Op =
    Op("mv_refresh", "refresh", () => {
      val r = ctx.span("mv", "refresh")(Mv.refresh(spark, mvRoot))
      var expected: Map[(Long, Long), (Long, Double)] = Map.empty
      var got: Map[(Long, Long), (Long, Double)] = Map.empty
      Check(
        () => expected.keySet == got.keySet && expected.forall { case (k, (n, s)) =>
          got(k)._1 == n && Compare.rows(Seq(Row(got(k)._2)), Seq(Row(s)))
        },
        post = () => {
          tally("mv.groups_recomputed", r.groupsRecomputed.toDouble)
          if (r.fullResync) tally("mv.full_resyncs", 1)
          val sids = (touched.toSeq ++ Seq(0L, 1L)).distinct
          expected = model.valuesIterator.filter(p => sids.contains(p.sid)).toVector
            .groupBy(p => (p.sid, p.tsUs / hourUs * hourUs))
            .map { case (k, ps) => k -> (ps.size.toLong, ps.map(_.v).sum) }
          got = Snapshots.readSnapshot(spark, mvRoot).where(col("sid").isin(sids: _*))
            .select(col("sid"), unix_micros(col("h")), col("n"), col("s")).collect()
            .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
        })
    })

  private def table(where: org.apache.spark.sql.Column): DataFrame =
    plans.planned(ctx, "select")(spark.table(s"$cat.ev").where(where))

  private def recentDownsample(): Op = Op("recent_downsample", "read", () => {
    val sid = rng.nextInt(series).toLong
    val lo = clockUs - dayUs
    val df = table(col("sid") === sid && col("day") >= lit(dayOf(lo)).cast("date"))
    val got = ctx.span("operators", "downsample") {
      TimeSeriesOps.downsample(df, "ts", "hour", Seq("sid"), Seq(count(lit(1)).as("n"), sum("v").as("s")))
        .select(unix_micros(col("bucket")), col("n"), col("s")).collect().toSeq
    }
    var want: Seq[Row] = Nil
    Check(() => Compare.rows(got, want), post = () => {
      val from = (lo - us0) / dayUs * dayUs + us0
      want = model.valuesIterator.filter(p => p.sid == sid && p.tsUs >= from).toVector
        .groupBy(_.tsUs / hourUs * hourUs)
        .map { case (h, ps) => Row(h, ps.size.toLong, ps.map(_.v).sum) }.toSeq
    })
  })

  private def recentTopK(): Op = Op("recent_topk", "read", () => {
    val day = dayOf(clockUs - dayUs)
    val df = table(col("day") === lit(day).cast("date"))
    val got = ctx.span("operators", "topKPerGroup") {
      val daily = df.groupBy("day", "sid").agg(sum("v").as("total"))
      TimeSeriesOps.topKPerGroup(daily, Seq("day"), Seq(col("total").desc, col("sid")), 5)
        .select("sid", "rk").collect().toSeq
    }
    var want: Seq[Row] = Nil
    Check(() => Compare.rows(got, want), post = () => {
      want = model.valuesIterator.filter(p => dayOf(p.tsUs) == day).toVector
        .groupBy(_.sid).map { case (s, ps) => (s, ps.map(_.v).sum) }.toSeq
        .sortBy { case (s, t) => (-t, s) }.take(5).zipWithIndex
        .map { case ((s, _), i) => Row(s, i + 1) }
    })
  })

  private def snapshotRangeRead(): Op = Op("snapshot_range_read", "read", () => {
    val sid = rng.nextInt(series).toLong
    val lo = dayOf(clockUs - 2 * dayUs)
    val hi = dayOf(clockUs - dayUs)
    val got = ctx.span("snapshots", "readSnapshot") {
      Snapshots.resetPlanManifestBytes()
      val df = Snapshots.readSnapshot(spark, root, prune = Seq(("day", lo, hi)))
      if (ctx.tracer.enabled) plans.manifestBytes += Snapshots.lastPlanManifestBytes
      df.where(col("sid") === sid).agg(count(lit(1)), sum("seq")).head()
    }
    val rows = ctx.span("snapshots", "countRows")(Snapshots.countRows(spark, root, prune = Seq(("day", hi, hi))))
    val files = ctx.span("snapshots", "files")(Snapshots.files(spark, root).size)
    ctx.span("snapshots", "manifestView")(Snapshots.manifestView(spark, root))
    var want = (0L, 0L, 0L)
    Check(() => (got.getLong(0), if (got.isNullAt(1)) 0L else got.getLong(1), rows) == want && files > 0,
      post = () => {
        val (n, s, _) = totals(model.valuesIterator.filter(p => p.sid == sid && dayOf(p.tsUs) >= lo && dayOf(p.tsUs) <= hi))
        want = (n, s, model.valuesIterator.count(p => dayOf(p.tsUs) == hi).toLong)
      })
  })

  /** A `VERSION AS OF` read of a version committed earlier in the run. */
  private def timeTravel(n: Int): Op = Op("time_travel", "read", () => {
    val (v, (rows, seqs, vs)) = history((n * 37 + rng.nextInt(7)) % history.size)
    val got = ctx.span("snap", "select_version") {
      spark.sql(s"SELECT count(*), sum(seq), sum(v) FROM $cat.ev VERSION AS OF $v").head()
    }
    Check.now(got.getLong(0) == rows && got.getLong(1) == seqs && Compare.rows(Seq(Row(got.getDouble(2))), Seq(Row(vs))))
  })

  private def manifestCount(): Op = Op("manifest_count", "read", () => {
    val day = dayOf(clockUs - 3 * dayUs - rng.nextInt(3) * dayUs)
    val got = ctx.span("snap", "select_meta") {
      spark.sql(s"SELECT count(*) FROM $cat.ev WHERE day = DATE'$day'").head().getLong(0)
    }
    var want = 0L
    Check(() => got == want, post = () => want = model.valuesIterator.count(p => dayOf(p.tsUs) == day).toLong)
  })

  private def http(path: String): (Int, String) = {
    val c = new java.net.URL(s"http://127.0.0.1:${server.boundPort}$path").openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    try {
      val code = c.getResponseCode
      val in = if (code < 400) c.getInputStream else c.getErrorStream
      (code, if (in == null) "" else new String(in.readAllBytes(), UTF_8))
    } finally c.disconnect()
  }

  private def kvPublish(touched: mutable.Set[Long]): Op = {
    var latest = Seq.empty[Pt]
    Op("kv_publish", "write", prep = () => {
      val last = mutable.LongMap.empty[Pt]
      model.valuesIterator.filter(p => touched.contains(p.sid)).foreach { p =>
        if (last.get(p.sid).forall(_.tsUs < p.tsUs)) last(p.sid) = p
      }
      latest = last.values.toSeq.sortBy(_.sid)
    }, body = () => {
    val codes = latest.map { p =>
      ctx.span("kv", "PUT")(http(s"/collections/${coll(p.sid)}/${p.sid}/${p.v}"))._1
    }
    Check(() => codes.forall(_ == 200), post = () => latest.foreach(p => kvModel((coll(p.sid), p.sid.toString)) = p.v.toString))
  })
  }

  private def kvTiles(): Op = Op("kv_tiles", "read", () => {
    val keys = kvModel.keys.toVector.sorted
    // skewed toward the first keys: a dashboard's favourite tiles
    val picked = (0 until math.min(16, keys.size)).map(_ => keys((keys.size * math.pow(rng.nextDouble(), 3)).toInt))
    val got = picked.map { case (c, k) =>
      if (flushed.remove(c)) tally("kv.read_through", 1)
      ctx.span("kv", "GET")(http(s"/collections/$c/$k"))
    }
    val want = picked.map(kvModel)
    Check.now(got.zip(want).forall { case ((code, body), v) => code == 200 && body.trim == s"""{"data":"$v"}""" })
  })

  private def kvFlush(): Op = Op("kv_flush", "maint", () => {
    val hot = (0 until collections).map(i => s"g$i").filter(engine.isHotTier)
    val picked = rng.shuffle(hot).take(2)
    picked.foreach(c => ctx.span("kv", "flushCollection")(engine.flushCollection(c)))
    Check.ok.copy(post = () => flushed ++= picked)
  })

  /** Every day's files are candidates (the predicate names no day), but
    * only one series' rows match.
    */
  private def broadDelete(n: Int): Op = Op("broad_delete", "write", () => {
    val k = (n * 7 + 3) % 11
    val sid = rng.nextInt(series).toLong
    val (files, rows) = ctx.span("dv", "deleteWhere") {
      DeleteVectors.deleteWhere(spark, root, col("sid") === sid && pmod(col("seq"), lit(11L)) === k)
    }
    var gone = Vector.empty[Long]
    Check(() => rows == gone.size, post = () => {
      gone = model.valuesIterator.filter(p => p.sid == sid && p.seq % 11 == k).map(_.seq).toVector
      gone.foreach(model.remove)
      tally("dv.changed_rows", rows.toDouble)
      tally("dv.rewritten_files", files.toDouble)
      wrote(0)
    })
  })

  private def compact(day: String): Op = Op("compact_day", "write", () => {
    ctx.span("snap", "CALL compact") {
      spark.sql(s"""CALL $cat.compact(table => 'ev', where => "day = DATE'$day'")""").collect()
    }
    Check.ok.copy(post = () => wrote(0))
  })

  override def resetCounts(): Unit = {
    counts.clear()
    plans.reset()
    tableFiles = listing()
  }

  override def layerCounts(): Map[String, Double] = {
    val gets = ctx.tracer.spans.filter(s => s.layer == "kv" && s.fn == "GET")
    val jobs = ctx.tracer.jobIntervals.asScala.toVector
    val zero = gets.count(s => Tracer.covered(jobs, s.startNs, s.endNs) == 0L)
    val sinks = ctx.tracer.spans.filter(s => s.layer == "streaming" && s.fn == "upsertMorSink")
    val meta = ctx.tracer.spans.filter(s => s.layer == "snap" && s.fn == "select_meta")
    val zeroJob = meta.count(s => Option(ctx.tracer.work.get(s.id)).forall(_.jobs == 0))
    plans.asLayerCounts ++ Map(
      "snap.zero_job_share" -> (if (meta.isEmpty) 0.0 else zeroJob.toDouble / meta.size),
      "snap.scan_overhead" -> scanOverhead(),
      "snapshots.files_written" -> counts("snapshots.files_written"),
      "snapshots.bytes_written_per_user_byte" ->
        (if (counts("user_bytes") > 0) counts("written_bytes") / counts("user_bytes") else 0.0),
      "dv.changed_rows" -> counts("dv.changed_rows"),
      "dv.rewritten_files" -> counts("dv.rewritten_files"),
      "streaming.epoch_ms" -> (if (sinks.isEmpty) 0.0 else sinks.map(s => (s.endNs - s.startNs) / 1e6).sum / sinks.size),
      "streaming.rows_per_epoch" -> (if (sinks.isEmpty) 0.0 else counts("epoch_rows") / sinks.size),
      "mv.groups_recomputed" -> counts("mv.groups_recomputed"),
      "mv.full_resyncs" -> counts("mv.full_resyncs"),
      "kv.zero_job_get_share" -> (if (gets.isEmpty) 0.0 else zero.toDouble / gets.size),
      "kv.read_through" -> counts("kv.read_through"))
  }

  /** Snapshot-table ÷ plain-parquet time of the same full scan (the live
    * rows written once as parquet): median of five alternating pairs.
    */
  private def scanOverhead(): Double = {
    val copy = s"${ctx.dir}/scan-copy"
    Snapshots.readSnapshot(spark, root).write.mode("overwrite").parquet(copy)
    def time(df: => DataFrame): Double = {
      val t0 = System.nanoTime()
      df.agg(sum("v"), max("ts"), count(lit(1))).collect()
      (System.nanoTime() - t0).toDouble
    }
    Stats.median((0 until 5).map(_ => time(spark.table(s"$cat.ev")) / time(spark.read.parquet(copy))))
  }

  /** The whole table against the model, and the storage it takes. */
  override def endMetrics(): Seq[Metric] = {
    val got = Snapshots.readSnapshot(spark, root)
      .groupBy(col("day").cast("string"))
      .agg(count(lit(1)), sum("seq"), sum("v")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val want = model.valuesIterator.toVector.groupBy(p => dayOf(p.tsUs))
      .map { case (d, ps) => d -> (ps.size.toLong, ps.map(_.seq).sum, ps.map(_.v).sum) }
    val same = got.keySet == want.keySet && want.forall { case (d, (n, s, v)) =>
      got(d)._1 == n && got(d)._2 == s && Compare.rows(Seq(Row(got(d)._3)), Seq(Row(v)))
    }
    if (!same) ctx.fail("the table differs from the replayed operation log")
    // the initial table was the live rows written once as plain parquet:
    // its bytes per row price the live rows now
    val amp = Disk.bytes(root) / (model.size * bytesPerRow)
    Seq(Metric("storage_amp", amp, "ratio", "table bytes / live rows at the initial write's bytes per row"))
  }

  override def close(): Unit = if (server != null) server.stop(flush = false)
}

object IngestMaintain {
  final case class Pt(sid: Long, tsUs: Long, v: Double, seq: Long)
}
