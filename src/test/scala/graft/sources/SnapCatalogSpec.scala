package graft.sources

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.snap.{GraftCatalog, SnapAggScan, SnapV2BatchScan}

/** The SQL face of the snapshot format: identifiers, `VERSION AS OF` /
  * `TIMESTAMP AS OF`, manifest-stats file pruning driven by pushed SQL
  * filters, and the manifest-only COUNT(*) complete pushdown.
  */
class SnapCatalogSpec extends SparkSpec {

  import spark.implicits._

  /** Base dir holding one snapshot table `ev` (partitioned by day, v2
    * manifest with day stats + row counts), registered as catalog `name`.
    */
  private def fixture(name: String): (String, String) = {
    val base = Files.createTempDirectory("snapcat").toString
    val dir = s"$base/ev"
    val rows = Seq(
      (1L, "2024-01-01", "click", 10.0),
      (2L, "2024-01-01", "view", 11.0),
      (3L, "2024-01-02", "click", 20.0),
      (4L, "2024-01-03", "view", 30.0),
      (5L, "2024-01-04", "view", 40.0)).toDF("id", "day", "event_type", "v")
    Sources.writeParquet(rows.repartition(col("day")), dir, partitionCols = Seq("day"))
    Snapshots.commit(spark, dir, statsCols = Seq("day"))
    spark.conf.set(s"spark.sql.catalog.$name", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.root", base)
    (base, dir)
  }

  /** The executed batch scan node of an already-collected `df`,
    * descending through AQE stage boundaries (query stages are leaves to
    * plain collect).
    */
  private def batchScanExecOf(
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.execution.datasources.v2.BatchScanExec = {
    def allNodes(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = p +: (p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        allNodes(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => allNodes(q.plan)
      case other => other.children.flatMap(allNodes)
    })
    allNodes(df.queryExecution.executedPlan)
      .collectFirst { case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b }
      .getOrElse(fail(s"no BatchScanExec in final plan:\n${df.queryExecution.executedPlan}"))
  }

  /** Spark jobs launched by `body`, counted with the listener bus drained
    * before (no earlier work leaks in) and after (every job of `body` is
    * delivered before counting).
    */
  private def jobsOf(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    org.apache.spark.SpecBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      body
      org.apache.spark.SpecBus.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(l)
    jobs.get()
  }

  private def scanOf(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.connector.read.Scan =
    df.queryExecution.optimizedPlan
      .collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r.scan
      }
      .headOption
      .getOrElse(fail(s"no DSv2 scan in plan:\n${df.queryExecution.optimizedPlan}"))

  test("SELECT with VERSION AS OF pins the pre-delete snapshot; latest sees the delete") {
    val (_, dir) = fixture("snapc1")
    Sources.deleteWhere(spark, dir, col("event_type") === "click") // commits v2
    val v1 = spark.sql("SELECT id FROM snapc1.ev VERSION AS OF 1 ORDER BY id").as[Long].collect()
    assert(v1.toSeq == Seq(1L, 2L, 3L, 4L, 5L), "v1 must still show deleted rows")
    val live = spark.sql("SELECT id FROM snapc1.ev ORDER BY id").as[Long].collect()
    assert(live.toSeq == Seq(2L, 4L, 5L))
    // TIMESTAMP AS OF at v1's commit instant resolves to v1 (session tz is
    // UTC; an ISO instant string parses unambiguously)
    val ts = Snapshots.manifestVersions(spark, dir).head._2
    val iso = java.time.Instant.ofEpochMilli(ts).toString
    val asOf = spark
      .sql(s"SELECT count(*) AS n FROM snapc1.ev TIMESTAMP AS OF '$iso' WHERE id >= 1")
      .as[Long]
      .head()
    assert(asOf == 5L)
  }

  test("pushed day filters prune the manifest file list at plan time") {
    val (_, _) = fixture("snapc2")
    val one = spark.sql("SELECT id, v FROM snapc2.ev WHERE day = DATE'2024-01-02'")
    assert(scanOf(one).description().contains("files=1/4"), scanOf(one).description())
    assert(one.as[(Long, Double)].collect().toSeq == Seq((3L, 20.0)))
    val range = spark.sql(
      "SELECT sum(v) AS s FROM snapc2.ev WHERE day >= DATE'2024-01-02' AND day <= DATE'2024-01-03'")
    assert(scanOf(range).description().contains("files=2/4"), scanOf(range).description())
    assert(range.as[Double].head() == 50.0)
    // a range matching nothing prunes every file and still answers correctly
    val none = spark.sql("SELECT count(*) AS n FROM snapc2.ev WHERE day > DATE'2025-01-01'")
    assert(scanOf(none).description().contains("files=0/4"), scanOf(none).description())
    assert(none.as[Long].head() == 0L)
  }

  test("filter-free COUNT(*) is answered from the manifest alone (complete pushdown)") {
    val (_, _) = fixture("snapc3")
    val df = spark.sql("SELECT count(*) FROM snapc3.ev")
    assert(scanOf(df).isInstanceOf[SnapAggScan], s"expected manifest count scan: ${scanOf(df)}")
    assert(df.as[Long].head() == 5L)
    // with a residual filter the aggregate must NOT push (sound fallback)
    val filtered = spark.sql("SELECT count(*) FROM snapc3.ev WHERE event_type = 'view'")
    assert(scanOf(filtered).isInstanceOf[SnapV2BatchScan])
    assert(filtered.as[Long].head() == 3L)
  }

  test("scan reports manifest-derived statistics (rows + bytes) for join planning") {
    val (_, _) = fixture("snapc4")
    val scan = scanOf(spark.sql("SELECT * FROM snapc4.ev"))
      .asInstanceOf[SnapV2BatchScan]
    val st = scan.estimateStatistics()
    assert(st.numRows().getAsLong == 5L)
    assert(st.sizeInBytes().getAsLong > 0L)
  }

  test("SHOW TABLES lists snapshot tables; writes are refused; bad versions fail loudly") {
    val (base, _) = fixture("snapc5")
    val names = spark.sql("SHOW TABLES IN snapc5").select("tableName").as[String].collect().toSet
    assert(names == Set("ev"))
    val e = intercept[Exception](spark.sql("DROP TABLE snapc5.ev"))
    assert(e.getMessage.contains("filesystem decision"), e.getMessage)
    val missing = intercept[Exception](spark.sql("SELECT * FROM snapc5.ev VERSION AS OF 99").collect())
    assert(missing.getMessage.contains("no manifest version 99"), missing.getMessage)
    // a non-positive pin must not silently alias "latest"
    val zero = intercept[Exception](spark.sql("SELECT * FROM snapc5.ev VERSION AS OF 0").collect())
    assert(zero.getMessage.contains("start at 1"), zero.getMessage)
    val noTable = intercept[Exception](spark.sql("SELECT * FROM snapc5.nope").collect())
    assert(noTable.getMessage.toLowerCase.contains("table"), noTable.getMessage)
    // a plain directory of parquet (no manifests) is not a snapshot table
    Seq((1, "x")).toDF("a", "b").write.parquet(s"$base/plain")
    val notSnap = intercept[Exception](spark.sql("SELECT * FROM snapc5.plain").collect())
    assert(notSnap.getMessage.toLowerCase.contains("table"), notSnap.getMessage)
  }

  test("a v1 manifest table (no recorded stats) reads correctly and count falls back to a scan") {
    val base = Files.createTempDirectory("snapcat_v1").toString
    val dir = s"$base/t"
    Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v").write.parquet(dir)
    Snapshots.commit(spark, dir) // v1 manifest: no schema, no stats
    spark.conf.set("spark.sql.catalog.snapc6", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.snapc6.root", base)
    val df = spark.sql("SELECT count(*) FROM snapc6.t")
    assert(scanOf(df).isInstanceOf[SnapV2BatchScan], "no row counts in a v1 manifest: must scan")
    assert(df.as[Long].head() == 2L)
    assert(spark.sql("SELECT sum(v) FROM snapc6.t").as[Double].head() == 3.0)
  }

  test("INSERT INTO appends, commits the next version, and keeps metadata counts exact") {
    val (_, dir) = fixture("snapc8")
    spark.sql("INSERT INTO snapc8.ev VALUES (6, 'view', 60.0, DATE'2024-01-05')")
    assert(Snapshots.latestVersion(spark, dir) == 2L, "insert must commit v2")
    // v1 pins the pre-insert state
    assert(spark.sql("SELECT count(*) FROM snapc8.ev VERSION AS OF 1").as[Long].head() == 5L)
    // the committed manifest keeps the table's stats discipline: the
    // filter-free count still answers from the manifest alone
    val df = spark.sql("SELECT count(*) FROM snapc8.ev")
    assert(scanOf(df).isInstanceOf[SnapAggScan], "append must preserve row-count stats")
    assert(df.as[Long].head() == 6L)
    // and day pruning still sees the new file's hive value
    val newDay = spark.sql("SELECT id, v FROM snapc8.ev WHERE day = DATE'2024-01-05'")
    assert(scanOf(newDay).description().contains("files=1/5"), scanOf(newDay).description())
    assert(newDay.as[(Long, Double)].collect().toSeq == Seq((6L, 60.0)))
  }

  test("INSERT OVERWRITE archives the old files: latest is replaced, v1 still readable") {
    val (_, dir) = fixture("snapc9")
    spark.sql(
      "INSERT OVERWRITE snapc9.ev VALUES (100, 'audit', 1.0, DATE'2024-02-01'), (101, 'audit', 2.0, DATE'2024-02-02')")
    assert(Snapshots.latestVersion(spark, dir) == 2L)
    val live = spark.sql("SELECT id FROM snapc9.ev ORDER BY id").as[Long].collect()
    assert(live.toSeq == Seq(100L, 101L))
    // the overwritten state is a pinned version, not a casualty
    val v1 = spark.sql("SELECT id FROM snapc9.ev VERSION AS OF 1 ORDER BY id").as[Long].collect()
    assert(v1.toSeq == Seq(1L, 2L, 3L, 4L, 5L))
    // and restore brings it back as v3
    Snapshots.restore(spark, dir, 1L)
    val restored = spark.sql("SELECT count(*) FROM snapc9.ev").as[Long].head()
    assert(restored == 5L)
  }

  test("metadata tables: cat.t.snapshots lists versions, cat.t.files lists the pinned file set") {
    val (_, dir) = fixture("snapc10")
    Sources.deleteWhere(spark, dir, col("event_type") === "click") // commits v2 (stats inherited)
    val snaps = spark
      .sql("SELECT version, n_files, n_rows FROM snapc10.ev.snapshots ORDER BY version")
      .as[(Long, Long, Option[Long])]
      .collect()
    // v1: 4 day files, 5 rows; v2: day1/day2 rewritten without clicks (day2
    // was click-only so its file is wholly archived) -> 3 files, 3 rows
    assert(snaps.toSeq == Seq((1L, 4L, Some(5L)), (2L, 3L, Some(3L))))
    val files1 = spark
      .sql("SELECT rel, rows, archived FROM snapc10.ev.files VERSION AS OF 1 ORDER BY rel")
      .as[(String, Option[Long], Boolean)]
      .collect()
    assert(files1.length == 4)
    assert(files1.forall(_._2.exists(_ >= 1L)), "every v1 file has a recorded row count")
    // day=2024-01-01 (rewritten) and day=2024-01-02 (click-only, removed)
    // are archived in v1's view; the untouched days are live
    val archivedDays = files1.filter(_._3).map(_._1.split("/").head).toSet
    assert(archivedDays == Set("day=2024-01-01", "day=2024-01-02"), archivedDays.toString)
    // maintenance inherited the stats discipline: v2 still counts from the
    // manifest alone
    val cnt = spark.sql("SELECT count(*) FROM snapc10.ev")
    assert(scanOf(cnt).isInstanceOf[SnapAggScan], "delete must not degrade stats commits")
    assert(cnt.as[Long].head() == 3L)
    // a version pin on the history relation shows history AS OF that pin
    val pinned = spark
      .sql("SELECT version FROM snapc10.ev.snapshots VERSION AS OF 1")
      .as[Long]
      .collect()
    assert(pinned.toSeq == Seq(1L), s"pinned history must stop at v1, got ${pinned.toSeq}")
  }

  test("pinned SQL reads survive a concurrent rewrite (archive path through the catalog)") {
    val (_, dir) = fixture("snapc7")
    // rewrite day=2024-01-01's file (update id=1) and commit v2
    val delta = Seq((1L, "2024-01-01", "click", 99.0)).toDF("id", "day", "event_type", "v")
    Sources.mergeIntoPartitioned(spark, dir, delta, "day", Seq("id"))
    val v1 = spark
      .sql("SELECT id, v FROM snapc7.ev VERSION AS OF 1 ORDER BY id")
      .as[(Long, Double)]
      .collect()
    assert(v1.length == 5 && v1.head == ((1L, 10.0)), "v1 resolves through the archive")
    val live = spark
      .sql("SELECT v FROM snapc7.ev VERSION AS OF 2 WHERE id = 1")
      .as[Double]
      .head()
    assert(live == 99.0)
  }

  test("SQL DELETE FROM removes only matching rows; pinned version intact; COUNT stays manifest-only") {
    val (_, _) = fixture("snapc11")
    spark.sql("DELETE FROM snapc11.ev WHERE event_type = 'click'")
    val live = spark.sql("SELECT id FROM snapc11.ev ORDER BY id").as[Long].collect()
    assert(live.toSeq == Seq(2L, 4L, 5L), "click rows deleted via SQL")
    val v1 = spark.sql("SELECT id FROM snapc11.ev VERSION AS OF 1 ORDER BY id").as[Long].collect()
    assert(v1.toSeq == Seq(1L, 2L, 3L, 4L, 5L), "pre-delete snapshot unperturbed")
    // the delete's commit inherited the stats discipline: filter-free
    // COUNT(*) is still a complete manifest-only pushdown, and exact
    val cnt = spark.sql("SELECT count(*) AS n FROM snapc11.ev")
    assert(scanOf(cnt).isInstanceOf[SnapAggScan], scanOf(cnt).description())
    assert(cnt.as[Long].head() == 3L)
    // a day-bounded delete touches only the matching partition's file
    spark.sql("DELETE FROM snapc11.ev WHERE day = DATE'2024-01-03'")
    assert(
      spark.sql("SELECT id FROM snapc11.ev ORDER BY id").as[Long].collect().toSeq == Seq(2L, 5L))
  }

  test("WHERE-less SQL DELETE truncates restorably: empty but typed, then restore brings v1 back") {
    val (_, dir) = fixture("snapc12")
    spark.sql("DELETE FROM snapc12.ev")
    // empty, yet the recorded schema carried forward: reads stay typed and
    // the metadata-only count answers 0 without touching a data file
    val cnt = spark.sql("SELECT count(*) AS n FROM snapc12.ev")
    assert(scanOf(cnt).isInstanceOf[SnapAggScan], scanOf(cnt).description())
    assert(cnt.as[Long].head() == 0L)
    assert(spark.sql("SELECT id, v FROM snapc12.ev").collect().isEmpty)
    // not destruction: every file was archived, so v1 is still pinned-readable
    assert(
      spark.sql("SELECT id FROM snapc12.ev VERSION AS OF 1 ORDER BY id").as[Long].collect().length == 5)
    // and the table restores to its pre-truncate state as a NEW version
    Snapshots.restore(spark, dir, 1L)
    val back = spark.sql("SELECT id FROM snapc12.ev ORDER BY id").as[Long].collect()
    assert(back.toSeq == Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("SQL equality probe on a bloom-indexed column plans k-of-N files; range stays stats-only") {
    val base = Files.createTempDirectory("snapcat_bloom").toString
    val dir = s"$base/t"
    // unclustered: 8 round-robin files, stats useless for a point probe
    spark
      .range(0L, 800L)
      .select($"id", ($"id" % 5).as("v"))
      .repartition(8)
      .write
      .parquet(dir)
    Snapshots.commit(spark, dir, Seq("id"), Seq("id"))
    spark.conf.set("spark.sql.catalog.snapc14", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.snapc14.root", base)
    val df = spark.sql("SELECT v FROM snapc14.t WHERE id = 123")
    val desc = scanOf(df).description()
    val k = "files=(\\d+)/8".r.findFirstMatchIn(desc).map(_.group(1).toInt).getOrElse(fail(desc))
    assert(k <= 2, s"bloom must prune the non-holding files: $desc")
    assert(df.as[Long].collect().toSeq == Seq(3L))
    // a range predicate must NOT consult blooms (sound: stats only — all files)
    val range = spark.sql("SELECT count(*) AS n FROM snapc14.t WHERE id >= 100 AND id <= 120")
    assert(scanOf(range).description().contains("files=8/8"), scanOf(range).description())
    assert(range.as[Long].head() == 21L)
    // an IN-list keeps a file iff ANY listed value admits — three keys
    // land in at most 3 (+fp slack) of the 8 files, and all three return
    val inq = spark.sql("SELECT id FROM snapc14.t WHERE id IN (7, 123, 456) ORDER BY id")
    val ki = "files=(\\d+)/8".r.findFirstMatchIn(scanOf(inq).description()).map(_.group(1).toInt)
    assert(ki.exists(_ <= 4), scanOf(inq).description())
    assert(inq.as[Long].collect().toSeq == Seq(7L, 123L, 456L))
  }

  test("CALL procedures drive the maintenance ops from SQL: compact, cluster, restore, vacuum, clone") {
    val base = Files.createTempDirectory("snapcat_proc").toString
    val dir = s"$base/t"
    // 8 round-robin files, unpartitioned
    spark
      .range(0L, 800L)
      .select($"id", ($"id" % 5).as("v"))
      .repartition(8)
      .write
      .parquet(dir)
    Snapshots.commit(spark, dir, Seq("id"))
    spark.conf.set("spark.sql.catalog.snapc15", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.snapc15.root", base)
    // cluster on id: one scope, 8 files in
    val cl = spark.sql("CALL snapc15.cluster(table => 't', key => 'id', files => 4)").collect()
    assert(cl.head.getLong(0) == 1L && cl.head.getLong(1) == 8L, cl.toSeq.toString)
    assert(spark.sql("SELECT count(*) FROM snapc15.t").as[Long].head() == 800L)
    // compact to one file
    val cp = spark.sql("CALL snapc15.compact(table => 't')").collect()
    assert(cp.head.getLong(0) == 1L, cp.toSeq.toString)
    assert(spark.sql("SELECT sum(id) FROM snapc15.t").as[Long].head() == 799L * 800L / 2L)
    // restore to the original layout version
    val rs = spark.sql("CALL snapc15.restore(table => 't', version => 1)").collect()
    assert(rs.head.getLong(0) > 2L)
    assert(spark.sql("SELECT count(*) FROM snapc15.t").as[Long].head() == 800L)
    // clone the latest version into a sibling table, readable immediately
    spark.sql("CALL snapc15.clone(source => 't', dest => 't2')").collect()
    assert(spark.sql("SELECT count(*) FROM snapc15.t2").as[Long].head() == 800L)
    // vacuum keeps the table readable and reports reclaimed files
    val vc = spark.sql("CALL snapc15.vacuum(table => 't', keep_last => 1)").collect()
    assert(vc.head.getLong(0) >= 0L)
    assert(spark.sql("SELECT count(*) FROM snapc15.t").as[Long].head() == 800L)
    // set_stats upgrades the discipline: blooms now prune a point probe
    spark.sql("CALL snapc15.set_stats(table => 't2', stats_cols => 'id', bloom_cols => 'id')").collect()
    val probe = spark.sql("SELECT v FROM snapc15.t2 WHERE id = 123")
    val k = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(scanOf(probe).description()).map(_.group(1).toInt)
    assert(k.exists(_ <= 2), scanOf(probe).description())
    // unknown procedure and path-escaping table names fail loudly
    val missing = intercept[Exception](spark.sql("CALL snapc15.nope(table => 't')").collect())
    assert(missing.getMessage.contains("no procedure") || missing.getMessage.toLowerCase.contains("nope"))
    val escape = intercept[Exception](spark.sql("CALL snapc15.compact(table => '../t')").collect())
    assert(escape.getMessage != null)
    // CALL checkpoint: forces a FULL manifest off-interval — chain
    // bounded, partition index + header fields regenerated on demand
    Seq((900L, 9L)).toDF("id", "v").coalesce(1).write.mode("append").parquet(s"$dir")
    spark.conf.set("spark.graft.snapshot.checkpointInterval", "1000000")
    try {
      val before = Snapshots.latestVersion(spark, dir)
      val cp2 = spark.sql("CALL snapc15.checkpoint(table => 't')").collect()
      val vNew = cp2.head.getLong(0)
      assert(vNew == before + 1L, cp2.toSeq.toString)
      val mf = scala.io.Source
        .fromFile(f"$dir/_graft_manifests/v$vNew%010d.manifest", "UTF-8")
        .mkString
      assert(!mf.contains("#delta"), "CALL checkpoint must write a FULL manifest")
      val hdr = Snapshots.headerView(spark, dir).getOrElse(fail("no header"))
      assert(hdr.nFiles.contains(cp2.head.getLong(1)), hdr.toString)
      assert(spark.sql("SELECT count(*) FROM snapc15.t").as[Long].head() == 801L)
    } finally spark.conf.unset("spark.graft.snapshot.checkpointInterval")
    // the procedure surface is discoverable from SQL
    val procs =
      spark.sql("SHOW PROCEDURES IN snapc15").collect().map(r => r.get(r.length - 1).toString).toSet
    assert(
      Set("compact", "cluster", "vacuum", "restore", "clone", "set_stats", "expire", "checkpoint")
        .subsetOf(procs),
      procs.toString)
  }

  test("cold catalog plan with a partition predicate parses O(selected) bytes and never the full list") {
    val base = Files.createTempDirectory("snapcat_cold").toString
    val dir = s"$base/t"
    // 120 single-file day partitions, stats + canonical layout recorded
    val df = (0 until 240)
      .map(i => (i.toLong, f"day-${i % 120}%03d", i * 1.0))
      .toDF("id", "day", "v")
    Sources.writeParquet(df.repartition(col("day")), dir, partitionCols = Seq("day"))
    Snapshots.commit(spark, dir, Seq("id", "v"))
    spark.conf.set("spark.sql.catalog.snapc27", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.snapc27.root", base)
    val mf = new java.io.File(f"$dir/_graft_manifests/v${1L}%010d.manifest")
    val ckptBytes = mf.length()
    // simulate a FRESH driver: no parsed view in memory — schema must come
    // from the header read, the file list from the partition index only
    Snapshots.viewCache.clear()
    val parses0 = Snapshots.fullViewParses.get()
    Snapshots.lastManifestBytesRead.set(0L)
    val q = spark.sql("SELECT id FROM snapc27.t WHERE day = 'day-005' ORDER BY id")
    val desc = scanOf(q).description()
    // collect q ITSELF: its executed scan node is the one whose metrics
    // are checked below
    assert(q.collect().map(_.getLong(0)).toSeq == Seq(5L, 125L))
    assert(desc.contains("files=1/120"), desc)
    val bytes = Snapshots.lastManifestBytesRead.get()
    assert(bytes > 0L, "pruned catalog plan must go through the indexed path")
    assert(bytes < ckptBytes / 10, s"cold plan parsed $bytes of $ckptBytes manifest bytes")
    assert(
      Snapshots.fullViewParses.get() == parses0,
      "a partition-pruned cold plan must never reconstruct the full file list")
    // a plain SELECT's scan node reports the pruning outcome as SQL
    // metrics, off the recorded total — still no full-list parse
    val scanExec = batchScanExecOf(q)
    assert(scanExec.metrics("snapFilesRead").value == 1L, scanExec.metrics.toString)
    assert(scanExec.metrics("snapFilesPruned").value == 119L, scanExec.metrics.toString)
    assert(Snapshots.fullViewParses.get() == parses0, "scan metrics must not parse the full list")
    // manifest-only aggregate through the same cold path: consumed day
    // filter + COUNT(*) from the pruned groups' recorded row counts
    Snapshots.viewCache.clear()
    val parses1 = Snapshots.fullViewParses.get()
    val n = spark.sql("SELECT count(*) FROM snapc27.t WHERE day = 'day-007'").as[Long].head()
    assert(n == 2L)
    assert(
      Snapshots.fullViewParses.get() == parses1,
      "a pruned manifest-only aggregate must not reconstruct the full list either")
    // a RANGE window on the layout column engages the same cold path
    // (the day-window dashboard shape — BETWEEN is not consumable, but
    // group-level range selection is the same superset test the
    // per-file stats refine)
    Snapshots.viewCache.clear()
    val parses2 = Snapshots.fullViewParses.get()
    Snapshots.lastManifestBytesRead.set(0L)
    val w = spark.sql(
      "SELECT count(*) AS n FROM snapc27.t WHERE day BETWEEN 'day-003' AND 'day-006'")
    assert(w.as[Long].head() == 8L)
    val wb = Snapshots.lastManifestBytesRead.get()
    assert(wb > 0L && wb < ckptBytes / 10, s"range window parsed $wb of $ckptBytes bytes")
    assert(
      Snapshots.fullViewParses.get() == parses2,
      "a range-windowed cold plan must not reconstruct the full list")
    // an UNPRUNED plan still answers (full parse is the right plan there)
    Snapshots.viewCache.clear()
    assert(spark.sql("SELECT count(*) FROM snapc27.t").as[Long].head() == 240L)
  }

  test("CALL cluster with a multi-dim layout key flips box queries from all-files to few-files, SQL only") {
    val base = Files.createTempDirectory("snapcat_zclu").toString
    val dir = s"$base/t"
    // one row per cell of a 16^3 grid, 8 round-robin files: every file
    // spans the full range of every dimension — stats prune nothing
    spark
      .range(0L, 4096L)
      .select(
        ($"id" % 16).as("x"),
        (($"id" / 16) % 16).cast("long").as("y"),
        (($"id" / 256) % 16).cast("long").as("z"),
        $"id".as("payload"))
      .repartition(8)
      .write
      .parquet(dir)
    Snapshots.commit(spark, dir, Seq("x", "y", "z"))
    spark.conf.set("spark.sql.catalog.snapc26", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.snapc26.root", base)
    val box = "SELECT count(*) AS n FROM snapc26.t " +
      "WHERE x BETWEEN 2 AND 5 AND y BETWEEN 2 AND 5 AND z BETWEEN 2 AND 5"
    val before = spark.sql(box)
    assert(scanOf(before).description().contains("files=8/8"), scanOf(before).description())
    assert(before.as[Long].head() == 64L)
    // 3-D z-order via SQL alone — no JVM code on the orchestrator's side
    val cl = spark
      .sql("CALL snapc26.cluster(table => 't', key => 'zorder(x, y, z, bits=4)', files => 16)")
      .collect()
    assert(cl.head.getLong(0) == 1L && cl.head.getLong(1) == 8L, cl.toSeq.toString)
    val after = spark.sql(box)
    val k = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(scanOf(after).description())
    assert(
      k.exists(m => m.group(1).toInt * 2 <= m.group(2).toInt),
      s"z-ordered box query must prune: ${scanOf(after).description()}")
    assert(after.as[Long].head() == 64L, "clustering must not change results")
    // the Hilbert key spec parses and prunes as well
    spark
      .sql("CALL snapc26.cluster(table => 't', key => 'hilbert(x, y, z, order=4)', files => 16)")
      .collect()
    val after2 = spark.sql(box)
    val k2 = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(scanOf(after2).description())
    assert(
      k2.exists(m => m.group(1).toInt * 2 <= m.group(2).toInt),
      s"hilbert-ordered box query must prune: ${scanOf(after2).description()}")
    assert(after2.as[Long].head() == 64L)
    // malformed key specs refuse loudly instead of clustering on garbage
    val e1 = intercept[Exception](
      spark.sql("CALL snapc26.cluster(table => 't', key => 'zorder(x)')").collect())
    assert(e1.getMessage.contains("at least 2"), e1.getMessage)
    val e2 = intercept[Exception](
      spark.sql("CALL snapc26.cluster(table => 't', key => 'zorder(x, y; drop)')").collect())
    assert(e2.getMessage != null)
  }

  test("CALL expire archives partitions below the cutoff; pre-TTL snapshot keeps them") {
    val (_, dir) = fixture("snapc23")
    val r = spark
      .sql("CALL snapc23.expire(table => 'ev', col => 'day', before => '2024-01-03')")
      .collect()
    assert(r.head.getLong(0) == 2L, s"2024-01-01 and -02 expire: ${r.toSeq}")
    assert(
      spark.sql("SELECT id FROM snapc23.ev ORDER BY id").as[Long].collect().toSeq == Seq(4L, 5L))
    // the pre-TTL version still reads the expired days (archive, not delete)
    assert(spark.sql("SELECT count(*) FROM snapc23.ev VERSION AS OF 1").as[Long].head() == 5L)
  }

  test("an un-pushable DELETE predicate on a partitioned table falls back to the rewrite") {
    val (_, dir) = fixture("snapc13")
    // the pushed delete can't translate length(); the statement runs as
    // the partition-aware row-level operation and executes exactly
    spark.sql("DELETE FROM snapc13.ev WHERE length(event_type) = 5")
    assert(
      spark.sql("SELECT id FROM snapc13.ev ORDER BY id").as[Long].collect().toSeq ==
        Seq(2L, 4L, 5L),
      "only the 'click' rows (length 5) may be deleted")
    // the hive layout and the pre-delete pin survive
    assert(Snapshots.files(spark, dir).forall(_.startsWith("day=")))
    assert(spark.sql("SELECT count(*) FROM snapc13.ev VERSION AS OF 1").as[Long].head() == 5L)
  }

  /** Unpartitioned snapshot table registered as catalog `name`: 4
    * range-clustered files over id 0..399 (disjoint id intervals — stats
    * prune points), v2 manifest with id stats.
    */
  private def flatFixture(name: String): (String, String) = {
    val base = Files.createTempDirectory("snapcat_flat").toString
    val dir = s"$base/t"
    spark
      .range(0L, 400L)
      .select($"id", ($"id" % 7).as("v"))
      .repartitionByRange(4, $"id")
      .sortWithinPartitions($"id")
      .write
      .parquet(dir)
    Snapshots.commit(spark, dir, Seq("id"))
    spark.conf.set(s"spark.sql.catalog.$name", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.root", base)
    (base, dir)
  }

  private def dataFiles(dir: String): Map[String, (Long, Long)] =
    new java.io.File(dir)
      .listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> (f.lastModified(), f.length()))
      .toMap

  test("SQL UPDATE rewrites only the files its condition prunes to; pinned version intact") {
    val (_, dir) = flatFixture("snapc16")
    val before = dataFiles(dir)
    assert(before.size == 4)
    spark.sql("UPDATE snapc16.t SET v = v + 1000 WHERE id = 150")
    // merge-on-read: no original file is replaced — the old image is one
    // deletion-vector position in the one file holding id 150, and the
    // new image lands in one appended file
    val after = dataFiles(dir)
    assert(after.count { case (n, st) => before.get(n).contains(st) } == 4, s"$before vs $after")
    assert(after.size == 5, s"$before vs $after")
    val dv = Snapshots.dvByRel(Snapshots.manifestView(spark, dir))
    assert(dv.size == 1 && dv.values.head._2 == 1L, dv.toString)
    assert(spark.sql("SELECT v FROM snapc16.t WHERE id = 150").as[Long].head() == 150L % 7 + 1000L)
    assert(spark.sql("SELECT count(*) FROM snapc16.t").as[Long].head() == 400L)
    // the pre-update version still reads the original value
    assert(
      spark.sql("SELECT v FROM snapc16.t VERSION AS OF 1 WHERE id = 150").as[Long].head() == 150L % 7)
    // stats discipline carried: COUNT is still manifest-only
    val cnt = spark.sql("SELECT count(*) AS n FROM snapc16.t")
    assert(scanOf(cnt).isInstanceOf[SnapAggScan], scanOf(cnt).description())
  }

  test("SQL MERGE INTO updates matches and inserts the rest; un-pushable DELETE falls back to rewrite") {
    val (_, _) = flatFixture("snapc17")
    Seq((50L, 999L), (1000L, 777L)).toDF("id", "v").createOrReplaceTempView("snapc17_delta")
    spark.sql("""MERGE INTO snapc17.t AS t USING snapc17_delta AS s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""")
    assert(spark.sql("SELECT v FROM snapc17.t WHERE id = 50").as[Long].head() == 999L)
    assert(spark.sql("SELECT v FROM snapc17.t WHERE id = 1000").as[Long].head() == 777L)
    assert(spark.sql("SELECT count(*) FROM snapc17.t").as[Long].head() == 401L)
    // v1 pins the pre-merge world
    assert(
      spark.sql("SELECT count(*) FROM snapc17.t VERSION AS OF 1").as[Long].head() == 400L)
    // a DELETE the filter API cannot express runs as the row-level operation
    spark.sql("DELETE FROM snapc17.t WHERE length(CAST(v AS STRING)) = 3")
    assert(spark.sql("SELECT count(*) FROM snapc17.t").as[Long].head() == 399L)
    assert(
      spark.sql("SELECT count(*) FROM snapc17.t WHERE v IN (999, 777)").as[Long].head() == 0L)
  }

  test("the _file metadata column reports row provenance; partitioned UPDATE without a pruning filter") {
    val (_, _) = flatFixture("snapc18")
    val files = spark.sql("SELECT count(DISTINCT _file) AS n FROM snapc18.t").as[Long].head()
    assert(files == 4L, s"4 data files expected, _file saw $files")
    // per-file row counts through pure SQL
    val per = spark
      .sql("SELECT _file, count(*) AS n FROM snapc18.t GROUP BY _file ORDER BY _file")
      .as[(String, Long)]
      .collect()
    assert(per.map(_._2).sum == 400L && per.forall(_._2 > 0L))
    // a partitioned UPDATE whose predicate prunes NO partitions still
    // executes exactly (every file scanned, layout preserved)
    fixture("snapc19")
    spark.sql("UPDATE snapc19.ev SET v = v + 1 WHERE event_type = 'click'")
    val vs = spark.sql("SELECT id, v FROM snapc19.ev ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(vs == Seq((1L, 11.0), (2L, 11.0), (3L, 21.0), (4L, 30.0), (5L, 40.0)), vs.toString)
    // and a pushed _file equality filters provenance without crashing
    val one = spark
      .sql("SELECT _file FROM snapc18.t LIMIT 1")
      .as[String]
      .head()
    assert(
      spark
        .sql(s"SELECT count(*) AS n FROM snapc18.t WHERE _file = '$one'")
        .as[Long]
        .head() == 100L)
  }

  test("row-level rewrite round-trips every column shape: timestamp, date, decimal, bool, array, struct, map") {
    val base = Files.createTempDirectory("snapcat_types").toString
    val dir = s"$base/t"
    val df = spark.sql("""
      SELECT id,
             CAST(id AS DOUBLE) / 4.0 AS d,
             timestamp'2024-03-01 10:30:00' + make_interval(0,0,0,0,0,0,id) AS ts,
             date_add(DATE'2024-03-01', CAST(id AS INT)) AS day,
             CAST(id AS DECIMAL(10,2)) / 3 AS dec,
             id % 2 = 0 AS flag,
             array(id, id * 2) AS arr,
             named_struct('a', id, 'b', concat('s', CAST(id AS STRING))) AS st,
             map(concat('k', CAST(id AS STRING)), id) AS m
      FROM range(0, 50)""")
    df.coalesce(2).write.parquet(dir)
    Snapshots.commit(spark, dir, Seq("id"))
    spark.conf.set("spark.sql.catalog.snapc21", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.snapc21.root", base)
    spark.sql("UPDATE snapc21.t SET d = d * 2 WHERE id >= 25")
    // the matched half's new images went through the DSv2 read + parquet
    // write round trip; all columns must be byte-faithful, with d doubled
    // on the matched half
    val expect = df.withColumn("d", when(col("id") >= 25, col("d") * 2).otherwise(col("d")))
    val back = spark.sql("SELECT * FROM snapc21.t")
    assert(back.count() == 50L)
    // set ops refuse MAP columns: compare maps as sorted entry arrays
    def cmp(x: org.apache.spark.sql.DataFrame) = x.withColumn("m", map_entries(col("m")))
    assert(
      cmp(back).exceptAll(cmp(expect)).count() == 0L &&
        cmp(expect).exceptAll(cmp(back)).count() == 0L)
  }

  test("writeStream.toTable appends exactly-once epochs; a replayed epoch commit is a no-op") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = Files.createTempDirectory("snapcat_stream").toString
    val dir = s"$base/t"
    // seed the table (a snapshot table IS a dir with committed manifests)
    Seq((0L, 0L)).toDF("id", "v").coalesce(1).write.parquet(dir)
    Snapshots.commit(spark, dir, Seq("id"))
    spark.conf.set("spark.sql.catalog.snapc22", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.snapc22.root", base)
    val in = MemoryStream[(Long, Long)]
    val q = in
      .toDF()
      .toDF("id", "v")
      .writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .toTable("snapc22.t")
    try {
      in.addData((1L, 10L), (2L, 20L))
      q.processAllAvailable()
      in.addData((3L, 30L))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.sql("SELECT id FROM snapc22.t ORDER BY id").as[Long].collect()
    assert(rows.toSeq == Seq(0L, 1L, 2L, 3L), rows.toSeq.toString)
    // each epoch committed one manifest version (seed + 2 epochs), and the
    // metadata count still answers from the manifest
    assert(Snapshots.latestVersion(spark, dir) == 3L)
    // epoch commit cost is O(delta): each epoch wrote a DELTA manifest
    // listing only its own landed file — never a rewrite of the full live
    // list (at a million files that rewrite would run per trigger)
    Seq(2L, 3L).foreach { v =>
      val lines = scala.io.Source
        .fromFile(f"$dir/${Snapshots.ManifestDirName}/v$v%010d.manifest", "UTF-8")
        .getLines()
        .toSeq
      assert(lines.exists(_.startsWith("#delta")), s"epoch manifest v$v must be a delta")
      val adds = lines.filter(_.startsWith("+"))
      assert(adds.size == 1, s"epoch v$v must list exactly its own landed file, got $adds")
      assert(!lines.exists(l => !l.startsWith("#") && !l.startsWith("+") && !l.startsWith("-")),
        s"epoch v$v must not carry the full live list")
    }
    val cnt = spark.sql("SELECT count(*) AS n FROM snapc22.t")
    assert(scanOf(cnt).isInstanceOf[SnapAggScan], scanOf(cnt).description())
    assert(cnt.as[Long].head() == 4L)
    // replayed epoch: re-committing an epoch at-or-below the high-water
    // mark changes nothing (no rows, no version)
    val vBefore = Snapshots.latestVersion(spark, dir)
    val sw = new graft.sources.snap.SnapStreamingWrite(
      dir,
      // the real query's id is the checkpoint's; read the marker name back
      new java.io.File(s"$dir/${Snapshots.ManifestDirName}")
        .listFiles()
        .map(_.getName)
        .find(_.startsWith(".epoch-"))
        .map(_.stripPrefix(".epoch-"))
        .getOrElse(fail("no epoch marker written")),
      Seq((0L, 0L)).toDF("id", "v").schema)
    sw.commit(0L, Array.empty)
    sw.commit(1L, Array.empty)
    assert(Snapshots.latestVersion(spark, dir) == vBefore, "replayed epochs must not commit")
    assert(spark.sql("SELECT count(*) FROM snapc22.t").as[Long].head() == 4L)
  }

  test("writeStream.toTable into a day-partitioned table routes rows; replayed epochs are no-ops") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = Files.createTempDirectory("snapcat_pstream").toString
    val dir = s"$base/t"
    Seq((0L, java.sql.Date.valueOf("2024-01-01"))).toDF("id", "day")
      .coalesce(1).write.partitionBy("day").parquet(dir)
    Snapshots.commit(spark, dir, Seq("day", "id"))
    spark.conf.set("spark.sql.catalog.snapc24", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.snapc24.root", base)
    val in = MemoryStream[(Long, java.sql.Date)]
    val q = in
      .toDF()
      .toDF("id", "day")
      .writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .toTable("snapc24.t")
    try {
      in.addData(
        (1L, java.sql.Date.valueOf("2024-01-01")),
        (2L, java.sql.Date.valueOf("2024-01-02")))
      q.processAllAvailable()
      in.addData((3L, java.sql.Date.valueOf("2024-01-02")))
      q.processAllAvailable()
    } finally q.stop()
    // rows landed, partition values splice back from the path
    val got = spark.sql("SELECT id, day FROM snapc24.t ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getDate(1).toString)).toSeq
    assert(
      got == Seq(
        (0L, "2024-01-01"), (1L, "2024-01-01"), (2L, "2024-01-02"), (3L, "2024-01-02")),
      got.toString)
    // files landed in their partition DIRECTORIES (hive layout preserved),
    // with the day column stripped from the bytes
    val rels = Snapshots.files(spark, dir)
    assert(rels.forall(_.startsWith("day=")), rels.toString)
    val streamed = rels.filter(_.contains("stream-"))
    assert(streamed.nonEmpty, rels.toString)
    streamed.foreach { rel =>
      assert(!spark.read.parquet(s"$dir/$rel").columns.contains("day"), rel)
    }
    // a filtered read prunes to the one matching partition via the
    // manifest stats the epoch commits recorded
    val one = spark.sql("SELECT count(*) AS n FROM snapc24.t WHERE day = DATE'2024-01-02'")
    assert(one.as[Long].head() == 2L)
    // replayed epochs at-or-below the high-water mark change nothing
    val vBefore = Snapshots.latestVersion(spark, dir)
    val sw = new graft.sources.snap.SnapStreamingWrite(
      dir,
      new java.io.File(s"$dir/${Snapshots.ManifestDirName}")
        .listFiles()
        .map(_.getName)
        .find(_.startsWith(".epoch-"))
        .map(_.stripPrefix(".epoch-"))
        .getOrElse(fail("no epoch marker written")),
      Seq((0L, java.sql.Date.valueOf("2024-01-01"))).toDF("id", "day").schema)
    sw.commit(0L, Array.empty)
    sw.commit(1L, Array.empty)
    assert(Snapshots.latestVersion(spark, dir) == vBefore, "replayed epochs must not commit")
    assert(spark.sql("SELECT count(*) FROM snapc24.t").as[Long].head() == 4L)
  }

  test("streaming toTable: a year-grain backfill (400 partition values in one epoch) lands via the declared clustering") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = Files.createTempDirectory("snapcat_year").toString
    val dir = s"$base/t"
    Seq((0L, java.sql.Date.valueOf("2019-12-31"))).toDF("id", "day")
      .coalesce(1).write.partitionBy("day").parquet(dir)
    Snapshots.commit(spark, dir, Seq("day", "id"))
    spark.conf.set("spark.sql.catalog.snapc25", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.snapc25.root", base)
    // 400 distinct days in ONE epoch — more than the 128 open-writer cap,
    // so without the Write's declared clustered distribution (the INSERT
    // path's REBALANCE discipline applied inside the streaming epoch)
    // some task would see >128 values and hit the loud backstop
    val days = (0 until 400).map { i =>
      (i.toLong + 1L, java.sql.Date.valueOf(java.time.LocalDate.of(2020, 1, 1).plusDays(i)))
    }
    val in = MemoryStream[(Long, java.sql.Date)]
    val q = in
      .toDF()
      .toDF("id", "day")
      .writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .toTable("snapc25.t")
    try {
      in.addData(days: _*)
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.sql("SELECT count(*) FROM snapc25.t").as[Long].head() == 401L)
    // every value landed in ITS hive directory, clustering bounded the
    // file count at ~one per value per epoch (not values × tasks)
    val rels = Snapshots.files(spark, dir)
    val dayDirs = rels.map(_.split("/").head).distinct
    assert(dayDirs.length == 401, s"${dayDirs.length} day dirs")
    assert(rels.length <= 401 + 32, s"small-files discipline broke: ${rels.length} files")
    // partition-pruned read through the epoch-committed manifest stats
    assert(
      spark.sql("SELECT count(*) AS n FROM snapc25.t WHERE day = DATE'2020-06-01'")
        .as[Long].head() == 1L)
    // exactly-once replay: re-committing at-or-below the high-water mark
    // changes nothing even for the wide epoch
    val vBefore = Snapshots.latestVersion(spark, dir)
    val sw = new graft.sources.snap.SnapStreamingWrite(
      dir,
      new java.io.File(s"$dir/${Snapshots.ManifestDirName}")
        .listFiles()
        .map(_.getName)
        .find(_.startsWith(".epoch-"))
        .map(_.stripPrefix(".epoch-"))
        .getOrElse(fail("no epoch marker written")),
      Seq((0L, java.sql.Date.valueOf("2020-01-01"))).toDF("id", "day").schema)
    sw.commit(0L, Array.empty)
    assert(Snapshots.latestVersion(spark, dir) == vBefore, "replayed epoch must not commit")
    assert(spark.sql("SELECT count(*) FROM snapc25.t").as[Long].head() == 401L)
  }

  test("cat.t.changes: batch and streaming CDC match Snapshots.diff across delete/compaction/append") {
    val (_, dir) = fixture("snapcdc") // v1: 4 day files, 5 rows
    Sources.deleteWhere(spark, dir, col("id") === 2L) // v2: DELETE (rewrite of day 01)
    spark.sql("INSERT INTO snapcdc.ev VALUES (8, 'click', 80.0, DATE'2024-01-01')") // v3
    Sources.compactInPlace(spark, dir) // v4: day 01 has 2 files — pure rewrite, net zero
    spark.sql("INSERT INTO snapcdc.ev VALUES (6, 'click', 60.0, DATE'2024-01-05')") // v5
    spark.sql("UPDATE snapcdc.ev SET v = 99.0 WHERE id = 3") // v6: delete+insert pair
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("id"), r.getAs[Double]("v"), r.getAs[String]("_change_type"),
        r.getAs[Long]("_commit_version"))
    // batch CDF vs the ground-truth multiset diff, per version
    (2L to 6L).foreach { v =>
      val expect = Snapshots
        .diff(spark, dir, v - 1L, v)
        .withColumn("_change_type",
          when(col("change") === "added", "insert").otherwise("delete"))
        .withColumn("_commit_version", lit(v))
        .drop("change")
        .collect().map(key).toSeq.sorted
      val got = spark.read
        .option("startingVersion", v).option("endingVersion", v)
        .table("snapcdc.ev.changes")
        .collect().map(key).toSeq.sorted
      assert(got == expect, s"v$v: got $got expected $expect")
    }
    // compaction (v4) nets to NOTHING — the Delta-CDF contract
    assert(
      spark.read.option("startingVersion", 4).option("endingVersion", 4)
        .table("snapcdc.ev.changes").count() == 0L,
      "a pure rewrite must emit no changes")
    // full history via SQL: v1 image + every later net change
    val full = spark.sql("SELECT * FROM snapcdc.ev.changes").collect().map(key).toSeq
    assert(full.count(_._4 == 1L) == 5L, "v1 is the 5-row creation image")
    assert(full.count(_._3 == "delete") == 2L, full.sorted.toString) // id=2 deleted, id=3 preimage
    // STREAMING parity: the live feed replays the same history
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double, String, Long)]()
    val q = spark.readStream
      .table("snapcdc.ev.changes")
      .writeStream
      .option("checkpointLocation", Files.createTempDirectory("snapcdc_ck").toString)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batch.collect().foreach(r => got.add(key(r)))
      }
      .start()
    q.processAllAvailable()
    // a post-start commit streams its delta too
    spark.sql("INSERT INTO snapcdc.ev VALUES (7, 'view', 70.0, DATE'2024-01-06')") // v7
    q.processAllAvailable()
    q.stop()
    val streamed = got.asScala.toSeq.sorted
    val batchAll = spark.read.table("snapcdc.ev.changes").collect().map(key).toSeq.sorted
    assert(streamed == batchAll, s"stream/batch divergence:\n$streamed\nvs\n$batchAll")
    // VERSION AS OF pins the END of the feed's history: v1 image (5) +
    // v2 delete (1) + v3 insert (1) = 7 rows, nothing from v4+
    val pinned = spark.sql("SELECT * FROM snapcdc.ev.changes VERSION AS OF 3").collect().map(key)
    assert(pinned.length == 7, pinned.toSeq.sorted.toString)
    assert(pinned.forall(_._4 <= 3L), "pinned feed leaked post-pin versions")
    // _commit_timestamp parity: every change row's commit wall clock is
    // EXACTLY its version's `snapshots.committed_at` (both read the
    // manifest's mtime); batch and streaming plan through the same
    // planVersion, so the batch check covers both. The caveat is the
    // CDF-standard one: the timestamp is of the COMMIT, not the data.
    val tsByV = spark.read
      .table("snapcdc.ev.changes")
      .select(col("_commit_version"), col("_commit_timestamp"))
      .distinct()
      .collect()
      .map(r => r.getLong(0) -> r.getTimestamp(1))
    assert(tsByV.map(_._1).distinct.length == tsByV.length, "one timestamp per version")
    val committedAt = spark
      .sql("SELECT version, committed_at FROM snapcdc.ev.snapshots")
      .collect()
      .map(r => r.getLong(0) -> r.getTimestamp(1))
      .toMap
    tsByV.foreach { case (v, ts) =>
      assert(committedAt(v) == ts, s"v$v: _commit_timestamp $ts != committed_at ${committedAt(v)}")
    }
  }

  test("cat.t.changes: map-typed tables feed append-only versions but refuse rewrite versions") {
    val base = Files.createTempDirectory("snapcat_map").toString
    val dir = s"$base/m"
    Seq((1L, Map("a" -> 1L)), (2L, Map("b" -> 2L)))
      .toDF("id", "props")
      .coalesce(1)
      .write
      .parquet(dir)
    Snapshots.commit(spark, dir, statsCols = Seq("id")) // v1 image
    spark.conf.set("spark.sql.catalog.snapcmap", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.snapcmap.root", base)
    // append-only history: fine — file-level inserts never cancel bytes
    spark.sql("INSERT INTO snapcmap.m VALUES (3, map('c', CAST(3 AS BIGINT)))") // v2
    assert(spark.read.table("snapcmap.m.changes").count() == 3L)
    // a REWRITE version: UnsafeRow-byte cancellation can't canonicalize
    // map key order across files, so the feed must refuse at PLAN time
    // (phantom delete+insert pairs from a pure compaction otherwise)
    Sources.deleteWhere(spark, dir, col("id") === 1L) // v3 rewrites the 2-row file
    val e = intercept[Exception] {
      spark.read
        .option("startingVersion", 3)
        .option("endingVersion", 3)
        .table("snapcmap.m.changes")
        .collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("map-typed")), msgs(e).mkString("; "))
  }

  test("partitioned staging writer: batch rotates past the open-writer cap; streaming refuses") {
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.unsafe.types.UTF8String
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val stage = Files.createTempDirectory("snap_rot").toString
    val schema = StructType(Seq(StructField("id", LongType), StructField("day", StringType)))
    val conf = spark.sessionState.newHadoopConf()
    val w = new graft.sources.snap.SnapHivePartitionedDataWriter(
      stage, schema, Seq("day"), conf, "part-00000-x.parquet")
    // 40 partitions, interleaved twice: every partition is evicted by the
    // 16-writer cap and reopened — memory stays bounded, files rotate
    (0 until 2).foreach { pass =>
      (0 until 40).foreach { d =>
        w.write(new GenericInternalRow(
          Array[Any](pass * 40L + d, UTF8String.fromString(f"2024-$d%02d"))))
      }
    }
    val msg = w.commit().asInstanceOf[graft.sources.snap.SnapStagedPartFiles]
    assert(msg.rows == 80L)
    assert(msg.rels.size >= 40, s"expected at least one file per partition: ${msg.rels.size}")
    val back = spark.read
      .schema(StructType(Seq(StructField("id", LongType))))
      .parquet(msg.rels.map(r => s"$stage/$r"): _*)
    assert(back.count() == 80L, "no staged row may be lost across rotations")
    // streaming mode (deterministic finalName): SORTED fan-out past the
    // 128 cap closes finished values instead of refusing — one file per
    // (task, value), unbounded value count, O(cap) memory
    val sw = new graft.sources.snap.SnapHivePartitionedDataWriter(
      stage, schema, Seq("day"), conf, "attempt-1-00000.parquet",
      finalName = Some("stream-q-1-00000.parquet"))
    (0 until 130).foreach { d =>
      sw.write(new GenericInternalRow(
        Array[Any](d.toLong, UTF8String.fromString(f"2025-x-$d%03d"))))
    }
    val smsg = sw.commit().asInstanceOf[graft.sources.snap.SnapStagedPartFiles]
    assert(smsg.rows == 130L)
    assert(smsg.rels.size == 130, s"one deterministic file per value: ${smsg.rels.size}")
    assert(smsg.rels.forall(_.endsWith("/stream-q-1-00000.parquet")), smsg.rels.take(3).toString)
    // ...but a value REAPPEARING after its file closed (unsorted input —
    // a path that skipped the catalog's declared ordering) must refuse:
    // rotation order would break replay determinism
    val sw2 = new graft.sources.snap.SnapHivePartitionedDataWriter(
      stage, schema, Seq("day"), conf, "attempt-2-00000.parquet",
      finalName = Some("stream-q-2-00000.parquet"))
    val e = intercept[IllegalStateException] {
      (0 until 129).foreach { d =>
        sw2.write(new GenericInternalRow(
          Array[Any](d.toLong, UTF8String.fromString(f"2026-x-$d%03d"))))
      }
      sw2.write(new GenericInternalRow( // value 000 reappears after close
        Array[Any](999L, UTF8String.fromString("2026-x-000"))))
    }
    assert(e.getMessage.contains("sorted"), e.getMessage)
    sw2.abort()
  }

  test("INSERT OVERWRITE: partition-spec and dynamic modes replace only the matching partitions") {
    val (_, dir) = fixture("snapow") // 4 day dirs, 5 rows
    def fileOf(day: String) = Snapshots.files(spark, dir).filter(_.startsWith(s"day=$day"))
    val before03 = fileOf("2024-01-03")
    // static partition spec: only day 01's files archive
    spark.sql(
      "INSERT OVERWRITE snapow.ev PARTITION (day = DATE'2024-01-01') " +
        "SELECT CAST(100 AS BIGINT) AS id, 'bulk' AS event_type, CAST(1.0 AS DOUBLE) AS v")
    val got = spark.sql("SELECT id FROM snapow.ev ORDER BY id").as[Long].collect().toSeq
    assert(got == Seq(3L, 4L, 5L, 100L), got.toString)
    assert(fileOf("2024-01-03") == before03, "untouched partition rewritten")
    assert(spark.sql("SELECT count(*) FROM snapow.ev VERSION AS OF 1").as[Long].head() == 5L)
    // dynamic mode: only the partitions PRESENT in the data replace —
    // day 02 re-materializes, day 05 is new, everything else untouched
    withConfs("spark.sql.sources.partitionOverwriteMode" -> "dynamic") {
      Seq((200L, "view", 2.0, "2024-01-02"), (201L, "view", 2.0, "2024-01-05"))
        .toDF("id", "event_type", "v", "day")
        .createOrReplaceTempView("snapow_src")
      spark.sql(
        "INSERT OVERWRITE snapow.ev SELECT id, event_type, v, CAST(day AS DATE) FROM snapow_src")
    }
    val got2 = spark.sql("SELECT id, day FROM snapow.ev ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getDate(1).toString)).toSeq
    assert(
      got2 == Seq(
        (4L, "2024-01-03"), (5L, "2024-01-04"), (100L, "2024-01-01"),
        (200L, "2024-01-02"), (201L, "2024-01-05")),
      got2.toString)
    assert(fileOf("2024-01-03") == before03, "dynamic overwrite touched an absent partition")
    // every pre-overwrite version stays pinned-readable (archive, not delete)
    assert(spark.sql("SELECT count(*) FROM snapow.ev VERSION AS OF 2").as[Long].head() == 4L)
    // a non-partition overwrite predicate refuses loudly (no silent
    // row-level replacement through the partition machinery)
    val e = intercept[Exception](
      spark.sql("INSERT INTO snapow.ev REPLACE WHERE id = 100 VALUES (7, 'x', 0.5, DATE'2024-01-01')"))
    assert(
      e.getMessage.contains("not a partition column") ||
        e.getMessage.contains("partition-exact"),
      e.getMessage)
  }

  test("row-level commit detects a concurrent version change and aborts instead of duplicating") {
    val (_, dir) = flatFixture("snapc20")
    // a write whose scan pinned v1; someone else commits v2 before it lands
    val stale = new graft.sources.snap.SnapDeltaBatchWrite(
      dir,
      new org.apache.spark.sql.types.StructType(),
      scannedVersion = 1L,
      partCols = Seq.empty)
    Snapshots.commit(spark, dir) // v2
    val e = intercept[Exception](stale.commit(Array.empty))
    assert(e.getMessage.contains("concurrent update"), e.getMessage)
    // the table is exactly what the interloper committed — nothing landed
    assert(spark.sql("SELECT count(*) FROM snapc20.t").as[Long].head() == 400L)
  }

  // ---- DDL: CREATE TABLE / CTAS / ALTER TABLE schema evolution ---------

  /** An empty catalog rooted at a fresh temp dir. */
  private def emptyCatalog(name: String): String = {
    val base = Files.createTempDirectory("snapddl").toString
    spark.conf.set(s"spark.sql.catalog.$name", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.root", base)
    base
  }

  test("CREATE TABLE PARTITIONED BY: first INSERT writes the declared hive layout + discipline") {
    val base = emptyCatalog("ddl1")
    spark.sql(
      "CREATE TABLE ddl1.ev (id BIGINT, day STRING, v DOUBLE) PARTITIONED BY (day) " +
        "TBLPROPERTIES ('stats_cols'='day', 'bloom_cols'='')")
    // empty table is SELECTable with the declared schema
    assert(spark.sql("SELECT * FROM ddl1.ev").schema.fieldNames.toSeq == Seq("id", "day", "v"))
    assert(spark.sql("SELECT count(*) FROM ddl1.ev").as[Long].head() == 0L)
    spark.sql(
      "INSERT INTO ddl1.ev VALUES (1, '2024-01-01', 1.5), (2, '2024-01-02', 2.5), (3, '2024-01-02', 3.5)")
    // the declared layout landed as hive dirs even though no file existed
    // to derive it from
    val fs = new org.apache.hadoop.fs.Path(s"$base/ev")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dayDirs = fs
      .listStatus(new org.apache.hadoop.fs.Path(s"$base/ev"))
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("day="))
      .map(_.getPath.getName)
      .sorted
    assert(dayDirs.toSeq == Seq("day=2024-01-01", "day=2024-01-02"), dayDirs.toSeq)
    // the stats_cols property took: day filters prune; COUNT is manifest-only
    val one = spark.sql("SELECT id FROM ddl1.ev WHERE day = '2024-01-02' ORDER BY id")
    val kept = "files=(\\d+)/(\\d+)".r
      .findFirstMatchIn(scanOf(one).description())
      .getOrElse(fail(scanOf(one).description()))
    assert(kept.group(1).toInt < kept.group(2).toInt, "the day=2024-01-01 file must be pruned")
    assert(one.as[Long].collect().toSeq == Seq(2L, 3L))
    assert(scanOf(spark.sql("SELECT count(*) FROM ddl1.ev")).isInstanceOf[SnapAggScan])
  }

  test("CTAS creates a snapshot table from a query; a second CREATE of the name refuses") {
    emptyCatalog("ddl2")
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").createOrReplaceTempView("ddl2_src")
    spark.sql("CREATE TABLE ddl2.t AS SELECT id, s FROM ddl2_src")
    assert(
      spark.sql("SELECT id, s FROM ddl2.t ORDER BY id").as[(Long, String)].collect().toSeq ==
        Seq((1L, "a"), (2L, "b")))
    val e = intercept[Exception](spark.sql("CREATE TABLE ddl2.t (x INT)"))
    assert(e.getMessage.toLowerCase.contains("exists"), e.getMessage)
  }

  test("ALTER ADD COLUMN: old rows read NULL, pre-ALTER version keeps its schema, commits don't lose it") {
    val (_, dir) = fixture("ddl3")
    spark.sql("ALTER TABLE ddl3.ev ADD COLUMNS (score DOUBLE)")
    // live reads null-fill; the pre-ALTER pin has no such column
    assert(spark.table("ddl3.ev").schema.fieldNames.contains("score"))
    assert(spark.sql("SELECT count(*) FROM ddl3.ev WHERE score IS NULL").as[Long].head() == 5L)
    assert(
      !spark.sql("SELECT * FROM ddl3.ev VERSION AS OF 1").schema.fieldNames.contains("score"),
      "time travel must show the pre-ALTER schema")
    // an INSERT carrying the new column lands it; a further stats commit
    // (inference + declared merge) must NOT lose the column even though
    // most files still predate it. Inferred schema order: data cols, then
    // the hive partition col (day, typed DATE by path inference), then
    // the ALTER-added score.
    spark.sql(
      "INSERT INTO ddl3.ev VALUES (6, 'click', 60.0, DATE'2024-01-05', 0.9)")
    Snapshots.commit(spark, dir, statsCols = Seq("day"))
    assert(
      Snapshots.schemaOf(spark, dir).get.fieldNames.contains("score"),
      "commit inference must keep the ALTER-added column")
    assert(
      spark.sql("SELECT sum(score) FROM ddl3.ev").as[Double].head() == 0.9)
    // UPDATE backfills the added column on files that predate it (the
    // partitioned table uses the programmatic per-partition rewrite; the
    // declared-schema read makes `score` resolvable in pre-ALTER files)
    Sources.updateWhere(spark, dir, col("id") === 1, Map("score" -> lit(0.5)))
    assert(
      spark.sql("SELECT score FROM ddl3.ev WHERE id = 1").as[Double].head() == 0.5)
  }

  test("ALTER DROP COLUMN: tombstoned, never resurrected by commits; re-add refused; partition col refused") {
    val (_, dir) = fixture("ddl4")
    spark.sql("ALTER TABLE ddl4.ev DROP COLUMN v")
    assert(!spark.table("ddl4.ev").schema.fieldNames.contains("v"))
    // the files still physically hold v; a later commit's inference must
    // not resurrect it
    // the new file lands INSIDE an existing partition, so compaction has
    // a >1-file scope to rewrite
    spark.sql("INSERT INTO ddl4.ev VALUES (9, 'view', DATE'2024-01-01')")
    Snapshots.commit(spark, dir, statsCols = Seq("day"))
    assert(!Snapshots.schemaOf(spark, dir).get.fieldNames.contains("v"), "tombstone must hold")
    // compaction physically purges the dropped column from rewritten files
    Sources.compactInPlace(spark, dir)
    val rewritten = Snapshots.files(spark, dir).filter(_.startsWith("day=2024-01-01/"))
    assert(rewritten.nonEmpty)
    val anyV = rewritten.exists { rel =>
      spark.read.parquet(s"$dir/$rel").schema.fieldNames.contains("v")
    }
    assert(!anyV, "compacted files must not carry the dropped column")
    // pre-drop pin still reads it
    assert(spark.sql("SELECT sum(v) FROM ddl4.ev VERSION AS OF 1").as[Double].head() == 111.0)
    val re = intercept[Exception](spark.sql("ALTER TABLE ddl4.ev ADD COLUMNS (v DOUBLE)"))
    assert(re.getMessage.contains("previously dropped"), re.getMessage)
    val pc = intercept[Exception](spark.sql("ALTER TABLE ddl4.ev DROP COLUMN day"))
    assert(pc.getMessage.contains("partition"), pc.getMessage)
  }

  test("ALTER COLUMN TYPE widens int→bigint in place; narrowing and rename refuse") {
    val base = emptyCatalog("ddl5")
    spark.sql("CREATE TABLE ddl5.t (id INT, s STRING)")
    spark.sql("INSERT INTO ddl5.t VALUES (7, 'a')")
    spark.sql("ALTER TABLE ddl5.t ALTER COLUMN id TYPE BIGINT")
    // the old int32 file reads as bigint; a value no int can hold lands
    // beside it
    spark.sql("INSERT INTO ddl5.t VALUES (3000000000, 'b')")
    assert(
      spark.sql("SELECT sum(id) FROM ddl5.t").as[Long].head() == 3000000007L,
      "narrow and wide files must read under one bigint column")
    assert(
      spark.table("ddl5.t").schema("id").dataType ==
        org.apache.spark.sql.types.LongType)
    // a further commit keeps the widened type (merge prefers the declared
    // wide side over old int32 footers)
    Snapshots.commit(spark, s"$base/t", statsCols = Seq("id"))
    assert(
      Snapshots.schemaOf(spark, s"$base/t").get("id").dataType ==
        org.apache.spark.sql.types.LongType)
    // Spark's analyzer already refuses the narrowing (canUpCast gate);
    // Snapshots.widenColumn refuses too, defense-in-depth
    val nr = intercept[Exception](spark.sql("ALTER TABLE ddl5.t ALTER COLUMN id TYPE INT"))
    assert(nr.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN"), nr.getMessage)
    val nr2 = intercept[Exception](
      Snapshots.widenColumn(spark, s"$base/t", "id", org.apache.spark.sql.types.IntegerType))
    assert(nr2.getMessage.contains("widen"), nr2.getMessage)
    val rn = intercept[Exception](spark.sql("ALTER TABLE ddl5.t RENAME COLUMN s TO s2"))
    assert(rn.getMessage.contains("BY NAME"), rn.getMessage)
  }

  // ---- streaming SOURCE over the manifest log --------------------------

  test("readStream.table streams appends exactly-once with typed partition values; restart emits only new commits") {
    fixture("snapst1")
    val ckpt = Files.createTempDirectory("snapst1_ck").toString
    // foreachBatch: the recoverable sink (the memory sink refuses
    // checkpoint recovery) — collect (id, day) per batch
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, java.sql.Date)]()
    def start() = spark.readStream
      .table("snapst1.ev")
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        assert(
          batch.schema("day").dataType == org.apache.spark.sql.types.DateType,
          "hive partition values must splice in under the declared type")
        batch.select("id", "day").collect().foreach(r => got.add((r.getLong(0), r.getDate(1))))
      }
      .start()
    val q = start()
    q.processAllAvailable()
    q.stop()
    assert(got.size == 5, "the initial image is version 1's batch")
    assert(got.asScala.map(_._1).sum == 15L)
    // an INSERT lands version 2; a restart from the checkpoint must emit
    // ONLY the new rows (committed offsets never replay)
    spark.sql("INSERT INTO snapst1.ev VALUES (6, 'click', 60.0, DATE'2024-01-05')")
    got.clear()
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()
    assert(
      got.asScala.toSeq == Seq((6L, java.sql.Date.valueOf("2024-01-05"))),
      s"restart must emit exactly the new commit, got ${got.asScala.toSeq}")
  }

  test("a rewrite commit fails the insert-only stream by default; skipChangeCommits skips it") {
    val (_, dir) = fixture("snapst2")
    Sources.deleteWhere(spark, dir, col("id") === 2L) // v2: rewrites a file
    val ckpt = Files.createTempDirectory("snapst2_ck").toString
    val q = spark.readStream
      .table("snapst2.ev")
      .writeStream
      .format("memory")
      .queryName("snapst2_m1")
      .option("checkpointLocation", ckpt)
      .start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
    }
    assert(e.getMessage.contains("skipChangeCommits"), e.getMessage)
    q.stop()
    // skipping rewrite commits: the stream emits version 1's files (the
    // deleted row included — insert-only semantics; v1's rewritten file
    // resolves through the archive) and nothing for the delete commit
    val q2 = spark.readStream
      .option("skipChangeCommits", "true")
      .table("snapst2.ev")
      .writeStream
      .format("memory")
      .queryName("snapst2_m2")
      .option("checkpointLocation", Files.createTempDirectory("snapst2_ck2").toString)
      .start()
    q2.processAllAvailable()
    q2.stop()
    assert(
      spark.table("snapst2_m2").select("id").as[Long].collect().sorted.toSeq ==
        Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("startingVersion=latest streams only post-start commits; column pruning carries through") {
    fixture("snapst3")
    val ckpt = Files.createTempDirectory("snapst3_ck").toString
    val q = spark.readStream
      .option("startingVersion", "latest")
      .table("snapst3.ev")
      .select("id", "day") // pruned: the reader gets a 2-column required schema
      .writeStream
      .format("memory")
      .queryName("snapst3_m")
      .option("checkpointLocation", ckpt)
      .start()
    q.processAllAvailable()
    assert(spark.table("snapst3_m").count() == 0L, "history before stream start must not emit")
    spark.sql("INSERT INTO snapst3.ev VALUES (7, 'view', 70.0, DATE'2024-01-06')")
    q.processAllAvailable()
    q.stop()
    val got = spark.table("snapst3_m").as[(Long, java.sql.Date)].collect().toSeq
    assert(got == Seq((7L, java.sql.Date.valueOf("2024-01-06"))), got.toString)
  }

  /** Table for the aggregate-pushdown/null-count tests: three day files,
    * `cat` has one null on day 01, none on day 02, ALL null on day 03.
    */
  private def aggFixture(name: String): String = {
    val base = emptyCatalog(name)
    val dir = s"$base/t"
    val rows = Seq(
      (1L, "2024-01-01", Option("alpha"), 1.5),
      (2L, "2024-01-01", Option.empty[String], 2.5),
      (3L, "2024-01-02", Option("omega"), 3.5),
      (4L, "2024-01-03", Option.empty[String], 4.5),
      (5L, "2024-01-03", Option.empty[String], 5.5)).toDF("id", "day", "cat", "score")
    Sources.writeParquet(rows.repartition(col("day")), dir, partitionCols = Seq("day"))
    Snapshots.commit(spark, dir, statsCols = Seq("day", "id", "cat", "score"))
    base
  }

  test("filter-free MIN/MAX/COUNT(col) answer from the manifest alone, null-count exact") {
    aggFixture("snagg1")
    val df = spark.sql(
      "SELECT min(id) AS mn, max(id) AS mx, count(id) AS ni, count(cat) AS nc, " +
        "min(cat) AS cmn, max(cat) AS cmx, min(day) AS dmn, max(day) AS dmx, count(*) AS n " +
        "FROM snagg1.t")
    val scan = scanOf(df)
    assert(scan.isInstanceOf[SnapAggScan], scan.description())
    assert(scan.description().contains("MIN(cat)"), scan.description())
    val r = df.head()
    assert(r.getLong(0) == 1L && r.getLong(1) == 5L, r)
    assert(r.getLong(2) == 5L, "count(id): no nulls")
    assert(r.getLong(3) == 2L, "count(cat) must exclude the 3 nulls")
    assert(r.getString(4) == "alpha" && r.getString(5) == "omega", r)
    assert(
      r.getDate(6).toString == "2024-01-01" && r.getDate(7).toString == "2024-01-03",
      "partition-date extremes from hive path values")
    assert(r.getLong(8) == 5L)
  }

  test("MIN/MAX pushdown refuses unsafe domains: floats (NaN), non-ASCII strings; long ASCII is exact") {
    val base = emptyCatalog("snagg2")
    // floating point: footer stats are NaN-unaware, must fall back
    aggFixtureQuery("snagg2f", "SELECT min(score) AS m FROM snagg2f.t") { (scan, df) =>
      assert(scan.isInstanceOf[SnapV2BatchScan], scan.description())
      assert(df.head().getDouble(0) == 1.5)
    }
    // long ASCII strings differing only past position 100: footer stats
    // must be untruncated for the pushed answer to be exact
    val longA = "a" * 100 + "x"
    val longB = "a" * 100 + "y"
    val dir2 = s"$base/longs"
    Sources.writeParquet(Seq((1L, longA), (2L, longB)).toDF("id", "s"), dir2)
    Snapshots.commit(spark, dir2, statsCols = Seq("s"))
    val lq = spark.sql("SELECT min(s) AS mn, max(s) AS mx FROM snagg2.longs")
    assert(scanOf(lq).isInstanceOf[SnapAggScan], scanOf(lq).description())
    val lr = lq.head()
    assert(lr.getString(0) == longA && lr.getString(1) == longB, "untruncated exact endpoints")
    // non-ASCII endpoints: UTF-16 vs unsigned-byte ordering can disagree —
    // refuse pushdown, answer from data
    val dir3 = s"$base/uni"
    Sources.writeParquet(Seq((1L, "żółć"), (2L, "apple")).toDF("id", "s"), dir3)
    Snapshots.commit(spark, dir3, statsCols = Seq("s"))
    val uq = spark.sql("SELECT max(s) AS mx FROM snagg2.uni")
    assert(scanOf(uq).isInstanceOf[SnapV2BatchScan], scanOf(uq).description())
    assert(uq.head().getString(0) == "żółć")
  }

  /** Helper: build the aggFixture under `name` and run one SQL against it. */
  private def aggFixtureQuery(name: String, sql: String)(
      check: (org.apache.spark.sql.connector.read.Scan, org.apache.spark.sql.DataFrame) => Unit)
      : Unit = {
    aggFixture(name)
    val df = spark.sql(sql)
    check(scanOf(df), df)
  }

  test("IS NULL / IS NOT NULL / value predicates prune files from recorded null counts") {
    aggFixture("snagg3")
    // cat IS NOT NULL: the all-null day 03 file is skipped at plan time
    val nn = spark.sql("SELECT id FROM snagg3.t WHERE cat IS NOT NULL ORDER BY id")
    assert(scanOf(nn).description().contains("files=2/3"), scanOf(nn).description())
    assert(nn.as[Long].collect().toSeq == Seq(1L, 3L))
    // cat IS NULL: the zero-null day 02 file is skipped
    val isn = spark.sql("SELECT id FROM snagg3.t WHERE cat IS NULL ORDER BY id")
    assert(scanOf(isn).description().contains("files=2/3"), scanOf(isn).description())
    assert(isn.as[Long].collect().toSeq == Seq(2L, 4L, 5L))
    // a value range on cat skips the all-null file even though that file
    // records no min/max interval for cat
    val rng = spark.sql("SELECT id FROM snagg3.t WHERE cat >= 'a' ORDER BY id")
    assert(scanOf(rng).description().contains("files=2/3"), scanOf(rng).description())
    assert(rng.as[Long].collect().toSeq == Seq(1L, 3L))
  }

  test("GROUP BY a partition column pushes complete: per-day counts and extremes, manifest-only") {
    aggFixture("snagg5")
    val df = spark.sql(
      "SELECT day, count(*) AS n, count(cat) AS nc, min(id) AS mn, max(id) AS mx " +
        "FROM snagg5.t GROUP BY day ORDER BY day")
    val scan = scanOf(df)
    assert(scan.isInstanceOf[SnapAggScan], scan.description())
    assert(scan.description().contains("GroupBy: [day]"), scan.description())
    val rows = df.collect().map(r =>
      (r.getDate(0).toString, r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(
      rows.toSeq == Seq(
        ("2024-01-01", 2L, 1L, 1L, 2L),
        ("2024-01-02", 1L, 1L, 3L, 3L),
        ("2024-01-03", 2L, 0L, 4L, 5L)),
      rows.toSeq.toString)
    // grouping on a non-path column must fall back to a real scan
    val bad = spark.sql("SELECT cat, count(*) AS n FROM snagg5.t GROUP BY cat")
    assert(scanOf(bad).isInstanceOf[SnapV2BatchScan], scanOf(bad).description())
    assert(bad.count() == 3L) // alpha, omega, null groups — computed, not guessed
  }

  test("SUM/AVG push complete from sum sidecars: manifest-only clean, hybrid DV'd, honest fallbacks") {
    val base = emptyCatalog("snsum")
    val dir = s"$base/t"
    val rows = Seq(
      (1L, "2024-01-01", Option(10L), 1.5),
      (2L, "2024-01-01", Option.empty[Long], 2.5),
      (3L, "2024-01-02", Option(30L), 3.5),
      (4L, "2024-01-03", Option(40L), 4.5),
      (5L, "2024-01-03", Option(2L), 5.5),
      (6L, "2024-01-04", Option.empty[Long], 6.5)).toDF("id", "day", "m", "score")
    Sources.writeParquet(rows.repartition(col("day")), dir, partitionCols = Seq("day"))
    // blooms present → the pooled sidecar pass records per-file sums too
    Snapshots.commit(spark, dir, Seq("day", "id", "m", "score"), Seq("id"))
    val df = spark.sql("SELECT sum(m) AS sm, sum(id) AS si, count(*) AS n FROM snsum.t")
    val scan = scanOf(df)
    assert(scan.isInstanceOf[SnapAggScan], scan.description())
    assert(scan.description().contains("SUM(m)"), scan.description())
    assert(scan.description().contains("manifest-only"), scan.description())
    val r = df.head()
    assert(r.getLong(0) == 82L && r.getLong(1) == 21L && r.getLong(2) == 6L, r.toString)
    // AVG: Spark rewrites it to SUM/COUNT — both push, still zero opens
    val avg = spark.sql("SELECT avg(m) AS am FROM snsum.t")
    assert(scanOf(avg).isInstanceOf[SnapAggScan], scanOf(avg).description())
    assert(scanOf(avg).description().contains("SUM(m)"), scanOf(avg).description())
    assert(avg.head().getDouble(0) == 82.0 / 4.0, "AVG ignores the two null rows")
    // grouped by the partition column; an all-null group answers SQL NULL
    val g = spark.sql("SELECT day, sum(m) AS sm FROM snsum.t GROUP BY day ORDER BY day")
    assert(scanOf(g).isInstanceOf[SnapAggScan], scanOf(g).description())
    val gs = g.collect().map(r0 => (r0.getDate(0).toString, if (r0.isNullAt(1)) null else r0.getLong(1)))
    assert(gs.toSeq == Seq(
      ("2024-01-01", 10L), ("2024-01-02", 30L), ("2024-01-03", 42L), ("2024-01-04", null)), gs.toSeq)
    // honest fallbacks BEFORE the canary (they read data): floating sums
    // are order-sensitive and DISTINCT sums have no per-file fold
    assert(scanOf(spark.sql("SELECT sum(score) AS s FROM snsum.t")).isInstanceOf[SnapV2BatchScan])
    assert(scanOf(spark.sql("SELECT sum(DISTINCT m) AS s FROM snsum.t")).isInstanceOf[SnapV2BatchScan])
    // zero-opens canary: physically junk a clean file — the pushed SUM
    // must not notice
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val victimRel = Snapshots.files(spark, dir).find(_.startsWith("day=2024-01-02/")).get
    val victim = new org.apache.hadoop.fs.Path(dir, victimRel)
    val out = fs.create(victim, true)
    out.write("not parquet".getBytes("UTF-8")); out.close()
    fs.delete(new org.apache.hadoop.fs.Path(victim.getParent, "." + victim.getName + ".crc"), false)
    val again = spark.sql("SELECT sum(m) AS sm FROM snsum.t")
    assert(scanOf(again).description().contains("manifest-only"), scanOf(again).description())
    assert(again.head().getLong(0) == 82L, "SUM must answer with zero file opens")
    // merge-on-read: delete id=5 (day=03's file) — SUM goes HYBRID,
    // scanning exactly the one DV'd file (the corrupted day=02 file stays
    // folded from the manifest, proving the split physically)
    DeleteVectors.deleteWhere(spark, dir, col("id") === 5L)
    val h = spark.sql("SELECT sum(m) AS sm FROM snsum.t")
    assert(scanOf(h).description().contains("hybrid: 1/"), scanOf(h).description())
    assert(h.head().getLong(0) == 80L, "the deleted row's 2 must vanish from the total")
  }

  test("DECIMAL SUM pushes from unscaled-BigInt sidecars: manifest-only, grouped, hybrid") {
    val base = emptyCatalog("snsumdec")
    val dir = s"$base/t"
    val rows = Seq(
      (1L, "2024-01-01", "10.25"),
      (2L, "2024-01-01", "0.75"),
      (3L, "2024-01-02", null),
      (4L, "2024-01-03", "-3.50"),
      (5L, "2024-01-03", "2.00")).toDF("id", "day", "p")
      .withColumn("price", col("p").cast("decimal(12,2)"))
      .drop("p")
    Sources.writeParquet(rows.repartition(col("day")), dir, partitionCols = Seq("day"))
    Snapshots.commit(spark, dir, Seq("day", "id", "price"), Seq("id"))
    val df = spark.sql("SELECT sum(price) AS sp FROM snsumdec.t")
    assert(scanOf(df).isInstanceOf[SnapAggScan], scanOf(df).description())
    assert(scanOf(df).description().contains("manifest-only"), scanOf(df).description())
    // Spark's SUM(DECIMAL(12,2)) answers DECIMAL(22,2) — the pushed slot
    // must agree exactly or the complete pushdown would mis-type
    assert(df.schema.head.dataType == org.apache.spark.sql.types.DecimalType(22, 2))
    assert(df.head().getDecimal(0).compareTo(new java.math.BigDecimal("9.50")) == 0)
    // AVG rewrites to SUM/COUNT above the pushdown — still zero opens
    val avg = spark.sql("SELECT avg(price) AS ap FROM snsumdec.t")
    assert(scanOf(avg).isInstanceOf[SnapAggScan], scanOf(avg).description())
    assert(avg.head().getDecimal(0).compareTo(new java.math.BigDecimal("2.375")) == 0)
    // grouped by the partition column; an all-null group answers SQL NULL
    val g = spark.sql("SELECT day, sum(price) AS sp FROM snsumdec.t GROUP BY day ORDER BY day")
    assert(scanOf(g).isInstanceOf[SnapAggScan], scanOf(g).description())
    val gs = g.collect().map(r =>
      (r.getDate(0).toString, Option(r.getDecimal(1)).map(_.toPlainString).orNull))
    assert(
      gs.toSeq == Seq(("2024-01-01", "11.00"), ("2024-01-02", null), ("2024-01-03", "-1.50")),
      gs.toSeq.toString)
    // merge-on-read: vector id=5 — the SUM goes hybrid, scanning exactly
    // day=03's file; the decimal fold re-scales the scanned side once
    DeleteVectors.deleteWhere(spark, dir, col("id") === 5L)
    val h = spark.sql("SELECT sum(price) AS sp FROM snsumdec.t")
    assert(scanOf(h).description().contains("hybrid: 1/"), scanOf(h).description())
    assert(h.head().getDecimal(0).compareTo(new java.math.BigDecimal("7.50")) == 0)
  }

  test("SUM pushes on a BLOOM-LESS stats table; overflow errors under ANSI, wraps without") {
    val base = emptyCatalog("snsumnb")
    val dir = s"$base/t"
    val rows = Seq(
      (Long.MaxValue, "2024-01-01"),
      (Long.MaxValue, "2024-01-02")).toDF("m", "day")
    Sources.writeParquet(rows.repartition(col("day")), dir, partitionCols = Seq("day"))
    // NO bloom columns declared: a routine commit pays no sum-building
    // data read (the table never opted in), so SUM falls back to a scan…
    Snapshots.commit(spark, dir, Seq("day", "m"))
    assert(scanOf(spark.sql("SELECT sum(m) AS sm FROM snsumnb.t")).isInstanceOf[SnapV2BatchScan])
    // …until the explicit upgrade: CALL ndv_backfill builds the sum
    // sidecars independently of blooms, and the discipline then sticks
    Snapshots.backfillNdv(spark, dir)
    val df = spark.sql("SELECT sum(m) AS sm FROM snsumnb.t")
    assert(scanOf(df).isInstanceOf[SnapAggScan], scanOf(df).description())
    assert(scanOf(df).description().contains("manifest-only"), scanOf(df).description())
    // 2 × Long.MaxValue overflows BIGINT — the pushed fold must match
    // Spark's own SUM contract exactly: error under ANSI, silent 64-bit
    // wrap without (the same query must not change behavior with pushdown)
    withConfs("spark.sql.ansi.enabled" -> "true") {
      val e = intercept[Exception](spark.sql("SELECT sum(m) AS sm FROM snsumnb.t").collect())
      assert(e.getMessage.contains("overflows BIGINT"), e.getMessage)
    }
    withConfs("spark.sql.ansi.enabled" -> "false") {
      val w = spark.sql("SELECT sum(m) AS sm FROM snsumnb.t")
      assert(scanOf(w).isInstanceOf[SnapAggScan], scanOf(w).description())
      assert(w.head().getLong(0) == -2L, "non-ANSI SUM wraps to the 64-bit total")
    }
    // a LATER routine commit keeps the discipline for its new files
    DeleteVectors.upsert(
      spark, dir, Seq((5L, "2024-01-03")).toDF("m", "day"), Seq("day", "m"))
    withConfs("spark.sql.ansi.enabled" -> "false") {
      val w2 = spark.sql("SELECT sum(m) AS sm FROM snsumnb.t")
      assert(scanOf(w2).description().contains("manifest-only"), scanOf(w2).description())
      assert(w2.head().getLong(0) == 3L, "2 x Long.MaxValue + 5 wraps to 3")
    }
  }

  test("a NULL partition value groups as SQL NULL and never leaks the hive sentinel into MIN/MAX") {
    val base = emptyCatalog("snaggnull")
    val dir = s"$base/t"
    val rows = Seq(
      (1L, Option("2024-01-01")),
      (2L, Option("2024-01-02")),
      (3L, Option.empty[String])).toDF("id", "day")
    Sources.writeParquet(rows.repartition(col("day")), dir, partitionCols = Seq("day"))
    Snapshots.commit(spark, dir, statsCols = Seq("day", "id"))
    // MIN/MAX over the partition column: the all-null sentinel file has
    // no value interval and provably contributes nothing
    val mm = spark.sql("SELECT min(day) AS mn, max(day) AS mx, count(day) AS n FROM snaggnull.t")
    assert(scanOf(mm).isInstanceOf[SnapAggScan], scanOf(mm).description())
    val r = mm.head()
    assert(r.getDate(0).toString == "2024-01-01" && r.getDate(1).toString == "2024-01-02", r)
    assert(r.getLong(2) == 2L, "count(day) excludes the null-partition row")
    // grouped: the sentinel is the SQL NULL group
    val g = spark.sql("SELECT day, count(*) AS n FROM snaggnull.t GROUP BY day")
    assert(scanOf(g).isInstanceOf[SnapAggScan], scanOf(g).description())
    val groups = g.collect().map(r0 => (if (r0.isNullAt(0)) null else r0.getDate(0).toString, r0.getLong(1))).toMap
    assert(groups == Map("2024-01-01" -> 1L, "2024-01-02" -> 1L, (null: String) -> 1L), groups.toString)
  }

  test("ALTER TABLE with a failing later change applies NOTHING (atomic statement)") {
    val (_, dir) = fixture("ddlatomic")
    val vBefore = Snapshots.latestVersion(spark, dir)
    val schemaBefore = spark.sql("SELECT * FROM ddlatomic.ev").schema.fieldNames.toSeq
    // second ADD collides with an existing column — the first must not land
    val e = intercept[Exception](
      spark.sql("ALTER TABLE ddlatomic.ev ADD COLUMNS (brand_new DOUBLE, event_type STRING)"))
    assert(e.getMessage.contains("already exists"), e.getMessage)
    assert(Snapshots.latestVersion(spark, dir) == vBefore, "no manifest version may land")
    assert(
      spark.sql("SELECT * FROM ddlatomic.ev").schema.fieldNames.toSeq == schemaBefore,
      "brand_new must not exist after the failed statement")
  }

  test("a filter value that doesn't parse in the stat's domain prunes nothing instead of failing") {
    emptyCatalog("snagtyped")
    // a DECLARED string column whose dir values are numeric-shaped:
    // fileColStats types the interval 'l' by value shape, while the
    // query side compares strings — the mismatch must prune nothing,
    // never throw
    spark.sql(
      "CREATE TABLE snagtyped.t (id BIGINT, code STRING) PARTITIONED BY (code) " +
        "TBLPROPERTIES ('stats_cols'='code')")
    spark.sql("INSERT INTO snagtyped.t VALUES (1, '123'), (2, '456')")
    val df = spark.sql("SELECT id FROM snagtyped.t WHERE code = 'unknown'")
    assert(df.collect().isEmpty, "no rows match; the query must not throw")
    val hit = spark.sql("SELECT id FROM snagtyped.t WHERE code = '123'")
    assert(hit.as[Long].collect().toSeq == Seq(1L))
  }

  test("startingVersion beyond current history never streams the versions below it") {
    val (_, dir) = fixture("snapstfut")
    val ids = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val ck = Files.createTempDirectory("snapstfut_ck").toString
    def run(): Unit = {
      val q = spark.readStream
        .option("startingVersion", "100")
        .table("snapstfut.ev")
        .writeStream
        .option("checkpointLocation", ck)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          batch.select("id").collect().foreach(r => ids.add(r.getLong(0)))
        }
        .start()
      q.processAllAvailable()
      q.stop()
    }
    run() // table is at v1 < 100: nothing may stream, offset must not regress
    Seq((7L, "2024-01-07", "late", 70.0)).toDF("id", "day", "event_type", "v")
      .createOrReplaceTempView("snapstfut_more")
    spark.sql("INSERT INTO snapstfut.ev SELECT id, event_type, v, CAST(day AS DATE) FROM snapstfut_more")
    run() // v2 < 100 still excluded
    assert(ids.isEmpty, s"versions below the pinned start leaked: ${ids.asScala.toSeq}")
  }

  test("partition values needing hive path escaping round-trip through stats, pruning and pushdown") {
    val base = emptyCatalog("snagesc")
    val dir = s"$base/t"
    // ':' and '#' are escaped to %XX in hive dir names — the recorded
    // stats, the pruned scan, the spliced read value and the pushed
    // extremes must all see the TRUE value
    val rows = Seq((1L, "a:1"), (2L, "b#2"), (3L, "plain")).toDF("id", "tag")
    Sources.writeParquet(rows.repartition(col("tag")), dir, partitionCols = Seq("tag"))
    Snapshots.commit(spark, dir, statsCols = Seq("tag"))
    // equality prune keeps exactly the matching file and reads the true value
    val one = spark.sql("SELECT id, tag FROM snagesc.t WHERE tag = 'a:1'")
    assert(scanOf(one).description().contains("files=1/3"), scanOf(one).description())
    assert(one.as[(Long, String)].collect().toSeq == Seq((1L, "a:1")))
    // MIN/MAX pushdown returns unescaped endpoints
    val mm = spark.sql("SELECT min(tag) AS mn, max(tag) AS mx FROM snagesc.t")
    assert(scanOf(mm).isInstanceOf[SnapAggScan], scanOf(mm).description())
    assert(mm.head() == org.apache.spark.sql.Row("a:1", "plain"), mm.head().toString)
    // grouped pushdown groups by the true value
    val g = spark.sql("SELECT tag, count(*) AS n FROM snagesc.t GROUP BY tag ORDER BY tag")
    assert(scanOf(g).isInstanceOf[SnapAggScan], scanOf(g).description())
    assert(
      g.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
        Seq(("a:1", 1L), ("b#2", 1L), ("plain", 1L)))
    // row reads splice the true value too
    val read = spark.read.table("snagesc.t").orderBy("id")
    assert(
      read.select("tag").as[String].collect().toSeq == Seq("a:1", "b#2", "plain"),
      "spliced partition values must be unescaped")
  }

  test("partition-exact filters are consumed: filtered and grouped aggregates stay manifest-only") {
    aggFixture("snagcf1")
    // equality on the partition column: consumed, no post-scan Filter, so
    // the aggregate still pushes — and only the matching day's files count
    val one = spark.sql(
      "SELECT count(*) AS n, count(cat) AS nc, min(id) AS mn FROM snagcf1.t " +
        "WHERE day = DATE'2024-01-03'")
    assert(scanOf(one).isInstanceOf[SnapAggScan], scanOf(one).description())
    assert(scanOf(one).description().contains("files=1/3"), scanOf(one).description())
    assert(one.head() == org.apache.spark.sql.Row(2L, 0L, 4L), one.head().toString)
    // IN-list + GROUP BY: still manifest-only, subset only
    val g = spark.sql(
      "SELECT day, count(*) AS n FROM snagcf1.t " +
        "WHERE day IN (DATE'2024-01-01', DATE'2024-01-03') GROUP BY day ORDER BY day")
    assert(scanOf(g).isInstanceOf[SnapAggScan], scanOf(g).description())
    assert(
      g.collect().map(r => (r.getDate(0).toString, r.getLong(1))).toSeq ==
        Seq(("2024-01-01", 2L), ("2024-01-03", 2L)))
    // a no-match value answers empty/zero without touching a file
    val none = spark.sql("SELECT count(*) AS n FROM snagcf1.t WHERE day = DATE'2030-01-01'")
    assert(scanOf(none).isInstanceOf[SnapAggScan], scanOf(none).description())
    assert(none.as[Long].head() == 0L)
    // plain row reads with a consumed filter stay value-correct
    val rowsRead = spark.sql("SELECT id FROM snagcf1.t WHERE day = DATE'2024-01-01' ORDER BY id")
    assert(rowsRead.as[Long].collect().toSeq == Seq(1L, 2L))
    // a filter on a NON-path column still blocks pushdown (sound fallback)
    val res = spark.sql("SELECT count(*) AS n FROM snagcf1.t WHERE cat = 'alpha'")
    assert(scanOf(res).isInstanceOf[SnapV2BatchScan], scanOf(res).description())
    assert(res.as[Long].head() == 1L)
  }

  test("non-canonical dir renderings refuse consumption: zero-padded int dirs answer correctly") {
    val base = emptyCatalog("snagpad")
    val dir = s"$base/t"
    // hand-built zero-padded layout: hour=00 / hour=07 under an int-typed
    // column (adopted tables look like this). Consumption would compare
    // "0" against "00" and silently answer zero — the gate must refuse
    // and leave the filter residual.
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(("00", Seq(1L, 2L)), ("07", Seq(3L))).foreach { case (h, ids) =>
      ids.toDF("id").write.mode("append").parquet(s"$dir/hour=$h")
    }
    Snapshots.commit(spark, dir, statsCols = Seq("hour"))
    val schema = spark.sql("SELECT * FROM snagpad.t").schema
    assert(
      schema.fields.find(_.name == "hour").get.dataType ==
        org.apache.spark.sql.types.IntegerType,
      s"partition inference should type hour as int: $schema")
    val n = spark.sql("SELECT count(*) AS n FROM snagpad.t WHERE hour = 0")
    assert(
      scanOf(n).isInstanceOf[SnapV2BatchScan],
      s"non-canonical dirs must NOT consume: ${scanOf(n).description()}")
    assert(n.as[Long].head() == 2L, "rows under hour=00 must still count")
    assert(
      spark.sql("SELECT id FROM snagpad.t WHERE hour = 7").as[Long].collect().toSeq == Seq(3L))
    // null-ness filters refuse consumption on non-canonical layouts too:
    // a non-castable dir value would splice to NULL rows while its
    // segment is present, so segment presence cannot answer IS NOT NULL
    val nn = spark.sql("SELECT count(*) AS n FROM snagpad.t WHERE hour IS NOT NULL")
    assert(scanOf(nn).isInstanceOf[SnapV2BatchScan], scanOf(nn).description())
    assert(nn.as[Long].head() == 3L)
  }

  test("consumed filters stay exact on streams and null partitions") {
    // IS NULL / IS NOT NULL on the partition column consume exactly
    val base = emptyCatalog("snagcf2")
    val dir = s"$base/t"
    val rows = Seq((1L, Option("2024-01-01")), (2L, Option.empty[String]), (3L, Option("2024-01-02")))
      .toDF("id", "day")
    Sources.writeParquet(rows.repartition(col("day")), dir, partitionCols = Seq("day"))
    Snapshots.commit(spark, dir, statsCols = Seq("day", "id"))
    val nn = spark.sql("SELECT count(*) AS n FROM snagcf2.t WHERE day IS NOT NULL")
    assert(scanOf(nn).isInstanceOf[SnapAggScan], scanOf(nn).description())
    assert(nn.as[Long].head() == 2L)
    val isn = spark.sql("SELECT id FROM snagcf2.t WHERE day IS NULL")
    assert(isn.as[Long].collect().toSeq == Seq(2L))
    // a streaming read with a partition filter emits only matching rows
    // whether or not the filter was pushed into the source
    val ids = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = spark.readStream
      .table("snagcf2.t")
      .where(col("day") === lit("2024-01-02").cast("date"))
      .writeStream
      .option("checkpointLocation", Files.createTempDirectory("snagcf2_ck").toString)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batch.select("id").collect().foreach(r => ids.add(r.getLong(0)))
      }
      .start()
    q.processAllAvailable()
    q.stop()
    assert(ids.asScala.toSeq.sorted == Seq(3L), ids.asScala.toSeq.sorted.toString)
  }

  test("aggregate pushdown on an empty created table: COUNT 0, MIN/MAX NULL, still manifest-only") {
    emptyCatalog("snagg4")
    spark.sql("CREATE TABLE snagg4.t (id BIGINT, s STRING) TBLPROPERTIES ('stats_cols'='id,s')")
    val df = spark.sql("SELECT count(*) AS n, count(s) AS ns, min(id) AS mn, max(s) AS mx FROM snagg4.t")
    assert(scanOf(df).isInstanceOf[SnapAggScan], scanOf(df).description())
    val r = df.head()
    assert(r.getLong(0) == 0L && r.getLong(1) == 0L && r.isNullAt(2) && r.isNullAt(3), r)
  }

  /** Run `body` with SQL confs set, restoring the previous values. */
  private def withConfs(pairs: (String, String)*)(body: => Unit): Unit = {
    val prev = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("storage-partitioned join: co-partitioned snapshot tables join with zero shuffles") {
    val base = emptyCatalog("spj1")
    val days = Seq("2024-01-01", "2024-01-02", "2024-01-03")
    val facts = days.zipWithIndex.flatMap { case (d, i) =>
      (0 until 4).map(j => (i * 10L + j, d, (i * 10 + j) * 1.0))
    }
    val dims = days.zipWithIndex.map { case (d, i) => (d, s"label_$i") }
    Sources.writeParquet(
      facts.toDF("id", "day", "v").repartition(col("day")),
      s"$base/fact",
      partitionCols = Seq("day"))
    Snapshots.commit(spark, s"$base/fact", statsCols = Seq("day"))
    Sources.writeParquet(
      dims.toDF("day", "label").repartition(col("day")),
      s"$base/dim",
      partitionCols = Seq("day"))
    Snapshots.commit(spark, s"$base/dim", statsCols = Seq("day"))
    withConfs(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      val joined = spark.sql(
        "SELECT f.id, f.v, d.label FROM spj1.fact f JOIN spj1.dim d ON f.day = d.day")
      val rows = joined.collect()
      assert(rows.length == 12, s"expected 12 joined rows, got ${rows.length}")
      assert(
        rows.forall(r => r.getString(2).startsWith("label_")),
        "dim columns must join through")
      val shuffles = joined.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(
        shuffles.isEmpty,
        s"storage-partitioned join must not shuffle either side:\n${joined.queryExecution.executedPlan}")
      // and both scans are the keyed snapshot scan
      val scans = joined.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r.scan
      }
      assert(scans.size == 2 && scans.forall(_.isInstanceOf[SnapV2BatchScan]), scans.toString)
    }
  }

  test("a catalog read is value-identical to Snapshots.readSnapshot (nulls, dates, pruning)") {
    val dir = s"${aggFixture("v2eq1")}/t"
    val viaCatalog = spark.read.table("v2eq1.t")
    assert(scanOf(viaCatalog).isInstanceOf[SnapV2BatchScan], scanOf(viaCatalog).description())
    val direct = Snapshots.readSnapshot(spark, dir).select(viaCatalog.columns.map(col).toIndexedSeq: _*)
    assert(
      viaCatalog.schema.map(f => (f.name, f.dataType)) == direct.schema.map(f => (f.name, f.dataType)),
      s"${viaCatalog.schema} vs ${direct.schema}")
    val key = (r: org.apache.spark.sql.Row) => r.toSeq.map(String.valueOf(_)).mkString("|")
    assert(viaCatalog.collect().map(key).sorted.toSeq == direct.collect().map(key).sorted.toSeq)
    // stats pruning runs in the scan builder, off the manifest alone
    val pruned = spark.read
      .table("v2eq1.t")
      .filter(col("day") === "2024-01-02")
    assert(scanOf(pruned).description().contains("files=1/3"), scanOf(pruned).description())
    assert(pruned.select("id").as[Long].collect().toSeq == Seq(3L))
  }

  test("v2 reads push data-column predicates into the parquet reader, evolution-safe") {
    val (_, _) = fixture("snagrg1")
    spark.sql("ALTER TABLE snagrg1.ev ADD COLUMNS (score DOUBLE)")
    Seq((8L, "2024-01-08", "late", 80.0, 0.9)).toDF("id", "day", "event_type", "v", "score")
      .createOrReplaceTempView("snagrg1_more")
    spark.sql(
      "INSERT INTO snagrg1.ev SELECT id, event_type, v, CAST(day AS DATE), score FROM snagrg1_more")
    // data-column predicates travel into the per-file parquet reader
    val ids = spark.read
      .table("snagrg1.ev")
      .filter(col("id") >= 3L && col("v") < 100.0)
      .select("id")
      .as[Long]
      .collect()
      .sorted
    assert(ids.toSeq == Seq(3L, 4L, 5L, 8L), ids.toSeq.toString)
    // a predicate on the ALTER-added column: pre-ALTER files don't carry
    // it in their footers — the per-file translation must drop it there
    // (their null-filled rows are excluded by Spark's residual) while the
    // post-ALTER file applies it natively
    val scored = spark.read
      .table("snagrg1.ev")
      .filter(col("score") > 0.5)
      .select("id")
      .as[Long]
      .collect()
    assert(scored.toSeq == Seq(8L), scored.toSeq.toString)
  }

  test("runtime join-key filtering prunes fact files from a selective dim at execution time") {
    val base = emptyCatalog("dpp1")
    val days = (1 to 6).map(i => f"2024-01-$i%02d")
    val facts = days.zipWithIndex.flatMap { case (d, i) =>
      (0 until 3).map(j => (i * 10L + j, d, j * 1.0))
    }
    Sources.writeParquet(
      facts.toDF("id", "day", "v").repartition(col("day")),
      s"$base/fact",
      partitionCols = Seq("day"))
    Snapshots.commit(spark, s"$base/fact", statsCols = Seq("day"))
    // small dim TABLE (a local relation would constant-fold the filter
    // away and Spark's partition-pruning rule requires a selective Filter
    // on the dim side), filtered to ONE day: broadcast side, and the
    // value set Spark hands the fact scan at runtime. Same DATE type as
    // the fact's inferred partition column — a cast on the join key would
    // defeat DPP's attribute extraction
    days
      .map(d => (java.sql.Date.valueOf(d), if (d == "2024-01-03") "keep" else "drop"))
      .toDF("day", "tag")
      .write
      .parquet(s"$base/dimraw")
    spark.read.parquet(s"$base/dimraw").createOrReplaceTempView("dpp1_dim")
    withConfs(
      // the DPP benefit estimator uses column stats neither tiny side
      // has; at fixture scale it would decline what it accepts at real
      // scale — bypass the estimate, keep the mechanism under test
      "spark.sql.optimizer.dynamicPartitionPruning.useStats" -> "false") {
      val df = spark.sql(
        "SELECT f.id FROM dpp1.fact f JOIN dpp1_dim d ON f.day = d.day WHERE d.tag = 'keep' " +
          "ORDER BY f.id")
      val scan = scanOf(df)
      assert(scan.isInstanceOf[SnapV2BatchScan], scan.description())
      val v2 = scan.asInstanceOf[SnapV2BatchScan]
      assert(v2.currentRels.size == 6, "all 6 day files before execution")
      // collect df ITSELF: .as[...] would build a fresh QueryExecution
      // with its own scan instance, and the assert below must observe the
      // one that executed
      assert(df.collect().map(_.getLong(0)).toSeq == Seq(20L, 21L, 22L))
      assert(
        v2.currentRels.size == 1,
        s"runtime filter must prune to the one matching day file, kept: ${v2.currentRels}")
      // the pruning outcome is a first-class SQL metric on the scan node
      val scanExec = batchScanExecOf(df)
      assert(scanExec.metrics("snapFilesRead").value == 1L, scanExec.metrics.toString)
      assert(scanExec.metrics("snapFilesPruned").value == 5L, scanExec.metrics.toString)
    }
  }

  test("maxFilesPerTrigger pages through a single large version in bounded batches, exactly-once") {
    fixture("snapst4") // version 1 alone holds 4 files
    val ids = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val batches = new java.util.concurrent.atomic.AtomicInteger(0)
    val q = spark.readStream
      .option("maxFilesPerTrigger", "2")
      .table("snapst4.ev")
      .writeStream
      .option("checkpointLocation", Files.createTempDirectory("snapst4_ck").toString)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty) batches.incrementAndGet()
        batch.select("id").collect().foreach(r => ids.add(r.getLong(0)))
      }
      .start()
    q.processAllAvailable()
    q.stop()
    assert(batches.get() >= 2, s"4 files at 2/trigger must take >= 2 batches, got ${batches.get()}")
    assert(ids.asScala.toSeq.sorted == Seq(1L, 2L, 3L, 4L, 5L), ids.asScala.toSeq.sorted.toString)
  }

  test("maxBytesPerTrigger pages by recorded manifest lengths, soft cap admits oversized files") {
    fixture("snapst5") // version 1: 4 hive day files, each well under 10 KB
    val ids = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val batches = new java.util.concurrent.atomic.AtomicInteger(0)
    val q = spark.readStream
      .option("maxBytesPerTrigger", "1") // 1 byte: every file oversized → one file per batch
      .table("snapst5.ev")
      .writeStream
      .option("checkpointLocation", Files.createTempDirectory("snapst5_ck").toString)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty) batches.incrementAndGet()
        batch.select("id").collect().foreach(r => ids.add(r.getLong(0)))
      }
      .start()
    q.processAllAvailable()
    q.stop()
    assert(batches.get() == 4, s"4 files at 1 byte/trigger must take exactly 4 batches, got ${batches.get()}")
    assert(ids.asScala.toSeq.sorted == Seq(1L, 2L, 3L, 4L, 5L), ids.asScala.toSeq.sorted.toString)
  }

  test("cat.t.partitions rolls up per-partition files/rows/bytes from the manifest") {
    val (_, _) = fixture("snapmt1") // 4 day files: 2+1+1+1 rows
    val rows = spark
      .sql("SELECT partition, n_files, n_rows FROM snapmt1.ev.partitions ORDER BY partition")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(
      rows.toSeq == Seq(
        ("day=2024-01-01", 1L, 2L),
        ("day=2024-01-02", 1L, 1L),
        ("day=2024-01-03", 1L, 1L),
        ("day=2024-01-04", 1L, 1L)),
      rows.toSeq.toString)
    val bytes = spark.sql("SELECT n_bytes FROM snapmt1.ev.partitions").collect()
    assert(bytes.forall(r => !r.isNullAt(0) && r.getLong(0) > 0L), "recorded byte sizes")
  }

  test("INSERT clusters rows by the hive layout: files stay one-per-partition, not tasks x partitions") {
    fixture("snaprb1")
    val before = Snapshots.files(spark, spark.conf.get("spark.sql.catalog.snaprb1.root") + "/ev").toSet
    // 60 rows over 2 NEW days, deliberately scattered over 8 upstream
    // partitions — without clustering this would land up to 16 files
    (0 until 60)
      .map(i => (100L + i, if (i % 2 == 0) "2024-02-01" else "2024-02-02", "bulk", i * 1.0))
      .toDF("id", "day", "event_type", "v")
      .repartition(8)
      .createOrReplaceTempView("snaprb1_src")
    spark.sql(
      "INSERT INTO snaprb1.ev SELECT id, event_type, v, CAST(day AS DATE) FROM snaprb1_src")
    val dir = spark.conf.get("spark.sql.catalog.snaprb1.root") + "/ev"
    val added = Snapshots.files(spark, dir).filterNot(before)
    val byDay = added.groupBy(_.split("/").head)
    assert(byDay.keySet == Set("day=2024-02-01", "day=2024-02-02"), byDay.keySet.toString)
    assert(
      byDay.values.forall(_.size == 1),
      s"each inserted day must land as ONE file, got: $added")
    assert(
      spark.sql("SELECT count(*) FROM snaprb1.ev").as[Long].head() == 65L,
      "5 fixture + 60 inserted rows")
  }

  test("startingTimestamp streams from the first commit at-or-after the instant") {
    val (_, dir) = fixture("snapst7") // v1 at its commit mtime
    Thread.sleep(1100) // manifest mtimes are second-granular on some filesystems
    val cut = System.currentTimeMillis()
    Seq((9L, "2024-01-09", "late", 90.0)).toDF("id", "day", "event_type", "v")
      .createOrReplaceTempView("snapst7_more")
    spark.sql("INSERT INTO snapst7.ev SELECT id, event_type, v, CAST(day AS DATE) FROM snapst7_more")
    val ids = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = spark.readStream
      .option("startingTimestamp", cut.toString)
      .table("snapst7.ev")
      .writeStream
      .option("checkpointLocation", Files.createTempDirectory("snapst7_ck").toString)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batch.select("id").collect().foreach(r => ids.add(r.getLong(0)))
      }
      .start()
    q.processAllAvailable()
    q.stop()
    assert(
      ids.asScala.toSeq.sorted == Seq(9L),
      s"only the post-cut commit's rows must stream, got ${ids.asScala.toSeq.sorted}")
  }

  test("Trigger.AvailableNow drains pinned history in bounded batches, then stops") {
    val (_, dir) = fixture("snapst6") // v1: 4 day files
    Seq((6L, "2024-01-05", "click", 60.0)).toDF("id", "day", "event_type", "v")
      .createOrReplaceTempView("snapst6_more")
    spark.sql("INSERT INTO snapst6.ev SELECT id, event_type, v, CAST(day AS DATE) FROM snapst6_more")
    val ids = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val batches = new java.util.concurrent.atomic.AtomicInteger(0)
    val q = spark.readStream
      .option("maxFilesPerTrigger", "2")
      .table("snapst6.ev")
      .writeStream
      .option("checkpointLocation", Files.createTempDirectory("snapst6_ck").toString)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty) batches.incrementAndGet()
        batch.select("id").collect().foreach(r => ids.add(r.getLong(0)))
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "available-now query must terminate on its own")
    assert(batches.get() >= 3, s"5 files at 2/trigger must take >= 3 batches, got ${batches.get()}")
    assert(ids.asScala.toSeq.sorted == Seq(1L, 2L, 3L, 4L, 5L, 6L), ids.asScala.toSeq.sorted.toString)
  }

  test("SQL UPDATE and MERGE work on hive-partitioned tables; untouched partitions stay byte-identical") {
    val (_, dir) = fixture("snappdml") // day-partitioned: 4 day dirs, 5 rows
    def filesByDay: Map[String, Seq[(String, Long)]] =
      Snapshots.files(spark, dir).map { rel =>
        val day = rel.split("/").head
        day -> (rel -> new java.io.File(s"$dir/$rel").length())
      }.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val before = filesByDay
    // UPDATE narrowed to one day: only that day's directory may change
    spark.sql("UPDATE snappdml.ev SET v = v + 100 WHERE day = DATE'2024-01-02'")
    val afterUpdate = filesByDay
    before.keySet.filterNot(_ == "day=2024-01-02").foreach { d =>
      assert(afterUpdate(d) == before(d), s"untouched partition $d was rewritten")
    }
    assert(afterUpdate("day=2024-01-02") != before("day=2024-01-02"), "target partition must change")
    val got = spark.sql("SELECT id, v FROM snappdml.ev ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == Seq((1L, 10.0), (2L, 11.0), (3L, 120.0), (4L, 30.0), (5L, 40.0)), got.toString)
    // partition values still splice from the path: the new image's file
    // landed in the day's directory WITHOUT a day column (hive layout)
    val beforeRels = before("day=2024-01-02").map(_._1).toSet
    val added = Snapshots.files(spark, dir).filter(_.startsWith("day=2024-01-02")).filterNot(beforeRels)
    assert(added.size == 1, added.toString)
    assert(
      !spark.read.parquet(s"$dir/${added.head}").columns.contains("day"),
      "written file must not embed the partition column")
    // MERGE: update one day, insert a row into a NEW day — routed by the
    // row's own partition value
    Seq((3L, "2024-01-02", "click", 999.0), (9L, "2024-01-09", "view", 90.0))
      .toDF("id", "day", "event_type", "v")
      .createOrReplaceTempView("snappdml_src")
    spark.sql(
      "MERGE INTO snappdml.ev t USING " +
        "(SELECT id, event_type, v, CAST(day AS DATE) AS day FROM snappdml_src) s " +
        "ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET v = s.v " +
        "WHEN NOT MATCHED THEN INSERT *")
    val merged = spark.sql("SELECT id, v, day FROM snappdml.ev ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDate(2).toString)).toSeq
    assert(
      merged == Seq(
        (1L, 10.0, "2024-01-01"), (2L, 11.0, "2024-01-01"), (3L, 999.0, "2024-01-02"),
        (4L, 30.0, "2024-01-03"), (5L, 40.0, "2024-01-04"), (9L, 90.0, "2024-01-09")),
      merged.toString)
    assert(
      Snapshots.files(spark, dir).exists(_.startsWith("day=2024-01-09")),
      "inserted row must land in its own partition directory")
    // UPDATE that MOVES a row across partitions: the row lands in its new
    // day's directory and vanishes from the old one
    spark.sql("UPDATE snappdml.ev SET day = DATE'2024-01-05' WHERE id = 5")
    assert(
      spark.sql("SELECT day FROM snappdml.ev WHERE id = 5").head().getDate(0).toString ==
        "2024-01-05")
    assert(Snapshots.files(spark, dir).exists(_.startsWith("day=2024-01-05")))
    assert(spark.sql("SELECT count(*) FROM snappdml.ev WHERE day = DATE'2024-01-04'").as[Long].head() == 0L)
    // time travel still pins the pre-DML state
    assert(spark.sql("SELECT count(*) FROM snappdml.ev VERSION AS OF 1").as[Long].head() == 5L)
  }

  test("GROUP BY refuses complete pushdown on non-canonical dir renderings (no duplicate groups)") {
    val base = emptyCatalog("snagpadg")
    val dir = s"$base/t"
    // hour=0 and hour=00 are ONE int value; a pushdown grouping by raw
    // segment would emit two rows Spark never re-aggregates
    Seq(("0", Seq(1L)), ("00", Seq(2L, 3L))).foreach { case (h, ids) =>
      ids.toDF("id").write.mode("append").parquet(s"$dir/hour=$h")
    }
    Snapshots.commit(spark, dir, statsCols = Seq("hour"))
    val g = spark.sql("SELECT hour, count(*) AS n FROM snagpadg.t GROUP BY hour")
    assert(
      scanOf(g).isInstanceOf[SnapV2BatchScan],
      s"non-canonical dirs must refuse grouped pushdown: ${scanOf(g).description()}")
    val rows = g.collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    assert(rows == Map(0 -> 3L), rows.toString)
  }

  test("a non-castable dir value splices NULL on the v2 path, not an ANSI cast error") {
    val base = emptyCatalog("snaglegc")
    spark.sql(
      "CREATE TABLE snaglegc.t (id BIGINT, uid INT) PARTITIONED BY (uid) " +
        "TBLPROPERTIES ('stats_cols'='id')")
    spark.sql("INSERT INTO snaglegc.t VALUES (1, 7)")
    val dir = s"$base/t"
    // adopted dir whose value can't cast to the declared int type: Spark's
    // own partition handling splices NULL (legacy cast), and the v2 scan's
    // partition key + read-side splice must agree — never throw, even with
    // the session's ANSI default
    Seq(5L).toDF("id").write.mode("append").parquet(s"$dir/uid=abc")
    Snapshots.commit(spark, dir)
    withConfs("spark.sql.ansi.enabled" -> "true") {
      val got = spark.read
        .table("snaglegc.t")
        .select("id", "uid")
        .collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) -1 else r.getInt(1)))
        .toSet
      assert(got == Set((1L, 7), (5L, -1)), got.toString)
    }
  }

  test("skipChangeCommits charges no admission budget for a skipped rewrite commit") {
    val (_, dir) = fixture("snapskip")
    Sources.deleteWhere(spark, dir, col("id") === 2L) // v2: rewrite commit
    spark.sql("INSERT INTO snapskip.ev VALUES (6, 'click', 60.0, DATE'2024-01-05')") // v3
    val ids = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val empties = new java.util.concurrent.atomic.AtomicInteger(0)
    val q = spark.readStream
      .option("skipChangeCommits", "true")
      .option("maxFilesPerTrigger", "1")
      .table("snapskip.ev")
      .writeStream
      .option("checkpointLocation", Files.createTempDirectory("snapskip_ck").toString)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (batch.isEmpty) { empties.incrementAndGet(); () }
        else batch.select("id").collect().foreach(r => ids.add(r.getLong(0)))
      }
      .start()
    q.processAllAvailable()
    q.stop()
    // insert-only view: v1's five rows (deleted row included) + v3's row
    assert(ids.asScala.toSeq.sorted == Seq(1L, 2L, 3L, 4L, 5L, 6L), ids.asScala.toSeq.sorted.toString)
    assert(
      empties.get() == 0,
      s"a skipped rewrite commit must advance cost-free, not drain as ${empties.get()} empty batch(es)")
  }

  test("checks/mv metadata relations refuse a VERSION AS OF pin — always-current, never silently so") {
    val (_, dir) = fixture("snapmetapin")
    Constraints.addCheck(spark, dir, "v_pos", "v > 0")
    // unpinned reads work
    assert(
      spark.sql("SELECT name, expr FROM snapmetapin.ev.checks").collect().map(_.getString(0)).toSeq
        == Seq("v_pos"))
    // a pinned read would show the CURRENT check set as if historical —
    // refuse loudly (the sibling kinds dvs/files pin exactly)
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM snapmetapin.ev.checks VERSION AS OF 1").collect()
    }
    assert(e.getMessage.contains("always-current"), e.getMessage)
    val e2 = intercept[Exception] {
      spark.sql("SELECT * FROM snapmetapin.ev.mv VERSION AS OF 1").collect()
    }
    assert(e2.getMessage.contains("always-current"), e2.getMessage)
  }

  test("manifest-only answers run zero Spark jobs; a hybrid aggregate over DV'd files still scans") {
    val base = aggFixture("snzero")
    // filter-free COUNT(*): the manifest's recorded row counts
    val cnt = spark.sql("SELECT count(*) AS n FROM snzero.t")
    assert(scanOf(cnt).isInstanceOf[SnapAggScan], scanOf(cnt).description())
    var n = -1L
    assert(jobsOf { n = cnt.collect().head.getLong(0) } == 0, "COUNT(*) must run no job")
    assert(n == 5L)
    // grouped MIN/MAX under a consumed partition filter
    val g = spark.sql(
      "SELECT day, min(id) AS mn, max(id) AS mx FROM snzero.t " +
        "WHERE day IN (DATE'2024-01-01', DATE'2024-01-03') GROUP BY day")
    assert(scanOf(g).isInstanceOf[SnapAggScan], scanOf(g).description())
    var grouped = Seq.empty[(String, Long, Long)]
    assert(
      jobsOf {
        grouped = g.collect().map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2))).toSeq
      } == 0,
      "grouped MIN/MAX must run no job")
    assert(grouped.sorted == Seq(("2024-01-01", 1L, 2L), ("2024-01-03", 4L, 5L)), grouped.toString)
    // the metadata tables
    Seq("snapshots" -> 1L, "partitions" -> 3L).foreach { case (kind, rows) =>
      val m = spark.sql(s"SELECT * FROM snzero.t.$kind")
      var got = -1L
      assert(jobsOf { got = m.collect().length.toLong } == 0, s"cat.t.$kind must run no job")
      assert(got == rows, s"cat.t.$kind rows: $got")
    }
    // hybrid: the DV'd file holds the table's max, which the manifest
    // interval still records — the answer must come from scanning it
    DeleteVectors.deleteWhere(spark, s"$base/t", col("id") === 5L)
    val h = spark.sql("SELECT min(id) AS mn, max(id) AS mx FROM snzero.t")
    assert(scanOf(h).description().contains("hybrid: 1/3"), scanOf(h).description())
    var ext = (0L, 0L)
    assert(jobsOf { ext = h.collect().map(r => (r.getLong(0), r.getLong(1))).head } > 0)
    assert(ext == ((1L, 4L)), ext.toString)
  }

  test("malformed graft confs fail naming the key") {
    val base = Files.createTempDirectory("snbadconf").toString
    // (key, malformed value, op over a committed table with id stats +
    // bloom). Every op reaches the conf: a commit reads the checkpoint
    // interval; the deletes read the rewrite-size and deletion-vector confs
    def appendAndCommit(dir: String): Unit = {
      Seq((9L, "z")).toDF("id", "s").coalesce(1).write.mode("append").parquet(dir)
      Snapshots.commit(spark, dir)
      ()
    }
    val cases: Seq[(String, String, String => Unit)] = Seq(
      ("spark.graft.snapshot.checkpointInterval", "20x", appendAndCommit),
      ("spark.graft.rewrite.targetBytes", "128m", dir => { Sources.deleteWhere(spark, dir, col("id") === 1L); () }),
      ("spark.graft.dv.maxDeletedFraction", "most", dir => { DeleteVectors.deleteWhere(spark, dir, col("id") === 1L); () }))
    cases.zipWithIndex.foreach { case ((key, bad, op), i) =>
      val dir = s"$base/t$i"
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s").coalesce(1).write.parquet(dir)
      Snapshots.commit(spark, dir, Seq("id"), Seq("id"))
      spark.conf.set(key, bad)
      val e =
        try intercept[Exception](op(dir))
        finally spark.conf.unset(key)
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage).toSeq
      assert(msgs.exists(m => m != null && m.contains(key) && m.contains(bad)), s"$key: ${msgs.mkString(" / ")}")
    }
  }

  /** A byte copy of a table directory (data, manifests, sidecars) — the
    * same table at a second root, for the programmatic reference ops.
    */
  private def copyTable(dir: String, to: String): String = {
    val src = new org.apache.hadoop.fs.Path(dir)
    val fs = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
    org.apache.hadoop.fs.FileUtil.copy(
      fs, src, fs, new org.apache.hadoop.fs.Path(to), false, spark.sparkContext.hadoopConfiguration)
    to
  }

  /** The DML model's row domain: `df`'s `cols` as plain rows, sorted by
    * rendering (a multiset compare).
    */
  private def modelRows(df: org.apache.spark.sql.DataFrame, cols: Seq[String]): Seq[org.apache.spark.sql.Row] =
    df.select(cols.map(col): _*).collect().toSeq.sortBy(_.toString)

  /** Both the catalog table `t` and the reference table at `refDir` hold
    * exactly the `model` rows.
    */
  private def assertModel(t: String, refDir: String, cols: Seq[String], model: Seq[org.apache.spark.sql.Row]): Unit = {
    val want = model.sortBy(_.toString)
    assert(modelRows(spark.table(t), cols) == want, s"SQL table $t differs from the model")
    assert(modelRows(Snapshots.readSnapshot(spark, refDir), cols) == want, s"reference $refDir differs from the model")
  }

  test("SQL DELETE, UPDATE and MERGE and the programmatic ops leave the rows of a plain-Scala model") {
    import org.apache.spark.sql.Row
    // the model: each statement applied to the collected pre-state rows in
    // plain Scala, with SQL's NULL rule (a NULL comparison never matches)
    def nn(r: Row, i: Int): Option[Long] = if (r.isNullAt(i)) None else Some(r.getLong(i))
    def set(r: Row, i: Int, v: Any): Row = Row.fromSeq(r.toSeq.updated(i, v))

    // flat table with NULLs in v: a NULL predicate row is never matched
    val flatBase = Files.createTempDirectory("snapequiv_flat").toString
    spark
      .range(0L, 200L)
      .select($"id", when($"id" % 10 === 0, lit(null)).otherwise($"id" % 7).as("v"))
      .repartitionByRange(2, $"id")
      .write
      .parquet(s"$flatBase/t")
    Snapshots.commit(spark, s"$flatBase/t", Seq("id"))
    spark.conf.set("spark.sql.catalog.snapeq1", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.snapeq1.root", flatBase)
    val flatRef = copyTable(s"$flatBase/t", s"$flatBase/ref")
    val flatCols = Seq("id", "v")
    var flat = modelRows(spark.table("snapeq1.t"), flatCols)
    spark.sql("DELETE FROM snapeq1.t WHERE v = 3") // pushable: deletion vectors
    Sources.deleteWhere(spark, flatRef, col("v") === 3)
    flat = flat.filterNot(r => nn(r, 1).contains(3L))
    spark.sql("DELETE FROM snapeq1.t WHERE v + 0 = 4") // un-pushable: row-level operation
    Sources.deleteWhere(spark, flatRef, col("v") + 0 === 4)
    flat = flat.filterNot(r => nn(r, 1).contains(4L))
    spark.sql("UPDATE snapeq1.t SET v = v * 10 WHERE id % 3 = 0 AND v > 1")
    Sources.updateWhere(spark, flatRef, col("id") % 3 === 0 && col("v") > 1, Map("v" -> col("v") * 10))
    flat = flat.map(r =>
      if (r.getLong(0) % 3 == 0 && nn(r, 1).exists(_ > 1L)) set(r, 1, r.getLong(1) * 10) else r)
    spark.range(0L, 200L, 4L).toDF("sid").createOrReplaceTempView("snapeq1_src")
    spark.sql("""MERGE INTO snapeq1.t t USING snapeq1_src s ON t.id = s.sid
      WHEN MATCHED AND t.v = 5 THEN DELETE
      WHEN MATCHED THEN UPDATE SET v = t.v + 100""")
    Sources.deleteWhere(spark, flatRef, col("id") % 4 === 0 && col("v") === 5)
    Sources.updateWhere(spark, flatRef, col("id") % 4 === 0, Map("v" -> (col("v") + 100)))
    flat = flat
      .filterNot(r => r.getLong(0) % 4 == 0 && nn(r, 1).contains(5L))
      .map(r => if (r.getLong(0) % 4 == 0) set(r, 1, nn(r, 1).map(_ + 100).orNull) else r)
    assertModel("snapeq1.t", flatRef, flatCols, flat)
    assert(spark.sql("SELECT count(*) FROM snapeq1.t WHERE v IS NULL").as[Long].head() == 20L)

    // hive-partitioned: a data-column DELETE, a partition-exact DELETE,
    // an UPDATE across partitions and a MERGE
    val (_, dir) = fixture("snapeq2")
    val hiveRef = copyTable(dir, dir + "_ref")
    val hiveCols = Seq("id", "day", "event_type", "v")
    val d = java.sql.Date.valueOf(_: String)
    var hive = modelRows(spark.table("snapeq2.ev"), hiveCols)
    spark.sql("DELETE FROM snapeq2.ev WHERE event_type = 'click' AND v > 15")
    Sources.deleteWhere(spark, hiveRef, col("event_type") === "click" && col("v") > 15)
    hive = hive.filterNot(r => r.getString(2) == "click" && r.getDouble(3) > 15)
    spark.sql("DELETE FROM snapeq2.ev WHERE day = DATE'2024-01-04'")
    Sources.deleteWhere(spark, hiveRef, col("day") === lit(d("2024-01-04")))
    hive = hive.filterNot(_.getDate(1).toString == "2024-01-04")
    spark.sql("UPDATE snapeq2.ev SET v = v + 1 WHERE day = DATE'2024-01-03' OR id = 1")
    Sources.updateWhere(
      spark,
      hiveRef,
      col("day") === lit(d("2024-01-03")) || col("id") === 1L,
      Map("v" -> (col("v") + 1)))
    hive = hive.map(r =>
      if (r.getDate(1).toString == "2024-01-03" || r.getLong(0) == 1L) set(r, 3, r.getDouble(3) + 1) else r)
    Seq(2L, 4L).toDF("sid").createOrReplaceTempView("snapeq2_src")
    spark.sql("""MERGE INTO snapeq2.ev t USING snapeq2_src s ON t.id = s.sid
      WHEN MATCHED THEN UPDATE SET v = t.v * 2""")
    Sources.updateWhere(spark, hiveRef, col("id").isin(2L, 4L), Map("v" -> (col("v") * 2)))
    hive = hive.map(r => if (Set(2L, 4L)(r.getLong(0))) set(r, 3, r.getDouble(3) * 2) else r)
    assertModel("snapeq2.ev", hiveRef, hiveCols, hive)

    // every column shape, map included
    val shapesBase = Files.createTempDirectory("snapequiv_types").toString
    spark.sql("""
      SELECT id,
             CAST(id AS DOUBLE) / 4.0 AS d,
             timestamp'2024-03-01 10:30:00' + make_interval(0,0,0,0,0,0,id) AS ts,
             date_add(DATE'2024-03-01', CAST(id AS INT)) AS day,
             CAST(id AS DECIMAL(10,2)) / 3 AS dec,
             id % 2 = 0 AS flag,
             array(id, id * 2) AS arr,
             named_struct('a', id, 'b', concat('s', CAST(id AS STRING))) AS st,
             map(concat('k', CAST(id AS STRING)), id) AS m
      FROM range(0, 50)""").coalesce(2).write.parquet(s"$shapesBase/t")
    Snapshots.commit(spark, s"$shapesBase/t", Seq("id"))
    spark.conf.set("spark.sql.catalog.snapeq3", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.snapeq3.root", shapesBase)
    val shapesRef = copyTable(s"$shapesBase/t", s"$shapesBase/ref")
    val shapesCols = Seq("id", "d", "ts", "day", "dec", "flag", "arr", "st", "m")
    var shapes = modelRows(spark.table("snapeq3.t"), shapesCols)
    spark.sql("UPDATE snapeq3.t SET d = d * 2 WHERE id >= 25")
    Sources.updateWhere(spark, shapesRef, col("id") >= 25, Map("d" -> (col("d") * 2)))
    shapes = shapes.map(r => if (r.getLong(0) >= 25L) set(r, 1, r.getDouble(1) * 2) else r)
    spark.sql("DELETE FROM snapeq3.t WHERE flag AND id < 10")
    Sources.deleteWhere(spark, shapesRef, col("flag") && col("id") < 10)
    shapes = shapes.filterNot(r => r.getBoolean(5) && r.getLong(0) < 10L)
    assertModel("snapeq3.t", shapesRef, shapesCols, shapes)
  }

  test("a partition-exact SQL DELETE archives the matched files in zero Spark jobs, no vector") {
    val (_, dir) = fixture("snappx") // day-partitioned: 4 day dirs, 5 rows
    val before = Snapshots.files(spark, dir)
    val day01 = before.filter(_.startsWith("day=2024-01-01/"))
    assert(day01.nonEmpty)
    def archived(rel: String) = new java.io.File(s"$dir/${Snapshots.ArchiveDirName}/$rel").exists()
    assert(jobsOf { spark.sql("DELETE FROM snappx.ev WHERE day = DATE'2024-01-01'"); () } == 0)
    assert(Snapshots.files(spark, dir) == before.filterNot(day01.contains))
    assert(day01.forall(archived), "the matched files move to the archive")
    assert(Snapshots.dvByRel(Snapshots.manifestView(spark, dir)).isEmpty, "no vector written")
    assert(spark.sql("SELECT id FROM snappx.ev ORDER BY id").as[Long].collect().toSeq == Seq(3L, 4L, 5L))
    // WHERE-less: every remaining file archives, still without a job
    assert(jobsOf { spark.sql("DELETE FROM snappx.ev"); () } == 0)
    assert(Snapshots.files(spark, dir).isEmpty)
    assert(before.forall(archived))
    assert(Snapshots.dvByRel(Snapshots.manifestView(spark, dir)).isEmpty)
    // the pre-delete versions still read every row, and restore brings them back
    assert(spark.sql("SELECT count(*) FROM snappx.ev VERSION AS OF 1").as[Long].head() == 5L)
    assert(spark.sql("SELECT count(*) FROM snappx.ev VERSION AS OF 2").as[Long].head() == 3L)
    spark.sql("CALL snappx.restore(table => 'ev', version => 1)").collect()
    assert(
      spark.sql("SELECT id FROM snappx.ev ORDER BY id").as[Long].collect().toSeq == Seq(1L, 2L, 3L, 4L, 5L))
    // a v1 manifest records no schema: SQL DML refuses, naming the upgrade
    val v1Base = Files.createTempDirectory("snappx_v1").toString
    Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v").write.parquet(s"$v1Base/t")
    Snapshots.commit(spark, s"$v1Base/t")
    spark.conf.set("spark.sql.catalog.snappxv1", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.snappxv1.root", v1Base)
    Seq("DELETE FROM snappxv1.t WHERE id = 1", "UPDATE snappxv1.t SET v = 0.0 WHERE id = 1").foreach { q =>
      val e = intercept[Exception](spark.sql(q))
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage).toSeq
      assert(msgs.exists(m => m != null && m.contains("Snapshots.commit(spark, root, statsCols)")), msgs.mkString(" / "))
    }
    assert(spark.sql("SELECT count(*) FROM snappxv1.t").as[Long].head() == 2L)
  }
}
