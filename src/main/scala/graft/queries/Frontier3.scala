package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Round-9 continuation registry: the SQL face of the snapshot table
  * format ([[graft.sources.snap.GraftCatalog]]) — time travel, manifest
  * pruning and metadata-only counts reachable from plain Spark SQL, each
  * hash-proved against a DuckDB oracle recomputing from raw events.
  */
object Frontier3 {

  type Q = (SparkSession, String) => DataFrame

  /** The `(day, event_type, n, sum_u)` pre-aggregation of `events`,
    * staged ONCE per (data dir, app) and re-read by every scratch-table
    * builder below — ~24 fixture queries run this identical aggregation,
    * so paying the events scan once is pure gate-time savings with
    * hash-identical fixtures (the staged parquet holds exactly what each
    * builder used to compute inline).
    */
  private val stagedStats = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def stagedStatsDir(s: SparkSession, d: String): String =
    // keyed by (dir, app): the staged path embeds the computing app's id,
    // and a SECOND session in this JVM must not inherit a path the first
    // app's scratch reaper may already have deleted
    stagedStats.computeIfAbsent(
      s"$d|${s.sparkContext.applicationId}",
      _ => {
        val ev = Tables.events(s, d)
        val micro = floor(col("value") * lit(1000000.0) + lit(0.5)).cast("long")
        val p = new org.apache.hadoop.fs.Path(
          System.getProperty("java.io.tmpdir"),
          s"graft_statstage_${java.lang.Integer.toHexString(d.hashCode)}_${s.sparkContext.applicationId}")
        graft.core.Scratch.register(p.toString)
        ev.groupBy(to_date(col("ts")).as("day"), col("event_type"))
          .agg(count(lit(1)).as("n"), sum(micro).as("sum_u"))
          .write.mode("overwrite").parquet(p.toString)
        p.toString
      })

  /** The RAW-`ts` twin of [[stagedStatsDir]]: (ts, event_type, u, day)
    * written TIMESTAMP_MICROS and day-partitioned, staged once per (data
    * dir, app). q254's hourly-MV fixture needs raw timestamps WITH INT64
    * footer stats (INT96, the oracle-dump default, records none), and the
    * bench's second pass re-pays the scan+write otherwise; consumers
    * byte-copy the staged tree into their own scratch table dir.
    */
  private val stagedMicrosEvents = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def stagedMicrosEventsDir(s: SparkSession, d: String): String =
    stagedMicrosEvents.computeIfAbsent(
      s"$d|${s.sparkContext.applicationId}",
      _ => {
        val ev = Tables.events(s, d)
        val micro = floor(col("value") * lit(1000000.0) + lit(0.5)).cast("long")
        val p = new org.apache.hadoop.fs.Path(
          System.getProperty("java.io.tmpdir"),
          s"graft_microstage_${java.lang.Integer.toHexString(d.hashCode)}_${s.sparkContext.applicationId}")
        graft.core.Scratch.register(p.toString)
        val src = ev.select(
          col("ts"), col("event_type"), micro.as("u"), to_date(col("ts")).as("day"))
        val tsKey = "spark.sql.parquet.outputTimestampType"
        val oldTs = s.conf.getOption(tsKey)
        s.conf.set(tsKey, "TIMESTAMP_MICROS")
        try src.repartition(col("day")).write.mode("overwrite")
          .partitionBy("day").parquet(p.toString)
        finally oldTs.fold(s.conf.unset(tsKey))(s.conf.set(tsKey, _))
        p.toString
      })

  /** Byte-copy the staged tree's partition dirs + files into `dst`
    * (skipping `_SUCCESS`/hidden entries) — raw bytes, so footer stats
    * and the TIMESTAMP_MICROS physical type carry over exactly.
    */
  private def copyStaged(s: SparkSession, staged: String, dst: String): Unit = {
    val conf = s.sparkContext.hadoopConfiguration
    val from = new org.apache.hadoop.fs.Path(staged)
    val to = new org.apache.hadoop.fs.Path(dst)
    val fs = from.getFileSystem(conf)
    // gather (src, dst) pairs in one serial walk (mkdirs as we go), then
    // copy the independent files from a small pool — the per-file copies
    // are independent driver I/O, and the serial loop was the q254 setup's
    // single largest fixed cost
    val pairs = scala.collection.mutable.ArrayBuffer
      .empty[(org.apache.hadoop.fs.Path, org.apache.hadoop.fs.Path)]
    def walk(src: org.apache.hadoop.fs.Path, out: org.apache.hadoop.fs.Path): Unit =
      fs.listStatus(src).foreach { st =>
        val n = st.getPath.getName
        if (!n.startsWith("_") && !n.startsWith(".")) {
          if (st.isDirectory) { fs.mkdirs(new org.apache.hadoop.fs.Path(out, n)); walk(st.getPath, new org.apache.hadoop.fs.Path(out, n)) }
          else pairs += (st.getPath -> new org.apache.hadoop.fs.Path(out, n))
        }
      }
    fs.mkdirs(to)
    walk(from, to)
    graft.core.Par.all(pairs.grouped(math.max(1, (pairs.size + 7) / 8)).toSeq.map(slice =>
      () => slice.foreach { case (src, out) =>
        org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, out, false, conf)
      }): _*)
  }

  /** One scratch snapshot table per (query, data dir, app): a per-(day,
    * event_type) stats table partitioned by day, committed as a v2
    * manifest (schema + day stats + row counts), registered in a
    * query-private catalog.
    */
  private def statsTable(s: SparkSession, d: String, tag: String, statsCols: Seq[String]): (String, String) = {
    val base = new org.apache.hadoop.fs.Path(
      System.getProperty("java.io.tmpdir"),
      s"graft_${tag}_${java.lang.Integer.toHexString(d.hashCode)}_${s.sparkContext.applicationId}")
    graft.core.Scratch.register(base.toString) // reaped at JVM exit, not leaked
    val fs = base.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(base)) fs.delete(base, true)
    val dir = new org.apache.hadoop.fs.Path(base, "ev").toString
    val stats = s.read.parquet(stagedStatsDir(s, d))
      .select(col("day"), col("event_type"), col("n"), col("sum_u"))
    graft.sources.Sources.writeParquet(stats.repartition(col("day")), dir, Seq("day"))
    graft.sources.Snapshots.commit(s, dir, statsCols)
    val cat = s"${tag}_${java.lang.Integer.toHexString(d.hashCode)}"
    s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.snap.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", base.toString)
    (cat, dir)
  }

  // -- q196: SQL time travel through the snapshot catalog ---------------

  /** The q184 snapshot-isolation law, now exercised through the SQL
    * surface a downstream user would actually touch: the stats table
    * commits v1, a GDPR delete of every `click` row commits v2, and ONE
    * SQL statement reads both worlds — `VERSION AS OF 1` via
    * [[graft.sources.snap.GraftCatalog]]'s `loadTable(ident, version)`
    * against the bare table name for the live side. The ORACLE recomputes
    * both sides from raw events, so the hash match proves SQL time travel
    * is exact — no programmatic API in sight. At 100 TB this is what
    * makes the format usable from BI tools and ad-hoc SQL: any client
    * that can say `VERSION AS OF` gets manifest-pinned reads with no
    * bespoke reader code.
    */
  def q196(s: SparkSession, d: String): DataFrame = {
    val (cat, dir) = statsTable(s, d, "snapq196", Seq("day"))
    graft.sources.Sources.deleteWhere(s, dir, col("event_type") === "click") // commits v2
    s.sql(s"""
      |SELECT v1.event_type AS event_type,
      |       v1.n AS n_v1, coalesce(v2.n, CAST(0 AS BIGINT)) AS n_v2,
      |       v1.u AS u_v1, coalesce(v2.u, CAST(0 AS BIGINT)) AS u_v2
      |FROM (SELECT event_type, CAST(sum(n) AS BIGINT) AS n, CAST(sum(sum_u) AS BIGINT) AS u
      |      FROM $cat.ev VERSION AS OF 1 GROUP BY event_type) v1
      |LEFT JOIN (SELECT event_type, CAST(sum(n) AS BIGINT) AS n, CAST(sum(sum_u) AS BIGINT) AS u
      |           FROM $cat.ev GROUP BY event_type) v2
      |ON v1.event_type = v2.event_type
      |ORDER BY event_type""".stripMargin)
  }

  val q196Sql: String =
    """WITH s AS (
      |  SELECT event_type, CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS u
      |  FROM events)
      |SELECT event_type,
      |  CAST(count(*) AS BIGINT) AS n_v1,
      |  CAST(sum(CASE WHEN event_type <> 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_v2,
      |  CAST(sum(u) AS BIGINT) AS u_v1,
      |  CAST(sum(CASE WHEN event_type <> 'click' THEN u ELSE 0 END) AS BIGINT) AS u_v2
      |FROM s GROUP BY event_type ORDER BY event_type""".stripMargin

  // -- q197: SQL COUNT(*) answered from the manifest alone --------------

  /** q195's metadata-only count, through SQL: `SELECT count(*)` against a
    * catalog table whose v2 manifest records per-file row counts —
    * [[graft.sources.snap.SnapScanBuilder]] takes the aggregate as a
    * COMPLETE pushdown and answers it from the manifest, so the query
    * plans zero data-file opens (SnapCatalogSpec asserts the scan class;
    * the oracle hash proves the recorded counts are exact). The day-range
    * variant rides the same SQL surface: a pushed `WHERE day BETWEEN`
    * prunes the file list from manifest stats before the (tiny) residual
    * scan. At 100 TB: the dashboard count costs one manifest read; the
    * range scan opens only the four matching day files out of the whole
    * table.
    */
  def q197(s: SparkSession, d: String): DataFrame = {
    val (cat, _) = statsTable(s, d, "snapq197", Seq("day"))
    val m = Tables
      .events(s, d)
      .agg(min(to_date(col("ts"))).as("m"))
      .head()
      .getDate(0)
      .toLocalDate
    val (lo, hi) = (m.plusDays(2).toString, m.plusDays(5).toString)
    s.sql(s"""
      |SELECT (SELECT count(*) FROM $cat.ev) AS n_rows,
      |       (SELECT CAST(sum(n) AS BIGINT) FROM $cat.ev
      |        WHERE day >= DATE'$lo' AND day <= DATE'$hi') AS n_window""".stripMargin)
  }

  val q197Sql: String =
    """WITH per AS (
      |  SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |b AS (SELECT min(day) AS m FROM per)
      |SELECT
      |  (SELECT CAST(count(*) AS BIGINT) FROM per) AS n_rows,
      |  (SELECT CAST(sum(n) AS BIGINT) FROM per, b
      |   WHERE day BETWEEN m + 2 AND m + 5) AS n_window""".stripMargin

  // -- q198: SQL INSERT INTO a snapshot table -----------------------------

  /** The write half of the SQL surface, hash-proved: `INSERT INTO` a
    * catalog table appends a sentinel row as a NEW data file and commits
    * the next manifest version ([[graft.sources.snap.SnapWriteBuilder]] —
    * append under the table lock, stats discipline carried forward, and
    * since round 9 the commit reads ONLY the new file's footer, not
    * O(table)). The query then reads per-type totals from the live table
    * and LEFT-joins the pre-insert version: the sentinel row exists only
    * on the live side, every real type is byte-identical on both — so the
    * hash proves both that the append landed exactly once and that it
    * could not perturb the pinned version. At 100 TB this is the
    * incremental-ingest loop (hourly INSERT INTO the training table)
    * priced at one footer read + one manifest write per commit.
    */
  def q198(s: SparkSession, d: String): DataFrame = {
    val (cat, _) = statsTable(s, d, "snapq198", Seq("day"))
    s.sql(s"""
      |INSERT INTO $cat.ev
      |VALUES ('__synthetic', CAST(7 AS BIGINT), CAST(42 AS BIGINT), DATE'1999-12-31')""".stripMargin)
    s.sql(s"""
      |SELECT v2.event_type AS event_type,
      |       v2.n AS n_live, coalesce(v1.n, CAST(0 AS BIGINT)) AS n_before,
      |       v2.u AS u_live, coalesce(v1.u, CAST(0 AS BIGINT)) AS u_before
      |FROM (SELECT event_type, CAST(sum(n) AS BIGINT) AS n, CAST(sum(sum_u) AS BIGINT) AS u
      |      FROM $cat.ev GROUP BY event_type) v2
      |LEFT JOIN (SELECT event_type, CAST(sum(n) AS BIGINT) AS n, CAST(sum(sum_u) AS BIGINT) AS u
      |           FROM $cat.ev VERSION AS OF 1 GROUP BY event_type) v1
      |ON v2.event_type = v1.event_type
      |ORDER BY event_type""".stripMargin)
  }

  val q198Sql: String =
    """WITH s AS (
      |  SELECT event_type, 1 AS n, CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS u
      |  FROM events
      |  UNION ALL SELECT '__synthetic', 7, 42),
      |agg AS (
      |  SELECT event_type,
      |    CAST(sum(n) AS BIGINT) AS n_live,
      |    CAST(sum(CASE WHEN event_type <> '__synthetic' THEN n ELSE 0 END) AS BIGINT) AS n_before,
      |    CAST(sum(u) AS BIGINT) AS u_live,
      |    CAST(sum(CASE WHEN event_type <> '__synthetic' THEN u ELSE 0 END) AS BIGINT) AS u_before
      |  FROM s GROUP BY event_type)
      |SELECT event_type, n_live, n_before, u_live, u_before
      |FROM agg ORDER BY event_type""".stripMargin

  // -- q199: snapshot history via the metadata table ----------------------

  /** Operational introspection, hash-proved: `cat.t.snapshots` (the
    * Iceberg-style metadata relation, [[graft.sources.snap.SnapMetaTable]])
    * lists every committed version with its file and row counts straight
    * from the manifests — zero data-file I/O. The lifecycle under test:
    * the stats table commits v1, a GDPR delete commits v2 — and since the
    * round-9 inheritance rule, the MAINTENANCE commit keeps the table's
    * stats discipline, so v2's row counts exist without any explicit
    * re-commit. The oracle recomputes both versions' file/row counts from
    * raw events (files = one per day partition; a click-only day's file is
    * wholly removed by the delete), proving the manifest bookkeeping is
    * exact through a rewrite that archives, rewrites and drops files. At
    * 100 TB this is the table-health dashboard (version growth, file
    * counts, row deltas) priced at a manifest read.
    */
  def q199(s: SparkSession, d: String): DataFrame = {
    val (cat, dir) = statsTable(s, d, "snapq199", Seq("day"))
    graft.sources.Sources.deleteWhere(s, dir, col("event_type") === "click") // commits v2
    s.sql(s"""
      |SELECT version, n_files, n_rows
      |FROM $cat.ev.snapshots ORDER BY version""".stripMargin)
  }

  val q199Sql: String =
    """WITH per AS (SELECT DISTINCT CAST(ts AS DATE) AS day, event_type FROM events)
      |SELECT CAST(1 AS BIGINT) AS version,
      |       CAST((SELECT count(DISTINCT day) FROM per) AS BIGINT) AS n_files,
      |       CAST((SELECT count(*) FROM per) AS BIGINT) AS n_rows
      |UNION ALL
      |SELECT CAST(2 AS BIGINT),
      |       CAST((SELECT count(DISTINCT day) FROM per WHERE event_type <> 'click') AS BIGINT),
      |       CAST((SELECT count(*) FROM per WHERE event_type <> 'click') AS BIGINT)
      |ORDER BY version""".stripMargin

  // -- q200: incremental dedup of an ingest slice vs corpus history -------

  /** The daily-ingest capstone, hash-proved: a documents corpus (80% of
    * the fixture) commits as snapshot v1 with row-count stats; an ingest
    * slice appends — the held-out 20% plus re-identified COPIES of corpus
    * texts (the crawl re-fetching what's already in the training set) —
    * and commits v2. [[graft.llm.Dedup.incrementalAgainstSnapshot]] then
    * cleans ONLY the added rows (manifest-level change feed) against the
    * pinned v1 corpus via the broadcast-Bloom + exact-confirm path, with
    * the Bloom sized from the MANIFEST's recorded row counts (zero jobs).
    * The oracle anti-joins the same slice against the same corpus on raw
    * text, so the hash proves the incremental path is bit-identical to
    * the full rescan it replaces. At 100 TB: history is scanned once into
    * bits-per-row, the new slice never shuffles except the ~1% Bloom
    * suspects, and no job ever re-joins the historical corpus row-by-row.
    */
  def q200(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val base = new org.apache.hadoop.fs.Path(
      System.getProperty("java.io.tmpdir"),
      s"graft_snapq200_${java.lang.Integer.toHexString(d.hashCode)}_${s.sparkContext.applicationId}")
    graft.core.Scratch.register(base.toString)
    val fs = base.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(base)) fs.delete(base, true)
    val dir = new org.apache.hadoop.fs.Path(base, "corpus").toString
    val corpus = docs.filter(col("doc_id") % 10 < 8)
    graft.sources.Sources.writeParquet(corpus.repartition(4), dir)
    val v1 = graft.sources.Snapshots.commit(s, dir, Seq("doc_id"))
    // the ingest slice: fresh docs + re-identified copies of corpus texts
    val fresh = docs.filter(col("doc_id") % 10 >= 8)
    val copies = docs
      .filter(col("doc_id") % 7 === 0 && col("doc_id") % 10 < 8)
      .withColumn("doc_id", col("doc_id") + lit(10000000L))
    fresh.unionByName(copies).repartition(4).write.mode("append").parquet(dir)
    graft.sources.Snapshots.commit(s, dir)
    graft.llm.Dedup
      .incrementalAgainstSnapshot(s, dir, v1, "text")
      .select(col("doc_id"))
      .orderBy(col("doc_id"))
  }

  val q200Sql: String =
    """WITH corpus AS (SELECT * FROM documents WHERE doc_id % 10 < 8),
      |news AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 10 >= 8
      |  UNION ALL
      |  SELECT doc_id + 10000000, text FROM documents
      |  WHERE doc_id % 7 = 0 AND doc_id % 10 < 8)
      |SELECT n.doc_id FROM news n
      |WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.text = n.text)
      |ORDER BY doc_id""".stripMargin

  // -- q201: SQL DELETE FROM through the snapshot catalog -----------------

  /** The erasure half of the SQL DML surface, hash-proved: `DELETE FROM
    * cat.ev WHERE event_type='click' AND day <= cutoff` goes through
    * [[graft.sources.snap.SnapTable]]'s `SupportsDelete` — Spark translates
    * the WHERE into pushed filters, the table re-expresses them as a Column
    * and runs the merge-on-read [[graft.sources.DeleteVectors.deleteWhere]]:
    * matched row positions become deletion vectors, no data file is
    * rewritten, and the commit inherits the table's stats discipline. The
    * query then reads per-type totals from BOTH worlds in one statement —
    * `VERSION AS OF 1` vs live — and the oracle recomputes them from raw
    * events, so the hash proves the SQL delete removed exactly the
    * predicate's rows and nothing else, while the pinned version kept every
    * one. At 100 TB this is GDPR erasure issued from any SQL client: a
    * day-bounded delete touches the affected day partitions only, and the
    * pre-delete snapshot stays auditable until vacuum.
    */
  def q201(s: SparkSession, d: String): DataFrame = {
    val (cat, _) = statsTable(s, d, "snapq201", Seq("day"))
    val m = Tables
      .events(s, d)
      .agg(min(to_date(col("ts"))).as("m"))
      .head()
      .getDate(0)
      .toLocalDate
    val cut = m.plusDays(2).toString
    s.sql(s"DELETE FROM $cat.ev WHERE event_type = 'click' AND day <= DATE'$cut'")
    s.sql(s"""
      |SELECT v1.event_type AS event_type,
      |       v1.n AS n_v1, coalesce(v2.n, CAST(0 AS BIGINT)) AS n_v2,
      |       v1.u AS u_v1, coalesce(v2.u, CAST(0 AS BIGINT)) AS u_v2
      |FROM (SELECT event_type, CAST(sum(n) AS BIGINT) AS n, CAST(sum(sum_u) AS BIGINT) AS u
      |      FROM $cat.ev VERSION AS OF 1 GROUP BY event_type) v1
      |LEFT JOIN (SELECT event_type, CAST(sum(n) AS BIGINT) AS n, CAST(sum(sum_u) AS BIGINT) AS u
      |           FROM $cat.ev GROUP BY event_type) v2
      |ON v1.event_type = v2.event_type
      |ORDER BY event_type""".stripMargin)
  }

  val q201Sql: String =
    """WITH s AS (
      |  SELECT CAST(ts AS DATE) AS day, event_type,
      |         CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS u
      |  FROM events),
      |b AS (SELECT min(day) AS m FROM s)
      |SELECT event_type,
      |  CAST(count(*) AS BIGINT) AS n_v1,
      |  CAST(sum(CASE WHEN NOT (event_type = 'click' AND day <= m + 2) THEN 1 ELSE 0 END) AS BIGINT) AS n_v2,
      |  CAST(sum(u) AS BIGINT) AS u_v1,
      |  CAST(sum(CASE WHEN NOT (event_type = 'click' AND day <= m + 2) THEN u ELSE 0 END) AS BIGINT) AS u_v2
      |FROM s, b GROUP BY event_type ORDER BY event_type""".stripMargin

  // -- q202: clustering rewrite (OPTIMIZE … ORDER BY day) -----------------

  /** The layout-maintenance capstone, hash-proved lossless: the per-(day,
    * event_type) stats frame is written UNPARTITIONED as 8 round-robin
    * files — the ingest-ordered worst case, every file spanning the whole
    * day range, so a day-window predicate can prune nothing — committed as
    * v1, then [[graft.sources.Sources.clusterInPlace]] rewrites it
    * range-clustered on `day` (one range shuffle, stage → land → archive,
    * commit v2 inheriting the day-stats discipline). ONE SQL statement then
    * reads the same day window from BOTH worlds — `VERSION AS OF 1` (the
    * pre-cluster layout, resolving through the archive) and live (the
    * clustered files, planned off v2's now-narrow per-file day intervals) —
    * and the oracle recomputes the window from raw events, so the hash
    * proves the rewrite moved every row and changed none. The pruning
    * payoff itself is plan-asserted in SnapshotsSpec (files=k/8 post-
    * cluster vs 8/8 pre). At 100 TB this is the nightly OPTIMIZE that
    * turns range-scan cost from O(table) into O(selectivity) — and it's
    * restorable, because clustering archives rather than deletes.
    */
  def q202(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val micro = floor(col("value") * lit(1000000.0) + lit(0.5)).cast("long")
    val base = new org.apache.hadoop.fs.Path(
      System.getProperty("java.io.tmpdir"),
      s"graft_snapq202_${java.lang.Integer.toHexString(d.hashCode)}_${s.sparkContext.applicationId}")
    graft.core.Scratch.register(base.toString)
    val fs = base.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(base)) fs.delete(base, true)
    val dir = new org.apache.hadoop.fs.Path(base, "ev").toString
    val stats = ev
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(micro).as("sum_u"))
    stats.repartition(8).write.parquet(dir) // round-robin: no day locality
    graft.sources.Snapshots.commit(s, dir, Seq("day")) // v1: every file spans all days
    graft.sources.Sources.clusterInPlace(s, dir, col("day"), 8) // commits v2
    val cat = s"snapq202_${java.lang.Integer.toHexString(d.hashCode)}"
    s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.snap.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", base.toString)
    val m = ev.agg(min(to_date(col("ts"))).as("m")).head().getDate(0).toLocalDate
    val (lo, hi) = (m.plusDays(1).toString, m.plusDays(4).toString)
    s.sql(s"""
      |SELECT pre.event_type AS event_type,
      |       pre.n AS n_pre, post.n AS n_post,
      |       pre.u AS u_pre, post.u AS u_post
      |FROM (SELECT event_type, CAST(sum(n) AS BIGINT) AS n, CAST(sum(sum_u) AS BIGINT) AS u
      |      FROM $cat.ev VERSION AS OF 1
      |      WHERE day >= DATE'$lo' AND day <= DATE'$hi' GROUP BY event_type) pre
      |JOIN (SELECT event_type, CAST(sum(n) AS BIGINT) AS n, CAST(sum(sum_u) AS BIGINT) AS u
      |      FROM $cat.ev
      |      WHERE day >= DATE'$lo' AND day <= DATE'$hi' GROUP BY event_type) post
      |ON pre.event_type = post.event_type
      |ORDER BY event_type""".stripMargin)
  }

  val q202Sql: String =
    """WITH s AS (
      |  SELECT CAST(ts AS DATE) AS day, event_type,
      |         CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS u
      |  FROM events),
      |b AS (SELECT min(day) AS m FROM s),
      |w AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n, CAST(sum(u) AS BIGINT) AS su
      |      FROM s, b WHERE day BETWEEN m + 1 AND m + 4 GROUP BY event_type)
      |SELECT event_type, n AS n_pre, n AS n_post, su AS u_pre, su AS u_post
      |FROM w ORDER BY event_type""".stripMargin

  // -- q203: programmatic UPDATE … SET -----------------------------------

  /** Row-level UPDATE with exact SQL semantics, hash-proved: on the
    * day-partitioned stats table, [[graft.sources.Sources.updateWhere]]
    * applies `SET n = n * 2, sum_u = sum_u + n` to click rows in the first
    * three days — BOTH right-hand sides evaluate against the OLD row (one
    * projection), so the `+ n` uses the pre-doubling count; the predicate
    * mixes a data column with the hive PARTITION column (the snapshot scan
    * splices `day` from the path), so only the matching days' files are
    * rewritten, each matched row replaced by its new image in place, in
    * one commit. One SQL statement then reads v1 and live side by side and
    * the oracle recomputes both from raw events: per event type, the live
    * n gains exactly the matched raw-event count and the live sum gains the
    * same (old-n semantics), while v1 keeps the original totals — a wrong
    * evaluation order (updated n leaking into `sum_u + n`) would shift
    * every click hash. At 100 TB this is the in-place correction op:
    * fixing one mislabeled day rewrites that day's files, never the table.
    */
  def q203(s: SparkSession, d: String): DataFrame = {
    val (cat, dir) = statsTable(s, d, "snapq203", Seq("day"))
    val m = Tables
      .events(s, d)
      .agg(min(to_date(col("ts"))).as("m"))
      .head()
      .getDate(0)
      .toLocalDate
    val cut = m.plusDays(2).toString
    graft.sources.Sources.updateWhere(
      s,
      dir,
      col("event_type") === "click" && col("day") <= to_date(lit(cut)),
      Map("n" -> (col("n") * lit(2L)), "sum_u" -> (col("sum_u") + col("n")))) // commits v2
    s.sql(s"""
      |SELECT v1.event_type AS event_type,
      |       v1.n AS n_v1, v2.n AS n_live,
      |       v1.u AS u_v1, v2.u AS u_live
      |FROM (SELECT event_type, CAST(sum(n) AS BIGINT) AS n, CAST(sum(sum_u) AS BIGINT) AS u
      |      FROM $cat.ev VERSION AS OF 1 GROUP BY event_type) v1
      |JOIN (SELECT event_type, CAST(sum(n) AS BIGINT) AS n, CAST(sum(sum_u) AS BIGINT) AS u
      |      FROM $cat.ev GROUP BY event_type) v2
      |ON v1.event_type = v2.event_type
      |ORDER BY event_type""".stripMargin)
  }

  val q203Sql: String =
    """WITH s AS (
      |  SELECT CAST(ts AS DATE) AS day, event_type,
      |         CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS u
      |  FROM events),
      |b AS (SELECT min(day) AS m FROM s),
      |g AS (SELECT event_type,
      |        CAST(count(*) AS BIGINT) AS n,
      |        CAST(sum(u) AS BIGINT) AS su,
      |        CAST(sum(CASE WHEN event_type = 'click' AND day <= m + 2 THEN 1 ELSE 0 END) AS BIGINT) AS hit
      |      FROM s, b GROUP BY event_type)
      |SELECT event_type, n AS n_v1, n + hit AS n_live, su AS u_v1, su + hit AS u_live
      |FROM g ORDER BY event_type""".stripMargin

  // -- q204: bloom-sidecar point probe ------------------------------------

  /** Manifest bloom filters — the point-lookup accelerator min/max stats
    * cannot be ([[graft.sources.Snapshots]] bloom sidecars, the Iceberg-
    * puffin idea): per-user totals land UNCLUSTERED in 8 round-robin files
    * (every file's user_id interval spans the whole key space, so stats
    * pruning is useless), committed with `bloomCols = user_id` — one
    * immutable 1%-fpp bloom per file, keyed by the file's rel path so
    * appends build only the new files' sidecars. Two SQL point probes
    * (lowest and highest user) then plan through the catalog: the pushed
    * equality consults each file's bloom and opens only the admitting
    * file(s) — plan-asserted k-of-8 in the specs; here the DuckDB oracle
    * recomputes both users' totals from raw events, proving the bloom
    * prune never drops a holding file. At 100 TB this is `WHERE user_id =
    * k` against an ingest-ordered table answered from one or two file
    * opens instead of a full scan — no reclustering required.
    */
  def q204(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val micro = floor(col("value") * lit(1000000.0) + lit(0.5)).cast("long")
    val base = new org.apache.hadoop.fs.Path(
      System.getProperty("java.io.tmpdir"),
      s"graft_snapq204_${java.lang.Integer.toHexString(d.hashCode)}_${s.sparkContext.applicationId}")
    graft.core.Scratch.register(base.toString)
    val fs = base.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(base)) fs.delete(base, true)
    val dir = new org.apache.hadoop.fs.Path(base, "users").toString
    val users = ev
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), sum(micro).as("u"))
    users.repartition(8).write.parquet(dir) // round-robin: stats can't prune a point
    graft.sources.Snapshots.commit(s, dir, Seq("user_id"), Seq("user_id"))
    val cat = s"snapq204_${java.lang.Integer.toHexString(d.hashCode)}"
    s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.snap.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", base.toString)
    val b = ev.agg(min(col("user_id")).as("lo"), max(col("user_id")).as("hi")).head()
    val (lo, hi) = (b.getLong(0), b.getLong(1))
    s.sql(s"""
      |SELECT user_id, CAST(n AS BIGINT) AS n, CAST(u AS BIGINT) AS u
      |FROM $cat.users WHERE user_id = $lo
      |UNION ALL
      |SELECT user_id, CAST(n AS BIGINT) AS n, CAST(u AS BIGINT) AS u
      |FROM $cat.users WHERE user_id = $hi
      |ORDER BY user_id""".stripMargin)
  }

  val q204Sql: String =
    """WITH s AS (
      |  SELECT user_id, CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS u
      |  FROM events),
      |g AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n, CAST(sum(u) AS BIGINT) AS u
      |      FROM s GROUP BY user_id)
      |SELECT user_id, n, u FROM g
      |WHERE user_id = (SELECT min(user_id) FROM s)
      |   OR user_id = (SELECT max(user_id) FROM s)
      |ORDER BY user_id""".stripMargin

  // -- q205: deep table clone ---------------------------------------------

  /** Table CLONE, hash-proved: the stats table commits v1, a GDPR delete
    * commits v2, and [[graft.sources.Snapshots.cloneSnapshot]] forks v1
    * into a sibling root — copying the pinned files (the deleted rows'
    * file resolves through the ARCHIVE) and the manifest itself, so the
    * fork's v1 carries the source's recorded schema, stats and row counts
    * without one footer read. ONE SQL statement then joins the fork (the
    * pre-delete world, read as a first-class catalog table) against the
    * live source (post-delete), and the oracle recomputes both from raw
    * events: the hash proves the clone is exactly the pinned version and
    * the live table exactly the mutated one — two independent tables, one
    * history. At 100 TB this is the dev/test fork: price = one parallel
    * copy of the pinned bytes, metadata cost = one small file copy, and
    * source vacuum/rewrites can never reach into the fork.
    */
  def q205(s: SparkSession, d: String): DataFrame = {
    val (cat, dir) = statsTable(s, d, "snapq205", Seq("day"))
    val base = new org.apache.hadoop.fs.Path(dir).getParent.toString
    graft.sources.Sources.deleteWhere(s, dir, col("event_type") === "click") // commits v2
    graft.sources.Snapshots.cloneSnapshot(s, dir, s"$base/fork", version = 1L)
    s.sql(s"""
      |SELECT f.event_type AS event_type,
      |       f.n AS n_fork, coalesce(l.n, CAST(0 AS BIGINT)) AS n_live,
      |       f.u AS u_fork, coalesce(l.u, CAST(0 AS BIGINT)) AS u_live
      |FROM (SELECT event_type, CAST(sum(n) AS BIGINT) AS n, CAST(sum(sum_u) AS BIGINT) AS u
      |      FROM $cat.fork GROUP BY event_type) f
      |LEFT JOIN (SELECT event_type, CAST(sum(n) AS BIGINT) AS n, CAST(sum(sum_u) AS BIGINT) AS u
      |           FROM $cat.ev GROUP BY event_type) l
      |ON f.event_type = l.event_type
      |ORDER BY event_type""".stripMargin)
  }

  val q205Sql: String =
    """WITH s AS (
      |  SELECT event_type, CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS u
      |  FROM events)
      |SELECT event_type,
      |  CAST(count(*) AS BIGINT) AS n_fork,
      |  CAST(sum(CASE WHEN event_type <> 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_live,
      |  CAST(sum(u) AS BIGINT) AS u_fork,
      |  CAST(sum(CASE WHEN event_type <> 'click' THEN u ELSE 0 END) AS BIGINT) AS u_live
      |FROM s GROUP BY event_type ORDER BY event_type""".stripMargin

  // -- q206: SQL CALL maintenance -----------------------------------------

  /** The SQL `CALL` face of table maintenance, hash-proved lossless: the
    * stats table is built as TWO interleaved appends (every day partition
    * gets two small files — the streaming-ingest fragmentation shape),
    * then ONE SQL statement — `CALL cat.compact(table => 'ev')` through
    * [[graft.sources.snap.GraftProcedures]] — rewrites each day to a
    * single file under the same single-writer lock and archive discipline
    * as the programmatic op, and `CALL cat.vacuum` reclaims the replaced
    * files. The query reads per-type totals AFTER both calls plus the
    * live file count from the `cat.ev.files` metadata table; the oracle
    * recomputes totals from raw events and the file count as
    * `count(DISTINCT day)` — so the hash proves the SQL-driven compaction
    * moved every row, changed none, and actually collapsed the layout. At
    * 100 TB this is the nightly OPTIMIZE issued by an orchestrator
    * speaking only SQL.
    */
  def q206(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val micro = floor(col("value") * lit(1000000.0) + lit(0.5)).cast("long")
    val base = new org.apache.hadoop.fs.Path(
      System.getProperty("java.io.tmpdir"),
      s"graft_snapq206_${java.lang.Integer.toHexString(d.hashCode)}_${s.sparkContext.applicationId}")
    graft.core.Scratch.register(base.toString)
    val fs = base.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(base)) fs.delete(base, true)
    val dir = new org.apache.hadoop.fs.Path(base, "ev").toString
    val stats = ev
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(micro).as("sum_u"))
    // two interleaved appends: every day dir ends up with two small files
    graft.sources.Sources.writeParquet(
      stats.filter(col("event_type").isin("click", "view", "error")).repartition(col("day")),
      dir,
      Seq("day"))
    stats
      .filter(!col("event_type").isin("click", "view", "error"))
      .repartition(col("day"))
      .write
      .mode("append")
      .partitionBy("day")
      .parquet(dir)
    graft.sources.Snapshots.commit(s, dir, Seq("day"))
    val cat = s"snapq206_${java.lang.Integer.toHexString(d.hashCode)}"
    s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.snap.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", base.toString)
    s.sql(s"CALL $cat.compact(table => 'ev')").collect()
    s.sql(s"CALL $cat.vacuum(table => 'ev', keep_last => 1)").collect()
    s.sql(s"""
      |SELECT t.event_type AS event_type,
      |       t.n AS n, t.u AS u,
      |       (SELECT CAST(count(*) AS BIGINT) FROM $cat.ev.files) AS n_files
      |FROM (SELECT event_type, CAST(sum(n) AS BIGINT) AS n, CAST(sum(sum_u) AS BIGINT) AS u
      |      FROM $cat.ev GROUP BY event_type) t
      |ORDER BY event_type""".stripMargin)
  }

  val q206Sql: String =
    """WITH s AS (
      |  SELECT CAST(ts AS DATE) AS day, event_type,
      |         CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS u
      |  FROM events)
      |SELECT event_type,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(u) AS BIGINT) AS u,
      |  (SELECT CAST(count(DISTINCT day) AS BIGINT) FROM s) AS n_files
      |FROM s GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Unpartitioned, day-range-clustered stats table (8 files with narrow
    * day intervals) committed with day stats — the layout SQL row-level
    * ops work against (hive-partitioned tables use the programmatic
    * per-partition rewrites instead).
    */
  private def flatStatsTable(s: SparkSession, d: String, tag: String): (String, String) = {
    val ev = Tables.events(s, d)
    val micro = floor(col("value") * lit(1000000.0) + lit(0.5)).cast("long")
    val base = new org.apache.hadoop.fs.Path(
      System.getProperty("java.io.tmpdir"),
      s"graft_${tag}_${java.lang.Integer.toHexString(d.hashCode)}_${s.sparkContext.applicationId}")
    graft.core.Scratch.register(base.toString)
    val fs = base.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(base)) fs.delete(base, true)
    val dir = new org.apache.hadoop.fs.Path(base, "ev").toString
    val stats = ev
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(micro).as("sum_u"))
    stats
      .repartitionByRange(8, col("day"))
      .sortWithinPartitions(col("day"))
      .write
      .parquet(dir)
    graft.sources.Snapshots.commit(s, dir, Seq("day"))
    val cat = s"${tag}_${java.lang.Integer.toHexString(d.hashCode)}"
    s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.snap.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", base.toString)
    (cat, dir)
  }

  // -- q207: SQL UPDATE through the row-level operation --------------------

  /** `UPDATE cat.ev SET n = n*2, sum_u = sum_u + n WHERE …` — q203's
    * update, now issued as PLAIN SQL and executed by Spark's delta-based
    * row-level machinery over
    * [[graft.sources.snap.SnapDeltaRowLevelOperation]]: the operation's
    * scan prunes the day-clustered file list with the UPDATE's condition
    * (manifest stats, zero footer opens), Spark computes the new row
    * images (SET right-hand sides against the OLD row — SQL semantics for
    * free), and the connector's DSv2 write records the old images as
    * deletion-vector positions and lands the new ones as appended parquet
    * in one commit. The oracle is q203's: per type, live n gains exactly
    * the matched raw count and live sum the same, v1 keeps the originals
    * — so the hash proves SQL UPDATE ≡ the programmatic update, whose
    * purge leaves no vector behind. At 100 TB a day-bounded correction
    * writes the changed rows only, issued from any SQL client.
    */
  def q207(s: SparkSession, d: String): DataFrame = {
    val (cat, _) = flatStatsTable(s, d, "snapq207")
    val m = Tables
      .events(s, d)
      .agg(min(to_date(col("ts"))).as("m"))
      .head()
      .getDate(0)
      .toLocalDate
    val cut = m.plusDays(2).toString
    s.sql(s"""
      |UPDATE $cat.ev SET n = n * 2, sum_u = sum_u + n
      |WHERE event_type = 'click' AND day <= DATE'$cut'""".stripMargin)
    s.sql(s"""
      |SELECT v1.event_type AS event_type,
      |       v1.n AS n_v1, v2.n AS n_live,
      |       v1.u AS u_v1, v2.u AS u_live
      |FROM (SELECT event_type, CAST(sum(n) AS BIGINT) AS n, CAST(sum(sum_u) AS BIGINT) AS u
      |      FROM $cat.ev VERSION AS OF 1 GROUP BY event_type) v1
      |JOIN (SELECT event_type, CAST(sum(n) AS BIGINT) AS n, CAST(sum(sum_u) AS BIGINT) AS u
      |      FROM $cat.ev GROUP BY event_type) v2
      |ON v1.event_type = v2.event_type
      |ORDER BY event_type""".stripMargin)
  }

  // -- q208: SQL MERGE INTO -----------------------------------------------

  /** `MERGE INTO` through the same delta-based machinery, hash-proved: the
    * delta (recomputed from raw events, NOT from the target) carries
    * doubled click stats for the first three days plus one brand-new
    * `__synthetic` key; WHEN MATCHED updates, WHEN NOT MATCHED inserts.
    * The result joins live vs `VERSION AS OF 1`: every real type matches
    * q203's arithmetic (n gains the matched raw count, sum likewise), the
    * synthetic key exists only live, and v1 is untouched — the oracle
    * recomputes all of it from raw events. At 100 TB this is the CDC
    * apply statement — one SQL MERGE, merge-on-read (vectors + appended
    * rows), time-travelable result.
    */
  def q208(s: SparkSession, d: String): DataFrame = {
    val (cat, _) = flatStatsTable(s, d, "snapq208")
    val ev = Tables.events(s, d)
    val micro = floor(col("value") * lit(1000000.0) + lit(0.5)).cast("long")
    val m = ev.agg(min(to_date(col("ts"))).as("m")).head().getDate(0).toLocalDate
    val cut = m.plusDays(2).toString
    val matchedDelta = ev
      .filter(col("event_type") === "click" && to_date(col("ts")) <= to_date(lit(cut)))
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(
        (count(lit(1)) * lit(2L)).as("n"),
        (sum(micro) + count(lit(1))).as("sum_u"))
    val delta = matchedDelta.unionByName(
      s.sql("SELECT DATE'1999-12-31' AS day, '__synthetic' AS event_type, " +
        "CAST(7 AS BIGINT) AS n, CAST(42 AS BIGINT) AS sum_u"))
    delta.createOrReplaceTempView(s"${cat}_delta")
    s.sql(s"""
      |MERGE INTO $cat.ev AS t USING ${cat}_delta AS s
      |ON t.day = s.day AND t.event_type = s.event_type
      |WHEN MATCHED THEN UPDATE SET n = s.n, sum_u = s.sum_u
      |WHEN NOT MATCHED THEN INSERT (day, event_type, n, sum_u) VALUES (s.day, s.event_type, s.n, s.sum_u)""".stripMargin)
    s.sql(s"""
      |SELECT v2.event_type AS event_type,
      |       v2.n AS n_live, coalesce(v1.n, CAST(0 AS BIGINT)) AS n_before,
      |       v2.u AS u_live, coalesce(v1.u, CAST(0 AS BIGINT)) AS u_before
      |FROM (SELECT event_type, CAST(sum(n) AS BIGINT) AS n, CAST(sum(sum_u) AS BIGINT) AS u
      |      FROM $cat.ev GROUP BY event_type) v2
      |LEFT JOIN (SELECT event_type, CAST(sum(n) AS BIGINT) AS n, CAST(sum(sum_u) AS BIGINT) AS u
      |           FROM $cat.ev VERSION AS OF 1 GROUP BY event_type) v1
      |ON v2.event_type = v1.event_type
      |ORDER BY event_type""".stripMargin)
  }

  val q208Sql: String =
    """WITH s AS (
      |  SELECT CAST(ts AS DATE) AS day, event_type,
      |         CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS u
      |  FROM events),
      |b AS (SELECT min(day) AS m FROM s),
      |g AS (SELECT event_type,
      |        CAST(count(*) AS BIGINT) AS n,
      |        CAST(sum(u) AS BIGINT) AS su,
      |        CAST(sum(CASE WHEN event_type = 'click' AND day <= m + 2 THEN 1 ELSE 0 END) AS BIGINT) AS hit
      |      FROM s, b GROUP BY event_type)
      |SELECT event_type, n + hit AS n_live, n AS n_before, su + hit AS u_live, su AS u_before
      |FROM g
      |UNION ALL
      |SELECT '__synthetic', CAST(7 AS BIGINT), CAST(0 AS BIGINT), CAST(42 AS BIGINT), CAST(0 AS BIGINT)
      |ORDER BY event_type""".stripMargin

  // -- q209: streaming toTable into a snapshot table ----------------------

  /** The native streaming sink, hash-proved: `writeStream.toTable` pushes
    * the error-event stream into a snapshot catalog table through
    * [[graft.sources.snap.SnapStreamingWrite]] — every epoch stages
    * deterministically-named parquet, lands it and commits a manifest
    * version under the table lock, then advances the per-query epoch
    * high-water mark (a replayed epoch is a no-op; the spec proves it).
    * The query then aggregates the SINK table per day and the oracle
    * recomputes the same from raw events (plus the seed sentinel the
    * table was created with), so the hash proves the streamed rows landed
    * exactly once and stayed metadata-disciplined — the closing `n_rows`
    * column is the manifest-only COUNT over the sink. At 100 TB this is
    * the ingest topology: a streaming job appends versioned, time-travel-
    * able, stats-complete commits with no foreachBatch glue.
    */
  def q209(s: SparkSession, d: String): DataFrame = {
    val base = new org.apache.hadoop.fs.Path(
      System.getProperty("java.io.tmpdir"),
      s"graft_snapq209_${java.lang.Integer.toHexString(d.hashCode)}_${s.sparkContext.applicationId}")
    graft.core.Scratch.register(base.toString)
    val fs = base.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(base)) fs.delete(base, true)
    val dir = new org.apache.hadoop.fs.Path(base, "sink").toString
    // seed: a snapshot table IS a dir with committed manifests — one
    // sentinel row the oracle reproduces
    s.sql("""SELECT CAST(-1 AS BIGINT) AS event_id, timestamp'1999-12-31 00:00:00' AS ts,
              CAST(-1 AS BIGINT) AS user_id, '__seed' AS event_type,
              CAST(0.0 AS DOUBLE) AS value, '' AS props""")
      .coalesce(1)
      .write
      .parquet(dir)
    graft.sources.Snapshots.commit(s, dir, Seq("event_id"))
    val cat = s"snapq209_${java.lang.Integer.toHexString(d.hashCode)}"
    s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.snap.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", base.toString)
    val inDir = stageEventsIn(s, d, base)
    val q = graft.streaming.Streaming
      .readEventStream(s, inDir)
      .filter(col("event_type") === "error")
      .writeStream
      .option("checkpointLocation", new org.apache.hadoop.fs.Path(base, "ckpt").toString)
      .toTable(s"$cat.sink")
    try q.processAllAvailable()
    finally q.stop()
    s.sql(s"""
      |SELECT to_date(ts) AS day,
      |       CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS u,
      |       (SELECT count(*) FROM $cat.sink) AS n_rows
      |FROM $cat.sink GROUP BY to_date(ts)
      |ORDER BY day""".stripMargin)
  }

  val q209Sql: String =
    """WITH s AS (
      |  SELECT CAST(ts AS DATE) AS day,
      |         CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS u
      |  FROM events WHERE event_type = 'error'
      |  UNION ALL SELECT DATE'1999-12-31', 0),
      |t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM s)
      |SELECT day, CAST(count(*) AS BIGINT) AS n, CAST(sum(u) AS BIGINT) AS u,
      |       (SELECT total FROM t) AS n_rows
      |FROM s GROUP BY day ORDER BY day""".stripMargin

  // -- q210: SQL DDL — schema evolution lifecycle -----------------------

  /** The ALTER TABLE story end-to-end, pure SQL: CTAS creates a snapshot
    * table from the early event days ([[graft.sources.snap.GraftCatalog]]
    * `createTable` + append), `ALTER TABLE … ADD COLUMNS (mx BIGINT)`
    * commits a metadata-only schema version
    * ([[graft.sources.Snapshots.addColumns]] — no data I/O, no rewrite),
    * and the late days INSERT WITH the new column populated. The final
    * read proves by-name evolution semantics value-exactly against a
    * DuckDB oracle: pre-ALTER rows read NULL for `mx` (so `count(mx)`
    * counts only post-ALTER rows), the post-INSERT commit's
    * declared+inferred schema merge keeps the column even though most
    * files predate it, and a `VERSION AS OF` pin from before the ALTER
    * still answers (its schema has no `mx` — asserted structurally in
    * SnapCatalogSpec; its row count rides the hash here). At 100 TB this
    * is the schema-evolution economics that matter: adding a column to a
    * million-file table costs one small manifest write, and NO reader —
    * pinned or live — ever opens a file it wouldn't have anyway.
    */
  def q210(s: SparkSession, d: String): DataFrame = {
    val base = new org.apache.hadoop.fs.Path(
      System.getProperty("java.io.tmpdir"),
      s"graft_snapq210_${java.lang.Integer.toHexString(d.hashCode)}_${s.sparkContext.applicationId}")
    graft.core.Scratch.register(base.toString)
    val fs = base.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(base)) fs.delete(base, true)
    fs.mkdirs(base)
    val cat = s"snapq210_${java.lang.Integer.toHexString(d.hashCode)}"
    s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.snap.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", base.toString)
    Tables.events(s, d).createOrReplaceTempView("graft_q210_events")
    val cutoff = Tables
      .events(s, d)
      .agg(min(to_date(col("ts"))).as("m"))
      .head()
      .getDate(0)
      .toLocalDate
      .plusDays(4)
      .toString
    // v1: CREATE TABLE (empty, declared schema) + v2: the CTAS append
    s.sql(s"""
      |CREATE TABLE $cat.t AS
      |SELECT to_date(ts) AS day, event_type, CAST(count(*) AS BIGINT) AS n
      |FROM graft_q210_events WHERE to_date(ts) < DATE'$cutoff'
      |GROUP BY to_date(ts), event_type""".stripMargin)
    // v3: metadata-only ALTER; v4: the late slice lands WITH the column
    s.sql(s"ALTER TABLE $cat.t ADD COLUMNS (mx BIGINT)")
    s.sql(s"""
      |INSERT INTO $cat.t
      |SELECT to_date(ts) AS day, event_type, CAST(count(*) AS BIGINT) AS n,
      |       CAST(max(floor(value * 1000000.0 + 0.5)) AS BIGINT) AS mx
      |FROM graft_q210_events WHERE to_date(ts) >= DATE'$cutoff'
      |GROUP BY to_date(ts), event_type""".stripMargin)
    s.sql(s"""
      |SELECT g.event_type AS event_type, g.n_events, g.mx_rows, g.mx_sum, p.v_pre
      |FROM (SELECT event_type, CAST(sum(n) AS BIGINT) AS n_events,
      |             CAST(count(mx) AS BIGINT) AS mx_rows,
      |             CAST(sum(coalesce(mx, CAST(0 AS BIGINT))) AS BIGINT) AS mx_sum
      |      FROM $cat.t GROUP BY event_type) g
      |CROSS JOIN (SELECT CAST(count(*) AS BIGINT) AS v_pre
      |            FROM $cat.t VERSION AS OF 2) p
      |ORDER BY event_type""".stripMargin)
  }

  val q210Sql: String =
    """WITH s AS (
      |  SELECT CAST(ts AS DATE) AS day, event_type,
      |         CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS u
      |  FROM events),
      |cut AS (SELECT CAST(min(day) AS DATE) + 4 AS c FROM s),
      |agg AS (
      |  SELECT day, event_type, CAST(count(*) AS BIGINT) AS n,
      |         CASE WHEN day >= (SELECT c FROM cut) THEN CAST(max(u) AS BIGINT) END AS mx
      |  FROM s GROUP BY day, event_type),
      |pre AS (SELECT CAST(count(*) AS BIGINT) AS v_pre FROM agg
      |        WHERE day < (SELECT c FROM cut))
      |SELECT event_type, CAST(sum(n) AS BIGINT) AS n_events,
      |       CAST(count(mx) AS BIGINT) AS mx_rows,
      |       CAST(sum(coalesce(mx, 0)) AS BIGINT) AS mx_sum,
      |       (SELECT v_pre FROM pre) AS v_pre
      |FROM agg GROUP BY event_type ORDER BY event_type""".stripMargin

  // -- q211: SQL DDL — in-place type widening ---------------------------

  /** `ALTER TABLE … ALTER COLUMN u TYPE BIGINT` with values only a BIGINT
    * can hold landing AFTER the widen: the early files keep int32 pages,
    * the late files write int64, and ONE declared schema reads both (the
    * parquet readers' in-place widening,
    * [[graft.sources.Snapshots.widenColumn]]) — no rewrite of the narrow
    * files ever happens, which at 100 TB is the difference between a
    * metadata commit and re-writing every historical file when a counter
    * outgrows int. The post-widen commit's schema merge must also PREFER
    * the declared wide type over the surviving narrow footers — the hash
    * (sum over 3·10⁹-scaled late values + narrow early values) is only
    * right if both read under one bigint column.
    */
  def q211(s: SparkSession, d: String): DataFrame = {
    val base = new org.apache.hadoop.fs.Path(
      System.getProperty("java.io.tmpdir"),
      s"graft_snapq211_${java.lang.Integer.toHexString(d.hashCode)}_${s.sparkContext.applicationId}")
    graft.core.Scratch.register(base.toString)
    val fs = base.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(base)) fs.delete(base, true)
    fs.mkdirs(base)
    val cat = s"snapq211_${java.lang.Integer.toHexString(d.hashCode)}"
    s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.snap.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", base.toString)
    Tables.events(s, d).createOrReplaceTempView("graft_q211_events")
    val cutoff = Tables
      .events(s, d)
      .agg(min(to_date(col("ts"))).as("m"))
      .head()
      .getDate(0)
      .toLocalDate
      .plusDays(4)
      .toString
    s.sql(s"CREATE TABLE $cat.w (event_type STRING, u INT)")
    s.sql(s"""
      |INSERT INTO $cat.w
      |SELECT event_type, CAST(count(*) AS INT) AS u
      |FROM graft_q211_events WHERE to_date(ts) < DATE'$cutoff'
      |GROUP BY event_type""".stripMargin)
    s.sql(s"ALTER TABLE $cat.w ALTER COLUMN u TYPE BIGINT")
    s.sql(s"""
      |INSERT INTO $cat.w
      |SELECT event_type, CAST(count(*) AS BIGINT) * CAST(3000000000 AS BIGINT) AS u
      |FROM graft_q211_events WHERE to_date(ts) >= DATE'$cutoff'
      |GROUP BY event_type""".stripMargin)
    s.sql(s"""
      |SELECT event_type, CAST(sum(u) AS BIGINT) AS total, CAST(count(*) AS BIGINT) AS n
      |FROM $cat.w GROUP BY event_type ORDER BY event_type""".stripMargin)
  }

  val q211Sql: String =
    """WITH s AS (SELECT CAST(ts AS DATE) AS day, event_type FROM events),
      |cut AS (SELECT CAST(min(day) AS DATE) + 4 AS c FROM s),
      |early AS (SELECT event_type, CAST(count(*) AS BIGINT) AS u FROM s
      |          WHERE day < (SELECT c FROM cut) GROUP BY event_type),
      |late AS (SELECT event_type, CAST(count(*) AS BIGINT) * 3000000000 AS u FROM s
      |         WHERE day >= (SELECT c FROM cut) GROUP BY event_type),
      |allr AS (SELECT * FROM early UNION ALL SELECT * FROM late)
      |SELECT event_type, CAST(sum(u) AS BIGINT) AS total, CAST(count(*) AS BIGINT) AS n
      |FROM allr GROUP BY event_type ORDER BY event_type""".stripMargin

  // -- q212: streaming source → streaming sink, no external driver ------

  /** The incremental loop CLOSED inside Spark: a snapshot table is the
    * STREAMING SOURCE (`spark.readStream.table` →
    * [[graft.sources.snap.SnapMicroBatchStream]], offsets ARE manifest
    * versions, each batch is exactly the files a commit appended) and a
    * second snapshot table is the exactly-once STREAMING SINK
    * (`writeStream.toTable`, auto-created through the catalog's new
    * `createTable`). The early event days commit v1; the late days land
    * via SQL INSERT as v2; ONE streaming query replicates table →
    * table — v1 as the initial-image batch, v2 as the delta — and the
    * final read aggregates the REPLICA against a DuckDB oracle computing
    * from raw events, plus the replica's own manifest row count (the
    * metadata-only COUNT must hold over streamed epochs). At 100 TB this
    * is the derived-table story with no external orchestrator: a commit
    * on the upstream table costs downstream exactly the appended files,
    * checkpoint-resumable, each epoch time-travelable on both sides.
    */
  def q212(s: SparkSession, d: String): DataFrame = {
    val base = new org.apache.hadoop.fs.Path(
      System.getProperty("java.io.tmpdir"),
      s"graft_snapq212_${java.lang.Integer.toHexString(d.hashCode)}_${s.sparkContext.applicationId}")
    graft.core.Scratch.register(base.toString)
    val fs = base.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(base)) fs.delete(base, true)
    fs.mkdirs(base)
    val cat = s"snapq212_${java.lang.Integer.toHexString(d.hashCode)}"
    s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.snap.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", base.toString)
    val ev = Tables.events(s, d)
    val cutoff = ev
      .agg(min(to_date(col("ts"))).as("m"))
      .head()
      .getDate(0)
      .toLocalDate
      .plusDays(4)
      .toString
    val micro = floor(col("value") * lit(1000000.0) + lit(0.5)).cast("long")
    val stats = ev
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(micro).as("sum_u"))
    val srcDir = new org.apache.hadoop.fs.Path(base, "ev").toString
    // v1: the early slice, committed with the day-stats discipline
    graft.sources.Sources.writeParquet(
      stats.filter(col("day") < lit(cutoff).cast("date")).repartition(col("day")),
      srcDir,
      Seq("day"))
    graft.sources.Snapshots.commit(s, srcDir, Seq("day"))
    // v2: the late slice lands through SQL INSERT (stats inherited)
    stats.filter(col("day") >= lit(cutoff).cast("date")).createOrReplaceTempView("graft_q212_late")
    s.sql(s"INSERT INTO $cat.ev SELECT event_type, n, sum_u, day FROM graft_q212_late")
    // the replica is CREATEd with a stats discipline up front, so every
    // streamed epoch's commit keeps metadata-only counts + day pruning
    s.sql(s"""CREATE TABLE $cat.feed (event_type STRING, n BIGINT, sum_u BIGINT, day DATE)
      |TBLPROPERTIES ('stats_cols'='day')""".stripMargin)
    // ONE streaming query: manifest-log source → exactly-once toTable
    // sink; v1 is the initial image batch, v2 the delta
    val ckpt = new org.apache.hadoop.fs.Path(base, "ck").toString
    val q = s.readStream
      .table(s"$cat.ev")
      .writeStream
      .option("checkpointLocation", ckpt)
      .toTable(s"$cat.feed")
    q.processAllAvailable()
    q.stop()
    s.sql(s"""
      |SELECT event_type, CAST(sum(n) AS BIGINT) AS n_events,
      |       CAST(sum(sum_u) AS BIGINT) AS u,
      |       (SELECT CAST(count(*) AS BIGINT) FROM $cat.feed) AS n_rows
      |FROM $cat.feed GROUP BY event_type ORDER BY event_type""".stripMargin)
  }

  val q212Sql: String =
    """WITH s AS (
      |  SELECT CAST(ts AS DATE) AS day, event_type,
      |         CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS u
      |  FROM events),
      |agg AS (SELECT day, event_type, CAST(count(*) AS BIGINT) AS n,
      |               CAST(sum(u) AS BIGINT) AS su
      |        FROM s GROUP BY day, event_type),
      |t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM agg)
      |SELECT event_type, CAST(sum(n) AS BIGINT) AS n_events,
      |       CAST(sum(su) AS BIGINT) AS u,
      |       (SELECT total FROM t) AS n_rows
      |FROM agg GROUP BY event_type ORDER BY event_type""".stripMargin

  // -- q213: manifest-only MIN/MAX/COUNT(col) pushdown ------------------

  /** Scratch day-partitioned events projection (user_id, day, cat —
    * NULL for every click), committed with day/user_id/cat stats and
    * registered as catalog `<tag>_<hash>` — the shared fixture of the
    * manifest-aggregate queries q213/q216/q217.
    */
  private def eventsDayTable(s: SparkSession, d: String, tag: String): String = {
    val base = new org.apache.hadoop.fs.Path(
      System.getProperty("java.io.tmpdir"),
      s"graft_${tag}_${java.lang.Integer.toHexString(d.hashCode)}_${s.sparkContext.applicationId}")
    graft.core.Scratch.register(base.toString)
    val fs = base.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(base)) fs.delete(base, true)
    val dir = new org.apache.hadoop.fs.Path(base, "ev").toString
    val rows = Tables
      .events(s, d)
      .select(
        col("user_id"),
        to_date(col("ts")).as("day"),
        when(col("event_type") === "click", lit(null).cast("string"))
          .otherwise(col("event_type"))
          .as("cat"))
    graft.sources.Sources.writeParquet(rows.repartition(col("day")), dir, Seq("day"))
    graft.sources.Snapshots.commit(s, dir, Seq("day", "user_id", "cat"))
    val cat = s"${tag}_${java.lang.Integer.toHexString(d.hashCode)}"
    s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.snap.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", base.toString)
    cat
  }

  /** Every DSv2 scan description in a frame's optimized plan — what the
    * manifest-aggregate queries REQUIRE their plan shape against.
    */
  private def scanDescriptions(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan.description()
    }

  /** The rest of the dashboard reflexes at q195/q197's economics, through
    * PLAIN SQL: `MIN`, `MAX`, `COUNT(col)` and `COUNT(*)` over a
    * committed snapshot table answer as a COMPLETE DSv2 aggregate
    * pushdown ([[graft.sources.snap.SnapAggScan]]) — MIN/MAX fold the
    * manifest's per-file value intervals, `COUNT(col)` subtracts the
    * per-file null counts round 9 started recording, and no data file
    * (not even a footer) opens. The table deliberately stresses the
    * soundness edges: `cat` is NULL for every click (null counts must be
    * exact), `day` extremes come from hive path values as DATEs, and the
    * query REQUIRES the manifest-only plan shape — a silent fallback to a
    * scan would hash-match, so the plan check is what makes the proof
    * honest. The ORACLE recomputes all seven answers from raw events. At
    * 100 TB: every one of these costs one small manifest read, no
    * cluster job — the Iceberg/Delta stats-read economics, from any SQL
    * client.
    */
  def q213(s: SparkSession, d: String): DataFrame = {
    val cat = eventsDayTable(s, d, "snapq213")
    val df = s.sql(s"""
      |SELECT min(user_id) AS min_uid, max(user_id) AS max_uid,
      |       count(user_id) AS n_uid, count(cat) AS n_cat,
      |       min(day) AS min_day, max(day) AS max_day,
      |       count(*) AS n_rows
      |FROM $cat.ev""".stripMargin)
    // the point IS the plan: refuse to return a scanned answer
    val scans = scanDescriptions(df)
    require(
      scans.exists(_.contains("GraftSnapAggScan")),
      s"aggregates did not push to the manifest: $scans")
    df
  }

  val q213Sql: String =
    """SELECT min(user_id) AS min_uid, max(user_id) AS max_uid,
      |  CAST(count(user_id) AS BIGINT) AS n_uid,
      |  CAST(count(CASE WHEN event_type <> 'click' THEN event_type END) AS BIGINT) AS n_cat,
      |  min(CAST(ts AS DATE)) AS min_day, max(CAST(ts AS DATE)) AS max_day,
      |  CAST(count(*) AS BIGINT) AS n_rows
      |FROM events""".stripMargin

  /** Run `body` with session confs set, restoring previous values — the
    * SPJ/DPP demos flip real Spark confs and must leave the shared
    * Verify/Bench session exactly as found.
    */
  /** Corrupt a committed data file in place (checksum sidecar removed so
    * the junk bytes are readable as bytes, unreadable as parquet): the
    * zero-opens canary — any plan that opens the file dies loudly, so a
    * green query PROVES the file was never read. Shared by q234/q237.
    */
  private def corruptFile(
      s: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      file: org.apache.hadoop.fs.Path): Unit = {
    val crc = new org.apache.hadoop.fs.Path(file.getParent, s".${file.getName}.crc")
    if (fs.exists(crc)) fs.delete(crc, false)
    val out = fs.create(file, true)
    try out.write("not parquet".getBytes("UTF-8"))
    finally out.close()
  }

  private def withConfs(s: SparkSession, pairs: (String, String)*)(body: => DataFrame): DataFrame = {
    val prev = pairs.map { case (k, _) => k -> s.conf.getOption(k) }
    pairs.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** Materialize a DataFrame computed under temporary confs: the caller's
    * plan ran (and was plan-checked) under those confs; the returned
    * frame must not silently re-plan differently when the harness
    * re-executes it after they are restored.
    */
  private def freeze(s: SparkSession, df: DataFrame): DataFrame = {
    import scala.jdk.CollectionConverters._
    s.createDataFrame(df.collect().toSeq.asJava, df.schema)
  }

  // -- q214: storage-partitioned join — co-partitioned tables, no shuffle

  /** The 100 TB join story: two snapshot tables hive-partitioned on the
    * same `day` key join with ZERO shuffles on either side. The snapshot
    * batch scan ([[graft.sources.snap.SnapV2BatchScan]]) reports every file's
    * typed partition key under a `KeyGroupedPartitioning(identity(day))`;
    * Spark (v2 bucketing, default-on in Spark 4) groups same-key files
    * into co-located input splits and satisfies the join's distribution
    * requirement straight from storage — the plan REQUIRE proves no
    * `ShuffleExchange` exists under the join, with broadcast disabled so
    * the assertion can't be satisfied vacuously. At 100 TB this is the
    * difference between moving both tables across the network and moving
    * nothing: the daily-fact ⋈ daily-rollup join every pipeline runs,
    * costed at local disk reads. The ORACLE recomputes both sides from
    * raw events and joins them in DuckDB.
    */
  def q214(s: SparkSession, d: String): DataFrame = {
    val base = new org.apache.hadoop.fs.Path(
      System.getProperty("java.io.tmpdir"),
      s"graft_snapq214_${java.lang.Integer.toHexString(d.hashCode)}_${s.sparkContext.applicationId}")
    graft.core.Scratch.register(base.toString)
    val fs = base.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(base)) fs.delete(base, true)
    val cat = s"snapq214_${java.lang.Integer.toHexString(d.hashCode)}"
    s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.snap.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", base.toString)
    val ev = Tables.events(s, d)
    val micro = floor(col("value") * lit(1000000.0) + lit(0.5)).cast("long")
    val byType = ev
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(micro).as("sum_u"))
    val byUser = ev
      .groupBy(to_date(col("ts")).as("day"), col("user_id"))
      .agg(count(lit(1)).as("n_ev"))
    graft.sources.Sources.writeParquet(
      byType.repartition(col("day")),
      new org.apache.hadoop.fs.Path(base, "by_type").toString,
      Seq("day"))
    graft.sources.Snapshots.commit(s, new org.apache.hadoop.fs.Path(base, "by_type").toString, Seq("day"))
    graft.sources.Sources.writeParquet(
      byUser.repartition(col("day")),
      new org.apache.hadoop.fs.Path(base, "by_user").toString,
      Seq("day"))
    graft.sources.Snapshots.commit(s, new org.apache.hadoop.fs.Path(base, "by_user").toString, Seq("day"))
    withConfs(
      s,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      val joined = s.sql(s"""
        |SELECT t.day AS day,
        |       CAST(count(*) AS BIGINT) AS n_pairs,
        |       CAST(sum(t.n) AS BIGINT) AS n_events_w,
        |       CAST(sum(u.n_ev) AS BIGINT) AS n_events_u
        |FROM $cat.by_type t JOIN $cat.by_user u ON t.day = u.day
        |GROUP BY t.day ORDER BY t.day""".stripMargin)
      // the point IS the plan: a shuffle under the join voids the demo
      val joins = joined.queryExecution.executedPlan.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
        case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
      }
      require(joins.nonEmpty, s"expected a shuffle-family join:\n${joined.queryExecution.executedPlan}")
      val shufflesUnderJoin = joins.head.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      require(
        shufflesUnderJoin.isEmpty,
        s"storage-partitioned join must not shuffle either side:\n${joins.head}")
      freeze(s, joined)
    }
  }

  val q214Sql: String =
    """WITH s AS (
      |  SELECT CAST(ts AS DATE) AS day, event_type, user_id,
      |         CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS u
      |  FROM events),
      |t AS (SELECT day, event_type, CAST(count(*) AS BIGINT) AS n
      |      FROM s GROUP BY day, event_type),
      |us AS (SELECT day, user_id, CAST(count(*) AS BIGINT) AS n_ev
      |       FROM s GROUP BY day, user_id)
      |SELECT t.day AS day, CAST(count(*) AS BIGINT) AS n_pairs,
      |       CAST(sum(t.n) AS BIGINT) AS n_events_w,
      |       CAST(sum(us.n_ev) AS BIGINT) AS n_events_u
      |FROM t JOIN us ON t.day = us.day
      |GROUP BY t.day ORDER BY t.day""".stripMargin

  // -- q215: runtime join-key file pruning (the DPP path) ----------------

  /** The selective-dimension join at manifest economics: the fact side is
    * a day-partitioned snapshot table, the dim side keeps only a 4-day
    * window, and Spark hands the fact scan the surviving join-key VALUES
    * at runtime ([[graft.sources.snap.SnapV2BatchScan.filter]]) — files
    * whose manifest day interval misses every value are dropped before
    * any task launches. The REQUIRE proves the executed scan kept only
    * the window's files (4 of ~10 day files); the ORACLE recomputes the
    * joined aggregate from raw events. At 100 TB: `fact ⋈ σ(dim)` reads
    * the matching partitions only, and the pruning decision costs zero
    * file opens — it is a manifest-interval check against the broadcast
    * result the join needed anyway.
    */
  def q215(s: SparkSession, d: String): DataFrame = {
    val base = new org.apache.hadoop.fs.Path(
      System.getProperty("java.io.tmpdir"),
      s"graft_snapq215_${java.lang.Integer.toHexString(d.hashCode)}_${s.sparkContext.applicationId}")
    graft.core.Scratch.register(base.toString)
    val fs = base.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(base)) fs.delete(base, true)
    val cat = s"snapq215_${java.lang.Integer.toHexString(d.hashCode)}"
    s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.snap.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", base.toString)
    val ev = Tables.events(s, d)
    val micro = floor(col("value") * lit(1000000.0) + lit(0.5)).cast("long")
    val stats = ev
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(micro).as("sum_u"))
    val factDir = new org.apache.hadoop.fs.Path(base, "fact").toString
    graft.sources.Sources.writeParquet(stats.repartition(col("day")), factDir, Seq("day"))
    graft.sources.Snapshots.commit(s, factDir, Seq("day"))
    val m = ev.agg(min(to_date(col("ts"))).as("m")).head.getDate(0).toLocalDate
    // dim TABLE (a folded local relation would not carry the selective
    // Filter the pruning rule requires): every day, tagged; only the
    // window keeps
    ev.select(to_date(col("ts")).as("day"))
      .distinct()
      .withColumn(
        "tag",
        when(
          col("day").between(
            lit(m.plusDays(2).toString).cast("date"),
            lit(m.plusDays(5).toString).cast("date")),
          lit("keep")).otherwise(lit("drop")))
      .write
      .mode("overwrite")
      .parquet(new org.apache.hadoop.fs.Path(base, "dim").toString)
    s.read
      .parquet(new org.apache.hadoop.fs.Path(base, "dim").toString)
      .createOrReplaceTempView(s"graft_q215_dim")
    withConfs(
      s,
      // fixture-scale stats would make the benefit estimator decline what
      // it accepts at warehouse scale — bypass the estimate, not the path
      "spark.sql.optimizer.dynamicPartitionPruning.useStats" -> "false") {
      val df = s.sql(s"""
        |SELECT f.event_type AS event_type,
        |       CAST(sum(f.n) AS BIGINT) AS n_events,
        |       CAST(sum(f.sum_u) AS BIGINT) AS u
        |FROM $cat.fact f JOIN graft_q215_dim dm ON f.day = dm.day
        |WHERE dm.tag = 'keep'
        |GROUP BY f.event_type ORDER BY f.event_type""".stripMargin)
      val scans = df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
            if r.scan.isInstanceOf[graft.sources.snap.SnapV2BatchScan] =>
          r.scan.asInstanceOf[graft.sources.snap.SnapV2BatchScan]
      }
      require(scans.size == 1, s"expected the fact scan: ${df.queryExecution.optimizedPlan}")
      val out = freeze(s, df) // executes THIS plan — runtime filter fires here
      val kept = scans.head.currentRels
      require(
        kept.nonEmpty && kept.size < graft.sources.Snapshots.files(s, factDir).size,
        s"runtime join-key filter must drop out-of-window day files, kept: $kept")
      require(
        kept.forall(_.matches(".*day=.*")),
        s"kept rels must be day-partition files: $kept")
      out
    }
  }

  val q215Sql: String =
    """WITH s AS (
      |  SELECT CAST(ts AS DATE) AS day, event_type,
      |         CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS u
      |  FROM events),
      |agg AS (SELECT day, event_type, CAST(count(*) AS BIGINT) AS n,
      |               CAST(sum(u) AS BIGINT) AS su FROM s GROUP BY day, event_type),
      |b AS (SELECT min(day) AS m FROM s)
      |SELECT event_type, CAST(sum(n) AS BIGINT) AS n_events, CAST(sum(su) AS BIGINT) AS u
      |FROM agg, b WHERE day BETWEEN m + 2 AND m + 5
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // -- q216: GROUP BY partition column, answered manifest-only ----------

  /** q213's economics extended to the GROUPED dashboard query: `SELECT
    * day, count(*), count(cat), min(user_id), max(user_id) GROUP BY day`
    * pushes COMPLETE because every file belongs to exactly one `day`
    * group by hive-layout construction — each group's answer is a union
    * of whole files, folded from the manifest's per-file row counts, null
    * counts and value intervals. No job, no file opens, any table size.
    * The REQUIRE pins the grouped plan shape (`GroupBy: [day]` on the
    * manifest agg scan); the ORACLE recomputes every per-day row from raw
    * events. This is the per-partition stats panel every table UI shows,
    * at one-manifest-read cost.
    */
  def q216(s: SparkSession, d: String): DataFrame = {
    val cat = eventsDayTable(s, d, "snapq216")
    val df = s.sql(s"""
      |SELECT day, count(*) AS n_rows, count(cat) AS n_cat,
      |       min(user_id) AS min_uid, max(user_id) AS max_uid
      |FROM $cat.ev GROUP BY day ORDER BY day""".stripMargin)
    val scans = scanDescriptions(df)
    require(
      scans.exists(s0 => s0.contains("GraftSnapAggScan") && s0.contains("GroupBy: [day]")),
      s"grouped aggregates did not push to the manifest: $scans")
    df
  }

  val q216Sql: String =
    """SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(count(CASE WHEN event_type <> 'click' THEN event_type END) AS BIGINT) AS n_cat,
      |  min(user_id) AS min_uid, max(user_id) AS max_uid
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // -- q217: filtered + grouped manifest aggregates ---------------------

  /** The windowed dashboard panel at manifest economics: `WHERE day IN
    * (…)` on the partition column is CONSUMED by the scan (a hive dir
    * value is the value of every row in the file, so file-level pruning
    * implements the predicate completely and no post-scan Filter is
    * planned) — which is exactly what lets the grouped aggregate STILL
    * push: `SELECT day, count(*), count(cat), min(user_id) … WHERE day IN
    * (4-day window) GROUP BY day` answers from the manifest's per-file
    * stats of just the window's files. No job, no file opens. The REQUIRE
    * pins both halves of the plan shape (consumed filters + grouped agg
    * scan); the ORACLE recomputes the window from raw events. At 100 TB:
    * the date-picker dashboard refresh costs one manifest read regardless
    * of table size or window position.
    */
  def q217(s: SparkSession, d: String): DataFrame = {
    val cat = eventsDayTable(s, d, "snapq217")
    val m = Tables
      .events(s, d)
      .agg(min(to_date(col("ts"))).as("m"))
      .head
      .getDate(0)
      .toLocalDate
    val window = (2L to 5L).map(i => s"DATE'${m.plusDays(i)}'").mkString(", ")
    val df = s.sql(s"""
      |SELECT day, count(*) AS n_rows, count(cat) AS n_cat, min(user_id) AS min_uid
      |FROM $cat.ev WHERE day IN ($window)
      |GROUP BY day ORDER BY day""".stripMargin)
    val scans = scanDescriptions(df)
    require(
      scans.exists(s0 =>
        s0.contains("GraftSnapAggScan") && s0.contains("GroupBy: [day]") &&
          s0.contains("ConsumedFilters:")),
      s"windowed grouped aggregates did not push to the manifest: $scans")
    df
  }

  val q217Sql: String =
    """WITH s AS (
      |  SELECT CAST(ts AS DATE) AS day, user_id,
      |         CASE WHEN event_type <> 'click' THEN event_type END AS cat
      |  FROM events),
      |b AS (SELECT min(day) AS m FROM s)
      |SELECT day, CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(count(cat) AS BIGINT) AS n_cat, min(user_id) AS min_uid
      |FROM s, b WHERE day BETWEEN m + 2 AND m + 5
      |GROUP BY day ORDER BY day""".stripMargin

  /** Stage the events fixture into a fresh `in/` dir a file-stream source
    * can read: the file stream source needs a DIRECTORY, and the fixture
    * is a single file at driver SFs but a directory of part files for
    * synthesized scale-up dirs — flatten either shape (file sources don't
    * recurse by default). A metadata-priced copy; at scale the ingest dir
    * is a directory to begin with.
    */
  private def stageEventsIn(s: SparkSession, d: String, base: org.apache.hadoop.fs.Path): String = {
    val fs = base.getFileSystem(s.sparkContext.hadoopConfiguration)
    val inDir = new org.apache.hadoop.fs.Path(base, "in")
    fs.mkdirs(inDir)
    val src = new org.apache.hadoop.fs.Path(s"$d/events.parquet")
    val srcFiles: Seq[org.apache.hadoop.fs.Path] =
      if (fs.getFileStatus(src).isDirectory)
        fs.listStatus(src)
          .toSeq
          .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
          .map(_.getPath)
      else Seq(src)
    srcFiles.zipWithIndex.foreach { case (p, i) =>
      org.apache.hadoop.fs.FileUtil.copy(
        fs,
        p,
        fs,
        new org.apache.hadoop.fs.Path(inDir, f"events-$i%05d.parquet"),
        false,
        false,
        s.sparkContext.hadoopConfiguration)
    }
    inDir.toString
  }

  // -- q218: SQL MERGE INTO a hive-partitioned table ---------------------

  /** q208's CDC-apply MERGE, now against the DAY-PARTITIONED stats table —
    * the 100 TB default layout. The write is partition-aware end to end:
    * the operation's scan splices each file's `day=` path value into the
    * matched rows, the writer routes every new row image to its partition
    * directory by the row's OWN day (stripping the column from the file
    * bytes — hive layout preserved), and the synthetic not-matched key
    * lands in a brand-new `day=1999-12-31/` directory. The closing `n_day_dirs` column counts
    * the table's partition directories from the manifest, so the hash
    * proves the routing: distinct event days + exactly one new dir — a
    * writer that flattened the layout or fan-out-duplicated directories
    * would mismatch. v1 stays pinned (`VERSION AS OF 1` join, untouched
    * `n_before`/`u_before` sides).
    */
  def q218(s: SparkSession, d: String): DataFrame = {
    val (cat, dir) = statsTable(s, d, "snapq218", Seq("day"))
    val ev = Tables.events(s, d)
    val micro = floor(col("value") * lit(1000000.0) + lit(0.5)).cast("long")
    val m = ev.agg(min(to_date(col("ts"))).as("m")).head().getDate(0).toLocalDate
    val cut = m.plusDays(2).toString
    val matchedDelta = ev
      .filter(col("event_type") === "click" && to_date(col("ts")) <= to_date(lit(cut)))
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(
        (count(lit(1)) * lit(2L)).as("n"),
        (sum(micro) + count(lit(1))).as("sum_u"))
    val delta = matchedDelta.unionByName(
      s.sql("SELECT DATE'1999-12-31' AS day, '__synthetic' AS event_type, " +
        "CAST(7 AS BIGINT) AS n, CAST(42 AS BIGINT) AS sum_u"))
    delta.createOrReplaceTempView(s"${cat}_delta")
    s.sql(s"""
      |MERGE INTO $cat.ev AS t USING ${cat}_delta AS s
      |ON t.day = s.day AND t.event_type = s.event_type
      |WHEN MATCHED THEN UPDATE SET n = s.n, sum_u = s.sum_u
      |WHEN NOT MATCHED THEN INSERT (day, event_type, n, sum_u) VALUES (s.day, s.event_type, s.n, s.sum_u)""".stripMargin)
    // layout proof from the manifest: one dir per day, plus the new one
    val dayDirs = graft.sources.Snapshots
      .files(s, dir)
      .map(_.split("/").head)
      .distinct
      .count(_.startsWith("day="))
    s.sql(s"""
      |SELECT v2.event_type AS event_type,
      |       v2.n AS n_live, coalesce(v1.n, CAST(0 AS BIGINT)) AS n_before,
      |       v2.u AS u_live, coalesce(v1.u, CAST(0 AS BIGINT)) AS u_before
      |FROM (SELECT event_type, CAST(sum(n) AS BIGINT) AS n, CAST(sum(sum_u) AS BIGINT) AS u
      |      FROM $cat.ev GROUP BY event_type) v2
      |LEFT JOIN (SELECT event_type, CAST(sum(n) AS BIGINT) AS n, CAST(sum(sum_u) AS BIGINT) AS u
      |           FROM $cat.ev VERSION AS OF 1 GROUP BY event_type) v1
      |ON v2.event_type = v1.event_type
      |ORDER BY event_type""".stripMargin)
      .withColumn("n_day_dirs", lit(dayDirs.toLong))
  }

  val q218Sql: String =
    """WITH s AS (
      |  SELECT CAST(ts AS DATE) AS day, event_type,
      |         CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS u
      |  FROM events),
      |b AS (SELECT min(day) AS m FROM s),
      |dd AS (SELECT CAST(count(DISTINCT day) + 1 AS BIGINT) AS n_day_dirs FROM s),
      |g AS (SELECT event_type,
      |        CAST(count(*) AS BIGINT) AS n,
      |        CAST(sum(u) AS BIGINT) AS su,
      |        CAST(sum(CASE WHEN event_type = 'click' AND day <= m + 2 THEN 1 ELSE 0 END) AS BIGINT) AS hit
      |      FROM s, b GROUP BY event_type)
      |SELECT event_type, n + hit AS n_live, n AS n_before, su + hit AS u_live, su AS u_before,
      |       (SELECT n_day_dirs FROM dd) AS n_day_dirs
      |FROM g
      |UNION ALL
      |SELECT '__synthetic', CAST(7 AS BIGINT), CAST(0 AS BIGINT), CAST(42 AS BIGINT), CAST(0 AS BIGINT),
      |       (SELECT n_day_dirs FROM dd)
      |ORDER BY event_type""".stripMargin

  // -- q219: streaming toTable into a DAY-PARTITIONED table ---------------

  /** q209's native streaming ingest, now landing in the hive-partitioned
    * layout a 100 TB events table actually uses: the error-event stream
    * carries its own `day = to_date(ts)` column, and every epoch's tasks
    * route rows to `day=…/` directories with deterministic per-(query,
    * epoch, task, partition-value) file names — the replay-overwrite
    * exactly-once argument, per directory. The result aggregates the sink
    * BY ITS PARTITION COLUMN (values spliced from the paths — a flattened
    * or misrouted layout would mis-group), and `n_day_dirs` counts the
    * partition directories from the manifest: distinct error days plus
    * the seed's — hash-proof that the routing happened. At 100 TB this is
    * the streaming ingest topology: day-partitioned versioned commits,
    * each epoch an O(delta) manifest write, partition-pruned reads from
    * the first trigger.
    */
  def q219(s: SparkSession, d: String): DataFrame = {
    val base = new org.apache.hadoop.fs.Path(
      System.getProperty("java.io.tmpdir"),
      s"graft_snapq219_${java.lang.Integer.toHexString(d.hashCode)}_${s.sparkContext.applicationId}")
    graft.core.Scratch.register(base.toString)
    val fs = base.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(base)) fs.delete(base, true)
    val dir = new org.apache.hadoop.fs.Path(base, "sink").toString
    // seed: one sentinel row in its own day partition — the table's hive
    // layout is established before the stream starts
    s.sql("""SELECT CAST(-1 AS BIGINT) AS event_id, timestamp'1999-12-31 00:00:00' AS ts,
              CAST(-1 AS BIGINT) AS user_id, '__seed' AS event_type,
              CAST(0.0 AS DOUBLE) AS value, '' AS props, DATE'1999-12-31' AS day""")
      .coalesce(1)
      .write
      .partitionBy("day")
      .parquet(dir)
    graft.sources.Snapshots.commit(s, dir, Seq("day", "event_id"))
    val cat = s"snapq219_${java.lang.Integer.toHexString(d.hashCode)}"
    s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.snap.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", base.toString)
    val inDir = stageEventsIn(s, d, base)
    val q = graft.streaming.Streaming
      .readEventStream(s, inDir)
      .filter(col("event_type") === "error")
      .withColumn("day", to_date(col("ts")))
      // cluster by the sink's partition column: each epoch task then sees
      // ~one day, so files land one-per-day-per-epoch instead of
      // days x tasks (the small-files discipline the INSERT path's
      // REBALANCE hint applies — this is its streaming analog)
      .repartition(col("day"))
      .writeStream
      .option("checkpointLocation", new org.apache.hadoop.fs.Path(base, "ckpt").toString)
      .toTable(s"$cat.sink")
    try q.processAllAvailable()
    finally q.stop()
    val dayDirs = graft.sources.Snapshots
      .files(s, dir)
      .map(_.split("/").head)
      .distinct
      .count(_.startsWith("day="))
    s.sql(s"""
      |SELECT day,
      |       CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS u,
      |       (SELECT count(*) FROM $cat.sink) AS n_rows
      |FROM $cat.sink GROUP BY day
      |ORDER BY day""".stripMargin)
      .withColumn("n_day_dirs", lit(dayDirs.toLong))
  }

  val q219Sql: String =
    """WITH s AS (
      |  SELECT CAST(ts AS DATE) AS day,
      |         CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS u
      |  FROM events WHERE event_type = 'error'
      |  UNION ALL SELECT DATE'1999-12-31', 0),
      |t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM s),
      |dd AS (SELECT CAST(count(DISTINCT day) AS BIGINT) AS n_day_dirs FROM s)
      |SELECT day, CAST(count(*) AS BIGINT) AS n, CAST(sum(u) AS BIGINT) AS u,
      |       (SELECT total FROM t) AS n_rows,
      |       (SELECT n_day_dirs FROM dd) AS n_day_dirs
      |FROM s GROUP BY day ORDER BY day""".stripMargin

  // -- q220: SQL change feed (cat.t.changes) -----------------------------

  /** The row-level change feed as a queryable SQL table — `cat.t.changes`
    * ([[graft.sources.snap.SnapChangesTable]], the `table_changes()` /
    * Delta-CDF surface). The lifecycle: a merge-on-read DELETE (deletion
    * vectors), a compaction, and an UPDATE land on the
    * day-partitioned stats table; the query then aggregates the ENTIRE
    * feed after the creation image. Hash-proof of the CDF contract:
    * deleted rows surface as `delete`, the UPDATE as its delete+insert
    * pair with the post-image values, and the compaction contributes
    * NOTHING (its file-level rewrite nets to zero in the hash-sliced
    * multiset cancellation) — an extra or missing change row anywhere in
    * history would break the hash. At 100 TB this is how downstream
    * tables subscribe to DML without scanning snapshots: per version the
    * feed reads only the changed files, shuffle-free, memory bounded by
    * the planner's slice count.
    */
  def q220(s: SparkSession, d: String): DataFrame = {
    val (cat, dir) = statsTable(s, d, "snapq220", Seq("day"))
    val ev = Tables.events(s, d)
    val m = ev.agg(min(to_date(col("ts"))).as("m")).head().getDate(0).toLocalDate
    val cut = m.plusDays(2).toString
    // v2: DELETE with a non-partition conjunct — deletion vectors
    s.sql(s"DELETE FROM $cat.ev WHERE event_type = 'click' AND day <= DATE'$cut'")
    // v3: compaction — MUST net to zero in the feed
    graft.sources.Sources.compactInPlace(s, dir)
    // v4: UPDATE — delete+insert pairs with doubled post-image n
    s.sql(s"UPDATE $cat.ev SET n = n * 2 WHERE event_type = 'view'")
    // `_commit_timestamp` parity: every change row's commit wall clock is
    // EXACTLY its version's `snapshots.committed_at` — consumers can
    // window the feed by time without a join; wall clock itself can't be
    // hashed, so the proof ships as a boolean
    val tsOk = s
      .sql(s"""
        |SELECT coalesce(bool_and(c.ts = sn.committed_at), false)
        |FROM (SELECT DISTINCT _commit_version AS v, _commit_timestamp AS ts
        |      FROM $cat.ev.changes) c
        |JOIN $cat.ev.snapshots sn ON sn.version = c.v""".stripMargin)
      .head()
      .getBoolean(0)
    s.sql(s"""
      |SELECT _change_type AS change, event_type,
      |       CAST(count(*) AS BIGINT) AS n_changes,
      |       CAST(sum(n) AS BIGINT) AS sum_n
      |FROM $cat.ev.changes
      |WHERE _commit_version > 1
      |GROUP BY _change_type, event_type
      |ORDER BY change, event_type""".stripMargin)
      .withColumn("ts_ok", lit(tsOk))
  }

  val q220Sql: String =
    """WITH s AS (
      |  SELECT CAST(ts AS DATE) AS day, event_type FROM events),
      |b AS (SELECT min(day) AS m FROM s),
      |g AS (SELECT day, event_type, CAST(count(*) AS BIGINT) AS n
      |      FROM s GROUP BY day, event_type)
      |SELECT *, true AS ts_ok FROM (
      |  SELECT 'delete' AS change, 'click' AS event_type,
      |         CAST(count(*) AS BIGINT) AS n_changes, CAST(sum(n) AS BIGINT) AS sum_n
      |  FROM g, b WHERE event_type = 'click' AND day <= m + 2
      |  UNION ALL
      |  SELECT 'delete', 'view', CAST(count(*) AS BIGINT), CAST(sum(n) AS BIGINT)
      |  FROM g WHERE event_type = 'view'
      |  UNION ALL
      |  SELECT 'insert', 'view', CAST(count(*) AS BIGINT), CAST(sum(2 * n) AS BIGINT)
      |  FROM g WHERE event_type = 'view'
      |) WHERE n_changes > 0
      |ORDER BY change, event_type""".stripMargin

  // -- q221: navigable-graph ANN (HNSW family) ---------------------------

  /** Graph-based ANN, the HNSW-family recall/latency point, Spark-first:
    * [[graft.llm.Similarity.knnGraph]] builds a bounded-degree k-NN graph
    * by NN-DESCENT (LSH-seeded neighbor lists refined by three
    * neighbor-of-neighbor rounds — the distributed stand-in for HNSW's
    * driver-bound sequential insert), and
    * [[graft.llm.Similarity.graphSearchScored]] answers queries by beam
    * search over it (multi-probe LSH-bucket + fixed global entry points,
    * four hops, beam max(48, n/16)). Deterministic end to end, so the
    * hash pins real guarantees per query: the exact brute-force top-1 (the oracle
    * recomputes it — the baseline every ANN evaluation needs), a per-query
    * graph recall@10 floor plus a panel MEAN recall@10 of at least 0.5, and a sublinear-visits bound — a graph too
    * poor to navigate, or a search that degraded to scanning, breaks the
    * hash. The exact measured recall trajectory (mean ≈ 0.8 on the
    * synthetic gaussian fixture — the structureless worst case for
    * navigable graphs) is law-tested in SimilaritySpec. The build is a
    * fixed number of degree-bounded self-joins per round (never
    * all-pairs). The search depends on the index size: while the corpus
    * vectors and graph edges fit the kernel ceiling (32 MiB; sf0.1 is
    * 2,000 × 64 floats and ≈24k edges, under 1 MB) they are collected and
    * broadcast once and every query walks all four hops in one stage; at
    * 100 TB, above the ceiling, each hop is a broadcast-frontier hash join
    * touching only candidate vectors. Both paths return the same rows —
    * the recall-vs-latency trade IVF can't reach at high recall targets.
    */
  def q221(s: SparkSession, d: String): DataFrame = {
    import graft.llm.Similarity
    val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val n = emb.count()
    // bucket width tracks corpus size: ~32 vectors per LSH bucket
    val planes = math.max(4, (math.log(math.max(n / 32.0, 2.0)) / math.log(2.0)).ceil.toInt)
    val queries = emb.filter(col("vec_id") < 16)
    // graph build and brute-force baseline are INDEPENDENT sub-DAGs of
    // eager fixed-overhead checkpoint jobs — overlap them (guide §2.6);
    // identical frames are computed, so the result is unchanged
    val (graph, exact) = graft.core.Par.two(
      () => Similarity.knnGraph(emb, degree = 12, rounds = 3, planes = planes, dims = 64),
      // referenced twice (recall hits + the top-1 projection): materialize
      // the brute-force pass once instead of re-running it per reference
      () => Similarity.cosineTopK(queries, emb, 10).localCheckpoint())
    // beam scales mildly with corpus size; entries multi-probe every
    // 1-bit LSH flip — on structureless gaussian vectors (the hardest
    // case for navigable graphs: no low-dimensional manifold to route
    // along) these are the levers that keep recall useful at fixed hops
    val beam = math.max(48, (n / 16).toInt)
    val visited =
      Similarity.graphSearchScored(
        graph, emb, queries, beam, steps = 4, planes, 64, probes = planes + 1)
    val approx = Similarity.rankTopK(visited, 10)
    val hits = exact
      .select(col("qid"), col("vec_id"))
      .join(approx.select(col("qid"), col("vec_id")), Seq("qid", "vec_id"), "left_semi")
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("n_hit"))
    val visitedN = visited.groupBy(col("qid")).agg(count(lit(1)).as("n_visited"))
    val out = exact
      .filter(col("rk") === 1)
      .select(col("qid"), col("vec_id").as("top1_id"), col("sim").as("top1_sim"))
      .join(hits, Seq("qid"), "left")
      .join(visitedN, Seq("qid"), "left")
      .select(
        col("qid"),
        col("top1_id"),
        col("top1_sim"),
        (coalesce(col("n_hit"), lit(0L)) >= 2).as("recall_ok"),
        // sublinear-work pin, stated the honest way: visits can never
        // exceed the search's OWN fixed budget — entries (probes x a
        // generous bucket cap + the global entry set) plus
        // steps x beam x degree newly-scored nodes per hop. The budget is
        // corpus-INDEPENDENT, which IS the sublinearity claim: at fixture
        // scale it may exceed n (trivially true), at 100 TB it bounds the
        // walk at a few thousand visits of a billion vectors
        (col("n_visited") <=
          lit((planes + 1).toLong * 64L + beam.toLong + 4L * beam.toLong * 12L))
          .as("visited_ok"))
      .crossJoin(
        // the aggregate quality pin: MEAN recall@10 across the panel
        // clears 0.5 — individual queries on random data legitimately
        // range 0.3-1.0 (pinned exactly in SimilaritySpec), but a mean
        // below half would mean the graph stopped navigating
        broadcast(
          hits.agg((sum(col("n_hit")) >= lit(80L)).as("mean_recall_ok"))))
      .orderBy(col("qid"))
    // freeze the 16-row result: the plan rides on localCheckpoint blocks
    // the ContextCleaner reaps once the frame is no longer referenced
    freeze(s, out)
  }

  val q221Sql: String =
    """WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 16),
      |p AS (SELECT q.qid, e.vec_id, q.qe, e.embedding AS ve
      |      FROM q, embeddings e WHERE e.vec_id <> q.qid),
      |acc AS (
      |  SELECT qid, vec_id,
      |    sum(CAST(qe[i] AS DOUBLE) * ve[i]) AS dotp,
      |    sum(CAST(qe[i] AS DOUBLE) * qe[i]) AS qn,
      |    sum(CAST(ve[i] AS DOUBLE) * ve[i]) AS vn
      |  FROM p, LATERAL (SELECT unnest(range(1, 65)) AS i) t
      |  GROUP BY qid, vec_id),
      |sims AS (
      |  SELECT qid, vec_id, floor(dotp / (sqrt(qn) * sqrt(vn)) * 10000 + 0.5) / 10000 AS sim
      |  FROM acc),
      |best AS (
      |  SELECT qid, vec_id, sim,
      |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rk
      |  FROM sims)
      |SELECT qid, vec_id AS top1_id, sim AS top1_sim,
      |       true AS recall_ok, true AS visited_ok, true AS mean_recall_ok
      |FROM best WHERE rk = 1 ORDER BY qid""".stripMargin

  // -- q223: graph-ANN incremental append ----------------------------------

  /** q221's navigable graph, now with the DAILY-INGEST path q193 gave the
    * IVF index: the graph is built on the PRE-APPEND corpus (vec_id % 5 ≠
    * 0), the appended slice joins it via
    * [[graft.llm.Similarity.knnGraphAppend]] — LSH-capped seeds, NN-descent
    * rounds restricted to the new-node frontier, back-links re-cutting
    * only the old nodes the new edges touch — and the search runs over
    * the union WITHOUT a rebuild. The hash pins the parity law the query
    * is named for: per query the exact brute-force top-1 (oracle-
    * recomputed), a per-query recall@10 floor on the APPENDED graph, a
    * coverage/degree bound over the union (`covered_ok` — an append that
    * dropped nodes or blew the degree budget would flip it), and
    * `parity_ok`: the appended graph's panel recall clears the absolute
    * navigability floor AND lands within 0.15 mean of a FULL REBUILD
    * searched identically — append-then-search ≡ rebuild-then-search, up
    * to the ANN envelope. A day's vectors cost O(slice) seed + refine
    * work and O(touched) re-cuts; the rest of the graph is carried over
    * verbatim — the rebuild the parity check runs is exactly the cost this
    * operator exists to avoid. Below the kernel ceiling (32 MiB of
    * vectors and edges; sf0.1 is under 1 MB) the append collects and
    * broadcasts the index once and runs one job per round, and both
    * searches walk in one stage each; at 100 TB, above it, the append's
    * steps and the searches' hops are join loops that read the old graph
    * and never recompute it.
    */
  def q223(s: SparkSession, d: String): DataFrame = {
    import graft.llm.Similarity
    val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val n = emb.count()
    val planes = math.max(4, (math.log(math.max(n / 32.0, 2.0)) / math.log(2.0)).ceil.toInt)
    val degree = 12
    val old = emb.filter(col("vec_id") % 5 =!= 0)
    val slice = emb.filter(col("vec_id") % 5 === 0)
    val queries = emb.filter(col("vec_id") < 16)
    val beam = math.max(48, (n / 16).toInt)
    // three INDEPENDENT sub-DAGs of eager checkpoint jobs — the
    // build+append chain, the full rebuild (the parity baseline), and the
    // brute-force exact panel — previously ran strictly sequentially,
    // each a string of near-empty fixed-overhead jobs. Overlap them
    // (guide §2.6); every frame computed is the same, so the oracle
    // result is unchanged by construction.
    val (appended, rebuilt, exact) = graft.core.Par.three(
      () => {
        val base = Similarity.knnGraph(old, degree, rounds = 2, planes = planes, dims = 64)
        Similarity.knnGraphAppend(base, old, slice, degree, rounds = 2, planes = planes, dims = 64)
      },
      () => Similarity.knnGraph(emb, degree, rounds = 2, planes = planes, dims = 64),
      // referenced three times (two hitsOver panels + the top-1 projection)
      () => Similarity.cosineTopK(queries, emb, 10).localCheckpoint())
    def hitsOver(g: DataFrame): DataFrame = {
      val visited = Similarity
        .graphSearchScored(g, emb, queries, beam, steps = 4, planes, 64, probes = planes + 1)
      val approx = Similarity.rankTopK(visited.select(col("qid"), col("vec_id"), col("sim")), 10)
      exact
        .select(col("qid"), col("vec_id"))
        .join(approx.select(col("qid"), col("vec_id")), Seq("qid", "vec_id"), "left_semi")
        .groupBy(col("qid"))
        .agg(count(lit(1)).as("n_hit"))
    }
    // the two beam searches are independent too: each collects its index
    // in a few small jobs — overlapped they back-fill each other's
    // scheduling tails
    val (appendHits, rebuildHits) =
      graft.core.Par.two(() => hitsOver(appended), () => hitsOver(rebuilt))
    val covered = appended
      .groupBy(col("node"))
      .agg(count(lit(1)).as("deg"))
      .agg(((count(lit(1)) === lit(n)) && (max(col("deg")) <= lit(degree.toLong)))
        .as("covered_ok"))
    val parity = appendHits
      .agg(sum(col("n_hit")).as("ah"))
      .crossJoin(rebuildHits.agg(sum(col("n_hit")).as("rh")))
      // absolute navigability floor (mean recall ≥ 0.5 over 16×10) AND
      // rebuild parity within 0.15 mean (= 24 of 160 panel hits)
      .select((col("ah") >= lit(80L) && col("ah") >= col("rh") - lit(24L)).as("parity_ok"))
    val out = exact
      .filter(col("rk") === 1)
      .select(col("qid"), col("vec_id").as("top1_id"), col("sim").as("top1_sim"))
      .join(appendHits, Seq("qid"), "left")
      .select(
        col("qid"),
        col("top1_id"),
        col("top1_sim"),
        (coalesce(col("n_hit"), lit(0L)) >= 2).as("recall_ok"))
      .crossJoin(broadcast(covered))
      .crossJoin(broadcast(parity))
      .orderBy(col("qid"))
    freeze(s, out)
  }

  val q223Sql: String =
    """WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 16),
      |p AS (SELECT q.qid, e.vec_id, q.qe, e.embedding AS ve
      |      FROM q, embeddings e WHERE e.vec_id <> q.qid),
      |acc AS (
      |  SELECT qid, vec_id,
      |    sum(CAST(qe[i] AS DOUBLE) * ve[i]) AS dotp,
      |    sum(CAST(qe[i] AS DOUBLE) * qe[i]) AS qn,
      |    sum(CAST(ve[i] AS DOUBLE) * ve[i]) AS vn
      |  FROM p, LATERAL (SELECT unnest(range(1, 65)) AS i) t
      |  GROUP BY qid, vec_id),
      |sims AS (
      |  SELECT qid, vec_id, floor(dotp / (sqrt(qn) * sqrt(vn)) * 10000 + 0.5) / 10000 AS sim
      |  FROM acc),
      |best AS (
      |  SELECT qid, vec_id, sim,
      |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rk
      |  FROM sims)
      |SELECT qid, vec_id AS top1_id, sim AS top1_sim,
      |       true AS recall_ok, true AS covered_ok, true AS parity_ok
      |FROM best WHERE rk = 1 ORDER BY qid""".stripMargin

  // -- q222: dynamic partition overwrite -----------------------------------

  /** The nightly re-materialization op, pure SQL: the first three days'
    * stats are RECOMPUTED (doubled counts — late data arrived) and landed
    * with `INSERT OVERWRITE` under
    * `spark.sql.sources.partitionOverwriteMode=dynamic` — only the
    * partitions PRESENT in the incoming frame replace
    * ([[graft.sources.snap.SnapDynamicOverwriteWrite]]: tasks route rows
    * to partition dirs, the commit archives exactly the dirs the tasks
    * wrote). The result joins live vs `VERSION AS OF 1` per event type:
    * the doubled window shows through the live sums, the untouched days
    * keep their v1 contributions, and v1 itself still answers — the hash
    * proves partition-scoped replacement, not truncate-and-reload. At
    * 100 TB this is how a backfill repairs three days of a
    * thousand-day table: three directories of I/O, one delta-manifest
    * commit, full time travel.
    */
  def q222(s: SparkSession, d: String): DataFrame = {
    val (cat, _) = statsTable(s, d, "snapq222", Seq("day"))
    val ev = Tables.events(s, d)
    val micro = floor(col("value") * lit(1000000.0) + lit(0.5)).cast("long")
    val m = ev.agg(min(to_date(col("ts"))).as("m")).head().getDate(0).toLocalDate
    val cut = m.plusDays(2).toString
    ev.filter(to_date(col("ts")) <= to_date(lit(cut)))
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(
        (count(lit(1)) * lit(2L)).as("n"),
        (sum(micro) + count(lit(1))).as("sum_u"))
      .createOrReplaceTempView(s"${cat}_recomputed")
    withConfs(s, "spark.sql.sources.partitionOverwriteMode" -> "dynamic") {
      s.sql(s"""
        |INSERT OVERWRITE $cat.ev
        |SELECT event_type, n, sum_u, day FROM ${cat}_recomputed""".stripMargin)
    }
    s.sql(s"""
      |SELECT v2.event_type AS event_type,
      |       v2.n AS n_live, v1.n AS n_before,
      |       v2.u AS u_live, v1.u AS u_before
      |FROM (SELECT event_type, CAST(sum(n) AS BIGINT) AS n, CAST(sum(sum_u) AS BIGINT) AS u
      |      FROM $cat.ev GROUP BY event_type) v2
      |JOIN (SELECT event_type, CAST(sum(n) AS BIGINT) AS n, CAST(sum(sum_u) AS BIGINT) AS u
      |      FROM $cat.ev VERSION AS OF 1 GROUP BY event_type) v1
      |ON v2.event_type = v1.event_type
      |ORDER BY event_type""".stripMargin)
  }

  val q222Sql: String =
    """WITH s AS (
      |  SELECT CAST(ts AS DATE) AS day, event_type,
      |         CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS u
      |  FROM events),
      |b AS (SELECT min(day) AS m FROM s),
      |g AS (SELECT event_type,
      |        CAST(count(*) AS BIGINT) AS n,
      |        CAST(sum(u) AS BIGINT) AS su,
      |        CAST(sum(CASE WHEN day <= m + 2 THEN 1 ELSE 0 END) AS BIGINT) AS hit
      |      FROM s, b GROUP BY event_type)
      |SELECT event_type, n + hit AS n_live, n AS n_before, su + hit AS u_live, su AS u_before
      |FROM g ORDER BY event_type""".stripMargin

  // -- q225: cold-driver O(selected) catalog planning ----------------------

  /** The fresh-driver planning cost a 100 TB table actually charges,
    * hash-proved: the per-(day, event_type) stats table commits with the
    * round-11 header fields (`#nfiles`/`#pathcols`/`#partcanon`) and a
    * partition-index sidecar; the parsed-view cache is then CLEARED (the
    * fresh-driver simulation) and a day-windowed SQL aggregate plans —
    * schema from the header's leading lines, filter consumption from the
    * recorded canonical set, the file list from ONLY the selected index
    * groups. `cold_ok` pins the machinery: the full file list was NEVER
    * reconstructed ([[graft.sources.Snapshots.fullViewParses]] unchanged)
    * and the plan parsed under 25 % of the manifest's bytes. The row
    * values hash against the oracle recomputing the same window from raw
    * events. At a million files this is the difference between a cold
    * dashboard query parsing ~100 MB of manifest and parsing a few KB.
    */
  def q225(s: SparkSession, d: String): DataFrame = {
    val (cat, dir) = statsTable(s, d, "snapq225", Seq("day", "n"))
    val m = Tables
      .events(s, d)
      .agg(min(to_date(col("ts"))).as("m"))
      .head()
      .getDate(0)
      .toLocalDate
    val (lo, hi) = (m.plusDays(2).toString, m.plusDays(5).toString)
    val mfBytes = new java.io.File(
      new java.io.File(dir, "_graft_manifests"),
      f"v${1L}%010d.manifest").length()
    graft.sources.Snapshots.dropViewCache() // the fresh-driver simulation
    val parses0 = graft.sources.Snapshots.fullViewParseCount
    graft.sources.Snapshots.resetPlanManifestBytes()
    val out = s
      .sql(s"""
        |SELECT day, CAST(count(*) AS BIGINT) AS n_types,
        |       CAST(sum(n) AS BIGINT) AS n_events,
        |       CAST(sum(sum_u) AS BIGINT) AS sum_u
        |FROM $cat.ev
        |WHERE day BETWEEN DATE'$lo' AND DATE'$hi'
        |GROUP BY day ORDER BY day""".stripMargin)
      .collect()
    val bytes = graft.sources.Snapshots.lastPlanManifestBytes
    val coldOk = graft.sources.Snapshots.fullViewParseCount == parses0 &&
      bytes > 0L && bytes * 4 < mfBytes
    import s.implicits._
    out.toSeq
      .map(r => (r.getDate(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toDF("day", "n_types", "n_events", "sum_u")
      .withColumn("cold_ok", lit(coldOk))
      .orderBy(col("day"))
  }

  val q225Sql: String =
    """WITH per AS (
      |  SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n,
      |    CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS sum_u
      |  FROM events GROUP BY 1, 2),
      |b AS (SELECT min(day) AS m FROM per)
      |SELECT day, CAST(count(*) AS BIGINT) AS n_types,
      |  CAST(sum(n) AS BIGINT) AS n_events,
      |  CAST(sum(sum_u) AS BIGINT) AS sum_u,
      |  true AS cold_ok
      |FROM per, b
      |WHERE day BETWEEN m + 2 AND m + 5
      |GROUP BY day ORDER BY day""".stripMargin

  // -- q224: 3-D Hilbert layout key + box-query file pruning ---------------

  /** Multi-dimensional clustering, hash-proved end to end: orders rows map
    * to a 32³ grid over (custkey, order-day, orderkey) — the
    * (source, day, shard) shape real training tables cluster by — and
    * land laid out by the k-dim Hilbert key
    * ([[graft.functions.Layout.hilbertN]], Skilling's transpose construction
    * as a native codegen'd Expression), one file per aligned 8×8×8 curve
    * subcube (`hkey div 512` — Hilbert visits each octant subcube
    * completely before leaving it, so every file's (x,y,z) bounding box is
    * EXACTLY that cube). A 3-D box predicate then prunes through the
    * manifest's per-file stats: `pruned_ok` pins kept·2 ≤ total files, and
    * the hash pins value parity with the oracle's raw recomputation. The
    * `hsum` column additionally cross-checks the Hilbert expression itself
    * against a DuckDB-spliced order-3 lookup table, so the curve math is
    * oracle-verified, not just self-consistent. At 100 TB: a single-column
    * sort prunes one dimension of a box query and scans everything else;
    * this layout answers (customer × date × length) boxes from the ~2 % of
    * files whose cubes the box touches.
    */
  def q224(s: SparkSession, d: String): DataFrame = {
    import graft.functions.Layout
    val root = new org.apache.hadoop.fs.Path(
      System.getProperty("java.io.tmpdir"),
      s"graft_q224_${java.lang.Integer.toHexString(d.hashCode)}_${s.sparkContext.applicationId}")
    graft.core.Scratch.register(root.toString)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(root)) fs.delete(root, true)
    val dims = Tables
      .orders(s, d)
      .select(
        (col("o_custkey") % 32).cast("long").as("x"),
        (datediff(col("o_orderdate").cast("date"), to_date(lit("1970-01-01"))) % 32)
          .cast("long")
          .as("y"),
        (col("o_orderkey") % 32).cast("long").as("z"),
        floor(col("o_totalprice") * lit(100.0) + lit(0.5)).cast("long").as("u"))
      .withColumn("hkey", Layout.hilbertN(Seq(col("x"), col("y"), col("z")), 5))
      .withColumn("bucket", (col("hkey") / lit(512L)).cast("long"))
    graft.sources.Sources
      .writeParquet(dims.repartition(col("bucket")), root.toString, Seq("bucket"))
    val v1 = graft.sources.Snapshots.commit(s, root.toString, Seq("x", "y", "z"))
    val box = Seq(("x", "4", "9"), ("y", "10", "19"), ("z", "2", "13"))
    val prunedScan = graft.sources.Snapshots.readSnapshot(s, root.toString, v1, prune = box)
    // files the pruned read's snapshot scan opens
    val kept = prunedScan.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan match {
          case scan: graft.sources.snap.SnapV2BatchScan => scan.currentRels.size
          case _ => 0
        }
    }.sum
    val total = graft.sources.Snapshots.files(s, root.toString, v1).size
    prunedScan
      .filter(
        col("x").between(4, 9) && col("y").between(10, 19) && col("z").between(2, 13))
      .groupBy(col("x"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("u")).as("sum_u"),
        sum(Layout.hilbertN(Seq(col("x") % 8, col("y") % 8, col("z") % 8), 3)).as("hsum"))
      .withColumn("pruned_ok", lit(kept >= 1 && kept * 2 <= total))
      .orderBy(col("x"))
  }

  val q224Sql: String = {
    val table = graft.functions.Layout.hilbertTableN(3, 3).mkString("[", ", ", "]")
    s"""WITH s AS (
       |  SELECT o_custkey % 32 AS x,
       |    date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) % 32 AS y,
       |    o_orderkey % 32 AS z,
       |    CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS u
       |  FROM orders),
       |f AS (SELECT * FROM s
       |      WHERE x BETWEEN 4 AND 9 AND y BETWEEN 10 AND 19 AND z BETWEEN 2 AND 13)
       |SELECT x, CAST(count(*) AS BIGINT) AS n, CAST(sum(u) AS BIGINT) AS sum_u,
       |  CAST(sum(list_extract($table, CAST((x % 8) * 64 + (y % 8) * 8 + (z % 8) AS INTEGER) + 1)) AS BIGINT) AS hsum,
       |  true AS pruned_ok
       |FROM f GROUP BY x ORDER BY x""".stripMargin
  }

  // -- q226: merge-on-read DELETE (deletion vectors) ----------------------

  /** SQL DELETE priced as METADATA, not data: the catalog routes
    * `DELETE FROM` to
    * [[graft.sources.DeleteVectors.deleteWhere]] — matched row POSITIONS
    * land in hidden sidecars, the manifest delta re-states the touched
    * files' DV pointers, and not one data file is rewritten. The hash
    * proves all of it: per-type totals show the deleted types gone from
    * the live side while `VERSION AS OF 1` still reads them
    * (snapshot-isolated, time-travelable); `zero_rewrite` certifies the
    * live FILE LIST is byte-identical across BOTH deletes (the second
    * merges into the first's vectors); `dv_files` counts the pointers. At 100 TB this is the GDPR
    * erasure that costs the match scan plus kilobytes of sidecar instead
    * of rewriting every touched multi-GB file.
    */
  def q226(s: SparkSession, d: String): DataFrame = {
    val (cat, dir) = statsTable(s, d, "snapq226", Seq("day"))
    val files1 = graft.sources.Snapshots.files(s, dir).toSet
    s.sql(s"DELETE FROM $cat.ev WHERE event_type = 'click'")
    s.sql(s"DELETE FROM $cat.ev WHERE event_type = 'view'")
    val files3 = graft.sources.Snapshots.files(s, dir).toSet
    val nDv = graft.sources.Snapshots.dvByRel(graft.sources.Snapshots.manifestView(s, dir)).size
    s.sql(s"""
      |SELECT v1.event_type AS event_type,
      |       v1.n AS n_v1, coalesce(v2.n, CAST(0 AS BIGINT)) AS n_live,
      |       v1.u AS u_v1, coalesce(v2.u, CAST(0 AS BIGINT)) AS u_live
      |FROM (SELECT event_type, CAST(sum(n) AS BIGINT) AS n, CAST(sum(sum_u) AS BIGINT) AS u
      |      FROM $cat.ev VERSION AS OF 1 GROUP BY event_type) v1
      |LEFT JOIN (SELECT event_type, CAST(sum(n) AS BIGINT) AS n, CAST(sum(sum_u) AS BIGINT) AS u
      |           FROM $cat.ev GROUP BY event_type) v2
      |ON v1.event_type = v2.event_type
      |ORDER BY event_type""".stripMargin)
      .withColumn("zero_rewrite", lit(files3 == files1))
      .withColumn("dv_files_ok", lit(nDv > 0))
  }

  val q226Sql: String =
    """WITH s AS (
      |  SELECT event_type, CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS u
      |  FROM events)
      |SELECT event_type,
      |  CAST(count(*) AS BIGINT) AS n_v1,
      |  CAST(sum(CASE WHEN event_type NOT IN ('click', 'view') THEN 1 ELSE 0 END) AS BIGINT) AS n_live,
      |  CAST(sum(u) AS BIGINT) AS u_v1,
      |  CAST(sum(CASE WHEN event_type NOT IN ('click', 'view') THEN u ELSE 0 END) AS BIGINT) AS u_live,
      |  true AS zero_rewrite, true AS dv_files_ok
      |FROM s GROUP BY event_type ORDER BY event_type""".stripMargin

  // -- q227: aggregate pushdown stays SOUND under deletion vectors --------

  /** The stats-consumer soundness matrix of merge-on-read deletes, plan-
    * REQUIRED: after two OVERLAPPING MoR deletes (the second's positions
    * merge into the first's sidecars — counts must not double), a
    * metadata-only `COUNT(*)` still pushes to the manifest
    * (`GraftSnapAggScan`, zero file opens) because the DV commit recorded
    * the exact deleted count to subtract; `MIN`/`MAX` on the same table
    * push as the HYBRID aggregate (round 12): a recorded interval on a
    * DV'd file is only an upper bound, so the scan answers clean files
    * from the manifest and SCANS only the DV'd ones, folding the two —
    * here every file carries a vector (every day has clicks), so the
    * plan must say `hybrid` and its values must still hash-match the
    * oracle. A wrong subtraction, a double-counted overlap, or a MIN/MAX
    * that trusted a DV'd interval all break the hash; a MIN/MAX plan
    * without the hybrid marker breaks the `require` (q234 pins the
    * only-DV'd-files-open discipline physically).
    */
  def q227(s: SparkSession, d: String): DataFrame = {
    val (cat, dir) = statsTable(s, d, "snapq227", Seq("day"))
    val m = Tables.events(s, d).agg(min(to_date(col("ts"))).as("m")).head().getDate(0).toLocalDate
    val cut = m.plusDays(2).toString
    s.sql(s"DELETE FROM $cat.ev WHERE event_type = 'click' AND day <= DATE'$cut'")
    s.sql(s"DELETE FROM $cat.ev WHERE event_type = 'click'") // superset: overlap merges
    val cnt = s.sql(s"SELECT count(*) AS n_rows FROM $cat.ev")
    require(
      scanDescriptions(cnt).exists(d0 =>
        d0.contains("GraftSnapAggScan") && d0.contains("manifest-only, zero file opens")),
      "COUNT(*) must stay manifest-only under deletion vectors (exact subtraction)")
    val nRows = cnt.head().getLong(0)
    val mm = s.sql(s"SELECT min(n) AS min_n, max(n) AS max_n FROM $cat.ev")
    require(
      scanDescriptions(mm).exists(d0 =>
        d0.contains("GraftSnapAggScan") && d0.contains("hybrid:")),
      "MIN/MAX on a DV'd table must push as the hybrid aggregate (DV'd files scanned, folded)")
    val row = mm.head()
    s.sql(s"""
      |SELECT CAST(${nRows} AS BIGINT) AS n_rows,
      |       CAST(${row.getLong(0)} AS BIGINT) AS min_n,
      |       CAST(${row.getLong(1)} AS BIGINT) AS max_n""".stripMargin)
  }

  val q227Sql: String =
    """WITH per AS (
      |  SELECT CAST(ts AS DATE) AS day, event_type, CAST(count(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1, 2)
      |SELECT
      |  (SELECT CAST(count(*) AS BIGINT) FROM per WHERE event_type <> 'click') AS n_rows,
      |  (SELECT min(n) FROM per WHERE event_type <> 'click') AS min_n,
      |  (SELECT max(n) FROM per WHERE event_type <> 'click') AS max_n""".stripMargin

  // -- q228: SQL UPDATE over deletion vectors (no resurrection) ----------

  /** The stacked-DML hazard, hash-proved: a MoR delete leaves deleted rows
    * physically PRESENT in the data files; the SQL UPDATE that follows
    * scans every file holding a match — if its row-level scan read the
    * raw bytes, already-deleted rows would match again and their new
    * images would RESURRECT them. The row-level reader subtracts each
    * scanned file's DV ([[graft.sources.snap.SnapRowLevelScan]] → the
    * position-skipping reader), and the UPDATE's own positions merge into
    * the same vectors: clicks stay gone, views double. `VERSION AS OF 1`
    * still reads the original world.
    */
  def q228(s: SparkSession, d: String): DataFrame = {
    val (cat, _) = statsTable(s, d, "snapq228", Seq("day"))
    s.sql(s"DELETE FROM $cat.ev WHERE event_type = 'click'")
    s.sql(s"UPDATE $cat.ev SET n = n * 2 WHERE event_type = 'view'")
    s.sql(s"""
      |SELECT v1.event_type AS event_type,
      |       v1.n AS n_v1, coalesce(v2.n, CAST(0 AS BIGINT)) AS n_live
      |FROM (SELECT event_type, CAST(sum(n) AS BIGINT) AS n
      |      FROM $cat.ev VERSION AS OF 1 GROUP BY event_type) v1
      |LEFT JOIN (SELECT event_type, CAST(sum(n) AS BIGINT) AS n
      |           FROM $cat.ev GROUP BY event_type) v2
      |ON v1.event_type = v2.event_type
      |ORDER BY event_type""".stripMargin)
  }

  val q228Sql: String =
    """SELECT event_type,
      |  CAST(count(*) AS BIGINT) AS n_v1,
      |  CAST(CASE WHEN event_type = 'click' THEN 0
      |            WHEN event_type = 'view' THEN 2 * count(*)
      |            ELSE count(*) END AS BIGINT) AS n_live
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // -- q229: precise delete CDC from deletion vectors ---------------------

  /** `cat.t.changes` under merge-on-read deletes: a DV commit changes no
    * file, yet the feed must emit exactly the NEWLY-dead rows — the
    * planner diffs each restated file's old and new position sets
    * ([[graft.sources.Snapshots.dvChangedRels]]) and one bounded task per
    * file streams just those ordinals as `delete` rows (no multiset
    * cancellation, no shuffle). Two deletes prove PRECISION: v2 kills
    * clicks through the cutoff, v3's superset predicate must emit ONLY
    * the remaining clicks — re-emitting v2's positions (the naive "read
    * the new DV" bug) breaks the hash.
    */
  def q229(s: SparkSession, d: String): DataFrame = {
    val (cat, _) = statsTable(s, d, "snapq229", Seq("day"))
    val m = Tables.events(s, d).agg(min(to_date(col("ts"))).as("m")).head().getDate(0).toLocalDate
    val cut = m.plusDays(2).toString
    s.sql(s"DELETE FROM $cat.ev WHERE event_type = 'click' AND day <= DATE'$cut'")
    s.sql(s"DELETE FROM $cat.ev WHERE event_type = 'click'")
    s.sql(s"""
      |SELECT _commit_version AS v, _change_type AS change,
      |       CAST(count(*) AS BIGINT) AS n_changes, CAST(sum(n) AS BIGINT) AS sum_n
      |FROM $cat.ev.changes
      |WHERE _commit_version > 1
      |GROUP BY _commit_version, _change_type
      |ORDER BY v, change""".stripMargin)
  }

  val q229Sql: String =
    """WITH g AS (
      |  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
      |  FROM events WHERE event_type = 'click' GROUP BY 1),
      |b AS (SELECT min(day) AS m FROM (SELECT CAST(ts AS DATE) AS day FROM events))
      |SELECT CAST(2 AS BIGINT) AS v, 'delete' AS change,
      |       CAST(count(*) AS BIGINT) AS n_changes, CAST(sum(n) AS BIGINT) AS sum_n
      |FROM g, b WHERE day <= m + 2
      |UNION ALL
      |SELECT CAST(3 AS BIGINT), 'delete', CAST(count(*) AS BIGINT), CAST(sum(n) AS BIGINT)
      |FROM g, b WHERE day > m + 2
      |ORDER BY v, change""".stripMargin

  // -- q230: CALL dv_materialize — folding the vectors back in ------------

  /** The compaction that ENDS the merge-on-read era, SQL-only: `CALL
    * cat.dv_materialize(table => 'ev')` rewrites each DV'd file without
    * its deleted positions and commits — after it, pointers are gone, a
    * RAW directory read agrees with the snapshot read (the deleted rows
    * are physically absent, not just subtracted), and the rewritten
    * count is exactly the number of day files that held a click (each
    * day is one file). The hash pins totals, the per-file rewrite count,
    * and both physical-agreement proofs.
    */
  def q230(s: SparkSession, d: String): DataFrame = {
    val (cat, dir) = statsTable(s, d, "snapq230", Seq("day"))
    s.sql(s"DELETE FROM $cat.ev WHERE event_type = 'click'")
    val rewritten =
      s.sql(s"CALL $cat.dv_materialize(table => 'ev')").head().getLong(0)
    val nDv = graft.sources.Snapshots.dvByRel(graft.sources.Snapshots.manifestView(s, dir)).size
    val rawAgrees =
      s.read.parquet(dir).count() == graft.sources.Snapshots.readSnapshot(s, dir).count()
    s.sql(s"""
      |SELECT event_type, CAST(sum(n) AS BIGINT) AS n_live, CAST(count(*) AS BIGINT) AS n_groups
      |FROM $cat.ev GROUP BY event_type ORDER BY event_type""".stripMargin)
      .withColumn("n_rewritten", lit(rewritten))
      .withColumn("dv_gone", lit(nDv == 0))
      .withColumn("raw_agrees", lit(rawAgrees))
  }

  val q230Sql: String =
    """WITH s AS (SELECT CAST(ts AS DATE) AS day, event_type FROM events),
      |rw AS (SELECT CAST(count(DISTINCT day) AS BIGINT) AS n
      |       FROM s WHERE event_type = 'click')
      |SELECT event_type,
      |  CAST(count(*) AS BIGINT) AS n_live,
      |  CAST(count(DISTINCT day) AS BIGINT) AS n_groups,
      |  (SELECT n FROM rw) AS n_rewritten,
      |  true AS dv_gone, true AS raw_agrees
      |FROM s WHERE event_type <> 'click'
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // -- q231: merge-on-read SQL UPDATE (delta-based row-level op) ----------

  /** `UPDATE` priced like the data it CHANGES, not the files it touches:
    * the catalog plans Spark's delta-based row-level operation ([[graft.sources.snap
    * .SnapDeltaRowLevelOperation]], `SupportsDelta` with rowId
    * `(_file, _pos)`) — matched rows' old images become deletion-vector
    * positions, their new images land in APPENDED files, and ONE manifest
    * commit covers both. The hash proves: view totals doubled live while
    * `VERSION AS OF 1` reads the original world; `originals_kept`
    * certifies every pre-update file is STILL LISTED live (nothing
    * rewritten or archived — a copy-on-write update would have replaced
    * every file holding a view row); `dv_files_ok` pins the vectors. At
    * 100 TB: updating 0.01 % of rows writes 0.01 % of the bytes.
    */
  def q231(s: SparkSession, d: String): DataFrame = {
    val (cat, dir) = statsTable(s, d, "snapq231", Seq("day"))
    val files1 = graft.sources.Snapshots.files(s, dir).toSet
    s.sql(s"UPDATE $cat.ev SET n = n * 2 WHERE event_type = 'view'")
    val files2 = graft.sources.Snapshots.files(s, dir).toSet
    val nDv = graft.sources.Snapshots.dvByRel(graft.sources.Snapshots.manifestView(s, dir)).size
    s.sql(s"""
      |SELECT v1.event_type AS event_type,
      |       v1.n AS n_v1, coalesce(v2.n, CAST(0 AS BIGINT)) AS n_live
      |FROM (SELECT event_type, CAST(sum(n) AS BIGINT) AS n
      |      FROM $cat.ev VERSION AS OF 1 GROUP BY event_type) v1
      |LEFT JOIN (SELECT event_type, CAST(sum(n) AS BIGINT) AS n
      |           FROM $cat.ev GROUP BY event_type) v2
      |ON v1.event_type = v2.event_type
      |ORDER BY event_type""".stripMargin)
      .withColumn("originals_kept", lit(files1.subsetOf(files2)))
      .withColumn("new_files_ok", lit((files2 -- files1).nonEmpty))
      .withColumn("dv_files_ok", lit(nDv > 0))
  }

  val q231Sql: String =
    """SELECT event_type,
      |  CAST(count(*) AS BIGINT) AS n_v1,
      |  CAST(CASE WHEN event_type = 'view' THEN 2 * count(*) ELSE count(*) END AS BIGINT) AS n_live,
      |  true AS originals_kept, true AS new_files_ok, true AS dv_files_ok
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // -- q232: merge-on-read SQL MERGE — update + delete + insert, one commit

  /** The full three-clause `MERGE` through the delta path: matched
    * deletes become vector positions, matched updates become
    * delete+insert pairs (`representUpdateAsDeleteAndInsert`), not-matched
    * inserts land in a brand-new partition directory routed by the row's
    * own day — all in ONE atomic version (`one_commit`), nothing
    * rewritten (`originals_kept`). This is the nightly CDC-apply shape at
    * 100 TB: the cost is the matched rows and the new rows, not the
    * files that hold them.
    */
  def q232(s: SparkSession, d: String): DataFrame = {
    val (cat, dir) = statsTable(s, d, "snapq232", Seq("day"))
    val files1 = graft.sources.Snapshots.files(s, dir).toSet
    val v1 = graft.sources.Snapshots.latestVersion(s, dir)
    val ev = Tables.events(s, d)
    val src = ev
      .filter(col("event_type").isin("click", "view"))
      .select(to_date(col("ts")).as("day"), col("event_type"))
      .distinct()
      .withColumn("op", when(col("event_type") === "click", lit("del")).otherwise(lit("upd")))
      .unionByName(s.sql(
        "SELECT DATE'1999-12-31' AS day, '__synthetic' AS event_type, 'ins' AS op"))
    src.createOrReplaceTempView(s"${cat}_msrc")
    s.sql(s"""
      |MERGE INTO $cat.ev t USING ${cat}_msrc s
      |ON t.day = s.day AND t.event_type = s.event_type
      |WHEN MATCHED AND s.op = 'del' THEN DELETE
      |WHEN MATCHED THEN UPDATE SET n = t.n * 3
      |WHEN NOT MATCHED THEN INSERT (day, event_type, n, sum_u)
      |  VALUES (s.day, s.event_type, CAST(7 AS BIGINT), CAST(42 AS BIGINT))""".stripMargin)
    val files2 = graft.sources.Snapshots.files(s, dir).toSet
    val v2 = graft.sources.Snapshots.latestVersion(s, dir)
    s.sql(s"""
      |SELECT event_type, CAST(sum(n) AS BIGINT) AS n_live
      |FROM $cat.ev GROUP BY event_type ORDER BY event_type""".stripMargin)
      .withColumn("originals_kept", lit(files1.subsetOf(files2)))
      .withColumn("one_commit", lit(v2 == v1 + 1L))
  }

  val q232Sql: String =
    """WITH g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
      |           FROM events GROUP BY event_type)
      |SELECT event_type,
      |  CAST(CASE WHEN event_type = 'view' THEN 3 * n ELSE n END AS BIGINT) AS n_live,
      |  true AS originals_kept, true AS one_commit
      |FROM g WHERE event_type <> 'click'
      |UNION ALL
      |SELECT '__synthetic', CAST(7 AS BIGINT), true, true
      |ORDER BY event_type""".stripMargin

  // -- q238: streaming CDC-apply (upserts + deletes) ≡ batch MERGE ---------

  /** The COMPLETE streaming CDC sink: a Debezium-style (op, key, image)
    * feed — deletes, updates and inserts interleaved — applies through
    * [[graft.streaming.Streaming.applyChangesMorSink]] in two real
    * epochs, each landing as ONE merge-on-read commit: delete rows kill
    * their keys as vector positions (no appended image — physically
    * asserted), update/insert rows append. The twin table takes the SAME
    * feed as one three-clause SQL `MERGE` (`WHEN MATCHED AND op='d' THEN
    * DELETE`), and `stream_eq_batch` pins full-content equality both
    * ways. This closes the CDC loop q235 opened: not just upserts — the
    * whole change-op algebra at epoch prices, with `originals_kept`
    * certifying that two epochs of deletes+updates rewrote NOTHING.
    */
  def q238(s: SparkSession, d: String): DataFrame = {
    // independent scratch tables — overlapped setup (guide §2.6), as q235
    val ((catA, dirA), (catB, _)) = graft.core.Par.two(
      () => statsTable(s, d, "snapq238a", Seq("day")),
      () => statsTable(s, d, "snapq238b", Seq("day")))
    val ev = Tables.events(s, d)
    val micro = floor(col("value") * lit(1000000.0) + lit(0.5)).cast("long")
    val perDay = ev.groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).cast("long").as("n"), sum(micro).as("sum_u"))
    val changes = perDay
      .filter(col("event_type") === "click")
      .select(lit("d").as("op"), col("day"), col("event_type"), col("n"), col("sum_u"))
      .unionByName(perDay
        .filter(col("event_type") === "view")
        .select(lit("u").as("op"), col("day"), col("event_type"),
          (col("n") * 3).as("n"), col("sum_u")))
      .unionByName(s.sql(
        "SELECT 'i' AS op, DATE'1999-12-31' AS day, '__synthetic' AS event_type, " +
          "CAST(7 AS BIGINT) AS n, CAST(42 AS BIGINT) AS sum_u"))
    val base = new org.apache.hadoop.fs.Path(dirA).getParent
    val fs = base.getFileSystem(s.sparkContext.hadoopConfiguration)
    val inDir = new org.apache.hadoop.fs.Path(base, "cdc_in")
    fs.mkdirs(inDir)
    // overlapped epoch staging (disjoint tmp dirs, distinct names), as q235
    graft.core.Par.all(Seq(0, 1).map(parity => () => {
      val tmp = new org.apache.hadoop.fs.Path(base, s".cdc_stage_$parity")
      changes
        .filter(dayofmonth(col("day")) % 2 === parity)
        .coalesce(1)
        .write
        .mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(tmp.toString)
      val part = fs.listStatus(tmp).map(_.getPath).find(_.getName.endsWith(".parquet")).get
      require(
        fs.rename(part, new org.apache.hadoop.fs.Path(inDir, f"cdc-$parity%02d.parquet")),
        s"staging epoch $parity failed to land") // a silent false would drop a whole epoch
      fs.delete(tmp, true)
    }): _*)
    val filesBefore = graft.sources.Snapshots.files(s, dirA).toSet
    val srcSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("op", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("day", org.apache.spark.sql.types.DateType),
      org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("sum_u", org.apache.spark.sql.types.LongType)))
    val q = s.readStream
      .schema(srcSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(inDir.toString)
      .writeStream
      .option("checkpointLocation", new org.apache.hadoop.fs.Path(base, "cdc_ck").toString)
      .foreachBatch(graft.streaming.Streaming
        .applyChangesMorSink(dirA, Seq("day", "event_type"), opCol = "op", tag = "q238"))
      .start()
    try q.processAllAvailable()
    finally q.stop()
    val filesAfter = graft.sources.Snapshots.files(s, dirA).toSet
    changes.createOrReplaceTempView(s"${catB}_csrc")
    s.sql(s"""
      |MERGE INTO $catB.ev t USING ${catB}_csrc s
      |ON t.day = s.day AND t.event_type = s.event_type
      |WHEN MATCHED AND s.op = 'd' THEN DELETE
      |WHEN MATCHED THEN UPDATE SET n = s.n, sum_u = s.sum_u
      |WHEN NOT MATCHED AND s.op <> 'd' THEN INSERT (day, event_type, n, sum_u)
      |  VALUES (s.day, s.event_type, s.n, s.sum_u)""".stripMargin)
    val a = s.sql(s"SELECT day, event_type, n, sum_u FROM $catA.ev")
    val b = s.sql(s"SELECT day, event_type, n, sum_u FROM $catB.ev")
    // one action instead of two — same boolean (see q235)
    val streamEqBatch = a.exceptAll(b).union(b.exceptAll(a)).isEmpty
    s.sql(s"""
      |SELECT event_type, CAST(sum(n) AS BIGINT) AS n_live, CAST(count(*) AS BIGINT) AS n_groups
      |FROM $catA.ev GROUP BY event_type ORDER BY event_type""".stripMargin)
      .withColumn("stream_eq_batch", lit(streamEqBatch))
      .withColumn("originals_kept", lit(filesBefore.subsetOf(filesAfter)))
  }

  val q238Sql: String =
    """WITH g AS (SELECT CAST(ts AS DATE) AS day, event_type, CAST(count(*) AS BIGINT) AS n
      |           FROM events GROUP BY 1, 2),
      |live AS (
      |  SELECT day, event_type, CASE WHEN event_type = 'view' THEN 3 * n ELSE n END AS n
      |  FROM g WHERE event_type <> 'click'
      |  UNION ALL SELECT DATE '1999-12-31', '__synthetic', 7)
      |SELECT event_type, CAST(sum(n) AS BIGINT) AS n_live, CAST(count(*) AS BIGINT) AS n_groups,
      |  true AS stream_eq_batch, true AS originals_kept
      |FROM live GROUP BY event_type ORDER BY event_type""".stripMargin

  // -- q237: manifest NDV sketches — approx COUNT(DISTINCT), zero opens ----

  /** Per-(file, column) HyperLogLog register sidecars ride the bloom
    * discipline ([[graft.sources.ValueIndex.approxCountDistinct]]): every
    * commit builds 256-byte register sketches for its NEW files only, and
    * a table-level approximate `COUNT(DISTINCT user_id)` merges them by
    * elementwise max — driver metadata I/O, ZERO data-file opens, at any
    * table size. Three proofs ride one hash: the table is built in TWO
    * commits with interleaved halves, so the estimate matching the
    * oracle's SINGLE-pass recomputation over all of events IS the
    * merge-invariance law; the sketch scheme is deliberately portable
    * (the q48 md5-bucket/hex-rho/integer-sum HLL), so DuckDB reproduces
    * the estimate BIT-FOR-BIT — `ndv_est` is value-compared, not
    * tolerance-checked; and a data file is corrupted before the estimate
    * runs — the zero-opens canary. `ndv_exact` (computed pre-corruption)
    * pins the true cardinality next to it. This is the join-size
    * estimation surface: the same merged registers feed the DSv2 scan's
    * per-column `distinctCount`.
    */
  def q237(s: SparkSession, d: String): DataFrame = {
    val base = new org.apache.hadoop.fs.Path(
      System.getProperty("java.io.tmpdir"),
      s"graft_snapq237_${java.lang.Integer.toHexString(d.hashCode)}_${s.sparkContext.applicationId}")
    graft.core.Scratch.register(base.toString)
    val fs = base.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(base)) fs.delete(base, true)
    val dir = new org.apache.hadoop.fs.Path(base, "ev").toString
    val ev = Tables
      .events(s, d)
      .select(to_date(col("ts")).as("day"), col("user_id"), col("event_id"))
    // two commits with interleaved halves: the merged estimate must equal
    // a single pass over everything
    graft.sources.Sources.writeParquet(
      ev.filter(col("event_id") % 2 === 0).repartition(col("day")),
      dir,
      Seq("day"))
    graft.sources.Snapshots.commit(s, dir, Seq("day"), Seq("user_id"))
    ev.filter(col("event_id") % 2 === 1)
      .repartition(col("day"))
      .write
      .mode(org.apache.spark.sql.SaveMode.Append)
      .partitionBy("day")
      .parquet(dir)
    graft.sources.Snapshots.commit(s, dir, Seq("day"), Seq("user_id"))
    val exact = graft.sources.Snapshots
      .readSnapshot(s, dir)
      .agg(countDistinct(col("user_id")).as("n"))
      .head()
      .getLong(0)
    // zero-opens canary: junk one data file; the estimate must not notice
    val victim = graft.sources.Snapshots.files(s, dir).head
    corruptFile(s, fs, new org.apache.hadoop.fs.Path(dir, victim))
    val est = graft.sources.ValueIndex
      .approxCountDistinct(s, dir, "user_id")
      .getOrElse(sys.error("NDV sidecars missing — the commit discipline did not build them"))
    val estR4 = math.floor(est * 10000.0 + 0.5) / 10000.0
    s.sql(s"""
      |SELECT CAST($estR4 AS DOUBLE) AS ndv_est,
      |       CAST($exact AS BIGINT) AS ndv_exact""".stripMargin)
      .withColumn("sidecars_only", lit(true))
      .withColumn("sane", lit(math.abs(est - exact.toDouble) / math.max(exact.toDouble, 1.0) < 0.25))
  }

  val q237Sql: String = {
    val alphaM2 = (0.7213 / (1 + 1.079 / 256) * 256 * 256).toString
    val hexE = "md5(CAST(user_id AS VARCHAR))"
    val raw = s"$alphaM2 / (CAST(sp + (256 - nz) * 9007199254740992 AS DOUBLE) / 9007199254740992.0)"
    s"""WITH rows_h AS (
       |  SELECT CAST(('0x' || substr($hexE, 14, 2)) AS BIGINT) AS bucket,
       |    ltrim(substr($hexE, 1, 13), '0') AS stripped
       |  FROM events WHERE user_id IS NOT NULL),
       |regs AS (
       |  SELECT bucket,
       |    max(CASE WHEN length(stripped) = 0 THEN 53
       |        ELSE 4 * (13 - length(stripped))
       |          + (4 - (CASE WHEN substr(stripped, 1, 1) IN ('8','9','a','b','c','d','e','f') THEN 4
       |                       WHEN substr(stripped, 1, 1) IN ('4','5','6','7') THEN 3
       |                       WHEN substr(stripped, 1, 1) IN ('2','3') THEN 2
       |                       ELSE 1 END)) + 1 END) AS r
       |  FROM rows_h GROUP BY bucket),
       |grp AS (
       |  SELECT count(*) AS nz, sum(CAST(power(2.0, 53 - r) AS BIGINT)) AS sp
       |  FROM regs)
       |SELECT
       |  ${graft.core.Det.sqlR(s"CASE WHEN $raw <= 640.0 AND nz < 256 THEN 256.0 * ln(256.0 / (256 - nz)) ELSE $raw END", 4)} AS ndv_est,
       |  (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM events) AS ndv_exact,
       |  true AS sidecars_only, true AS sane
       |FROM grp""".stripMargin
  }

  // -- q236: zero-copy branch/tag refs -------------------------------------

  /** The zero-copy fork: `CALL create_ref` pins a version under a name in
    * O(1) metadata — against a 100 TB table it writes ten bytes, copies
    * nothing (`zero_copy` hashes the live file set across the CALL), and
    * `VERSION AS OF 'prelaunch'` reads the pinned world from any SQL
    * client. The lifecycle then attacks the pin from every side: a MoR
    * DELETE kills the clicks, an INSERT adds a synthetic row, and an
    * aggressive `CALL vacuum(keep_last => 1)` expires all unpinned
    * history — the branch read in the FINAL SELECT happens after all of
    * it, so the hash match against the oracle's full-events recomputation
    * IS the retention proof (without the ref, vacuum would have reaped
    * the pre-delete state). `ref_ok` pins the `cat.ev.refs` metadata
    * table. Refs are immutable tags — the divergent-write fork remains
    * `CALL clone` — and dev/test forks of production training tables stop
    * costing a table copy.
    */
  def q236(s: SparkSession, d: String): DataFrame = {
    val (cat, dir) = statsTable(s, d, "snapq236", Seq("day"))
    val filesBefore = graft.sources.Snapshots.files(s, dir).toSet
    val pinnedV =
      s.sql(s"CALL $cat.create_ref(table => 'ev', name => 'prelaunch')").head().getLong(0)
    val zeroCopy = graft.sources.Snapshots.files(s, dir).toSet == filesBefore
    s.sql(s"DELETE FROM $cat.ev WHERE event_type = 'click'") // v2
    s.sql(s"""
      |INSERT INTO $cat.ev
      |VALUES ('__synthetic', CAST(7 AS BIGINT), CAST(42 AS BIGINT), DATE'1999-12-31')""".stripMargin) // v3
    s.sql(s"CALL $cat.vacuum(table => 'ev', keep_last => 1)")
    val refRows = s
      .sql(s"SELECT name, version FROM $cat.ev.refs")
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .toSeq
    val refOk = refRows == Seq(("prelaunch", pinnedV))
    s.sql(s"""
      |SELECT b.event_type AS event_type,
      |       b.n AS n_branch, coalesce(l.n, CAST(0 AS BIGINT)) AS n_live,
      |       b.u AS u_branch, coalesce(l.u, CAST(0 AS BIGINT)) AS u_live
      |FROM (SELECT event_type, CAST(sum(n) AS BIGINT) AS n, CAST(sum(sum_u) AS BIGINT) AS u
      |      FROM $cat.ev VERSION AS OF 'prelaunch' GROUP BY event_type) b
      |LEFT JOIN (SELECT event_type, CAST(sum(n) AS BIGINT) AS n, CAST(sum(sum_u) AS BIGINT) AS u
      |           FROM $cat.ev GROUP BY event_type) l
      |ON b.event_type = l.event_type
      |ORDER BY event_type""".stripMargin)
      .withColumn("zero_copy", lit(zeroCopy))
      .withColumn("ref_ok", lit(refOk))
  }

  val q236Sql: String =
    """WITH s AS (
      |  SELECT event_type, CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS u
      |  FROM events)
      |SELECT event_type,
      |  CAST(count(*) AS BIGINT) AS n_branch,
      |  CAST(sum(CASE WHEN event_type <> 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_live,
      |  CAST(sum(u) AS BIGINT) AS u_branch,
      |  CAST(sum(CASE WHEN event_type <> 'click' THEN u ELSE 0 END) AS BIGINT) AS u_live,
      |  true AS zero_copy, true AS ref_ok
      |FROM s GROUP BY event_type ORDER BY event_type""".stripMargin

  // -- q235: streaming merge-on-read upsert ≡ batch MERGE ------------------

  /** Streaming upserts priced like the batch MoR DML — the round-11 gap
    * (foreachBatch upserts paid copy-on-write partition rewrites every
    * epoch) closed by [[graft.streaming.Streaming.upsertMorSink]]: a REAL
    * two-epoch file stream applies view-tripling updates plus a synthetic
    * insert, each epoch landing as deletion vectors + appended files in
    * ONE commit. The twin table takes the SAME changes through SQL
    * `MERGE` (the `SupportsDelta` path), and the hash pins the per-type
    * totals while `stream_eq_batch` certifies full-content equality both
    * ways. `originals_kept` proves no epoch rewrote a file,
    * `epochs_committed` pins one version per epoch, `dv_files_ok` the
    * vectors. At 100 TB this is the continuously-maintained training
    * table: a day of streaming CDC costs the changed rows, not the
    * touched partitions, and a re-run of either path converges to the
    * same bytes.
    */
  def q235(s: SparkSession, d: String): DataFrame = {
    // the stream-side and batch-twin tables are independent scratch
    // snapshots (distinct roots, distinct locks) — build them overlapped
    // (guide §2.6) instead of paying two serial write+commit tails
    val ((catA, dirA), (catB, _)) = graft.core.Par.two(
      () => statsTable(s, d, "snapq235a", Seq("day")),
      () => statsTable(s, d, "snapq235b", Seq("day")))
    val ev = Tables.events(s, d)
    val micro = floor(col("value") * lit(1000000.0) + lit(0.5)).cast("long")
    val updates = ev
      .filter(col("event_type") === "view")
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg((count(lit(1)) * 3).cast("long").as("n"), sum(micro).as("sum_u"))
    val inserts = s.sql(
      "SELECT DATE'1999-12-31' AS day, '__synthetic' AS event_type, " +
        "CAST(7 AS BIGINT) AS n, CAST(42 AS BIGINT) AS sum_u")
    val src = updates.unionByName(inserts)
    // STREAM side: two epochs, split deterministically by day parity
    // (disjoint keys — epoch order cannot matter), delivered through a
    // real file-source stream with one file per trigger
    val base = new org.apache.hadoop.fs.Path(dirA).getParent
    val fs = base.getFileSystem(s.sparkContext.hadoopConfiguration)
    val inDir = new org.apache.hadoop.fs.Path(base, "upsert_in")
    fs.mkdirs(inDir)
    // the two epoch staging writes are independent (disjoint tmp dirs,
    // distinct target names) — overlap the two events-scan+write jobs
    graft.core.Par.all(Seq(0, 1).map(parity => () => {
      val tmp = new org.apache.hadoop.fs.Path(base, s".upsert_stage_$parity")
      src
        .filter(dayofmonth(col("day")) % 2 === parity)
        .coalesce(1)
        .write
        .mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(tmp.toString)
      val part = fs.listStatus(tmp).map(_.getPath).find(_.getName.endsWith(".parquet")).get
      require(
        fs.rename(part, new org.apache.hadoop.fs.Path(inDir, f"upsert-$parity%02d.parquet")),
        s"staging epoch $parity failed to land") // a silent false would drop a whole epoch
      fs.delete(tmp, true)
    }): _*)
    val filesBefore = graft.sources.Snapshots.files(s, dirA).toSet
    val vBefore = graft.sources.Snapshots.latestVersion(s, dirA)
    val srcSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("day", org.apache.spark.sql.types.DateType),
      org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("sum_u", org.apache.spark.sql.types.LongType)))
    val q = s.readStream
      .schema(srcSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(inDir.toString)
      .writeStream
      .option("checkpointLocation", new org.apache.hadoop.fs.Path(base, "upsert_ck").toString)
      .foreachBatch(graft.streaming.Streaming
        .upsertMorSink(dirA, Seq("day", "event_type"), tag = "q235"))
      .start()
    try q.processAllAvailable()
    finally q.stop()
    val filesAfter = graft.sources.Snapshots.files(s, dirA).toSet
    val vAfter = graft.sources.Snapshots.latestVersion(s, dirA)
    val nDv = graft.sources.Snapshots.dvByRel(graft.sources.Snapshots.manifestView(s, dirA)).size
    // BATCH twin: the same changes as ONE SQL MERGE through the delta path
    src.createOrReplaceTempView(s"${catB}_usrc")
    s.sql(s"""
      |MERGE INTO $catB.ev t USING ${catB}_usrc s
      |ON t.day = s.day AND t.event_type = s.event_type
      |WHEN MATCHED THEN UPDATE SET n = s.n, sum_u = s.sum_u
      |WHEN NOT MATCHED THEN INSERT (day, event_type, n, sum_u)
      |  VALUES (s.day, s.event_type, s.n, s.sum_u)""".stripMargin)
    val a = s.sql(s"SELECT day, event_type, n, sum_u FROM $catA.ev")
    val b = s.sql(s"SELECT day, event_type, n, sum_u FROM $catB.ev")
    // one action instead of two: (A∖B) ∪ (B∖A) is empty iff both
    // differences are — same boolean, half the fixed-overhead jobs
    val streamEqBatch = a.exceptAll(b).union(b.exceptAll(a)).isEmpty
    s.sql(s"""
      |SELECT event_type, CAST(sum(n) AS BIGINT) AS n_live, CAST(sum(sum_u) AS BIGINT) AS u_live
      |FROM $catA.ev GROUP BY event_type ORDER BY event_type""".stripMargin)
      .withColumn("stream_eq_batch", lit(streamEqBatch))
      .withColumn("originals_kept", lit(filesBefore.subsetOf(filesAfter)))
      .withColumn("epochs_committed", lit(vAfter - vBefore))
      .withColumn("dv_files_ok", lit(nDv > 0))
  }

  val q235Sql: String =
    """WITH s AS (
      |  SELECT event_type, CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS u
      |  FROM events),
      |g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n, CAST(sum(u) AS BIGINT) AS us
      |      FROM s GROUP BY event_type)
      |SELECT event_type,
      |  CAST(CASE WHEN event_type = 'view' THEN 3 * n ELSE n END AS BIGINT) AS n_live,
      |  us AS u_live,
      |  true AS stream_eq_batch, true AS originals_kept,
      |  CAST(2 AS BIGINT) AS epochs_committed, true AS dv_files_ok
      |FROM g
      |UNION ALL
      |SELECT '__synthetic', CAST(7 AS BIGINT), CAST(42 AS BIGINT), true, true, CAST(2 AS BIGINT), true
      |ORDER BY event_type""".stripMargin

  // -- q244: streaming CDC replayed onto a BRANCH, compacted, adopted ------

  /** SURVEY §2.12's "replay a day's CDC onto a fork" story, now real
    * end-to-end under streaming: the q238 Debezium-style feed (deletes,
    * updates, inserts) streams through
    * [[graft.streaming.Streaming.applyChangesMorSink]] with a `branch`
    * target — each epoch lands as ONE branch-local MoR version
    * (exactly-once per (branch, tag) via the branch-dir epoch marker),
    * and the LIVE line never moves during the whole replay
    * (`live_intact`: version pinned AND the clicks the feed deletes are
    * still live). `CALL compact_branch` then folds the replay's
    * epoch fragments (including a DV'd branch append) to ~one clean file
    * per partition value (`compacted_ok` pins files_after < files_before)
    * so `CALL fast_forward` adopts a SIZED file set — never N epoch
    * fragments — and the final per-type totals hash against the oracle.
    * At 100 TB this closes the staged-CDC gap: the fork validates a
    * day's replay at epoch prices, compaction is branch-scoped, adoption
    * is metadata-cost.
    */
  def q244(s: SparkSession, d: String): DataFrame = {
    val (cat, dir) = statsTable(s, d, "snapq244", Seq("day"))
    val v1 = graft.sources.Snapshots.latestVersion(s, dir)
    s.sql(s"CALL $cat.create_branch(table => 'ev', name => 'replay')")
    val ev = Tables.events(s, d)
    val micro = floor(col("value") * lit(1000000.0) + lit(0.5)).cast("long")
    val perDay = ev.groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).cast("long").as("n"), sum(micro).as("sum_u"))
    // epoch 0: one synthetic insert; epoch 1: the full change algebra PLUS
    // a second synthetic key on the SAME day — the two epochs land two
    // files in one partition dir, exactly the small-files accumulation
    // compact_branch exists for (keys are disjoint, so epoch order can't
    // change the result)
    val epoch0 = s.sql(
      "SELECT 'i' AS op, DATE'1999-12-31' AS day, '__synth_a' AS event_type, " +
        "CAST(7 AS BIGINT) AS n, CAST(42 AS BIGINT) AS sum_u")
    val epoch1 = perDay
      .filter(col("event_type") === "click")
      .select(lit("d").as("op"), col("day"), col("event_type"), col("n"), col("sum_u"))
      .unionByName(perDay
        .filter(col("event_type") === "view")
        .select(lit("u").as("op"), col("day"), col("event_type"),
          (col("n") * 3).as("n"), col("sum_u")))
      .unionByName(s.sql(
        "SELECT 'i' AS op, DATE'1999-12-31' AS day, '__synth_b' AS event_type, " +
          "CAST(3 AS BIGINT) AS n, CAST(13 AS BIGINT) AS sum_u"))
    val base = new org.apache.hadoop.fs.Path(dir).getParent
    val fs = base.getFileSystem(s.sparkContext.hadoopConfiguration)
    val inDir = new org.apache.hadoop.fs.Path(base, "cdc_in")
    fs.mkdirs(inDir)
    Seq(0 -> epoch0, 1 -> epoch1).foreach { case (i, batch) =>
      val tmp = new org.apache.hadoop.fs.Path(base, s".cdc_stage_$i")
      batch
        .coalesce(1)
        .write
        .mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(tmp.toString)
      val part = fs.listStatus(tmp).map(_.getPath).find(_.getName.endsWith(".parquet")).get
      require(
        fs.rename(part, new org.apache.hadoop.fs.Path(inDir, f"cdc-$i%02d.parquet")),
        s"staging epoch $i failed to land")
      fs.delete(tmp, true)
    }
    val srcSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("op", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("day", org.apache.spark.sql.types.DateType),
      org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("sum_u", org.apache.spark.sql.types.LongType)))
    val q = s.readStream
      .schema(srcSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(inDir.toString)
      .writeStream
      .option("checkpointLocation", new org.apache.hadoop.fs.Path(base, "cdc_ck").toString)
      .foreachBatch(graft.streaming.Streaming.applyChangesMorSink(
        dir, Seq("day", "event_type"), opCol = "op", tag = "q244", branch = "replay"))
      .start()
    try q.processAllAvailable()
    finally q.stop()
    // the WHOLE replay left the live line untouched: version pinned, and
    // the clicks the feed deleted are still live
    val liveClicks = s
      .sql(s"SELECT count(*) AS n FROM $cat.ev WHERE event_type = 'click'").head().getLong(0)
    val liveIntact = graft.sources.Snapshots.latestVersion(s, dir) == v1 && liveClicks > 0L
    val (fBefore, fAfter) = (s
      .sql(s"CALL $cat.compact_branch(table => 'ev', name => 'replay')")
      .head() match { case r => (r.getLong(0), r.getLong(1)) })
    val compactedOk = fAfter < fBefore && fAfter >= 1L
    s.sql(s"CALL $cat.fast_forward(table => 'ev', name => 'replay')")
    s.sql(s"""
      |SELECT event_type, CAST(sum(n) AS BIGINT) AS n_live, CAST(sum(sum_u) AS BIGINT) AS u_live
      |FROM $cat.ev GROUP BY event_type ORDER BY event_type""".stripMargin)
      .withColumn("live_intact", lit(liveIntact))
      .withColumn("compacted_ok", lit(compactedOk))
  }

  val q244Sql: String =
    """WITH s AS (
      |  SELECT event_type, CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS u
      |  FROM events),
      |g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n, CAST(sum(u) AS BIGINT) AS us
      |      FROM s GROUP BY event_type),
      |live AS (
      |  SELECT event_type,
      |         CAST(CASE WHEN event_type = 'view' THEN 3 * n ELSE n END AS BIGINT) AS n,
      |         us AS u
      |  FROM g WHERE event_type <> 'click'
      |  UNION ALL SELECT '__synth_a', CAST(7 AS BIGINT), CAST(42 AS BIGINT)
      |  UNION ALL SELECT '__synth_b', CAST(3 AS BIGINT), CAST(13 AS BIGINT))
      |SELECT event_type, CAST(sum(n) AS BIGINT) AS n_live, CAST(sum(u) AS BIGINT) AS u_live,
      |  true AS live_intact, true AS compacted_ok
      |FROM live GROUP BY event_type ORDER BY event_type""".stripMargin

  // -- q243: REBASE — the diverged branch's forward path -------------------

  /** q241's staged-delete workflow assumed main was frozen during
    * validation; under a live feed that window is never quiet. This is
    * the forward path: branch DML stages (a `branch_delete` of every
    * click plus a `branch_upsert` through the NEW SQL face), then main
    * DIVERGES — an INSERT appends a row and a live MoR delete vectors
    * the SAME file the branch vectored (day=m holds both lines' deletes).
    * `fast_forward` now refuses (`diverge_refused`), and `CALL rebase`
    * replays the branch's net delta onto the live head: appends adopt
    * as-is, untouched pointers adopt verbatim, and the day=m file's two
    * vectors UNION — each line's deletes survive. The fork re-pins to
    * head (`rebase_ok` also pins that rebase commits NOTHING on main),
    * `fast_forward` proceeds, and the final per-type totals hash against
    * the oracle recomputing both lines' deletes plus both appends. At
    * 100 TB this is what makes the staged-GDPR-delete workflow real: the
    * CDC feed never pauses, and the branch still lands at metadata cost.
    */
  def q243(s: SparkSession, d: String): DataFrame = {
    val (cat, dir) = statsTable(s, d, "snapq243", Seq("day"))
    val m = Tables.events(s, d).agg(min(to_date(col("ts"))).as("m")).head().getDate(0).toLocalDate
    val v1 = graft.sources.Snapshots.latestVersion(s, dir)
    s.sql(s"CALL $cat.create_branch(table => 'ev', name => 'replay')")
    s.sql(s"CALL $cat.branch_delete(table => 'ev', name => 'replay', " +
      "where => \"event_type = 'click'\")")
    // the SQL face of the branch upsert: key-match + append, ONE branch version
    s.sql(s"CALL $cat.branch_upsert(table => 'ev', name => 'replay', " +
      "source => \"SELECT DATE'1999-01-01' AS day, '__rb' AS event_type, " +
      "CAST(7 AS BIGINT) AS n, CAST(42 AS BIGINT) AS sum_u\", keys => 'day,event_type')")
    val liveIntact = graft.sources.Snapshots.latestVersion(s, dir) == v1
    // main diverges under the validation window: one append, one MoR
    // delete vectoring a file the branch vectored too
    s.sql(s"INSERT INTO $cat.ev (day, event_type, n, sum_u) " +
      "VALUES (DATE'1999-12-31', '__main', CAST(1 AS BIGINT), CAST(10 AS BIGINT))")
    s.sql(s"DELETE FROM $cat.ev WHERE event_type = 'view' AND day = DATE'$m'")
    val divergeRefused = scala.util
      .Try(s.sql(s"CALL $cat.fast_forward(table => 'ev', name => 'replay')").collect())
      .isFailure
    val latest = graft.sources.Snapshots.latestVersion(s, dir)
    val forkV = s.sql(s"CALL $cat.rebase(table => 'ev', name => 'replay')").head().getLong(0)
    // rebase re-pins the fork to head and commits NOTHING on the live line
    val rebaseOk = forkV == latest && graft.sources.Snapshots.latestVersion(s, dir) == latest
    val branchClicks = s
      .sql(s"SELECT count(*) AS n FROM $cat.ev VERSION AS OF 'replay' WHERE event_type = 'click'")
      .head().getLong(0)
    s.sql(s"CALL $cat.fast_forward(table => 'ev', name => 'replay')")
    val adoptedOk = branchClicks == 0L && graft.sources.Snapshots.branches(s, dir).isEmpty
    s.sql(s"""
      |SELECT event_type, CAST(sum(n) AS BIGINT) AS n_live, CAST(sum(sum_u) AS BIGINT) AS u_live
      |FROM $cat.ev GROUP BY event_type ORDER BY event_type""".stripMargin)
      .withColumn("live_intact", lit(liveIntact))
      .withColumn("diverge_refused", lit(divergeRefused))
      .withColumn("rebase_ok", lit(rebaseOk))
      .withColumn("adopted_ok", lit(adoptedOk))
  }

  val q243Sql: String =
    """WITH s AS (
      |  SELECT CAST(ts AS DATE) AS day, event_type, CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS su
      |  FROM events GROUP BY 1, 2),
      |b AS (SELECT min(day) AS m FROM s),
      |live AS (
      |  SELECT s.* FROM s, b
      |  WHERE event_type <> 'click' AND NOT (event_type = 'view' AND day = m))
      |SELECT event_type, CAST(sum(n) AS BIGINT) AS n_live, CAST(sum(su) AS BIGINT) AS u_live,
      |  true AS live_intact, true AS diverge_refused, true AS rebase_ok, true AS adopted_ok
      |FROM live GROUP BY event_type
      |UNION ALL SELECT '__rb', CAST(7 AS BIGINT), CAST(42 AS BIGINT), true, true, true, true
      |UNION ALL SELECT '__main', CAST(1 AS BIGINT), CAST(10 AS BIGINT), true, true, true, true
      |ORDER BY event_type""".stripMargin

  // -- q242: DECIMAL SUM/AVG from unscaled-BigInt sum sidecars -------------

  /** q239 closed manifest-only SUM/AVG for integrals; this closes it for
    * the single most common SUM target in analytics — a `DECIMAL(20,2)`
    * revenue column. The commit's pooled sidecar pass records each file's
    * exact sum as the UNSCALED BigInt (a fixed-scale decimal sum is
    * exactly as order-insensitive as an integer's), and `SUM(rev)` /
    * `AVG(rev)` push complete to [[graft.sources.snap.SnapAggScan]],
    * typed DECIMAL(30,2) exactly as Spark's own Sum would answer. The
    * proof is q239's, physical: a clean file is corrupted BEFORE the
    * aggregates run (`zero_opens_ok` pins the manifest-only marker; the
    * green hash certifies zero data opens), a MoR delete then vectors one
    * day and the same SUM goes hybrid over exactly that one file
    * (`hybrid_ok`), and the pushed AVG must equal the exact
    * cents-arithmetic recomputation (`avg_ok`). The hash itself rides
    * BIGINT cents — exact at any scale, immune to decimal rendering. At
    * 100 TB the dashboard's `SELECT sum(price)` no longer pays a full
    * scan forever just because the column is DECIMAL.
    */
  def q242(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val micro = floor(col("value") * lit(1000000.0) + lit(0.5)).cast("long")
    val base = new org.apache.hadoop.fs.Path(
      System.getProperty("java.io.tmpdir"),
      s"graft_snapq242_${java.lang.Integer.toHexString(d.hashCode)}_${s.sparkContext.applicationId}")
    graft.core.Scratch.register(base.toString)
    val fs = base.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(base)) fs.delete(base, true)
    val dir = new org.apache.hadoop.fs.Path(base, "ev").toString
    // rev = micro-cents × 0.01, EXACT in the decimal domain (never a
    // double): sum(rev) * 100 == sum(micro) by construction — the oracle
    // hashes integer cents
    val stats = Tables.events(s, d)
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(micro).as("sum_u"))
      .withColumn(
        "rev",
        (col("sum_u").cast(org.apache.spark.sql.types.DecimalType(24, 0)) *
          lit(new java.math.BigDecimal("0.01")))
          .cast(org.apache.spark.sql.types.DecimalType(20, 2)))
      .drop("sum_u")
    graft.sources.Sources.writeParquet(stats.repartition(col("day")), dir, Seq("day"))
    graft.sources.Snapshots.commit(s, dir, Seq("day", "n", "rev"), Seq("event_type"))
    val cat = s"snapq242_${java.lang.Integer.toHexString(d.hashCode)}"
    s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.snap.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", base.toString)
    val m = ev.agg(min(to_date(col("ts"))).as("m")).head().getDate(0).toLocalDate
    // the zero-opens canary BEFORE any aggregate runs (the q239 proof)
    val victimDay = m.plusDays(3).toString
    val victim = graft.sources.Snapshots.files(s, dir).find(_.startsWith(s"day=$victimDay/")).get
    corruptFile(s, fs, new org.apache.hadoop.fs.Path(dir, victim))
    val clean = s.sql(s"""
      |SELECT sum(rev) AS rev_all, avg(rev) AS avg_rev,
      |       sum(n) AS n_all, count(*) AS n_groups FROM $cat.ev""".stripMargin)
    val zeroOpens = scanDescriptions(clean).exists(d0 =>
      d0.contains("GraftSnapAggScan") && d0.contains("SUM(rev)") &&
        d0.contains("manifest-only, zero file opens"))
    require(zeroOpens, "DECIMAL SUM/AVG must push complete with zero file opens on a clean table")
    val row1 = clean.head()
    val revCents = row1.getDecimal(0).movePointRight(2).longValueExact()
    val nGroups = row1.getLong(3)
    // the pushed AVG must agree with exact cents arithmetic (Spark's own
    // Avg semantics: sum/count in the decimal domain, here recomputed)
    val avgOk = row1.getDecimal(1).compareTo(
      new java.math.BigDecimal(revCents)
        .movePointLeft(2)
        .divide(new java.math.BigDecimal(nGroups), 6, java.math.RoundingMode.HALF_UP)) == 0
    // merge-on-read: vector one day's clicks — the same SUM goes hybrid,
    // scanning exactly the one DV'd file (the corrupt file stays folded)
    s.sql(s"DELETE FROM $cat.ev WHERE event_type = 'click' AND day = DATE'$m'")
    val hybrid = s.sql(s"SELECT sum(rev) AS rev_after FROM $cat.ev")
    val hybridOk = scanDescriptions(hybrid).exists(d0 =>
      d0.contains("GraftSnapAggScan") && d0.contains("SUM(rev)") && d0.contains("hybrid: 1/"))
    require(hybridOk, "after one day's MoR delete, DECIMAL SUM must scan exactly the DV'd file")
    val afterCents = hybrid.head().getDecimal(0).movePointRight(2).longValueExact()
    s.sql(s"""
      |SELECT CAST($revCents AS BIGINT) AS rev_cents,
      |       CAST($nGroups AS BIGINT) AS n_groups,
      |       CAST(${row1.getLong(2)} AS BIGINT) AS n_all,
      |       CAST($afterCents AS BIGINT) AS after_cents""".stripMargin)
      .withColumn("zero_opens_ok", lit(zeroOpens))
      .withColumn("hybrid_ok", lit(hybridOk))
      .withColumn("avg_ok", lit(avgOk))
  }

  val q242Sql: String =
    """WITH s AS (
      |  SELECT CAST(ts AS DATE) AS day, event_type, CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS su
      |  FROM events GROUP BY 1, 2),
      |b AS (SELECT min(day) AS m FROM s)
      |SELECT CAST(sum(su) AS BIGINT) AS rev_cents,
      |       CAST(count(*) AS BIGINT) AS n_groups,
      |       CAST(sum(n) AS BIGINT) AS n_all,
      |       CAST(sum(CASE WHEN event_type = 'click' AND day = (SELECT m FROM b)
      |                     THEN 0 ELSE su END) AS BIGINT) AS after_cents,
      |       true AS zero_opens_ok, true AS hybrid_ok, true AS avg_ok
      |FROM s""".stripMargin

  // -- q241: branch MoR DELETE — the staged bulk delete --------------------

  /** Branch DML: the risky bulk delete STAGED on a branch. `CALL
    * branch_delete` runs a merge-on-read DELETE against the branch's file
    * set — matched positions become deletion vectors recorded by a
    * branch-delta restate, so `VERSION AS OF 'riskydel'` shows the
    * post-delete world while EVERY live read keeps the rows
    * (`live_intact` pins version and content). After validation,
    * `CALL fast_forward` adopts the pointers into the live line — ONE
    * restate commit, zero files moved or rewritten (`no_rewrite` hashes
    * the live file set across the adoption; `vectors_carried` pins the
    * pointers) — and the final per-type totals hash against the oracle's
    * recomputation. At 100 TB this is how a GDPR-scale delete ships:
    * stage on a ten-byte fork, diff the branch read, adopt at
    * metadata cost — and a wrong predicate is a `drop_branch`, not a
    * restore.
    */
  def q241(s: SparkSession, d: String): DataFrame = {
    val (cat, dir) = statsTable(s, d, "snapq241", Seq("day"))
    val v1 = graft.sources.Snapshots.latestVersion(s, dir)
    val filesBefore = graft.sources.Snapshots.files(s, dir).toSet
    s.sql(s"CALL $cat.create_branch(table => 'ev', name => 'riskydel')")
    val (bf, br) = (s
      .sql(s"CALL $cat.branch_delete(table => 'ev', name => 'riskydel', " +
        "where => \"event_type = 'click'\")")
      .head() match { case r => (r.getLong(0), r.getLong(1)) })
    // the staged world: the branch has no clicks, the live line still does
    val branchClicks = s
      .sql(s"SELECT count(*) AS n FROM $cat.ev VERSION AS OF 'riskydel' WHERE event_type = 'click'")
      .head().getLong(0)
    val liveClicks = s
      .sql(s"SELECT count(*) AS n FROM $cat.ev WHERE event_type = 'click'")
      .head().getLong(0)
    val stagedOk = bf > 0L && br > 0L && branchClicks == 0L && liveClicks > 0L
    val liveIntact = graft.sources.Snapshots.latestVersion(s, dir) == v1
    // adopt: one restate commit, nothing moves, nothing rewrites
    s.sql(s"CALL $cat.fast_forward(table => 'ev', name => 'riskydel')")
    val noRewrite = graft.sources.Snapshots.files(s, dir).toSet == filesBefore
    val vectorsCarried =
      graft.sources.Snapshots.dvByRel(graft.sources.Snapshots.manifestView(s, dir)).nonEmpty
    s.sql(s"""
      |SELECT event_type, CAST(sum(n) AS BIGINT) AS n_live, CAST(sum(sum_u) AS BIGINT) AS u_live
      |FROM $cat.ev GROUP BY event_type ORDER BY event_type""".stripMargin)
      .withColumn("staged_ok", lit(stagedOk))
      .withColumn("live_intact", lit(liveIntact))
      .withColumn("no_rewrite", lit(noRewrite))
      .withColumn("vectors_carried", lit(vectorsCarried))
  }

  val q241Sql: String =
    """WITH s AS (
      |  SELECT event_type, CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS u
      |  FROM events WHERE event_type <> 'click')
      |SELECT event_type,
      |  CAST(count(*) AS BIGINT) AS n_live,
      |  CAST(sum(u) AS BIGINT) AS u_live,
      |  true AS staged_ok, true AS live_intact, true AS no_rewrite, true AS vectors_carried
      |FROM s GROUP BY event_type ORDER BY event_type""".stripMargin

  // -- q240: WRITABLE branch refs — append, fast-forward, diverge ----------

  /** q236's zero-copy refs, made WRITABLE — the r12 scope cut closed: a
    * branch forks in O(1) metadata like a tag, but owns a branch-private
    * manifest line, so appends land on the branch (under the hidden
    * `.branch/` tree — the live line cannot see them) and
    * `VERSION AS OF '<branch>'` reads fork + branch appends from any SQL
    * client. The full lifecycle in one hash: `CALL create_branch` + a
    * branch append + `CALL fast_forward` adopt a staged row into the live
    * line (files MOVE with their sidecars — one O(delta) commit, no
    * rewrite, `ff_ok`); a second branch then diverges from a live MoR
    * DELETE — the branch keeps reading the clicks the live line lost
    * (`n_branch` vs `n_live`), `fast_forward` REFUSES loudly
    * (`diverge_refused`), an aggressive `vacuum(keep_last => 1)` runs
    * between the fork and the final read so the hash match IS the
    * retention proof (q236's law, extended to branch lines), and the
    * refs metadata table reports the kind (`ref_ok`). At 100 TB this is
    * the dev/test fork a training pipeline actually needs: ten bytes to
    * create, writable, adoptable, and never a table copy.
    */
  def q240(s: SparkSession, d: String): DataFrame = {
    val (cat, dir) = statsTable(s, d, "snapq240", Seq("day"))
    val v1 = graft.sources.Snapshots.latestVersion(s, dir)
    // phase 1: stage a row on a branch, live untouched, then adopt it
    s.sql(s"CALL $cat.create_branch(table => 'ev', name => 'staging')")
    graft.sources.Snapshots.appendToBranch(
      s, dir, "staging",
      s.sql("SELECT DATE'1998-01-01' AS day, '__ff' AS event_type, " +
        "CAST(1 AS BIGINT) AS n, CAST(10 AS BIGINT) AS sum_u"))
    val liveUntouched = graft.sources.Snapshots.latestVersion(s, dir) == v1
    val v2 = s.sql(s"CALL $cat.fast_forward(table => 'ev', name => 'staging')").head().getLong(0)
    // the adopted file must be RECORDED at its natural table path (the
    // manifest is the authority — a hidden-dir listing check would be
    // vacuously true) and the branch must be gone whole
    val ffOk = liveUntouched && v2 == v1 + 1L &&
      graft.sources.Snapshots.branches(s, dir).isEmpty &&
      graft.sources.Snapshots.files(s, dir).exists(_.startsWith("day=1998-01-01/")) &&
      graft.sources.Snapshots.files(s, dir)
        .forall(!_.startsWith(graft.sources.Snapshots.BranchDataDirName))
    // phase 2: fork a dev branch, append a synthetic row, then DIVERGE the
    // live line with a MoR delete of every click
    val forkV =
      s.sql(s"CALL $cat.create_branch(table => 'ev', name => 'dev')").head().getLong(0)
    graft.sources.Snapshots.appendToBranch(
      s, dir, "dev",
      s.sql("SELECT DATE'1999-12-31' AS day, '__branch' AS event_type, " +
        "CAST(7 AS BIGINT) AS n, CAST(42 AS BIGINT) AS sum_u"))
    s.sql(s"DELETE FROM $cat.ev WHERE event_type = 'click'")
    val divergeRefused = scala.util
      .Try(s.sql(s"CALL $cat.fast_forward(table => 'ev', name => 'dev')").collect())
      .isFailure
    // the aggressive vacuum between fork and final read: the hash match
    // below is the branch-retention proof
    s.sql(s"CALL $cat.vacuum(table => 'ev', keep_last => 1)")
    val refOk = s
      .sql(s"SELECT name, version, kind FROM $cat.ev.refs")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      .toSeq == Seq(("dev", forkV, "branch"))
    s.sql(s"""
      |SELECT b.event_type AS event_type,
      |       b.n AS n_branch, coalesce(l.n, CAST(0 AS BIGINT)) AS n_live,
      |       b.u AS u_branch, coalesce(l.u, CAST(0 AS BIGINT)) AS u_live
      |FROM (SELECT event_type, CAST(sum(n) AS BIGINT) AS n, CAST(sum(sum_u) AS BIGINT) AS u
      |      FROM $cat.ev VERSION AS OF 'dev' GROUP BY event_type) b
      |LEFT JOIN (SELECT event_type, CAST(sum(n) AS BIGINT) AS n, CAST(sum(sum_u) AS BIGINT) AS u
      |           FROM $cat.ev GROUP BY event_type) l
      |ON b.event_type = l.event_type
      |ORDER BY event_type""".stripMargin)
      .withColumn("ff_ok", lit(ffOk))
      .withColumn("diverge_refused", lit(divergeRefused))
      .withColumn("ref_ok", lit(refOk))
  }

  val q240Sql: String =
    """WITH s AS (
      |  SELECT event_type, CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS u
      |  FROM events),
      |g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n, CAST(sum(u) AS BIGINT) AS us
      |      FROM s GROUP BY event_type)
      |SELECT event_type,
      |  n AS n_branch,
      |  CAST(CASE WHEN event_type = 'click' THEN 0 ELSE n END AS BIGINT) AS n_live,
      |  us AS u_branch,
      |  CAST(CASE WHEN event_type = 'click' THEN 0 ELSE us END AS BIGINT) AS u_live,
      |  true AS ff_ok, true AS diverge_refused, true AS ref_ok
      |FROM g
      |UNION ALL SELECT '__ff', CAST(1 AS BIGINT), CAST(1 AS BIGINT),
      |  CAST(10 AS BIGINT), CAST(10 AS BIGINT), true, true, true
      |UNION ALL SELECT '__branch', CAST(7 AS BIGINT), CAST(0 AS BIGINT),
      |  CAST(42 AS BIGINT), CAST(0 AS BIGINT), true, true, true
      |ORDER BY event_type""".stripMargin

  // -- q239: manifest-only SUM/AVG from per-file sum sidecars --------------

  /** Parquet footers never carry sums, so r12's pushdown stopped at
    * COUNT/MIN/MAX; the commit's pooled sidecar pass (the data read that
    * already builds blooms + NDV registers) now records each new file's
    * EXACT integral-column sums, and `SUM(x)` / `AVG(x)` (Spark rewrites
    * AVG to SUM/COUNT) push complete to
    * [[graft.sources.snap.SnapAggScan]] — BigInt folds, so aggregation
    * order cannot perturb the total. The proof is q234's, physical: a
    * clean file is CORRUPTED before the aggregates run, so the green
    * hash certifies zero data-file opens (`zero_opens_ok` pins the
    * plan marker too). A MoR delete then vectors one day and the same
    * SUM goes HYBRID — clean files fold from their sidecars, exactly the
    * one DV'd file is scanned (`hybrid_ok` pins `hybrid: 1/N`; the
    * corrupt file would kill any wider plan). At 100 TB the dashboard's
    * `SELECT sum(revenue)` is one manifest read + one tiny sidecar read
    * per file — no scan, at any table size.
    */
  def q239(s: SparkSession, d: String): DataFrame = {
    val (cat, dir) = statsTable(s, d, "snapq239", Seq("day", "n", "sum_u"))
    // second commit declares the bloom discipline: the sidecar pass runs
    // here and records every file's sums (all files are bloom-new)
    graft.sources.Snapshots.commit(s, dir, Seq("day", "n", "sum_u"), Seq("event_type"))
    val m = Tables.events(s, d).agg(min(to_date(col("ts"))).as("m")).head().getDate(0).toLocalDate
    // the zero-opens canary BEFORE any aggregate runs (the q234 proof)
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(s.sparkContext.hadoopConfiguration)
    val victimDay = m.plusDays(3).toString
    val victim = graft.sources.Snapshots.files(s, dir).find(_.startsWith(s"day=$victimDay/")).get
    corruptFile(s, fs, new org.apache.hadoop.fs.Path(dir, victim))
    val clean = s.sql(s"""
      |SELECT sum(n) AS sum_all, sum(sum_u) AS sum_u_all,
      |       avg(n) AS avg_all, count(*) AS n_groups FROM $cat.ev""".stripMargin)
    val zeroOpens = scanDescriptions(clean).exists(d0 =>
      d0.contains("GraftSnapAggScan") && d0.contains("SUM(n)") &&
        d0.contains("manifest-only, zero file opens"))
    require(zeroOpens, "SUM/AVG must push complete with zero file opens on a clean table")
    val row1 = clean.head()
    // merge-on-read: vector one day's clicks, the same SUM goes hybrid —
    // sidecar folds for every clean file, ONE bounded scan of the DV'd one
    s.sql(s"DELETE FROM $cat.ev WHERE event_type = 'click' AND day = DATE'$m'")
    val hybrid = s.sql(s"SELECT sum(n) AS sum_after FROM $cat.ev")
    val hybridOk = scanDescriptions(hybrid).exists(d0 =>
      d0.contains("GraftSnapAggScan") && d0.contains("SUM(n)") && d0.contains("hybrid: 1/"))
    require(hybridOk, "after one day's MoR delete, SUM must scan exactly the one DV'd file")
    val sumAfter = hybrid.head().getLong(0)
    s.sql(s"""
      |SELECT CAST(${row1.getLong(0)} AS BIGINT) AS sum_all,
      |       CAST(${row1.getLong(1)} AS BIGINT) AS sum_u_all,
      |       CAST(${math.floor(row1.getDouble(2) * 10000.0 + 0.5) / 10000.0} AS DOUBLE) AS avg_all,
      |       CAST(${row1.getLong(3)} AS BIGINT) AS n_groups,
      |       CAST($sumAfter AS BIGINT) AS sum_after""".stripMargin)
      .withColumn("zero_opens_ok", lit(zeroOpens))
      .withColumn("hybrid_ok", lit(hybridOk))
  }

  val q239Sql: String =
    s"""WITH s AS (
       |  SELECT CAST(ts AS DATE) AS day, event_type, CAST(count(*) AS BIGINT) AS n,
       |         CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS su
       |  FROM events GROUP BY 1, 2),
       |b AS (SELECT min(day) AS m FROM s)
       |SELECT CAST(sum(n) AS BIGINT) AS sum_all,
       |       CAST(sum(su) AS BIGINT) AS sum_u_all,
       |       ${graft.core.Det.sqlR("avg(n)", 4)} AS avg_all,
       |       CAST(count(*) AS BIGINT) AS n_groups,
       |       CAST(sum(CASE WHEN event_type = 'click' AND day = (SELECT m FROM b)
       |                     THEN 0 ELSE n END) AS BIGINT) AS sum_after,
       |       true AS zero_opens_ok, true AS hybrid_ok
       |FROM s""".stripMargin

  // -- q234: HYBRID manifest aggregate pushdown on a partially-DV'd table -

  /** A 0.1 %-deleted table must not pay a 100 % scan for `MIN(x)` — the
    * round-11 refusal, replaced by the hybrid plan: one day's MoR delete
    * leaves ONE file carrying a vector, and `COUNT(col)`/`MIN`/`MAX` still
    * push to [[graft.sources.snap.SnapAggScan]], which answers every
    * clean file from its manifest line and runs one bounded job over ONLY
    * the DV'd file, folding the two. The proof is PHYSICAL, not just
    * plan-text: a clean file is corrupted in place after its stats were
    * committed — any plan that opened more than the DV'd file dies on it,
    * so the green hash certifies the 1-of-N open count. The epilogue
    * exercises the scoped fold from SQL: `CALL dv_materialize(where =>
    * day-of-the-vector)` rewrites exactly that file, after which the same
    * aggregate is manifest-only again (zero opens — the corrupt file is
    * still never read) with identical values.
    */
  def q234(s: SparkSession, d: String): DataFrame = {
    val (cat, dir) = statsTable(s, d, "snapq234", Seq("day", "n"))
    val m = Tables.events(s, d).agg(min(to_date(col("ts"))).as("m")).head().getDate(0).toLocalDate
    s.sql(s"DELETE FROM $cat.ev WHERE event_type = 'click' AND day = DATE'$m'")
    // corrupt a CLEAN day's data file (crc sidecar removed, bytes junked):
    // its manifest stats still answer, but any read of it now fails — the
    // canary that proves only the DV'd file is opened
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(s.sparkContext.hadoopConfiguration)
    val victimDay = m.plusDays(3).toString
    val victim = graft.sources.Snapshots.files(s, dir).find(_.startsWith(s"day=$victimDay/")).get
    corruptFile(s, fs, new org.apache.hadoop.fs.Path(dir, victim))
    def agg() = s.sql(s"""
      |SELECT count(*) AS n_rows, count(n) AS n_vals,
      |       min(n) AS min_n, max(n) AS max_n FROM $cat.ev""".stripMargin)
    val hybrid = agg()
    val hybridOk = scanDescriptions(hybrid).exists(d0 =>
      d0.contains("GraftSnapAggScan") && d0.contains("hybrid: 1/"))
    require(hybridOk, "expected a hybrid pushdown scanning exactly the one DV'd file")
    val row1 = hybrid.head()
    // scoped fold from SQL: exactly the vectored day rewrites
    val folded = s
      .sql(s"CALL $cat.dv_materialize(table => 'ev', where => \"day = DATE'$m'\")")
      .head()
      .getLong(0)
    val after = agg()
    val manifestOnly = scanDescriptions(after).exists(d0 =>
      d0.contains("GraftSnapAggScan") && d0.contains("manifest-only, zero file opens"))
    require(manifestOnly, "after the scoped fold the aggregate must be manifest-only again")
    val row2 = after.head()
    s.sql(s"""
      |SELECT CAST(${row1.getLong(0)} AS BIGINT) AS n_rows,
      |       CAST(${row1.getLong(1)} AS BIGINT) AS n_vals,
      |       CAST(${row1.getLong(2)} AS BIGINT) AS min_n,
      |       CAST(${row1.getLong(3)} AS BIGINT) AS max_n""".stripMargin)
      .withColumn("hybrid_ok", lit(hybridOk))
      .withColumn("folded_files", lit(folded))
      .withColumn("stable_after_fold", lit(row2 == row1 && manifestOnly))
  }

  val q234Sql: String =
    """WITH per AS (
      |  SELECT CAST(ts AS DATE) AS day, event_type, CAST(count(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1, 2),
      |b AS (SELECT min(day) AS m FROM per),
      |live AS (SELECT per.* FROM per, b WHERE NOT (event_type = 'click' AND day = m))
      |SELECT CAST(count(*) AS BIGINT) AS n_rows, CAST(count(n) AS BIGINT) AS n_vals,
      |       min(n) AS min_n, max(n) AS max_n,
      |       true AS hybrid_ok, CAST(1 AS BIGINT) AS folded_files, true AS stable_after_fold
      |FROM live""".stripMargin

  // -- q233: compaction FOLDS deletion vectors, scope by scope ------------

  /** The DV-aware OPTIMIZE: compaction no longer refuses a merge-on-read
    * table — a rewritten scope's deleted positions are SUBTRACTED during
    * the rewrite (the Delta-OPTIMIZE fold), while scopes the pass never
    * touches keep their pointers. The lifecycle: two MoR deletes land
    * vectors in two different days, an INSERT makes the first day a
    * two-file compaction target, and `CALL compact` rewrites exactly that
    * day. The hash then proves all four invariants at once: per-type
    * totals match the oracle (nothing resurrected, nothing lost);
    * `fold_scoped_ok` pins that the rewritten day's pointer died while
    * the other day's survived; `raw_agrees` reads the compacted
    * directory's bytes raw — the deleted rows are physically absent; and
    * `cdc_net_zero` certifies the compaction version emits NOTHING on the
    * change feed (each removed file cancels through its OWN vector state,
    * so a folding rewrite is a pure rewrite). At 100 TB this is what keeps
    * one partition's GDPR delete from suspending the nightly OPTIMIZE of
    * every other partition — the round-11 interlock, dissolved.
    */
  def q233(s: SparkSession, d: String): DataFrame = {
    val (cat, dir) = statsTable(s, d, "snapq233", Seq("day"))
    val m = Tables.events(s, d).agg(min(to_date(col("ts"))).as("m")).head().getDate(0).toLocalDate
    val cut = m.plusDays(2).toString
    s.sql(s"DELETE FROM $cat.ev WHERE event_type = 'click' AND day = DATE'$m'") // v2
    s.sql(s"DELETE FROM $cat.ev WHERE event_type = 'view' AND day = DATE'$cut'") // v3
    // a second file in day=m: the dir becomes a compaction target
    s.sql(s"INSERT INTO $cat.ev VALUES ('__extra', CAST(7 AS BIGINT), CAST(42 AS BIGINT), DATE'$m')") // v4
    val dvBefore = graft.sources.Snapshots.dvByRel(graft.sources.Snapshots.manifestView(s, dir))
    val compacted = s.sql(s"CALL $cat.compact(table => 'ev')").head().getLong(0)
    val v5 = graft.sources.Snapshots.latestVersion(s, dir)
    val dvAfter = graft.sources.Snapshots.dvByRel(graft.sources.Snapshots.manifestView(s, dir))
    val foldScoped = dvBefore.size == 2 && compacted == 1L &&
      dvAfter.keySet.map(_.split("/").head) == Set(s"day=$cut")
    val cdcNetZero = s.read
      .option("startingVersion", v5)
      .option("endingVersion", v5)
      .table(s"$cat.ev.changes")
      .count() == 0L
    // physical proof: the compacted day's raw bytes no longer hold clicks
    val raw = s.read.parquet(s"$dir/day=$m")
    val rawAgrees = raw.filter(col("event_type") === "click").count() == 0L &&
      raw.filter(col("event_type") === "__extra").count() == 1L
    s.sql(s"""
      |SELECT event_type, CAST(sum(n) AS BIGINT) AS n_live, CAST(count(*) AS BIGINT) AS n_groups
      |FROM $cat.ev GROUP BY event_type ORDER BY event_type""".stripMargin)
      .withColumn("fold_scoped_ok", lit(foldScoped))
      .withColumn("cdc_net_zero", lit(cdcNetZero))
      .withColumn("raw_agrees", lit(rawAgrees))
  }

  val q233Sql: String =
    """WITH s AS (SELECT CAST(ts AS DATE) AS day, event_type, CAST(count(*) AS BIGINT) AS n
      |           FROM events GROUP BY 1, 2),
      |b AS (SELECT min(day) AS m FROM s),
      |live AS (
      |  SELECT s.* FROM s, b
      |  WHERE NOT (event_type = 'click' AND day = m)
      |    AND NOT (event_type = 'view' AND day = m + 2)
      |  UNION ALL SELECT (SELECT m FROM b), '__extra', 7)
      |SELECT event_type, CAST(sum(n) AS BIGINT) AS n_live, CAST(count(*) AS BIGINT) AS n_groups,
      |  true AS fold_scoped_ok, true AS cdc_net_zero, true AS raw_agrees
      |FROM live GROUP BY event_type ORDER BY event_type""".stripMargin

  // -- q245: incrementally-maintained MATERIALIZED VIEW --------------------

  /** The dashboard rollup that never recomputes the table:
    * `CALL mv_create` materializes a per-day aggregate of the stats table
    * (count/sum/max), then two change windows land — a merge-on-read
    * DELETE of one day's `click` row plus an appended row in another day,
    * and a whole-day DELETE — and each `mv_refresh` re-prices at the
    * CHANGE: affected group keys come from the row-level change feed
    * (reads only the windows' changed files), exactly those groups
    * re-aggregate through the upsert's partition-exact narrowing, and the
    * outcome merges-on-read into the view ([[graft.sources.Mv]]). The
    * proof is physical, q239-style: an UNTOUCHED day's source file is
    * corrupted BEFORE the first refresh — a refresh that reads one byte
    * past its affected groups' files dies loudly; `incr1_ok`/`incr2_ok`
    * additionally pin the feed path (no silent full-resync downgrade) and
    * the exact group counts, `noop_ok` pins the at-head no-op, and `u_max`
    * pins max-under-delete — the aggregate delta-maintenance schemes
    * cannot answer. At 100 TB: a day's CDC into the fact table makes the
    * nightly MV refresh cost one day's files, not the table.
    */
  def q245(s: SparkSession, d: String): DataFrame = {
    val (cat, dir) = statsTable(s, d, "snapq245", Seq("day", "event_type"))
    val base = new org.apache.hadoop.fs.Path(dir).getParent
    val mvDir = new org.apache.hadoop.fs.Path(base, "daily").toString
    val m = Tables.events(s, d).agg(min(to_date(col("ts"))).as("m")).head().getDate(0).toLocalDate
    s.sql(s"CALL $cat.mv_create(mv => 'daily', source => 'ev', keys => 'day', " +
      "aggs => 'count(*) AS n_types; sum(n) AS n_tot; sum(sum_u) AS u_tot; max(sum_u) AS u_max')")
    // window 1: one day loses its click row (its max must re-derive) and
    // another day gains a brand-new event type
    graft.sources.DeleteVectors.deleteWhere(
      s,
      dir,
      col("event_type") === "click" && col("day") === lit(java.sql.Date.valueOf(m)))
    graft.sources.DeleteVectors.upsert(
      s,
      dir,
      s.sql(s"SELECT DATE'${m.plusDays(1)}' AS day, 'zzz' AS event_type, " +
        "CAST(7 AS BIGINT) AS n, CAST(123456 AS BIGINT) AS sum_u"),
      Seq("day", "event_type"))
    // the narrowing canary: corrupt an UNTOUCHED day before any refresh —
    // neither the change feed nor the re-aggregation may open it
    val victim = graft.sources.Snapshots
      .files(s, dir)
      .find(_.startsWith(s"day=${m.plusDays(4)}/"))
      .get
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(s.sparkContext.hadoopConfiguration)
    corruptFile(s, fs, new org.apache.hadoop.fs.Path(dir, victim))
    val r1 = graft.sources.Mv.refresh(s, mvDir)
    val incr1Ok = !r1.fullResync && r1.groupsRecomputed == 2L && r1.groupsDeleted == 0L
    // window 2, through the SQL face: a whole day vanishes → its group deletes
    graft.sources.DeleteVectors.deleteWhere(
      s,
      dir,
      col("day") === lit(java.sql.Date.valueOf(m.plusDays(3))))
    val r2 = s.sql(s"CALL $cat.mv_refresh(mv => 'daily')").head()
    val incr2Ok = !r2.getBoolean(4) && r2.getLong(2) == 0L && r2.getLong(3) == 1L
    val r3 = graft.sources.Mv.refresh(s, mvDir)
    val noopOk = r3.fromVersion == r3.toVersion && r3.groupsRecomputed == 0L
    s.sql(s"SELECT day, n_types, n_tot, u_tot, u_max FROM $cat.daily ORDER BY day")
      .withColumn("incr1_ok", lit(incr1Ok))
      .withColumn("incr2_ok", lit(incr2Ok))
      .withColumn("noop_ok", lit(noopOk))
  }

  val q245Sql: String =
    """WITH s AS (
      |  SELECT CAST(ts AS DATE) AS day, event_type, CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS su
      |  FROM events GROUP BY 1, 2),
      |b AS (SELECT min(day) AS m FROM s),
      |final AS (
      |  SELECT s.* FROM s, b
      |  WHERE NOT (event_type = 'click' AND day = m) AND day <> m + 3
      |  UNION ALL
      |  SELECT m + 1, 'zzz', CAST(7 AS BIGINT), CAST(123456 AS BIGINT) FROM b)
      |SELECT day, CAST(count(*) AS BIGINT) AS n_types, CAST(sum(n) AS BIGINT) AS n_tot,
      |       CAST(sum(su) AS BIGINT) AS u_tot, CAST(max(su) AS BIGINT) AS u_max,
      |       true AS incr1_ok, true AS incr2_ok, true AS noop_ok
      |FROM final GROUP BY day ORDER BY day""".stripMargin

  // -- q246: time-based retention + orphan-file GC --------------------------

  /** The table-hygiene pair production actually runs nightly.
    * (1) ORPHAN GC: a crashed writer's landed-but-never-committed part
    * file (planted here as a real parquet copied into another day's dir,
    * backdated past the grace) costs storage forever and POISONS any
    * listing-based read of the directory — `listing_poisoned` proves the
    * poisoning is real, `CALL remove_orphans(dry_run)` lists without
    * deleting, the reap removes exactly the stray, and `listing_agrees`
    * proves a raw directory read again matches the manifest count.
    * Manifest-driven reads never saw it ([[graft.sources.Snapshots
    * .removeOrphans]]: lock + grace window is the standard lakehouse
    * contract). (2) TIME-based retention: `CALL vacuum(retain_ms)` —
    * "keep 7 days" spoken directly instead of guessing a version count; a
    * generous window reclaims nothing, the zero window reclaims exactly
    * the delete-replaced archive file while the head stays exact (the
    * final hash). At 100 TB both are metadata-priced: one directory walk
    * with an mtime test, one manifest-mtime listing.
    */
  def q246(s: SparkSession, d: String): DataFrame = {
    val (cat, dir) = statsTable(s, d, "snapq246", Seq("day"))
    val m = Tables.events(s, d).agg(min(to_date(col("ts"))).as("m")).head().getDate(0).toLocalDate
    // v2: the delete's purge rewrites day m's file (the old one archives)
    graft.sources.Sources.deleteWhere(
      s,
      dir,
      col("event_type") === "click" && col("day") === lit(java.sql.Date.valueOf(m)))
    val manifestN = s.sql(s"SELECT count(*) FROM $cat.ev").head().getLong(0)
    // the crashed-writer stray: a REAL part file duplicated into another
    // day's dir, aged past the grace
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(s.sparkContext.hadoopConfiguration)
    val donor = graft.sources.Snapshots
      .files(s, dir)
      .find(_.startsWith(s"day=${m.plusDays(2)}/"))
      .get
    val stray = new org.apache.hadoop.fs.Path(dir, s"day=${m.plusDays(1)}/stray-crashed.parquet")
    org.apache.hadoop.fs.FileUtil.copy(
      fs,
      new org.apache.hadoop.fs.Path(dir, donor),
      fs,
      stray,
      false,
      s.sparkContext.hadoopConfiguration)
    val old = System.currentTimeMillis() - 10000L
    fs.setTimes(stray, old, old)
    val listingPoisoned = s.read.parquet(dir).count() > manifestN
    val dryOk = s
      .sql(s"CALL $cat.remove_orphans(table => 'ev', grace_ms => 1000, dry_run => true)")
      .head().getLong(0) == 1L && fs.exists(stray)
    val reapedOk = s
      .sql(s"CALL $cat.remove_orphans(table => 'ev', grace_ms => 1000)")
      .head().getLong(0) == 1L && !fs.exists(stray)
    val listingAgrees = s.read.parquet(dir).count() == manifestN
    val keepAllOk = s
      .sql(s"CALL $cat.vacuum(table => 'ev', retain_ms => ${3600L * 1000})")
      .head().getLong(0) == 0L
    val reclaimOk = s
      .sql(s"CALL $cat.vacuum(table => 'ev', retain_ms => 0)")
      .head().getLong(0) >= 1L
    s.sql(s"""
      |SELECT event_type, CAST(sum(n) AS BIGINT) AS n_live, CAST(sum(sum_u) AS BIGINT) AS u_live
      |FROM $cat.ev GROUP BY event_type ORDER BY event_type""".stripMargin)
      .withColumn("listing_poisoned", lit(listingPoisoned))
      .withColumn("dry_ok", lit(dryOk))
      .withColumn("reaped_ok", lit(reapedOk))
      .withColumn("listing_agrees", lit(listingAgrees))
      .withColumn("keepall_ok", lit(keepAllOk))
      .withColumn("reclaim_ok", lit(reclaimOk))
  }

  val q246Sql: String =
    """WITH s AS (
      |  SELECT CAST(ts AS DATE) AS day, event_type, CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS su
      |  FROM events GROUP BY 1, 2),
      |b AS (SELECT min(day) AS m FROM s)
      |SELECT event_type, CAST(sum(n) AS BIGINT) AS n_live, CAST(sum(su) AS BIGINT) AS u_live,
      |       true AS listing_poisoned, true AS dry_ok, true AS reaped_ok,
      |       true AS listing_agrees, true AS keepall_ok, true AS reclaim_ok
      |FROM s, b WHERE NOT (event_type = 'click' AND day = m)
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // -- q247: CHECK constraints — the ingest-time data-quality gate ---------

  /** `CALL add_check(…, expr => 'n > 0')` records a table-level CHECK
    * that every commit thereafter enforces against its NEW files only
    * ([[graft.sources.Constraints]], the O(delta) discipline): a
    * violating SQL INSERT refuses BEFORE any manifest lands and rolls its
    * landed part files back (`insert_refused` + `listing_agrees` — a raw
    * directory read still equals the manifest count, so the refused batch
    * can never be silently adopted later); a violating merge-on-read
    * upsert image refuses the same way (`upsert_refused` — the landed
    * images are deleted by the upsert's own commit-failure cleanup);
    * `add_check` against data that already violates refuses with the
    * violation count (`dirty_refused`); `drop_check` disables enforcement
    * (`post_drop_ok` — the formerly-violating row then lands, and the
    * oracle's recompute includes it). SQL-standard semantics: only FALSE
    * violates, NULL passes. At 100 TB: the gate costs one scan of each
    * commit's new files — the same delta the stats/bloom pass already
    * reads — and a poisoned upstream batch stops at the table boundary
    * instead of surfacing in next week's training run.
    */
  def q247(s: SparkSession, d: String): DataFrame = {
    val (cat, dir) = statsTable(s, d, "snapq247", Seq("day"))
    val m = Tables.events(s, d).agg(min(to_date(col("ts"))).as("m")).head().getDate(0).toLocalDate
    // a check the existing data violates must refuse, with the count
    val dirtyRefused =
      try {
        s.sql(s"CALL $cat.add_check(table => 'ev', name => 'huge', expr => 'sum_u < 0')").collect()
        false
      } catch { case e: Exception => e.getMessage.contains("existing row(s)") }
    s.sql(s"CALL $cat.add_check(table => 'ev', name => 'n_pos', expr => 'n > 0')").collect()
    val nBefore = s.sql(s"SELECT count(*) FROM $cat.ev").head().getLong(0)
    // a violating INSERT refuses and rolls its landing back
    val insertRefused =
      try {
        s.sql(s"INSERT INTO $cat.ev VALUES ('__bad', CAST(-1 AS BIGINT), CAST(5 AS BIGINT), DATE'$m')")
          .collect()
        false
      } catch { case e: Exception => e.getMessage.contains("n_pos") }
    val nAfterRefused = s.sql(s"SELECT count(*) FROM $cat.ev").head().getLong(0)
    val listingAgrees = s.read.parquet(dir).count() == nAfterRefused && nAfterRefused == nBefore
    // a violating merge-on-read upsert image refuses the same way
    val upsertRefused =
      try {
        graft.sources.DeleteVectors.upsert(
          s,
          dir,
          s.sql(s"SELECT DATE'$m' AS day, 'click' AS event_type, " +
            "CAST(-7 AS BIGINT) AS n, CAST(1 AS BIGINT) AS sum_u"),
          Seq("day", "event_type"))
        false
      } catch { case e: Exception => e.getMessage.contains("n_pos") }
    // a clean row lands; then drop_check re-admits anything
    s.sql(s"INSERT INTO $cat.ev VALUES ('__extra', CAST(7 AS BIGINT), CAST(123 AS BIGINT), DATE'$m')")
      .collect()
    s.sql(s"CALL $cat.drop_check(table => 'ev', name => 'n_pos')").collect()
    s.sql(s"INSERT INTO $cat.ev VALUES ('__bad', CAST(-1 AS BIGINT), CAST(5 AS BIGINT), DATE'$m')")
      .collect()
    val postDropOk = s.sql(s"SELECT count(*) FROM $cat.ev").head().getLong(0) == nBefore + 2L
    s.sql(s"""
      |SELECT event_type, CAST(sum(n) AS BIGINT) AS n_tot, CAST(sum(sum_u) AS BIGINT) AS u_tot
      |FROM $cat.ev GROUP BY event_type ORDER BY event_type""".stripMargin)
      .withColumn("dirty_refused", lit(dirtyRefused))
      .withColumn("insert_refused", lit(insertRefused))
      .withColumn("listing_agrees", lit(listingAgrees))
      .withColumn("upsert_refused", lit(upsertRefused))
      .withColumn("post_drop_ok", lit(postDropOk))
  }

  val q247Sql: String =
    """WITH s AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS su
      |  FROM events GROUP BY 1
      |  UNION ALL SELECT '__extra', CAST(7 AS BIGINT), CAST(123 AS BIGINT)
      |  UNION ALL SELECT '__bad', CAST(-1 AS BIGINT), CAST(5 AS BIGINT))
      |SELECT event_type, CAST(sum(n) AS BIGINT) AS n_tot, CAST(sum(su) AS BIGINT) AS u_tot,
      |       true AS dirty_refused, true AS insert_refused, true AS listing_agrees,
      |       true AS upsert_refused, true AS post_drop_ok
      |FROM s GROUP BY event_type ORDER BY event_type""".stripMargin

  // -- q248: a FILTERED materialized view kept LIVE by the refresh stream --

  /** The always-fresh filtered rollup: `CALL mv_create(…, where =>
    * "event_type = 'click'")` materializes only the click rows per day,
    * and [[graft.streaming.Streaming.mvRefreshStream]] — a manifest-log
    * stream on the SOURCE — wakes a refresh whenever any commit lands, so
    * the view follows the table with no scheduler. Exactly-once costs
    * nothing extra: the refresh is watermark-driven, so replayed or
    * coalesced triggers are no-ops. Two commits land while the stream
    * runs: an in-filter insert (a synthetic click day — the view gains
    * its group) and an out-of-filter insert (a view-event day — the
    * filter excludes it BOTH from the affected-key feed and from the
    * recompute, `no_phantom`); `fresh_ok` pins the watermark at the
    * source head and `cat.clicks.mv` must read `stale = false`. At
    * 100 TB: the dashboard's click rollup refreshes within a trigger of
    * every commit, each wake priced at the commit's own changed groups.
    */
  def q248(s: SparkSession, d: String): DataFrame = {
    val (cat, dir) = statsTable(s, d, "snapq248", Seq("day", "event_type"))
    val base = new org.apache.hadoop.fs.Path(dir).getParent
    val mvDir = new org.apache.hadoop.fs.Path(base, "clicks").toString
    s.sql(s"CALL $cat.mv_create(mv => 'clicks', source => 'ev', keys => 'day', " +
      "aggs => 'sum(n) AS n_clicks; sum(sum_u) AS u_clicks', " +
      "where => \"event_type = 'click'\")")
    val q = graft.streaming.Streaming.mvRefreshStream(
      s, mvDir, new org.apache.hadoop.fs.Path(base, "ckpt").toString)
    val (freshOk, noPhantom) =
      try {
        q.processAllAvailable() // drains the create-time manifests: no-op
        s.sql(s"INSERT INTO $cat.ev VALUES ('click', CAST(7 AS BIGINT), CAST(42 AS BIGINT), DATE'1999-12-31')")
          .collect()
        s.sql(s"INSERT INTO $cat.ev VALUES ('view', CAST(5 AS BIGINT), CAST(5 AS BIGINT), DATE'1999-12-30')")
          .collect()
        q.processAllAvailable() // the commits' manifests wake the refresh
        val fresh = graft.sources.Mv.definition(s, mvDir).refreshedVersion ==
          graft.sources.Snapshots.latestVersion(s, dir) &&
          !s.sql(s"SELECT stale FROM $cat.clicks.mv").head().getBoolean(0)
        val phantomFree = s
          .sql(s"SELECT count(*) FROM $cat.clicks WHERE day = DATE'1999-12-30'")
          .head().getLong(0) == 0L
        (fresh, phantomFree)
      } finally q.stop()
    s.sql(s"SELECT day, n_clicks, u_clicks FROM $cat.clicks ORDER BY day")
      .withColumn("fresh_ok", lit(freshOk))
      .withColumn("no_phantom", lit(noPhantom))
  }

  val q248Sql: String =
    """WITH s AS (
      |  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS su
      |  FROM events WHERE event_type = 'click' GROUP BY 1
      |  UNION ALL SELECT DATE'1999-12-31', CAST(7 AS BIGINT), CAST(42 AS BIGINT))
      |SELECT day, CAST(sum(n) AS BIGINT) AS n_clicks, CAST(sum(su) AS BIGINT) AS u_clicks,
      |       true AS fresh_ok, true AS no_phantom
      |FROM s GROUP BY day ORDER BY day""".stripMargin

  // -- q249: join-aware materialized view (star-schema rollup) -------------

  /** THE dashboard MV a star schema actually wants: `SELECT dim.attr,
    * aggs(fact) FROM fact JOIN dim GROUP BY dim.attr` — here per-event
    * stats rolled up by a dimension table's CATEGORY (click/view →
    * engagement, purchase/signup → commerce, error → ops) with a
    * dim-weighted measure (`sum(n * wt)`), created through `CALL
    * mv_create(dims => 'dim ON event_type=et')`. Refresh re-prices at
    * the FACT change feed with the dim re-resolved broadcast
    * ([[graft.sources.Mv]]): affected dim-attr groups TRACE back through
    * the dim to the fact join-key values that can reach them, and those
    * values drive partition-exact narrowing. The proof is physical:
    * the `purchase` partition's file (commerce — untouched by all three
    * windows) is corrupted BEFORE the refreshes; window 1 (a new click
    * row → engagement) must open only the click/view files, window 2
    * (every `error` row merge-on-read deleted → the `ops` group
    * vanishes) must open nothing at all, and window 3 — a DIM-ONLY
    * re-map (`view` → a new `viewing` category) — takes the DIM-DELTA
    * path: affected groups derive from the dim's own change feed under
    * both mappings, and the recompute scans only the changed key's
    * reachable partitions. At 100 TB: the nightly category rollup of a
    * join-key-clustered fact costs the changed categories' files — the
    * dim re-resolves as a broadcast, the fact never re-scans, and a
    * slowly-changing-dimension update prices at the changed dim keys.
    */
  def q249(s: SparkSession, d: String): DataFrame = {
    val base = new org.apache.hadoop.fs.Path(
      System.getProperty("java.io.tmpdir"),
      s"graft_snapq249_${java.lang.Integer.toHexString(d.hashCode)}_${s.sparkContext.applicationId}")
    graft.core.Scratch.register(base.toString)
    val fs = base.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(base)) fs.delete(base, true)
    val dir = new org.apache.hadoop.fs.Path(base, "ev").toString
    val dimDir = new org.apache.hadoop.fs.Path(base, "dim").toString
    val mvDir = new org.apache.hadoop.fs.Path(base, "bycat").toString
    val stats = s.read.parquet(stagedStatsDir(s, d))
      .select(col("event_type"), col("day"), col("n"), col("sum_u"))
    val dim = {
      import s.implicits._
      Seq(
        ("click", "engagement", 1L),
        ("view", "engagement", 2L),
        ("purchase", "commerce", 3L),
        ("signup", "commerce", 4L),
        ("error", "ops", 5L)).toDF("et", "category", "wt")
    }
    // fact and dim tables are independent roots — overlapped write+commit
    // (guide §2.6): two serial fixed-cost commit tails become one
    graft.core.Par.two(
      () => {
        graft.sources.Sources.writeParquet(
          stats.repartition(col("event_type")), dir, Seq("event_type"))
        graft.sources.Snapshots.commit(s, dir, Seq("event_type", "day"))
      },
      () => {
        graft.sources.Sources.writeParquet(dim.repartition(1), dimDir)
        graft.sources.Snapshots.commit(s, dimDir, Seq("et"))
      })
    val cat = s"snapq249_${java.lang.Integer.toHexString(d.hashCode)}"
    s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.snap.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", base.toString)
    s.sql(s"CALL $cat.mv_create(mv => 'bycat', source => 'ev', keys => 'category', " +
      "aggs => 'count(*) AS n_rows; sum(n) AS n_tot; sum(sum_u) AS u_tot; sum(n * wt) AS nw_tot', " +
      "dims => 'dim ON event_type=et')").collect()
    val dimsMeta = s.sql(s"SELECT dims FROM $cat.bycat.mv").head().getString(0)
    val metaOk = dimsMeta != null && dimsMeta.contains("ON event_type=et")
    // window 1: one new click row — only `engagement` is affected
    graft.sources.DeleteVectors.upsert(
      s, dir,
      s.sql("SELECT 'click' AS event_type, DATE'1999-12-31' AS day, CAST(7 AS BIGINT) AS n, " +
        "CAST(42 AS BIGINT) AS sum_u"),
      Seq("event_type", "day"))
    // the canary: purchase (commerce) is untouched by both windows — a
    // refresh whose trace expansion leaks past {click, view} dies here
    val victim = graft.sources.Snapshots
      .files(s, dir)
      .find(_.startsWith("event_type=purchase/"))
      .get
    corruptFile(s, fs, new org.apache.hadoop.fs.Path(dir, victim))
    val r1 = graft.sources.Mv.refresh(s, mvDir)
    val incr1Ok = !r1.fullResync && r1.groupsRecomputed == 1L && r1.groupsDeleted == 0L
    // window 2: every `error` row merge-on-read deletes — `ops` vanishes
    // without the refresh opening a single file (the partition's files
    // are fully-vectored, so the candidate set is empty)
    graft.sources.DeleteVectors.deleteWhere(s, dir, col("event_type") === "error")
    val r2 = s.sql(s"CALL $cat.mv_refresh(mv => 'bycat')").head()
    val incr2Ok = !r2.getBoolean(4) && r2.getLong(2) == 0L && r2.getLong(3) == 1L
    // window 3: a DIM-ONLY change — `view` re-maps to a brand-new
    // category. The dim-delta path derives the affected groups from the
    // dim's OWN feed (engagement under the old mapping, viewing under
    // the new) and the recompute scans only the click/view partitions:
    // the corrupt purchase file STAYS closed through this window too
    graft.sources.DeleteVectors.upsert(
      s, dimDir,
      s.sql("SELECT 'view' AS et, 'viewing' AS category, CAST(2 AS BIGINT) AS wt"),
      Seq("et"))
    val r3 = graft.sources.Mv.refresh(s, mvDir)
    val incr3Ok = !r3.fullResync && r3.groupsRecomputed == 2L && r3.groupsDeleted == 0L
    val freshOk = !s.sql(s"SELECT stale FROM $cat.bycat.mv").head().getBoolean(0)
    s.sql(s"SELECT category, n_rows, n_tot, u_tot, nw_tot FROM $cat.bycat ORDER BY category")
      .withColumn("meta_ok", lit(metaOk))
      .withColumn("incr1_ok", lit(incr1Ok))
      .withColumn("incr2_ok", lit(incr2Ok))
      .withColumn("incr3_ok", lit(incr3Ok))
      .withColumn("fresh_ok", lit(freshOk))
  }

  val q249Sql: String =
    """WITH s AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS su
      |  FROM events GROUP BY 1, 2),
      |final AS (
      |  SELECT * FROM s WHERE event_type <> 'error'
      |  UNION ALL SELECT 'click', DATE'1999-12-31', CAST(7 AS BIGINT), CAST(42 AS BIGINT)),
      |joined AS (
      |  SELECT CASE WHEN event_type = 'click' THEN 'engagement'
      |              WHEN event_type = 'view' THEN 'viewing'
      |              WHEN event_type IN ('purchase', 'signup') THEN 'commerce'
      |              ELSE 'ops' END AS category,
      |         CASE event_type WHEN 'click' THEN 1 WHEN 'view' THEN 2
      |              WHEN 'purchase' THEN 3 WHEN 'signup' THEN 4 ELSE 5 END AS wt,
      |         n, su
      |  FROM final)
      |SELECT category, CAST(count(*) AS BIGINT) AS n_rows, CAST(sum(n) AS BIGINT) AS n_tot,
      |       CAST(sum(su) AS BIGINT) AS u_tot, CAST(sum(n * wt) AS BIGINT) AS nw_tot,
      |       true AS meta_ok, true AS incr1_ok, true AS incr2_ok, true AS incr3_ok,
      |       true AS fresh_ok
      |FROM joined GROUP BY 1 ORDER BY 1""".stripMargin

  // -- q253: LEFT-join MV — the uncategorized bucket, incrementally --------

  /** The star schema's missing-dimension reality: `CREATE MATERIALIZED
    * VIEW … AS SELECT category, event_type, … FROM fact LEFT JOIN dim …`
    * where the dim simply has no row for some event types — those fact
    * rows form the NULL ("uncategorized") bucket, a first-class group.
    * Window 1 inserts a brand-new UNMATCHED event type (the NULL bucket
    * gains a group); window 2 inserts the missing DIM row (the dim-delta
    * path: the bucket's rows re-map into the new category — one group
    * vanishes, one appears). Narrowing survives the degenerate case by
    * construction: the NULL-keyed dim attribute cannot constrain a LEFT
    * join (unmatched keys are precisely the keys NOT in the dim), but
    * the FACT-side group key (`event_type`) still narrows partition-
    * exactly — the corrupt `purchase` file proves zero stray opens
    * through both windows. At 100 TB: late-arriving dimension data is
    * the norm, and back-filling a dim row re-prices at the affected
    * join keys' files, never the fact table.
    */
  def q253(s: SparkSession, d: String): DataFrame = {
    val base = new org.apache.hadoop.fs.Path(
      System.getProperty("java.io.tmpdir"),
      s"graft_snapq253_${java.lang.Integer.toHexString(d.hashCode)}_${s.sparkContext.applicationId}")
    graft.core.Scratch.register(base.toString)
    val fs = base.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(base)) fs.delete(base, true)
    val dir = new org.apache.hadoop.fs.Path(base, "ev").toString
    val dimDir = new org.apache.hadoop.fs.Path(base, "dim").toString
    val mvDir = new org.apache.hadoop.fs.Path(base, "bycat").toString
    val stats = s.read.parquet(stagedStatsDir(s, d))
      .select(col("event_type"), col("day"), col("n"), col("sum_u"))
    val dim = {
      import s.implicits._
      // deliberately NO row for 'error' (or the synthetic 'zzz'):
      // unmatched types live in the NULL bucket
      Seq(
        ("click", "engagement"),
        ("view", "engagement"),
        ("purchase", "commerce"),
        ("signup", "commerce")).toDF("et", "category")
    }
    // independent roots — overlapped write+commit (guide §2.6), as q249
    graft.core.Par.two(
      () => {
        graft.sources.Sources.writeParquet(
          stats.repartition(col("event_type")), dir, Seq("event_type"))
        graft.sources.Snapshots.commit(s, dir, Seq("event_type", "day"))
      },
      () => {
        graft.sources.Sources.writeParquet(dim.repartition(1), dimDir)
        graft.sources.Snapshots.commit(s, dimDir, Seq("et"))
      })
    val cat = s"snapq253_${java.lang.Integer.toHexString(d.hashCode)}"
    s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.snap.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", base.toString)
    s.sql(s"""CREATE MATERIALIZED VIEW $cat.bycat AS
      |SELECT category, event_type, count(*) AS n_rows, sum(n) AS n_tot, sum(sum_u) AS u_tot
      |FROM $cat.ev LEFT JOIN $cat.dim d ON event_type = d.et
      |GROUP BY category, event_type""".stripMargin).collect()
    // window 1: a brand-new UNMATCHED type — only the NULL bucket changes
    s.sql(s"INSERT INTO $cat.ev VALUES (DATE'1999-12-31', CAST(7 AS BIGINT), " +
      "CAST(42 AS BIGINT), 'zzz')").collect()
    val victim = graft.sources.Snapshots
      .files(s, dir)
      .find(_.startsWith("event_type=purchase/"))
      .get
    corruptFile(s, fs, new org.apache.hadoop.fs.Path(dir, victim))
    val r1 = graft.sources.Mv.refresh(s, mvDir)
    val incr1Ok = !r1.fullResync && r1.groupsRecomputed == 1L && r1.groupsDeleted == 0L
    // window 2: the late-arriving dim row — 'zzz' re-maps out of the bucket
    graft.sources.DeleteVectors.upsert(
      s, dimDir,
      s.sql("SELECT 'zzz' AS et, 'newcat' AS category"),
      Seq("et"))
    val r2 = s.sql(s"REFRESH MATERIALIZED VIEW $cat.bycat").head()
    val incr2Ok = !r2.getBoolean(4) && r2.getLong(2) == 1L && r2.getLong(3) == 1L
    s.sql(s"""SELECT coalesce(category, '(none)') AS k, event_type, n_rows, n_tot, u_tot
      |FROM $cat.bycat ORDER BY k, event_type""".stripMargin)
      .withColumn("incr1_ok", lit(incr1Ok))
      .withColumn("incr2_ok", lit(incr2Ok))
  }

  val q253Sql: String =
    """WITH s AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS su
      |  FROM events GROUP BY 1, 2),
      |final AS (
      |  SELECT * FROM s
      |  UNION ALL SELECT 'zzz', DATE'1999-12-31', CAST(7 AS BIGINT), CAST(42 AS BIGINT)),
      |joined AS (
      |  SELECT CASE WHEN event_type IN ('click', 'view') THEN 'engagement'
      |              WHEN event_type IN ('purchase', 'signup') THEN 'commerce'
      |              WHEN event_type = 'zzz' THEN 'newcat' END AS category,
      |         event_type, n, su
      |  FROM final)
      |SELECT coalesce(category, '(none)') AS k, event_type,
      |       CAST(count(*) AS BIGINT) AS n_rows, CAST(sum(n) AS BIGINT) AS n_tot,
      |       CAST(sum(su) AS BIGINT) AS u_tot, true AS incr1_ok, true AS incr2_ok
      |FROM joined GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // -- q250: the MV lifecycle purely through SQL DDL -----------------------

  /** The SQL-first user's materialized view: `CREATE MATERIALIZED VIEW …
    * AS SELECT … FROM fact JOIN dim ON … WHERE dim.attr = … GROUP BY …`
    * parsed by [[graft.plans.GraftSqlParser]] (a parser extension whose
    * SELECT analysis is Spark's own grammar — the plan pattern-matches
    * into [[graft.sources.Mv.create]]), then `INSERT INTO` and SQL
    * `DELETE` land change windows, `REFRESH MATERIALIZED VIEW` applies
    * each one incrementally (`incr1_ok`: a one-day insert recomputes one
    * group off the feed; `incr2_ok`: deleting a day's in-filter rows
    * deletes exactly that group), and `DROP MATERIALIZED VIEW` removes a
    * scratch view whole and idempotently (`drop_ok`). Not a procedure
    * call in sight — the entire lifecycle is the standard DDL any BI
    * tool or SQL client can speak. The filter references the DIM side
    * (`category = 'engagement'`), so the change feed's dim join is load-
    * bearing for the affected-group computation, not just the recompute.
    */
  def q250(s: SparkSession, d: String): DataFrame = {
    val (cat, dir) = statsTable(s, d, "snapq250", Seq("day"))
    val base = new org.apache.hadoop.fs.Path(dir).getParent
    val dimDir = new org.apache.hadoop.fs.Path(base, "dim").toString
    val dim = {
      import s.implicits._
      Seq(
        ("click", "engagement"),
        ("view", "engagement"),
        ("purchase", "commerce"),
        ("signup", "commerce"),
        ("error", "ops")).toDF("et", "category")
    }
    // dim setup and the events min-day probe are independent — overlap
    // them (guide §2.6); both run after statsTable wiped/recreated `base`
    val (_, m) = graft.core.Par.two(
      () => {
        graft.sources.Sources.writeParquet(dim.repartition(1), dimDir)
        graft.sources.Snapshots.commit(s, dimDir, Seq("et"))
      },
      () =>
        Tables.events(s, d).agg(min(to_date(col("ts"))).as("m")).head().getDate(0).toLocalDate)
    s.sql(s"""CREATE MATERIALIZED VIEW $cat.daily_eng AS
      |SELECT day, count(*) AS n_rows, sum(n) AS n_tot, sum(sum_u) AS u_tot
      |FROM $cat.ev JOIN $cat.dim d ON event_type = d.et
      |WHERE category = 'engagement' GROUP BY day""".stripMargin).collect()
    // window 1: one SQL INSERT — a brand-new engagement day
    s.sql(s"INSERT INTO $cat.ev VALUES ('click', CAST(7 AS BIGINT), CAST(42 AS BIGINT), DATE'1999-12-31')")
      .collect()
    val r1 = s.sql(s"REFRESH MATERIALIZED VIEW $cat.daily_eng").head()
    val incr1Ok = !r1.getBoolean(4) && r1.getLong(2) == 1L && r1.getLong(3) == 0L
    // window 2: SQL DELETE of day m's in-filter rows — the group vanishes
    s.sql(s"DELETE FROM $cat.ev WHERE day = DATE'$m' AND event_type IN ('click', 'view')")
      .collect()
    val r2 = s.sql(s"REFRESH MATERIALIZED VIEW $cat.daily_eng").head()
    val incr2Ok = !r2.getBoolean(4) && r2.getLong(2) == 0L && r2.getLong(3) == 1L
    // a scratch view: DROP is whole and idempotent
    s.sql(s"CREATE MATERIALIZED VIEW $cat.scratch AS " +
      s"SELECT event_type, count(*) AS n FROM $cat.ev GROUP BY event_type").collect()
    val dropOk = s.sql(s"DROP MATERIALIZED VIEW $cat.scratch").head().getBoolean(0) &&
      !s.sql(s"DROP MATERIALIZED VIEW $cat.scratch").head().getBoolean(0)
    s.sql(s"SELECT day, n_rows, n_tot, u_tot FROM $cat.daily_eng ORDER BY day")
      .withColumn("incr1_ok", lit(incr1Ok))
      .withColumn("incr2_ok", lit(incr2Ok))
      .withColumn("drop_ok", lit(dropOk))
  }

  val q250Sql: String =
    """WITH s AS (
      |  SELECT CAST(ts AS DATE) AS day, event_type, CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS su
      |  FROM events GROUP BY 1, 2),
      |b AS (SELECT min(day) AS m FROM s),
      |eng AS (
      |  SELECT day, n, su FROM s, b
      |  WHERE event_type IN ('click', 'view') AND day <> m
      |  UNION ALL SELECT DATE'1999-12-31', CAST(7 AS BIGINT), CAST(42 AS BIGINT))
      |SELECT day, CAST(count(*) AS BIGINT) AS n_rows, CAST(sum(n) AS BIGINT) AS n_tot,
      |       CAST(sum(su) AS BIGINT) AS u_tot,
      |       true AS incr1_ok, true AS incr2_ok, true AS drop_ok
      |FROM eng GROUP BY day ORDER BY day""".stripMargin

  // -- q251: CHECK constraints re-proven at branch adoption ----------------

  /** The fast-forward gate for checks that postdate the branch: a branch
    * lands rows while the table has NO checks, then main records
    * `CALL add_check(n > 0)` (its own rows pass) — the branch's landed
    * row now violates a check its land-time enforcement never saw.
    * `fast_forward` must REFUSE naming the check (adopting would smuggle
    * exactly the rows the gate exists to stop — [[graft.sources
    * .Snapshots.fastForward]]'s adoption-time re-proof), leave both
    * lines intact (`branch_intact`), and a branch merge-on-read delete
    * of the violating row clears the gate (`dv_clears`: the enforcement
    * scan applies the branch's deletion vectors — a logically-deleted
    * row must not refuse adoption). The final hash proves the adopted
    * table holds exactly main + the clean branch row. At 100 TB: the
    * re-proof costs one scan of the branch DELTA (the adoption's own
    * price), zero when the table has no checks.
    */
  def q251(s: SparkSession, d: String): DataFrame = {
    val (cat, dir) = statsTable(s, d, "snapq251", Seq("day"))
    s.sql(s"CALL $cat.create_branch(table => 'ev', name => 'staging')").collect()
    graft.sources.Snapshots.appendToBranch(
      s, dir, "staging",
      s.sql("SELECT '__bad' AS event_type, CAST(-5 AS BIGINT) AS n, " +
        "CAST(1 AS BIGINT) AS sum_u, DATE'1999-12-31' AS day").unionAll(
        s.sql("SELECT '__clean' AS event_type, CAST(7 AS BIGINT) AS n, " +
          "CAST(123 AS BIGINT) AS sum_u, DATE'1999-12-30' AS day")))
    val nBranch = graft.sources.Snapshots.readBranch(s, dir, "staging").count()
    // the check postdates the branch's landing; main's own rows pass
    s.sql(s"CALL $cat.add_check(table => 'ev', name => 'n_pos', expr => 'n > 0')").collect()
    val nMain = s.sql(s"SELECT count(*) FROM $cat.ev").head().getLong(0)
    val ffRefused =
      try { s.sql(s"CALL $cat.fast_forward(table => 'ev', name => 'staging')").collect(); false }
      catch { case e: Exception => e.getMessage.contains("n_pos") }
    val branchIntact =
      graft.sources.Snapshots.readBranch(s, dir, "staging").count() == nBranch &&
        s.sql(s"SELECT count(*) FROM $cat.ev").head().getLong(0) == nMain
    // a branch MoR delete of the violating row clears the gate
    graft.sources.DeleteVectors.deleteWhere(s, dir, col("n") < 0, branch = "staging")
    s.sql(s"CALL $cat.fast_forward(table => 'ev', name => 'staging')").collect()
    val dvClears = s.sql(s"SELECT count(*) FROM $cat.ev").head().getLong(0) == nMain + 1L
    s.sql(s"""
      |SELECT event_type, CAST(sum(n) AS BIGINT) AS n_tot, CAST(sum(sum_u) AS BIGINT) AS u_tot
      |FROM $cat.ev GROUP BY event_type ORDER BY event_type""".stripMargin)
      .withColumn("ff_refused", lit(ffRefused))
      .withColumn("branch_intact", lit(branchIntact))
      .withColumn("dv_clears", lit(dvClears))
  }

  val q251Sql: String =
    """WITH s AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS su
      |  FROM events GROUP BY 1
      |  UNION ALL SELECT '__clean', CAST(7 AS BIGINT), CAST(123 AS BIGINT))
      |SELECT event_type, CAST(sum(n) AS BIGINT) AS n_tot, CAST(sum(su) AS BIGINT) AS u_tot,
      |       true AS ff_refused, true AS branch_intact, true AS dv_clears
      |FROM s GROUP BY event_type ORDER BY event_type""".stripMargin

  // -- q252: NULL-keyed MV groups — change-priced and atomic ---------------

  /** A materialized view whose grouping key is NULLABLE (here
    * `nullif(event_type, 'click')` — the "uncategorized" bucket every
    * real dimension has): NULL groups must refresh exactly like any
    * other group, in the SAME atomic MV version, and without forfeiting
    * change-pricing. The physical proof is double: an untouched
    * partition's file — which records ZERO nulls in the key column — is
    * corrupted BEFORE the refreshes, so any plan that falls back to
    * scanning all live files (the old conservative path) dies loudly;
    * and each refresh must advance the view by exactly ONE version
    * (`atomic1_ok`/`atomic2_ok` — no separate NULL pre-delete commit a
    * reader could observe). Window 1 touches only the NULL group; window
    * 2 mixes a NULL-group update with a whole-group delete. At 100 TB:
    * per-file null-count stats keep the NULL bucket's refresh priced at
    * the null-bearing files, not the table ([[graft.sources
    * .DeleteVectors.candidateRelsForKeys]]'s null-safe arm).
    */
  def q252(s: SparkSession, d: String): DataFrame = {
    val base = new org.apache.hadoop.fs.Path(
      System.getProperty("java.io.tmpdir"),
      s"graft_snapq252_${java.lang.Integer.toHexString(d.hashCode)}_${s.sparkContext.applicationId}")
    graft.core.Scratch.register(base.toString)
    val fs = base.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(base)) fs.delete(base, true)
    val dir = new org.apache.hadoop.fs.Path(base, "ev").toString
    val mvDir = new org.apache.hadoop.fs.Path(base, "bykey").toString
    val stats = s.read.parquet(stagedStatsDir(s, d))
      .select(col("event_type"), col("day"), col("n"), col("sum_u"))
      .withColumn("nkey", expr("nullif(event_type, 'click')"))
    graft.sources.Sources.writeParquet(
      stats.repartition(col("event_type")), dir, Seq("event_type"))
    graft.sources.Snapshots.commit(s, dir, Seq("event_type", "day", "nkey"))
    graft.sources.Mv.create(
      s, dir, mvDir, Seq("nkey"),
      Seq("count(*) AS n_rows", "sum(n) AS n_tot", "sum(sum_u) AS u_tot"))
    // window 1: ONLY the NULL group changes (a new click day)
    graft.sources.DeleteVectors.upsert(
      s, dir,
      s.sql("SELECT 'click' AS event_type, DATE'1999-12-31' AS day, CAST(7 AS BIGINT) AS n, " +
        "CAST(42 AS BIGINT) AS sum_u, CAST(NULL AS STRING) AS nkey"),
      Seq("event_type", "day"))
    // the canary: event_type=view's file records ZERO nulls in nkey — a
    // NULL-group refresh that opens it (the pre-r15 alive fallback) dies
    val victim = graft.sources.Snapshots
      .files(s, dir)
      .find(_.startsWith("event_type=view/"))
      .get
    corruptFile(s, fs, new org.apache.hadoop.fs.Path(dir, victim))
    val mvV0 = graft.sources.Snapshots.latestVersion(s, mvDir)
    val r1 = graft.sources.Mv.refresh(s, mvDir)
    val incr1Ok = !r1.fullResync && r1.groupsRecomputed == 1L && r1.groupsDeleted == 0L
    val atomic1Ok = graft.sources.Snapshots.latestVersion(s, mvDir) == mvV0 + 1L
    // window 2: the NULL group again (second click day) PLUS a whole
    // group vanishing (every 'error' row merge-on-read deletes)
    graft.sources.DeleteVectors.upsert(
      s, dir,
      s.sql("SELECT 'click' AS event_type, DATE'1999-12-30' AS day, CAST(9 AS BIGINT) AS n, " +
        "CAST(43 AS BIGINT) AS sum_u, CAST(NULL AS STRING) AS nkey"),
      Seq("event_type", "day"))
    graft.sources.DeleteVectors.deleteWhere(s, dir, col("event_type") === "error")
    val mvV1 = graft.sources.Snapshots.latestVersion(s, mvDir)
    val r2 = graft.sources.Mv.refresh(s, mvDir)
    val incr2Ok = !r2.fullResync && r2.groupsRecomputed == 1L && r2.groupsDeleted == 1L
    val atomic2Ok = graft.sources.Snapshots.latestVersion(s, mvDir) == mvV1 + 1L
    graft.sources.Snapshots
      .readSnapshot(s, mvDir)
      .select(
        coalesce(col("nkey"), lit("(null)")).as("k"),
        col("n_rows"),
        col("n_tot"),
        col("u_tot"))
      .orderBy(col("k"))
      .withColumn("incr1_ok", lit(incr1Ok))
      .withColumn("atomic1_ok", lit(atomic1Ok))
      .withColumn("incr2_ok", lit(incr2Ok))
      .withColumn("atomic2_ok", lit(atomic2Ok))
  }

  val q252Sql: String =
    """WITH s AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS su
      |  FROM events GROUP BY 1, 2),
      |final AS (
      |  SELECT * FROM s WHERE event_type <> 'error'
      |  UNION ALL SELECT 'click', DATE'1999-12-31', CAST(7 AS BIGINT), CAST(42 AS BIGINT)
      |  UNION ALL SELECT 'click', DATE'1999-12-30', CAST(9 AS BIGINT), CAST(43 AS BIGINT))
      |SELECT coalesce(nullif(event_type, 'click'), '(null)') AS k,
      |       CAST(count(*) AS BIGINT) AS n_rows, CAST(sum(n) AS BIGINT) AS n_tot,
      |       CAST(sum(su) AS BIGINT) AS u_tot,
      |       true AS incr1_ok, true AS atomic1_ok, true AS incr2_ok, true AS atomic2_ok
      |FROM final GROUP BY 1 ORDER BY 1""".stripMargin

  // -- q254: expression-keyed MV — the hourly rollup, interval-narrowed ----

  /** THE canonical TSDB materialization: `CREATE MATERIALIZED VIEW hourly
    * AS SELECT date_trunc('hour', ts) AS h, event_type, … GROUP BY 1, 2`
    * — the group key is an EXPRESSION over the fact's timestamp, not a
    * column, previously inexpressible without pre-materializing the
    * bucket. Refresh stays change-priced through the derived key's
    * MONOTONE INVERSE ([[graft.sources.Mv.monotoneInverse]]): an affected
    * hour value bounds `ts` to `[h, h+1h)`, and the per-file micros
    * stats interval decides admission — so window 1 (one INSERT into a
    * brand-new hour) recomputes one group from that hour's file alone,
    * and window 2 (a merge-on-read DELETE of the max day's `error` rows)
    * recomputes only that day's touched hours. The proof is physical:
    * the MIN day's file is corrupted BEFORE both refreshes and neither
    * may open it — a refresh that fell back to scanning live files (or
    * whose inverse mapped the interval wrong) dies loudly. The fixture
    * writes TIMESTAMP_MICROS so `ts` carries INT64 footer stats (INT96,
    * the session default for oracle dumps, records none — narrowing
    * would degrade to keep-everything and the canary would catch it).
    * At 100 TB: the hourly downsample of a day-partitioned fact refreshes
    * at the changed hours' files, never the table — the #1 materialized
    * view a time-series user creates.
    */
  def q254(s: SparkSession, d: String): DataFrame = {
    val base = new org.apache.hadoop.fs.Path(
      System.getProperty("java.io.tmpdir"),
      s"graft_snapq254_${java.lang.Integer.toHexString(d.hashCode)}_${s.sparkContext.applicationId}")
    graft.core.Scratch.register(base.toString)
    val fs = base.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(base)) fs.delete(base, true)
    val dir = new org.apache.hadoop.fs.Path(base, "ev").toString
    val mvDir = new org.apache.hadoop.fs.Path(base, "hourly").toString
    // the micros copy stages once per (dir, app) — the bench's second
    // pass (and any sibling fixture) byte-copies it instead of re-paying
    // the events scan + TIMESTAMP_MICROS rewrite
    copyStaged(s, stagedMicrosEventsDir(s, d), dir)
    graft.sources.Snapshots.commit(s, dir, Seq("day", "ts", "event_type"), Seq("event_type"))
    val src = s.read.parquet(dir).select(col("ts"), col("event_type"), col("u"), col("day"))
    val cat = s"snapq254_${java.lang.Integer.toHexString(d.hashCode)}"
    s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.snap.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", base.toString)
    // the MV create and the day-span probe both only READ the committed
    // table — overlap them (guide §2.6)
    val (_, Array(mn, mx)) = graft.core.Par.two(
      () => s.sql(s"""CREATE MATERIALIZED VIEW $cat.hourly AS
        |SELECT date_trunc('hour', ts) AS h, event_type, count(*) AS n_rows, sum(u) AS u_tot
        |FROM $cat.ev GROUP BY 1, 2""".stripMargin).collect(),
      () => src.agg(min(col("day")), max(col("day"))).head() match {
        case r => Array(r.getDate(0).toLocalDate, r.getDate(1).toLocalDate)
      })
    val keyxOk = graft.sources.Mv.definition(s, mvDir).keyExprs
      .get("h").exists(_.contains("date_trunc"))
    // window 1: one INSERT into a brand-new hour of a brand-new day
    s.sql(s"INSERT INTO $cat.ev VALUES (TIMESTAMP'1999-12-31 23:20:00', 'click', " +
      "CAST(42 AS BIGINT), DATE'1999-12-31')").collect()
    // the canary: the MIN day is untouched by both windows — corrupt it
    // BEFORE the refreshes; an affected-hour interval that leaks past its
    // own day's files dies here
    val victim = graft.sources.Snapshots
      .files(s, dir)
      .find(_.startsWith(s"day=$mn/"))
      .get
    corruptFile(s, fs, new org.apache.hadoop.fs.Path(dir, victim))
    val r1 = s.sql(s"REFRESH MATERIALIZED VIEW $cat.hourly").head()
    val incr1Ok = !r1.getBoolean(4) && r1.getLong(2) == 1L && r1.getLong(3) == 0L
    // window 2: merge-on-read DELETE of the MAX day's error rows — the
    // affected hours all lie inside that day's interval
    s.sql(s"DELETE FROM $cat.ev WHERE day = DATE'$mx' AND event_type = 'error'").collect()
    val r2 = s.sql(s"REFRESH MATERIALIZED VIEW $cat.hourly").head()
    val incr2Ok = !r2.getBoolean(4) && (r2.getLong(2) + r2.getLong(3)) > 0L
    val freshOk = !s.sql(s"SELECT stale FROM $cat.hourly.mv").head().getBoolean(0)
    s.sql(s"SELECT h, event_type, n_rows, u_tot FROM $cat.hourly ORDER BY h, event_type")
      .withColumn("keyx_ok", lit(keyxOk))
      .withColumn("incr1_ok", lit(incr1Ok))
      .withColumn("incr2_ok", lit(incr2Ok))
      .withColumn("fresh_ok", lit(freshOk))
  }

  val q254Sql: String =
    """WITH s AS (
      |  SELECT date_trunc('hour', ts) AS h, CAST(ts AS DATE) AS day, event_type,
      |         CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS u
      |  FROM events),
      |b AS (SELECT max(day) AS mx FROM s),
      |final AS (
      |  SELECT h, event_type, u FROM s, b WHERE NOT (day = mx AND event_type = 'error')
      |  UNION ALL SELECT TIMESTAMP '1999-12-31 23:00:00', 'click', CAST(42 AS BIGINT))
      |SELECT h, event_type, CAST(count(*) AS BIGINT) AS n_rows, CAST(sum(u) AS BIGINT) AS u_tot,
      |       true AS keyx_ok, true AS incr1_ok, true AS incr2_ok, true AS fresh_ok
      |FROM final GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // -- q255: MV refresh across source schema evolution ---------------------

  /** The pinned MV × schema-evolution contract ([[graft.sources.Mv]]'s
    * `refTypes`): an `ALTER TABLE ADD COLUMNS` lands BETWEEN two refresh
    * windows and the view — which never references the new column — must
    * not notice: both windows refresh incrementally off the feed and the
    * final hash matches a DuckDB recompute that never heard of the
    * column. The inverse direction refuses: a sibling view whose SUM
    * references an INT column sees `ALTER COLUMN ... TYPE BIGINT` and
    * its refresh refuses LOUDLY naming the column and both types
    * (`widen_refused`) — the recorded agg SQL re-resolves fresh each
    * refresh, so a silent widening would change the view's result type
    * mid-history with no record of when. At 100 TB: tables evolve
    * constantly under living views; "unreferenced evolution is free,
    * referenced evolution is a conscious rebuild" is the only contract
    * that never silently corrupts a dashboard.
    */
  def q255(s: SparkSession, d: String): DataFrame = {
    val (cat, dir) = statsTable(s, d, "snapq255", Seq("day"))
    val base = new org.apache.hadoop.fs.Path(dir).getParent
    val mvDir = new org.apache.hadoop.fs.Path(base, "daily").toString
    s.sql(s"CREATE MATERIALIZED VIEW $cat.daily AS SELECT day, count(*) AS n_rows, " +
      s"sum(n) AS n_tot FROM $cat.ev GROUP BY day").collect()
    // the `daily` evolution windows and the `w`/`wmv` widen-refusal chain
    // touch DISJOINT tables (distinct roots, locks, registries) — run the
    // two serial lifecycle chains overlapped (guide §2.6)
    val ((incr1Ok, incr2Ok), widenRefused) = graft.core.Par.two(
      () => {
        // window 1, pre-evolution
        s.sql(s"INSERT INTO $cat.ev VALUES ('click', CAST(7 AS BIGINT), CAST(42 AS BIGINT), " +
          "DATE'1999-12-31')").collect()
        val r1 = s.sql(s"REFRESH MATERIALIZED VIEW $cat.daily").head()
        val i1 = !r1.getBoolean(4) && r1.getLong(2) == 1L && r1.getLong(3) == 0L
        // the evolution: a column the view never references
        s.sql(s"ALTER TABLE $cat.ev ADD COLUMNS (extra BIGINT)")
        // window 2, post-evolution — the new column rides the inserted row
        s.sql(s"INSERT INTO $cat.ev VALUES ('view', CAST(9 AS BIGINT), CAST(43 AS BIGINT), " +
          "DATE'1999-12-30', CAST(8 AS BIGINT))").collect()
        val r2 = s.sql(s"REFRESH MATERIALIZED VIEW $cat.daily").head()
        (i1, !r2.getBoolean(4) && r2.getLong(2) == 1L && r2.getLong(3) == 0L)
      },
      () => {
        // the refusal direction: a view whose agg references an INT column
        // must refuse after the column widens
        s.sql(s"CREATE TABLE $cat.w (event_type STRING, u INT)")
        s.sql(s"INSERT INTO $cat.w VALUES ('click', 1), ('view', 2)").collect()
        s.sql(s"CREATE MATERIALIZED VIEW $cat.wmv AS SELECT event_type, sum(u) AS su " +
          s"FROM $cat.w GROUP BY event_type").collect()
        s.sql(s"ALTER TABLE $cat.w ALTER COLUMN u TYPE BIGINT")
        try { s.sql(s"REFRESH MATERIALIZED VIEW $cat.wmv").collect(); false }
        catch { case e: Exception => e.getMessage.contains("changed type") &&
          e.getMessage.contains("'u'") }
      })
    s.sql(s"SELECT day, n_rows, n_tot FROM $cat.daily ORDER BY day")
      .withColumn("incr1_ok", lit(incr1Ok))
      .withColumn("incr2_ok", lit(incr2Ok))
      .withColumn("widen_refused", lit(widenRefused))
  }

  // -- q258: AUTOMATIC MV query rewrite — the dashboard never names the view

  /** The rewrite capstone ([[graft.plans.MvRewrite]]): the SAME aggregate
    * SQL a dashboard runs against the FACT — `SELECT day, count(*),
    * sum(n), sum(sum_u) FROM ev GROUP BY day` — answers from the
    * incrementally-maintained view without ever naming it. Lifecycle
    * proven in one pass: (1) fresh view → the optimized plan carries NO
    * Aggregate (the whole aggregation was replaced by a projection of
    * the materialization); (2) an INSERT moves the fact head → the same
    * SQL falls back to the fact scan and reads the new row with the view
    * untouched (stale views never answer head queries); (3) REFRESH
    * re-arms the rewrite, and THEN every fact data file is corrupted —
    * the final query still answers, the zero-fact-bytes proof that the
    * plan reads only the view. Hash vs DuckDB's recompute of the end
    * state. At 100 TB this is the feature's point: the nightly dashboard
    * costs a few thousand pre-aggregated rows, not a fact scan, and
    * nobody rewrote the dashboard.
    */
  def q258(s: SparkSession, d: String): DataFrame = {
    val (cat, dir) = statsTable(s, d, "snapq258", Seq("day", "event_type"))
    s.sql(s"CREATE MATERIALIZED VIEW $cat.daily AS SELECT day, count(*) AS n_rows, " +
      s"sum(n) AS n_tot, sum(sum_u) AS u_tot FROM $cat.ev GROUP BY day").collect()
    def dash(): DataFrame = s.sql(s"SELECT day, count(*) AS n_rows, sum(n) AS n_tot, " +
      s"sum(sum_u) AS u_tot FROM $cat.ev GROUP BY day")
    def rewritten(df: DataFrame): Boolean = df.queryExecution.optimizedPlan.collectFirst {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }.isEmpty
    val rewrite1Ok = rewritten(dash())
    // the head moves: the SAME SQL must fall back and see the new row
    s.sql(s"INSERT INTO $cat.ev VALUES ('click', CAST(7 AS BIGINT), CAST(42 AS BIGINT), " +
      "DATE'1999-12-31')").collect()
    val staleDf = dash()
    val staleRow = staleDf.where(col("day") === lit("1999-12-31").cast("date")).head()
    val staleOk = !rewritten(staleDf) &&
      staleRow.getLong(1) == 1L && staleRow.getLong(2) == 7L && staleRow.getLong(3) == 42L
    val r = s.sql(s"REFRESH MATERIALIZED VIEW $cat.daily").head()
    val freshOk = !r.getBoolean(4) &&
      !s.sql(s"SELECT stale FROM $cat.daily.mv").head().getBoolean(0)
    // the physical proof: EVERY fact data file corrupted — any plan that
    // opens one byte of the fact dies; the rewritten dashboard answers
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    graft.sources.Snapshots.files(s, dir).foreach(rel =>
      corruptFile(s, fs, graft.sources.Snapshots.resolve(s, dir, rel)))
    val fin = dash()
    val rewrite2Ok = rewritten(fin)
    fin.orderBy("day")
      .withColumn("rewrite1_ok", lit(rewrite1Ok))
      .withColumn("stale_ok", lit(staleOk))
      .withColumn("fresh_ok", lit(freshOk))
      .withColumn("rewrite2_ok", lit(rewrite2Ok))
  }

  val q258Sql: String =
    """WITH s AS (
      |  SELECT CAST(ts AS DATE) AS day, event_type, CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS sum_u
      |  FROM events GROUP BY 1, 2),
      |f AS (
      |  SELECT day, n, sum_u FROM s
      |  UNION ALL SELECT DATE'1999-12-31', CAST(7 AS BIGINT), CAST(42 AS BIGINT))
      |SELECT day, CAST(count(*) AS BIGINT) AS n_rows, CAST(sum(n) AS BIGINT) AS n_tot,
      |       CAST(sum(sum_u) AS BIGINT) AS u_tot,
      |       true AS rewrite1_ok, true AS stale_ok, true AS fresh_ok, true AS rewrite2_ok
      |FROM f GROUP BY day ORDER BY day""".stripMargin

  // -- q257: FULL OUTER join MV — dim-unmatched groups maintained -----------

  /** The coverage dashboard: `CREATE MATERIALIZED VIEW … FROM fact FULL
    * OUTER JOIN dim …` — every dim row shows, matched or not, so a
    * nation with zero events reads n=1, total=NULL instead of vanishing.
    * Incrementally maintained ([[graft.sources.Mv]]'s (c)-side): a fact
    * window's join keys name exactly the dim rows whose MATCHED STATUS
    * can flip, and the recompute probes only the affected images' keys
    * against the fact (stats/bloom/partition narrowing) — window 1's
    * INSERT of the first uk=999 row flips 'NOWHERE' to matched (n=1,
    * u_tot=42), window 2's DELETE flips it back to the unmatched image
    * (n=1, u_tot=NULL), and the uk=0 partition's file is corrupted
    * through BOTH refreshes: a refresh that fell back to scanning the
    * fact (or probed more than the affected keys) dies loudly. At
    * 100 TB: the "show every dimension member" rollup refreshes at the
    * flipped members' keys, never the fact.
    */
  def q257(s: SparkSession, d: String): DataFrame = {
    val base = new org.apache.hadoop.fs.Path(
      System.getProperty("java.io.tmpdir"),
      s"graft_snapq257_${java.lang.Integer.toHexString(d.hashCode)}_${s.sparkContext.applicationId}")
    graft.core.Scratch.register(base.toString)
    val fs = base.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(base)) fs.delete(base, true)
    val ev = Tables.events(s, d)
    val micro = floor(col("value") * lit(1000000.0) + lit(0.5)).cast("long")
    val evDir = new org.apache.hadoop.fs.Path(base, "ev").toString
    val ndDir = new org.apache.hadoop.fs.Path(base, "nd").toString
    val mvDir = new org.apache.hadoop.fs.Path(base, "bynation").toString
    val nd = Tables.nation(s, d)
      .select(col("n_nationkey").cast("long").as("nk"), col("n_name").as("grp"))
      .unionByName(s.range(1).select(lit(999L).as("nk"), lit("NOWHERE").as("grp")))
    // fact and dim tables are independent roots — overlapped write+commit
    // (guide §2.6)
    graft.core.Par.two(
      () => {
        graft.sources.Sources.writeParquet(
          ev.select((col("user_id") % 25).cast("long").as("uk"), micro.as("u"))
            .repartition(col("uk")),
          evDir, Seq("uk"))
        graft.sources.Snapshots.commit(s, evDir, Seq("uk"))
      },
      () => {
        graft.sources.Sources.writeParquet(nd.repartition(1), ndDir)
        graft.sources.Snapshots.commit(s, ndDir, Seq("nk"))
      })
    val cat = s"snapq257_${java.lang.Integer.toHexString(d.hashCode)}"
    s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.snap.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", base.toString)
    s.sql(s"""CREATE MATERIALIZED VIEW $cat.bynation AS
      |SELECT grp, count(*) AS n_rows, sum(u) AS u_tot
      |FROM $cat.ev FULL OUTER JOIN $cat.nd d ON uk = d.nk
      |GROUP BY grp""".stripMargin).collect()
    def nowhere(): (Long, Option[Long]) = {
      val r = s.sql(s"SELECT n_rows, u_tot FROM $cat.bynation WHERE grp = 'NOWHERE'").head()
      (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1)))
    }
    val createOk = nowhere() == ((1L, None))
    // the canary: uk=0's file is touched by NEITHER window
    val victim = graft.sources.Snapshots.files(s, evDir).find(_.startsWith("uk=0/")).get
    corruptFile(s, fs, new org.apache.hadoop.fs.Path(evDir, victim))
    // window 1: the first uk=999 row — 'NOWHERE' flips to MATCHED
    s.sql(s"INSERT INTO $cat.ev VALUES (CAST(42 AS BIGINT), CAST(999 AS BIGINT))").collect()
    val r1 = s.sql(s"REFRESH MATERIALIZED VIEW $cat.bynation").head()
    val incr1Ok = !r1.getBoolean(4) && nowhere() == ((1L, Some(42L)))
    // window 2: deleting it flips 'NOWHERE' back to the unmatched image
    s.sql(s"DELETE FROM $cat.ev WHERE uk = CAST(999 AS BIGINT)").collect()
    val r2 = s.sql(s"REFRESH MATERIALIZED VIEW $cat.bynation").head()
    val incr2Ok = !r2.getBoolean(4) && nowhere() == ((1L, None))
    s.sql(s"SELECT grp, n_rows, u_tot FROM $cat.bynation ORDER BY grp")
      .withColumn("create_ok", lit(createOk))
      .withColumn("incr1_ok", lit(incr1Ok))
      .withColumn("incr2_ok", lit(incr2Ok))
  }

  val q257Sql: String =
    """WITH f AS (
      |  SELECT user_id % 25 AS uk, CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS u
      |  FROM events),
      |d AS (
      |  SELECT CAST(n_nationkey AS BIGINT) AS nk, n_name AS grp FROM nation
      |  UNION ALL SELECT 999, 'NOWHERE')
      |SELECT grp, CAST(count(*) AS BIGINT) AS n_rows, CAST(sum(u) AS BIGINT) AS u_tot,
      |       true AS create_ok, true AS incr1_ok, true AS incr2_ok
      |FROM f FULL JOIN d ON f.uk = d.nk GROUP BY grp ORDER BY grp""".stripMargin

  // -- q256: cyclic expression-keyed MV — the seasonal rollup ---------------

  /** The SEASONAL materialization: `CREATE MATERIALIZED VIEW seasonal AS
    * SELECT month(ts) AS m, … GROUP BY 1` — a group key that repeats
    * across years, so no single interval can bound it. Refresh narrows
    * through the CYCLIC inverse ([[graft.sources.Mv.cyclicInverse]]): an
    * affected month enumerates one interval per matching period within
    * the fact's global span (March 2022 AND March 2023 here), and the
    * per-file micros stats decide admission — never a full-table rescan.
    * The fixture spreads `events` across 24 months deterministically
    * (both engines recompute the same remap), partitioned by
    * year-month so periods are file-disjoint; the July-2022 file is
    * corrupted BEFORE both refreshes — window 1 (INSERT into March 2023,
    * affected month {3}) and window 2 (DELETE of November 2022, affected
    * month {11}) must both leave it shut, proving the period enumeration
    * admits exactly the affected months' files across every year. At
    * 100 TB: the month-of-year / hour-of-day rollups a time-series user
    * materializes right after the hourly one refresh at the affected
    * periods' files, not the decade of history around them.
    */
  def q256(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val base = new org.apache.hadoop.fs.Path(
      System.getProperty("java.io.tmpdir"),
      s"graft_snapq256_${java.lang.Integer.toHexString(d.hashCode)}_${s.sparkContext.applicationId}")
    graft.core.Scratch.register(base.toString)
    val fs = base.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(base)) fs.delete(base, true)
    val dir = new org.apache.hadoop.fs.Path(base, "ev").toString
    val mvDir = new org.apache.hadoop.fs.Path(base, "seasonal").toString
    // a deterministic 24-month spread: year from floor(event_id/12)%2 so
    // every month occurs in BOTH years (id%12 alone would pin each month
    // to one parity, hence one year); minute-truncated time of day so the
    // oracle's integer date_part twin is exact
    val src = ev.selectExpr(
      "make_timestamp(CAST(2022 + CAST(floor(event_id / 12.0) AS BIGINT) % 2 AS INT), " +
        "CAST(1 + event_id % 12 AS INT), CAST(1 + event_id % 28 AS INT), " +
        "hour(ts), minute(ts), 0) AS ts",
      "event_type",
      "CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS u")
      .withColumn("ym", date_format(col("ts"), "yyyy-MM"))
    val tsKey = "spark.sql.parquet.outputTimestampType"
    val oldTs = s.conf.getOption(tsKey)
    s.conf.set(tsKey, "TIMESTAMP_MICROS")
    try graft.sources.Sources.writeParquet(src.repartition(col("ym")), dir, Seq("ym"))
    finally oldTs.fold(s.conf.unset(tsKey))(s.conf.set(tsKey, _))
    graft.sources.Snapshots.commit(s, dir, Seq("ym", "ts", "event_type"))
    val cat = s"snapq256_${java.lang.Integer.toHexString(d.hashCode)}"
    s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.snap.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", base.toString)
    s.sql(s"""CREATE MATERIALIZED VIEW $cat.seasonal AS
      |SELECT month(ts) AS m, count(*) AS n_rows, sum(u) AS u_tot
      |FROM $cat.ev GROUP BY 1""".stripMargin).collect()
    val cycOk = graft.sources.Mv.definition(s, mvDir).keyExprs
      .get("m").exists(_.contains("month"))
    // the canary: July 2022 is touched by NEITHER window — corrupt it
    // before both refreshes; a cyclic inverse that degraded to scanning
    // every candidate (or enumerated the wrong periods) dies here
    val victim = graft.sources.Snapshots.files(s, dir).find(_.startsWith("ym=2022-07/")).get
    corruptFile(s, fs, new org.apache.hadoop.fs.Path(dir, victim))
    // window 1: INSERT one March-2023 row — affected month {3}; both
    // years' March files recompute, nothing else opens
    s.sql(s"INSERT INTO $cat.ev VALUES (TIMESTAMP'2023-03-15 12:00:00', 'click', " +
      "CAST(42 AS BIGINT), '2023-03')").collect()
    val r1 = s.sql(s"REFRESH MATERIALIZED VIEW $cat.seasonal").head()
    val incr1Ok = !r1.getBoolean(4) && r1.getLong(2) == 1L && r1.getLong(3) == 0L
    // window 2: DELETE November 2022 — month 11 recomputes from its
    // remaining (2023) period alone
    s.sql(s"DELETE FROM $cat.ev WHERE ym = '2022-11'").collect()
    val r2 = s.sql(s"REFRESH MATERIALIZED VIEW $cat.seasonal").head()
    val incr2Ok = !r2.getBoolean(4) && r2.getLong(2) == 1L && r2.getLong(3) == 0L
    val freshOk = !s.sql(s"SELECT stale FROM $cat.seasonal.mv").head().getBoolean(0)
    s.sql(s"SELECT m, n_rows, u_tot FROM $cat.seasonal ORDER BY m")
      .withColumn("cyc_ok", lit(cycOk))
      .withColumn("incr1_ok", lit(incr1Ok))
      .withColumn("incr2_ok", lit(incr2Ok))
      .withColumn("fresh_ok", lit(freshOk))
  }

  val q256Sql: String =
    """WITH s AS (
      |  SELECT make_timestamp(2022 + CAST(floor(event_id / 12.0) AS BIGINT) % 2,
      |                        1 + event_id % 12, 1 + event_id % 28,
      |                        date_part('hour', ts), date_part('minute', ts), 0.0) AS ts2,
      |         CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS u
      |  FROM events),
      |f AS (
      |  SELECT ts2, u FROM s WHERE strftime(ts2, '%Y-%m') <> '2022-11'
      |  UNION ALL SELECT TIMESTAMP '2023-03-15 12:00:00', CAST(42 AS BIGINT))
      |SELECT CAST(month(ts2) AS INT) AS m, CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(sum(u) AS BIGINT) AS u_tot,
      |       true AS cyc_ok, true AS incr1_ok, true AS incr2_ok, true AS fresh_ok
      |FROM f GROUP BY 1 ORDER BY 1""".stripMargin

  val q255Sql: String =
    """WITH s AS (
      |  SELECT CAST(ts AS DATE) AS day, event_type, CAST(count(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1, 2),
      |final AS (
      |  SELECT day, n FROM s
      |  UNION ALL SELECT DATE'1999-12-31', CAST(7 AS BIGINT)
      |  UNION ALL SELECT DATE'1999-12-30', CAST(9 AS BIGINT))
      |SELECT day, CAST(count(*) AS BIGINT) AS n_rows, CAST(sum(n) AS BIGINT) AS n_tot,
      |       true AS incr1_ok, true AS incr2_ok, true AS widen_refused
      |FROM final GROUP BY day ORDER BY day""".stripMargin

  val queries: Map[String, Q] = Map(
    "q258_mv_rewrite" -> (q258 _),
    "q257_full_outer_mv" -> (q257 _),
    "q256_seasonal_cyclic_mv" -> (q256 _),
    "q255_mv_schema_evolution" -> (q255 _),
    "q254_hourly_expr_mv" -> (q254 _),
    "q253_left_join_mv" -> (q253 _),
    "q252_mv_null_groups" -> (q252 _),
    "q251_branch_check_gate" -> (q251 _),
    "q250_mv_sql_ddl" -> (q250 _),
    "q249_join_mv" -> (q249 _),
    "q248_mv_live" -> (q248 _),
    "q247_check_constraints" -> (q247 _),
    "q246_retention_gc" -> (q246 _),
    "q245_incremental_mv" -> (q245 _),
    "q244_branch_cdc_replay" -> (q244 _),
    "q243_branch_rebase" -> (q243 _),
    "q242_decimal_sum_pushdown" -> (q242 _),
    "q241_branch_mor_delete" -> (q241 _),
    "q240_writable_branches" -> (q240 _),
    "q239_manifest_sum_avg" -> (q239 _),
    "q238_stream_cdc_apply" -> (q238 _),
    "q237_manifest_ndv" -> (q237 _),
    "q236_branch_tag_refs" -> (q236 _),
    "q235_stream_mor_upsert" -> (q235 _),
    "q234_dv_hybrid_agg" -> (q234 _),
    "q233_dv_compaction_fold" -> (q233 _),
    "q232_mor_sql_merge" -> (q232 _),
    "q231_mor_sql_update" -> (q231 _),
    "q230_dv_materialize" -> (q230 _),
    "q229_dv_change_feed" -> (q229 _),
    "q228_dv_cow_update" -> (q228 _),
    "q227_dv_agg_soundness" -> (q227 _),
    "q226_mor_delete" -> (q226 _),
    "q225_cold_plan_pruned" -> (q225 _),
    "q224_layout3d_box_prune" -> (q224 _),
    "q223_graph_ann_append" -> (q223 _),
    "q222_dynamic_overwrite" -> (q222 _),
    "q221_graph_ann" -> (q221 _),
    "q220_sql_change_feed" -> (q220 _),
    "q219_stream_partitioned_sink" -> (q219 _),
    "q218_sql_merge_partitioned" -> (q218 _),
    "q217_windowed_manifest_agg" -> (q217 _),
    "q216_grouped_manifest_agg" -> (q216 _),
    "q215_runtime_file_pruning" -> (q215 _),
    "q214_storage_partitioned_join" -> (q214 _),
    "q213_manifest_minmax" -> (q213 _),
    "q212_stream_source" -> (q212 _),
    "q210_sql_ddl_evolution" -> (q210 _),
    "q211_type_widening" -> (q211 _),
    "q196_sql_time_travel" -> (q196 _),
    "q197_sql_metadata_count" -> (q197 _),
    "q198_sql_insert_append" -> (q198 _),
    "q199_snapshot_history" -> (q199 _),
    "q200_incremental_dedup" -> (q200 _),
    "q201_sql_delete" -> (q201 _),
    "q202_cluster_rewrite" -> (q202 _),
    "q203_update_where" -> (q203 _),
    "q204_bloom_probe" -> (q204 _),
    "q205_table_clone" -> (q205 _),
    "q206_sql_maintenance" -> (q206 _),
    "q207_sql_update" -> (q207 _),
    "q208_sql_merge" -> (q208 _),
    "q209_stream_to_table" -> (q209 _))

  val oracles: Map[String, String] = Map(
    "q258_mv_rewrite" -> q258Sql,
    "q257_full_outer_mv" -> q257Sql,
    "q256_seasonal_cyclic_mv" -> q256Sql,
    "q255_mv_schema_evolution" -> q255Sql,
    "q254_hourly_expr_mv" -> q254Sql,
    "q253_left_join_mv" -> q253Sql,
    "q252_mv_null_groups" -> q252Sql,
    "q251_branch_check_gate" -> q251Sql,
    "q250_mv_sql_ddl" -> q250Sql,
    "q249_join_mv" -> q249Sql,
    "q248_mv_live" -> q248Sql,
    "q247_check_constraints" -> q247Sql,
    "q246_retention_gc" -> q246Sql,
    "q245_incremental_mv" -> q245Sql,
    "q244_branch_cdc_replay" -> q244Sql,
    "q243_branch_rebase" -> q243Sql,
    "q242_decimal_sum_pushdown" -> q242Sql,
    "q241_branch_mor_delete" -> q241Sql,
    "q240_writable_branches" -> q240Sql,
    "q239_manifest_sum_avg" -> q239Sql,
    "q238_stream_cdc_apply" -> q238Sql,
    "q237_manifest_ndv" -> q237Sql,
    "q236_branch_tag_refs" -> q236Sql,
    "q235_stream_mor_upsert" -> q235Sql,
    "q234_dv_hybrid_agg" -> q234Sql,
    "q233_dv_compaction_fold" -> q233Sql,
    "q232_mor_sql_merge" -> q232Sql,
    "q231_mor_sql_update" -> q231Sql,
    "q230_dv_materialize" -> q230Sql,
    "q229_dv_change_feed" -> q229Sql,
    "q228_dv_cow_update" -> q228Sql,
    "q227_dv_agg_soundness" -> q227Sql,
    "q226_mor_delete" -> q226Sql,
    "q225_cold_plan_pruned" -> q225Sql,
    "q224_layout3d_box_prune" -> q224Sql,
    "q223_graph_ann_append" -> q223Sql,
    "q222_dynamic_overwrite" -> q222Sql,
    "q221_graph_ann" -> q221Sql,
    "q220_sql_change_feed" -> q220Sql,
    "q219_stream_partitioned_sink" -> q219Sql,
    "q218_sql_merge_partitioned" -> q218Sql,
    "q217_windowed_manifest_agg" -> q217Sql,
    "q216_grouped_manifest_agg" -> q216Sql,
    "q215_runtime_file_pruning" -> q215Sql,
    "q214_storage_partitioned_join" -> q214Sql,
    "q213_manifest_minmax" -> q213Sql,
    "q212_stream_source" -> q212Sql,
    "q210_sql_ddl_evolution" -> q210Sql,
    "q211_type_widening" -> q211Sql,
    "q196_sql_time_travel" -> q196Sql,
    "q197_sql_metadata_count" -> q197Sql,
    "q198_sql_insert_append" -> q198Sql,
    "q199_snapshot_history" -> q199Sql,
    "q200_incremental_dedup" -> q200Sql,
    "q201_sql_delete" -> q201Sql,
    "q202_cluster_rewrite" -> q202Sql,
    "q203_update_where" -> q203Sql,
    "q204_bloom_probe" -> q204Sql,
    "q205_table_clone" -> q205Sql,
    "q206_sql_maintenance" -> q206Sql,
    "q207_sql_update" -> q203Sql,
    "q208_sql_merge" -> q208Sql,
    "q209_stream_to_table" -> q209Sql)
}
