package graft.plans

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.{DeleteVectors, Mv, Snapshots, Sources}

/** Laws of the automatic MV query rewrite ([[MvRewrite]]): an exact-match
  * aggregate over a catalog fact answers from the FRESH view's files (the
  * fact never scans — plan-asserted and corrupt-canary-proven), and every
  * subsumption failure — extra key, underivable aggregate, filter
  * mismatch, staleness, version pin, dropped view, disabled conf — falls
  * back to the fact scan, never to a wrong answer.
  */
class MvRewriteSpec extends SparkSpec {
  import spark.implicits._

  /** A committed fact + catalog over its base dir. Columns: `et` string,
    * `ts` timestamp, `u` long — partitioned by `et` so canary laws can
    * corrupt one partition surgically.
    */
  private def fixture(tag: String): (String, String, String, String) = {
    val base = Files.createTempDirectory(tag).toString
    val fact = s"$base/fact"
    val f = Seq(
      ("click", "2024-03-01 10:00:00", 5L),
      ("click", "2024-03-01 11:30:00", 7L),
      ("click", "2024-03-02 09:00:00", 11L),
      ("view", "2024-03-01 10:15:00", 2L),
      ("view", "2024-03-02 23:00:00", 3L))
      .toDF("et", "tss", "u")
      .select($"et", $"tss".cast("timestamp").as("ts"), $"u")
    Sources.writeParquet(f.repartition(1), fact, partitionCols = Seq("et"))
    Snapshots.commit(spark, fact, Seq("et", "ts", "u"))
    val cat = s"rw_$tag"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.snap.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", base)
    (base, cat, fact, s"$base/mv")
  }

  /** Which roots the query's scans actually open files under (AQE-wrapped
    * subtrees unwrapped).
    */
  private def allScans(p: org.apache.spark.sql.execution.SparkPlan): Seq[String] =
    p.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.inputFiles.toSeq
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        Seq(b.scan.description())
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        allScans(a.inputPlan)
    }.flatten

  // the FULL root path: the base name alone ("mv") also matches the
  // fixture's temp dir prefix inside every fact scan's description
  private def scannedUnder(df: DataFrame, root: String): Boolean =
    allScans(df.queryExecution.executedPlan).exists(_.contains(root))

  private def answeredFromMv(df: DataFrame, mvRoot: String, factRoot: String): Boolean = {
    val noAgg = df.queryExecution.optimizedPlan.collectFirst {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }.isEmpty
    noAgg && scannedUnder(df, mvRoot) && !scannedUnder(df, factRoot)
  }

  test("exact-match aggregate answers from the view: plan reads MV files only, results exact") {
    val (_, cat, fact, mv) = fixture("mvrw_basic")
    Mv.create(spark, fact, mv, Seq("et"), Seq("sum(u) AS su", "count(*) AS n"))
    val q = spark.sql(s"SELECT et, sum(u) AS su, count(*) AS n FROM $cat.fact GROUP BY et")
    assert(answeredFromMv(q, mv, fact), q.queryExecution.optimizedPlan.toString)
    assert(
      q.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet ==
        Set(("click", 23L, 3L), ("view", 5L, 2L)))
    // column order / partial selection: only the agg, keys omitted
    val q2 = spark.sql(s"SELECT sum(u) AS su FROM $cat.fact GROUP BY et")
    assert(answeredFromMv(q2, mv, fact), q2.queryExecution.optimizedPlan.toString)
    assert(q2.collect().map(_.getLong(0)).toSet == Set(23L, 5L))
  }

  test("derived-key grouping (date_trunc) matches the recorded key expression") {
    val (_, cat, fact, mv) = fixture("mvrw_dkey")
    Mv.create(
      spark, fact, mv, Seq("d"), Seq("sum(u) AS su"),
      keyExprs = Map("d" -> "date_trunc('day', ts)"))
    val q = spark.sql(
      s"SELECT date_trunc('day', ts) AS d, sum(u) AS su FROM $cat.fact GROUP BY 1")
    assert(answeredFromMv(q, mv, fact), q.queryExecution.optimizedPlan.toString)
    assert(
      q.collect().map(r => (r.getTimestamp(0).toString, r.getLong(1))).toSet ==
        Set(("2024-03-01 00:00:00.0", 14L), ("2024-03-02 00:00:00.0", 14L)))
  }

  test("filtered view: matching WHERE rewrites, a different WHERE falls back") {
    val (_, cat, fact, mv) = fixture("mvrw_filter")
    Mv.create(
      spark, fact, mv, Seq("et"), Seq("sum(u) AS su"), filterSql = Some("u > 2"))
    val hit = spark.sql(s"SELECT et, sum(u) AS su FROM $cat.fact WHERE u > 2 GROUP BY et")
    assert(answeredFromMv(hit, mv, fact), hit.queryExecution.optimizedPlan.toString)
    assert(hit.collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
      Set(("click", 23L), ("view", 3L)))
    val miss = spark.sql(s"SELECT et, sum(u) AS su FROM $cat.fact WHERE u > 3 GROUP BY et")
    assert(!answeredFromMv(miss, mv, fact))
    assert(miss.collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
      Set(("click", 23L)))
    // an unfiltered query must NOT read the filtered view
    val unf = spark.sql(s"SELECT et, sum(u) AS su FROM $cat.fact GROUP BY et")
    assert(!answeredFromMv(unf, mv, fact))
    assert(unf.collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
      Set(("click", 23L), ("view", 5L)))
  }

  test("avg derives from recorded sum+count; an unrecorded max falls back") {
    val (_, cat, fact, mv) = fixture("mvrw_avg")
    Mv.create(spark, fact, mv, Seq("et"), Seq("sum(u) AS su", "count(u) AS cu"))
    val q = spark.sql(s"SELECT et, avg(u) AS au FROM $cat.fact GROUP BY et")
    assert(answeredFromMv(q, mv, fact), q.queryExecution.optimizedPlan.toString)
    assert(q.collect().map(r => (r.getString(0), r.getDouble(1))).toSet ==
      Set(("click", 23.0 / 3), ("view", 2.5)))
    val fallback = spark.sql(s"SELECT et, max(u) AS mu FROM $cat.fact GROUP BY et")
    assert(!answeredFromMv(fallback, mv, fact))
    assert(fallback.collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
      Set(("click", 11L), ("view", 3L)))
  }

  test("subsumption refusals: extra key, coarser regrouping, distinct agg") {
    val (_, cat, fact, mv) = fixture("mvrw_refuse")
    Mv.create(spark, fact, mv, Seq("et"), Seq("sum(u) AS su"))
    val extraKey =
      spark.sql(s"SELECT et, ts, sum(u) AS su FROM $cat.fact GROUP BY et, ts")
    assert(!answeredFromMv(extraKey, mv, fact))
    val global = spark.sql(s"SELECT sum(u) AS su FROM $cat.fact")
    assert(!scannedUnder(global, mv))
    assert(global.head().getLong(0) == 28L)
    val dist = spark.sql(s"SELECT et, sum(DISTINCT u) AS su FROM $cat.fact GROUP BY et")
    assert(!answeredFromMv(dist, mv, fact))
  }

  test("staleness: a moved fact head falls back; allowStale serves the materialization; refresh re-arms") {
    val (_, cat, fact, mv) = fixture("mvrw_stale")
    Mv.create(spark, fact, mv, Seq("et"), Seq("sum(u) AS su"))
    def q(): DataFrame = spark.sql(s"SELECT et, sum(u) AS su FROM $cat.fact GROUP BY et")
    assert(answeredFromMv(q(), mv, fact))
    // committed schema orders partition columns last: (ts, u, et)
    spark.sql(s"INSERT INTO $cat.fact VALUES (TIMESTAMP'2024-03-03 08:00:00', CAST(100 AS BIGINT), 'click')")
      .collect()
    val stale = q()
    assert(!answeredFromMv(stale, mv, fact), "a stale view must not answer a head query")
    assert(stale.collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
      Set(("click", 123L), ("view", 5L)))
    spark.conf.set("spark.graft.mv.rewrite.allowStale", "true")
    try {
      val lagged = q()
      assert(answeredFromMv(lagged, mv, fact), "allowStale serves the view's current state")
      assert(lagged.collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
        Set(("click", 23L), ("view", 5L)))
    } finally spark.conf.unset("spark.graft.mv.rewrite.allowStale")
    Mv.refresh(spark, mv)
    val fresh = q()
    assert(answeredFromMv(fresh, mv, fact), fresh.queryExecution.optimizedPlan.toString)
    assert(fresh.collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
      Set(("click", 123L), ("view", 5L)))
    // time travel to the pre-insert version: the view (now at v2) refuses
    val pinned = spark.sql(s"SELECT et, sum(u) AS su FROM $cat.fact VERSION AS OF 1 GROUP BY et")
    assert(!answeredFromMv(pinned, mv, fact))
    assert(pinned.collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
      Set(("click", 23L), ("view", 5L)))
  }

  test("drop unregisters; disabled conf stands the rule down") {
    val (_, cat, fact, mv) = fixture("mvrw_drop")
    Mv.create(spark, fact, mv, Seq("et"), Seq("sum(u) AS su"))
    def q(): DataFrame = spark.sql(s"SELECT et, sum(u) AS su FROM $cat.fact GROUP BY et")
    assert(answeredFromMv(q(), mv, fact))
    spark.conf.set("spark.graft.mv.rewrite.enabled", "false")
    try assert(!answeredFromMv(q(), mv, fact))
    finally spark.conf.unset("spark.graft.mv.rewrite.enabled")
    assert(Mv.registeredViews(spark, fact).nonEmpty)
    Mv.drop(spark, mv)
    assert(Mv.registeredViews(spark, fact).isEmpty, "drop must remove the back-pointer")
    val after = q()
    assert(!scannedUnder(after, mv))
    assert(after.collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
      Set(("click", 23L), ("view", 5L)))
  }

  test("two same-typed aggregates stay DISTINCT through canonicalization (sum(a) never maps to sum(b)'s column)") {
    // regression: Canonicalize strips attribute names (keeps exprIds), so
    // a name-only normalization collapses sum(a) and sum(b) into one key
    // and the rewrite serves the WRONG column — caught by q258's
    // n_tot=42-instead-of-7; pinned here at unit level
    val base = Files.createTempDirectory("mvrw_twosums").toString
    val fact = s"$base/fact"
    Sources.writeParquet(
      Seq(("x", 1L, 10L), ("x", 2L, 20L), ("y", 3L, 30L))
        .toDF("g", "a", "b").repartition(1),
      fact, partitionCols = Seq("g"))
    Snapshots.commit(spark, fact, Seq("g"))
    val cat = "rw_twosums"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.snap.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", base)
    Mv.create(spark, fact, s"$base/mv", Seq("g"), Seq("sum(a) AS sa", "sum(b) AS sb"))
    val q = spark.sql(s"SELECT g, sum(b) AS sb, sum(a) AS sa FROM $cat.fact GROUP BY g")
    assert(answeredFromMv(q, s"$base/mv", fact), q.queryExecution.optimizedPlan.toString)
    assert(q.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet ==
      Set(("x", 30L, 3L), ("y", 30L, 3L)))
  }

  test("the physical proof: every fact data file corrupted, the rewritten query still answers") {
    val (_, cat, fact, mv) = fixture("mvrw_canary")
    Mv.create(spark, fact, mv, Seq("et"), Seq("sum(u) AS su", "count(*) AS n"))
    val fs = new org.apache.hadoop.fs.Path(fact)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Snapshots.files(spark, fact).foreach { rel =>
      val p = Snapshots.resolve(spark, fact, rel)
      val crc = new org.apache.hadoop.fs.Path(p.getParent, s".${p.getName}.crc")
      if (fs.exists(crc)) fs.delete(crc, false)
      val out = fs.create(p, true)
      try out.write("not parquet".getBytes("UTF-8"))
      finally out.close()
    }
    val q = spark.sql(s"SELECT et, sum(u) AS su, count(*) AS n FROM $cat.fact GROUP BY et")
    assert(answeredFromMv(q, mv, fact), q.queryExecution.optimizedPlan.toString)
    assert(
      q.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet ==
        Set(("click", 23L, 3L), ("view", 5L, 2L)),
      "zero fact bytes were needed — the view answered")
  }
}
