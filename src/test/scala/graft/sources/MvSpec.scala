package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Laws of the incrementally-maintained materialized view ([[Mv]]):
  * create-equals-recompute, change-driven refresh (incl. min/max under
  * deletes — the case delta-maintenance schemes get wrong), group
  * deletion, no-op and crash-replay idempotence, the narrowing proof (a
  * refresh whose window touched one partition never opens another's
  * file), the vacuumed-window full-resync downgrade, NULL group keys,
  * loud garbled definitions, and the SQL procedure faces.
  */
/** Fault-injection fs for [[MvSpec]]'s writeDef race laws: a local fs
  * whose `.def-next -> def` rename reports FAILURE after simulating the
  * concurrent state the failure would coexist with — mode 1 performs the
  * rename first (a lock-free reader's heal finished it), mode 2 installs
  * a foreign image (not the heal race; must refuse). One-shot: the mode
  * re-arms to 0 after firing so the test's other renames pass through.
  */
class MvFaultFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("mvfault:///")
  override def rename(src: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path): Boolean =
    if (MvFaultFs.mode.get() != 0 && dst.getName == "def" && src.getName == ".def-next") {
      val m = MvFaultFs.mode.getAndSet(0)
      if (m == 1) super.rename(src, dst) // the healer finished our rename
      else {
        val out = create(dst, true)
        try out.write("graft-mv v1\nsource Ym9ndXM\nversion 1\nkey x\nagg y\n".getBytes("UTF-8"))
        finally out.close()
        delete(src, false)
      }
      false // either way OUR rename reports failure
    } else super.rename(src, dst)
}

object MvFaultFs {
  val mode = new java.util.concurrent.atomic.AtomicInteger(0)
}

class MvSpec extends SparkSpec {

  import spark.implicits._

  /** Source fixture: a day-partitioned table with per-row (day, cat, v),
    * stats on (day, cat) + bloom on cat so refresh exercises the full
    * narrowing discipline. Rows are unique per (day, cat) so the source
    * itself can mutate via merge-on-read upsert on those keys.
    */
  private def sourceTable(dir: String): Long = {
    val base = Seq(
      ("d01", "a", 10L),
      ("d01", "b", 11L),
      ("d02", "a", 20L),
      ("d02", "b", 7L),
      ("d03", "a", 30L),
      ("d03", "c", 3L)).toDF("day", "cat", "v")
    Sources.writeParquet(base.repartition(1), dir, partitionCols = Seq("day"))
    Snapshots.commit(spark, dir, Seq("day", "cat"), Seq("cat"))
  }

  private def mvRows(mvRoot: String): Set[(String, Long, Long, Long)] =
    Snapshots
      .readSnapshot(spark, mvRoot)
      .select($"day", $"n", $"sv", $"mx")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet

  private def recomputed(srcRoot: String): Set[(String, Long, Long, Long)] =
    Snapshots
      .readSnapshot(spark, srcRoot)
      .groupBy($"day")
      .agg(count(lit(1)).as("n"), sum($"v").as("sv"), max($"v").as("mx"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet

  private def fixture(tag: String): (String, String) = {
    val base = Files.createTempDirectory(tag).toString
    val src = s"$base/src"
    val mv = s"$base/mv"
    sourceTable(src)
    (src, mv)
  }

  private val aggs = Seq("count(*) AS n", "sum(v) AS sv", "max(v) AS mx")

  test("create materializes the full aggregation and records the definition") {
    val (src, mv) = fixture("mv_create")
    val v = Mv.create(spark, src, mv, Seq("day"), aggs)
    assert(v == 1L)
    assert(mvRows(mv) == recomputed(src))
    val d = Mv.definition(spark, mv)
    assert(d.sourceRoot == src && d.keyCols == Seq("day") && d.aggExprs == aggs)
    assert(d.refreshedVersion == Snapshots.latestVersion(spark, src))
    // the view is a real snapshot table: stats + blooms on the keys
    val view = Snapshots.manifestView(spark, mv)
    assert(view.statsCols == Seq("day") && view.bloomCols == Seq("day"))
  }

  test("create refuses unaliased aggregates and occupied roots") {
    val (src, mv) = fixture("mv_refuse")
    val e = intercept[IllegalArgumentException] {
      Mv.create(spark, src, mv, Seq("day"), Seq("sum(v)"))
    }
    assert(e.getMessage.contains("alias"))
    Mv.create(spark, src, mv, Seq("day"), aggs)
    val e2 = intercept[IllegalArgumentException] {
      Mv.create(spark, src, mv, Seq("day"), aggs)
    }
    assert(e2.getMessage.contains("already"))
  }

  test("refresh applies an upsert window incrementally: update + new group, min/max exact") {
    val (src, mv) = fixture("mv_incr")
    Mv.create(spark, src, mv, Seq("day"), aggs)
    // update one row of day 2 (its max shrinks from 20 to 5 — the re-agg
    // must see it) and insert a brand-new day
    DeleteVectors.upsert(
      spark,
      src,
      Seq(("d02", "a", 5L), ("d04", "z", 99L)).toDF("day", "cat", "v"),
      Seq("day", "cat"))
    val r = Mv.refresh(spark, mv)
    assert(!r.fullResync, "the change window must come from the feed, not a resync")
    assert(r.groupsRecomputed == 2L && r.groupsDeleted == 0L)
    assert(r.toVersion == Snapshots.latestVersion(spark, src))
    assert(mvRows(mv) == recomputed(src))
    assert(mvRows(mv).contains(("d02", 2L, 12L, 7L)), "max must SHRINK under the update")
  }

  test("refresh deletes a group whose last source row vanished") {
    val (src, mv) = fixture("mv_del")
    Mv.create(spark, src, mv, Seq("day"), aggs)
    DeleteVectors.deleteWhere(spark, src, $"day" === "d03")
    val r = Mv.refresh(spark, mv)
    assert(!r.fullResync && r.groupsDeleted == 1L)
    assert(mvRows(mv) == recomputed(src))
    assert(!mvRows(mv).exists(_._1 == "d03"))
  }

  test("refresh at head is a no-op: no new MV version, zero counts") {
    val (src, mv) = fixture("mv_noop")
    Mv.create(spark, src, mv, Seq("day"), aggs)
    val vBefore = Snapshots.latestVersion(spark, mv)
    val r = Mv.refresh(spark, mv)
    assert(r.fromVersion == r.toVersion && r.groupsRecomputed == 0L && r.groupsDeleted == 0L)
    assert(Snapshots.latestVersion(spark, mv) == vBefore)
  }

  test("a refresh window touching one partition never opens another partition's file") {
    val (src, mv) = fixture("mv_narrow")
    Mv.create(spark, src, mv, Seq("day"), aggs)
    DeleteVectors.upsert(spark, src, Seq(("d02", "a", 6L)).toDF("day", "cat", "v"), Seq("day", "cat"))
    // corrupt an UNTOUCHED day's file: if the recompute scan (or a silent
    // full-resync downgrade) reads it, the refresh dies loudly
    corrupt(src, "day=d03/")
    val r = Mv.refresh(spark, mv)
    assert(!r.fullResync && r.groupsRecomputed == 1L)
    // day 2's row reflects the update; day 3's MV row survives from create
    assert(mvRows(mv).contains(("d02", 2L, 13L, 7L)))
    assert(mvRows(mv).contains(("d03", 2L, 33L, 30L)))
  }

  test("crash-replay: a watermark that did not advance replays to a content-identical view") {
    val (src, mv) = fixture("mv_crash")
    Mv.create(spark, src, mv, Seq("day"), aggs)
    val d0 = Mv.definition(spark, mv)
    DeleteVectors.upsert(spark, src, Seq(("d01", "a", 1L)).toDF("day", "cat", "v"), Seq("day", "cat"))
    assert(!Mv.refresh(spark, mv).fullResync)
    val afterFirst = mvRows(mv)
    // simulate the crash window: MV commit landed, watermark write lost —
    // rewind the recorded version line to the pre-refresh value
    val p = new org.apache.hadoop.fs.Path(s"$mv/${Snapshots.ManifestDirName}/mv/def")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    val txt =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val rewound =
      txt.replaceAll("(?m)^version \\d+$", s"version ${d0.refreshedVersion}")
    val out2 = fs.create(p, true)
    try out2.write(rewound.getBytes("UTF-8"))
    finally out2.close()
    val replay = Mv.refresh(spark, mv)
    assert(replay.groupsRecomputed == 1L, "the stale watermark must replay the window")
    assert(mvRows(mv) == afterFirst, "the replay must converge to the same content")
    assert(Mv.definition(spark, mv).refreshedVersion == Snapshots.latestVersion(spark, src))
  }

  test("a vacuumed change window downgrades to a full resync — still exact") {
    val (src, mv) = fixture("mv_resync")
    Mv.create(spark, src, mv, Seq("day"), aggs)
    // a COW delete rewrites day 2's file (archiving the old one), then
    // vacuum destroys the archive — the feed can no longer read the
    // removed side of that version
    Sources.deleteWhere(spark, src, $"day" === "d02" && $"cat" === "b")
    Snapshots.vacuum(spark, src, keepLast = 1)
    val r = Mv.refresh(spark, mv)
    assert(r.fullResync, "the destroyed window must downgrade, not fail")
    assert(mvRows(mv) == recomputed(src))
  }

  test("NULL group keys are legitimate groups: updated, deleted and recreated exactly") {
    val base = Files.createTempDirectory("mv_null").toString
    val src = s"$base/src"
    val mv = s"$base/mv"
    val rows = Seq(
      (Some("x"), 1L, 10L),
      (Some("y"), 2L, 20L),
      (None, 3L, 30L),
      (None, 4L, 40L)).toDF("k", "id", "v")
    Sources.writeParquet(rows.repartition(1), src)
    Snapshots.commit(spark, src, Seq("k", "id"))
    Mv.create(spark, src, mv, Seq("k"), Seq("count(*) AS n", "sum(v) AS sv"))
    def mvState(): Set[(Option[String], Long, Long)] =
      Snapshots
        .readSnapshot(spark, mv)
        .collect()
        .map(r => (Option(r.getString(0)), r.getLong(1), r.getLong(2)))
        .toSet
    assert(mvState() == Set((Some("x"), 1L, 10L), (Some("y"), 1L, 20L), (None, 2L, 70L)))
    // mutate the NULL group: one row updated, so the group recomputes
    DeleteVectors.upsert(spark, src, Seq((Option.empty[String], 3L, 35L)).toDF("k", "id", "v"), Seq("id"))
    val r = Mv.refresh(spark, mv)
    assert(r.groupsRecomputed == 1L)
    assert(mvState() == Set((Some("x"), 1L, 10L), (Some("y"), 1L, 20L), (None, 2L, 75L)))
    assert(
      Snapshots.readSnapshot(spark, mv).filter($"k".isNull).count() == 1L,
      "the NULL group must not duplicate across refreshes")
    // delete the NULL group wholesale
    DeleteVectors.deleteWhere(spark, src, $"k".isNull)
    val r2 = Mv.refresh(spark, mv)
    assert(r2.groupsDeleted == 1L)
    assert(mvState() == Set((Some("x"), 1L, 10L), (Some("y"), 1L, 20L)))
  }

  test("a NULL-group refresh stays change-priced (zero-null files never open) and applies in ONE atomic version") {
    val base = Files.createTempDirectory("mv_nullnarrow").toString
    val src = s"$base/src"
    val mv = s"$base/mv"
    val rows = Seq(
      ("d01", Option.empty[String], 1L, 10L),
      ("d01", Some("x"), 2L, 20L),
      ("d02", Some("y"), 3L, 30L),
      ("d03", Some("z"), 100L, 40L)).toDF("day", "k", "id", "v")
    Sources.writeParquet(rows.repartition(1), src, partitionCols = Seq("day"))
    Snapshots.commit(spark, src, Seq("day", "k", "id")) // per-file null counts on k
    Mv.create(spark, src, mv, Seq("k"), Seq("count(*) AS n", "sum(v) AS sv"))
    // the change window touches ONLY the NULL group (a new null-k row)
    DeleteVectors.upsert(
      spark, src,
      Seq(("d01", Option.empty[String], 9L, 5L)).toDF("day", "k", "id", "v"),
      Seq("id"))
    // narrowing canary: d03's file records ZERO nulls in k — if the
    // NULL-group recompute opens it (the old `alive` fallback), it dies
    corrupt(src, "day=d03/")
    val mvV0 = Snapshots.latestVersion(spark, mv)
    val r = Mv.refresh(spark, mv)
    assert(!r.fullResync && r.groupsRecomputed == 1L)
    assert(
      Snapshots.latestVersion(spark, mv) == mvV0 + 1L,
      "the NULL group must ride the SAME commit as everything else — no pre-delete version")
    def state(): Set[(Option[String], Long, Long)] =
      Snapshots.readSnapshot(spark, mv).collect()
        .map(r0 => (Option(r0.getString(0)), r0.getLong(1), r0.getLong(2))).toSet
    assert(state() == Set((None, 2L, 15L), (Some("x"), 1L, 20L), (Some("y"), 1L, 30L), (Some("z"), 1L, 40L)))
    // a MIXED window (null + non-null groups) is still one atomic
    // version — and the corrupt d03 file STAYS corrupt: neither the
    // source upsert's id-range narrowing ({3,9} misses [100,100]) nor
    // the NULL/y-group recompute may open it
    DeleteVectors.upsert(
      spark, src,
      Seq(
        ("d01", Option.empty[String], 9L, 7L),
        ("d02", Some("y"), 3L, 31L)).toDF("day", "k", "id", "v"),
      Seq("id"))
    val mvV1 = Snapshots.latestVersion(spark, mv)
    val r2 = Mv.refresh(spark, mv)
    assert(!r2.fullResync && r2.groupsRecomputed == 2L)
    assert(Snapshots.latestVersion(spark, mv) == mvV1 + 1L, "mixed window: one version")
    assert(state() == Set((None, 2L, 17L), (Some("x"), 1L, 20L), (Some("y"), 1L, 31L), (Some("z"), 1L, 40L)))
  }

  test("MVs cascade: a view over a view refreshes incrementally off the upstream's own feed") {
    val base = Files.createTempDirectory("mv_cascade").toString
    val src = s"$base/src"
    val mv1 = s"$base/daily"
    val mv2 = s"$base/total"
    sourceTable(src)
    // mv1: per-day rollup of the source; mv2: per-CAT-COUNT distribution
    // over mv1 (groups of mv1 rows — deletes/updates upstream must ripple)
    Mv.create(spark, src, mv1, Seq("day"), aggs)
    Mv.create(spark, mv1, mv2, Seq("n"), Seq("count(*) AS days", "sum(sv) AS sv_tot"))
    def recompute2(): Set[(Long, Long, Long)] =
      Snapshots
        .readSnapshot(spark, mv1)
        .groupBy($"n")
        .agg(count(lit(1)).as("days"), sum($"sv").as("sv_tot"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
    def mv2Rows(): Set[(Long, Long, Long)] =
      Snapshots
        .readSnapshot(spark, mv2)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
    assert(mv2Rows() == recompute2())
    // upstream change: day d03 loses a row (n 2→1) and d04 appears (n 1)
    DeleteVectors.deleteWhere(spark, src, $"day" === "d03" && $"cat" === "c")
    DeleteVectors.upsert(spark, src, Seq(("d04", "z", 9L)).toDF("day", "cat", "v"), Seq("day", "cat"))
    val r1 = Mv.refresh(spark, mv1)
    assert(!r1.fullResync && r1.groupsRecomputed == 2L)
    // mv2 refreshes off MV1's OWN change feed (the applyChanges version)
    val r2 = Mv.refresh(spark, mv2)
    assert(!r2.fullResync, "the downstream view must ride the upstream's feed")
    assert(mv2Rows() == recompute2())
    assert(mvRows(mv1) == recomputed(src), "the chain stays exact end-to-end")
  }

  test("filtered MVs: the WHERE rides create, refresh and both sides of an update") {
    val base = Files.createTempDirectory("mv_filter").toString
    val src = s"$base/src"
    val mv = s"$base/mv"
    sourceTable(src)
    // only 'a'-cat rows count; group per day
    Mv.create(spark, src, mv, Seq("day"), aggs, Some("cat = 'a'"))
    def expected(): Set[(String, Long, Long, Long)] =
      Snapshots
        .readSnapshot(spark, src)
        .filter($"cat" === "a")
        .groupBy($"day")
        .agg(count(lit(1)).as("n"), sum($"v").as("sv"), max($"v").as("mx"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
    assert(mvRows(mv) == expected())
    assert(Mv.definition(spark, mv).filterSql.contains("cat = 'a'"))
    // an update that moves a row OUT of the filtered set must still
    // affect its group (the delete side of the change passes the filter)
    DeleteVectors.upsert(spark, src, Seq(("d03", "a", 31L)).toDF("day", "cat", "v"), Seq("day", "cat"))
    val r1 = Mv.refresh(spark, mv)
    assert(!r1.fullResync && r1.groupsRecomputed == 1L)
    assert(mvRows(mv) == expected())
    // a change touching ONLY filtered-out rows is a zero-group no-op
    DeleteVectors.upsert(spark, src, Seq(("d01", "b", 99L)).toDF("day", "cat", "v"), Seq("day", "cat"))
    val r2 = Mv.refresh(spark, mv)
    assert(!r2.fullResync && r2.groupsRecomputed == 0L && r2.groupsDeleted == 0L)
    // deleting the last in-filter row of a day deletes the group even
    // though out-of-filter rows for that day survive
    DeleteVectors.deleteWhere(spark, src, $"day" === "d02" && $"cat" === "a")
    val r3 = Mv.refresh(spark, mv)
    assert(r3.groupsDeleted == 1L)
    assert(mvRows(mv) == expected() && !mvRows(mv).exists(_._1 == "d02"))
  }

  /** Star-schema fixture: a fact table PARTITIONED BY its join key `cat`
    * (so dim-attr group keys can prove partition-exact trace narrowing)
    * and a small dim mapping cat → rollup group `grp` with a weight.
    */
  private def starFixture(tag: String): (String, String, String) = {
    val base = Files.createTempDirectory(tag).toString
    val fact = s"$base/fact"
    val dim = s"$base/dim"
    val f = Seq(
      ("a", 1L, 10L), ("a", 2L, 11L), ("b", 3L, 20L),
      ("c", 4L, 30L), ("c", 5L, 31L), ("d", 6L, 40L)).toDF("cat", "id", "v")
    Sources.writeParquet(f.repartition(1), fact, partitionCols = Seq("cat"))
    Snapshots.commit(spark, fact, Seq("cat", "id"))
    val dd = Seq(("a", "g1", 2L), ("b", "g1", 3L), ("c", "g2", 5L), ("d", "g3", 7L))
      .toDF("ck", "grp", "w")
    Sources.writeParquet(dd.repartition(1), dim)
    Snapshots.commit(spark, dim, Seq("ck"))
    (fact, dim, s"$base/mv")
  }

  private def corrupt(root: String, relPrefix: String): Unit = {
    val victim = Snapshots.files(spark, root).find(_.startsWith(relPrefix)).get
    val p = Snapshots.resolve(spark, root, victim)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val crc = new org.apache.hadoop.fs.Path(p.getParent, s".${p.getName}.crc")
    if (fs.exists(crc)) fs.delete(crc, false)
    val out = fs.create(p, true)
    try out.write("not parquet".getBytes("UTF-8"))
    finally out.close()
  }

  test("join MV: star rollup by a dim attribute — create exact, fact refresh trace-narrowed, vanished group deletes") {
    val (fact, dim, mv) = starFixture("mv_star")
    Mv.create(
      spark, fact, mv, Seq("grp"), Seq("count(*) AS n", "sum(v) AS sv"),
      dims = Seq(Mv.MvJoinSpec(dim, Seq("cat"), Seq("ck"))))
    def got(): Set[(String, Long, Long)] =
      Snapshots.readSnapshot(spark, mv).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got() == Set(("g1", 3L, 41L), ("g2", 2L, 61L), ("g3", 1L, 40L)))
    val recDim = Mv.definition(spark, mv).dims
    assert(recDim.map(_.copy(chain = "")) == Seq(Mv.MvDim(dim, Seq("cat"), Seq("ck"), 1L)))
    assert(
      recDim.head.chain == Snapshots.chainIdentity(spark, dim),
      "create must pin the dim's chain identity")
    // a fact change touching only g1 (cats a, b); cat=c's file (g2,
    // untouched) is corrupted — the TRACE expansion (g1 → dim → {a, b})
    // must keep the refresh partition-exact or it dies here
    DeleteVectors.upsert(spark, fact, Seq(("a", 9L, 12L)).toDF("cat", "id", "v"), Seq("cat", "id"))
    corrupt(fact, "cat=c/")
    val r = Mv.refresh(spark, mv)
    assert(!r.fullResync && r.groupsRecomputed == 1L && r.groupsDeleted == 0L)
    assert(got() == Set(("g1", 4L, 53L), ("g2", 2L, 61L), ("g3", 1L, 40L)))
    // delete g3's only cat: the group must vanish, scanning nothing
    DeleteVectors.deleteWhere(spark, fact, $"cat" === "d")
    val r2 = Mv.refresh(spark, mv)
    assert(!r2.fullResync && r2.groupsRecomputed == 0L && r2.groupsDeleted == 1L)
    assert(got() == Set(("g1", 4L, 53L), ("g2", 2L, 61L)))
  }

  test("join MV: a moved dim refreshes via the DIM-DELTA path — changed-key-priced, both mappings, exact") {
    val (fact, dim, mv) = starFixture("mv_dimmove")
    Mv.create(
      spark, fact, mv, Seq("grp"), Seq("count(*) AS n", "sum(v) AS sv"),
      dims = Seq(Mv.MvJoinSpec(dim, Seq("cat"), Seq("ck"))))
    def got(): Set[(String, Long, Long)] =
      Snapshots.readSnapshot(spark, mv).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    // the `mv` metadata face must read stale on a dim move alone
    val cat = s"mvdim_${java.lang.Long.toHexString(System.nanoTime())}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.snap.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", new org.apache.hadoop.fs.Path(mv).getParent.toString)
    assert(!spark.sql(s"SELECT stale FROM $cat.mv.mv").head().getBoolean(0))
    // cat 'c' re-maps g2 → g1 with NO fact change: the affected groups
    // come from the DIM's feed (changed key c → groups g2 under the old
    // mapping, g1 under the new). The recompute of g1∪g2 scans cats
    // {a,b,c}; cat=d (g3, untouched) is corrupted to prove the fact scan
    // stays changed-key-narrowed — a resync would die here
    corrupt(fact, "cat=d/")
    DeleteVectors.upsert(spark, dim, Seq(("c", "g1", 5L)).toDF("ck", "grp", "w"), Seq("ck"))
    assert(spark.sql(s"SELECT stale FROM $cat.mv.mv").head().getBoolean(0), "dim move = stale")
    val r = Mv.refresh(spark, mv)
    assert(!r.fullResync, "a moved dim with a readable feed must NOT resync")
    assert(r.groupsRecomputed == 1L && r.groupsDeleted == 1L, r.toString)
    assert(got() == Set(("g1", 5L, 102L), ("g3", 1L, 40L)))
    // a changed dim key with NO fact rows affects nothing (cheap no-op)
    DeleteVectors.upsert(spark, dim, Seq(("zz", "g9", 1L)).toDF("ck", "grp", "w"), Seq("ck"))
    val r0 = Mv.refresh(spark, mv)
    assert(!r0.fullResync && r0.groupsRecomputed == 0L && r0.groupsDeleted == 0L, r0.toString)
    // a MIXED window — fact change AND dim re-map in one refresh: the
    // fact feed's groups derive under both mappings too
    DeleteVectors.upsert(spark, fact, Seq(("a", 9L, 12L)).toDF("cat", "id", "v"), Seq("cat", "id"))
    DeleteVectors.upsert(spark, dim, Seq(("b", "g2", 3L)).toDF("ck", "grp", "w"), Seq("ck"))
    val r2 = Mv.refresh(spark, mv)
    assert(!r2.fullResync, r2.toString)
    // g1 recomputes (a gains a row, b leaves; c stays): cats {a, c} =
    // rows (10, 11, 12, 30, 31); g2 appears with b's row
    assert(got() == Set(("g1", 5L, 94L), ("g2", 1L, 20L), ("g3", 1L, 40L)))
  }

  test("join MV: a vacuumed dim change window downgrades to a reported full resync — still exact") {
    val (fact, dim, mv) = starFixture("mv_dimvac")
    Mv.create(
      spark, fact, mv, Seq("grp"), Seq("count(*) AS n", "sum(v) AS sv"),
      dims = Seq(Mv.MvJoinSpec(dim, Seq("cat"), Seq("ck"))))
    // a COW rewrite of the dim (archives the old file) then vacuum
    // destroys the archived side: the dim feed for the window is gone
    Sources.updateWhere(spark, dim, $"ck" === "c", Map("grp" -> lit("g1")))
    Snapshots.vacuum(spark, dim, keepLast = 1)
    val r = Mv.refresh(spark, mv)
    assert(r.fullResync, "a destroyed dim window must downgrade, not fail")
    assert(
      Snapshots.readSnapshot(spark, mv).collect()
        .map(x => (x.getString(0), x.getLong(1), x.getLong(2))).toSet ==
        Set(("g1", 5L, 102L), ("g3", 1L, 40L)))
  }

  test("join MV: mixed fact+dim group keys and dim measures in aggregates, fact-key trace kept tight") {
    val (fact, dim, mv) = starFixture("mv_mixed")
    Mv.create(
      spark, fact, mv, Seq("grp", "cat"), Seq("count(*) AS n", "sum(v * w) AS wv"),
      dims = Seq(Mv.MvJoinSpec(dim, Seq("cat"), Seq("ck"))))
    def got(): Set[(String, String, Long, Long)] =
      Snapshots.readSnapshot(spark, mv).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(got() == Set(
      ("g1", "a", 2L, 42L), ("g1", "b", 1L, 60L), ("g2", "c", 2L, 305L), ("g3", "d", 1L, 280L)))
    // the affected group names its OWN cat (a fact key): the trace must
    // use it — not the dim expansion's wider {a, b} — so only cat=b's
    // file opens; cat=a's is corrupted to prove it
    DeleteVectors.upsert(spark, fact, Seq(("b", 9L, 21L)).toDF("cat", "id", "v"), Seq("cat", "id"))
    corrupt(fact, "cat=a/")
    val r = Mv.refresh(spark, mv)
    assert(!r.fullResync && r.groupsRecomputed == 1L)
    assert(got() == Set(
      ("g1", "a", 2L, 42L), ("g1", "b", 2L, 123L), ("g2", "c", 2L, 305L), ("g3", "d", 1L, 280L)))
  }

  test("SQL DDL: CREATE / REFRESH / DROP MATERIALIZED VIEW round-trip (join + filter), table-drop refused") {
    val (fact, dim, mv) = starFixture("mv_ddl")
    val base = new org.apache.hadoop.fs.Path(fact).getParent.toString
    val cat = s"mvddl_${java.lang.Long.toHexString(System.nanoTime())}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.snap.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", base)
    val v = spark.sql(
      s"""CREATE MATERIALIZED VIEW $cat.mv AS
         |SELECT grp, count(*) AS n, sum(v * w) AS wv
         |FROM $cat.fact JOIN $cat.dim d ON cat = d.ck
         |WHERE v > 10 GROUP BY grp""".stripMargin).head().getLong(0)
    assert(v == 1L)
    val d = Mv.definition(spark, mv)
    assert(d.dims.map(x => (x.root, x.factCols, x.dimCols)) == Seq((dim, Seq("cat"), Seq("ck"))))
    assert(d.filterSql.exists(_.contains("v > 10")), d.filterSql.toString)
    def got(): Set[(String, Long, Long)] =
      spark.sql(s"SELECT grp, n, wv FROM $cat.mv").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    // rows v > 10: a:11, b:20 (g1), c:30+31 (g2), d:40 (g3)
    assert(got() == Set(("g1", 2L, 82L), ("g2", 2L, 305L), ("g3", 1L, 280L)))
    DeleteVectors.upsert(spark, fact, Seq(("b", 9L, 21L)).toDF("cat", "id", "v"), Seq("cat", "id"))
    val r = spark.sql(s"REFRESH MATERIALIZED VIEW $cat.mv").head()
    assert(r.getLong(2) == 1L && !r.getBoolean(4), r.toString)
    assert(got() == Set(("g1", 3L, 145L), ("g2", 2L, 305L), ("g3", 1L, 280L)))
    // DROP: true, then idempotently false; a plain TABLE refuses
    assert(spark.sql(s"DROP MATERIALIZED VIEW $cat.mv").head().getBoolean(0))
    val fs = new org.apache.hadoop.fs.Path(mv).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(mv)), "the view dir must die whole")
    assert(!spark.sql(s"DROP MATERIALIZED VIEW $cat.mv").head().getBoolean(0))
    val e = intercept[Exception] { spark.sql(s"DROP MATERIALIZED VIEW $cat.fact").collect() }
    assert(e.getMessage.contains("not a materialized view"), e.getMessage)
    // the wrapper delegates everything that is not MV DDL verbatim
    assert(spark.sql("SELECT 1 AS one").head().getInt(0) == 1)
    // shape rules refuse loudly: unaliased aggregate
    val e2 = intercept[Exception] {
      spark.sql(s"CREATE MATERIALIZED VIEW $cat.mv2 AS SELECT cat, sum(v) FROM $cat.fact GROUP BY cat")
        .collect()
    }
    assert(e2.getMessage.contains("alias"), e2.getMessage)
  }

  test("join MV: a dim joined on the SAME column name refreshes (the trace keeps exactly one copy)") {
    val base = Files.createTempDirectory("mv_samename").toString
    val fact = s"$base/fact"
    val dim = s"$base/dim"
    val mv = s"$base/mv"
    // the ubiquitous shape: fact and dim share the join column's NAME
    // (ON cust_id = cust_id) — the trace expansion must keep exactly one
    // cust_id column (regression: the post-join containment check saw
    // the dim's copy and dropped the only one, bricking every refresh)
    val f = Seq((1L, 1L, 10L), (2L, 1L, 11L), (3L, 2L, 20L), (4L, 3L, 30L))
      .toDF("id", "cust_id", "v")
    Sources.writeParquet(f.repartition(1), fact)
    Snapshots.commit(spark, fact, Seq("id", "cust_id"))
    val dd = Seq((1L, "s1"), (2L, "s1"), (3L, "s2")).toDF("cust_id", "seg")
    Sources.writeParquet(dd.repartition(1), dim)
    Snapshots.commit(spark, dim, Seq("cust_id"))
    Mv.create(
      spark, fact, mv, Seq("seg"), Seq("count(*) AS n", "sum(v) AS sv"),
      dims = Seq(Mv.MvJoinSpec(dim, Seq("cust_id"), Seq("cust_id"))))
    def got(): Set[(String, Long, Long)] =
      Snapshots.readSnapshot(spark, mv).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got() == Set(("s1", 3L, 41L), ("s2", 1L, 30L)))
    DeleteVectors.upsert(spark, fact, Seq((5L, 2L, 21L)).toDF("id", "cust_id", "v"), Seq("id"))
    val r = Mv.refresh(spark, mv)
    assert(!r.fullResync && r.groupsRecomputed == 1L, r.toString)
    assert(got() == Set(("s1", 4L, 62L), ("s2", 1L, 30L)))
  }

  /** LEFT-join fixture: cat `x` has NO dim row — the unmatched bucket. */
  private def leftFixture(tag: String): (String, String, String) = {
    val base = Files.createTempDirectory(tag).toString
    val fact = s"$base/fact"
    val dim = s"$base/dim"
    val f = Seq(("a", 1L, 10L), ("a", 2L, 11L), ("b", 3L, 20L), ("x", 4L, 5L))
      .toDF("cat", "id", "v")
    Sources.writeParquet(f.repartition(1), fact, partitionCols = Seq("cat"))
    Snapshots.commit(spark, fact, Seq("cat", "id"))
    val dd = Seq(("a", "g1", 2L), ("b", "g1", 3L)).toDF("ck", "grp", "w")
    Sources.writeParquet(dd.repartition(1), dim)
    Snapshots.commit(spark, dim, Seq("ck"))
    (fact, dim, s"$base/mv")
  }

  test("LEFT-join MV: unmatched rows form the NULL group; dim inserts/deletes move rows between buckets") {
    val (fact, dim, mv) = leftFixture("mv_left")
    Mv.create(
      spark, fact, mv, Seq("grp"), Seq("count(*) AS n", "sum(v) AS sv"),
      dims = Seq(Mv.MvJoinSpec(dim, Seq("cat"), Seq("ck"), joinType = "left")))
    assert(Mv.definition(spark, mv).dims.head.joinType == "left", "the join type must round-trip")
    def got(): Set[(Option[String], Long, Long)] =
      Snapshots.readSnapshot(spark, mv).collect()
        .map(r => (Option(r.getString(0)), r.getLong(1), r.getLong(2))).toSet
    assert(got() == Set((Some("g1"), 3L, 41L), (None, 1L, 5L)))
    // fact window touching only the unmatched bucket
    DeleteVectors.upsert(spark, fact, Seq(("x", 9L, 6L)).toDF("cat", "id", "v"), Seq("cat", "id"))
    val rA = Mv.refresh(spark, mv)
    assert(!rA.fullResync && rA.groupsRecomputed == 1L, rA.toString)
    assert(got() == Set((Some("g1"), 3L, 41L), (None, 2L, 11L)))
    // dim INSERT: `x` becomes matched — the NULL bucket empties, g2 appears
    DeleteVectors.upsert(spark, dim, Seq(("x", "g2", 1L)).toDF("ck", "grp", "w"), Seq("ck"))
    val rB = Mv.refresh(spark, mv)
    assert(!rB.fullResync && rB.groupsRecomputed == 1L && rB.groupsDeleted == 1L, rB.toString)
    assert(got() == Set((Some("g1"), 3L, 41L), (Some("g2"), 2L, 11L)))
    // dim DELETE: `b` becomes unmatched — g1 shrinks, the NULL bucket returns
    DeleteVectors.deleteWhere(spark, dim, $"ck" === "b")
    val rC = Mv.refresh(spark, mv)
    assert(!rC.fullResync, rC.toString)
    assert(got() == Set((Some("g1"), 2L, 21L), (Some("g2"), 2L, 11L), (None, 1L, 20L)))
  }

  test("LEFT-join MV: fact-side keys keep narrowing even when the dim cannot constrain") {
    val (fact, dim, mv) = leftFixture("mv_leftnarrow")
    Mv.create(
      spark, fact, mv, Seq("grp", "cat"), Seq("count(*) AS n", "sum(v) AS sv"),
      dims = Seq(Mv.MvJoinSpec(dim, Seq("cat"), Seq("ck"), joinType = "left")))
    // the affected group is (NULL, x): grp (a LEFT dim key, NULL) cannot
    // constrain — but cat (a fact key) still narrows partition-exactly,
    // so cat=a's corrupted file must never open
    DeleteVectors.upsert(spark, fact, Seq(("x", 9L, 6L)).toDF("cat", "id", "v"), Seq("cat", "id"))
    corrupt(fact, "cat=a/")
    val r = Mv.refresh(spark, mv)
    assert(!r.fullResync && r.groupsRecomputed == 1L, r.toString)
    val got = Snapshots.readSnapshot(spark, mv).collect()
      .map(x => (Option(x.getString(0)), x.getString(1), x.getLong(2), x.getLong(3))).toSet
    assert(got == Set(
      (Some("g1"), "a", 2L, 21L), (Some("g1"), "b", 1L, 20L), (None, "x", 2L, 11L)))
  }

  test("LEFT JOIN through the SQL DDL and the procedure dims marker") {
    val (fact, dim, mv) = leftFixture("mv_leftddl")
    val base = new org.apache.hadoop.fs.Path(fact).getParent.toString
    val cat = s"mvleft_${java.lang.Long.toHexString(System.nanoTime())}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.snap.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", base)
    spark.sql(
      s"""CREATE MATERIALIZED VIEW $cat.mv AS
         |SELECT grp, count(*) AS n, sum(v) AS sv
         |FROM $cat.fact LEFT JOIN $cat.dim d ON cat = d.ck
         |GROUP BY grp""".stripMargin).collect()
    assert(Mv.definition(spark, mv).dims.head.joinType == "left")
    assert(
      spark.sql(s"SELECT dims FROM $cat.mv.mv").head().getString(0).contains("LEFT ON cat=ck"),
      "the metadata face must show the join type")
    val got = spark.sql(s"SELECT grp, n, sv FROM $cat.mv").collect()
      .map(r => (Option(r.getString(0)), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((Some("g1"), 3L, 41L), (None, 1L, 5L)))
    assert(spark.sql(s"DROP MATERIALIZED VIEW $cat.mv").head().getBoolean(0))
    // the CALL face's LEFT marker
    spark.sql(s"CALL $cat.mv_create(mv => 'mv2', source => 'fact', keys => 'grp', " +
      "aggs => 'count(*) AS n; sum(v) AS sv', dims => 'dim LEFT ON cat=ck')").collect()
    assert(Mv.definition(spark, s"$base/mv2").dims.head.joinType == "left")
  }

  test("TWO dims (inner + left) in one MV: multi-dim trace, one-of-two dim-delta, exact") {
    val base = Files.createTempDirectory("mv_twodims").toString
    val fact = s"$base/fact"
    val dimA = s"$base/dimA"
    val dimB = s"$base/dimB"
    val mv = s"$base/mv"
    val f = Seq(
      ("a", "r1", 1L, 10L),
      ("a", "r2", 2L, 11L),
      ("b", "r1", 3L, 20L),
      ("b", "r3", 4L, 30L)) // r3 has no dimB row: the LEFT join's NULL zone
      .toDF("cat", "reg", "id", "v")
    Sources.writeParquet(f.repartition(1), fact, partitionCols = Seq("cat"))
    Snapshots.commit(spark, fact, Seq("cat", "reg", "id"))
    Sources.writeParquet(Seq(("a", "g1"), ("b", "g2")).toDF("ck", "grp").repartition(1), dimA)
    Snapshots.commit(spark, dimA, Seq("ck"))
    Sources.writeParquet(Seq(("r1", "z1"), ("r2", "z2")).toDF("rk", "zone").repartition(1), dimB)
    Snapshots.commit(spark, dimB, Seq("rk"))
    Mv.create(
      spark, fact, mv, Seq("grp", "zone"), Seq("count(*) AS n", "sum(v) AS sv"),
      dims = Seq(
        Mv.MvJoinSpec(dimA, Seq("cat"), Seq("ck")),
        Mv.MvJoinSpec(dimB, Seq("reg"), Seq("rk"), joinType = "left")))
    def got(): Set[(String, Option[String], Long, Long)] =
      Snapshots.readSnapshot(spark, mv).collect()
        .map(r => (r.getString(0), Option(r.getString(1)), r.getLong(2), r.getLong(3))).toSet
    assert(got() == Set(
      ("g1", Some("z1"), 1L, 10L), ("g1", Some("z2"), 1L, 11L),
      ("g2", Some("z1"), 1L, 20L), ("g2", None, 1L, 30L)))
    // ONE window carrying a fact change AND a dimB-only change (dimA
    // untouched): the fact feed names (g1, z1); dimB's feed names r3,
    // whose fact rows map (g2, NULL) old → (g2, z3) new
    DeleteVectors.upsert(
      spark, fact, Seq(("a", "r1", 9L, 12L)).toDF("cat", "reg", "id", "v"), Seq("id"))
    DeleteVectors.upsert(spark, dimB, Seq(("r3", "z3")).toDF("rk", "zone"), Seq("rk"))
    val r = Mv.refresh(spark, mv)
    assert(!r.fullResync, r.toString)
    assert(r.groupsRecomputed == 2L && r.groupsDeleted == 1L, r.toString)
    assert(got() == Set(
      ("g1", Some("z1"), 2L, 22L), ("g1", Some("z2"), 1L, 11L),
      ("g2", Some("z1"), 1L, 20L), ("g2", Some("z3"), 1L, 30L)))
    // the watermark reflects BOTH dim pins: an immediate second refresh
    // is a no-op
    val r2 = Mv.refresh(spark, mv)
    assert(r2.groupsRecomputed == 0L && r2.groupsDeleted == 0L && !r2.fullResync)
  }

  test("TWO dims BOTH moved in one window: the dim-delta derivations UNION, exact, canary held") {
    val base = Files.createTempDirectory("mv_bothdims").toString
    val fact = s"$base/fact"
    val dimA = s"$base/dimA"
    val dimB = s"$base/dimB"
    val mv = s"$base/mv"
    val f = Seq(
      ("a", "r1", 1L, 10L),
      ("a", "r2", 2L, 11L),
      ("b", "r1", 3L, 20L),
      ("b", "r3", 4L, 30L),
      ("c", "r1", 5L, 50L)) // cat=c: untouched by EVERYTHING — the canary
      .toDF("cat", "reg", "id", "v")
    Sources.writeParquet(f.repartition(1), fact, partitionCols = Seq("cat"))
    Snapshots.commit(spark, fact, Seq("cat", "reg", "id"))
    Sources.writeParquet(
      Seq(("a", "g1"), ("b", "g2"), ("c", "g3")).toDF("ck", "grp").repartition(1), dimA)
    Snapshots.commit(spark, dimA, Seq("ck"))
    Sources.writeParquet(Seq(("r1", "z1"), ("r2", "z2")).toDF("rk", "zone").repartition(1), dimB)
    Snapshots.commit(spark, dimB, Seq("rk"))
    Mv.create(
      spark, fact, mv, Seq("grp", "zone"), Seq("count(*) AS n", "sum(v) AS sv"),
      dims = Seq(
        Mv.MvJoinSpec(dimA, Seq("cat"), Seq("ck")),
        Mv.MvJoinSpec(dimB, Seq("reg"), Seq("rk"), joinType = "left")))
    def got(): Set[(String, Option[String], Long, Long)] =
      Snapshots.readSnapshot(spark, mv).collect()
        .map(r => (r.getString(0), Option(r.getString(1)), r.getLong(2), r.getLong(3))).toSet
    assert(got() == Set(
      ("g1", Some("z1"), 1L, 10L), ("g1", Some("z2"), 1L, 11L),
      ("g2", Some("z1"), 1L, 20L), ("g2", None, 1L, 30L),
      ("g3", Some("z1"), 1L, 50L)))
    // ONE window where a fact row changes AND BOTH dims move — the
    // r15 law pinned one-of-two; this exercises the derivation UNION
    DeleteVectors.upsert(
      spark, fact, Seq(("a", "r1", 9L, 12L)).toDF("cat", "reg", "id", "v"), Seq("id"))
    DeleteVectors.upsert(spark, dimA, Seq(("b", "g9")).toDF("ck", "grp"), Seq("ck"))
    DeleteVectors.upsert(spark, dimB, Seq(("r3", "z3")).toDF("rk", "zone"), Seq("rk"))
    // dimA's delta names cat=b, dimB's names reg=r3 (whose fact rows are
    // cat=b), the fact feed names cat=a — cat=c is reachable by NOTHING,
    // so the recompute must never open its file
    val r = withCorrupted(fact, "cat=c/") { Mv.refresh(spark, mv) }
    assert(!r.fullResync, r.toString)
    assert(r.groupsRecomputed == 3L && r.groupsDeleted == 2L, r.toString)
    assert(got() == Set(
      ("g1", Some("z1"), 2L, 22L), ("g1", Some("z2"), 1L, 11L),
      ("g9", Some("z1"), 1L, 20L), ("g9", Some("z3"), 1L, 30L),
      ("g3", Some("z1"), 1L, 50L)))
    val r2 = Mv.refresh(spark, mv)
    assert(r2.groupsRecomputed == 0L && r2.groupsDeleted == 0L && !r2.fullResync)
  }

  test("cascade over a JOIN MV: the downstream rides the upstream's commits; a dim move propagates") {
    val (fact, dim, mv1) = starFixture("mv_joincascade")
    val base = new org.apache.hadoop.fs.Path(fact).getParent.toString
    val mv2 = s"$base/mv2"
    Mv.create(
      spark, fact, mv1, Seq("grp"), Seq("count(*) AS n", "sum(v) AS sv"),
      dims = Seq(Mv.MvJoinSpec(dim, Seq("cat"), Seq("ck"))))
    // the downstream consumes the upstream VIEW as its fact — its change
    // feed is the upstream's own MoR refresh commits
    Mv.create(spark, mv1, mv2, Seq("n"), Seq("count(*) AS groups_with_n", "sum(sv) AS sv_tot"))
    def got2(): Set[(Long, Long, Long)] =
      Snapshots.readSnapshot(spark, mv2).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got2() == Set((3L, 1L, 41L), (2L, 1L, 61L), (1L, 1L, 40L)))
    // a DIM move re-maps c's rows into g1: the upstream refreshes via the
    // dim-delta path, and its commit is an ordinary version the
    // downstream prices incrementally
    DeleteVectors.upsert(spark, dim, Seq(("c", "g1", 5L)).toDF("ck", "grp", "w"), Seq("ck"))
    val r1 = Mv.refresh(spark, mv1)
    assert(!r1.fullResync && r1.groupsRecomputed == 1L && r1.groupsDeleted == 1L, r1.toString)
    val r2 = Mv.refresh(spark, mv2)
    assert(!r2.fullResync, "the downstream must ride the upstream's feed, not resync")
    assert(r2.groupsRecomputed == 1L && r2.groupsDeleted == 2L, r2.toString)
    assert(got2() == Set((5L, 1L, 102L), (1L, 1L, 40L)))
  }

  test("LEFT dim + null-TOLERANT derived key: the expression's NULL-IMAGE group stands the dim down") {
    val base = Files.createTempDirectory("mv_nullimage").toString
    val fact = s"$base/fact"
    val dim = s"$base/dim"
    val mv = s"$base/mv"
    val f = Seq(("a", 1L, 10L), ("b", 2L, 20L), ("x", 3L, 30L)) // x: unmatched
      .toDF("cat", "id", "v")
    Sources.writeParquet(f.repartition(1), fact, partitionCols = Seq("cat"))
    Snapshots.commit(spark, fact, Seq("cat", "id"))
    Sources.writeParquet(Seq(("a", "g1"), ("b", "g1")).toDF("ck", "grp").repartition(1), dim)
    Snapshots.commit(spark, dim, Seq("ck"))
    // coalesce(grp, 'none') maps UNMATCHED rows to the NON-null 'none' —
    // the plain NULL-detection guard would never fire, the dim would
    // "enumerate" the none-group's join keys (finding none, since no dim
    // row images to 'none'), the trace would go empty and the refresh
    // would wrongly DELETE the group. The null-image guard stands the
    // dim down instead.
    Mv.create(
      spark, fact, mv, Seq("kg"), Seq("count(*) AS n", "sum(v) AS sv"),
      dims = Seq(Mv.MvJoinSpec(dim, Seq("cat"), Seq("ck"), joinType = "left")),
      keyExprs = Map("kg" -> "coalesce(grp, 'none')"))
    def got(): Set[(String, Long, Long)] =
      Snapshots.readSnapshot(spark, mv).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got() == Set(("g1", 2L, 30L), ("none", 1L, 30L)))
    // a second unmatched row lands: the 'none' group must recompute over
    // ALL its members (x and y), not be trace-narrowed to nothing
    DeleteVectors.upsert(
      spark, fact, Seq(("y", 4L, 40L)).toDF("cat", "id", "v"), Seq("cat", "id"))
    val r = Mv.refresh(spark, mv)
    assert(!r.fullResync && r.groupsRecomputed == 1L && r.groupsDeleted == 0L, r.toString)
    assert(got() == Set(("g1", 2L, 30L), ("none", 2L, 70L)))
  }

  test("join-MV create refuses column collisions and unprovidable group keys") {
    val (fact, dim, mv) = starFixture("mv_refusejoin")
    val base = new org.apache.hadoop.fs.Path(fact).getParent.toString
    // a dim whose VISIBLE column collides with a fact column
    val dim2 = s"$base/dim2"
    Sources.writeParquet(Seq(("a", 1L)).toDF("ck", "v").repartition(1), dim2)
    Snapshots.commit(spark, dim2, Seq("ck"))
    val e = intercept[IllegalArgumentException] {
      Mv.create(
        spark, fact, mv, Seq("cat"), Seq("count(*) AS n"),
        dims = Seq(Mv.MvJoinSpec(dim2, Seq("cat"), Seq("ck"))))
    }
    assert(e.getMessage.contains("collide"), e.getMessage)
    // a group key neither side provides
    val e2 = intercept[IllegalArgumentException] {
      Mv.create(
        spark, fact, mv, Seq("nope"), Seq("count(*) AS n"),
        dims = Seq(Mv.MvJoinSpec(dim, Seq("cat"), Seq("ck"))))
    }
    assert(e2.getMessage.contains("exactly one side"), e2.getMessage)
  }

  test("mvRefreshStream keeps the view fresh off the source's manifest log") {
    val base = Files.createTempDirectory("mv_stream").toString
    val src = s"$base/src"
    val mv = s"$base/mv"
    sourceTable(src)
    Mv.create(spark, src, mv, Seq("day"), aggs)
    val q = graft.streaming.Streaming.mvRefreshStream(spark, mv, s"$base/ckpt")
    try {
      q.processAllAvailable() // drain the create-time manifests: no-op refresh
      val v0 = Mv.definition(spark, mv).refreshedVersion
      DeleteVectors.upsert(spark, src, Seq(("d05", "q", 50L)).toDF("day", "cat", "v"), Seq("day", "cat"))
      q.processAllAvailable() // the commit's manifest wakes one refresh
      assert(Mv.definition(spark, mv).refreshedVersion > v0)
      assert(mvRows(mv) == recomputed(src))
      assert(mvRows(mv).exists(_._1 == "d05"))
    } finally q.stop()
  }

  test("mvRefreshStream wakes on a DIM-only commit for a join view") {
    val (fact, dim, mv) = starFixture("mv_dimstream")
    val base = new org.apache.hadoop.fs.Path(fact).getParent.toString
    Mv.create(
      spark, fact, mv, Seq("grp"), Seq("count(*) AS n", "sum(v) AS sv"),
      dims = Seq(Mv.MvJoinSpec(dim, Seq("cat"), Seq("ck"))))
    val q = graft.streaming.Streaming.mvRefreshStream(spark, mv, s"$base/ckpt")
    try {
      q.processAllAvailable() // drain the create-time manifests: no-op
      def got(): Set[(String, Long, Long)] =
        Snapshots.readSnapshot(spark, mv).collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      // a DIM-only commit (no fact change) must wake a refresh: c's
      // re-map g2 → g1 lands in the view without anyone calling refresh
      DeleteVectors.upsert(spark, dim, Seq(("c", "g1", 5L)).toDF("ck", "grp", "w"), Seq("ck"))
      q.processAllAvailable()
      assert(got() == Set(("g1", 5L, 102L), ("g3", 1L, 40L)))
      // and a fact commit still wakes as before
      DeleteVectors.upsert(spark, fact, Seq(("d", 9L, 41L)).toDF("cat", "id", "v"), Seq("cat", "id"))
      q.processAllAvailable()
      assert(got() == Set(("g1", 5L, 102L), ("g3", 2L, 81L)))
    } finally q.stop()
  }

  test("mvRefreshStream keeps a DERIVED-key (hourly) view fresh off the manifest log") {
    val base = Files.createTempDirectory("mv_hourlystream").toString
    val src = s"$base/src"
    val mv = s"$base/mv"
    tsSourceTable(src)
    Mv.create(
      spark, src, mv, Seq("h", "cat"), Seq("count(*) AS n", "sum(v) AS sv"),
      keyExprs = Map("h" -> "date_trunc('hour', ts)"))
    val q = graft.streaming.Streaming.mvRefreshStream(spark, mv, s"$base/ckpt")
    try {
      q.processAllAvailable() // drain the create-time manifests: no-op
      DeleteVectors.upsert(
        spark, src,
        Seq(("2024-03-03 15:30:00", "q", 70L)).toDF("tss", "cat", "v")
          .select(to_timestamp(col("tss")).as("ts"), col("cat"), col("v"),
            to_date(col("tss")).as("day")),
        Seq("ts", "cat"))
      q.processAllAvailable() // the commit's manifest wakes one refresh
      assert(hourRows(mv) == recomputedHourly(src))
      assert(
        Mv.definition(spark, mv).refreshedVersion == Snapshots.latestVersion(spark, src),
        "the stream-driven refresh advances the watermark")
    } finally q.stop()
  }

  test("mvRefreshStream keeps a FULL OUTER view fresh: a fact commit flips a dim row's matched status") {
    val base = Files.createTempDirectory("mv_fullstream").toString
    val fact = s"$base/fact"
    val dim = s"$base/dim"
    val mv = s"$base/mv"
    Sources.writeParquet(
      Seq(("a", 1L, 10L), ("b", 2L, 20L)).toDF("cat", "id", "v").repartition(1),
      fact, partitionCols = Seq("cat"))
    Snapshots.commit(spark, fact, Seq("cat", "id"))
    Sources.writeParquet(
      Seq(("a", "g1", 2L), ("b", "g1", 3L), ("z", "g9", 5L)).toDF("ck", "grp", "w").repartition(1),
      dim)
    Snapshots.commit(spark, dim, Seq("ck"))
    Mv.create(
      spark, fact, mv, Seq("grp"), Seq("count(*) AS n", "sum(v) AS sv"),
      dims = Seq(Mv.MvJoinSpec(dim, Seq("cat"), Seq("ck"), joinType = "full")))
    def expect(): Set[(String, Long, Option[Long])] =
      Snapshots.readSnapshot(spark, fact)
        .join(Snapshots.readSnapshot(spark, dim), $"cat" === $"ck", "full")
        .groupBy($"grp")
        .agg(count(lit(1)).as("n"), sum($"v").as("sv"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))
        .toSet
    def got(): Set[(String, Long, Option[Long])] =
      Snapshots.readSnapshot(spark, mv).collect()
        .map(r => (r.getString(0), r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))
        .toSet
    val q = graft.streaming.Streaming.mvRefreshStream(spark, mv, s"$base/ckpt")
    try {
      q.processAllAvailable() // drain the create-time manifests: no-op
      // the commit's manifest wakes one refresh that must flip g9 from
      // its unmatched image (n=1, sv=NULL) to the matched row
      DeleteVectors.upsert(
        spark, fact, Seq(("z", 3L, 30L)).toDF("cat", "id", "v"), Seq("cat", "id"))
      q.processAllAvailable()
      assert(got() == expect(), "the stream-driven refresh must maintain the (c)-side")
      assert(got().contains(("g9", 1L, Some(30L))), got().toString)
    } finally q.stop()
  }

  test("definition() heals the writeDef crash window (def deleted, next image present)") {
    val (src, mv) = fixture("mv_heal")
    Mv.create(spark, src, mv, Seq("day"), aggs)
    val defP = new org.apache.hadoop.fs.Path(s"$mv/${Snapshots.ManifestDirName}/mv/def")
    val next = new org.apache.hadoop.fs.Path(defP.getParent, ".def-next")
    val fs = defP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate the crash between writeDef's delete and rename: the old def
    // is gone, the complete next image is not yet renamed
    assert(fs.rename(defP, next))
    val d = Mv.definition(spark, mv)
    assert(d.keyCols == Seq("day") && d.aggExprs == aggs, "the healed definition must be whole")
    assert(fs.exists(defP) && !fs.exists(next), "the heal must finish the rename")
    val r = Mv.refresh(spark, mv) // refresh proceeds normally off the healed def
    assert(r.fromVersion == r.toVersion, "source unchanged: the healed watermark is current")
  }

  test("writeDef tolerates a lock-free reader finishing its rename (fault-injected), refuses a foreign image") {
    // a custom fs scheme whose rename FAILS on the `.def-next -> def`
    // step after simulating what a concurrent reader's heal would have
    // done — the only way to execute writeDef's race branch on demand
    spark.sparkContext.hadoopConfiguration
      .set("fs.mvfault.impl", classOf[graft.sources.MvFaultFs].getName)
    val base = "mvfault:" + Files.createTempDirectory("mv_fault").toString
    val src = s"$base/src"
    val mv = s"$base/mv"
    val rows = Seq(("d01", "a", 10L), ("d02", "b", 20L)).toDF("day", "cat", "v")
    Sources.writeParquet(rows.repartition(1), src, partitionCols = Seq("day"))
    Snapshots.commit(spark, src, Seq("day", "cat"))
    Mv.create(spark, src, mv, Seq("day"), Seq("count(*) AS n", "sum(v) AS sv"))
    DeleteVectors.upsert(spark, src, Seq(("d01", "a", 11L)).toDF("day", "cat", "v"), Seq("day", "cat"))
    // CASE 1: the healer finished OUR rename — writeDef must treat the
    // failed rename as success (the def holds exactly its image)
    MvFaultFs.mode.set(1)
    try {
      val r = Mv.refresh(spark, mv)
      assert(r.groupsRecomputed == 1L)
    } finally MvFaultFs.mode.set(0)
    assert(
      Mv.definition(spark, mv).refreshedVersion == Snapshots.latestVersion(spark, src),
      "the healed-by-reader rename must still advance the watermark")
    // CASE 2: the rename fails and the def holds a FOREIGN image — that
    // is NOT the heal race; writeDef must refuse loudly, never shrug
    DeleteVectors.upsert(spark, src, Seq(("d02", "b", 21L)).toDF("day", "cat", "v"), Seq("day", "cat"))
    MvFaultFs.mode.set(2)
    try {
      val e = intercept[RuntimeException] { Mv.refresh(spark, mv) }
      assert(e.getMessage.contains("definition update failed"), e.getMessage)
    } finally MvFaultFs.mode.set(0)
  }

  test("drop resumes a crashed sweep via the tombstone; a real table still refuses") {
    val (src, mv) = fixture("mv_dropresume")
    Mv.create(spark, src, mv, Seq("day"), aggs)
    // simulate the crash window: the in-lock phase ran (tombstone
    // landed, def deleted) but the post-release sweep never did — the
    // root is a headless-but-tombstoned husk
    val defP = new org.apache.hadoop.fs.Path(s"$mv/${Snapshots.ManifestDirName}/mv/def")
    val fs = defP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new org.apache.hadoop.fs.Path(defP.getParent, ".def-dropped"), true)
    try out.write("graft-mv dropped".getBytes("UTF-8"))
    finally out.close()
    fs.delete(defP, false)
    // every MV face refuses the husk ...
    val e = intercept[Exception] { Mv.refresh(spark, mv) }
    assert(e.getMessage.contains("not a materialized view"), e.getMessage)
    val e2 = intercept[Exception] { Mv.create(spark, src, mv, Seq("day"), aggs) }
    assert(e2.getMessage.contains("unfinished drop sweep"), e2.getMessage)
    // ... except drop, which RESUMES the sweep instead of declaring the
    // husk a table (the pre-tombstone behavior wedged the root forever)
    assert(Mv.drop(spark, mv), "a tombstoned husk is a resumable drop")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(mv)), "the resume must finish the sweep")
    // and a committed TABLE with no definition still refuses loudly
    val e3 = intercept[Exception] { Mv.drop(spark, src) }
    assert(e3.getMessage.contains("not a materialized view"), e3.getMessage)
  }

  test("create refuses a PARTIALLY-swept husk (manifests gone, tombstone left); a drop retry heals it") {
    val (src, mv) = fixture("mv_partialsweep")
    Mv.create(spark, src, mv, Seq("day"), aggs)
    // simulate a sweep that crashed MIDWAY: manifests and def are gone
    // (so latestVersion reads 0 and create's old guards would PASS) but
    // the tombstone and a stray data file remain — the exact window in
    // which a create used to adopt the husk and the resumed sweep then
    // silently deleted the brand-new view
    val manDir = new org.apache.hadoop.fs.Path(s"$mv/${Snapshots.ManifestDirName}")
    val fs = manDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new org.apache.hadoop.fs.Path(manDir, "mv/.def-dropped"), true)
    try out.write("graft-mv dropped".getBytes("UTF-8"))
    finally out.close()
    fs.delete(new org.apache.hadoop.fs.Path(manDir, "mv/def"), false)
    fs.listStatus(manDir)
      .filter(st => st.getPath.getName.endsWith(".manifest"))
      .foreach(st => fs.delete(st.getPath, false))
    assert(Snapshots.latestVersion(spark, mv) == 0L, "the husk must look table-less")
    val e = intercept[Exception] { Mv.create(spark, src, mv, Seq("day"), aggs) }
    assert(e.getMessage.contains("unfinished drop sweep"), e.getMessage)
    // the retry drop resumes and finishes; only then is the root free
    assert(Mv.drop(spark, mv))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(mv)))
    val v = Mv.create(spark, src, mv, Seq("day"), aggs)
    assert(v == 1L && mvRows(mv) == recomputed(src), "a finished sweep frees the root for real")
  }

  test("a no-op drop reclaims only empty dirs and leaves a fresh root usable") {
    val base = Files.createTempDirectory("mv_noopdrop").toString
    val src = s"$base/src"
    sourceTable(src)
    val mv = s"$base/virgin"
    assert(!Mv.drop(spark, mv), "dropping a nonexistent view is a no-op")
    val fs = new org.apache.hadoop.fs.Path(mv)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(
      !fs.exists(new org.apache.hadoop.fs.Path(mv)),
      "the no-op drop must reclaim the lock-husk it created, not leak it")
    // the root stays fully usable afterwards
    Mv.create(spark, src, mv, Seq("day"), aggs)
    assert(mvRows(mv) == recomputed(src))
  }

  // ---- derived (expression-valued) group keys ---------------------------

  /** Timestamp-keyed source for the time-bucketed rollup laws: two days,
    * distinct hours, written TIMESTAMP_MICROS so `ts` carries usable
    * footer stats (INT96 — the session default for oracle dumps — records
    * none, which would demote interval narrowing to keep-everything).
    */
  private def tsSourceTable(dir: String): Unit = {
    val rows = Seq(
      ("2024-03-01 00:10:00", "a", 1L),
      ("2024-03-01 00:40:00", "b", 2L),
      ("2024-03-01 05:15:00", "a", 3L),
      ("2024-03-02 07:05:00", "a", 4L),
      ("2024-03-02 07:55:00", "b", 5L),
      ("2024-03-02 09:30:00", "c", 6L)).toDF("tss", "cat", "v")
      .select(
        to_timestamp(col("tss")).as("ts"),
        col("cat"),
        col("v"),
        to_date(col("tss")).as("day"))
    withMicros(Sources.writeParquet(rows.repartition(col("day")), dir, Seq("day")))
    Snapshots.commit(spark, dir, Seq("day", "ts", "cat"), Seq("cat"))
  }

  private def withMicros[T](body: => T): T = {
    val k = "spark.sql.parquet.outputTimestampType"
    val old = spark.conf.getOption(k)
    spark.conf.set(k, "TIMESTAMP_MICROS")
    try body
    finally old.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  private def hourRows(root: String): Set[(java.sql.Timestamp, String, Long, Long)] =
    Snapshots
      .readSnapshot(spark, root)
      .select($"h", $"cat", $"n", $"sv")
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet

  private def recomputedHourly(srcRoot: String): Set[(java.sql.Timestamp, String, Long, Long)] =
    Snapshots
      .readSnapshot(spark, srcRoot)
      .groupBy(date_trunc("hour", $"ts").as("h"), $"cat")
      .agg(count(lit(1)).as("n"), sum($"v").as("sv"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet

  /** Corrupt one committed file for the duration of `body`, restoring the
    * original bytes afterwards so oracle recomputes can still read the
    * table — the canary proves `body` never OPENED the file.
    */
  private def withCorrupted[T](root: String, relPrefix: String)(body: => T): T = {
    val victim = Snapshots.files(spark, root).find(_.startsWith(relPrefix)).get
    val p = Snapshots.resolve(spark, root, victim)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bak = new org.apache.hadoop.fs.Path(p.getParent, s".${p.getName}.bak")
    org.apache.hadoop.fs.FileUtil.copy(fs, p, fs, bak, false, spark.sparkContext.hadoopConfiguration)
    val crc = new org.apache.hadoop.fs.Path(p.getParent, s".${p.getName}.crc")
    if (fs.exists(crc)) fs.delete(crc, false)
    val out = fs.create(p, true)
    try out.write("not parquet".getBytes("UTF-8"))
    finally out.close()
    try body
    finally {
      fs.delete(p, false)
      fs.rename(bak, p)
    }
  }

  test("derived keys: the hourly rollup creates, refreshes change-priced, and narrows by INTERVAL") {
    val base = Files.createTempDirectory("mv_hourly").toString
    val src = s"$base/src"
    val mv = s"$base/mv"
    tsSourceTable(src)
    Mv.create(
      spark, src, mv, Seq("h", "cat"), Seq("count(*) AS n", "sum(v) AS sv"),
      keyExprs = Map("h" -> "date_trunc('hour', ts)"))
    assert(hourRows(mv) == recomputedHourly(src), "create ≡ recompute for derived keys")
    val d = Mv.definition(spark, mv)
    assert(d.keyExprs == Map("h" -> "date_trunc('hour', ts)"), "the expression must round-trip")
    // window 1: one new row in 2024-03-02's 07 hour — the affected hour
    // bounds ts to [07:00, 08:00) of 03-02, and the 03-01 file's micros
    // interval provably misses it: the canary proves the recompute never
    // opens day=2024-03-01 even though `h` is no fact COLUMN at all
    DeleteVectors.upsert(
      spark, src,
      Seq(("2024-03-02 07:20:00", "c", 9L)).toDF("tss", "cat", "v")
        .select(to_timestamp(col("tss")).as("ts"), col("cat"), col("v"),
          to_date(col("tss")).as("day")),
      Seq("ts", "cat"))
    val r1 = withCorrupted(src, "day=2024-03-01/") { Mv.refresh(spark, mv) }
    assert(!r1.fullResync && r1.groupsRecomputed == 1L && r1.groupsDeleted == 0L, r1.toString)
    assert(hourRows(mv) == recomputedHourly(src))
    // window 2: merge-on-read delete of 03-01's 05 hour — the group
    // vanishes; this time the OTHER day's file is the canary
    DeleteVectors.deleteWhere(
      spark, src,
      $"ts" >= to_timestamp(lit("2024-03-01 05:00:00")) &&
        $"ts" < to_timestamp(lit("2024-03-01 06:00:00")))
    val r2 = withCorrupted(src, "day=2024-03-02/") { Mv.refresh(spark, mv) }
    assert(!r2.fullResync && r2.groupsRecomputed == 0L && r2.groupsDeleted == 1L, r2.toString)
    assert(hourRows(mv) == recomputedHourly(src))
  }

  test("derived keys: an unrecognized expression degrades narrowing, never correctness") {
    val base = Files.createTempDirectory("mv_opaque").toString
    val src = s"$base/src"
    val mv = s"$base/mv"
    tsSourceTable(src)
    // upper(cat) has no recorded monotone inverse — refresh must still be
    // exact (the affected-groups math is narrowing-independent)
    Mv.create(
      spark, src, mv, Seq("uc"), Seq("count(*) AS n", "sum(v) AS sv"),
      keyExprs = Map("uc" -> "upper(cat)"))
    def expect(): Set[(String, Long, Long)] =
      Snapshots.readSnapshot(spark, src).groupBy(upper($"cat").as("uc"))
        .agg(count(lit(1)).as("n"), sum($"v").as("sv"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    def got(): Set[(String, Long, Long)] =
      Snapshots.readSnapshot(spark, mv).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got() == expect())
    DeleteVectors.upsert(
      spark, src,
      Seq(("2024-03-02 11:00:00", "zz", 7L)).toDF("tss", "cat", "v")
        .select(to_timestamp(col("tss")).as("ts"), col("cat"), col("v"),
          to_date(col("tss")).as("day")),
      Seq("ts", "cat"))
    val r = Mv.refresh(spark, mv)
    assert(!r.fullResync && r.groupsRecomputed == 1L)
    assert(got() == expect())
  }

  test("derived keys: refusals — ENTANGLED mixed-side references and namespace collisions") {
    val (fact, dim, mv) = starFixture("mv_dkrefuse")
    // a derived key needing BOTH sides' values inside ONE sub-expression:
    // not a top-level concat of single-side parts, so no auto-split —
    // neither the monotone inverse nor dim enumeration can thread it
    val e = intercept[IllegalArgumentException] {
      Mv.create(
        spark, fact, mv, Seq("g2"), Seq("count(*) AS n"),
        dims = Seq(Mv.MvJoinSpec(dim, Seq("cat"), Seq("ck"))),
        keyExprs = Map("g2" -> "upper(concat(cat, grp))"))
    }
    assert(e.getMessage.contains("exactly ONE"), e.getMessage)
    // two fact parts cannot be recovered from one string either
    val e1b = intercept[IllegalArgumentException] {
      Mv.create(
        spark, fact, mv, Seq("g2"), Seq("count(*) AS n"),
        dims = Seq(Mv.MvJoinSpec(dim, Seq("cat"), Seq("ck"))),
        keyExprs = Map("g2" -> "concat(cat, grp, cat)"))
    }
    assert(e1b.getMessage.contains("auto-split"), e1b.getMessage)
    // a derived key named like an existing column would shadow it
    val e2 = intercept[IllegalArgumentException] {
      Mv.create(
        spark, fact, mv, Seq("v"), Seq("count(*) AS n"),
        keyExprs = Map("v" -> "upper(cat)"))
    }
    assert(e2.getMessage.contains("collides"), e2.getMessage)
  }

  test("RIGHT dims refuse with the reversal guidance; a SECOND dim beside a FULL one refuses") {
    val (fact, dim, mv) = starFixture("mv_outer")
    val er = intercept[IllegalArgumentException] {
      Mv.create(
        spark, fact, mv, Seq("grp"), Seq("count(*) AS n"),
        dims = Seq(Mv.MvJoinSpec(dim, Seq("cat"), Seq("ck"), joinType = "right")))
    }
    assert(er.getMessage.contains("reverse it"), er.getMessage)
    val ef = intercept[IllegalArgumentException] {
      Mv.create(
        spark, fact, mv, Seq("grp", "id"), Seq("count(*) AS n"),
        dims = Seq(
          Mv.MvJoinSpec(dim, Seq("cat"), Seq("ck"), joinType = "full"),
          Mv.MvJoinSpec(dim, Seq("id"), Seq("w"), joinType = "inner")))
    }
    assert(ef.getMessage.contains("ONLY dim"), ef.getMessage)
  }

  test("FULL OUTER dim MV: create exact; fact windows flip dim rows' matched status change-priced; dim windows move the (c) groups") {
    val base = Files.createTempDirectory("mv_full").toString
    val fact = s"$base/fact"
    val dim = s"$base/dim"
    val mv = s"$base/mv"
    val f = Seq(("a", 1L, 10L), ("a", 2L, 11L), ("b", 3L, 20L)).toDF("cat", "id", "v")
    Sources.writeParquet(f.repartition(1), fact, partitionCols = Seq("cat"))
    Snapshots.commit(spark, fact, Seq("cat", "id"))
    // z is UNMATCHED by the fact; the NULL-keyed dim row can never match
    val dd = Seq(("a", "g1", 2L), ("b", "g1", 3L), ("z", "g9", 5L), (null, "g7", 7L))
      .toDF("ck", "grp", "w")
    Sources.writeParquet(dd.repartition(1), dim)
    Snapshots.commit(spark, dim, Seq("ck"))
    Mv.create(
      spark, fact, mv, Seq("grp"), Seq("count(*) AS n", "sum(v) AS sv"),
      dims = Seq(Mv.MvJoinSpec(dim, Seq("cat"), Seq("ck"), joinType = "full")))
    def expect(): Set[(String, Long, Option[Long])] =
      Snapshots.readSnapshot(spark, fact)
        .join(Snapshots.readSnapshot(spark, dim), $"cat" === $"ck", "full")
        .groupBy($"grp")
        .agg(count(lit(1)).as("n"), sum($"v").as("sv"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))
        .toSet
    def got(): Set[(String, Long, Option[Long])] =
      Snapshots.readSnapshot(spark, mv).collect()
        .map(r => (r.getString(0), r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))
        .toSet
    assert(got() == expect(), "create must carry the unmatched-dim (c) groups (g9, g7)")
    // window 1: a fact row with cat=z FLIPS z to matched — g9 becomes a
    // matched group; g1 is untouched, so cat=a's file is the canary
    DeleteVectors.upsert(spark, fact, Seq(("z", 4L, 30L)).toDF("cat", "id", "v"), Seq("cat", "id"))
    val r1 = withCorrupted(fact, "cat=a/") { Mv.refresh(spark, mv) }
    assert(!r1.fullResync, r1.toString)
    assert(got() == expect(), "g9 must read n=1, sv=30 (matched), not the stale (c) image")
    // window 2: deleting the cat=z row flips z back to UNMATCHED
    DeleteVectors.deleteWhere(spark, fact, $"cat" === "z")
    val r2 = withCorrupted(fact, "cat=a/") { Mv.refresh(spark, mv) }
    assert(!r2.fullResync, r2.toString)
    assert(got() == expect(), "g9 must return to the (c) image n=1, sv=NULL")
    // window 3: a fact row matching NOTHING lands in the NULL-grp bucket
    // (the LEFT half of FULL) — the NULL-keyed group stands narrowing
    // down, so no canary on this window
    DeleteVectors.upsert(spark, fact, Seq(("q", 5L, 7L)).toDF("cat", "id", "v"), Seq("cat", "id"))
    val r3 = Mv.refresh(spark, mv)
    assert(!r3.fullResync, r3.toString)
    assert(got() == expect())
    // window 4: the DIM moves — z re-maps g9 -> g8 (a (c)-group rename)
    // via the dim-delta path
    DeleteVectors.upsert(spark, dim, Seq(("z", "g8", 5L)).toDF("ck", "grp", "w"), Seq("ck"))
    val r4 = Mv.refresh(spark, mv)
    assert(!r4.fullResync, r4.toString)
    assert(got() == expect(), "g9 must vanish and g8 appear as the new (c) group")
    // window 5: deleting the dim row removes the (c) group entirely
    DeleteVectors.deleteWhere(spark, dim, $"ck" === "z")
    val r5 = Mv.refresh(spark, mv)
    assert(!r5.fullResync, r5.toString)
    assert(got() == expect(), "g8 must vanish with its dim row")
    // convergence: a no-op refresh changes nothing
    val r6 = Mv.refresh(spark, mv)
    assert(r6.groupsRecomputed == 0L && r6.groupsDeleted == 0L, r6.toString)
  }

  test("mixed-side derived key AUTO-SPLIT: concat(fact, '|', dim_attr) creates and narrows, canary held") {
    val (fact, dim, mv) = starFixture("mv_mixed")
    Mv.create(
      spark, fact, mv, Seq("g2"), Seq("count(*) AS n", "sum(v) AS sv"),
      dims = Seq(Mv.MvJoinSpec(dim, Seq("cat"), Seq("ck"))),
      keyExprs = Map("g2" -> "concat(cat, '|', grp)"))
    def expect(): Set[(String, Long, Long)] =
      Snapshots.readSnapshot(spark, fact)
        .join(Snapshots.readSnapshot(spark, dim), $"cat" === $"ck")
        .groupBy(concat($"cat", lit("|"), $"grp").as("g2"))
        .agg(count(lit(1)).as("n"), sum($"v").as("sv"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    def got(): Set[(String, Long, Long)] =
      Snapshots.readSnapshot(spark, mv).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got() == expect(), "create ≡ recompute for an auto-split mixed key")
    // window 1: a new fact row in cat=a — affected g2 'a|g1'; the dim
    // enumeration solves the fact part back to {'a'} and the cat=c
    // partition is the canary the recompute must never open
    DeleteVectors.upsert(spark, fact, Seq(("a", 7L, 12L)).toDF("cat", "id", "v"), Seq("cat", "id"))
    val r1 = withCorrupted(fact, "cat=c/") { Mv.refresh(spark, mv) }
    assert(!r1.fullResync && r1.groupsRecomputed == 1L && r1.groupsDeleted == 0L, r1.toString)
    assert(got() == expect())
    // window 2: the DIM moves (a: g1 -> g9) — the dim-delta path derives
    // both mappings' groups; the enumeration still recovers {'a'} and
    // cat=d stays shut
    DeleteVectors.upsert(spark, dim, Seq(("a", "g9", 2L)).toDF("ck", "grp", "w"), Seq("ck"))
    val r2 = withCorrupted(fact, "cat=d/") { Mv.refresh(spark, mv) }
    assert(!r2.fullResync, r2.toString)
    assert(got() == expect(), "a moved dim re-maps the mixed key's groups exactly")
  }

  test("multi-dim FULL OUTER refusal's cascade guidance BUILDS: two-MV cascade equals the direct full join and refreshes through both windows") {
    // the refusal names the workaround — "split the extra dims into a
    // cascaded view over this one" — this law executes that guidance
    // verbatim and holds it to the direct recompute through a
    // flip-to-matched and a flip-back window, so the message can never
    // rot into advice that doesn't build
    val base = Files.createTempDirectory("mv_fullcascade").toString
    val fact = s"$base/fact"
    val dimI = s"$base/dimI"
    val dimF = s"$base/dimF"
    val f = Seq(("a", 1L, 10L), ("a", 2L, 11L), ("b", 3L, 20L)).toDF("cat", "id", "v")
    Sources.writeParquet(f.repartition(1), fact, partitionCols = Seq("cat"))
    Snapshots.commit(spark, fact, Seq("cat", "id"))
    val di = Seq((1L, "g1"), (2L, "g2"), (3L, "g1")).toDF("idk", "gi")
    Sources.writeParquet(di.repartition(1), dimI)
    Snapshots.commit(spark, dimI, Seq("idk"))
    val dfull = Seq(("a", "ga"), ("b", "gb"), ("z", "gz")).toDF("ck", "grp")
    Sources.writeParquet(dfull.repartition(1), dimF)
    Snapshots.commit(spark, dimF, Seq("ck"))
    // the refusal, naming the cascade
    val e = intercept[IllegalArgumentException] {
      Mv.create(
        spark, fact, s"$base/mv_refused", Seq("grp", "gi"), Seq("sum(v) AS sv"),
        dims = Seq(
          Mv.MvJoinSpec(dimF, Seq("cat"), Seq("ck"), joinType = "full"),
          Mv.MvJoinSpec(dimI, Seq("id"), Seq("idk"))))
    }
    assert(e.getMessage.contains("cascaded view over this one"), e.getMessage)
    // the guidance, executed: MV1 folds the INNER dim at the full-join
    // key's grain; MV2 rides MV1 as its fact with the FULL dim alone
    val mv1 = s"$base/mv1"
    val mv2 = s"$base/mv2"
    Mv.create(
      spark, fact, mv1, Seq("cat", "gi"), Seq("sum(v) AS sv"),
      dims = Seq(Mv.MvJoinSpec(dimI, Seq("id"), Seq("idk"))))
    Mv.create(
      spark, mv1, mv2, Seq("grp", "gi"), Seq("sum(sv) AS sv"),
      dims = Seq(Mv.MvJoinSpec(dimF, Seq("cat"), Seq("ck"), joinType = "full")))
    def expect(): Set[(String, Option[String], Option[Long])] =
      Snapshots.readSnapshot(spark, fact)
        .join(Snapshots.readSnapshot(spark, dimI), $"id" === $"idk")
        .join(Snapshots.readSnapshot(spark, dimF), $"cat" === $"ck", "full")
        .groupBy($"grp", $"gi")
        .agg(sum($"v").as("sv"))
        .collect()
        .map(r => (
          r.getString(0),
          Option(r.getString(1)),
          if (r.isNullAt(2)) None else Some(r.getLong(2))))
        .toSet
    def got(): Set[(String, Option[String], Option[Long])] =
      Snapshots.readSnapshot(spark, mv2).collect()
        .map(r => (
          r.getString(0),
          Option(r.getString(1)),
          if (r.isNullAt(2)) None else Some(r.getLong(2))))
        .toSet
    assert(got() == expect(), "the cascade must equal the direct full join (gz unmatched: sv NULL)")
    assert(got().exists { case (g, _, sv) => g == "gz" && sv.isEmpty }, got().toString)
    // window 1: a cat=z row flips gz to MATCHED through the cascade
    DeleteVectors.upsert(spark, fact, Seq(("z", 3L, 30L)).toDF("cat", "id", "v"), Seq("cat", "id"))
    val r1a = Mv.refresh(spark, mv1)
    val r1b = Mv.refresh(spark, mv2)
    assert(!r1a.fullResync && !r1b.fullResync, s"$r1a / $r1b")
    assert(got() == expect(), "gz must read sv=30 after the flip")
    // window 2: deleting it flips gz back to the unmatched image
    DeleteVectors.deleteWhere(spark, fact, $"cat" === "z")
    Mv.refresh(spark, mv1)
    Mv.refresh(spark, mv2)
    assert(got() == expect(), "gz must return to sv NULL")
  }

  test("mixed-key literal containing a BACKSLASH round-trips through the prune's re-parse") {
    // the prune renders the concat's literal parts back to SQL for the
    // prefix/suffix enumeration; hand-rolled quoting that only escapes
    // single quotes turns the 2-char separator \n into a NEWLINE under
    // Spark's escaped literals, the prefix match silently misses every
    // real key string, the recovered fact-value set goes EMPTY, and the
    // refresh deletes the affected group as 'vanished' — wrong MV
    // contents, which this law catches
    val (fact, dim, mv) = starFixture("mv_mixed_bs")
    Mv.create(
      spark, fact, mv, Seq("g2"), Seq("count(*) AS n", "sum(v) AS sv"),
      dims = Seq(Mv.MvJoinSpec(dim, Seq("cat"), Seq("ck"))),
      keyExprs = Map("g2" -> "concat(cat, '\\\\n', grp)")) // SQL literal '\\n' = the 2 chars \ n
    def expect(): Set[(String, Long, Long)] =
      Snapshots.readSnapshot(spark, fact)
        .join(Snapshots.readSnapshot(spark, dim), $"cat" === $"ck")
        .groupBy(concat($"cat", lit("\\n"), $"grp").as("g2"))
        .agg(count(lit(1)).as("n"), sum($"v").as("sv"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    def got(): Set[(String, Long, Long)] =
      Snapshots.readSnapshot(spark, mv).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got() == expect(), "create ≡ recompute with a backslash-bearing separator")
    assert(got().exists(_._1 == "a\\ng1"), got().toString) // literally backslash-n, not newline
    DeleteVectors.upsert(spark, fact, Seq(("a", 7L, 12L)).toDF("cat", "id", "v"), Seq("cat", "id"))
    val r1 = withCorrupted(fact, "cat=c/") { Mv.refresh(spark, mv) }
    assert(!r1.fullResync && r1.groupsRecomputed == 1L && r1.groupsDeleted == 0L, r1.toString)
    assert(got() == expect(), "the affected group must UPDATE, not vanish")
  }

  test("mixed-side AUTO-SPLIT on a LEFT dim: the NULL-IMAGE tuple keeps unmatched groups solvable") {
    val (fact, dim, mv) = starFixture("mv_mixedleft")
    // null-TOLERANT dim part: unmatched fact rows land in '<cat>|none'
    // groups whose dim-part value exists in NO dim row — only the
    // synthetic NULL-IMAGE tuple can solve the fact part back; without
    // it the enumeration would find nothing and DELETE the group
    Mv.create(
      spark, fact, mv, Seq("g2"), Seq("count(*) AS n", "sum(v) AS sv"),
      dims = Seq(Mv.MvJoinSpec(dim, Seq("cat"), Seq("ck"), joinType = "left")),
      keyExprs = Map("g2" -> "concat(cat, '|', coalesce(grp, 'none'))"))
    def expect(): Set[(String, Long, Long)] =
      Snapshots.readSnapshot(spark, fact)
        .join(Snapshots.readSnapshot(spark, dim), $"cat" === $"ck", "left")
        .groupBy(concat($"cat", lit("|"), coalesce($"grp", lit("none"))).as("g2"))
        .agg(count(lit(1)).as("n"), sum($"v").as("sv"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    def got(): Set[(String, Long, Long)] =
      Snapshots.readSnapshot(spark, mv).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got() == expect())
    // a new UNMATCHED fact row: cat=e has no dim entry, so its group is
    // 'e|none' — the image tuple must admit cat=e's file and only it
    DeleteVectors.upsert(spark, fact, Seq(("e", 8L, 50L)).toDF("cat", "id", "v"), Seq("cat", "id"))
    val r = withCorrupted(fact, "cat=c/") { Mv.refresh(spark, mv) }
    assert(!r.fullResync && r.groupsRecomputed == 1L && r.groupsDeleted == 0L, r.toString)
    assert(got() == expect(), "the unmatched group must recompute, not vanish")
  }

  test("derived keys over a DIM attribute: the trace inverts by enumeration over the broadcast dim") {
    val (fact, dim, mv) = starFixture("mv_dimderived")
    // key = upper(grp), a dim-side EXPRESSION: the trace expansion must
    // evaluate it over the dim to learn which join keys reach a group
    Mv.create(
      spark, fact, mv, Seq("ug"), Seq("count(*) AS n", "sum(v) AS sv"),
      dims = Seq(Mv.MvJoinSpec(dim, Seq("cat"), Seq("ck"))),
      keyExprs = Map("ug" -> "upper(grp)"))
    def got(): Set[(String, Long, Long)] =
      Snapshots.readSnapshot(spark, mv).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got() == Set(("G1", 3L, 41L), ("G2", 2L, 61L), ("G3", 1L, 40L)))
    // one fact row changes in cat=a (→ G1 via dimA's a→g1): the affected
    // group's enumeration must name ONLY the join keys mapping into G1
    // ({a, b}) — cat=c (G2) and cat=d (G3) stay closed
    DeleteVectors.upsert(
      spark, fact, Seq(("a", 1L, 13L)).toDF("cat", "id", "v"), Seq("cat", "id"))
    val r = withCorrupted(fact, "cat=c/") { Mv.refresh(spark, mv) }
    assert(!r.fullResync && r.groupsRecomputed == 1L && r.groupsDeleted == 0L, r.toString)
    assert(got() == Set(("G1", 3L, 44L), ("G2", 2L, 61L), ("G3", 1L, 40L)))
    // and a DIM move re-maps through the expression (dim-delta path):
    // d's group flips g3 → g2, so UG G3 vanishes and G2 absorbs its rows
    DeleteVectors.upsert(spark, dim, Seq(("d", "g2", 7L)).toDF("ck", "grp", "w"), Seq("ck"))
    val r2 = Mv.refresh(spark, mv)
    assert(!r2.fullResync && r2.groupsRecomputed == 1L && r2.groupsDeleted == 1L, r2.toString)
    assert(got() == Set(("G1", 3L, 44L), ("G2", 3L, 101L)))
  }

  test("derived keys through SQL DDL: ordinal, alias and repeated-expression GROUP BY all parse") {
    val base = Files.createTempDirectory("mv_ddlhourly").toString
    tsSourceTable(s"$base/src")
    val cat = s"mvddl_${java.lang.Long.toHexString(System.nanoTime())}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.snap.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", base)
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.h1 AS SELECT date_trunc('hour', ts) AS h, " +
      s"count(*) AS n FROM $cat.src GROUP BY 1").collect()
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.h2 AS SELECT date_trunc('hour', ts) AS h, " +
      s"count(*) AS n FROM $cat.src GROUP BY h").collect()
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.h3 AS SELECT date_trunc('hour', ts) AS h, " +
      s"count(*) AS n FROM $cat.src GROUP BY date_trunc('hour', ts)").collect()
    Seq("h1", "h2", "h3").foreach { v =>
      val d = Mv.definition(spark, s"$base/$v")
      assert(d.keyCols == Seq("h") && d.keyExprs.contains("h"), s"$v: $d")
    }
    // all three materialize identical content
    val rows = Seq("h1", "h2", "h3").map(v =>
      spark.sql(s"SELECT h, n FROM $cat.$v ORDER BY h").collect().map(_.toString).toSeq)
    assert(rows.distinct.size == 1)
    // an unaliased expression key refuses with the shape message
    val e = intercept[Exception] {
      spark.sql(s"CREATE MATERIALIZED VIEW $cat.bad AS SELECT date_trunc('hour', ts), " +
        s"count(*) AS n FROM $cat.src GROUP BY 1").collect()
    }
    assert(e.getMessage.contains("bare columns or aliased expressions"), e.getMessage)
  }

  test("monotoneInverse recognizes the documented shapes and only them") {
    def inv(e: String) = Mv.monotoneInverse(spark, e)
    assert(inv("date_trunc('hour', ts)").exists(_._1 == "ts"))
    assert(inv("date_trunc('DD', ts)").exists(_._1 == "ts"))
    assert(inv("to_date(ts)").exists(_._1 == "ts"))
    assert(inv("cast(ts as date)").exists(_._1 == "ts"))
    assert(inv("year(ts)").exists(_._1 == "ts"))
    assert(inv("trunc(dt, 'month')").exists(_._1 == "dt"))
    assert(inv("floor(x / 10)").exists(_._1 == "x"))
    assert(inv("day").exists(_._1 == "day"), "a rename is the identity mapping")
    assert(inv("floor(x / -10)").isEmpty, "a negative divisor is DEcreasing")
    assert(inv("floor(10 / x)").isEmpty)
    assert(inv("month(ts)").isEmpty, "month is not monotone across years")
    assert(inv("upper(cat)").isEmpty)
    assert(inv("date_trunc(fmt, ts)").isEmpty, "a non-literal unit cannot invert")
  }

  test("cyclicInverse recognizes the periodic shapes and only them") {
    def cyc(e: String) = Mv.cyclicInverse(spark, e)
    assert(cyc("month(ts)").contains(("ts", "month")))
    assert(cyc("quarter(ts)").contains(("ts", "quarter")))
    assert(cyc("hour(ts)").contains(("ts", "hour")))
    assert(cyc("dayofweek(ts)").contains(("ts", "dayofweek")))
    assert(cyc("weekday(ts)").contains(("ts", "weekday")))
    assert(cyc("day(ts)").contains(("ts", "dayofmonth")), "day() is the dayofmonth alias")
    assert(cyc("dayofmonth(ts)").contains(("ts", "dayofmonth")))
    assert(cyc("minute(ts)").isEmpty, "a minute-of-hour interval list explodes past any cap")
    assert(cyc("second(ts)").isEmpty)
    assert(cyc("date_trunc('hour', ts)").isEmpty, "monotone shapes are not cyclic")
    assert(cyc("upper(cat)").isEmpty)
    assert(cyc("month(f(ts))").isEmpty, "a nested argument cannot invert")
  }

  test("derived keys: >MaxIntervalProbes affected values collapse to a TYPED envelope, not a lexicographic one") {
    // 540 distinct floor(x/10) buckets spanning the 600..1139 range — the
    // rendered bound strings flip digit length inside the set, so a
    // string min/max would pick an INVERTED envelope (min '10000' >
    // max '9990' as numbers) and prune every affected file: the refresh
    // would silently lose all 540 updates. The far partition's bucket
    // (99999) lies outside the true typed envelope [6000, 11400) — its
    // file is the canary proving the collapse still narrows.
    val base = Files.createTempDirectory("mv_envelope").toString
    val src = s"$base/src"
    val mv = s"$base/mv"
    val mid = (0 until 540).map(i => ("mid", 6000L + i * 10L, 1L))
    val far = Seq(("far", 999999L, 5L))
    val df = (mid ++ far).toDF("part", "x", "v")
    Sources.writeParquet(df.repartition(col("part")), src, Seq("part"))
    Snapshots.commit(spark, src, Seq("part", "x"))
    Mv.create(
      spark, src, mv, Seq("b"), Seq("count(*) AS n", "sum(v) AS sv"),
      keyExprs = Map("b" -> "floor(x / 10)"))
    def expect(): Set[(Long, Long, Long)] =
      Snapshots.readSnapshot(spark, src).groupBy(floor($"x" / 10).as("b"))
        .agg(count(lit(1)).as("n"), sum($"v").as("sv"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def got(): Set[(Long, Long, Long)] =
      Snapshots.readSnapshot(spark, mv).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got() == expect())
    // one window updating every mid row: 540 affected buckets > 512
    DeleteVectors.upsert(
      spark, src,
      (0 until 540).map(i => ("mid", 6000L + i * 10L, 2L)).toDF("part", "x", "v"),
      Seq("x"))
    val r = withCorrupted(src, "part=far/") { Mv.refresh(spark, mv) }
    assert(!r.fullResync && r.groupsRecomputed == 540L, r.toString)
    assert(got() == expect(), "the typed envelope must admit every affected file")
  }

  test("derived keys: TIMESTAMP_NTZ bounds stay in the wall-clock domain in a non-UTC session") {
    // NTZ footer stats are wall-clock micros; a session-zone rendering
    // (unix_micros of a zoned cast) would shift every probe by the
    // offset and prune the affected hour's own file — in New York the
    // refresh would silently drop the new row. The canary on the other
    // day proves interval narrowing still works under the non-UTC zone.
    val base = Files.createTempDirectory("mv_ntz").toString
    val src = s"$base/src"
    val mv = s"$base/mv"
    val tzKey = "spark.sql.session.timeZone"
    val oldTz = spark.conf.get(tzKey)
    spark.conf.set(tzKey, "America/New_York")
    try {
      val rows = Seq(
        ("2024-03-01 05:15:00", "a", 3L),
        ("2024-03-02 07:05:00", "a", 4L),
        ("2024-03-02 09:30:00", "c", 6L)).toDF("tss", "cat", "v")
        .select(
          expr("cast(tss as timestamp_ntz)").as("ts"),
          col("cat"),
          col("v"),
          expr("to_date(cast(tss as timestamp_ntz))").as("day"))
      Sources.writeParquet(rows.repartition(col("day")), src, Seq("day"))
      Snapshots.commit(spark, src, Seq("day", "ts", "cat"))
      Mv.create(
        spark, src, mv, Seq("h"), Seq("count(*) AS n", "sum(v) AS sv"),
        keyExprs = Map("h" -> "date_trunc('hour', ts)"))
      def expect(): Set[(String, Long, Long)] =
        Snapshots.readSnapshot(spark, src)
          .groupBy(date_trunc("hour", $"ts").as("h"))
          .agg(count(lit(1)).as("n"), sum($"v").as("sv"))
          .collect().map(r => (r.get(0).toString, r.getLong(1), r.getLong(2))).toSet
      def got(): Set[(String, Long, Long)] =
        Snapshots.readSnapshot(spark, mv).collect()
          .map(r => (r.get(0).toString, r.getLong(1), r.getLong(2))).toSet
      assert(got() == expect())
      DeleteVectors.upsert(
        spark, src,
        Seq(("2024-03-02 07:20:00", "b", 9L)).toDF("tss", "cat", "v")
          .select(
            expr("cast(tss as timestamp_ntz)").as("ts"),
            col("cat"),
            col("v"),
            expr("to_date(cast(tss as timestamp_ntz))").as("day")),
        Seq("ts", "cat"))
      val r = withCorrupted(src, "day=2024-03-01/") { Mv.refresh(spark, mv) }
      assert(!r.fullResync && r.groupsRecomputed == 1L, r.toString)
      assert(got() == expect(), "the NTZ hour's own file must never be zone-shifted away")
    } finally spark.conf.set(tzKey, oldTz)
  }

  test("cyclic derived keys: a month-of-year MV narrows to the affected month's PERIODS, canary held") {
    // a seasonal rollup: GROUP BY month(ts) over a two-year fact. A
    // refresh touching March must admit BOTH years' March files (union
    // of per-period intervals) and never open July's — the July canary
    // fails the old behavior only if narrowing leaks, and the assertion
    // on content fails if a March period is missed.
    val base = Files.createTempDirectory("mv_cyclic").toString
    val src = s"$base/src"
    val mv = s"$base/mv"
    val rows = Seq(
      ("2022-03-05 01:00:00", "a", 1L),
      ("2022-03-20 02:00:00", "b", 2L),
      ("2022-07-04 03:00:00", "a", 3L),
      ("2023-03-15 04:00:00", "c", 4L),
      ("2023-07-09 05:00:00", "b", 5L)).toDF("tss", "cat", "v")
      .select(
        to_timestamp(col("tss")).as("ts"),
        col("cat"),
        col("v"),
        date_format(col("tss"), "yyyy-MM").as("ym"))
    withMicros(Sources.writeParquet(rows.repartition(col("ym")), src, Seq("ym")))
    Snapshots.commit(spark, src, Seq("ym", "ts", "cat"))
    Mv.create(
      spark, src, mv, Seq("m"), Seq("count(*) AS n", "sum(v) AS sv"),
      keyExprs = Map("m" -> "month(ts)"))
    def expect(): Set[(Int, Long, Long)] =
      Snapshots.readSnapshot(spark, src).groupBy(month($"ts").as("m"))
        .agg(count(lit(1)).as("n"), sum($"v").as("sv"))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    def got(): Set[(Int, Long, Long)] =
      Snapshots.readSnapshot(spark, mv).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(got() == expect())
    // window: one new March row (2023) — affected month = {3}; both
    // March files must recompute, both July files must stay shut
    DeleteVectors.upsert(
      spark, src,
      Seq(("2023-03-28 06:00:00", "d", 7L)).toDF("tss", "cat", "v")
        .select(
          to_timestamp(col("tss")).as("ts"),
          col("cat"),
          col("v"),
          date_format(col("tss"), "yyyy-MM").as("ym")),
      Seq("ts", "cat"))
    val r = withCorrupted(src, "ym=2022-07/") { Mv.refresh(spark, mv) }
    assert(!r.fullResync && r.groupsRecomputed == 1L, r.toString)
    assert(got() == expect(), "both years' March periods must be admitted")
    // second window: delete 2022's March rows — month 3 recomputes from
    // the remaining 2023 March file; 2023's July is the canary this time
    DeleteVectors.deleteWhere(
      spark, src,
      $"ts" < to_timestamp(lit("2023-01-01 00:00:00")) && month($"ts") === 3)
    val r2 = withCorrupted(src, "ym=2023-07/") { Mv.refresh(spark, mv) }
    assert(!r2.fullResync && r2.groupsRecomputed == 1L, r2.toString)
    assert(got() == expect())
  }

  test("cyclic derived keys: an hour-of-day MV admits the affected hour across EVERY day in span") {
    val base = Files.createTempDirectory("mv_hourofday").toString
    val src = s"$base/src"
    val mv = s"$base/mv"
    tsSourceTable(src) // two days, hours 00/05 (03-01) and 07/09 (03-02)
    Mv.create(
      spark, src, mv, Seq("hd"), Seq("count(*) AS n", "sum(v) AS sv"),
      keyExprs = Map("hd" -> "hour(ts)"))
    def expect(): Set[(Int, Long, Long)] =
      Snapshots.readSnapshot(spark, src).groupBy(hour($"ts").as("hd"))
        .agg(count(lit(1)).as("n"), sum($"v").as("sv"))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    def got(): Set[(Int, Long, Long)] =
      Snapshots.readSnapshot(spark, mv).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(got() == expect())
    // a new 05-hour row on 03-02: hour 5 recomputes from BOTH days'
    // candidates (03-01 has an 05:15 row) — with the ±4 h zoned pad the
    // 03-01 file (hours 00..05) intersects, so no canary there; what the
    // law pins is CONTENT across both days' periods
    DeleteVectors.upsert(
      spark, src,
      Seq(("2024-03-02 05:40:00", "z", 8L)).toDF("tss", "cat", "v")
        .select(to_timestamp(col("tss")).as("ts"), col("cat"), col("v"),
          to_date(col("tss")).as("day")),
      Seq("ts", "cat"))
    val r = Mv.refresh(spark, mv)
    assert(!r.fullResync && r.groupsRecomputed == 1L, r.toString)
    assert(got() == expect(), "hour 5 must aggregate across every day in the fact's span")
  }

  // ---- source schema evolution -------------------------------------------

  test("schema evolution: UNREFERENCED add/drop on the fact is a no-op for the view") {
    val base = Files.createTempDirectory("mv_evolve").toString
    val src = s"$base/src"
    val mv = s"$base/mv"
    sourceTable(src)
    Mv.create(spark, src, mv, Seq("day"), aggs)
    assert(Mv.definition(spark, mv).refTypes.nonEmpty, "create must record the contract")
    val cat = s"mvevo_${java.lang.Long.toHexString(System.nanoTime())}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.snap.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", base)
    // the view references day (key) and v (aggs) — `extra` is invisible
    spark.sql(s"ALTER TABLE $cat.src ADD COLUMNS (extra BIGINT)")
    DeleteVectors.upsert(
      spark, src,
      Seq(("d05", "q", 50L, 7L)).toDF("day", "cat", "v", "extra"),
      Seq("day", "cat"))
    val r = Mv.refresh(spark, mv)
    assert(!r.fullResync && r.groupsRecomputed == 1L, r.toString)
    assert(mvRows(mv) == recomputed(src))
    // dropping the unreferenced column is equally invisible
    spark.sql(s"ALTER TABLE $cat.src DROP COLUMN extra")
    DeleteVectors.upsert(spark, src, Seq(("d05", "q", 51L)).toDF("day", "cat", "v"), Seq("day", "cat"))
    val r2 = Mv.refresh(spark, mv)
    assert(!r2.fullResync && r2.groupsRecomputed == 1L, r2.toString)
    assert(mvRows(mv) == recomputed(src))
  }

  test("schema evolution: widening or dropping a REFERENCED column refuses loudly at refresh") {
    val base = Files.createTempDirectory("mv_widen").toString
    val src = s"$base/src"
    val mv = s"$base/mv"
    val rows = Seq(("d01", "a", 10), ("d02", "b", 20)).toDF("day", "cat", "v") // v: INT
    Sources.writeParquet(rows.repartition(1), src, partitionCols = Seq("day"))
    Snapshots.commit(spark, src, Seq("day", "cat"))
    Mv.create(spark, src, mv, Seq("day"), Seq("count(*) AS n", "sum(v) AS sv"))
    val cat = s"mvwid_${java.lang.Long.toHexString(System.nanoTime())}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.snap.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", base)
    spark.sql(s"ALTER TABLE $cat.src ALTER COLUMN v TYPE BIGINT")
    val e = intercept[RuntimeException] { Mv.refresh(spark, mv) }
    assert(
      e.getMessage.contains("changed type") && e.getMessage.contains("'v'") &&
        e.getMessage.contains("recreate the view"),
      e.getMessage)
    // and a dropped referenced column refuses too (on a sibling view —
    // the widened table above can no longer host the INT-typed contract)
    val src2 = s"$base/src2"
    val mv2 = s"$base/mv2"
    sourceTable(src2)
    Mv.create(spark, src2, mv2, Seq("day"), Seq("count(*) AS n", "sum(v) AS sv"))
    spark.sql(s"ALTER TABLE $cat.src2 DROP COLUMN v")
    val e2 = intercept[RuntimeException] { Mv.refresh(spark, mv2) }
    assert(
      e2.getMessage.contains("no longer exists") && e2.getMessage.contains("'v'"),
      e2.getMessage)
  }

  test("schema evolution: the contract covers DIM columns of a join view") {
    val (fact, dim, mv) = starFixture("mv_dimevolve")
    val base = new org.apache.hadoop.fs.Path(fact).getParent.toString
    Mv.create(
      spark, fact, mv, Seq("grp"), Seq("count(*) AS n", "sum(v) AS sv"),
      dims = Seq(Mv.MvJoinSpec(dim, Seq("cat"), Seq("ck"))))
    val cat = s"mvdev_${java.lang.Long.toHexString(System.nanoTime())}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.snap.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", base)
    // `w` is a dim column the view never references: dropping it is a no-op
    spark.sql(s"ALTER TABLE $cat.dim DROP COLUMN w")
    DeleteVectors.upsert(spark, fact, Seq(("a", 7L, 12L)).toDF("cat", "id", "v"), Seq("cat", "id"))
    val r = Mv.refresh(spark, mv)
    assert(!r.fullResync, r.toString)
    // `grp` is the view's group key: dropping it refuses loudly
    spark.sql(s"ALTER TABLE $cat.dim DROP COLUMN grp")
    val e = intercept[RuntimeException] { Mv.refresh(spark, mv) }
    assert(
      e.getMessage.contains("'grp'") && e.getMessage.contains("no longer exists"),
      e.getMessage)
  }

  test("an out-of-band drop+recreate of the SOURCE forces a full resync, never silent staleness") {
    val (src, mv) = fixture("mv_chainsrc")
    Mv.create(spark, src, mv, Seq("day"), aggs)
    assert(Mv.definition(spark, mv).chainId.nonEmpty, "create must pin the fact chain identity")
    // drop the source wholesale and recreate DIFFERENT data at the same
    // path, committing PAST the recorded watermark — the version pin
    // alone would read as "nothing new happened since v1, feed (1, 2]"
    // and derive deltas of the dead chain
    val fs = new org.apache.hadoop.fs.Path(src)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(src), true)
    val fresh = Seq(("d07", "z", 70L), ("d08", "z", 80L)).toDF("day", "cat", "v")
    Sources.writeParquet(fresh.repartition(1), src, partitionCols = Seq("day"))
    Snapshots.commit(spark, src, Seq("day", "cat"), Seq("cat"))
    DeleteVectors.upsert(spark, src, Seq(("d09", "z", 90L)).toDF("day", "cat", "v"), Seq("day", "cat"))
    val r = Mv.refresh(spark, mv)
    assert(r.fullResync, "a moved chain identity must resync, not trust the dead pin")
    assert(mvRows(mv) == recomputed(src), "the resynced view reflects the NEW chain exactly")
    assert(
      Mv.definition(spark, mv).chainId == Snapshots.chainIdentity(spark, src),
      "the def adopts the new chain identity")
    // and the next refresh is incremental again on the new chain
    DeleteVectors.upsert(spark, src, Seq(("d09", "z", 91L)).toDF("day", "cat", "v"), Seq("day", "cat"))
    val r2 = Mv.refresh(spark, mv)
    assert(!r2.fullResync && r2.groupsRecomputed == 1L)
    assert(mvRows(mv) == recomputed(src))
  }

  test("an out-of-band drop+recreate of a DIM forces a full resync (same head version)") {
    val (fact, dim, mv) = starFixture("mv_chaindim")
    Mv.create(
      spark, fact, mv, Seq("grp"), Seq("count(*) AS n", "sum(v) AS sv"),
      dims = Seq(Mv.MvJoinSpec(dim, Seq("cat"), Seq("ck"))))
    // recreate the dim at the SAME version count with a DIFFERENT mapping
    // — versions compare equal, so the pre-identity refresh would have
    // declared "dims unmoved" and the view would go silently stale
    val fs = new org.apache.hadoop.fs.Path(dim)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dim), true)
    val remapped = Seq(("a", "g9", 1L), ("b", "g9", 2L), ("c", "g2", 3L), ("d", "g3", 4L))
      .toDF("ck", "grp", "w")
    Sources.writeParquet(remapped.repartition(1), dim)
    Snapshots.commit(spark, dim, Seq("ck"))
    assert(
      Snapshots.latestVersion(spark, dim) == Mv.definition(spark, mv).dims.head.version,
      "the law needs the recreated dim at the SAME head version")
    val r = Mv.refresh(spark, mv)
    assert(r.fullResync, "equal versions on a new chain must still resync")
    val got = Snapshots.readSnapshot(spark, mv).collect()
      .map(r0 => (r0.getString(0), r0.getLong(1), r0.getLong(2))).toSet
    val want = Snapshots.readSnapshot(spark, fact)
      .join(Snapshots.readSnapshot(spark, dim), col("cat") === col("ck"))
      .groupBy(col("grp")).agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
      .collect().map(r0 => (r0.getString(0), r0.getLong(1), r0.getLong(2))).toSet
    assert(got == want, "the resynced view reflects the recreated dim's mapping")
  }

  test("a garbled definition refuses loudly instead of refreshing wrong") {
    val (src, mv) = fixture("mv_garbled")
    Mv.create(spark, src, mv, Seq("day"), aggs)
    val p = new org.apache.hadoop.fs.Path(s"$mv/${Snapshots.ManifestDirName}/mv/def")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write("graft-mv v1\nsource ok\nnonsense line\n".getBytes("UTF-8"))
    finally out.close()
    val e = intercept[RuntimeException] { Mv.refresh(spark, mv) }
    assert(e.getMessage.contains("garbled"))
  }

  test("SQL faces: CALL mv_create / mv_refresh; the view reads as a catalog table") {
    val base = Files.createTempDirectory("mv_sql").toString
    sourceTable(s"$base/src")
    val cat = s"mvsql_${java.lang.Long.toHexString(System.nanoTime())}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.snap.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", base)
    spark
      .sql(s"CALL $cat.mv_create(mv => 'daily', source => 'src', keys => 'day', " +
        "aggs => 'count(*) AS n; sum(v) AS sv; max(v) AS mx')")
      .collect()
    DeleteVectors.upsert(
      spark,
      s"$base/src",
      Seq(("d01", "b", 100L)).toDF("day", "cat", "v"),
      Seq("day", "cat"))
    val row = spark.sql(s"CALL $cat.mv_refresh(mv => 'daily')").head()
    assert(row.getLong(2) == 1L && !row.getBoolean(4))
    val got = spark
      .sql(s"SELECT day, n, sv, mx FROM $cat.daily ORDER BY day")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == recomputed(s"$base/src"))
    // the `mv` metadata table: definition + staleness in one SQL row
    val meta = spark.sql(s"SELECT * FROM $cat.daily.mv").head()
    assert(meta.getAs[String]("keys") == "day" && !meta.getAs[Boolean]("stale"))
    DeleteVectors.upsert(
      spark,
      s"$base/src",
      Seq(("d01", "zz", 1L)).toDF("day", "cat", "v"),
      Seq("day", "cat"))
    assert(
      spark.sql(s"SELECT stale FROM $cat.daily.mv").head().getBoolean(0),
      "a source commit past the watermark must read as stale")
    // CALL mv_drop: whole, idempotent, table-protective
    assert(spark.sql(s"CALL $cat.mv_drop(mv => 'daily')").head().getBoolean(0))
    assert(!spark.sql(s"CALL $cat.mv_drop(mv => 'daily')").head().getBoolean(0))
    val e = intercept[Exception] { spark.sql(s"CALL $cat.mv_drop(mv => 'src')").collect() }
    assert(e.getMessage.contains("not a materialized view"), e.getMessage)
    // derived keys through the PROCEDURE face: key_exprs names the
    // expression, keys lists the name; the metadata renders name=expr
    spark.sql(s"CALL $cat.mv_create(mv => 'byprefix', source => 'src', keys => 'dpre', " +
      "aggs => 'count(*) AS n; sum(v) AS sv', " +
      "key_exprs => 'dpre=substring(day, 1, 2)')").collect()
    val d = Mv.definition(spark, s"$base/byprefix")
    assert(d.keyExprs == Map("dpre" -> "substring(day, 1, 2)"))
    assert(
      spark.sql(s"SELECT keys FROM $cat.byprefix.mv").head().getString(0)
        == "dpre=substring(day, 1, 2)")
    val got2 = spark.sql(s"SELECT dpre, n, sv FROM $cat.byprefix ORDER BY dpre").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val want2 = Snapshots.readSnapshot(spark, s"$base/src")
      .groupBy(substring($"day", 1, 2).as("dpre"))
      .agg(count(lit(1)).as("n"), sum($"v").as("sv"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got2 == want2)
  }

  // ---- the driver-held refresh against the forced distributed chain ----

  /** perfbench's shape: (sid, ts, v, seq) partitioned by day, 480 rows in
    * 15-minute steps over five days (eight series), and an hourly view
    * keyed (sid, h) with `h = date_trunc('hour', ts)`. Row `seq` sits in
    * the group (seq % 8, hour seq / 4), so seqs 0 until g name g groups.
    */
  private def hourlyFixture(base: String): String = {
    val (src, mv) = (s"$base/src", s"$base/mv")
    val rows = spark.range(0L, 480L).select(
      (col("id") % 8L).as("sid"),
      timestamp_micros(lit(1709251200000000L) + col("id") * 900000000L).as("ts"),
      (col("id") * 0.5 + 0.125).as("v"),
      col("id").as("seq"))
    withMicros(Sources.writeParquet(rows.withColumn("day", to_date($"ts")).repartition($"day"), src, Seq("day")))
    Snapshots.commit(spark, src, Seq("day", "sid", "ts"))
    Mv.create(
      spark, src, mv, Seq("sid", "h"), Seq("count(*) AS n", "sum(v) AS s"),
      keyExprs = Map("h" -> "date_trunc('hour', ts)"))
    mv
  }

  /** A driver-built late batch rewriting `seqs` of [[hourlyFixture]]. */
  private def hourlyUpsert(base: String, seqs: Seq[Long], bump: Double): Unit = {
    val batch = seqs
      .map(q => (q % 8L, new java.sql.Timestamp(1709251200000L + q * 900000L), q * 0.5 + bump, q))
      .toDF("sid", "ts", "v", "seq")
      .withColumn("day", to_date($"ts"))
    withMicros(DeleteVectors.upsert(spark, s"$base/src", batch, Seq("day", "seq")))
  }

  /** Run one scenario twice from fresh copies — `build(base)` makes the
    * tables and the view, each window mutates them — once as is (the
    * driver-held refresh) and once with the distributed chain forced
    * through the seam. Every refresh must leave the same view rows and
    * the same report, and make the same namespace writes (creates,
    * renames, deletes, mkdirs on the counting filesystem of
    * [[FsCallCountSpec]]). Exists probes are not compared: most come
    * from each planning of the change-feed scan (its `latestVersion`),
    * so they count how often Spark plans the feed, which differs between
    * a bounded collect and a persist, not the landing protocol.
    * Returns the driver side's reports.
    */
  private def refreshParity(tag: String)(build: String => String)(
      windows: (String => Unit)*): Seq[Mv.RefreshReport] = {
    spark.sparkContext.hadoopConfiguration.set("fs.fscount.impl", classOf[CountingFs].getName)
    def run(forced: Boolean): Seq[(Seq[String], Mv.RefreshReport, Map[String, Long])] = {
      val base = "fscount:" + Files.createTempDirectory(tag).toString
      val mv = build(base)
      windows.map { w =>
        w(base)
        var r: Mv.RefreshReport = null
        val calls = CountingFs.during {
          r = if (forced) Mv.driverMaxGroups.withValue(0L)(Mv.refresh(spark, mv)) else Mv.refresh(spark, mv)
        }
        (Snapshots.readSnapshot(spark, mv).collect().map(_.toString).toSeq.sorted, r, calls)
      }
    }
    val driver = run(forced = false)
    val chain = run(forced = true)
    driver.zip(chain).zipWithIndex.foreach { case (((rowsD, repD, fsD), (rowsC, repC, fsC)), i) =>
      assert(rowsD == rowsC, s"$tag window $i: view rows differ")
      assert(repD == repC, s"$tag window $i: report $repD vs $repC")
      assert(fsD - "exists" == fsC - "exists", s"$tag window $i: namespace calls $fsD vs $fsC")
    }
    driver.map(_._2)
  }

  test("driver-held refresh ≡ forced chain: hourly derived key (perfbench's shape) with vanished groups") {
    val reps = refreshParity("mv_par_hourly")(hourlyFixture)(
      base => hourlyUpsert(base, (0L until 40L) ++ Seq(300L, 301L), 0.25),
      base => DeleteVectors.deleteWhere(spark, s"$base/src", $"seq" >= 100L && $"seq" < 104L),
      base => hourlyUpsert(base, Seq(7L), 1.5))
    assert(reps.map(r => (r.groupsRecomputed, r.groupsDeleted, r.fullResync)) ==
      Seq((42L, 0L, false), (0L, 4L, false), (1L, 0L, false)))
  }

  test("driver-held refresh ≡ forced chain: NULL groups, a filter and an empty window") {
    val reps = refreshParity("mv_par_null") { base =>
      val (src, mv) = (s"$base/src", s"$base/mv")
      val rows = Seq((Some("x"), 1L, 10L), (Some("y"), 2L, 20L), (None, 3L, 30L), (None, 4L, 40L))
        .toDF("k", "id", "v")
      Sources.writeParquet(rows.repartition(1), src)
      Snapshots.commit(spark, src, Seq("k", "id"))
      Mv.create(spark, src, mv, Seq("k"), Seq("count(*) AS n", "sum(v) AS sv"), filterSql = Some("v < 1000"))
      mv
    }(
      base => DeleteVectors.upsert(
        spark, s"$base/src", Seq((Option.empty[String], 3L, 35L), (Some("z"), 5L, 1L)).toDF("k", "id", "v"),
        Seq("id")),
      // only filtered-out rows change: a window naming no group
      base => DeleteVectors.upsert(
        spark, s"$base/src", Seq((Option("x"), 9L, 5000L)).toDF("k", "id", "v"), Seq("id")),
      base => DeleteVectors.deleteWhere(spark, s"$base/src", $"k".isNull))
    assert(reps.map(r => (r.groupsRecomputed, r.groupsDeleted)) == Seq((2L, 0L), (0L, 0L), (0L, 1L)))
  }

  /** A fact partitioned by its join key `cat` and a dim `ck → grp`. */
  private def starAt(base: String, dimRows: Seq[(String, String, Long)]): Unit = {
    val f = Seq(("a", 1L, 10L), ("a", 2L, 11L), ("b", 3L, 20L), ("c", 4L, 30L), ("x", 5L, 5L))
      .toDF("cat", "id", "v")
    Sources.writeParquet(f.repartition(1), s"$base/fact", partitionCols = Seq("cat"))
    Snapshots.commit(spark, s"$base/fact", Seq("cat", "id"))
    Sources.writeParquet(dimRows.toDF("ck", "grp", "w").repartition(1), s"$base/dim")
    Snapshots.commit(spark, s"$base/dim", Seq("ck"))
  }

  private def factUpsert(base: String, rows: (String, Long, Long)*): Unit = {
    DeleteVectors.upsert(spark, s"$base/fact", rows.toDF("cat", "id", "v"), Seq("cat", "id")); ()
  }

  private def dimUpsert(base: String, rows: (String, String, Long)*): Unit = {
    DeleteVectors.upsert(spark, s"$base/dim", rows.toDF("ck", "grp", "w"), Seq("ck")); ()
  }

  test("driver-held refresh ≡ forced chain: LEFT and FULL dims, fact and dim-delta windows") {
    Seq("left", "full").foreach { jt =>
      refreshParity(s"mv_par_$jt") { base =>
        starAt(base, Seq(("a", "g1", 2L), ("b", "g1", 3L), ("c", "g2", 5L), ("z", "g9", 7L)))
        Mv.create(
          spark, s"$base/fact", s"$base/mv", Seq("grp"), Seq("count(*) AS n", "sum(v) AS sv"),
          dims = Seq(Mv.MvJoinSpec(s"$base/dim", Seq("cat"), Seq("ck"), joinType = jt)))
        s"$base/mv"
      }(
        base => factUpsert(base, ("x", 6L, 6L), ("a", 1L, 12L)),
        base => dimUpsert(base, ("x", "g3", 1L)),
        base => { factUpsert(base, ("z", 8L, 30L)); dimUpsert(base, ("c", "g1", 5L)) },
        base => DeleteVectors.deleteWhere(spark, s"$base/dim", $"ck" === "b"))
    }
  }

  test("driver-held refresh ≡ forced chain: the mixed concat auto-split key through a dim move") {
    refreshParity("mv_par_mixed") { base =>
      starAt(base, Seq(("a", "g1", 2L), ("b", "g1", 3L), ("c", "g2", 5L), ("x", "g3", 1L)))
      Mv.create(
        spark, s"$base/fact", s"$base/mv", Seq("g2"), Seq("count(*) AS n", "sum(v) AS sv"),
        dims = Seq(Mv.MvJoinSpec(s"$base/dim", Seq("cat"), Seq("ck"))),
        keyExprs = Map("g2" -> "concat(cat, '|', grp)"))
      s"$base/mv"
    }(
      base => factUpsert(base, ("a", 7L, 12L), ("c", 4L, 31L)),
      base => dimUpsert(base, ("a", "g9", 2L)),
      base => DeleteVectors.deleteWhere(spark, s"$base/fact", $"cat" === "b"))
  }

  test("driver-held refresh: Spark jobs per refresh do not grow with the affected groups") {
    val base = Files.createTempDirectory("mv_jobs").toString
    val mv = hourlyFixture(base)
    def jobs(seqs: Seq[Long]): (Int, Mv.RefreshReport) = {
      hourlyUpsert(base, seqs, 0.75)
      var r: Mv.RefreshReport = null
      (org.apache.spark.SpecBus.jobsOf(spark.sparkContext) { r = Mv.refresh(spark, mv) }, r)
    }
    val runs = Seq(Seq(0L), 100L until 112L, 200L until 320L).map(jobs)

    assert(runs.map(_._2.groupsRecomputed) == Seq(1L, 12L, 120L))
    val perRefresh = runs.map(_._1)
    info(s"jobs per refresh at 1, 12 and 120 groups: ${perRefresh.mkString(", ")}")
    assert(perRefresh.distinct.size == 1, s"jobs grew with the groups: $perRefresh")
    assert(perRefresh.head <= 5, s"${perRefresh.head} jobs per refresh, above the 5 measured")
  }
  test("just above the ceiling a refresh is the forced chain's, plus at most two bounded collects") {
    def run(ceiling: Long): (Int, Mv.RefreshReport, Seq[String]) = {
      val base = Files.createTempDirectory("mv_ceil").toString
      val mv = hourlyFixture(base)
      hourlyUpsert(base, 200L until 320L, 0.75)
      var r: Mv.RefreshReport = null
      val jobs = org.apache.spark.SpecBus.jobsOf(spark.sparkContext) {
        r = Mv.driverMaxGroups.withValue(ceiling)(Mv.refresh(spark, mv))
      }
      (jobs, r, Snapshots.readSnapshot(spark, mv).collect().map(_.toString).toSeq.sorted)
    }
    val (chainJobs, chainRep, chainRows) = run(0L)
    // 120 groups, one row each in the feed: both the raw rows and the
    // distinct keys miss a ceiling of 119
    val (aboveJobs, aboveRep, aboveRows) = run(119L)
    assert(aboveRep.groupsRecomputed == 120L)
    assert(aboveRep == chainRep && aboveRows == chainRows)
    info(s"jobs per refresh: forced chain $chainJobs, just above the ceiling $aboveJobs")
    assert(aboveJobs <= chainJobs + 2, s"$aboveJobs jobs above the ceiling vs $chainJobs on the chain")
  }
}
