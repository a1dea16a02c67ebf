package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SnapshotsSpec extends SparkSpec {

  import spark.implicits._

  private def table(dir: String): Unit = {
    val base = Seq(
      (1L, "2024-01-01", 10.0),
      (2L, "2024-01-01", 11.0),
      (3L, "2024-01-02", 20.0),
      (4L, "2024-01-03", 30.0)).toDF("id", "day", "v")
    // one file per partition dir: id=1 and id=2 share day=2024-01-01's
    // file, so deleteWhere(id=2) exercises the REWRITE path (not the
    // whole-file-archive path)
    Sources.writeParquet(base.repartition(1), dir, partitionCols = Seq("day"))
  }

  test("a reader pinned to manifest v1 sees byte-identical results across a merge that writes v2") {
    val dir = Files.createTempDirectory("snap_merge").toString + "/t"
    table(dir)
    val v1 = Snapshots.commit(spark, dir)
    assert(v1 == 1L)
    val pinnedBefore = Snapshots
      .readSnapshot(spark, dir, v1)
      .select($"id", $"day".cast("string").as("day"), $"v")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .toSet
    // the "concurrent reader" — resolve v1's files now, as a reader that
    // planned its scan before the merge landed would have
    val resolvedBefore = Snapshots.files(spark, dir, v1).map(rel => Snapshots.resolve(spark, dir, rel).toString)
    val delta = Seq((3L, "2024-01-02", 99.0), (5L, "2024-01-02", 21.0)).toDF("id", "day", "v")
    Sources.mergeIntoPartitioned(spark, dir, delta, "day", Seq("id"))
    assert(Snapshots.latestVersion(spark, dir) == 2L)
    // v1 re-read AFTER the merge: identical rows, even though day=2024-01-02
    // was rewritten and its old file left the live tree
    val pinnedAfter = Snapshots
      .readSnapshot(spark, dir, v1)
      .select($"id", $"day".cast("string").as("day"), $"v")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .toSet
    assert(pinnedAfter == pinnedBefore)
    assert(pinnedAfter.contains((3L, "2024-01-02", 20.0)), "v1 must show the PRE-merge value")
    // the scan a pre-merge reader planned still resolves: every v1 file is
    // live or archived, none destroyed
    val resolvedAfter = Snapshots.files(spark, dir, v1).map(rel => Snapshots.resolve(spark, dir, rel).toString)
    assert(resolvedAfter.size == resolvedBefore.size)
    resolvedAfter.foreach(p => assert(new java.io.File(new java.net.URI(p).getPath).exists(), s"$p vanished"))
    // the live table (latest manifest) shows the merged state
    val live = Snapshots
      .readSnapshot(spark, dir)
      .filter($"day" === "2024-01-02")
      .collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Double]("v")))
      .toSet
    assert(live == Set((3L, 99.0), (5L, 21.0)))
    // and the directory read agrees with the latest manifest
    assert(spark.read.parquet(dir).count() == Snapshots.readSnapshot(spark, dir).count())
  }

  test("deleteWhere: v1 pins the pre-delete rows; live and v2 lose them; rel paths never reused") {
    val dir = Files.createTempDirectory("snap_del").toString + "/t"
    table(dir)
    // no explicit commit: deleteWhere's ensureBaseline must pin the pre-state
    val (files, rows) = Sources.deleteWhere(spark, dir, $"id" === 2L)
    assert(files == 1L && rows == 1L)
    assert(Snapshots.latestVersion(spark, dir) == 2L)
    val v1 = Snapshots.readSnapshot(spark, dir, 1L)
    assert(v1.count() == 4L)
    assert(v1.filter($"id" === 2L).count() == 1L, "pre-delete snapshot lost the deleted row")
    val v2 = Snapshots.readSnapshot(spark, dir, 2L)
    assert(v2.count() == 3L && v2.filter($"id" === 2L).count() == 0L)
    assert(spark.read.parquet(dir).count() == 3L)
    // the rewritten file landed under a FRESH name: v1 and v2 share no
    // rel path for the rewritten partition's data
    val f1 = Snapshots.files(spark, dir, 1L).toSet
    val f2 = Snapshots.files(spark, dir, 2L).toSet
    assert((f2 -- f1).nonEmpty, "rewrite must mint a new rel path")
    // partition-column inference survives for archived files
    assert(v1.select($"day".cast("string")).distinct().count() == 3L)
  }

  test("NDV register sidecars: merge-invariant estimates, clone carry, scan column stats, vacuum reaping") {
    val baseA = Files.createTempDirectory("ndv_a").toString
    val dirA = s"$baseA/t"
    val df = spark.range(2000L).select(($"id" % 700L).as("k"), $"id".as("id"))
    df.repartition(1).write.parquet(dirA)
    Snapshots.commit(spark, dirA, Seq("id"), Seq("k"))
    // the SAME rows split across five files must estimate IDENTICALLY —
    // register merge is max, so any partition of the data is equivalent
    val dirB = Files.createTempDirectory("ndv_b").toString + "/t"
    df.repartition(5).write.parquet(dirB)
    Snapshots.commit(spark, dirB, Seq("id"), Seq("k"))
    val ea = Snapshots.approxCountDistinct(spark, dirA, "k")
    val eb = Snapshots.approxCountDistinct(spark, dirB, "k")
    assert(ea.isDefined && ea == eb, s"merge invariance: $ea vs $eb")
    assert(math.abs(ea.get - 700.0) / 700.0 < 0.25, s"estimate ${ea.get} far from 700")
    assert(Snapshots.approxCountDistinct(spark, dirA, "id").isEmpty,
      "a column without the sidecar discipline must refuse, not guess")
    // incremental: an appended commit builds only the new file's sidecar,
    // and new values move the estimate up
    val before = ea.get
    spark.range(9000L, 9200L).select($"id".as("k"), $"id".as("id"))
      .repartition(1).write.mode("append").parquet(dirA)
    Snapshots.commit(spark, dirA, Seq("id"), Seq("k"))
    val after = Snapshots.approxCountDistinct(spark, dirA, "k").get
    assert(after > before, s"estimate must grow: $before -> $after")
    // clone carries the register sidecars — identical estimate, no rebuild
    val dst = Files.createTempDirectory("ndv_clone").toString + "/t"
    Snapshots.cloneSnapshot(spark, dirA, dst)
    assert(Snapshots.approxCountDistinct(spark, dst, "k").contains(after))
    // the DSv2 scan reports the merged estimate as per-column NDV
    spark.conf.set("spark.sql.catalog.ndvcat", classOf[graft.sources.snap.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.ndvcat.root", baseA)
    val scans = spark.table("ndvcat.t").queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan
    }
    val reported = scans.collectFirst {
      case s: org.apache.spark.sql.connector.read.SupportsReportStatistics =>
        s.estimateStatistics().columnStats()
    }.get
    import scala.jdk.CollectionConverters._
    val kStat = reported.asScala.collectFirst {
      case (ref, cs) if ref.fieldNames().toSeq == Seq("k") => cs.distinctCount()
    }
    assert(kStat.exists(_.getAsLong == math.round(after)), s"scan NDV: $kStat vs $after")
    // and the SQL face: cat.t.ndv lists the same merged estimate
    val ndvRows = spark.sql("SELECT column, ndv_estimate FROM ndvcat.t.ndv")
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(ndvRows == Seq(("k", after)), s"ndv metadata table: $ndvRows vs $after")
    // version pin shows the PRE-append estimate
    assert(
      spark.sql("SELECT ndv_estimate FROM ndvcat.t.ndv VERSION AS OF 1").head().getDouble(0) == before)
    // vacuum reaps sidecars of files no retained manifest references
    Sources.deleteWhere(spark, dirB, $"k" === 3L) // rewrites the files holding k=3
    Snapshots.vacuum(spark, dirB, keepLast = 1)
    val fs = new org.apache.hadoop.fs.Path(dirB).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ndvDir = new org.apache.hadoop.fs.Path(s"$dirB/${Snapshots.ManifestDirName}/ndv")
    def hexOf(s: String): String = s.getBytes("UTF-8").map(b => f"${b & 0xff}%02x").mkString
    val liveRelPrefixes = Snapshots.files(spark, dirB).map(hexOf).toSet
    fs.listStatus(ndvDir).foreach { st =>
      assert(
        liveRelPrefixes.contains(st.getPath.getName.split("\\.")(0)),
        s"orphan NDV sidecar survived vacuum: ${st.getPath.getName}")
    }
    // and the rewritten table still answers (fresh sidecars at the commit)
    assert(Snapshots.approxCountDistinct(spark, dirB, "k").isDefined)
  }

  test("NDV upgrade: routine commits skip pre-NDV files; ndv_backfill upgrades explicitly") {
    val base = Files.createTempDirectory("ndv_up").toString
    val dir = s"$base/t"
    spark.range(500L).select(($"id" % 97L).as("k"), $"id".as("id"))
      .repartition(1).write.parquet(dir)
    Snapshots.commit(spark, dir, Seq("id"), Seq("k"))
    // simulate a table whose bloom sidecars PREDATE the NDV feature: reap
    // the register sidecars (nothing has read them yet, so no cache holds
    // them), keep the blooms
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ndvDir = new org.apache.hadoop.fs.Path(s"$dir/${Snapshots.ManifestDirName}/ndv")
    fs.delete(ndvDir, true)
    // a ROUTINE append commit must not turn into an O(table) re-read: it
    // builds sidecars for its NEW file only (which lacks a bloom), never
    // for the old bloom'd file
    spark.range(500L, 600L).select(($"id" % 97L).as("k"), $"id".as("id"))
      .repartition(1).write.mode("append").parquet(dir)
    Snapshots.commit(spark, dir, Seq("id"), Seq("k"))
    assert(fs.listStatus(ndvDir).count(!_.getPath.getName.startsWith(".")) == 1,
      "the commit must build NDV for the new file only, not backfill the table")
    assert(Snapshots.approxCountDistinct(spark, dir, "k").isEmpty,
      "a partially-sidecar'd table must refuse to estimate, never guess")
    // the explicit upgrade pass reads exactly the missing files — and the
    // estimate becomes available (the negative lookup cache must have been
    // invalidated by the build)
    assert(Snapshots.backfillNdv(spark, dir) == 1L)
    val est = Snapshots.approxCountDistinct(spark, dir, "k")
    assert(est.isDefined && math.abs(est.get - 97.0) / 97.0 < 0.3, s"estimate $est far from 97")
    assert(Snapshots.backfillNdv(spark, dir) == 0L, "idempotent: nothing left to build")
    // SQL surface
    spark.conf.set("spark.sql.catalog.ndvbf", classOf[graft.sources.snap.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.ndvbf.root", base)
    assert(spark.sql("CALL ndvbf.ndv_backfill(table => 't')").head().getLong(0) == 0L)
  }

  test("an unparsable ref file fails loudly instead of silently unpinning") {
    val dir = Files.createTempDirectory("refs_loud").toString + "/t"
    table(dir)
    val v1 = Snapshots.commit(spark, dir, Seq("day", "id"))
    Snapshots.createRef(spark, dir, "good")
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val corrupt = new org.apache.hadoop.fs.Path(s"$dir/${Snapshots.ManifestDirName}/refs/corrupt")
    val out = fs.create(corrupt, true)
    out.write("garbage".getBytes("UTF-8")); out.close()
    // refs() (and therefore vacuum, whose retention set derives from it)
    // must refuse — treating the pin as absent would let vacuum reclaim a
    // pinned version's manifests and data
    val e = intercept[RuntimeException](Snapshots.refs(spark, dir))
    assert(e.getMessage.contains("unparsable"))
    intercept[RuntimeException](Snapshots.vacuum(spark, dir, keepLast = 1))
    // fixed (deleted), everything proceeds and the good pin is intact
    fs.delete(corrupt, false)
    assert(Snapshots.refs(spark, dir) == Map("good" -> v1))
    Snapshots.vacuum(spark, dir, keepLast = 1)
    assert(Snapshots.readSnapshot(spark, dir, v1).count() == 4L)
  }

  test("branch/tag refs: O(1) create, vacuum retention, byte-stable fork reads, SQL surface") {
    val base = Files.createTempDirectory("snap_refs").toString
    val dir = s"$base/t"
    table(dir)
    val v1 = Snapshots.commit(spark, dir, Seq("day", "id"))
    val filesBefore = Snapshots.files(spark, dir).toSet
    // create is metadata-only: no data file appears, dropped or copied
    val pinned = Snapshots.createRef(spark, dir, "audit_v1")
    assert(pinned == v1)
    assert(Snapshots.files(spark, dir).toSet == filesBefore)
    assert(Snapshots.refs(spark, dir) == Map("audit_v1" -> v1))
    // refs are immutable pins
    intercept[IllegalArgumentException](Snapshots.createRef(spark, dir, "audit_v1"))
    intercept[IllegalArgumentException](Snapshots.createRef(spark, dir, "../escape"))
    intercept[IllegalArgumentException](Snapshots.createRef(spark, dir, "nope", version = 99L))
    // mutate past the pin: COW delete rewrites day=01's file (v2), then an
    // aggressive vacuum — WITHOUT the ref, v1's archived file would die
    val before = Snapshots
      .readSnapshot(spark, dir, v1)
      .select($"id", $"v")
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
      .toSet
    Sources.deleteWhere(spark, dir, $"id" === 2L)
    Snapshots.vacuum(spark, dir, keepLast = 1)
    val after = Snapshots
      .readSnapshot(spark, dir, v1)
      .select($"id", $"v")
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
      .toSet
    assert(after == before && after.size == 4, "the ref-pinned version must survive vacuum")
    // SQL: VERSION AS OF 'name' + the refs metadata table + CALL surface
    spark.conf.set("spark.sql.catalog.refcat", classOf[graft.sources.snap.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.refcat.root", base)
    assert(
      spark.sql("SELECT count(*) FROM refcat.t VERSION AS OF 'audit_v1'").head().getLong(0) == 4L)
    assert(spark.sql("SELECT count(*) FROM refcat.t").head().getLong(0) == 3L)
    assert(
      spark.sql("SELECT name, version FROM refcat.t.refs").collect().map(r =>
        (r.getString(0), r.getLong(1))).toSeq == Seq(("audit_v1", v1)))
    intercept[Exception](spark.sql("SELECT * FROM refcat.t VERSION AS OF 'no_such'").collect())
    assert(
      spark.sql("CALL refcat.create_ref(table => 't', name => 'head2')").head().getLong(0) == 2L)
    assert(spark.sql("CALL refcat.drop_ref(table => 't', name => 'head2')").head().getBoolean(0))
    // dropping the ref releases retention: the next vacuum reaps v1's file
    assert(Snapshots.dropRef(spark, dir, "audit_v1"))
    assert(Snapshots.refs(spark, dir).isEmpty)
    val reclaimed = Snapshots.vacuum(spark, dir, keepLast = 1)
    assert(reclaimed.nonEmpty, "dropping the ref must release the pinned files to vacuum")
    intercept[Exception](Snapshots.readSnapshot(spark, dir, v1).collect())
    // a pin on the now-data-less version must refuse at CREATE time (its
    // manifest may survive as a delta-chain hop, but the pin would be
    // permanently unreadable)
    val e = intercept[IllegalArgumentException](
      Snapshots.createRef(spark, dir, "late_pin", version = v1))
    assert(e.getMessage.contains("vacuumed"))
  }

  private def idsOf(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select($"id").as[Long].collect().toSet

  test("writable branches: branch appends never touch the live line; fast-forward adopts; divergence refuses") {
    val base = Files.createTempDirectory("snap_branch").toString
    val dir = s"$base/t"
    table(dir)
    val v1 = Snapshots.commit(spark, dir, Seq("day", "id"))
    val liveFiles = Snapshots.listDataFiles(spark, dir)
    // fork a writable branch and append on it
    assert(Snapshots.createBranch(spark, dir, "dev") == v1)
    assert(Snapshots.isBranch(spark, dir, "dev") && Snapshots.branches(spark, dir) == Seq("dev"))
    val b1 = Snapshots.appendToBranch(
      spark, dir, "dev", Seq((9L, "2024-01-09", 90.0)).toDF("id", "day", "v"))
    assert(b1 == 1L)
    // the LIVE line is untouched: no new visible file, no new version
    assert(Snapshots.listDataFiles(spark, dir) == liveFiles)
    assert(Snapshots.latestVersion(spark, dir) == v1)
    assert(Snapshots.readSnapshot(spark, dir).count() == 4L)
    // the branch reads fork + append; a second epoch stacks
    assert(idsOf(Snapshots.readBranch(spark, dir, "dev")) == Set(1L, 2L, 3L, 4L, 9L))
    assert(Snapshots.appendToBranch(
      spark, dir, "dev", Seq((10L, "2024-01-10", 100.0)).toDF("id", "day", "v")) == 2L)
    assert(Snapshots.readBranch(spark, dir, "dev").count() == 6L)
    // SQL face: VERSION AS OF '<branch>' reads the branch line; refs meta
    // reports the kind
    spark.conf.set("spark.sql.catalog.brcat", classOf[graft.sources.snap.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.brcat.root", base)
    assert(spark.sql("SELECT count(*) FROM brcat.t VERSION AS OF 'dev'").head().getLong(0) == 6L)
    assert(
      spark.sql("SELECT name, version, kind FROM brcat.t.refs").collect().map(r =>
        (r.getString(0), r.getLong(1), r.getString(2))).toSeq == Seq(("dev", v1, "branch")))
    // an aggressive vacuum keeps the fork pinned (the tag retention
    // contract extends to branches)
    Snapshots.vacuum(spark, dir, keepLast = 1)
    assert(Snapshots.readBranch(spark, dir, "dev").count() == 6L)
    // fast-forward: main hasn't advanced, so the branch adopts — files
    // move to their natural paths, one append commit, branch gone
    val v2 = Snapshots.fastForward(spark, dir, "dev")
    assert(v2 == v1 + 1L)
    assert(idsOf(Snapshots.readSnapshot(spark, dir)) == Set(1L, 2L, 3L, 4L, 9L, 10L))
    assert(Snapshots.refs(spark, dir).isEmpty && Snapshots.branches(spark, dir).isEmpty)
    // the MANIFEST is the authority (a listing check would be vacuous —
    // dot-prefixed dirs are invisible to listers either way): the adopted
    // files are recorded at natural paths and resolve there
    val adopted = Snapshots.files(spark, dir)
    assert(adopted.forall(!_.startsWith(Snapshots.BranchDataDirName)))
    assert(adopted.exists(_.startsWith("day=2024-01-09/")) &&
      adopted.exists(_.startsWith("day=2024-01-10/")))
    // divergence: a branch forked, then the live line advances — the
    // fast-forward must refuse loudly (re-apply or clone, never guess)
    Snapshots.createBranch(spark, dir, "dev2")
    Snapshots.appendToBranch(
      spark, dir, "dev2", Seq((11L, "2024-01-11", 110.0)).toDF("id", "day", "v"))
    Sources.deleteWhere(spark, dir, $"id" === 9L) // live advances
    val e = intercept[Exception](Snapshots.fastForward(spark, dir, "dev2"))
    assert(e.getMessage.contains("diverged"), e.getMessage)
    // the branch still reads its own world (fork had id=9 alive)
    assert(idsOf(Snapshots.readBranch(spark, dir, "dev2")).contains(9L))
    // tags stay immutable: appending to one refuses
    Snapshots.createRef(spark, dir, "just_a_tag")
    val e2 = intercept[Exception](Snapshots.appendToBranch(
      spark, dir, "just_a_tag", Seq((12L, "2024-01-12", 120.0)).toDF("id", "day", "v")))
    assert(e2.getMessage.contains("createBranch"), e2.getMessage)
    // dropping the branch removes its line, its private files and its pin
    assert(Snapshots.dropBranch(spark, dir, "dev2"))
    assert(Snapshots.refs(spark, dir) == Map("just_a_tag" -> Snapshots.latestVersion(spark, dir)))
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir, Snapshots.BranchDataDirName + "/dev2")))
  }

  test("branch appends carry the stats discipline: pruned branch reads, fast-forwarded sidecars survive") {
    val base = Files.createTempDirectory("snap_branch_stats").toString
    val dir = s"$base/t"
    table(dir)
    Snapshots.commit(spark, dir, Seq("day", "id"), Seq("id")) // blooms + NDV + sums
    Snapshots.createBranch(spark, dir, "dev")
    Snapshots.appendToBranch(
      spark, dir, "dev", Seq((9L, "2024-01-09", 90.0)).toDF("id", "day", "v"))
    // the branch view carries per-file stats for the appended file: a
    // day-bounded read of the branch prunes to it
    val bv = Snapshots.branchView(spark, dir, "dev")
    val newRel = bv.rels.find(_.startsWith(Snapshots.BranchDataDirName)).get
    assert(bv.stats(newRel).contains(Snapshots.RowCountKey), "branch lines carry footer stats")
    // fast-forward renames the sidecars with the files: the NDV estimate
    // is available immediately, with no rebuild (no data read)
    val v = Snapshots.fastForward(spark, dir, "dev")
    assert(Snapshots.latestVersion(spark, dir) == v)
    val est = Snapshots.approxCountDistinct(spark, dir, "id")
    assert(est.isDefined && est.get > 4.0, s"post-ff estimate must cover the appended key: $est")
    assert(Snapshots.countRows(spark, dir) == 5L)
  }

  test("rebase replays a diverged branch onto the live head; same-file vectors UNION") {
    val base = Files.createTempDirectory("snap_rebase").toString
    val dir = s"$base/t"
    table(dir) // day=01 {1,2} one file, day=02 {3}, day=03 {4}
    val v1 = Snapshots.commit(spark, dir, Seq("day", "id"), Seq("id"))
    Snapshots.createBranch(spark, dir, "dev")
    // branch DML: vector two FORK files, append one private file
    DeleteVectors.deleteOnBranch(spark, dir, "dev", $"id" === 3L)
    DeleteVectors.deleteOnBranch(spark, dir, "dev", $"id" === 1L)
    Snapshots.appendToBranch(
      spark, dir, "dev", Seq((9L, "2024-01-09", 90.0)).toDF("id", "day", "v"))
    // main DIVERGES: an upsert-append AND a MoR delete vectoring the SAME
    // day=01 file the branch vectored (id=2 vs the branch's id=1)
    DeleteVectors.upsert(
      spark, dir, Seq((10L, "2024-01-10", 100.0)).toDF("id", "day", "v"), Seq("day", "id"))
    DeleteVectors.deleteWhere(spark, dir, $"id" === 2L)
    val latest = Snapshots.latestVersion(spark, dir)
    assert(latest > v1)
    val e0 = intercept[Exception](Snapshots.fastForward(spark, dir, "dev"))
    assert(e0.getMessage.contains("rebase"), e0.getMessage)
    // rebase: appends adopt as-is, the day=02 pointer adopts verbatim
    // (main never touched it), the day=01 vectors UNION — both lines'
    // deletes survive
    assert(Snapshots.rebase(spark, dir, "dev") == latest)
    assert(Snapshots.refs(spark, dir)("dev") == latest, "the fork pin follows the chain")
    assert(idsOf(Snapshots.readBranch(spark, dir, "dev")) == Set(4L, 9L, 10L))
    // the live line is still untouched by branch work
    assert(idsOf(Snapshots.readSnapshot(spark, dir)) == Set(1L, 3L, 4L, 10L))
    // rebase is idempotent at head: a no-op returns the fork unchanged
    assert(Snapshots.rebase(spark, dir, "dev") == latest)
    // and fast-forward now proceeds: ONE commit, vectors carried
    val v2 = Snapshots.fastForward(spark, dir, "dev")
    assert(v2 == latest + 1L)
    assert(idsOf(Snapshots.readSnapshot(spark, dir)) == Set(4L, 9L, 10L))
    assert(Snapshots.branches(spark, dir).isEmpty)
  }

  test("rebase refuses when a vectored fork file was rewritten or removed on main") {
    val base = Files.createTempDirectory("snap_rebase_conflict").toString
    val dir = s"$base/t"
    table(dir)
    Snapshots.commit(spark, dir, Seq("day", "id"), Seq("id"))
    Snapshots.createBranch(spark, dir, "dev")
    val day03 = Snapshots.files(spark, dir).find(_.startsWith("day=2024-01-03/")).get
    // the branch vectors day=03's file…
    DeleteVectors.deleteOnBranch(spark, dir, "dev", $"id" === 4L)
    // …and main REMOVES that file via a COW delete (the branch's DV is
    // branch-local, so main's COW guard rightly lets the rewrite run)
    Sources.deleteWhere(spark, dir, $"id" === 4L)
    assert(!Snapshots.files(spark, dir).contains(day03))
    val e = intercept[Exception](Snapshots.rebase(spark, dir, "dev"))
    assert(e.getMessage.contains("refuses") && e.getMessage.contains(day03), e.getMessage)
    // the branch is untouched by the refusal: still reads its own world
    assert(idsOf(Snapshots.readBranch(spark, dir, "dev")) == Set(1L, 2L, 3L))
  }

  test("branch fork memo keys on the creation NONCE — a cross-process drop+recreate in one mtime tick never serves the dead chain's fork") {
    val base = Files.createTempDirectory("snap_nonce").toString
    val dir = s"$base/t"
    table(dir)
    Snapshots.commit(spark, dir, Seq("day", "id"))
    Snapshots.createBranch(spark, dir, "dev") // fork = v1
    Sources.deleteWhere(spark, dir, $"id" === 4L) // main advances to v2
    Snapshots.rebase(spark, dir, "dev") // chain gains a `#fork 2` marker
    assert(Snapshots.branchForkVersion(spark, dir, "dev") == 2L) // memo primed
    val rootPath = new org.apache.hadoop.fs.Path(dir)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bdir = Snapshots.branchDir(rootPath, "dev")
    val firstManifest = new org.apache.hadoop.fs.Path(bdir, "v0000000001.manifest")
    val oldMtime = fs.getFileStatus(firstManifest).getModificationTime
    // ANOTHER PROCESS drops and recreates the branch (raw fs — our
    // in-JVM memo invalidation never fires, exactly the hazard)
    fs.delete(bdir, true)
    fs.delete(new org.apache.hadoop.fs.Path(rootPath, s"${Snapshots.BranchDataDirName}/dev"), true)
    fs.delete(new org.apache.hadoop.fs.Path(rootPath, "_graft_manifests/refs/dev"), false)
    Snapshots.createBranch(spark, dir, "dev", version = 1L) // NEW chain, fork = v1
    Snapshots.appendToBranch(
      spark, dir, "dev", Seq((9L, "2024-01-09", 90.0)).toDF("id", "day", "v"))
    // force the mtime collision the nonce must defeat: the recreated
    // chain's first manifest reads the SAME tick as the dead chain's
    fs.setTimes(new org.apache.hadoop.fs.Path(bdir, "v0000000001.manifest"), oldMtime, oldMtime)
    assert(
      Snapshots.branchForkVersion(spark, dir, "dev") == 1L,
      "the recreated chain has no rebase marker — the memo must not serve the dead chain's #fork 2")
  }

  test("a failed fast-forward rolls back sidecar renames with the data files") {
    val base = Files.createTempDirectory("snap_ff_rb").toString
    val dir = s"$base/t"
    table(dir)
    Snapshots.commit(spark, dir, Seq("day", "id"), Seq("id")) // blooms + NDV + sums
    Snapshots.createBranch(spark, dir, "dev")
    Snapshots.appendToBranch(
      spark, dir, "dev",
      Seq((9L, "2024-01-09", 90.0), (10L, "2024-01-10", 100.0)).toDF("id", "day", "v"))
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def sidecarNames(): Set[String] = Seq("bloom", "ndv", "sum")
      .map(d => new org.apache.hadoop.fs.Path(dir, s"_graft_manifests/$d"))
      .flatMap(p => if (fs.exists(p)) fs.listStatus(p).map(_.getPath.getName).toSeq else Nil)
      .toSet
    val before = sidecarNames()
    assert(before.nonEmpty)
    // block the SECOND sorted target: the first branch file AND its
    // sidecars move before the failure fires — exactly the window where
    // a data-only rollback would orphan the renamed sidecars for the
    // next vacuum to reap
    val bv = Snapshots.branchView(spark, dir, "dev")
    val branchRels = bv.rels.filter(_.startsWith(Snapshots.BranchDataDirName)).sorted
    assert(branchRels.size == 2, branchRels.toString)
    val blocker = new org.apache.hadoop.fs.Path(
      dir, branchRels.last.stripPrefix(Snapshots.BranchDataDirName + "/dev/"))
    fs.mkdirs(blocker.getParent)
    val out = fs.create(blocker, true)
    out.write(1); out.close()
    val e = intercept[Exception](Snapshots.fastForward(spark, dir, "dev"))
    assert(e.getMessage.contains("already exists"), e.getMessage)
    assert(sidecarNames() == before, "sidecar renames must roll back with the data files")
    // the branch is whole: reads work and the live line never advanced
    assert(Snapshots.readBranch(spark, dir, "dev").count() == 6L)
    assert(Snapshots.latestVersion(spark, dir) == 1L)
    // heal and adopt: the restored sidecars rename cleanly this time
    fs.delete(blocker, false)
    Snapshots.fastForward(spark, dir, "dev")
    assert(Snapshots.countRows(spark, dir) == 6L)
    val est = Snapshots.approxCountDistinct(spark, dir, "id")
    assert(est.isDefined && est.get > 4.0, s"post-heal NDV must still serve: $est")
  }

  test("vacuum keeps ref-pinned DELTA chains and deletion-vector sidecars alive") {
    val dir = Files.createTempDirectory("snap_refs_dv").toString + "/t"
    table(dir)
    Snapshots.commit(spark, dir, Seq("day", "id")) // v1 (full)
    DeleteVectors.deleteWhere(spark, dir, $"id" === 2L) // v2 (delta, DV pointer)
    Snapshots.createRef(spark, dir, "mor_era", version = 2L)
    // march history forward past v2: materialize (v3) then more commits
    DeleteVectors.materialize(spark, dir) // v3
    Sources.deleteWhere(spark, dir, $"id" === 4L) // v4
    Snapshots.vacuum(spark, dir, keepLast = 1)
    // the pinned version still reads THROUGH its delta chain and its DV
    val ids = Snapshots
      .readSnapshot(spark, dir, 2L)
      .select($"id")
      .collect()
      .map(_.getLong(0))
      .toSet
    assert(ids == Set(1L, 3L, 4L), s"ref-pinned MoR version must keep its sidecar, got $ids")
  }

  test("vacuum keeps retained manifests readable and reclaims unreferenced archive files") {
    val dir = Files.createTempDirectory("snap_vac").toString + "/t"
    table(dir)
    Sources.deleteWhere(spark, dir, $"id" === 1L) // v1 (baseline) + v2
    Sources.deleteWhere(spark, dir, $"id" === 3L) // v3
    assert(Snapshots.latestVersion(spark, dir) == 3L)
    assert(Snapshots.readSnapshot(spark, dir, 1L).count() == 4L)
    val reclaimed = Snapshots.vacuum(spark, dir, keepLast = 2)
    assert(reclaimed.nonEmpty, "v1-only files should be reclaimed")
    // v1 is gone; v2 and v3 still read exactly
    intercept[RuntimeException](Snapshots.readSnapshot(spark, dir, 1L))
    assert(Snapshots.readSnapshot(spark, dir, 2L).count() == 3L)
    assert(Snapshots.readSnapshot(spark, dir, 3L).count() == 2L)
    // vacuum to latest-only: archive fully reclaimed for this history
    Snapshots.vacuum(spark, dir, keepLast = 1)
    assert(Snapshots.readSnapshot(spark, dir, 3L).count() == 2L)
    assert(!new java.io.File(s"$dir/${Snapshots.ArchiveDirName}").exists, "archive should prune to nothing")
  }

  test("expirePartitions archives expired partitions; the pre-TTL snapshot still reads them") {
    val dir = Files.createTempDirectory("snap_ttl").toString + "/t"
    table(dir)
    val expired = Sources.expirePartitions(spark, dir, "day", keep = _ >= "2024-01-02")
    assert(expired == Seq("2024-01-01"))
    assert(spark.read.parquet(dir).count() == 2L)
    assert(Snapshots.readSnapshot(spark, dir).count() == 2L)
    val v1 = Snapshots.readSnapshot(spark, dir, 1L)
    assert(v1.count() == 4L)
    assert(v1.filter($"day" === "2024-01-01").count() == 2L)
  }

  test("compactInPlace: one file per dir after, pinned pre-compaction snapshot identical, vacuum reclaims") {
    val dir = Files.createTempDirectory("snap_compact").toString + "/t"
    val rows = (1L to 400L).map(i => (i, s"2024-01-0${i % 3 + 1}", i * 1.5))
    // deliberately scattered: many part files per day dir
    Sources.writeParquet(rows.toDF("id", "day", "v").repartition(8), dir, partitionCols = Seq("day"))
    val v1 = Snapshots.commit(spark, dir)
    def liveFiles(day: String) = new java.io.File(s"$dir/day=$day")
      .listFiles()
      .count(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
    assert(liveFiles("2024-01-01") > 1, "fixture must start scattered")
    val before = Snapshots.readSnapshot(spark, dir, v1).collect().map(_.toString).sorted
    val (dirs, filesBefore, filesAfter) = Sources.compactInPlace(spark, dir)
    assert(dirs == 3L && filesBefore > 3L && filesAfter == 3L)
    Seq("2024-01-01", "2024-01-02", "2024-01-03").foreach(d => assert(liveFiles(d) == 1, s"day $d"))
    // pinned v1 (all archived now) reads byte-identical rows
    val pinned = Snapshots.readSnapshot(spark, dir, v1).collect().map(_.toString).sorted
    assert(pinned.sameElements(before))
    // latest snapshot and directory read agree with the original data
    assert(Snapshots.readSnapshot(spark, dir).count() == 400L)
    assert(spark.read.parquet(dir).count() == 400L)
    // idempotence: a second pass finds nothing to do
    assert(Sources.compactInPlace(spark, dir) == ((0L, 0L, 0L)))
    // vacuum to latest-only reclaims every archived pre-compaction file
    Snapshots.vacuum(spark, dir, keepLast = 1)
    assert(!new java.io.File(s"$dir/${Snapshots.ArchiveDirName}").exists)
    assert(Snapshots.readSnapshot(spark, dir).count() == 400L)
  }

  test("diff across a merge: update = removed old + added new, insert = added; untouched rows cancel") {
    val dir = Files.createTempDirectory("snap_diff").toString + "/t"
    table(dir)
    val v1 = Snapshots.commit(spark, dir)
    val delta = Seq((3L, "2024-01-02", 99.0), (5L, "2024-01-02", 21.0)).toDF("id", "day", "v")
    Sources.mergeIntoPartitioned(spark, dir, delta, "day", Seq("id"))
    val changes = Snapshots
      .diff(spark, dir, v1)
      .select($"change", $"id", $"day".cast("string").as("day"), $"v")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getDouble(3)))
      .toSet
    assert(changes == Set(
      ("removed", 3L, "2024-01-02", 20.0), // update: old image out
      ("added", 3L, "2024-01-02", 99.0), //         new image in
      ("added", 5L, "2024-01-02", 21.0))) // insert
  }

  test("restore rolls the live tree back to a pinned version; all manifests stay readable") {
    val dir = Files.createTempDirectory("snap_restore").toString + "/t"
    table(dir)
    val v1 = Snapshots.commit(spark, dir)
    Sources.deleteWhere(spark, dir, $"id" === 2L) // v2
    assert(spark.read.parquet(dir).count() == 3L)
    val v3 = Snapshots.restore(spark, dir, v1)
    assert(v3 == 3L)
    // DIRECTORY readers see the pre-delete table again — not just manifest readers
    assert(spark.read.parquet(dir).count() == 4L)
    assert(spark.read.parquet(dir).filter($"id" === 2L).count() == 1L)
    // every version still reads: v1 == v3 == 4 rows, v2 (the delete) == 3
    assert(Snapshots.readSnapshot(spark, dir, 1L).count() == 4L)
    assert(Snapshots.readSnapshot(spark, dir, 2L).count() == 3L)
    assert(Snapshots.readSnapshot(spark, dir, 3L).count() == 4L)
    // the delete can be REPLAYED after the restore (re-archiving the
    // restored duplicate must not collide)
    Sources.deleteWhere(spark, dir, $"id" === 2L) // v4
    assert(spark.read.parquet(dir).count() == 3L)
    assert(Snapshots.readSnapshot(spark, dir, 3L).count() == 4L)
  }

  test("table lock serializes concurrent maintenance; a stale lock is broken") {
    val dir = Files.createTempDirectory("snap_lock").toString + "/t"
    table(dir)
    // two concurrent deletes on the same table: the lock must serialize
    // them and both must land (neither lost-updates the other's manifest)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val f1 = Future(Sources.deleteWhere(spark, dir, $"id" === 1L))
    val f2 = Future(Sources.deleteWhere(spark, dir, $"id" === 4L))
    val (r1, r2) = (Await.result(f1, 2.minutes), Await.result(f2, 2.minutes))
    assert(r1._2 == 1L && r2._2 == 1L)
    assert(spark.read.parquet(dir).count() == 2L)
    assert(Snapshots.readSnapshot(spark, dir).count() == 2L)
    // stale lock (simulated crashed holder, heartbeat an hour old): the
    // next op breaks it and runs
    val lock = new java.io.File(s"$dir/${Snapshots.ManifestDirName}/.lock")
    val dead = System.currentTimeMillis() - 3600 * 1000L
    java.nio.file.Files.write(lock.toPath, s"graft-lock $dead $dead dead-owner dead-app".getBytes)
    val (files3, rows3) = Sources.deleteWhere(spark, dir, $"id" === 2L)
    assert(rows3 == 1L && !lock.exists())
    assert(spark.read.parquet(dir).count() == 1L)
  }

  test("a slow-but-alive holder heartbeats past staleMs and is NOT broken; a waiter queues behind it") {
    val dir = Files.createTempDirectory("snap_hb").toString + "/t"
    table(dir)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val holderDone = new java.util.concurrent.atomic.AtomicLong(0L)
    val waiterEntered = new java.util.concurrent.atomic.AtomicLong(0L)
    // holder's body outlives staleMs by 2x — only the heartbeat keeps it
    // alive. staleMs is generous (3s) relative to the heartbeat period
    // (600ms) so a GC/IO stall under parallel-suite load cannot fake death.
    val holder = Future(Snapshots.withTableLock(spark, dir, staleMs = 3000L) {
      Thread.sleep(6000L)
      holderDone.set(System.nanoTime())
    })
    Thread.sleep(500L) // let the holder acquire first
    val waiter = Future(Snapshots.withTableLock(spark, dir, staleMs = 3000L) {
      waiterEntered.set(System.nanoTime())
    })
    Await.result(holder, 2.minutes)
    Await.result(waiter, 2.minutes)
    assert(holderDone.get() > 0L && waiterEntered.get() > 0L)
    assert(
      waiterEntered.get() > holderDone.get(),
      "the waiter entered while the heartbeating holder was still inside its op — the lock was broken")
  }

  test("a crashed holder whose heartbeat stopped IS broken after staleMs") {
    val dir = Files.createTempDirectory("snap_crashlock").toString + "/t"
    table(dir)
    val mdir = new java.io.File(s"$dir/${Snapshots.ManifestDirName}")
    mdir.mkdirs()
    val lock = new java.io.File(mdir, ".lock")
    val t = System.currentTimeMillis() - 5000L // heartbeat 5s ago, never refreshed
    java.nio.file.Files.write(lock.toPath, s"graft-lock $t $t crashed-owner crashed-app".getBytes)
    val t0 = System.nanoTime()
    Snapshots.withTableLock(spark, dir, staleMs = 1000L) { () }
    assert((System.nanoTime() - t0) / 1e9 < 60.0)
    assert(!lock.exists())
  }

  test("an abandoned TAGLESS lock is broken by file mtime; a FRESH tagless one is not") {
    // a crash between the O_EXCL create and the tag write leaves an
    // empty .lock whose tag parses as malformed — which must read as
    // fresh only while the file itself is young (a torn heartbeat
    // rewrite), not FOREVER (the abandoned husk that would otherwise
    // block every writer until removed by hand)
    val dir = Files.createTempDirectory("snap_taglesslock").toString + "/t"
    table(dir)
    val mdir = new java.io.File(s"$dir/${Snapshots.ManifestDirName}")
    mdir.mkdirs()
    val lock = new java.io.File(mdir, ".lock")
    java.nio.file.Files.write(lock.toPath, Array.emptyByteArray)
    java.nio.file.Files.setLastModifiedTime(
      lock.toPath,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 5000L))
    val t0 = System.nanoTime()
    Snapshots.withTableLock(spark, dir, staleMs = 1000L) { () }
    assert((System.nanoTime() - t0) / 1e9 < 60.0, "the aged tagless husk must break, not spin")
    assert(!lock.exists())
    // the live-writer half: a tagless lock whose mtime is CURRENT (a
    // holder mid-write right now) stays unbreakable — the waiter times
    // out instead of stealing it
    java.nio.file.Files.write(lock.toPath, Array.emptyByteArray)
    val e = intercept[RuntimeException] {
      Snapshots.withTableLock(spark, dir, staleMs = 60000L, maxWaitMs = 1500L) { () }
    }
    assert(e.getMessage.contains("still locked"), e.getMessage)
    assert(lock.exists(), "a fresh tagless lock must never be stolen")
    java.nio.file.Files.delete(lock.toPath)
  }

  /** Files the read's snapshot scan opens. */
  private def nScanned(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan match {
          case s: graft.sources.snap.SnapV2BatchScan => s.currentRels.size
          case _ => 0
        }
    }.sum

  test("v2 manifest: a day-range pinned read opens ONLY the matching files (plan-asserted)") {
    val dir = Files.createTempDirectory("snap_stats").toString + "/t"
    table(dir) // 3 day dirs, one file each
    val v = Snapshots.commit(spark, dir, Seq("day", "v"))
    val pruned =
      Snapshots.readSnapshot(spark, dir, v, prune = Seq(("day", "2024-01-02", "2024-01-03")))
    assert(nScanned(pruned) == 2, "day range covers 2 of 3 partition files")
    assert(pruned.select($"id").collect().map(_.getLong(0)).toSet == Set(3L, 4L))
    // unpruned pinned read still opens all three
    assert(nScanned(Snapshots.readSnapshot(spark, dir, v)) == 3)
    // a range that misses every file: empty frame in the RECORDED schema
    val none =
      Snapshots.readSnapshot(spark, dir, v, prune = Seq(("day", "2030-01-01", "2030-12-31")))
    assert(none.count() == 0)
    assert(none.schema == Snapshots.schemaOf(spark, dir, v).get)
    // value identity: pruned read == unpruned read filtered to the range
    val full = Snapshots
      .readSnapshot(spark, dir, v)
      .filter($"day" >= "2024-01-02" && $"day" <= "2024-01-03")
      .select($"id", $"v")
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
      .toSet
    assert(pruned.select($"id", $"v").collect().map(r => (r.getLong(0), r.getDouble(1))).toSet == full)
  }

  test("v2 manifest: footer min/max prunes an unpartitioned table down to one file") {
    val dir = Files.createTempDirectory("snap_footer").toString + "/t"
    spark
      .range(0L, 400L)
      .select($"id", ($"id" * 3).as("v"))
      .repartitionByRange(4, $"id") // 4 files with disjoint tight id ranges
      .write
      .parquet(dir)
    val v = Snapshots.commit(spark, dir, Seq("id"))
    val stats = Snapshots.fileStats(spark, dir, v)
    assert(stats.size == 4 && stats.values.forall(_.contains("id")))
    val one = Snapshots.readSnapshot(spark, dir, v, prune = Seq(("id", "150", "150")))
    assert(nScanned(one) == 1, "a point probe must open exactly the one file whose range covers it")
    assert(one.filter($"id" === 150L).count() == 1L)
    // v1 manifests (no stats) are unaffected: same call prunes nothing
    val dir1 = Files.createTempDirectory("snap_footer_v1").toString + "/t"
    spark.range(0L, 40L).toDF("id").repartition(2).write.parquet(dir1)
    val v1 = Snapshots.commit(spark, dir1)
    assert(nScanned(Snapshots.readSnapshot(spark, dir1, v1, prune = Seq(("id", "1", "1")))) == 2)
  }

  test("numeric partition values prune numerically, not lexicographically") {
    val dir = Files.createTempDirectory("snap_numpart").toString + "/t"
    val rows = Seq((1L, 2), (2L, 9), (3L, 10), (4L, 11)).toDF("id", "hour")
    Sources.writeParquet(rows.repartition(1), dir, partitionCols = Seq("hour"))
    val v = Snapshots.commit(spark, dir, Seq("hour"))
    // lexicographic "9" > "10" would wrongly drop the hour=9 file
    val pruned = Snapshots.readSnapshot(spark, dir, v, prune = Seq(("hour", "2", "10")))
    assert(pruned.select($"id").collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
    assert(nScanned(pruned) == 3)
    assert(Snapshots.countRows(spark, dir, v, prune = Seq(("hour", "2", "10"))) == 3L)
  }

  test("a writer that queued past staleMs acquires a FRESH lock, not an instantly-stale one") {
    val dir = Files.createTempDirectory("snap_freshlock").toString + "/t"
    table(dir)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val holder = Future(Snapshots.withTableLock(spark, dir, staleMs = 1000L) { Thread.sleep(2500L) })
    Thread.sleep(300L) // the waiter queues for ~2.2s > staleMs before acquiring
    val waiter = Future(Snapshots.withTableLock(spark, dir, staleMs = 1000L) {
      val lock = new java.io.File(s"$dir/${Snapshots.ManifestDirName}/.lock")
      val tag = new String(java.nio.file.Files.readAllBytes(lock.toPath), "UTF-8")
      val hb = tag.split(" ")(2).toLong
      // a tag stamped with the wait-start time would read as already
      // stale here and invite an instant break by the next waiter
      assert(System.currentTimeMillis() - hb < 1000L, s"acquired lock already stale: $tag")
    })
    Await.result(holder, 2.minutes)
    Await.result(waiter, 2.minutes)
  }

  test("countRows: metadata-only COUNT of a pinned snapshot launches zero Spark jobs") {
    val dir = Files.createTempDirectory("snap_count").toString + "/t"
    table(dir)
    val v = Snapshots.commit(spark, dir, Seq("day"))
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val total = Snapshots.countRows(spark, dir, v)
      val windowed = Snapshots.countRows(spark, dir, v, prune = Seq(("day", "2024-01-02", "2024-01-03")))
      Thread.sleep(500) // drain the async listener bus
      assert(total == 4L && windowed == 2L)
      assert(jobs.get() == 0, s"countRows launched ${jobs.get()} Spark jobs — must be metadata-only")
    } finally spark.sparkContext.removeSparkListener(listener)
    // agreement with the real scan, and a v1 manifest fails loudly rather
    // than silently undercounting
    assert(Snapshots.readSnapshot(spark, dir, v).count() == Snapshots.countRows(spark, dir, v))
    val dir1 = Files.createTempDirectory("snap_count_v1").toString + "/t"
    table(dir1)
    Snapshots.commit(spark, dir1)
    intercept[RuntimeException](Snapshots.countRows(spark, dir1))
  }

  test("v2 pinned read keeps its commit-time schema across a column-adding write") {
    val dir = Files.createTempDirectory("snap_schema").toString + "/t"
    Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v").write.parquet(dir)
    val v2 = Snapshots.commit(spark, dir, Seq("id"))
    val before = Snapshots.readSnapshot(spark, dir, v2).schema.fieldNames.toSeq
    // schema evolution: a later writer lands a file with an EXTRA column
    Seq((3L, 30.0, "x")).toDF("id", "v", "tag").write.mode("append").parquet(dir)
    Snapshots.commit(spark, dir)
    // the pinned v2 read still returns its recorded two-column shape
    val after = Snapshots.readSnapshot(spark, dir, v2)
    assert(after.schema.fieldNames.toSeq == before && before == Seq("id", "v"))
    assert(after.count() == 2L)
  }

  test("an append commit reads only the NEW files' footers (incremental stats carry-forward)") {
    val dir = Files.createTempDirectory("snap_incr").toString + "/t"
    table(dir) // 3 day partitions, one file each
    Snapshots.commit(spark, dir, statsCols = Seq("day"))
    assert(Snapshots.lastCommitFooterReads.get() == 3L, "baseline commit reads every footer once")
    // append one file in a NEW partition
    Seq((5L, "2024-01-04", 50.0))
      .toDF("id", "day", "v")
      .write
      .mode("append")
      .partitionBy("day")
      .parquet(dir)
    val v2 = Snapshots.commit(spark, dir, statsCols = Seq("day"))
    assert(
      Snapshots.lastCommitFooterReads.get() == 1L,
      s"append commit must read ONLY the new file's footer, read ${Snapshots.lastCommitFooterReads.get()}")
    // carried-forward stats are exact: metadata count and pruning unchanged
    assert(Snapshots.countRows(spark, dir, v2) == 5L)
    val pruned = Snapshots
      .readSnapshot(spark, dir, v2, prune = Seq(("day", "2024-01-04", "2024-01-04")))
      .select($"id")
      .as[Long]
      .collect()
    assert(pruned.toSeq == Seq(5L))
    // changing the stats-column set recomputes everything (no stale carry)
    Snapshots.commit(spark, dir, statsCols = Seq("day", "v"))
    assert(
      Snapshots.lastCommitFooterReads.get() == 4L,
      "a different stats-col set must recompute all files")
  }

  test("readAddedSince scans only appended files; a rewrite history fails loudly") {
    val dir = Files.createTempDirectory("snap_added").toString + "/t"
    table(dir) // 4 rows over 3 day partitions
    val v1 = Snapshots.commit(spark, dir, statsCols = Seq("day"))
    // append two rows in one new file
    Seq((5L, "2024-01-04", 50.0), (6L, "2024-01-04", 60.0))
      .toDF("id", "day", "v")
      .repartition(1)
      .write
      .mode("append")
      .partitionBy("day")
      .parquet(dir)
    Snapshots.commit(spark, dir)
    val added = Snapshots
      .readAddedSince(spark, dir, v1)
      .select($"id")
      .as[Long]
      .collect()
      .sorted
    assert(added.toSeq == Seq(5L, 6L), "exactly the appended rows, no history rows")
    // a rewrite (deleteWhere) breaks the append-only precondition: loud error
    Sources.deleteWhere(spark, dir, $"id" === 1L)
    val e = intercept[Exception](Snapshots.readAddedSince(spark, dir, v1))
    assert(e.getMessage.contains("not an append-only history"), e.getMessage)
  }

  test("clusterInPlace: range pruning goes from all-files to k-files; rewrite lossless; v1 restorable") {
    val dir = Files.createTempDirectory("snap_cluster").toString + "/t"
    // ingest-ordered worst case: 4 round-robin files, each spanning the
    // whole id range — a range predicate can prune nothing
    spark
      .range(0L, 400L)
      .select($"id", ($"id" % 7).as("v"))
      .repartition(4)
      .write
      .parquet(dir)
    val v1 = Snapshots.commit(spark, dir, Seq("id"))
    val before = Snapshots.readSnapshot(spark, dir, v1, prune = Seq(("id", "100", "120")))
    assert(nScanned(before) == 4, "round-robin layout: every file overlaps the range")
    val (scopes, filesIn) = Sources.clusterInPlace(spark, dir, $"id", 4)
    assert(scopes == 1L && filesIn == 4L)
    val v2 = Snapshots.latestVersion(spark, dir)
    assert(v2 == v1 + 1, "clustering commits exactly one new version")
    // post-cluster: per-file id intervals are narrow — the same range
    // overlaps 1 (maybe 2, straddling a boundary) of the 4 files
    val after = Snapshots.readSnapshot(spark, dir, v2, prune = Seq(("id", "100", "120")))
    assert(nScanned(after) <= 2, s"clustered layout must prune, scanned ${nScanned(after)}")
    // lossless: the clustered table holds exactly the original rows
    val live = Snapshots.readSnapshot(spark, dir, v2).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pinned = Snapshots.readSnapshot(spark, dir, v1).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(live == pinned && live.size == 400)
    // metadata count discipline carried through the rewrite
    assert(Snapshots.countRows(spark, dir, v2) == 400L)
    // archived, not destroyed: v1 still resolves, and restore rolls back
    Snapshots.restore(spark, dir, v1)
    assert(Snapshots.readSnapshot(spark, dir).count() == 400L)
  }

  test("bloom sidecars: point probes open only admitting files; incremental build; inherited; vacuumed") {
    val dir = Files.createTempDirectory("snap_bloom").toString + "/t"
    // 8 round-robin files over the full id range: min/max stats are
    // useless for a point probe — every file's interval covers every id
    spark
      .range(0L, 800L)
      .select($"id", ($"id" % 5).as("v"))
      .repartition(8)
      .write
      .parquet(dir)
    val v1 = Snapshots.commit(spark, dir, Seq("id"), Seq("id"))
    val bloomDir = new java.io.File(s"$dir/${Snapshots.ManifestDirName}/bloom")
    assert(bloomDir.listFiles().count(!_.getName.startsWith(".")) == 8, "one sidecar per file")
    // stats alone admit all 8; the bloom prunes to the file(s) holding 123
    val probe = Snapshots.readSnapshot(spark, dir, v1, prune = Seq(("id", "123", "123")))
    assert(nScanned(probe) <= 2, s"bloom must exclude non-holding files, scanned ${nScanned(probe)}")
    assert(probe.collect().map(r => (r.getLong(0), r.getLong(1))).toSet.contains((123L, 3L)))
    // value identity vs the unpruned read
    assert(
      probe.filter($"id" === 123L).count() == 1L &&
        Snapshots.readSnapshot(spark, dir, v1).filter($"id" === 123L).count() == 1L)
    // a RANGE prune on the same column ignores blooms (sound: stats only)
    assert(nScanned(Snapshots.readSnapshot(spark, dir, v1, prune = Seq(("id", "100", "120")))) == 8)
    // append one file: the next commit builds exactly ONE new sidecar
    spark.range(800L, 900L).select($"id", ($"id" % 5).as("v")).coalesce(1).write.mode("append").parquet(dir)
    Snapshots.commit(spark, dir) // no-arg: inherits stats AND bloom discipline
    assert(Snapshots.manifestView(spark, dir).bloomCols == Seq("id"), "bloom discipline inherited")
    assert(bloomDir.listFiles().count(!_.getName.startsWith(".")) == 9, "only the new file built")
    val probe2 = Snapshots.readSnapshot(spark, dir, prune = Seq(("id", "850", "850")))
    assert(nScanned(probe2) <= 2)
    assert(probe2.filter($"id" === 850L).count() == 1L)
    // a missing sidecar reads as cannot-exclude, never as a wrong prune
    bloomDir.listFiles().filterNot(_.getName.startsWith(".")).take(3).foreach(_.delete())
    val probe3 = Snapshots.readSnapshot(spark, dir, prune = Seq(("id", "123", "123")))
    assert(probe3.filter($"id" === 123L).count() == 1L)
    // vacuum after a rewrite reaps the replaced file's orphaned sidecar
    Sources.deleteWhere(spark, dir, $"id" === 123L)
    Snapshots.vacuum(spark, dir, keepLast = 1)
    val refHex = Snapshots
      .files(spark, dir)
      .map(rel => rel.getBytes("UTF-8").map(b => f"${b & 0xff}%02x").mkString)
      .toSet
    assert(
      bloomDir.listFiles().filterNot(_.getName.startsWith(".")).forall { f =>
        refHex.contains(f.getName.split("\\.")(0))
      },
      "every surviving sidecar names a referenced file")
  }

  test("cloneSnapshot: metadata-preserving deep fork, independent of source vacuum") {
    val base = Files.createTempDirectory("snap_clone").toString
    val src = s"$base/src"
    spark
      .range(0L, 800L)
      .select($"id", ($"id" % 5).as("v"))
      .repartition(8)
      .write
      .parquet(src)
    Snapshots.commit(spark, src, Seq("id"), Seq("id")) // v1 with stats + blooms
    Sources.deleteWhere(spark, src, $"id" === 123L) // v2: 123 gone from live
    val dst = s"$base/dst"
    val copied = Snapshots.cloneSnapshot(spark, src, dst, version = 1L)
    assert(copied == 8L)
    assert(Snapshots.latestVersion(spark, dst) == 1L)
    // the clone is the PRE-delete world, fully readable
    val rows = Snapshots.readSnapshot(spark, dst)
    assert(rows.count() == 800L && rows.filter($"id" === 123L).count() == 1L)
    // metadata carried verbatim: count answers with ZERO Spark jobs
    val jobs = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(Snapshots.countRows(spark, dst) == 800L)
      Thread.sleep(500)
      assert(jobs.get() == 0L, s"metadata count launched ${jobs.get()} jobs on the clone")
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(Snapshots.statsColsOf(spark, dst) == Seq("id"))
    assert(Snapshots.manifestView(spark, dst).bloomCols == Seq("id"))
    // bloom sidecars carried: a point probe on the clone prunes
    val probe = Snapshots.readSnapshot(spark, dst, prune = Seq(("id", "123", "123")))
    assert(nScanned(probe) <= 2, s"scanned ${nScanned(probe)}")
    // fully independent: vacuuming the source reaps its archive, clone unaffected
    Snapshots.vacuum(spark, src, keepLast = 1)
    assert(Snapshots.readSnapshot(spark, dst).count() == 800L)
    // and a clone into a non-empty destination is refused loudly
    val e = intercept[Exception](Snapshots.cloneSnapshot(spark, src, dst))
    assert(e.getMessage.contains("must be empty"), e.getMessage)
  }

  test("cloneSnapshot from a DELTA version re-renders a self-contained full v1 (index included)") {
    val base = Files.createTempDirectory("snap_clone_delta").toString
    val src = s"$base/src"
    Seq((1L, "a", 1.0), (2L, "b", 2.0))
      .toDF("id", "day", "v")
      .repartition(1)
      .write
      .partitionBy("day")
      .parquet(src)
    Snapshots.commit(spark, src, Seq("id")) // v1 checkpoint
    Seq((3L, 3.0)).toDF("id", "v").coalesce(1).write.parquet(s"$src/day=c")
    val v2 = Snapshots.commit(spark, src, Seq("id")) // v2: off-interval DELTA
    val mf2 = scala.io.Source.fromFile(f"$src/_graft_manifests/v$v2%010d.manifest").mkString
    assert(mf2.contains("#delta"), "precondition: v2 must be a delta manifest")
    val dst = s"$base/dst"
    Snapshots.cloneSnapshot(spark, src, dst, version = v2)
    // the clone reconstructs WITHOUT the source's chain: self-contained v1
    val mf1 = scala.io.Source.fromFile(f"$dst/_graft_manifests/v${1L}%010d.manifest").mkString
    assert(!mf1.contains("#delta"), "clone v1 must not chain into the source")
    assert(
      Snapshots.readSnapshot(spark, dst).select($"id").as[Long].collect().toSet ==
        Set(1L, 2L, 3L))
    assert(Snapshots.countRows(spark, dst) == 3L, "per-file stats must carry through the re-render")
    // header fields carried: layout, canonicality, exact count
    val h = Snapshots.headerView(spark, dst).getOrElse(fail("clone has no header"))
    assert(h.nFiles.contains(3L) && h.pathCols.contains(Seq("day")), h.toString)
    // the clone got its own partition index and plans O(selected)
    Snapshots.lastManifestBytesRead.set(0L)
    val pruned = Snapshots
      .readSnapshot(spark, dst, prune = Seq(("day", "b", "b")))
      .filter($"day" === "b")
    assert(pruned.select($"id").as[Long].collect().toSeq == Seq(2L))
    assert(Snapshots.lastManifestBytesRead.get() > 0L, "clone must carry a usable pidx")
    // vacuum reaps the sidecar with its manifest
    Seq((4L, 4.0)).toDF("id", "v").coalesce(1).write.parquet(s"$dst/day=d")
    spark.conf.set("spark.graft.snapshot.checkpointInterval", "1")
    try Snapshots.commit(spark, dst, Seq("id")) // v2 full checkpoint (new anchor)
    finally spark.conf.unset("spark.graft.snapshot.checkpointInterval")
    Snapshots.vacuum(spark, dst, keepLast = 1)
    assert(
      !new java.io.File(f"$dst/_graft_manifests/v${1L}%010d.manifest.pidx").exists(),
      "vacuum must reap the dead manifest's sidecar")
  }

  test("delta-log manifests: append commits write O(delta) bytes; chains reconstruct exactly") {
    val dir = Files.createTempDirectory("snap_deltalog").toString + "/t"
    // 40 one-row files: enough that a full manifest rewrite is clearly
    // bigger than a one-file delta
    val rows = (1L to 40L).map(i => (i, f"2024-01-${i % 4 + 1}%02d", i * 1.0))
    Sources.writeParquet(rows.toDF("id", "day", "v").repartition(40), dir, partitionCols = Seq("day"))
    val v1 = Snapshots.commit(spark, dir, statsCols = Seq("day", "id"))
    assert(v1 == 1L)
    def manifestSize(v: Long): Long =
      new java.io.File(f"$dir/_graft_manifests/v$v%010d.manifest").length()
    val checkpointSize = manifestSize(1L)
    // append ONE file → the commit must write a small delta, not rewrite
    // the full live list (the O(table)-commit scale killer)
    Seq((100L, "2024-01-01", 1.0)).toDF("id", "day", "v")
      .write.mode("append").parquet(s"$dir/day=2024-01-01")
    val v2 = Snapshots.commit(spark, dir)
    assert(manifestSize(v2) < checkpointSize / 5,
      s"append delta (${manifestSize(v2)} B) must be far under the checkpoint ($checkpointSize B)")
    // the reconstructed view equals a from-scratch full read
    assert(Snapshots.readSnapshot(spark, dir, v2).count() == 41L)
    assert(Snapshots.countRows(spark, dir, v2) == 41L, "per-file stats must carry through the chain")
    assert(Snapshots.readSnapshot(spark, dir, v1).count() == 40L, "pinned base still exact")
    // DDL is a header-only delta: a few hundred bytes on any table size
    val v3 = Snapshots.addColumns(
      spark, dir, Seq(org.apache.spark.sql.types.StructField(
        "note", org.apache.spark.sql.types.StringType, nullable = true)))
    assert(manifestSize(v3) < 2048, s"DDL commit wrote ${manifestSize(v3)} B — not header-only")
    assert(Snapshots.schemaOf(spark, dir, v3).get.fieldNames.contains("note"))
    assert(Snapshots.readSnapshot(spark, dir, v3).count() == 41L)
    // a REWRITE commit (delete) through the delta path stays exact
    Sources.deleteWhere(spark, dir, col("id") === 100L)
    val v4 = Snapshots.latestVersion(spark, dir)
    assert(Snapshots.readSnapshot(spark, dir, v4).count() == 40L)
    assert(Snapshots.readSnapshot(spark, dir, v2).count() == 41L, "pre-delete pin still exact")
    // checkpoint policy: force interval 5 → the 5th version is FULL again
    spark.conf.set("spark.graft.snapshot.checkpointInterval", "5")
    try {
      Seq((101L, "2024-01-02", 1.0)).toDF("id", "day", "v")
        .write.mode("append").parquet(s"$dir/day=2024-01-02")
      val v5 = Snapshots.commit(spark, dir)
      assert(v5 == 5L)
      assert(manifestSize(5L) > checkpointSize / 2,
        s"version 5 must be a full checkpoint, wrote ${manifestSize(5L)} B")
      val lines = scala.io.Source.fromFile(f"$dir/_graft_manifests/v${5L}%010d.manifest", "UTF-8")
        .getLines().toSeq
      assert(!lines.exists(_.startsWith("#delta")), "checkpoint must not chain")
      assert(Snapshots.readSnapshot(spark, dir, 5L).count() == 41L)
      // vacuum keeps the chain reconstructable: retain last 2 (v4, v5) —
      // v4 is a delta chaining to v1, so manifests 1-3 must survive as
      // chain anchors while expired DATA is still reclaimed
      Snapshots.vacuum(spark, dir, keepLast = 2)
      assert(Snapshots.readSnapshot(spark, dir, 4L).count() == 40L, "retained delta must reconstruct")
      assert(Snapshots.readSnapshot(spark, dir, 5L).count() == 41L)
    } finally spark.conf.unset("spark.graft.snapshot.checkpointInterval")
  }

  test("concurrent lock-free appenders: all commits land, no lost files, linear history") {
    val dir = Files.createTempDirectory("snap_occ").toString + "/t"
    Seq((0L, 0.0)).toDF("id", "v").coalesce(1).write.parquet(dir)
    Snapshots.commit(spark, dir, statsCols = Seq("id"))
    val n = 6
    // each appender writes its OWN file then commits it — no coordination
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(
        java.util.concurrent.Executors.newFixedThreadPool(n))
    val results = Await.result(
      Future.sequence((1 to n).map { i =>
        Future {
          val sub = s".occ-stage-$i"
          Seq((i.toLong, i * 1.0)).toDF("id", "v").coalesce(1).write.parquet(s"$dir/$sub")
          val fs = new org.apache.hadoop.fs.Path(dir)
            .getFileSystem(spark.sparkContext.hadoopConfiguration)
          val part = fs
            .listStatus(new org.apache.hadoop.fs.Path(s"$dir/$sub"))
            .map(_.getPath)
            .find(_.getName.endsWith(".parquet"))
            .get
          val rel = s"occ-$i-${part.getName}"
          fs.rename(part, new org.apache.hadoop.fs.Path(dir, rel))
          fs.delete(new org.apache.hadoop.fs.Path(s"$dir/$sub"), true)
          Snapshots.commitAppend(spark, dir, Seq(rel)) -> rel
        }
      }),
      5.minutes)
    // every appender landed a DISTINCT version — linear history, no loss
    assert(results.map(_._1).distinct.size == n, results.map(_._1).sorted.toString)
    assert(Snapshots.latestVersion(spark, dir) == 1L + n)
    val finalRels = Snapshots.files(spark, dir).toSet
    results.foreach { case (_, rel) => assert(finalRels.contains(rel), s"$rel lost") }
    assert(Snapshots.readSnapshot(spark, dir).count() == 1L + n)
    assert(Snapshots.countRows(spark, dir) == 1L + n, "per-file stats rebased through every race")
    // the recorded header metadata stays exact through every rebase: each
    // attempt recomputes #nfiles from the version it actually rebased on
    val hdr = Snapshots.headerView(spark, dir).getOrElse(fail("no header"))
    assert(hdr.nFiles.contains(1L + n.toLong), s"raced #nfiles drifted: $hdr")
    // appenders do NOT serialize on the table lock: with the lock held by
    // a (simulated) long maintenance op on this thread, an append from
    // another thread still lands promptly
    Snapshots.withTableLock(spark, dir) {
      val f = Future {
        Seq((99L, 99.0)).toDF("id", "v").coalesce(1).write.parquet(s"$dir/.occ-stage-x")
        val fs = new org.apache.hadoop.fs.Path(dir)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val part = fs
          .listStatus(new org.apache.hadoop.fs.Path(s"$dir/.occ-stage-x"))
          .map(_.getPath)
          .find(_.getName.endsWith(".parquet"))
          .get
        fs.rename(part, new org.apache.hadoop.fs.Path(dir, s"occ-x-${part.getName}"))
        fs.delete(new org.apache.hadoop.fs.Path(s"$dir/.occ-stage-x"), true)
        Snapshots.commitAppend(spark, dir, Seq(s"occ-x-${part.getName}"))
      }
      assert(Await.result(f, 60.seconds) == 2L + n, "append must land while the lock is held")
    }
  }

  private def landLooseFile(dir: String, tag: String, id: Long): String = {
    val fs =
      new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sub = s".stage-$tag"
    Seq((id, id * 1.0)).toDF("id", "v").coalesce(1).write.parquet(s"$dir/$sub")
    val part = fs
      .listStatus(new org.apache.hadoop.fs.Path(s"$dir/$sub"))
      .map(_.getPath)
      .find(_.getName.endsWith(".parquet"))
      .get
    val rel = s"$tag-${part.getName}"
    fs.rename(part, new org.apache.hadoop.fs.Path(dir, rel))
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/$sub"), true)
    rel
  }

  test("commitAppend: a maintenance-adopted archived rel skips; an overwrite-archived one conflicts") {
    val dir = Files.createTempDirectory("snap_archconf").toString + "/t"
    Seq((1L, 1.0)).toDF("id", "v").coalesce(1).write.parquet(dir)
    Snapshots.commit(spark, dir, statsCols = Seq("id")) // v1
    val fs =
      new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // ADOPTED: the file lands, a maintenance commit LISTS it, a compaction
    // rewrites+archives it — its rows are in the table, so a late
    // commitAppend of the same rel is the exactly-once replay case: skip,
    // version unchanged, no duplicate rows
    val adopted = landLooseFile(dir, "adopt", 2L)
    Snapshots.commit(spark, dir) // adopts from the live listing
    Sources.compactInPlace(spark, dir) // rewrites; the adopted file archives
    assert(
      !fs.exists(new org.apache.hadoop.fs.Path(dir, adopted)),
      "precondition: compaction must archive the adopted file")
    val vNow = Snapshots.latestVersion(spark, dir)
    assert(Snapshots.commitAppend(spark, dir, Seq(adopted)) == vNow)
    assert(Snapshots.readSnapshot(spark, dir).filter(col("id") === 2L).count() == 1L)
    // OVERWRITE-ARCHIVED: the file lands but is archived before ANY commit
    // listed it (a concurrent INSERT OVERWRITE's listing window) —
    // skipping would silently drop acknowledged rows; must conflict loudly
    val orphan = landLooseFile(dir, "orphan", 3L)
    Snapshots.archiveFile(
      fs,
      new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.fs.Path(dir, orphan))
    val e = intercept[RuntimeException](Snapshots.commitAppend(spark, dir, Seq(orphan)))
    assert(e.getMessage.contains("never adopted"), e.getMessage)
    assert(Snapshots.readSnapshot(spark, dir).filter(col("id") === 3L).count() == 0L)
  }

  test("version-slot claims: orphan on a decided slot reaped; fresh foreign claim loses; stale breaks") {
    val dir = Files.createTempDirectory("snap_claims").toString + "/t"
    Seq((1L, 1.0)).toDF("id", "v").coalesce(1).write.parquet(dir)
    Snapshots.commit(spark, dir) // v1
    val rootPath = new org.apache.hadoop.fs.Path(dir)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mdir = new org.apache.hadoop.fs.Path(s"$dir/${Snapshots.ManifestDirName}")
    def putClaim(v: Long, tag: String): org.apache.hadoop.fs.Path = {
      val p = new org.apache.hadoop.fs.Path(mdir, f".claim-v$v%010d")
      val out = fs.create(p, true)
      try out.write(tag.getBytes("UTF-8"))
      finally out.close()
      p
    }
    // a winner that crashed between its target rename and claim delete
    // leaves a claim the staleness breaker can never reap (staleness
    // requires target ABSENCE) — probing the decided slot must reap it
    val orphan = putClaim(1L, s"dead-owner ${System.currentTimeMillis()}")
    assert(!Snapshots.tryWriteManifest(fs, rootPath, 1L, Seq("poison")))
    assert(!fs.exists(orphan), "orphan claim on a decided slot must be reaped")
    assert(Snapshots.files(spark, dir, 1L).nonEmpty, "v1 manifest body untouched")
    // a FRESH foreign claim on an undecided slot: lost, body NOT broken
    val fresh = putClaim(2L, s"live-owner ${System.currentTimeMillis()}")
    assert(!Snapshots.tryWriteManifest(fs, rootPath, 2L, Seq("mine")))
    assert(fs.exists(fresh), "a live claim must not be broken")
    assert(Snapshots.latestVersion(spark, dir) == 1L)
    // a STALE claim (>60 s, no manifest) breaks; the next attempt wins
    putClaim(2L, s"dead-owner ${System.currentTimeMillis() - 120000L}")
    assert(!Snapshots.tryWriteManifest(fs, rootPath, 2L, Seq("mine"))) // breaks, loses this attempt
    assert(Snapshots.tryWriteManifest(fs, rootPath, 2L, Seq("rel-after-break")))
    assert(Snapshots.files(spark, dir, 2L) == Seq("rel-after-break"))
  }

  test("vacuum follows recorded delta bases, not version-minus-one adjacency") {
    val dir = Files.createTempDirectory("snap_vacchain").toString + "/t"
    spark.conf.set("spark.graft.snapshot.checkpointInterval", "2")
    try {
      table(dir)
      Snapshots.commit(spark, dir, statsCols = Seq("day")) // v1 full
      Seq((9L, "2024-01-09", 90.0)).toDF("id", "day", "v")
        .write.mode("append").parquet(s"$dir/day=2024-01-09")
      Snapshots.commit(spark, dir) // v2: a CHECKPOINT under interval 2
      // v3: a delta recording a NON-ADJACENT base (v1) — parseView
      // tolerates arbitrary `#delta <base>` headers, so vacuum must walk
      // the recorded chain; the old version-minus-one walk would anchor at
      // the v2 checkpoint and delete v1, breaking v3's reconstruction
      val v1head = scala.io.Source
        .fromFile(f"$dir/${Snapshots.ManifestDirName}/v${1L}%010d.manifest", "UTF-8")
        .getLines()
        .filter(_.startsWith("#"))
        .toSeq
      java.nio.file.Files.write(
        java.nio.file.Paths.get(f"$dir/${Snapshots.ManifestDirName}/v${3L}%010d.manifest"),
        ((v1head :+ "#delta 1").mkString("\n") + "\n").getBytes("UTF-8"))
      assert(
        Snapshots.files(spark, dir, 3L).toSet == Snapshots.files(spark, dir, 1L).toSet,
        "precondition: v3 reconstructs from base v1")
      Snapshots.vacuum(spark, dir, keepLast = 1)
      assert(
        Snapshots.readSnapshot(spark, dir, 3L).count() == 4L,
        "retained v3 must stay reconstructable after vacuum — its recorded base survived")
    } finally spark.conf.unset("spark.graft.snapshot.checkpointInterval")
  }

  test("a multi-thousand-delta chain reconstructs iteratively (no recursion, stats carried)") {
    val dir = Files.createTempDirectory("snap_deepchain").toString + "/t"
    spark.conf.set("spark.graft.snapshot.checkpointInterval", "1000000")
    try {
      Seq((1L, 1.0)).toDF("id", "v").coalesce(1).write.parquet(dir)
      Snapshots.commit(spark, dir, statsCols = Seq("id")) // v1 full
      val head = scala.io.Source
        .fromFile(f"$dir/${Snapshots.ManifestDirName}/v${1L}%010d.manifest", "UTF-8")
        .getLines()
        .filter(l => l.startsWith("#") && !l.startsWith("#delta"))
        .toSeq
      val depth = 3000L
      // per-trigger streaming sinks with a misconfigured interval produce
      // exactly this shape: thousands of header-only deltas, no checkpoint
      (2L to depth).foreach { v =>
        java.nio.file.Files.write(
          java.nio.file.Paths.get(f"$dir/${Snapshots.ManifestDirName}/v$v%010d.manifest"),
          ((head :+ s"#delta ${v - 1L}").mkString("\n") + "\n").getBytes("UTF-8"))
      }
      val view = Snapshots.manifestView(spark, dir, depth)
      assert(view.rels == Snapshots.files(spark, dir, 1L))
      assert(view.delta.contains((depth - 1L, Seq.empty[String], Seq.empty[String])))
      assert(Snapshots.countRows(spark, dir, depth) == 1L, "per-file stats must survive the chain")
      // the fold cached intermediate levels: a second deep lookup is served
      // without re-walking to v1 (timing-free proxy: it simply succeeds)
      assert(Snapshots.manifestView(spark, dir, depth - 1L).rels == view.rels)
    } finally spark.conf.unset("spark.graft.snapshot.checkpointInterval")
  }

  test("latestVersion hint: stale, missing, corrupt and ahead hints all stay exact") {
    val dir = Files.createTempDirectory("snap_hint").toString + "/t"
    table(dir)
    Snapshots.commit(spark, dir, statsCols = Seq("day"))
    Seq((9L, "2024-01-09", 90.0)).toDF("id", "day", "v")
      .write.mode("append").parquet(s"$dir/day=2024-01-09")
    Snapshots.commit(spark, dir) // v2
    assert(Snapshots.latestVersion(spark, dir) == 2L)
    val hint = new java.io.File(s"$dir/_graft_manifests/.latest-hint")
    def crc(): Unit =
      new java.io.File(hint.getParentFile, s".${hint.getName}.crc").delete()
    // STALE-BEHIND hint: the probe walks forward to the true latest
    java.nio.file.Files.write(hint.toPath, "1".getBytes); crc()
    assert(Snapshots.latestVersion(spark, dir) == 2L)
    // MISSING hint: listing fallback
    hint.delete(); crc()
    assert(Snapshots.latestVersion(spark, dir) == 2L)
    // CORRUPT hint: parse failure falls back to the listing
    java.nio.file.Files.write(hint.toPath, "not-a-number".getBytes); crc()
    assert(Snapshots.latestVersion(spark, dir) == 2L)
    // AHEAD hint (points past history): verified-then-rejected, listing
    java.nio.file.Files.write(hint.toPath, "99".getBytes); crc()
    assert(Snapshots.latestVersion(spark, dir) == 2L)
    // the next commit repairs the hint
    Seq((10L, "2024-01-10", 100.0)).toDF("id", "day", "v")
      .write.mode("append").parquet(s"$dir/day=2024-01-10")
    Snapshots.commit(spark, dir) // v3
    assert(Snapshots.latestVersion(spark, dir) == 3L)
    assert(new String(java.nio.file.Files.readAllBytes(hint.toPath)).trim == "3")
  }

  test("escaped-era string intervals (no null-count watermark) read as no-stat for pruning") {
    val dir = Files.createTempDirectory("snap_legacy").toString + "/t"
    val rows = Seq((1L, "a:b"), (2L, "zz")).toDF("id", "tag")
    Sources.writeParquet(rows.repartition(col("tag")), dir, partitionCols = Seq("tag"))
    Snapshots.commit(spark, dir, statsCols = Seq("tag"))
    // forge the pre-upgrade manifest: stat endpoints as the path-ESCAPED
    // dir value, null-count keys (the watermark) dropped — what a legacy
    // v2 commit recorded for `tag=a%3Ab`
    def hex(s: String) = s.getBytes("UTF-8").map(b => f"${b & 0xff}%02x").mkString
    def unhex(h: String) =
      new String(h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray, "UTF-8")
    val mf = new java.io.File(s"$dir/_graft_manifests/v0000000001.manifest")
    val forged = scala.io.Source.fromFile(mf, "UTF-8").getLines().toSeq.map { line =>
      if (line.startsWith("#") || !line.contains("\t")) line
      else {
        val parts = line.split("\t")
        val rel = parts.head
        val rawSeg = rel.split("/").head.split("=", 2)(1) // still-escaped dir value
        val kept = parts.tail.flatMap { e =>
          val Array(c, t, _, _) = e.split(":", 4)
          val name = unhex(c)
          if (name.startsWith("\u0000nulls:")) None // drop the watermark
          else if (name == "tag") Some(s"$c:$t:${hex(rawSeg)}:${hex(rawSeg)}")
          else Some(e)
        }
        (rel +: kept).mkString("\t")
      }
    }
    java.nio.file.Files.write(mf.toPath, forged.mkString("\n").getBytes("UTF-8"))
    // the raw rewrite invalidates the local FS checksum sidecar — drop it
    new java.io.File(mf.getParentFile, s".${mf.getName}.crc").delete()
    // WHERE tag = 'a:b' against the escaped interval [a%3Ab, a%3Ab] would
    // wrongly prune the matching file — the era gate must keep it
    val ids = Snapshots
      .readSnapshot(spark, dir, prune = Seq(("tag", "a:b", "a:b")))
      .select("id").as[Long].collect().toSeq.sorted
    assert(ids == Seq(1L, 2L), s"escaped-era stats must prune nothing, got $ids")
  }

  test("manifest header records nfiles/pathcols/partcanon; appends intersect canonicality O(delta)") {
    val dir = Files.createTempDirectory("snap_hdr").toString + "/t"
    Seq((1L, 0, 1.0), (2L, 1, 2.0))
      .toDF("id", "h", "v")
      .repartition(1)
      .write
      .partitionBy("h")
      .parquet(dir)
    Snapshots.commit(spark, dir, Seq("id"))
    val h1 = Snapshots.headerView(spark, dir).getOrElse(fail("no header"))
    assert(h1.nFiles.contains(2L), h1.toString)
    assert(h1.pathCols.contains(Seq("h")), h1.toString)
    assert(h1.partCanon.contains(Seq("h")), s"int dirs 0/1 are canonical: $h1")
    // a canonical append keeps the recorded set and bumps the count
    Seq((3L, 9.0)).toDF("id", "v").coalesce(1).write.parquet(s"$dir/h=2")
    val rel2 = new java.io.File(s"$dir/h=2")
      .listFiles()
      .filter(f => f.getName.endsWith(".parquet"))
      .map(f => s"h=2/${f.getName}")
      .head
    Snapshots.commitAppend(spark, dir, Seq(rel2))
    val h2 = Snapshots.headerView(spark, dir).getOrElse(fail("no header"))
    assert(h2.nFiles.contains(3L) && h2.partCanon.contains(Seq("h")), h2.toString)
    // a NON-canonical append (zero-padded dir under the int column) drops
    // the column from the recorded set — a cold planner then refuses
    // consumption exactly like the full sweep would
    Seq((4L, 4.0)).toDF("id", "v").coalesce(1).write.parquet(s"$dir/h=03")
    val rel3 = new java.io.File(s"$dir/h=03")
      .listFiles()
      .filter(f => f.getName.endsWith(".parquet"))
      .map(f => s"h=03/${f.getName}")
      .head
    Snapshots.commitAppend(spark, dir, Seq(rel3))
    val h3 = Snapshots.headerView(spark, dir).getOrElse(fail("no header"))
    assert(h3.nFiles.contains(4L), h3.toString)
    assert(h3.partCanon.contains(Seq.empty), s"zero-padded dir must drop 'h': $h3")
    // DDL carries the recorded fields (and the count) forward
    Snapshots.addColumns(
      spark,
      dir,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("note", org.apache.spark.sql.types.StringType))))
    val h4 = Snapshots.headerView(spark, dir).getOrElse(fail("no header"))
    assert(h4.nFiles.contains(4L) && h4.partCanon.contains(Seq.empty), h4.toString)
  }

  test("partition-indexed checkpoint: a pruned read parses <10% of checkpoint bytes, same plan inputs") {
    val dir = Files.createTempDirectory("snap_pidx").toString + "/t"
    // 120 single-file string-day partitions, 2 rows each
    val df = (0 until 240)
      .map(i => (i.toLong, f"day-${i % 120}%03d", i * 1.0))
      .toDF("id", "day", "v")
    Sources.writeParquet(df.repartition(col("day")), dir, partitionCols = Seq("day"))
    val v1 = Snapshots.commit(spark, dir, Seq("id", "v"))
    assert(v1 == 1L)
    val mf = new java.io.File(f"$dir/_graft_manifests/v$v1%010d.manifest")
    val pidx = new java.io.File(mf.getParentFile, mf.getName + ".pidx")
    assert(pidx.exists(), "checkpoint commit must write the partition-index sidecar")
    val ckptBytes = mf.length()
    def prunedIds(day: String): Seq[Long] = {
      Snapshots.lastManifestBytesRead.set(0L)
      Snapshots
        .readSnapshot(spark, dir, prune = Seq(("day", day, day)))
        .filter(col("day") === day)
        .select("id").as[Long].collect().toSeq.sorted
    }
    val expect = (0 until 240).filter(_ % 120 == 5).map(_.toLong).sorted
    assert(prunedIds("day-005") == expect)
    val read = Snapshots.lastManifestBytesRead.get()
    assert(read > 0L, "pruned plan must go through the indexed path")
    assert(read < ckptBytes / 10, s"pruned plan parsed $read of $ckptBytes checkpoint bytes")
    // delta chain on top: the bottom checkpoint stays positioned-read,
    // deltas (small by construction) parse fully
    spark.conf.set("spark.graft.snapshot.checkpointInterval", "1000000")
    try {
      Seq((900L, 9.0)).toDF("id", "v")
        .write.mode("append").parquet(s"$dir/day=day-005")
      val v2 = Snapshots.commit(spark, dir, Seq("id", "v"))
      assert(v2 == 2L)
      assert(prunedIds("day-005") == (expect :+ 900L).sorted)
      val read2 = Snapshots.lastManifestBytesRead.get()
      assert(read2 > 0L && read2 < ckptBytes / 10, s"chained pruned plan parsed $read2 B")
      // everything-pruned: empty frame in the recorded schema, no error
      assert(prunedIds("zzz-999").isEmpty)
      // a DDL delta on top: header fields are PER-VERSION authoritative,
      // so the pruned read must surface the evolved schema while still
      // positioned-reading only the bottom checkpoint's selected groups
      Snapshots.addColumns(
        spark,
        dir,
        org.apache.spark.sql.types.StructType(Seq(org.apache.spark.sql.types
          .StructField("note", org.apache.spark.sql.types.StringType))))
      Snapshots.lastManifestBytesRead.set(0L)
      val evolved = Snapshots
        .readSnapshot(spark, dir, prune = Seq(("day", "day-005", "day-005")))
      assert(evolved.schema.fieldNames.contains("note"), evolved.schema.treeString)
      assert(
        evolved.filter(col("day") === "day-005").select("id").as[Long].collect().sorted.toSeq
          == (expect :+ 900L).sorted)
      val read3 = Snapshots.lastManifestBytesRead.get()
      assert(read3 > 0L && read3 < ckptBytes / 10, s"evolved pruned plan parsed $read3 B")
    } finally spark.conf.unset("spark.graft.snapshot.checkpointInterval")
    // a corrupt sidecar reads as absent: full parse, identical rows
    java.nio.file.Files.write(pidx.toPath, "#graft-pidx 1 999 0\ngarbage".getBytes("UTF-8"))
    new java.io.File(pidx.getParentFile, s".${pidx.getName}.crc").delete()
    assert(prunedIds("day-005") == (expect :+ 900L).sorted)
    assert(
      Snapshots.lastManifestBytesRead.get() == 0L,
      "corrupt sidecar must fall back to the full (uncounted) parse")
  }

  test("ndv_backfill upgrades a stale `na` SUM sidecar recorded under an older summability rule") {
    val dir = java.nio.file.Files.createTempDirectory("snap_na_upgrade").toString + "/t"
    val rows = Seq(
      (1L, new java.math.BigDecimal("10.25")),
      (2L, new java.math.BigDecimal("4.75"))).toDF("id", "price")
      .select($"id", $"price".cast("decimal(10,2)").as("price"))
    Sources.writeParquet(rows.repartition(1), dir)
    Snapshots.commit(spark, dir, Seq("id", "price"))
    // opt into the sum discipline (bloom-less table): sidecars land real.
    // No read yet — the decode cache must stay cold so the overwrite
    // below is actually observed (an in-JVM cache legitimately cannot
    // see external edits; the pre-feature scenario this simulates never
    // had the values cached in the first place)
    assert(Snapshots.backfillNdv(spark, dir) == 0L)
    val rels = Snapshots.files(spark, dir)
    // simulate the pre-DECIMAL era: the sidecar holds the permanent `na`
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sumDir = new org.apache.hadoop.fs.Path(s"$dir/${Snapshots.ManifestDirName}/sum")
    fs.listStatus(sumDir).foreach { st =>
      val out = fs.create(st.getPath, true)
      try out.write("na".getBytes("UTF-8"))
      finally out.close()
    }
    assert(
      !Snapshots.allSumsPresent(spark, dir, "price", rels),
      "the planning gate must see the stale `na` and fall back")
    // the explicit backfill must REWRITE the `na`, not skip the existing
    // sidecar — without the upgrade the pushdown is disabled forever
    assert(Snapshots.backfillNdv(spark, dir) == 0L)
    assert(
      Snapshots.allSumsPresent(spark, dir, "price", rels),
      "the explicit backfill must upgrade a stale `na` for a now-summable column")
  }
  test("sidecar build parity: driver-side fast path emits byte-identical bloom/NDV sidecars") {
    // mixed value domains through CAST-to-string: unicode + empty strings
    // with nulls, longs, doubles, timestamps — the driver fast path must
    // reproduce the distributed aggregate's bytes exactly
    val dir = Files.createTempDirectory("snap_sidecar_parity").toString + "/t"
    val zeros37 = "0" * 37
    spark
      .range(0L, 500L)
      .select(
        $"id",
        when($"id" % 7 === 0, lit(null)).otherwise(
          concat(lit("väl_"), $"id" % 13, lit("é"))).as("s"),
        ($"id" * 1.5 - 250.0).as("d"),
        (to_timestamp(lit("2024-03-01 10:00:00")) + expr("make_interval(0,0,0,0,0,0,id*61)")).as("ts"),
        ($"id" * 37 % 1000).cast("decimal(12,3)").as("dec"),
        // entirely-NULL column: no value ever reaches its sketches — the
        // empty filter and zero registers must match on both paths
        lit(null).cast("string").as("nul"),
        // 9e37 per row: every file's sum passes 38 digits → `na` on both
        // paths (the distributed path used to fail the commit on ANSI
        // decimal overflow)
        expr(s"CAST('9$zeros37' AS DECIMAL(38,0))").as("big"),
        // ±6e37 by parity: a running sum can pass 38 digits while the
        // file's total does not — one exact rule decides, in any row order
        expr(
          s"CAST(CASE WHEN id % 2 = 0 THEN '6' ELSE '-6' END || '$zeros37' AS DECIMAL(38,0)) " +
            "+ CAST(id AS DECIMAL(38,0))").as("mix"))
      .repartition(3)
      .write
      .parquet(dir)
    def sidecarBytes(): Map[String, Seq[Byte]] = {
      Seq("bloom", "ndv", "sum").flatMap { kind =>
        val d = new java.io.File(s"$dir/${Snapshots.ManifestDirName}/$kind")
        d.listFiles().filterNot(_.getName.startsWith(".")).toSeq.map { f =>
          s"$kind/${f.getName}" -> java.nio.file.Files.readAllBytes(f.toPath).toSeq
        }
      }.toMap
    }
    // files are tiny → the commit builds via the driver fast path
    Snapshots.commit(
      spark, dir, Seq("id", "s", "ts", "dec", "big", "mix"), Seq("id", "s", "ts", "nul"))
    val fast = sidecarBytes()
    assert(fast.nonEmpty && fast.keys.exists(_.startsWith("bloom/")))
    assert(fast.keys.exists(_.startsWith("sum/")))
    // wipe and rebuild with the fast path disabled → the distributed build
    Seq("bloom", "ndv", "sum").foreach { kind =>
      new java.io.File(s"$dir/${Snapshots.ManifestDirName}/$kind")
        .listFiles().filterNot(_.getName.startsWith(".")).foreach(_.delete())
    }
    Snapshots.sidecarDriverBuildMaxBytes.withValue(0L)(Snapshots.backfillNdv(spark, dir))
    val slow = sidecarBytes()
    assert(slow.keySet == fast.keySet, s"sidecar sets differ: ${slow.keySet} vs ${fast.keySet}")
    val diff = fast.keys.filter(k => fast(k) != slow(k))
    assert(diff.isEmpty, s"sidecar bytes differ for: ${diff.mkString(", ")}")
    // the overflow rule: `na` iff |exact file sum| >= 10^38
    val rels = Snapshots.files(spark, dir)
    val max38 = BigInt(10).pow(38)
    rels.foreach { rel =>
      assert(Snapshots.fileSumOf(spark, dir, rel, "big").isEmpty, s"big must record na: $rel")
      val exact = spark.read
        .parquet(Snapshots.resolve(spark, dir, rel).toString)
        .select($"mix")
        .as[java.math.BigDecimal]
        .collect()
        .map(v => BigInt(v.toBigInteger))
        .sum
      val want = if (exact.abs >= max38) None else Some(exact)
      assert(Snapshots.fileSumOf(spark, dir, rel, "mix") == want, s"mix sum of $rel")
    }
  }
  test("batched sidecar build: a commit batch costs O(1) jobs, not O(files x columns)") {
    // 4 files x 3 bloom columns + 3 sum columns: the old distributed path
    // launched ~3 jobs per (file, column) (>=36); the one sidecar pass is
    // one job per <=64-file chunk covering bloom, NDV and SUM together,
    // and the driver-side build runs none
    def fixture(): String = {
      val dir = Files.createTempDirectory("snap_sidecar_jobs").toString + "/t"
      spark
        .range(0L, 300L)
        .select($"id", ($"id" % 17).cast("string").as("s"), ($"id" * 3).as("v"))
        .repartition(4)
        .write
        .parquet(dir)
      dir
    }
    def jobsOf(op: => Unit): Int = {
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); ()
        }
      }
      org.apache.spark.SpecBus.drain(spark.sparkContext)
      spark.sparkContext.addSparkListener(listener)
      try {
        op
        org.apache.spark.SpecBus.drain(spark.sparkContext)
      } finally spark.sparkContext.removeSparkListener(listener)
      jobs.get()
    }
    val small = fixture()
    val nDriver = jobsOf(Snapshots.commit(spark, small, Seq("id", "s", "v"), Seq("id", "s", "v")))
    assert(nDriver == 0, s"the driver-side sidecar build ran $nDriver Spark jobs")
    val dir = fixture()
    val n = Snapshots.sidecarDriverBuildMaxBytes.withValue(0L) {
      jobsOf(Snapshots.commit(spark, dir, Seq("id", "s", "v"), Seq("id", "s", "v")))
    }
    assert(n == 1, s"the forced-distributed commit launched $n jobs — one sidecar job expected")
    // and the sidecars it wrote are complete: every (file, column) pair
    val rels = Snapshots.files(spark, dir)
    val fsPath = new java.io.File(s"$dir/${Snapshots.ManifestDirName}")
    def countIn(kind: String): Int =
      new java.io.File(fsPath, kind).listFiles().count(!_.getName.startsWith("."))
    assert(countIn("bloom") == rels.size * 3)
    assert(countIn("ndv") == rels.size * 3)
    assert(countIn("sum") == rels.size * 3)
  }
}
