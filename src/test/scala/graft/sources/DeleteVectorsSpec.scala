package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Merge-on-read deletion vectors: commit shape, read correctness across
  * every path (programmatic, SQL, row-level ops, CDC, streaming),
  * soundness gates on stats consumers, and lifecycle (materialize,
  * vacuum, clone, restore).
  */
class DeleteVectorsSpec extends SparkSpec {

  import spark.implicits._

  /** day-partitioned 4-row table with stats (day) — the SnapshotsSpec
    * fixture: day=2024-01-01 holds ids 1,2 in ONE file, so a delete of
    * id=2 exercises the partial-file path.
    */
  private def table(dir: String): Long = {
    val base = Seq(
      (1L, "2024-01-01", 10.0),
      (2L, "2024-01-01", 11.0),
      (3L, "2024-01-02", 20.0),
      (4L, "2024-01-03", 30.0)).toDF("id", "day", "v")
    Sources.writeParquet(base.repartition(1), dir, partitionCols = Seq("day"))
    Snapshots.commit(spark, dir, Seq("day", "id"))
  }

  private def rowSet(df: org.apache.spark.sql.DataFrame): Set[(Long, String, Double)] =
    df.select($"id", $"day".cast("string"), $"v")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .toSet

  test("applyChanges nullSafeKeys: NULL-keyed rows vector, replace and delete like any other key") {
    val dir = Files.createTempDirectory("dv_nullsafe").toString + "/t"
    val rows = Seq(
      (Some("a"), 10L),
      (Some("b"), 20L),
      (Option.empty[String], 30L),
      (Option.empty[String], 30L)).toDF("k", "v")
    // the NULL key occupies TWO identical rows so the match must vector
    // both; stats on k give the narrowing its per-file null counts
    Sources.writeParquet(rows.repartition(1), dir)
    Snapshots.commit(spark, dir, Seq("k"))
    def state(): Seq[(Option[String], Long)] =
      Snapshots.readSnapshot(spark, dir).collect()
        .map(r => (Option(r.getString(0)), r.getLong(1))).toSeq.sortBy(t => (t._1, t._2))
    // DEFAULT face: SQL equality — a NULL-keyed change row matches
    // nothing (merge semantics), the fresh image just appends
    DeleteVectors.applyChanges(
      spark, dir,
      Seq((Option.empty[String], 31L, "u")).toDF("k", "v", "op"),
      Seq("k"), "op")
    assert(
      state() == Seq((None, 30L), (None, 30L), (None, 31L), (Some("a"), 10L), (Some("b"), 20L)),
      s"SQL-equality matching must not vector NULL keys: ${state()}")
    // NULL-SAFE face: the NULL group's old rows (all three now) die and
    // the replacement lands — one atomic version
    val v0 = Snapshots.latestVersion(spark, dir)
    DeleteVectors.applyChanges(
      spark, dir,
      Seq((Option.empty[String], 42L, "u")).toDF("k", "v", "op"),
      Seq("k"), "op", nullSafeKeys = true)
    assert(Snapshots.latestVersion(spark, dir) == v0 + 1L)
    assert(state() == Seq((None, 42L), (Some("a"), 10L), (Some("b"), 20L)), state().toString)
    // and a NULL-keyed DELETE op removes the group outright
    DeleteVectors.applyChanges(
      spark, dir,
      Seq((Option.empty[String], 0L, "d")).toDF("k", "v", "op"),
      Seq("k"), "op", nullSafeKeys = true)
    assert(state() == Seq((Some("a"), 10L), (Some("b"), 20L)), state().toString)
  }

  test("MoR delete removes rows without touching a data file; pre-delete version pins") {
    val dir = Files.createTempDirectory("dv_basic").toString + "/t"
    val v1 = table(dir)
    val filesBefore = Snapshots.listDataFiles(spark, dir)
    val (files, rows) = DeleteVectors.deleteWhere(spark, dir, $"id" % 2 === 0)
    assert(files == 2L && rows == 2L) // id=2 (day 01) and id=4 (day 03)
    // ZERO data-file churn: same live files, byte-identical
    assert(Snapshots.listDataFiles(spark, dir) == filesBefore)
    assert(Snapshots.latestVersion(spark, dir) == v1 + 1L)
    // live read subtracts; the pinned pre-delete version does not
    assert(rowSet(Snapshots.readSnapshot(spark, dir)) ==
      Set((1L, "2024-01-01", 10.0), (3L, "2024-01-02", 20.0)))
    assert(rowSet(Snapshots.readSnapshot(spark, dir, v1)).size == 4)
    // metadata-only count is logical
    assert(Snapshots.countRows(spark, dir) == 2L)
    assert(Snapshots.countRows(spark, dir, v1) == 4L)
    // sidecars live under the hidden .snap-dv tree, invisible to listers
    val dv = Snapshots.dvByRel(Snapshots.manifestView(spark, dir))
    assert(dv.size == 2 && dv.values.forall(_._1.startsWith(Snapshots.DvDirName + "/")))
    assert(dv.values.map(_._2).toSeq.sorted == Seq(1L, 1L))
  }

  test("overlapping second delete merges positions into one sidecar, counts stay exact") {
    val dir = Files.createTempDirectory("dv_merge").toString + "/t"
    table(dir)
    DeleteVectors.deleteWhere(spark, dir, $"id" === 1L)
    val (f2, r2) = DeleteVectors.deleteWhere(spark, dir, $"id" <= 2L) // id=1 again + id=2
    assert(f2 == 1L && r2 == 1L, s"only id=2 is NEW, got ($f2, $r2)")
    val dv = Snapshots.dvByRel(Snapshots.manifestView(spark, dir))
    assert(dv.size == 1, "one file touched → one pointer")
    assert(dv.values.head._2 == 2L, "sidecar holds the union of both deletes")
    assert(rowSet(Snapshots.readSnapshot(spark, dir)) ==
      Set((3L, "2024-01-02", 20.0), (4L, "2024-01-03", 30.0)))
    assert(Snapshots.countRows(spark, dir) == 2L)
    // a delete matching ONLY already-deleted rows commits nothing
    val before = Snapshots.latestVersion(spark, dir)
    assert(DeleteVectors.deleteWhere(spark, dir, $"id" === 1L) == ((0L, 0L)))
    assert(Snapshots.latestVersion(spark, dir) == before)
  }

  test("a fully-deleted file is pruned from scans but stays listed and restorable") {
    val dir = Files.createTempDirectory("dv_full").toString + "/t"
    val v1 = table(dir)
    DeleteVectors.deleteWhere(spark, dir, $"day" === "2024-01-02") // the whole file of id=3
    val view = Snapshots.manifestView(spark, dir)
    assert(view.rels.size == 3, "the file stays listed (pinned versions need it)")
    assert(rowSet(Snapshots.readSnapshot(spark, dir)).map(_._1) == Set(1L, 2L, 4L))
    // pruned read of just that partition: empty, not an error
    assert(Snapshots.readSnapshot(spark, dir, prune = Seq(("day", "2024-01-02", "2024-01-02"))).count() == 0L)
    assert(Snapshots.countRows(spark, dir) == 3L)
    assert(rowSet(Snapshots.readSnapshot(spark, dir, v1)).size == 4)
  }

  /** (id, day, v) rows of `df`, sorted — duplicates kept. */
  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[(Long, String, Double)] =
    df.select($"id", $"day".cast("string"), $"v")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .toSeq
      .sorted

  /** Every file under `dir`'s sidecar tree. */
  private def sidecarFiles(dir: String): Set[String] = {
    def walk(f: java.io.File): Seq[String] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f.getPath)
    val root = new java.io.File(s"$dir/${Snapshots.DvDirName}")
    if (root.exists()) walk(root).toSet else Set.empty
  }

  /** The purge law of [[Sources.deleteWhere]], [[Sources.updateWhere]] and
    * [[Sources.mergeIntoPartitioned]] over `dir` (rows `start`, with the
    * files of day=2024-01-09 never touched): after every op a RAW parquet
    * read of the live files (no vector applied) equals a plain-Scala model
    * of the rows, no touched file keeps a vector while `keep` (an
    * untouched file's vector) survives as it was, no op writes a sidecar,
    * each op that changes rows commits exactly one version and an op that
    * matches nothing commits nothing.
    */
  private def purgeLaw(dir: String, start: Seq[(Long, String, Double)], keep: Map[String, (String, Long)]): Unit = {
    var model = start
    def step(expectChange: Boolean)(op: => Any)(next: Seq[(Long, String, Double)] => Seq[(Long, String, Double)]): Unit = {
      val v0 = Snapshots.latestVersion(spark, dir)
      val sidecars0 = sidecarFiles(dir)
      op
      model = next(model)
      assert(sidecarFiles(dir) == sidecars0, "a purge writes no sidecar")
      assert(
        Snapshots.latestVersion(spark, dir) == v0 + (if (expectChange) 1L else 0L),
        s"one version per op, none for a no-op (was v$v0, now v${Snapshots.latestVersion(spark, dir)})")
      val untouched = "2024-01-09"
      assert(
        rowsOf(spark.read.parquet(dir).filter($"day".cast("string") =!= untouched)) ==
          model.filter(_._2 != untouched).sorted,
        "a raw read of the live files must hold exactly the model's rows")
      assert(rowsOf(Snapshots.readSnapshot(spark, dir)) == model.sorted)
      assert(
        Snapshots.dvByRel(Snapshots.manifestView(spark, dir)) == keep,
        "touched files keep no vector; the untouched file keeps its own")
    }
    step(expectChange = true)(Sources.deleteWhere(spark, dir, $"id" === 1L))(_.filterNot(_._1 == 1L))
    step(expectChange = true)(
      Sources.updateWhere(spark, dir, $"day" === "2024-01-02" && $"id" >= 5L, Map("v" -> $"v" * 10)))(
      _.map { case (i, d, v) => if (d == "2024-01-02" && i >= 5L) (i, d, v * 10) else (i, d, v) })
    val delta = Seq((3L, "2024-01-01", 33.0), (10L, "2024-01-03", 100.0))
    step(expectChange = true)(
      Sources.mergeIntoPartitioned(spark, dir, delta.toDF("id", "day", "v"), "day", Seq("id")))(m =>
      m.filterNot(r => delta.exists(d => d._1 == r._1 && d._2 == r._2)) ++ delta)
    step(expectChange = false)(Sources.deleteWhere(spark, dir, $"id" === 999L))(identity)
    step(expectChange = false)(
      Sources.updateWhere(spark, dir, $"id" === 999L, Map("v" -> lit(0.0))))(identity)
  }

  private val purgeRows = Seq(
    (1L, "2024-01-01", 10.0),
    (2L, "2024-01-01", 11.0),
    (3L, "2024-01-01", 12.0),
    (4L, "2024-01-02", 20.0),
    (5L, "2024-01-02", 21.0),
    (6L, "2024-01-02", 22.0),
    (7L, "2024-01-09", 90.0),
    (8L, "2024-01-09", 91.0))

  test("purge law: the Sources DML folds the vectors of the files it touches, one version per op") {
    val dir = Files.createTempDirectory("dv_purge").toString + "/t"
    Sources.writeParquet(purgeRows.toDF("id", "day", "v").repartition(1), dir, partitionCols = Seq("day"))
    Snapshots.commit(spark, dir, Seq("day", "id"))
    // vectors on a file every op below touches (day=01) and on one none touches (day=09)
    DeleteVectors.deleteWhere(spark, dir, $"id" === 2L || $"id" === 8L)
    val keep = Snapshots.dvByRel(Snapshots.manifestView(spark, dir)).filter(_._1.startsWith("day=2024-01-09/"))
    assert(keep.size == 1)
    purgeLaw(dir, purgeRows.filterNot(r => r._1 == 2L || r._1 == 8L), keep)
  }

  test("purge law on a v1 table (manifest with no recorded schema)") {
    val dir = Files.createTempDirectory("dv_purge_v1").toString + "/t"
    Sources.writeParquet(purgeRows.toDF("id", "day", "v").repartition(1), dir, partitionCols = Seq("day"))
    Snapshots.commit(spark, dir)
    assert(Snapshots.manifestView(spark, dir).schema.isEmpty, "fixture must be a v1 manifest")
    purgeLaw(dir, purgeRows, Map.empty)
    assert(Snapshots.manifestView(spark, dir).schema.isEmpty, "the purge keeps the table's manifest format")
  }

  test("purge law on a manifest-less dir whose later partition adds a column: no column is lost") {
    val dir = Files.createTempDirectory("dv_purge_evolved").toString + "/t"
    Sources.writeParquet(
      Seq((1L, "2024-01-01", 10.0), (2L, "2024-01-01", 11.0)).toDF("id", "day", "v").repartition(1),
      dir,
      partitionCols = Seq("day"))
    Seq((3L, "2024-01-02", 20.0, "a"), (4L, "2024-01-02", 21.0, "b"), (5L, "2024-01-02", 22.0, "c"))
      .toDF("id", "day", "v", "tag")
      .repartition(1)
      .write
      .mode("append")
      .partitionBy("day")
      .parquet(dir)
    assert(Snapshots.latestVersion(spark, dir) == 0L, "fixture must have no manifest")
    def day02Files(): Seq[String] =
      Snapshots.listDataFiles(spark, dir).filter(_.startsWith("day=2024-01-02/"))
    def raw: Set[(Long, Double, String)] =
      spark.read
        .parquet(s"$dir/day=2024-01-02")
        .select($"id", $"v", $"tag")
        .collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
        .toSet
    assert(Sources.deleteWhere(spark, dir, $"day" === "2024-01-02" && $"id" === 3L) == ((1L, 1L)))
    assert(raw == Set((4L, 21.0, "b"), (5L, 22.0, "c")), "the delete's rewrite must keep `tag`")
    val files = day02Files()
    assert(Sources.updateWhere(spark, dir, $"id" === 4L, Map("v" -> $"v" * 10)) == ((1L, 1L)))
    assert(raw == Set((4L, 210.0, "b"), (5L, 22.0, "c")), "the update's rewrite must keep `tag`")
    assert(day02Files().size == files.size, "an update rewrites in place: the file count stays")
    assert(
      spark.read.parquet(s"$dir/day=2024-01-01").select($"id").collect().map(_.getLong(0)).toSet ==
        Set(1L, 2L),
      "an untouched partition keeps its rows")
  }

  test("compactInPlace FOLDS the rewritten scope's vectors and leaves other scopes pointed") {
    val (_, dir) = catalogTable("dvfold")
    // a second file in day=01 so the dir is a compaction target
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = Files.createTempDirectory("dv_fold_extra").toString + "/out"
    Seq((10L, 100.0)).toDF("id", "v").repartition(1).write.parquet(tmp)
    val part = fs
      .listStatus(new org.apache.hadoop.fs.Path(tmp))
      .map(_.getPath)
      .find(_.getName.endsWith(".parquet"))
      .get
    fs.rename(part, new org.apache.hadoop.fs.Path(dir, "day=2024-01-01/part-extra-fold.parquet"))
    Snapshots.commit(spark, dir) // v2
    DeleteVectors.deleteWhere(spark, dir, $"id" === 2L) // v3: DV in day=01
    DeleteVectors.deleteWhere(spark, dir, $"id" === 3L) // v4: DV in day=02 (fully deleted)
    assert(Snapshots.dvByRel(Snapshots.manifestView(spark, dir)).size == 2)
    val (dirs, before, after) = Sources.compactInPlace(spark, dir) // v5
    assert(dirs == 1L && before == 2L && after == 1L)
    val v5 = Snapshots.latestVersion(spark, dir)
    val dv = Snapshots.dvByRel(Snapshots.manifestView(spark, dir))
    assert(
      dv.keySet.map(_.split("/").head) == Set("day=2024-01-02"),
      s"day=01's vector must fold, day=02's must survive: $dv")
    assert(rowSet(Snapshots.readSnapshot(spark, dir)).map(_._1) == Set(1L, 10L, 4L))
    // physical proof: the compacted day=01 dir no longer holds the deleted row
    val raw01 = spark.read.parquet(s"$dir/day=2024-01-01").select($"id")
      .collect().map(_.getLong(0)).toSet
    assert(raw01 == Set(1L, 10L), s"folded rewrite must drop id=2, got $raw01")
    // CDC: a folding compaction is a PURE rewrite — the version nets nothing
    val net = spark.read
      .option("startingVersion", v5)
      .option("endingVersion", v5)
      .table("dvfold.ev.changes")
      .count()
    assert(net == 0L, s"compaction version must net zero changes, got $net")
  }

  test("partition-scoped compact/cluster: only matching dirs rewrite; predicates are typed") {
    val dir = Files.createTempDirectory("dv_scoped_opt").toString + "/t"
    table(dir)
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // two extra files so BOTH day=01 and day=02 are compaction targets
    Seq(("2024-01-01", 10L), ("2024-01-02", 20L)).foreach { case (day, id) =>
      val tmp = Files.createTempDirectory(s"dv_opt_$id").toString + "/out"
      Seq((id, 100.0)).toDF("id", "v").repartition(1).write.parquet(tmp)
      val part = fs
        .listStatus(new org.apache.hadoop.fs.Path(tmp))
        .map(_.getPath)
        .find(_.getName.endsWith(".parquet"))
        .get
      fs.rename(part, new org.apache.hadoop.fs.Path(dir, s"day=$day/part-extra-$id.parquet"))
    }
    Snapshots.commit(spark, dir)
    val day01Before = Snapshots.files(spark, dir).filter(_.startsWith("day=2024-01-01/")).toSet
    // typed predicate (day inferred as DATE): only day=02 compacts
    val (dirs, before, after) =
      Sources.compactInPlace(spark, dir, Some($"day" === "2024-01-02"))
    assert(dirs == 1L && before == 2L && after == 1L, s"got ($dirs, $before, $after)")
    assert(
      Snapshots.files(spark, dir).filter(_.startsWith("day=2024-01-01/")).toSet == day01Before,
      "the out-of-scope dir must keep its files")
    assert(Snapshots.files(spark, dir).count(_.startsWith("day=2024-01-02/")) == 1)
    // scoped clustering: only day=01 rewrites
    val files03 = Snapshots.files(spark, dir).filter(_.startsWith("day=2024-01-03/")).toSet
    val (scopes, _) =
      Sources.clusterInPlace(spark, dir, $"id", filesPerScope = 1, Some($"day" < "2024-01-02"))
    assert(scopes == 1L)
    assert(Snapshots.files(spark, dir).filter(_.startsWith("day=2024-01-03/")).toSet == files03)
    assert(rowSet(Snapshots.readSnapshot(spark, dir)).map(_._1) == Set(1L, 2L, 3L, 4L, 10L, 20L))
    // unpartitioned scope refuses loudly
    val flat = Files.createTempDirectory("dv_opt_flat").toString + "/t"
    Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v").repartition(2).write.parquet(flat)
    Snapshots.commit(spark, flat)
    intercept[IllegalArgumentException](
      Sources.compactInPlace(spark, flat, Some($"id" === 1L)))
  }

  test("clusterInPlace folds vectors too (every scope rewrites)") {
    val dir = Files.createTempDirectory("dv_cluster").toString + "/t"
    table(dir)
    DeleteVectors.deleteWhere(spark, dir, $"id" === 2L)
    val (scopes, before) = Sources.clusterInPlace(spark, dir, $"id", filesPerScope = 1)
    assert(scopes == 3L && before == 3L)
    assert(Snapshots.dvByRel(Snapshots.manifestView(spark, dir)).isEmpty)
    assert(rowSet(Snapshots.readSnapshot(spark, dir)).map(_._1) == Set(1L, 3L, 4L))
    assert(spark.read.parquet(dir).count() == 3L, "raw read agrees after the fold")
  }

  test("scoped materialize folds only the matching partitions' vectors") {
    val dir = Files.createTempDirectory("dv_scoped_mat").toString + "/t"
    table(dir)
    DeleteVectors.deleteWhere(spark, dir, $"id" === 2L) // day=01
    DeleteVectors.deleteWhere(spark, dir, $"id" === 4L) // day=03
    val (mf, mp) = DeleteVectors.materialize(spark, dir, Some($"day" === "2024-01-03"))
    assert(mf == 1L && mp == 1L, s"got ($mf, $mp)")
    val dv = Snapshots.dvByRel(Snapshots.manifestView(spark, dir))
    assert(dv.keySet.map(_.split("/").head) == Set("day=2024-01-01"), dv.toString)
    assert(rowSet(Snapshots.readSnapshot(spark, dir)).map(_._1) == Set(1L, 3L))
    val (uf, ur) = Sources.updateWhere(spark, dir, $"day" === "2024-01-03", Map("v" -> lit(0.0)))
    assert(uf == 0L && ur == 0L, "day=03's only row was deleted — nothing to update")
    // an unscoped pass finishes the job
    val (mf2, _) = DeleteVectors.materialize(spark, dir)
    assert(mf2 == 1L)
    assert(Snapshots.dvByRel(Snapshots.manifestView(spark, dir)).isEmpty)
    // a scope on a NON-partition column refuses loudly rather than guessing
    DeleteVectors.deleteWhere(spark, dir, $"id" === 1L)
    intercept[Exception](DeleteVectors.materialize(spark, dir, Some($"v" > 0.0)))
  }

  test("materialize archives a fully-deleted file instead of writing an empty rewrite") {
    val dir = Files.createTempDirectory("dv_matfull").toString + "/t"
    table(dir)
    DeleteVectors.deleteWhere(spark, dir, $"day" === "2024-01-02")
    val (mf, _) = DeleteVectors.materialize(spark, dir)
    assert(mf == 1L)
    val view = Snapshots.manifestView(spark, dir)
    assert(view.rels.size == 2, "the empty file left the live set")
    assert(Snapshots.readSnapshot(spark, dir).count() == 3L)
  }

  test("readAddedSince refuses across a DV change (rows were removed)") {
    val dir = Files.createTempDirectory("dv_added").toString + "/t"
    val v1 = table(dir)
    DeleteVectors.deleteWhere(spark, dir, $"id" === 2L)
    val e = intercept[IllegalArgumentException](Snapshots.readAddedSince(spark, dir, v1).count())
    assert(e.getMessage.contains("deletion vectors"))
    // diff (the full reconciliation) reports exactly the deleted row
    val d = Snapshots.diff(spark, dir, v1).collect()
    assert(d.length == 1 && d.head.getAs[String]("change") == "removed" && d.head.getAs[Long]("id") == 2L)
  }

  test("restore to the pre-delete version drops the pointers and revives the rows") {
    val dir = Files.createTempDirectory("dv_restore").toString + "/t"
    val v1 = table(dir)
    DeleteVectors.deleteWhere(spark, dir, $"id" <= 2L)
    assert(Snapshots.countRows(spark, dir) == 2L)
    val v3 = Snapshots.restore(spark, dir, v1)
    assert(Snapshots.dvByRel(Snapshots.manifestView(spark, dir, v3)).isEmpty)
    assert(rowSet(Snapshots.readSnapshot(spark, dir)).size == 4)
    assert(Snapshots.countRows(spark, dir) == 4L)
    // the DV'd middle version still pins
    assert(Snapshots.countRows(spark, dir, v1 + 1L) == 2L)
  }

  test("clone carries DV sidecars and pointers; the fork reads identically and evolves alone") {
    val dir = Files.createTempDirectory("dv_clone").toString + "/t"
    table(dir)
    DeleteVectors.deleteWhere(spark, dir, $"id" === 2L)
    val dst = Files.createTempDirectory("dv_clone_dst").toString + "/t"
    Snapshots.cloneSnapshot(spark, dir, dst)
    assert(rowSet(Snapshots.readSnapshot(spark, dst)) == rowSet(Snapshots.readSnapshot(spark, dir)))
    assert(Snapshots.dvByRel(Snapshots.manifestView(spark, dst)).size == 1)
    assert(Snapshots.countRows(spark, dst) == 3L)
    // fork evolves alone: materializing the clone leaves the source DV'd
    DeleteVectors.materialize(spark, dst)
    assert(Snapshots.dvByRel(Snapshots.manifestView(spark, dst)).isEmpty)
    assert(Snapshots.dvByRel(Snapshots.manifestView(spark, dir)).size == 1)
  }

  test("vacuum reaps superseded sidecars, keeps the ones retained manifests reference") {
    val dir = Files.createTempDirectory("dv_vacuum").toString + "/t"
    table(dir)
    DeleteVectors.deleteWhere(spark, dir, $"id" === 1L) // sidecar A (v2)
    DeleteVectors.deleteWhere(spark, dir, $"id" === 2L) // sidecar B supersedes A (v3)
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dvFiles(): Seq[String] = {
      val p = new org.apache.hadoop.fs.Path(dir, Snapshots.DvDirName)
      if (!fs.exists(p)) Seq.empty
      else {
        def walk(d: org.apache.hadoop.fs.Path): Seq[String] =
          fs.listStatus(d).toSeq.flatMap(st =>
            if (st.isDirectory) walk(st.getPath) else Seq(st.getPath.getName))
        walk(p)
      }
    }
    assert(dvFiles().size == 2)
    // keep both DV versions: nothing reaped (v2's sidecar still referenced)
    Snapshots.vacuum(spark, dir, keepLast = 2)
    assert(dvFiles().size == 2)
    // keep only the latest: sidecar A is an expired version's — reaped
    Snapshots.vacuum(spark, dir, keepLast = 1)
    assert(dvFiles().size == 1)
    assert(rowSet(Snapshots.readSnapshot(spark, dir)).map(_._1) == Set(3L, 4L))
    // after materialize, the last sidecar becomes unreferenced history
    DeleteVectors.materialize(spark, dir)
    Snapshots.vacuum(spark, dir, keepLast = 1)
    assert(dvFiles().isEmpty)
  }

  test("positions are exact across multiple row groups (not first-group-relative)") {
    val dir = Files.createTempDirectory("dv_rowgroups").toString + "/t"
    // tiny row groups force several per file: positions past the first
    // group catch any reader that resets its ordinal per group
    val n = 50000
    spark
      .range(n.toLong)
      .select($"id", ($"id" % 97).cast("double").as("v"))
      .repartition(1)
      .write
      .option("parquet.block.size", (64 * 1024).toString)
      .option("parquet.page.size", (8 * 1024).toString)
      .parquet(dir)
    Snapshots.commit(spark, dir, Seq("id"))
    val (files, rows) = DeleteVectors.deleteWhere(spark, dir, $"id" % 1000 === 7)
    assert(files == 1L && rows == n / 1000L)
    val live = Snapshots.readSnapshot(spark, dir)
    assert(live.count() == n - n / 1000L)
    assert(live.filter($"id" % 1000 === 7).count() == 0L)
    // spot-check survivors around the holes — including deep in the file
    assert(live.filter($"id".isin(6L, 8L, 1006L, 49006L, 49008L)).count() == 5L)
    assert(live.filter($"id" === 49007L).count() == 0L, "a hole past the first row group")
  }

  /** Catalog fixture: `ev` under a fresh catalog name, MoR-ready. */
  private def catalogTable(name: String): (String, String) = {
    val base = Files.createTempDirectory("dv_cat").toString
    val dir = s"$base/ev"
    table(dir)
    spark.conf.set(s"spark.sql.catalog.$name", classOf[graft.sources.snap.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.root", base)
    (base, dir)
  }

  test("v2 batch scan (SPJ/DPP path) applies deletion vectors too") {
    val (_, dir) = catalogTable("dvv2")
    DeleteVectors.deleteWhere(spark, dir, $"id" % 2 === 0)
    val viaCatalog =
      spark.sql("SELECT id, v FROM dvv2.ev ORDER BY id").collect().map(_.getLong(0)).toSeq
    // the programmatic read (the same scan, pinned to the file list) agrees
    val direct = Snapshots
      .readSnapshot(spark, dir)
      .select($"id")
      .orderBy($"id")
      .collect()
      .map(_.getLong(0))
      .toSeq
    assert(viaCatalog == Seq(1L, 3L) && direct == viaCatalog, s"catalog=$viaCatalog direct=$direct")
  }

  test("insert-only stream: a DV commit is a change commit — fails loudly, skippable") {
    val (_, dir) = catalogTable("dvstream")
    import org.apache.spark.sql.streaming.Trigger
    def drain(skip: Boolean): Seq[Long] = {
      val got = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val rd = spark.readStream
      val q = (if (skip) rd.option("skipChangeCommits", "true") else rd)
        .table("dvstream.ev")
        .writeStream
        .option("checkpointLocation", Files.createTempDirectory("dv_ck").toString)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          b.collect().foreach(r => got.add(r.getAs[Long]("id")))
        }
        .start()
      try q.awaitTermination()
      finally q.stop()
      scala.jdk.CollectionConverters.CollectionHasAsScala(got).asScala.toSeq.sorted
    }
    assert(drain(skip = false) == Seq(1L, 2L, 3L, 4L), "pre-delete history streams")
    DeleteVectors.deleteWhere(spark, dir, $"id" === 2L) // v2: a MoR change commit
    // recorded schema is (id, v, day): partition col appended by inference
    spark.sql("INSERT INTO dvstream.ev VALUES (9, 90.0, DATE'2024-01-09')") // v3: append
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](drain(skip = false))
    assert(
      e.getCause != null && e.getCause.getMessage.contains("merge-on-read"),
      s"unexpected failure: ${e.getCause}")
    // skipChangeCommits: the DV commit skips wholesale, appends still flow
    assert(drain(skip = true) == Seq(1L, 2L, 3L, 4L, 9L))
  }

  test("streaming changes feed emits the MoR delete and matches batch") {
    val (_, dir) = catalogTable("dvcdc")
    DeleteVectors.deleteWhere(spark, dir, $"id" <= 2L)
    import org.apache.spark.sql.streaming.Trigger
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Long)]()
    val q = spark.readStream
      .table("dvcdc.ev.changes")
      .writeStream
      .option("checkpointLocation", Files.createTempDirectory("dv_cdc_ck").toString)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        b.collect().foreach(r =>
          got.add((r.getAs[Long]("id"), r.getAs[String]("_change_type"), r.getAs[Long]("_commit_version"))))
      }
      .start()
    try q.awaitTermination()
    finally q.stop()
    val streamed = scala.jdk.CollectionConverters.CollectionHasAsScala(got).asScala.toSeq.sorted
    val batch = spark.read
      .table("dvcdc.ev.changes")
      .collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("_change_type"), r.getAs[Long]("_commit_version")))
      .toSeq
      .sorted
    assert(streamed == batch, s"stream/batch divergence:\n$streamed\nvs\n$batch")
    assert(streamed.filter(_._2 == "delete") == Seq((1L, "delete", 2L), (2L, "delete", 2L)))
  }

  test("re-deleting already-deleted rows of a PARTIALLY deleted file commits nothing") {
    val dir = Files.createTempDirectory("dv_redelete").toString + "/t"
    table(dir)
    DeleteVectors.deleteWhere(spark, dir, $"id" === 1L) // day=01 file keeps id=2
    val v = Snapshots.latestVersion(spark, dir)
    val dvBefore = Snapshots.dvByRel(Snapshots.manifestView(spark, dir))
    // same predicate again: the file is NOT fully deleted (so it stays a
    // candidate and re-matches the raw row), yet the position set is
    // unchanged — no version, no pointer churn, no spurious change commit
    assert(DeleteVectors.deleteWhere(spark, dir, $"id" === 1L) == ((0L, 0L)))
    assert(Snapshots.latestVersion(spark, dir) == v)
    assert(Snapshots.dvByRel(Snapshots.manifestView(spark, dir)) == dvBefore)
    assert(Snapshots.dvChangedRels(spark, dir, v).nonEmpty) // the real delete
  }

  test("hybrid grouped aggregate pushdown folds manifest + scanned sides per group") {
    val (_, dir) = catalogTable("dvhyb")
    // a second, CLEAN file in day=01 so that group mixes both sides
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = Files.createTempDirectory("dv_hyb_extra").toString + "/out"
    Seq((10L, 100.0)).toDF("id", "v").repartition(1).write.parquet(tmp)
    val part = fs
      .listStatus(new org.apache.hadoop.fs.Path(tmp))
      .map(_.getPath)
      .find(_.getName.endsWith(".parquet"))
      .get
    fs.rename(part, new org.apache.hadoop.fs.Path(dir, "day=2024-01-01/part-extra-hyb.parquet"))
    Snapshots.commit(spark, dir)
    DeleteVectors.deleteWhere(spark, dir, $"id" === 2L) // vector in day=01's FIRST file
    val df = spark.sql(
      "SELECT day, count(*) AS n, count(id) AS ni, min(id) AS mn, max(id) AS mx " +
        "FROM dvhyb.ev GROUP BY day ORDER BY day")
    val descs = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan.description()
    }
    assert(
      descs.exists(d => d.contains("GraftSnapAggScan") && d.contains("hybrid: 1/4")),
      s"expected a hybrid pushdown over 1 DV'd of 4 files, got $descs")
    val rows = df.collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq
    assert(
      rows == Seq(
        ("2024-01-01", 2L, 2L, 1L, 10L), // clean extreme 10 folded with scanned survivor 1
        ("2024-01-02", 1L, 1L, 3L, 3L),
        ("2024-01-03", 1L, 1L, 4L, 4L)),
      rows.toString)
    // DATE extremes fold too — and under java8API the scanned side comes
    // back as LocalDate, which the fold must compare chronologically
    val mmd = spark.sql("SELECT min(day) AS mnd, max(day) AS mxd FROM dvhyb.ev").head()
    assert(mmd.getDate(0).toString == "2024-01-01" && mmd.getDate(1).toString == "2024-01-03")
    spark.conf.set("spark.sql.datetime.java8API.enabled", "true")
    try {
      val r8 = spark.sql("SELECT min(day) AS mnd, max(day) AS mxd FROM dvhyb.ev").head()
      assert(
        r8.getAs[java.time.LocalDate](0).toString == "2024-01-01" &&
          r8.getAs[java.time.LocalDate](1).toString == "2024-01-03")
    } finally spark.conf.unset("spark.sql.datetime.java8API.enabled")
    // COUNT(*) alone never scans — manifest-only even with the vector live
    val cnt = spark.sql("SELECT count(*) AS n FROM dvhyb.ev")
    val cntDescs = cnt.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan.description()
    }
    assert(cntDescs.exists(_.contains("manifest-only, zero file opens")), cntDescs.toString)
    assert(cnt.head().getLong(0) == 4L)
  }

  test("grouped COUNT(*) pushdown emits NO row for a fully-deleted group") {
    val (_, dir) = catalogTable("dvgrp")
    DeleteVectors.deleteWhere(spark, dir, $"day" === "2024-01-02") // kills that day's only file
    val df = spark.sql("SELECT day, count(*) AS n FROM dvgrp.ev GROUP BY day ORDER BY day")
    val descs = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan.description()
    }
    assert(descs.exists(_.contains("GraftSnapAggScan")), s"expected pushdown, got $descs")
    val rows = df.collect().map(r => (r.getDate(0).toString, r.getLong(1))).toSeq
    assert(
      rows == Seq(("2024-01-01", 2L), ("2024-01-03", 1L)),
      s"a fully-deleted group must vanish, got $rows")
  }

  test("MoR delete and reads survive URI-special characters in root and partition values") {
    val base = Files.createTempDirectory("dv sp%ace").toString
    val dir = s"$base/t t"
    val rows = Seq(
      (1L, "a b", 1.0), (2L, "a b", 2.0),
      (3L, "c%d", 3.0), (4L, "e+f", 4.0)).toDF("id", "k", "v")
    Sources.writeParquet(rows.repartition(1), dir, partitionCols = Seq("k"))
    Snapshots.commit(spark, dir, Seq("id"))
    val (files, deleted) = DeleteVectors.deleteWhere(spark, dir, $"id".isin(1L, 3L, 4L))
    assert(files == 3L && deleted == 3L, s"got ($files, $deleted)")
    val live = Snapshots.readSnapshot(spark, dir)
    assert(live.select($"id").collect().map(_.getLong(0)).toSeq == Seq(2L))
    assert(Snapshots.countRows(spark, dir) == 1L)
  }

  test("MoR delete stats-prunes its match scan: non-matching files are never opened") {
    val dir = Files.createTempDirectory("dv_prune").toString + "/t"
    table(dir)
    // corrupt the day=2024-01-03 data file IN PLACE (manifest entry kept,
    // checksum sidecar removed): any scan that opens it now fails — so a
    // green day-bounded delete PROVES the pruning skipped the file
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val victim = Snapshots.files(spark, dir).find(_.startsWith("day=2024-01-03/")).get
    val vPath = new org.apache.hadoop.fs.Path(dir, victim)
    val crc = new org.apache.hadoop.fs.Path(vPath.getParent, s".${vPath.getName}.crc")
    if (fs.exists(crc)) fs.delete(crc, false)
    val out = fs.create(vPath, true)
    try out.write("not parquet".getBytes("UTF-8"))
    finally out.close()
    val (files, rows) = DeleteVectors.deleteWhere(spark, dir, $"day" === "2024-01-01")
    assert(files == 1L && rows == 2L)
    // and the un-pruned shape would indeed have failed
    intercept[Throwable](DeleteVectors.deleteWhere(spark, dir, $"v" > 100.0))
  }

  test("cat.t.dvs metadata table reports per-file vector state, manifest-only") {
    val (_, dir) = catalogTable("dvmeta")
    DeleteVectors.deleteWhere(spark, dir, $"id" <= 2L) // both rows of day=01's file
    DeleteVectors.deleteWhere(spark, dir, $"id" === 3L) // one of day=02's
    val rows = spark
      .sql("SELECT rel, n_deleted, n_rows, fully_deleted FROM dvmeta.ev.dvs ORDER BY rel")
      .collect()
      .map(r => (r.getString(0).split("/").head, r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toSeq
    assert(
      rows == Seq(("day=2024-01-01", 2L, 2L, true), ("day=2024-01-02", 1L, 1L, true)),
      rows.toString)
    // a version pin shows the DV state AS OF that version
    assert(spark.sql("SELECT * FROM dvmeta.ev.dvs VERSION AS OF 2").count() == 1L)
    assert(spark.sql("SELECT * FROM dvmeta.ev.dvs VERSION AS OF 1").count() == 0L)
    // after materialize the table is empty again
    DeleteVectors.materialize(spark, dir)
    assert(spark.sql("SELECT * FROM dvmeta.ev.dvs").count() == 0L)
  }

  test("a lock-free append racing the DV commit: both land, neither is lost") {
    val dir = Files.createTempDirectory("dv_race").toString + "/t"
    table(dir)
    // claim the DV commit's version slot out from under it ONCE: the
    // restated commit must rebase onto the appender's version and retry
    // (the appender's file untouched, the pointers landing on top)
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val extraRel = "day=2024-01-09/part-race-append.parquet"
    val extra = Seq((9L, 90.0)).toDF("id", "v")
    val tmp = Files.createTempDirectory("dv_race_extra").toString + "/out"
    extra.repartition(1).write.parquet(tmp)
    val part = fs
      .listStatus(new org.apache.hadoop.fs.Path(tmp))
      .map(_.getPath)
      .find(_.getName.endsWith(".parquet"))
      .get
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir, "day=2024-01-09"))
    fs.rename(part, new org.apache.hadoop.fs.Path(dir, extraRel))
    val appended = new java.util.concurrent.atomic.AtomicLong(-1L)
    val racer = new Thread(() => {
      // wait until the delete's match scan is plausibly underway, then
      // take the next slot lock-free
      Thread.sleep(300)
      appended.set(Snapshots.commitAppend(spark, dir, Seq(extraRel)))
    })
    racer.start()
    val (files, rows) = DeleteVectors.deleteWhere(spark, dir, $"id" === 2L)
    racer.join(30000)
    assert(files == 1L && rows == 1L)
    val latest = Snapshots.manifestView(spark, dir)
    assert(latest.rels.contains(extraRel), "the racer's append must survive the DV commit")
    assert(Snapshots.dvByRel(latest).size == 1, "the DV pointer must survive the append")
    val ids = Snapshots.readSnapshot(spark, dir).select($"id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 3L, 4L, 9L), ids.toString)
  }

  test("bounded MoR: crossing the deleted-fraction threshold rewrites the file in the same commit") {
    val (_, dir) = catalogTable("dvbound")
    spark.conf.set("spark.graft.dv.maxDeletedFraction", "0.4")
    try {
      // day=01's file holds ids 1,2 — deleting one is a 0.5 fraction,
      // strictly above the 0.4 threshold with a survivor: the file must
      // REWRITE (no pointer), atomically with the commit
      val v1 = Snapshots.latestVersion(spark, dir)
      val day01Before = Snapshots.files(spark, dir).filter(_.startsWith("day=2024-01-01/"))
      val (files, rows) = DeleteVectors.deleteWhere(spark, dir, $"id" === 1L)
      assert(files == 1L && rows == 1L)
      assert(Snapshots.latestVersion(spark, dir) == v1 + 1L, "one atomic version")
      val view = Snapshots.manifestView(spark, dir)
      assert(Snapshots.dvByRel(view).isEmpty, "above-threshold file must not keep a pointer")
      val day01After = view.rels.filter(_.startsWith("day=2024-01-01/"))
      assert(day01After.size == 1 && day01After != day01Before, "replacement under a fresh name")
      assert(rowSet(Snapshots.readSnapshot(spark, dir)).map(_._1) == Set(2L, 3L, 4L))
      assert(rowSet(Snapshots.readSnapshot(spark, dir, v1)).size == 4, "pre-delete version pins")
      // CDC nets exactly the deleted row across the rewrite
      val ch = spark.read
        .option("startingVersion", v1 + 1L)
        .table("dvbound.ev.changes")
        .select($"id", $"_change_type")
        .collect()
        .map(r => (r.getLong(0), r.getString(1)))
        .toSeq
      assert(ch == Seq((1L, "delete")), ch.toString)
      // BELOW the threshold (or provably empty) files still take pointers:
      // deleting day=02's only row is a 1.0 fraction but zero survivors
      DeleteVectors.deleteWhere(spark, dir, $"day" === "2024-01-02")
      assert(Snapshots.dvByRel(Snapshots.manifestView(spark, dir)).size == 1)
    } finally spark.conf.unset("spark.graft.dv.maxDeletedFraction")
  }

  test("materialize on a row-count-less manifest archives fully-deleted files, lands no empty rewrite") {
    // schema recorded but NO stats columns: fullyDeleted can't be decided
    // from the manifest, so the staged footer must be the authority
    val base = Files.createTempDirectory("dv_nostats").toString
    val dir = s"$base/t"
    Snapshots.createTable(
      spark,
      dir,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("day", org.apache.spark.sql.types.DateType))),
      partCols = Seq("day"))
    spark.conf.set(s"spark.sql.catalog.dvns", classOf[graft.sources.snap.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.dvns.root", base)
    spark.sql(
      "INSERT INTO dvns.t VALUES (1, 10.0, DATE'2024-01-01'), (2, 11.0, DATE'2024-01-01'), " +
        "(3, 20.0, DATE'2024-01-02')")
    assert(
      Snapshots.manifestView(spark, dir).stats.values
        .forall(st => !st.contains(Snapshots.RowCountKey)),
      "fixture must have no recorded row counts")
    DeleteVectors.deleteWhere(spark, dir, $"day" === "2024-01-01") // kills that file entirely
    DeleteVectors.materialize(spark, dir)
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = Snapshots.files(spark, dir)
    live.foreach { rel =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(dir, rel),
          spark.sparkContext.hadoopConfiguration))
      try assert(r.getRecordCount > 0L, s"$rel committed as an empty file")
      finally r.close()
    }
    assert(spark.sql("SELECT id FROM dvns.t").collect().map(_.getLong(0)).toSeq == Seq(3L))
  }

  test("MoR upsert: matched rows become vectors, source rows append, ONE commit") {
    val dir = Files.createTempDirectory("dv_upsert").toString + "/t"
    val v1 = table(dir)
    val filesBefore = Snapshots.files(spark, dir).toSet
    val src = Seq((2L, "2024-01-01", 110.0), (9L, "2024-01-09", 90.0)).toDF("id", "day", "v")
    val (touched, deleted) = DeleteVectors.upsert(spark, dir, src, Seq("day", "id"))
    assert(touched == 1L && deleted == 1L, s"got ($touched, $deleted)")
    assert(Snapshots.latestVersion(spark, dir) == v1 + 1L, "one atomic version")
    val filesAfter = Snapshots.files(spark, dir).toSet
    assert(filesBefore.subsetOf(filesAfter), "nothing rewritten or archived")
    assert((filesAfter -- filesBefore).nonEmpty, "the epoch's rows landed as new files")
    assert(Snapshots.dvByRel(Snapshots.manifestView(spark, dir)).size == 1)
    assert(rowSet(Snapshots.readSnapshot(spark, dir)) == Set(
      (1L, "2024-01-01", 10.0),
      (2L, "2024-01-01", 110.0),
      (3L, "2024-01-02", 20.0),
      (4L, "2024-01-03", 30.0),
      (9L, "2024-01-09", 90.0)))
    assert(Snapshots.countRows(spark, dir) == 5L, "metadata count stays exact")
    // snapshot isolation: the pre-upsert version still reads the old row
    assert(rowSet(Snapshots.readSnapshot(spark, dir, v1))
      .contains((2L, "2024-01-01", 11.0)))
    // insert-only epoch: no matches, still one commit, no pointer churn
    val (t2, d2) =
      DeleteVectors.upsert(spark, dir, Seq((7L, "2024-01-07", 70.0)).toDF("id", "day", "v"), Seq("day", "id"))
    assert(t2 == 0L && d2 == 0L)
    assert(Snapshots.countRows(spark, dir) == 6L)
  }

  test("MoR upsert epochs: high-water replay skip; two streamed epochs ≡ one batch apply") {
    val a = Files.createTempDirectory("dv_ups_a").toString + "/t"
    val b = Files.createTempDirectory("dv_ups_b").toString + "/t"
    table(a); table(b)
    val e0 = Seq((2L, "2024-01-01", 110.0), (9L, "2024-01-09", 90.0)).toDF("id", "day", "v")
    val e1 = Seq((9L, "2024-01-09", 91.0), (3L, "2024-01-02", 21.0)).toDF("id", "day", "v")
    DeleteVectors.upsert(spark, a, e0, Seq("day", "id"), streamTag = "q", epochId = 0L)
    val vAfter0 = Snapshots.latestVersion(spark, a)
    // replayed epoch: skipped whole — no version, no vectors, no files
    assert(DeleteVectors.upsert(spark, a, e0, Seq("day", "id"), streamTag = "q", epochId = 0L) == ((0L, 0L)))
    assert(Snapshots.latestVersion(spark, a) == vAfter0)
    DeleteVectors.upsert(spark, a, e1, Seq("day", "id"), streamTag = "q", epochId = 1L)
    // the batch twin applies both epochs in order, un-tagged
    DeleteVectors.upsert(spark, b, e0, Seq("day", "id"))
    DeleteVectors.upsert(spark, b, e1, Seq("day", "id"))
    assert(rowSet(Snapshots.readSnapshot(spark, a)) == rowSet(Snapshots.readSnapshot(spark, b)))
    assert(rowSet(Snapshots.readSnapshot(spark, a)).contains((9L, "2024-01-09", 91.0)),
      "epoch 1's update wins over epoch 0's insert")
  }

  test("applyChanges: deletes become vectors only, upserts append, ONE commit") {
    val dir = Files.createTempDirectory("dv_cdc_apply").toString + "/t"
    val v1 = table(dir)
    val filesBefore = Snapshots.files(spark, dir).toSet
    val changes = Seq(
      ("d", 2L, "2024-01-01", 0.0), // delete: only the key matters
      ("u", 3L, "2024-01-02", 21.0), // update: full replacement row
      ("i", 9L, "2024-01-09", 90.0) // insert: no match
    ).toDF("op", "id", "day", "v")
    val (touched, deleted) =
      DeleteVectors.applyChanges(spark, dir, changes, Seq("day", "id"), "op")
    assert(touched == 2L && deleted == 2L, s"got ($touched, $deleted)")
    assert(Snapshots.latestVersion(spark, dir) == v1 + 1L, "one atomic version")
    assert(filesBefore.subsetOf(Snapshots.files(spark, dir).toSet), "nothing rewritten")
    assert(rowSet(Snapshots.readSnapshot(spark, dir)) == Set(
      (1L, "2024-01-01", 10.0),
      (3L, "2024-01-02", 21.0),
      (4L, "2024-01-03", 30.0),
      (9L, "2024-01-09", 90.0)))
    // the deleted key left NO appended copy: day=01 gained no file
    assert(
      (Snapshots.files(spark, dir).toSet -- filesBefore)
        .forall(r => !r.startsWith("day=2024-01-01/")),
      "a delete row must not land an appended image")
    assert(Snapshots.countRows(spark, dir) == 4L)
  }

  test("a crashed epoch's landed-but-uncommitted files are swept before the retry lands") {
    val dir = Files.createTempDirectory("dv_ups_crash").toString + "/t"
    table(dir)
    // simulate a crash between landing and commit: a file with THIS
    // epoch's prefix sits live and uncommitted in a dir the retry lands
    // into — a listing-based commit would adopt it as duplicate rows
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = Files.createTempDirectory("dv_ups_leftover").toString + "/out"
    Seq((999L, 999.0)).toDF("id", "v").repartition(1).write.parquet(tmp)
    val part = fs
      .listStatus(new org.apache.hadoop.fs.Path(tmp))
      .map(_.getPath)
      .find(_.getName.endsWith(".parquet"))
      .get
    val leftover = new org.apache.hadoop.fs.Path(dir, "day=2024-01-01/mor-q-0-part-leftover.parquet")
    fs.rename(part, leftover)
    DeleteVectors.upsert(
      spark,
      dir,
      Seq((2L, "2024-01-01", 110.0)).toDF("id", "day", "v"),
      Seq("day", "id"),
      streamTag = "q",
      epochId = 0L)
    assert(!fs.exists(leftover), "the retry must sweep the crashed attempt's leftover")
    assert(Snapshots.readSnapshot(spark, dir).filter($"id" === 999L).count() == 0L)
    assert(rowSet(Snapshots.readSnapshot(spark, dir)).contains((2L, "2024-01-01", 110.0)))
  }

  test("non-partition-keyed upsert narrows candidates by key min/max, then blooms") {
    val dir = Files.createTempDirectory("dv_ups_narrow").toString + "/t"
    // day=01 holds ids {1,3}, day=02 ids {2,4}: the value RANGES overlap,
    // so only the bloom stage can tell the files apart for a point key
    Seq(
      (1L, "2024-01-01", 10.0),
      (3L, "2024-01-01", 30.0),
      (2L, "2024-01-02", 20.0),
      (4L, "2024-01-02", 40.0)).toDF("id", "day", "v")
      .repartition(1)
      .write
      .partitionBy("day")
      .parquet(dir)
    Snapshots.commit(spark, dir, Seq("day", "id"), Seq("id"))
    // keys = (id) only — NOT covering the partition column: before r13
    // this scanned every live file per epoch
    val (t1, d1) = DeleteVectors.upsert(
      spark, dir, Seq((4L, "2024-01-02", 44.0)).toDF("id", "day", "v"), Seq("id"))
    assert(t1 == 1L && d1 == 1L)
    assert(
      DeleteVectors.lastUpsertCandidateFiles.get() == 1L,
      s"range stage must keep only day=02's file (id∈[2,4]), " +
        s"got ${DeleteVectors.lastUpsertCandidateFiles.get()}")
    // a point key inside BOTH ranges: the bloom stage must still exclude
    // the file that never held the value (id=2 matches [1,3] by range but
    // not by bloom — and it is now DV'd in day=02, which is fine: the
    // match scan reads raw and re-matching dead rows dedups)
    val (t2, _) = DeleteVectors.upsert(
      spark, dir, Seq((2L, "2024-01-02", 22.0)).toDF("id", "day", "v"), Seq("id"))
    assert(t2 == 1L)
    assert(
      DeleteVectors.lastUpsertCandidateFiles.get() == 1L,
      s"bloom stage must drop the range-overlapping file that never held id=2, " +
        s"got ${DeleteVectors.lastUpsertCandidateFiles.get()}")
    assert(rowSet(Snapshots.readSnapshot(spark, dir)) == Set(
      (1L, "2024-01-01", 10.0),
      (3L, "2024-01-01", 30.0),
      (2L, "2024-01-02", 22.0),
      (4L, "2024-01-02", 44.0)))
    // an all-null key batch provably matches nothing and scans nothing
    val nullKeys = Seq(("2024-01-02", 1.0)).toDF("day", "v")
      .withColumn("id", lit(null).cast("long"))
    val (t3, d3) = DeleteVectors.upsert(spark, dir, nullKeys, Seq("id"))
    assert(t3 == 0L && d3 == 0L)
    assert(DeleteVectors.lastUpsertCandidateFiles.get() == 0L)
  }

  test("FLOAT-keyed upsert: range narrowing widens probes through the stats' double domain") {
    val dir = Files.createTempDirectory("dv_ups_float").toString + "/t"
    // 0.1f's manifest stat is the WIDENED double ("0.10000000149011612");
    // a probe rendered by CAST(float AS STRING) reads "0.1" — compared as
    // doubles the file's interval would wrongly miss its own boundary
    // value, the matched row would never vector, and the upsert would
    // land a duplicate key
    Seq(
      (0.1f, "2024-01-01", 10.0),
      (0.7f, "2024-01-02", 20.0)).toDF("f", "day", "v")
      .repartition(1)
      .write
      .partitionBy("day")
      .parquet(dir)
    Snapshots.commit(spark, dir, Seq("day", "f"))
    val (t1, d1) = DeleteVectors.upsert(
      spark, dir, Seq((0.1f, "2024-01-01", 11.0)).toDF("f", "day", "v"), Seq("f"))
    assert(t1 == 1L && d1 == 1L, s"boundary float key must match its file, got ($t1, $d1)")
    assert(
      DeleteVectors.lastUpsertCandidateFiles.get() == 1L,
      "the widened probe must keep exactly the matching file")
    val rows = Snapshots.readSnapshot(spark, dir)
      .select($"f", $"v").collect().map(r => (r.getFloat(0), r.getDouble(1))).toSet
    assert(rows == Set((0.1f, 11.0), (0.7f, 20.0)), s"no duplicate key may survive: $rows")
  }

  test("bloom probes hit the byte-budgeted LRU cache on a repeat narrowing epoch") {
    val dir = Files.createTempDirectory("dv_ups_bloomcache").toString + "/t"
    Seq(
      (1L, "2024-01-01", 10.0),
      (3L, "2024-01-01", 30.0),
      (2L, "2024-01-02", 20.0),
      (4L, "2024-01-02", 40.0)).toDF("id", "day", "v")
      .repartition(1)
      .write
      .partitionBy("day")
      .parquet(dir)
    Snapshots.commit(spark, dir, Seq("day", "id"), Seq("id"))
    // epoch 1 warms the cache (some reads allowed); epoch 2 probes the
    // SAME files' sidecars and must read NOTHING from the filesystem —
    // the per-epoch driver-I/O tax the entry-capped cache used to pay
    DeleteVectors.upsert(
      spark, dir, Seq((2L, "2024-01-02", 22.0)).toDF("id", "day", "v"), Seq("id"))
    ValueIndex.lastBloomReads.set(0L)
    // key id=3: range keeps exactly the two ORIGINAL files (epoch 1's
    // appended file spans [2,2] and is range-excluded), both of whose
    // sidecars epoch 1 already decoded
    DeleteVectors.upsert(
      spark, dir, Seq((3L, "2024-01-01", 33.0)).toDF("id", "day", "v"), Seq("id"))
    assert(
      ValueIndex.lastBloomReads.get() == 0L,
      s"second epoch re-read ${ValueIndex.lastBloomReads.get()} bloom sidecars from the FS")
  }

  test("ad-hoc upsert sweeps a crashed PRIOR attempt's leftovers (constant prefix)") {
    val dir = Files.createTempDirectory("dv_adhoc_crash").toString + "/t"
    table(dir)
    // a prior ad-hoc upsert crashed between landing and commit: its file
    // sits live, uncommitted, under the ad-hoc prefix — with a
    // per-attempt random tag the retry could never recognize it
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = Files.createTempDirectory("dv_adhoc_leftover").toString + "/out"
    Seq((999L, 999.0)).toDF("id", "v").repartition(1).write.parquet(tmp)
    val part = fs
      .listStatus(new org.apache.hadoop.fs.Path(tmp))
      .map(_.getPath)
      .find(_.getName.endsWith(".parquet"))
      .get
    val leftover = new org.apache.hadoop.fs.Path(dir, "day=2024-01-01/mor-adhoc-part-crash.parquet")
    fs.rename(part, leftover)
    DeleteVectors.upsert(
      spark, dir, Seq((2L, "2024-01-01", 110.0)).toDF("id", "day", "v"), Seq("day", "id"))
    assert(!fs.exists(leftover), "the ad-hoc sweep must remove the crashed attempt's leftover")
    assert(Snapshots.readSnapshot(spark, dir).filter($"id" === 999L).count() == 0L)
    assert(rowSet(Snapshots.readSnapshot(spark, dir)).contains((2L, "2024-01-01", 110.0)))
  }

  test("a delete-only CDC epoch on an unpartitioned table lands NO zero-row file") {
    val dir = Files.createTempDirectory("dv_del_only").toString + "/t"
    Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("id", "v")
      .repartition(1)
      .write
      .parquet(dir)
    Snapshots.commit(spark, dir, Seq("id"))
    val filesBefore = Snapshots.files(spark, dir)
    val changes = Seq(("d", 2L, 0.0)).toDF("op", "id", "v")
    val (touched, deleted) =
      DeleteVectors.applyChanges(spark, dir, changes, Seq("id"), "op")
    assert(touched == 1L && deleted == 1L)
    assert(
      Snapshots.files(spark, dir) == filesBefore,
      "a pure-delete epoch must not append an empty parquet file")
    assert(Snapshots.countRows(spark, dir) == 2L)
    assert(rowSet2(Snapshots.readSnapshot(spark, dir)) == Set((1L, 10.0), (3L, 30.0)))
  }

  private def rowSet2(df: org.apache.spark.sql.DataFrame): Set[(Long, Double)] =
    df.select($"id", $"v").collect().map(r => (r.getLong(0), r.getDouble(1))).toSet

  test("branch MoR delete: branch reads subtract, live untouched, fast-forward carries the vectors") {
    val dir = Files.createTempDirectory("dv_branch_del").toString + "/t"
    table(dir) // day=01 holds ids 1,2 in ONE file; day=02 id 3; day=03 id 4
    Snapshots.createBranch(spark, dir, "dev")
    // a branch APPEND first, so the delete can also hit a branch-private file
    Snapshots.appendToBranch(
      spark, dir, "dev", Seq((9L, "2024-01-09", 90.0), (10L, "2024-01-09", 100.0)).toDF("id", "day", "v"))
    // delete id=2 (a FORK file's row) and id=10 (a BRANCH file's row) — on the branch
    val (f1, r1) = DeleteVectors.deleteWhere(spark, dir, $"id" === 2L || $"id" === 10L, branch = "dev")
    assert(f1 == 2L && r1 == 2L, s"got ($f1, $r1)")
    // the LIVE line is byte-for-byte untouched: no version, no pointers
    assert(Snapshots.latestVersion(spark, dir) == 1L)
    assert(Snapshots.dvByRel(Snapshots.manifestView(spark, dir)).isEmpty)
    assert(rowSet(Snapshots.readSnapshot(spark, dir)).map(_._1) == Set(1L, 2L, 3L, 4L))
    // the branch subtracts both
    assert(idsOf2(Snapshots.readBranch(spark, dir, "dev")) == Set(1L, 3L, 4L, 9L))
    // idempotence: re-deleting already-deleted rows commits nothing
    assert(DeleteVectors.deleteWhere(spark, dir, $"id" === 2L, branch = "dev") == ((0L, 0L)))
    // vacuum keeps branch-line DV sidecars alive (they live only in
    // branch manifests)
    Snapshots.vacuum(spark, dir, keepLast = 1)
    assert(idsOf2(Snapshots.readBranch(spark, dir, "dev")) == Set(1L, 3L, 4L, 9L))
    // fast-forward adopts BOTH vector kinds: the fork file's pointer
    // restates on main, the moved branch file keeps its sidecar pointer —
    // adoption writes no sidecar at all
    val sidecarsBefore = sidecarFiles(dir)
    val branchBefore = Snapshots.readBranch(spark, dir, "dev").select($"id", $"day".cast("string"), $"v")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq.sorted
    val v = Snapshots.fastForward(spark, dir, "dev")
    assert(v == 2L)
    assert(sidecarFiles(dir) == sidecarsBefore, "adoption must write no new .snap-dv file")
    val liveAfter = Snapshots.readSnapshot(spark, dir).select($"id", $"day".cast("string"), $"v")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq.sorted
    assert(liveAfter == branchBefore, "the live line reads exactly what the branch read")
    // the moved file's pointer still names the sidecar the branch wrote,
    // which vacuum keeps while a retained manifest references it
    Snapshots.vacuum(spark, dir, keepLast = 1)
    assert(idsOf2(Snapshots.readSnapshot(spark, dir)) == Set(1L, 3L, 4L, 9L))
    assert(Snapshots.countRows(spark, dir) == 4L, "metadata count subtracts the adopted vectors")
    val dv = Snapshots.dvByRel(Snapshots.manifestView(spark, dir))
    assert(dv.size == 2, s"both adopted files carry pointers: $dv")
    assert(dv.keySet.forall(!_.startsWith(Snapshots.BranchDataDirName)), dv.keySet.toString)
  }

  private def idsOf2(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select($"id").as[Long].collect().toSet

  /** Each file of `view` under `dir` with its deletion-vector positions,
    * keyed by its dir (a branch file's private prefix stripped) and its
    * raw rows, so the same write on two lines pairs up.
    */
  private def vectorsOf(dir: String, view: Snapshots.ManifestView): Seq[(String, Seq[Long])] =
    view.rels.map { rel =>
      val home = DataFiles.dirOf(rel).replaceFirst("^\\.branch/[^/]+/?", "")
      val raw = spark.read.parquet(s"$dir/$rel").collect().map(_.toString).mkString(";")
      val positions = Snapshots.dvOf(view.stats.getOrElse(rel, Map.empty)).toSeq.flatMap { case (dv, _) =>
        spark.read.parquet(s"$dir/$dv").select($"pos").as[Long].collect().sorted.toSeq
      }
      s"$home|$raw" -> positions
    }.sortBy(_._1)

  test("law: main ≡ branch — one DML script leaves the same rows and vectors on either line") {
    val base = Files.createTempDirectory("dv_line_law").toString
    val (mainDir, forkDir) = (s"$base/m", s"$base/b")
    table(mainDir)
    // an identical table: the same files under the same rels
    val fs = new org.apache.hadoop.fs.Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    org.apache.hadoop.fs.FileUtil.copy(
      fs, new org.apache.hadoop.fs.Path(mainDir), fs, new org.apache.hadoop.fs.Path(forkDir), false, fs.getConf)
    Snapshots.createBranch(spark, forkDir, "dev")
    def script(dir: String, branch: String): Unit = {
      DeleteVectors.deleteWhere(spark, dir, $"id" === 2L, branch = branch)
      DeleteVectors.upsert(
        spark, dir, Seq((3L, "2024-01-02", 21.0), (5L, "2024-01-05", 50.0)).toDF("id", "day", "v"),
        Seq("day", "id"), branch = branch)
      DeleteVectors.applyChanges(
        spark, dir, Seq((4L, "2024-01-03", 0.0, "d"), (6L, "2024-01-06", 60.0, "u")).toDF("id", "day", "v", "op"),
        Seq("day", "id"), "op", branch = branch)
      // two streaming CDC epochs, then a replay of the first (skipped)
      val sink = graft.streaming.Streaming.applyChangesMorSink(dir, Seq("day", "id"), "op", branch = branch)
      val e0 = Seq((1L, "2024-01-01", 12.0, "u"), (5L, "2024-01-05", 0.0, "d")).toDF("id", "day", "v", "op")
      sink(e0, 0L)
      sink(Seq((7L, "2024-01-07", 70.0, "u"), (3L, "2024-01-02", 22.0, "u")).toDF("id", "day", "v", "op"), 1L)
      sink(e0, 0L)
    }
    script(mainDir, "")
    script(forkDir, "dev")
    val want = Set(
      (1L, "2024-01-01", 12.0), (3L, "2024-01-02", 22.0), (6L, "2024-01-06", 60.0), (7L, "2024-01-07", 70.0))
    assert(rowSet(Snapshots.readSnapshot(spark, mainDir)) == want)
    assert(rowSet(Snapshots.readBranch(spark, forkDir, "dev")) == want)
    val mainVectors = vectorsOf(mainDir, Snapshots.manifestView(spark, mainDir))
    assert(mainVectors.count(_._2.nonEmpty) == 5, mainVectors.toString)
    assert(vectorsOf(forkDir, Snapshots.branchView(spark, forkDir, "dev")) == mainVectors)
    // the fork table's live line never moved; adoption makes it the main run
    assert(Snapshots.latestVersion(spark, forkDir) == 1L)
    Snapshots.fastForward(spark, forkDir, "dev")
    assert(rowSet(Snapshots.readSnapshot(spark, forkDir)) == want)
    assert(vectorsOf(forkDir, Snapshots.manifestView(spark, forkDir)) == mainVectors)
  }

  test("branch MoR upsert: matched rows vector + rows append in ONE branch version; adoption carries both") {
    val dir = Files.createTempDirectory("dv_branch_ups").toString + "/t"
    val v1 = table(dir)
    Snapshots.createBranch(spark, dir, "dev")
    Snapshots.appendToBranch(
      spark, dir, "dev", Seq((9L, "2024-01-09", 90.0)).toDF("id", "day", "v")) // branch v1
    // the upsert updates a FORK row (id=2), a BRANCH-APPENDED row (id=9)
    // and inserts a new one (id=11) — one statement, one branch version
    val src = Seq(
      (2L, "2024-01-01", 110.0),
      (9L, "2024-01-09", 91.0),
      (11L, "2024-01-11", 111.0)).toDF("id", "day", "v")
    val (touched, deleted) = DeleteVectors.upsert(spark, dir, src, Seq("day", "id"), branch = "dev")
    assert(touched == 2L && deleted == 2L, s"got ($touched, $deleted)")
    assert(rowSet(Snapshots.readBranch(spark, dir, "dev")) == Set(
      (1L, "2024-01-01", 10.0),
      (2L, "2024-01-01", 110.0),
      (3L, "2024-01-02", 20.0),
      (4L, "2024-01-03", 30.0),
      (9L, "2024-01-09", 91.0),
      (11L, "2024-01-11", 111.0)))
    // the LIVE line never changed: no version, no vectors, old content
    assert(Snapshots.latestVersion(spark, dir) == v1)
    assert(Snapshots.dvByRel(Snapshots.manifestView(spark, dir)).isEmpty)
    assert(rowSet(Snapshots.readSnapshot(spark, dir)).contains((2L, "2024-01-01", 11.0)))
    // a NO-OP upsert (empty source) returns (0, 0), commits no branch
    // version and changes nothing
    val branchBefore = rowSet(Snapshots.readBranch(spark, dir, "dev"))
    assert(DeleteVectors.upsert(spark, dir, src.limit(0), Seq("day", "id"), branch = "dev") ==
      ((0L, 0L)))
    assert(rowSet(Snapshots.readBranch(spark, dir, "dev")) == branchBefore)
    // adoption carries both sides: the fork pointer restates, the moved
    // branch files keep their vectors, the new rows arrive
    Snapshots.fastForward(spark, dir, "dev")
    assert(rowSet(Snapshots.readSnapshot(spark, dir)) == Set(
      (1L, "2024-01-01", 10.0),
      (2L, "2024-01-01", 110.0),
      (3L, "2024-01-02", 20.0),
      (4L, "2024-01-03", 30.0),
      (9L, "2024-01-09", 91.0),
      (11L, "2024-01-11", 111.0)))
    assert(Snapshots.countRows(spark, dir) == 6L)
    assert(Snapshots.branches(spark, dir).isEmpty, "adoption drops the branch whole")
  }

  test("upsertMorSink: a real stream lands per-epoch MoR upserts, exactly once") {
    val dir = Files.createTempDirectory("dv_ups_stream").toString + "/t"
    table(dir)
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits.newProductEncoder
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[(Long, String, Double)]
    val q = stream
      .toDF()
      .toDF("id", "day", "v")
      .writeStream
      .option("checkpointLocation", Files.createTempDirectory("dv_ups_ck").toString)
      .foreachBatch(graft.streaming.Streaming.upsertMorSink(dir, Seq("day", "id"), tag = "s1"))
      .start()
    try {
      stream.addData((2L, "2024-01-01", 110.0))
      q.processAllAvailable()
      stream.addData((2L, "2024-01-01", 120.0), (9L, "2024-01-09", 90.0))
      q.processAllAvailable()
    } finally q.stop()
    assert(rowSet(Snapshots.readSnapshot(spark, dir)) == Set(
      (1L, "2024-01-01", 10.0),
      (2L, "2024-01-01", 120.0),
      (3L, "2024-01-02", 20.0),
      (4L, "2024-01-03", 30.0),
      (9L, "2024-01-09", 90.0)))
    assert(Snapshots.dvByRel(Snapshots.manifestView(spark, dir)).nonEmpty)
  }

  test("branch-targeted CDC sink: 3 epochs replay onto the fork, crash-replay skips, " +
    "compaction sizes the file set, branch read ≡ batch twin") {
    val dir = Files.createTempDirectory("dv_branch_stream").toString + "/t"
    table(dir)
    Snapshots.commit(spark, dir, Seq("day", "id"))
    Snapshots.createBranch(spark, dir, "replay")
    val liveBefore = rowSet(Snapshots.readSnapshot(spark, dir))
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits.newProductEncoder
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[(String, Long, String, Double)]
    val ckDir = Files.createTempDirectory("dv_branch_ck").toString
    def start() = stream
      .toDF()
      .toDF("op", "id", "day", "v")
      .writeStream
      .option("checkpointLocation", ckDir)
      .foreachBatch(graft.streaming.Streaming.applyChangesMorSink(
        dir, Seq("day", "id"), opCol = "op", tag = "br1", branch = "replay"))
      .start()
    val q = start()
    try {
      stream.addData(("u", 2L, "2024-01-01", 110.0)) // epoch 0: update a FORK row
      q.processAllAvailable()
      stream.addData(("d", 3L, "2024-01-02", 0.0), ("i", 9L, "2024-01-09", 90.0)) // epoch 1
      q.processAllAvailable()
      stream.addData(("u", 9L, "2024-01-09", 91.0)) // epoch 2: update epoch 1's append
      q.processAllAvailable()
    } finally q.stop()
    // crash-replay: a restarted query re-offers processed epochs — the
    // per-(branch, tag) high-water marker skips them whole
    val bvBefore = Snapshots.branchView(spark, dir, "replay").version
    val q2 = start()
    try q2.processAllAvailable()
    finally q2.stop()
    assert(
      Snapshots.branchView(spark, dir, "replay").version == bvBefore,
      "replayed epochs must commit nothing on the branch line")
    val expected = Set(
      (1L, "2024-01-01", 10.0),
      (2L, "2024-01-01", 110.0),
      (4L, "2024-01-03", 30.0),
      (9L, "2024-01-09", 91.0))
    assert(rowSet(Snapshots.readBranch(spark, dir, "replay")) == expected)
    // the live line never moved
    assert(rowSet(Snapshots.readSnapshot(spark, dir)) == liveBefore)
    // compaction: the replay's small files (incl. a DV'd branch append —
    // epoch 2 vectored epoch 1's file) fold to ~one per partition value
    val bv0 = Snapshots.branchView(spark, dir, "replay")
    val privateRels = bv0.rels.filter(_.startsWith(Snapshots.BranchDataDirName))
    assert(privateRels.size >= 2, privateRels.toString)
    val (before, after) = Snapshots.compactBranch(spark, dir, "replay")
    assert(before == privateRels.size.toLong && after < before, s"($before, $after)")
    assert(rowSet(Snapshots.readBranch(spark, dir, "replay")) == expected, "compaction folds, never changes content")
    val bv1 = Snapshots.branchView(spark, dir, "replay")
    assert(
      bv1.rels.filter(_.startsWith(Snapshots.BranchDataDirName))
        .forall(r => !Snapshots.hasDv(bv1.stats.getOrElse(r, Map.empty))),
      "compacted branch files must be clean (vectors folded)")
    // adopt: fast-forward takes the SIZED set, and the result equals the
    // batch twin (the same ops applied in one ad-hoc CDC batch)
    Snapshots.fastForward(spark, dir, "replay")
    assert(rowSet(Snapshots.readSnapshot(spark, dir)) == expected)
  }

  test("restore shrinking a DV surfaces the revived rows as CDC inserts") {
    val (_, dir) = catalogTable("dvrevive")
    DeleteVectors.deleteWhere(spark, dir, $"id" === 2L) // v2
    Snapshots.restore(spark, dir, 1L) // v3: pointer reverts to none
    val v3 = spark.read
      .option("startingVersion", 3)
      .option("endingVersion", 3)
      .table("dvrevive.ev.changes")
      .collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("_change_type")))
      .toSeq
      .sorted
    assert(v3 == Seq((2L, "insert")), s"got $v3")
  }

  test("driver-side DV sidecar write: byte parity with the distributed path, fewer jobs") {
    // The SAME op on the SAME table state, once forced down the
    // distributed shuffle path and once (after a restore) under the
    // default driver fast path: the sidecar FILE BYTES must match per
    // served rel (same merge kernel ⇒ same rows ⇒ same bytes), and the
    // fast path must cost strictly fewer Spark jobs. A prior delete gives
    // both runs an existing sidecar to merge (the old-positions arm). The
    // ops: a programmatic MoR DELETE, and a SQL UPDATE (the delta DML
    // commit sizes its sidecar write from its task messages' exact
    // position total).
    val dir = Files.createTempDirectory("dv_driverwrite").toString + "/t"
    table(dir)
    driverWriteParity(dir)(DeleteVectors.deleteWhere(spark, dir, $"id" % 2 === 0))
    val (_, catDir) = catalogTable("dvdriverupd")
    driverWriteParity(catDir) {
      spark.sql("UPDATE dvdriverupd.ev SET v = v + 1.0 WHERE id % 2 = 0"); ()
    }
  }

  private def driverWriteParity(dir: String)(op: => Unit): Unit = {
    DeleteVectors.deleteWhere(spark, dir, $"id" === 1L)
    val vPre = Snapshots.latestVersion(spark, dir)
    def timedOp(): Int = {
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(s: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); ()
        }
      }
      org.apache.spark.SpecBus.drain(spark.sparkContext)
      spark.sparkContext.addSparkListener(l)
      try {
        op
        org.apache.spark.SpecBus.drain(spark.sparkContext)
      } finally spark.sparkContext.removeSparkListener(l)
      jobs.get()
    }
    def sidecarBytes(): Map[String, Seq[Byte]] =
      Snapshots.dvByRel(Snapshots.manifestView(spark, dir)).map {
        case (rel, (dvRel, _)) =>
          rel -> java.nio.file.Files
            .readAllBytes(java.nio.file.Paths.get(s"$dir/$dvRel"))
            .toSeq
      }
    val jobsSlow = DeleteVectors.dvDriverWriteMaxRows.withValue(0L)(timedOp())
    val slow = sidecarBytes()
    val slowRows = rowSet(Snapshots.readSnapshot(spark, dir))
    // back to the pre-op state, rerun under the default driver path
    Snapshots.restore(spark, dir, vPre)
    val jobsFast = timedOp()
    val fast = sidecarBytes()
    assert(fast.nonEmpty && fast.keySet == slow.keySet, s"${fast.keySet} vs ${slow.keySet}")
    val diff = fast.keys.filter(k => fast(k) != slow(k))
    assert(diff.isEmpty, s"sidecar bytes differ for rels: $diff")
    assert(
      jobsFast < jobsSlow,
      s"driver path must cost fewer jobs than the shuffle path ($jobsFast vs $jobsSlow)")
    assert(rowSet(Snapshots.readSnapshot(spark, dir)) == slowRows)
  }

  test("keyMeta on the driver equals Spark's aggregate for every key type, NULL-bearing tuples and an empty batch") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("i", IntegerType), StructField("l", LongType), StructField("f", FloatType),
      StructField("d", DoubleType), StructField("m", DecimalType(12, 3)), StructField("dt", DateType),
      StructField("ts", TimestampType), StructField("s", StringType)))
    def row(i: Integer, l: java.lang.Long, f: java.lang.Float, d: java.lang.Double, m: String,
        dt: String, ts: String, s: String): Row =
      Row(i, l, f, d, Option(m).map(new java.math.BigDecimal(_)).orNull,
        Option(dt).map(java.sql.Date.valueOf).orNull, Option(ts).map(java.sql.Timestamp.valueOf).orNull, s)
    val rows = Seq(
      row(3, 30L, 1.1f, -2.5, "10.125", "2024-03-01", "2024-03-01 00:10:00.123456", "b"),
      row(-7, Long.MinValue, 0.3f, 1e300, "-0.001", "1999-12-31", "2024-03-02 23:59:59", "a"),
      row(null, 5L, null, 7.25, null, "2024-02-29", null, "zz"),
      row(1, null, 3.4028235e38f, null, "999999999.999", null, "1970-01-01 00:00:00", null),
      row(2, 2L, -1.5f, 0.1, "0.000", "2024-01-01", "2023-12-31 12:00:00", "ä"))
    val keyFields = schema.fields.toSeq
    val keyCols = keyFields.map(_.name)
    Seq(rows, rows.take(2), Seq.empty[Row]).foreach { batch =>
      val local = graft.core.LocalFrames.of(spark, batch, schema)
      val viaSpark = DeleteVectors.keyMetaBySpark(local, keyCols, keyFields)
      var viaDriver: DeleteVectors.KeyMeta = null
      assert(org.apache.spark.SpecBus.jobsOf(spark.sparkContext) {
        viaDriver = DeleteVectors.keyMeta(local, keyCols, keyFields)
      } == 0, "a local batch's key metadata must run no Spark job")
      assert(viaDriver == viaSpark, s"batch of ${batch.size}")
    }
    // one key column per type keeps the null-free ranges per column
    keyFields.foreach { f =>
      val one = graft.core.LocalFrames.of(spark, rows.map(r => Row(r.get(schema.fieldIndex(f.name)))), StructType(Seq(f)))
      assert(
        DeleteVectors.keyMeta(one, Seq(f.name), Seq(f)) ==
          DeleteVectors.keyMetaBySpark(one, Seq(f.name), Seq(f)), f.name)
    }
  }

  /** 1200 rows over three days, then a driver-built late batch rewriting
    * 400 rows of the last day: checks the outcome and returns the call
    * sites of the upsert's Spark jobs.
    */
  private def localUpsertSites(tag: String): Seq[String] = {
    val dir = Files.createTempDirectory(tag).toString + "/t"
    val days = Seq("2024-03-01", "2024-03-02", "2024-03-03")
    Sources.writeParquet(
      spark.range(0L, 1200L).select(
        element_at(typedLit(days), (col("id") % 3L + 1L).cast("int")).cast("date").as("day"),
        col("id").as("seq"), (col("id") * 0.5).as("v")).repartition(col("day")),
      dir, Seq("day"))
    Snapshots.commit(spark, dir, Seq("day", "seq"))
    val batch = (0L until 1200L).filter(_ % 3L == 2L).take(400)
      .map(seq => (java.sql.Date.valueOf(days(2)), seq, seq + 0.25)).toDF("day", "seq", "v")
    var res = (0L, 0L)
    // a job's recorded call site keeps this many stack frames (a system
    // property Spark reads per job): deep enough to reach the sidecar write
    val depth = System.getProperty("spark.callstack.depth")
    System.setProperty("spark.callstack.depth", "400")
    val sites =
      try org.apache.spark.SpecBus.jobSitesOf(spark.sparkContext) {
        res = DeleteVectors.upsert(spark, dir, batch, Seq("day", "seq"))
      } finally
        if (depth == null) System.clearProperty("spark.callstack.depth")
        else System.setProperty("spark.callstack.depth", depth)
    assert(res._2 == 400L)
    val got = Snapshots.readSnapshot(spark, dir)
    assert(got.count() == 1200L && got.where($"v" === $"seq" + 0.25).count() == 400L)
    assert(DeleteVectors.lastUpsertCandidateFiles.get() == 1L, "partition-exact: one day's file")
    sites
  }

  test("a driver-built upsert batch runs no Spark job before its match scan") {
    val sites = localUpsertSites("dv_localjobs")
    // the first job must be the match scan (the sidecar write collects
    // it), the only other one the append
    assert(
      sites.headOption.exists(_.contains("writeSidecars")) && sites.size <= 2,
      s"${sites.size} jobs, the first not the match scan:\n${sites.mkString("\n---\n")}")
  }

  test("a driver-built upsert batch above the key ceiling takes Spark's key path, same outcome") {
    // 400 distinct keys: at a ceiling of 400 the batch stays on the
    // driver, at 399 its keys are aggregated and semi-joined by Spark
    val at = Mv.driverMaxGroups.withValue(400L)(localUpsertSites("dv_localceil_at"))
    assert(
      at.headOption.exists(_.contains("writeSidecars")) && !at.exists(_.contains("keyMetaBySpark")),
      at.mkString("\n---\n"))
    val above = Mv.driverMaxGroups.withValue(399L)(localUpsertSites("dv_localceil_above"))
    assert(
      above.exists(_.contains("keyMetaBySpark")),
      s"no job of the key aggregate:\n${above.mkString("\n---\n")}")
  }
}
