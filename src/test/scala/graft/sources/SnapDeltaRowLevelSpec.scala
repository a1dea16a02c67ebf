package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Merge-on-read SQL DML through Spark's delta-based row-level operations
  * (`SupportsDelta`): UPDATE/MERGE/DELETE write deletion vectors + new
  * files instead of rewriting matched files.
  */
class SnapDeltaRowLevelSpec extends SparkSpec {

  import spark.implicits._

  private def fixture(name: String): (String, String) = {
    val base = Files.createTempDirectory("snapdelta").toString
    val dir = s"$base/ev"
    val rows = Seq(
      (1L, "2024-01-01", 10.0),
      (2L, "2024-01-01", 11.0),
      (3L, "2024-01-02", 20.0),
      (4L, "2024-01-03", 30.0)).toDF("id", "day", "v")
    Sources.writeParquet(rows.repartition(1), dir, partitionCols = Seq("day"))
    Snapshots.commit(spark, dir, Seq("day", "id"))
    spark.conf.set(s"spark.sql.catalog.$name", classOf[graft.sources.snap.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.root", base)
    (base, dir)
  }

  private def liveIdV(dir: String): Set[(Long, Double)] =
    Snapshots
      .readSnapshot(spark, dir)
      .select($"id", $"v")
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
      .toSet

  test("MoR SQL UPDATE: matched rows move to new files via DV + append, originals untouched") {
    val (_, dir) = fixture("mord1")
    val filesBefore = Snapshots.files(spark, dir).toSet
    spark.sql("UPDATE mord1.ev SET v = v * 2 WHERE id IN (2, 3)")
    assert(liveIdV(dir) == Set((1L, 10.0), (2L, 22.0), (3L, 40.0), (4L, 30.0)))
    val after = Snapshots.files(spark, dir).toSet
    // every pre-update file is STILL LISTED (nothing rewritten/archived);
    // the updated rows landed as new files
    assert(filesBefore.subsetOf(after), "an original file left the live set — that's a rewrite")
    assert((after -- filesBefore).nonEmpty, "updated rows must land in new files")
    val dv = Snapshots.dvByRel(Snapshots.manifestView(spark, dir))
    assert(dv.values.map(_._2).sum == 2L, s"two old images deleted, got $dv")
    // time travel: v1 reads the pre-update world
    assert(
      Snapshots.readSnapshot(spark, dir, 1L).select(sum($"v")).head().getDouble(0) == 71.0)
    // metadata count stays exact (4 physical+2 new − 2 deleted = 4 logical)
    assert(Snapshots.countRows(spark, dir) == 4L)
  }

  test("MoR SQL MERGE: update + delete + insert in ONE atomic version") {
    val (_, dir) = fixture("mord2")
    Seq((2L, 99.0, "upd"), (4L, 0.0, "del"), (9L, 90.0, "ins"))
      .toDF("id", "nv", "op")
      .createOrReplaceTempView("mord2_src")
    val vBefore = Snapshots.latestVersion(spark, dir)
    spark.sql("""
      |MERGE INTO mord2.ev t USING mord2_src s ON t.id = s.id
      |WHEN MATCHED AND s.op = 'del' THEN DELETE
      |WHEN MATCHED THEN UPDATE SET v = s.nv
      |WHEN NOT MATCHED THEN INSERT (id, day, v) VALUES (s.id, DATE'2024-01-09', s.nv)
      |""".stripMargin)
    assert(Snapshots.latestVersion(spark, dir) == vBefore + 1L, "one atomic commit")
    assert(liveIdV(dir) == Set((1L, 10.0), (2L, 99.0), (3L, 20.0), (9L, 90.0)))
    // the new partition dir exists (insert routed by the row's own value)
    assert(Snapshots.files(spark, dir).exists(_.startsWith("day=2024-01-09/")))
    assert(Snapshots.countRows(spark, dir) == 4L)
  }

  test("MoR UPDATE moves a row across partitions (SET on the partition column)") {
    val (_, dir) = fixture("mord3")
    spark.sql("UPDATE mord3.ev SET day = DATE'2024-02-01' WHERE id = 4")
    val files = Snapshots.files(spark, dir)
    assert(files.exists(_.startsWith("day=2024-02-01/")), files.mkString(", "))
    val moved = spark.sql("SELECT day FROM mord3.ev WHERE id = 4").head().getDate(0).toString
    assert(moved == "2024-02-01")
    // the old partition's file is fully deleted (its only row moved out)
    // and prunes from a partition-bounded read
    assert(
      Snapshots
        .readSnapshot(spark, dir, prune = Seq(("day", "2024-01-03", "2024-01-03")))
        .count() == 0L)
  }

  test("un-pushable DELETE (subquery) in MoR mode writes vectors, not rewrites") {
    val (_, dir) = fixture("mord4")
    Seq(2L, 3L).toDF("bad").createOrReplaceTempView("mord4_bad")
    val filesBefore = Snapshots.files(spark, dir).toSet
    spark.sql("DELETE FROM mord4.ev WHERE id IN (SELECT bad FROM mord4_bad)")
    assert(Snapshots.files(spark, dir).toSet == filesBefore, "delete must not touch the file list")
    assert(liveIdV(dir).map(_._1) == Set(1L, 4L))
    assert(Snapshots.dvByRel(Snapshots.manifestView(spark, dir)).values.map(_._2).sum == 2L)
  }

  test("_file and _pos are queryable row identity, consistent with deletion vectors") {
    val (_, dir) = fixture("mord5")
    val idPos = spark
      .sql("SELECT id, _pos, _file FROM mord5.ev WHERE day = DATE'2024-01-01' ORDER BY _pos")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(idPos.map(_._2).toSeq == Seq(0L, 1L), s"ordinals 0..n-1 per file: ${idPos.toSeq}")
    assert(idPos.map(_._3).distinct.length == 1, "one file for the partition")
    // after a MoR delete of the pos=0 row, the survivor keeps ITS ordinal
    // (positions are file coordinates, not renumbered)
    val victim = idPos.head._1
    spark.sql(s"DELETE FROM mord5.ev WHERE id = $victim")
    val after = spark
      .sql("SELECT id, _pos FROM mord5.ev WHERE day = DATE'2024-01-01'")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(after.toSeq == Seq((idPos(1)._1, 1L)), s"got ${after.toSeq}")
  }

  test("CDC after a MoR UPDATE shows the standard delete+insert pair") {
    val (_, dir) = fixture("mord6")
    spark.sql("UPDATE mord6.ev SET v = 111.0 WHERE id = 3")
    val v = Snapshots.latestVersion(spark, dir)
    val changes = spark.read
      .option("startingVersion", v)
      .option("endingVersion", v)
      .table("mord6.ev.changes")
      .select($"id", $"v", $"_change_type")
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
      .toSet
    assert(changes == Set((3L, 20.0, "delete"), (3L, 111.0, "insert")), changes.toString)
  }

  test("_pos resolves over a MIXED live/archived pinned read (metadata attaches per scan)") {
    val (_, dir) = fixture("mord8")
    // a copy-on-write update archives day=2024-01-01's file; v1 now reads
    // a mix of archived (that file) and live (the untouched days) — _pos
    // must still resolve (Union propagates no metadata output, so the
    // ordinal has to attach below the union)
    Sources.updateWhere(spark, dir, col("id") === 1L, Map("v" -> lit(0.0)))
    val pinned = spark
      .sql("SELECT id, _pos FROM mord8.ev VERSION AS OF 1 ORDER BY id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSeq
    assert(pinned == Seq((1L, 0L), (2L, 1L), (3L, 0L), (4L, 0L)), pinned.toString)
  }

  test("MoR write-build refuses a partition type with no canonical path rendering") {
    val base = Files.createTempDirectory("morbadpart").toString
    val dir = s"$base/t"
    Sources.writeParquet(
      Seq((1L, 0.5, 10.0), (2L, 1.5, 20.0)).toDF("id", "bucket", "v").repartition(1),
      dir,
      partitionCols = Seq("bucket"))
    Snapshots.commit(spark, dir, Seq("id"))
    spark.conf.set(s"spark.sql.catalog.morbad", classOf[graft.sources.snap.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.morbad.root", base)
    val e = intercept[Exception](
      spark.sql("UPDATE morbad.t SET v = 0.0 WHERE id = 1"))
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(
      messages(e).exists(_.contains("no canonical path rendering")),
      s"expected the loud type refusal, got: ${messages(e).mkString(" | ")}")
  }

  test("the deleted-fraction bound applies to delta DML too: an over-threshold UPDATE rewrites") {
    val (_, dir) = fixture("mord9")
    spark.conf.set("spark.graft.dv.maxDeletedFraction", "0.4")
    try {
      val v1 = Snapshots.latestVersion(spark, dir)
      val day01Before = Snapshots.files(spark, dir).filter(_.startsWith("day=2024-01-01/"))
      // deletes 1 of day=01's 2 rows: fraction 0.5 > 0.4 with a survivor
      spark.sql("UPDATE mord9.ev SET v = 111.0 WHERE id = 1")
      assert(Snapshots.latestVersion(spark, dir) == v1 + 1L, "one atomic version")
      val view = Snapshots.manifestView(spark, dir)
      assert(Snapshots.dvByRel(view).isEmpty, "over-threshold file must rewrite, not point")
      assert(
        !view.rels.exists(day01Before.contains),
        "the original over-threshold file must leave the manifest")
      assert(liveIdV(dir) == Set((1L, 111.0), (2L, 11.0), (3L, 20.0), (4L, 30.0)))
      // CDC still nets the exact update pair across the rewrite
      val ch = spark.read
        .option("startingVersion", v1 + 1L)
        .table("mord9.ev.changes")
        .select($"id", $"v", $"_change_type")
        .collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
        .toSet
      assert(ch == Set((1L, 10.0, "delete"), (1L, 111.0, "insert")), ch.toString)
    } finally spark.conf.unset("spark.graft.dv.maxDeletedFraction")
  }

  test("SQL UPDATE always writes vectors: no conf, the old image becomes a DV position") {
    val (_, dir) = fixture("mord7")
    val filesBefore = Snapshots.files(spark, dir).toSet
    spark.sql("UPDATE mord7.ev SET v = v + 1.0 WHERE id = 1")
    assert(Snapshots.dvByRel(Snapshots.manifestView(spark, dir)).values.map(_._2).sum == 1L)
    assert(filesBefore.subsetOf(Snapshots.files(spark, dir).toSet), "nothing rewritten")
    assert(liveIdV(dir).contains((1L, 11.0)))
  }
}
