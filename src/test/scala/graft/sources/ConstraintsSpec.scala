package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Laws of table-level CHECK constraints ([[Constraints]]): add-time
  * validation of existing data, enforcement at every commit face that
  * lands new rows (listing commit, lock-free append, merge-on-read
  * upsert images, rewrite ops, branch appends), SQL-standard NULL
  * semantics, refusal leaving the table exactly as it was (with the
  * landed strays reapable by orphan GC), drop-to-disable, loud garbled
  * files, and the SQL procedure faces.
  */
class ConstraintsSpec extends SparkSpec {

  import spark.implicits._

  private def table(dir: String): Unit = {
    val base = Seq(
      (1L, "d01", 10.0),
      (2L, "d01", 11.0),
      (3L, "d02", 20.0)).toDF("id", "day", "v")
    Sources.writeParquet(base.repartition(1), dir, partitionCols = Seq("day"))
    Snapshots.commit(spark, dir, Seq("day"))
  }

  private def fsOf(dir: String) =
    new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Land a one-row parquet part file in `dir`'s day=d01 partition WITHOUT
    * committing — the writer's landing step, isolated.
    */
  private def landRow(dir: String, id: Long, v: Double, name: String): String = {
    val stage = Files.createTempDirectory("ck_stage").toString
    Seq((id, v)).toDF("id", "v").coalesce(1).write.mode("overwrite").parquet(stage)
    val fs = fsOf(dir)
    val part = fs.listStatus(new org.apache.hadoop.fs.Path(stage))
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    val rel = s"day=d01/$name.parquet"
    org.apache.hadoop.fs.FileUtil.copy(
      fs, part, fs, new org.apache.hadoop.fs.Path(dir, rel), false,
      spark.sparkContext.hadoopConfiguration)
    rel
  }

  test("addCheck refuses when existing rows violate; records and round-trips otherwise") {
    val dir = Files.createTempDirectory("ck_add").toString + "/t"
    table(dir)
    val e = intercept[IllegalArgumentException] {
      Constraints.addCheck(spark, dir, "v_small", "v < 15")
    }
    assert(e.getMessage.contains("1 existing row(s)") && e.getMessage.contains("v_small"))
    assert(Constraints.checks(spark, dir).isEmpty, "a refused check must not record")
    Constraints.addCheck(spark, dir, "v_pos", "v > 0")
    Constraints.addCheck(spark, dir, "id_pos", "id > 0")
    assert(Constraints.checks(spark, dir) == Map("v_pos" -> "v > 0", "id_pos" -> "id > 0"))
  }

  test("a violating listing-commit refuses, the table is untouched, orphan GC reaps the stray") {
    val dir = Files.createTempDirectory("ck_commit").toString + "/t"
    table(dir)
    Constraints.addCheck(spark, dir, "v_pos", "v > 0")
    val v1 = Snapshots.latestVersion(spark, dir)
    val rel = landRow(dir, 9L, -1.0, "bad-row")
    val e = intercept[RuntimeException] { Snapshots.commit(spark, dir, Seq("day")) }
    assert(e.getMessage.contains("'v_pos' (1 row(s))"))
    assert(Snapshots.latestVersion(spark, dir) == v1, "nothing may commit")
    assert(Snapshots.readSnapshot(spark, dir).count() == 3L)
    // the refused landing is exactly what remove_orphans exists for
    val fs = fsOf(dir)
    val p = new org.apache.hadoop.fs.Path(dir, rel)
    val old = System.currentTimeMillis() - 10000L
    fs.setTimes(p, old, old)
    assert(Snapshots.removeOrphans(spark, dir, graceMs = 1000L) == Seq(rel))
    // a clean batch commits fine afterwards
    landRow(dir, 10L, 5.0, "good-row")
    Snapshots.commit(spark, dir, Seq("day"))
    assert(Snapshots.readSnapshot(spark, dir).count() == 4L)
  }

  test("the lock-free append face and the upsert-image face both enforce") {
    val dir = Files.createTempDirectory("ck_faces").toString + "/t"
    table(dir)
    Constraints.addCheck(spark, dir, "v_pos", "v > 0")
    val rel = landRow(dir, 9L, -2.0, "bad-append")
    val e = intercept[RuntimeException] { Snapshots.commitAppend(spark, dir, Seq(rel)) }
    assert(e.getMessage.contains("v_pos"))
    fsOf(dir).delete(new org.apache.hadoop.fs.Path(dir, rel), false)
    val before = Snapshots.readSnapshot(spark, dir).collect().map(_.toString).sorted.toSeq
    val e2 = intercept[RuntimeException] {
      DeleteVectors.upsert(
        spark, dir, Seq((1L, "d01", -5.0)).toDF("id", "day", "v"), Seq("id"))
    }
    assert(e2.getMessage.contains("v_pos"))
    assert(
      Snapshots.readSnapshot(spark, dir).collect().map(_.toString).sorted.toSeq == before,
      "a refused upsert must leave the table exactly as it was")
    // the same upsert with a VALID image lands
    DeleteVectors.upsert(spark, dir, Seq((1L, "d01", 5.0)).toDF("id", "day", "v"), Seq("id"))
    assert(
      Snapshots.readSnapshot(spark, dir).filter($"id" === 1L).head().getAs[Double]("v") == 5.0)
  }

  test("a rewrite op writing violating values refuses and pinned reads survive") {
    val dir = Files.createTempDirectory("ck_update").toString + "/t"
    table(dir)
    Constraints.addCheck(spark, dir, "v_pos", "v > 0")
    val e = intercept[RuntimeException] {
      Sources.updateWhere(spark, dir, $"id" === 2L, Map("v" -> lit(-1.0)))
    }
    assert(e.getMessage.contains("v_pos"))
    // the live read still resolves every rel (live or archived) and shows
    // the pre-op rows — a refusal is never a corruption
    val rows = Snapshots.readSnapshot(spark, dir)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Double]("v"))).toSet
    assert(rows == Set((1L, 10.0), (2L, 11.0), (3L, 20.0)))
  }

  test("branch appends enforce too — a fork cannot smuggle bad rows past fast-forward") {
    val dir = Files.createTempDirectory("ck_branch").toString + "/t"
    table(dir)
    Constraints.addCheck(spark, dir, "v_pos", "v > 0")
    Snapshots.createBranch(spark, dir, "dev")
    val e = intercept[RuntimeException] {
      Snapshots.appendToBranch(spark, dir, "dev", Seq((7L, "d02", -3.0)).toDF("id", "day", "v"))
    }
    assert(e.getMessage.contains("v_pos"))
    Snapshots.appendToBranch(spark, dir, "dev", Seq((7L, "d02", 3.0)).toDF("id", "day", "v"))
    assert(Snapshots.readBranch(spark, dir, "dev").count() == 4L)
  }

  test("a refused addCheck still bumps the fingerprint twice (publish-then-rollback ordering)") {
    val dir = Files.createTempDirectory("ck_fp").toString + "/t"
    table(dir)
    Constraints.addCheck(spark, dir, "id_pos", "id > 0") // make the stamp exist
    val fp0 = Constraints.fingerprint(spark, dir)
    assert(fp0.nonEmpty)
    intercept[IllegalArgumentException] { Constraints.addCheck(spark, dir, "v_small", "v < 15") }
    // publish-first: the pending check bumped the stamp BEFORE its
    // validation scan, and the rollback bumped it again — a lock-free
    // append whose claim fell anywhere inside the add is forced to
    // re-validate either way
    assert(Constraints.fingerprint(spark, dir) != fp0, "the stamp must not read pre-add")
    assert(Constraints.checks(spark, dir) == Map("id_pos" -> "id > 0"))
    // and the surviving set still enforces
    landRow(dir, -9L, 1.0, "bad-id")
    val e = intercept[RuntimeException] { Snapshots.commit(spark, dir, Seq("day")) }
    assert(e.getMessage.contains("id_pos"))
  }

  test("fast-forward re-proves the branch against checks added AFTER the branch landed") {
    val dir = Files.createTempDirectory("ck_ff").toString + "/t"
    table(dir)
    Snapshots.createBranch(spark, dir, "dev")
    // the branch lands a row that is legal NOW (no checks yet)
    Snapshots.appendToBranch(spark, dir, "dev", Seq((7L, "d02", -3.0)).toDF("id", "day", "v"))
    // ... then main records a check its OWN rows satisfy (so add_check
    // passes) but the branch's landed row violates
    Constraints.addCheck(spark, dir, "v_pos", "v > 0")
    val e = intercept[RuntimeException] { Snapshots.fastForward(spark, dir, "dev") }
    assert(e.getMessage.contains("v_pos"), s"adoption must name the check: ${e.getMessage}")
    // refusal is clean on both lines: main unchanged, branch still readable
    assert(Snapshots.readSnapshot(spark, dir).count() == 3L)
    assert(Snapshots.readBranch(spark, dir, "dev").count() == 4L)
    // a branch MoR delete of the violating row clears the gate — the
    // enforcement scan applies the branch's deletion vectors
    DeleteVectors.deleteWhere(spark, dir, $"v" < 0, branch = "dev")
    Snapshots.fastForward(spark, dir, "dev")
    assert(Snapshots.readSnapshot(spark, dir).count() == 3L)
  }

  test("rebase refuses a branch whose landed rows violate a check added since") {
    val dir = Files.createTempDirectory("ck_rebase").toString + "/t"
    table(dir)
    Snapshots.createBranch(spark, dir, "dev")
    Snapshots.appendToBranch(spark, dir, "dev", Seq((7L, "d02", -3.0)).toDF("id", "day", "v"))
    // main diverges with clean data, then records the check
    Snapshots.commitAppend(spark, dir, Seq(landRow(dir, 8L, 4.0, "main-advance")))
    Constraints.addCheck(spark, dir, "v_pos", "v > 0")
    val e = intercept[RuntimeException] { Snapshots.rebase(spark, dir, "dev") }
    assert(e.getMessage.contains("v_pos"), s"rebase must name the check: ${e.getMessage}")
    // the pre-rebase chain is intact: fix the branch, then rebase + adopt
    DeleteVectors.deleteWhere(spark, dir, $"v" < 0, branch = "dev")
    Snapshots.rebase(spark, dir, "dev")
    Snapshots.fastForward(spark, dir, "dev")
    assert(Snapshots.readSnapshot(spark, dir).count() == 4L)
  }

  test("SQL-standard NULL semantics: only FALSE violates") {
    val dir = Files.createTempDirectory("ck_null").toString + "/t"
    val rows = Seq((1L, Some(1.0)), (2L, Option.empty[Double])).toDF("id", "v")
    Sources.writeParquet(rows.repartition(1), dir)
    Snapshots.commit(spark, dir, Seq("id"))
    Constraints.addCheck(spark, dir, "v_pos", "v > 0") // NULL row passes
    val rel = {
      val stage = Files.createTempDirectory("ck_null_stage").toString
      Seq((3L, Option.empty[Double])).toDF("id", "v")
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val fs = fsOf(dir)
      val part = fs.listStatus(new org.apache.hadoop.fs.Path(stage))
        .map(_.getPath).find(_.getName.endsWith(".parquet")).get
      org.apache.hadoop.fs.FileUtil.copy(
        fs, part, fs, new org.apache.hadoop.fs.Path(dir, "null-row.parquet"), false,
        spark.sparkContext.hadoopConfiguration)
      "null-row.parquet"
    }
    Snapshots.commitAppend(spark, dir, Seq(rel)) // must not refuse
    assert(Snapshots.readSnapshot(spark, dir).count() == 3L)
  }

  test("dropCheck disables enforcement; a garbled check file refuses commits loudly") {
    val dir = Files.createTempDirectory("ck_drop").toString + "/t"
    table(dir)
    Constraints.addCheck(spark, dir, "v_pos", "v > 0")
    assert(Constraints.dropCheck(spark, dir, "v_pos"))
    assert(!Constraints.dropCheck(spark, dir, "v_pos"))
    landRow(dir, 9L, -1.0, "now-legal")
    Snapshots.commit(spark, dir, Seq("day")) // no checks left: commits
    assert(Snapshots.readSnapshot(spark, dir).count() == 4L)
    // a garbled file must refuse the NEXT landing commit, not skip silently
    val fs = fsOf(dir)
    val p = new org.apache.hadoop.fs.Path(
      s"$dir/${Snapshots.ManifestDirName}/checks/broken")
    fs.mkdirs(p.getParent)
    val out = fs.create(p, true)
    try out.write("nonsense".getBytes("UTF-8"))
    finally out.close()
    landRow(dir, 11L, 1.0, "blocked-by-garble")
    val e = intercept[RuntimeException] { Snapshots.commit(spark, dir, Seq("day")) }
    assert(e.getMessage.contains("garbled CHECK"))
  }

  test("DROP COLUMN refuses while a CHECK references the column") {
    val dir = Files.createTempDirectory("ck_dropcol").toString + "/t"
    table(dir)
    Constraints.addCheck(spark, dir, "v_pos", "v > 0")
    val e = intercept[IllegalArgumentException] { Snapshots.dropColumn(spark, dir, "v") }
    assert(e.getMessage.contains("v_pos") && e.getMessage.contains("drop the check first"))
    // after drop_check the column drops
    Constraints.dropCheck(spark, dir, "v_pos")
    Snapshots.dropColumn(spark, dir, "v")
    assert(!Snapshots.schemaOf(spark, dir).get.fieldNames.contains("v"))
  }

  test("DROP COLUMN refuses while a CHECK references a FIELD of the struct column") {
    val dir = Files.createTempDirectory("ck_dropstruct").toString + "/t"
    val rows = Seq((1L, 5.0, "x"), (2L, 7.0, "y"))
      .toDF("id", "inner", "tag")
      .selectExpr("id", "named_struct('inner', inner) AS s", "tag")
    Sources.writeParquet(rows.repartition(1), dir)
    Snapshots.commit(spark, dir, Seq("id"))
    Constraints.addCheck(spark, dir, "inner_pos", "s.inner > 0")
    // the guard must see 's' among the reference's name PARTS — matching
    // only the last part would let the drop brick every later commit
    val e = intercept[RuntimeException] { Snapshots.dropColumn(spark, dir, "s") }
    assert(e.getMessage.contains("inner_pos"))
    Constraints.dropCheck(spark, dir, "inner_pos")
    Snapshots.dropColumn(spark, dir, "s")
    assert(!Snapshots.schemaOf(spark, dir).get.fieldNames.contains("s"))
  }

  test("dynamic partition overwrite enforces and rolls its landing back on refusal") {
    val base = Files.createTempDirectory("ck_dynover").toString
    val dir = s"$base/t"
    table(dir)
    Constraints.addCheck(spark, dir, "v_pos", "v > 0")
    val cat = s"ckdyn_${java.lang.Long.toHexString(System.nanoTime())}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.snap.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", base)
    val before = Snapshots.readSnapshot(spark, dir).collect().map(_.toString).sorted.toSeq
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      val e = intercept[Exception] {
        spark.sql(s"INSERT OVERWRITE $cat.t SELECT CAST(9 AS BIGINT) AS id, " +
          "CAST(-1.0 AS DOUBLE) AS v, 'd01' AS day").collect()
      }
      assert(e.getMessage.contains("v_pos") || e.getCause != null)
      // the refused batch's landed files are rolled back and the archived
      // originals keep resolving: the manifest read is byte-identical
      assert(
        Snapshots.readSnapshot(spark, dir).collect().map(_.toString).sorted.toSeq == before)
      // nothing refused lingers for a later listing commit to adopt
      Snapshots.commit(spark, dir, Seq("day"))
      assert(Snapshots.readSnapshot(spark, dir).count() == before.size)
    } finally spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
  }

  test("SQL faces: CALL add_check refuses dirty data, enforces after, drop_check disables") {
    val base = Files.createTempDirectory("ck_sql").toString
    val dir = s"$base/t"
    table(dir)
    val cat = s"cksql_${java.lang.Long.toHexString(System.nanoTime())}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.snap.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", base)
    val e = intercept[Exception] {
      spark.sql(s"CALL $cat.add_check(table => 't', name => 'v_small', expr => 'v < 15')").collect()
    }
    assert(e.getMessage.contains("existing row(s)"))
    spark.sql(s"CALL $cat.add_check(table => 't', name => 'v_pos', expr => 'v > 0')").collect()
    // the `checks` metadata table lists what commits enforce
    assert(
      spark.sql(s"SELECT name, expr FROM $cat.t.checks").collect().map(r =>
        (r.getString(0), r.getString(1))).toSeq == Seq(("v_pos", "v > 0")))
    val e2 = intercept[Exception] {
      spark.sql(s"INSERT INTO $cat.t VALUES (9, CAST(-1.0 AS DOUBLE), 'd01')").collect()
    }
    assert(e2.getMessage.contains("v_pos"))
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").head().getLong(0) == 3L)
    assert(spark.sql(s"CALL $cat.drop_check(table => 't', name => 'v_pos')").head().getBoolean(0))
    spark.sql(s"INSERT INTO $cat.t VALUES (9, CAST(-1.0 AS DOUBLE), 'd01')").collect()
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").head().getLong(0) == 4L)
  }

  test("addCheck leaves no pending marker on success OR refusal") {
    val dir = Files.createTempDirectory("ck_nopending").toString + "/t"
    table(dir)
    Constraints.addCheck(spark, dir, "v_pos", "v > 0")
    assert(Constraints.pendingChecks(spark, dir).isEmpty, "a proven add clears its marker")
    intercept[IllegalArgumentException] {
      Constraints.addCheck(spark, dir, "v_small", "v < 15")
    }
    assert(
      Constraints.pendingChecks(spark, dir).isEmpty,
      "a rolled-back add clears its marker too")
    assert(Constraints.checks(spark, dir).keySet == Set("v_pos"))
  }

  test("a crash between publish and proof leaves a PENDING check: named, enforced, re-provable") {
    val dir = Files.createTempDirectory("ck_pending").toString + "/t"
    table(dir)
    // simulate the crash window: check file + pending marker both
    // present, no proof ever ran (exactly what a kill -9 between
    // addCheck's publish and its validation scan leaves behind)
    val fs = fsOf(dir)
    val checksDir = new org.apache.hadoop.fs.Path(s"$dir/${Snapshots.ManifestDirName}/checks")
    def plantPending(name: String, expr: String): Unit = {
      fs.mkdirs(checksDir)
      val c = fs.create(new org.apache.hadoop.fs.Path(checksDir, name), true)
      try c.write(
        s"graft-check v1\nexpr ${java.net.URLEncoder.encode(expr, "UTF-8")}\n".getBytes("UTF-8"))
      finally c.close()
      val m = fs.create(new org.apache.hadoop.fs.Path(checksDir, s".pending-$name"), true)
      try m.write("graft-check-pending v1".getBytes("UTF-8"))
      finally m.close()
    }
    plantPending("v_pos", "v > 0") // provable: existing rows all pass
    plantPending("v_small", "v < 15") // NOT provable: v=20 violates
    assert(Constraints.pendingChecks(spark, dir) == Seq("v_pos", "v_small"))
    // pending checks are still ENFORCED against new commits (fail-safe)
    val badRel = landRow(dir, 9L, -1.0, "bad-pending")
    val e = intercept[Exception] { Snapshots.commitAppend(spark, dir, Seq(badRel)) }
    assert(e.getMessage.contains("v_pos"), e.getMessage)
    fsOf(dir).delete(new org.apache.hadoop.fs.Path(dir, badRel), false)
    // re-validation: the provable check promotes, the unprovable DROPS
    // (it was never legitimately added — same outcome as add's rollback)
    val report = Constraints.validatePending(spark, dir)
    assert(report == Map("v_pos" -> true, "v_small" -> false), report.toString)
    assert(Constraints.pendingChecks(spark, dir).isEmpty)
    assert(Constraints.checks(spark, dir).keySet == Set("v_pos"))
    // a marker with NO surviving check file (crash on the rollback side)
    // is reaped silently
    val m = fs.create(new org.apache.hadoop.fs.Path(checksDir, ".pending-ghost"), true)
    try m.write("graft-check-pending v1".getBytes("UTF-8"))
    finally m.close()
    assert(Constraints.validatePending(spark, dir).isEmpty)
    assert(Constraints.pendingChecks(spark, dir).isEmpty)
    // dropping a pending check drops it whole, marker included
    plantPending("v_any", "v > -100")
    assert(Constraints.dropCheck(spark, dir, "v_any"))
    assert(
      Constraints.pendingChecks(spark, dir).isEmpty &&
        !Constraints.checks(spark, dir).contains("v_any"))
  }

  test("SQL faces: the checks metadata table shows pending state; CALL validate_checks re-proves") {
    val base = Files.createTempDirectory("ck_pendsql").toString
    val dir = s"$base/t"
    table(dir)
    val cat = s"ckpend_${java.lang.Long.toHexString(System.nanoTime())}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.snap.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", base)
    spark.sql(s"CALL $cat.add_check(table => 't', name => 'v_pos', expr => 'v > 0')").collect()
    // a planted crash-state: check + marker, proof never ran
    val fs = fsOf(dir)
    val checksDir = new org.apache.hadoop.fs.Path(s"$dir/${Snapshots.ManifestDirName}/checks")
    val c = fs.create(new org.apache.hadoop.fs.Path(checksDir, "v_big"), true)
    try c.write(
      s"graft-check v1\nexpr ${java.net.URLEncoder.encode("v < 100", "UTF-8")}\n".getBytes("UTF-8"))
    finally c.close()
    val m = fs.create(new org.apache.hadoop.fs.Path(checksDir, ".pending-v_big"), true)
    try m.write("graft-check-pending v1".getBytes("UTF-8"))
    finally m.close()
    assert(
      spark.sql(s"SELECT name, pending FROM $cat.t.checks ORDER BY name").collect()
        .map(r => (r.getString(0), r.getBoolean(1))).toSeq ==
        Seq(("v_big", true), ("v_pos", false)))
    val rep = spark.sql(s"CALL $cat.validate_checks(table => 't')").collect()
      .map(r => (r.getString(0), r.getBoolean(1))).toSeq
    assert(rep == Seq(("v_big", true)), rep.toString)
    assert(
      spark.sql(s"SELECT name, pending FROM $cat.t.checks ORDER BY name").collect()
        .map(r => (r.getString(0), r.getBoolean(1))).toSeq ==
        Seq(("v_big", false), ("v_pos", false)))
  }
}
