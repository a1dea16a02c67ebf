package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit}

import graft.SparkSpec

/** Every snapshot data read is one scan: programmatic reads (latest,
  * pinned, pruned, branch), catalog SQL and `VERSION AS OF` return the
  * rows an in-memory model of the writes holds, and the maintenance
  * rewrites (compaction, clustering, `compactParquet`, the DV threshold
  * rewrite) keep them. The fixture carries what the reads must get
  * right: partition values with a space, `%` and `+`, a NULL partition,
  * deletion vectors on part files that share a name across partition
  * dirs, archived files behind a pinned read, branch-private appends and
  * an ALTER-added column.
  */
class SnapReadSpec extends SparkSpec {

  import spark.implicits._

  /** (id, p, v, w) — `w` is the ALTER-added column. */
  private type R = (Long, Option[String], Double, Option[Int])

  private val parts = Seq(Some("a b"), Some("c%d"), Some("e+f"), None)

  private def rowsOf(ids: Seq[Long], w: Option[Int] = None): Seq[R] =
    ids.map(i => (i, parts((i % parts.size).toInt), i * 1.5, w))

  private def frameOf(rows: Seq[R], withW: Boolean): DataFrame = {
    val df = rows.map(r => (r._1, r._2, r._3, r._4)).toDF("id", "p", "v", "w")
    if (withW) df else df.drop("w")
  }

  /** One write job: every partition dir gets a part file of the SAME name. */
  private def append(dir: String, rows: Seq[R], withW: Boolean): Unit = {
    frameOf(rows, withW).repartition(1).write.mode("append").partitionBy("p").parquet(dir)
    Snapshots.commit(spark, dir, Seq("id", "p"))
  }

  private def model(df: DataFrame): Seq[R] = {
    val w = if (df.columns.contains("w")) col("w") else lit(null).cast("int")
    df.select($"id", $"p", $"v", w)
      .collect()
      .map(r => (r.getLong(0), Option(r.getString(1)), r.getDouble(2), Option(r.get(3)).map(_.asInstanceOf[Int])))
      .toSeq
      .sortBy(_._1)
  }

  private def sorted(rows: Seq[R]): Seq[R] = rows.sortBy(_._1)

  /** 16 rows over four partition dirs in two write jobs (two namesake
    * part files per dir), then deletion vectors on rows of both jobs.
    */
  private def dvTable(dir: String): Seq[R] = {
    append(dir, rowsOf(1L to 8L), withW = false)
    append(dir, rowsOf(9L to 16L), withW = false)
    val gone = Set(2L, 5L, 11L, 16L)
    DeleteVectors.deleteWhere(spark, dir, $"id".isin(gone.toSeq: _*))
    rowsOf(1L to 16L).filterNot(r => gone(r._1))
  }

  private def assertDvd(dir: String): Unit =
    assert(Snapshots.dvByRel(Snapshots.manifestView(spark, dir)).nonEmpty, "fixture must hold DV'd files")

  test("readSnapshot, readBranch, catalog SELECT and VERSION AS OF return the model's rows") {
    val base = Files.createTempDirectory("snapread").toString
    val dir = s"$base/t"
    var live = dvTable(dir)
    assert(Snapshots.listDataFiles(spark, dir).count(_.startsWith("p=c%25d/")) == 2)
    assertDvd(dir)
    val vPre = Snapshots.latestVersion(spark, dir)
    val atPre = live
    spark.conf.set("spark.sql.catalog.rd", classOf[graft.sources.snap.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.rd.root", base)
    // the pinned version's files move to the archive
    spark.sql("CALL rd.compact(table => 't')").collect()
    assert(Snapshots.listDataFiles(spark, dir).count(_.startsWith("p=c%25d/")) == 1)
    spark.sql("ALTER TABLE rd.t ADD COLUMNS (w INT)")
    val added = rowsOf(17L to 20L, Some(7))
    append(dir, added, withW = true)
    DeleteVectors.deleteWhere(spark, dir, $"id" === 18L)
    live = (live ++ added).filterNot(_._1 == 18L)
    assertDvd(dir)
    Snapshots.createBranch(spark, dir, "b1")
    val branchRows = rowsOf(30L to 31L, Some(9))
    Snapshots.appendToBranch(spark, dir, "b1", frameOf(branchRows, withW = true))
    DeleteVectors.deleteWhere(spark, dir, $"id" === 17L, branch = "b1")
    val onBranch = (live ++ branchRows).filterNot(_._1 == 17L)

    assert(model(Snapshots.readSnapshot(spark, dir)) == sorted(live))
    assert(model(Snapshots.readSnapshot(spark, dir, vPre)) == sorted(atPre))
    // pruning selects files; the range itself filters rows
    val pruned = Snapshots
      .readSnapshot(spark, dir, prune = Seq(("id", "3", "12")))
      .filter($"id".between(3L, 12L))
    assert(model(pruned) == sorted(live.filter(r => r._1 >= 3L && r._1 <= 12L)))
    assert(model(Snapshots.readBranch(spark, dir, "b1")) == sorted(onBranch))
    assert(model(spark.sql("SELECT * FROM rd.t")) == sorted(live))
    assert(model(spark.sql(s"SELECT * FROM rd.t VERSION AS OF $vPre")) == sorted(atPre))
  }

  test("a snapshot read over DV'd files runs one Spark job") {
    val dir = Files.createTempDirectory("snapread_jobs").toString + "/t"
    val live = dvTable(dir)
    assertDvd(dir)
    var got: Array[Row] = Array.empty
    val jobs = org.apache.spark.SpecBus.jobsOf(spark.sparkContext) {
      got = Snapshots.readSnapshot(spark, dir).collect()
    }
    assert(got.length == live.size)
    assert(jobs == 1, s"$jobs jobs for one read")
  }

  test("compaction, clustering and compactParquet keep the model's rows over DV'd namesake files") {
    def fresh(tag: String): (String, Seq[R]) = {
      val dir = Files.createTempDirectory(tag).toString + "/t"
      val live = dvTable(dir)
      assertDvd(dir)
      (dir, live)
    }
    val (compacted, c) = fresh("snapread_compact")
    assert(Sources.compactInPlace(spark, compacted)._3 == 4L)
    assert(Snapshots.dvByRel(Snapshots.manifestView(spark, compacted)).isEmpty)
    assert(model(Snapshots.readSnapshot(spark, compacted)) == sorted(c))

    val (clustered, k) = fresh("snapread_cluster")
    Sources.clusterInPlace(spark, clustered, col("id"), 1)
    assert(Snapshots.dvByRel(Snapshots.manifestView(spark, clustered)).isEmpty)
    assert(model(Snapshots.readSnapshot(spark, clustered)) == sorted(k))

    val (src, q) = fresh("snapread_cp")
    val out = Files.createTempDirectory("snapread_cp_out").toString + "/t"
    Sources.compactParquet(spark, src, out)
    assert(model(Snapshots.readSnapshot(spark, out)) == sorted(q))
  }

  test("the DV threshold rewrite keeps the model's rows and drops the pointers") {
    val dir = Files.createTempDirectory("snapread_thresh").toString + "/t"
    append(dir, rowsOf(1L to 8L), withW = false)
    append(dir, rowsOf(9L to 16L), withW = false)
    val before = Snapshots.listDataFiles(spark, dir).toSet
    spark.conf.set("spark.graft.dv.maxDeletedFraction", "0.3")
    try DeleteVectors.deleteWhere(spark, dir, $"id".isin(2L, 5L, 11L, 16L))
    finally spark.conf.unset("spark.graft.dv.maxDeletedFraction")
    // each two-row file lost half its rows: all four rewrite, none points
    assert(Snapshots.dvByRel(Snapshots.manifestView(spark, dir)).isEmpty)
    assert((before -- Snapshots.listDataFiles(spark, dir)).size == 4)
    val live = rowsOf(1L to 16L).filterNot(r => Set(2L, 5L, 11L, 16L)(r._1))
    assert(model(Snapshots.readSnapshot(spark, dir)) == sorted(live))
  }
}
