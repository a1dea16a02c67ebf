package graft.sources

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** A local filesystem on the custom `landfault` scheme that fails the Nth
  * rename onto a live data-file path (a `.parquet` file under no hidden
  * or underscore dir) after [[LandFaultFs.failAt]] arms it: that rename
  * returns false and leaves the source where it was. Renames into stage
  * dirs, the archive, sidecars and metadata never count.
  */
class LandFaultFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("landfault:///")
  override def rename(src: Path, dst: Path): Boolean = {
    val segs = dst.toUri.getPath.split("/").filter(_.nonEmpty)
    val live = dst.getName.endsWith(".parquet") && !segs.exists(s => s.startsWith(".") || s.startsWith("_"))
    if (live && LandFaultFs.remaining.get > 0 && LandFaultFs.remaining.decrementAndGet() == 0) false
    else super.rename(src, dst)
  }
}

object LandFaultFs {
  val remaining = new AtomicInteger(0)

  /** Fail the `n`th live data-file rename `body` issues. */
  def failAt[A](n: Int)(body: => A): A = {
    remaining.set(n)
    try body
    finally remaining.set(0)
  }
}

/** Laws of [[DataFiles]]: every landing op, failing mid-landing, leaves
  * the live tree and the archive exactly as they were, and the next
  * listing commit reads the pre-op rows.
  */
class DataFilesSpec extends SparkSpec {

  import spark.implicits._

  private def base(tag: String): String = {
    spark.sparkContext.hadoopConfiguration.set("fs.landfault.impl", classOf[LandFaultFs].getName)
    "landfault:" + Files.createTempDirectory(tag).toString
  }

  private def fsOf(dir: String): FileSystem = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Root-relative files under `sub` (hidden ones included). */
  private def filesUnder(dir: String, sub: String): Set[String] = {
    val fs = fsOf(dir)
    val top = new Path(dir, sub)
    val prefix = fs.makeQualified(top).toUri.getPath
    def walk(p: Path): Seq[String] =
      fs.listStatus(p).toSeq.flatMap { st =>
        if (st.isDirectory) walk(st.getPath)
        else Seq(fs.makeQualified(st.getPath).toUri.getPath.stripPrefix(prefix).stripPrefix("/"))
      }
    if (fs.exists(top)) walk(top).toSet else Set.empty
  }

  private def rows(dir: String): Seq[String] =
    Snapshots.readSnapshot(spark, dir).collect().map(_.toString).sorted.toSeq

  /** Fail the `n`th live data-file rename of `op` and check the law. */
  private def lawHolds(dir: String, n: Int)(op: => Any): Unit = {
    val (live, archived, before) = (Snapshots.listDataFiles(spark, dir).toSet, filesUnder(dir, ".snap-archive"), rows(dir))
    val v = Snapshots.latestVersion(spark, dir)
    val e = intercept[Exception](LandFaultFs.failAt(n)(op))
    assert(LandFaultFs.remaining.get == 0)
    info(s"failed with: ${e.getMessage.take(120)}")
    assert(Snapshots.latestVersion(spark, dir) == v, "the failed op committed")
    val (liveNow, archivedNow) = (Snapshots.listDataFiles(spark, dir).toSet, filesUnder(dir, ".snap-archive"))
    Snapshots.commit(spark, dir)
    val after = rows(dir)
    assert(
      after == before,
      s"the next listing commit reads ${after.size} rows (${after.diff(before).size} extra, " +
        s"${before.diff(after).size} missing) where the table had ${before.size}")
    assert(liveNow == live, "the live listing changed")
    assert(archivedNow == archived, "the archive changed")
  }

  private def partitioned(dir: String, filesPerDay: Int): Unit = {
    val df = (1 to 24).map(i => (s"d0${i % 2 + 1}", i.toLong, i * 1.5)).toDF("day", "id", "v")
    Sources.writeParquet(df.repartition(filesPerDay), dir, partitionCols = Seq("day"))
    Snapshots.commit(spark, dir, Seq("day", "id"))
  }

  test("compactInPlace: a failed landing leaves the table as it was (no duplicate rows)") {
    val dir = base("df_compact") + "/t"
    partitioned(dir, 3)
    val dayBytes = Snapshots.listDataFiles(spark, dir).filter(_.startsWith("day=d01/"))
      .map(rel => fsOf(dir).getFileStatus(new Path(dir, rel)).getLen).sum
    // two output files for the scope, so the second landing can fail
    spark.conf.set("spark.graft.rewrite.targetBytes", ((dayBytes + 1) / 2).toString)
    try lawHolds(dir, 2)(Sources.compactInPlace(spark, dir, Some(col("day") === "d01")))
    finally spark.conf.unset("spark.graft.rewrite.targetBytes")
  }

  test("Sources.deleteWhere: a failed landing leaves the table as it was (no lost rows)") {
    val dir = base("df_cow_delete") + "/t"
    partitioned(dir, 1)
    lawHolds(dir, 1)(Sources.deleteWhere(spark, dir, col("id") <= 4L))
  }

  test("DeleteVectors threshold rewrite and upsert: a failed landing leaves the table as it was") {
    val dir = base("df_dv") + "/t"
    partitioned(dir, 1)
    spark.conf.set("spark.graft.dv.maxDeletedFraction", "0.1")
    try {
      // 4 of 12 rows of one file: past the fraction, so the file rewrites
      lawHolds(dir, 1)(DeleteVectors.deleteWhere(spark, dir, col("id") <= 8L && col("day") === "d01"))
      // an upsert that appends to both days and rewrites one file
      val src = Seq(("d01", 1L, 0.5), ("d02", 2L, 0.5), ("d02", 100L, 0.5)).toDF("day", "id", "v")
      lawHolds(dir, 2)(DeleteVectors.upsert(spark, dir, src, Seq("day", "id")))
    } finally spark.conf.unset("spark.graft.dv.maxDeletedFraction")
  }

  test("SQL INSERT OVERWRITE and UPDATE: a failed landing leaves the table as it was") {
    val b = base("df_sql")
    val dir = s"$b/ev"
    partitioned(dir, 2)
    spark.conf.set("spark.sql.catalog.dflf", classOf[graft.sources.snap.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.dflf.root", b)
    lawHolds(dir, 2)(
      spark.sql("INSERT OVERWRITE dflf.ev SELECT * FROM VALUES (1L, 2.0, 'd01'), (2L, 3.0, 'd02') AS s(id, v, day)"))
    lawHolds(dir, 2)(spark.sql("UPDATE dflf.ev SET v = v + 1 WHERE id IN (1, 2, 3, 4)"))
  }

  test("Snapshots.fastForward: a failed landing moves every file and sidecar back onto the branch") {
    val dir = base("df_ff") + "/t"
    partitioned(dir, 1)
    Snapshots.commit(spark, dir, Seq("day", "id"), Seq("id")) // blooms + NDV + sums
    Snapshots.createBranch(spark, dir, "dev")
    Snapshots.appendToBranch(spark, dir, "dev", Seq(("d03", 30L, 1.0), ("d04", 40L, 2.0)).toDF("day", "id", "v"))
    val (branchFiles, sidecars) = (filesUnder(dir, ".branch"), filesUnder(dir, Snapshots.ManifestDirName))
    // the second file fails to land after the first moved with its sidecars
    lawHolds(dir, 2)(Snapshots.fastForward(spark, dir, "dev"))
    assert(filesUnder(dir, ".branch") == branchFiles, "the branch files moved back")
    assert(
      filesUnder(dir, Snapshots.ManifestDirName).filter(_.matches("(bloom|ndv|sum)/.*")) ==
        sidecars.filter(_.matches("(bloom|ndv|sum)/.*")),
      "the sidecars moved back")
    assert(Snapshots.readBranch(spark, dir, "dev").count() == 26L)
  }

  test("swap rollback: a renamed original moves back, a dropped duplicate is copied back") {
    val dir = base("df_swap") + "/t"
    partitioned(dir, 1)
    val fs = fsOf(dir)
    val root = new Path(dir)
    val Seq(a, b) = Snapshots.listDataFiles(spark, dir)
    // `b` also sits in the archive already (a restored duplicate)
    org.apache.hadoop.fs.FileUtil.copy(fs, new Path(root, b), fs, new Path(root, s".snap-archive/$b"), false, fs.getConf)
    val (live, archived) = (Snapshots.listDataFiles(spark, dir).toSet, filesUnder(dir, ".snap-archive"))
    val e = intercept[IllegalStateException](DataFiles.swap(fs, root, Seq(a, b), Seq.empty)(throw new IllegalStateException("refused")))
    assert(e.getMessage == "refused")
    assert(Snapshots.listDataFiles(spark, dir).toSet == live)
    assert(filesUnder(dir, ".snap-archive") == archived)
    assert(rows(dir).size == 24)
  }
}
