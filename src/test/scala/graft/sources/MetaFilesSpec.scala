package graft.sources

import java.nio.file.Files

import org.apache.hadoop.fs.{FileSystem, Path}

import graft.SparkSpec

/** A local filesystem on the custom `markerfault` scheme whose rename onto
  * a BRANCH epoch marker (`branches/<name>/.mor-epoch-<tag>`) fails while
  * [[MarkerFaultFs.armed]] is set, leaving the source where it was.
  */
class MarkerFaultFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("markerfault:///")
  override def rename(src: Path, dst: Path): Boolean =
    if (MarkerFaultFs.armed.get() && dst.getName.startsWith(".mor-epoch-") &&
      dst.getParent.getParent.getName == "branches") false
    else super.rename(src, dst)
}

object MarkerFaultFs {
  val armed = new java.util.concurrent.atomic.AtomicBoolean(false)
}

/** Laws of [[MetaFiles]]: every on-disk state a crash can leave behind a
  * `replace` reads as the old or the new content (a torn next image as
  * absent), each epoch marker heals from the delete→rename window, and a
  * marker write that fails is loud on every line.
  */
class MetaFilesSpec extends SparkSpec {

  import spark.implicits._

  /** The session's filesystem for local paths — the one the tables use. */
  private def localFs: FileSystem = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def bytesOf(fs: FileSystem, p: Path): Array[Byte] = {
    val in = fs.open(p)
    try in.readAllBytes()
    finally in.close()
  }

  private def put(fs: FileSystem, p: Path, bytes: Array[Byte]): Unit = {
    val out = fs.create(p, true)
    try out.write(bytes)
    finally out.close()
  }

  /** The crash window between `replace`'s delete and its rename: the old
    * file is gone and the complete next image sits under its fixed name.
    */
  private def crashBeforeRename(fs: FileSystem, marker: Path): Unit = {
    assert(fs.exists(marker), s"no marker at $marker")
    assert(fs.rename(marker, MetaFiles.nextImage(marker)))
  }

  test("replace: every crash state reads the old or the new content; a torn next image reads as absent") {
    val fs = localFs
    val dir = new Path(Files.createTempDirectory("metafiles_replace").toString)
    val (oldText, newText) = ("graft-mv v1\nversion 3\n", "graft-mv v1\nversion 4\n")
    // the sealed images exactly as replace writes them
    def image(text: String): Array[Byte] = {
      val q = new Path(dir, s"img-${text.hashCode}")
      assert(MetaFiles.replace(fs, q, text))
      bytesOf(fs, q)
    }
    val (oldImg, newImg) = (image(oldText), image(newText))
    var n = 0
    def state(target: Option[Array[Byte]], next: Option[Array[Byte]]): Path = {
      n += 1
      val p = new Path(dir, s"f$n")
      target.foreach(put(fs, p, _))
      next.foreach(put(fs, MetaFiles.nextImage(p), _))
      p
    }
    // next only: the delete→rename window heals forward and finishes the rename
    val healed = state(None, Some(newImg))
    assert(MetaFiles.current(fs, healed).contains(newText))
    assert(fs.exists(healed) && !fs.exists(MetaFiles.nextImage(healed)), "the heal must finish the rename")
    assert(MetaFiles.current(fs, healed).contains(newText))
    // old + next (crash before the delete) and old only: the old file stands
    assert(MetaFiles.current(fs, state(Some(oldImg), Some(newImg))).contains(oldText))
    assert(MetaFiles.current(fs, state(Some(oldImg), None)).contains(oldText))
    // every torn next image (each proper prefix) with no target reads as
    // absent and is never promoted; beside the old file it reads old
    (0 until newImg.length).foreach { k =>
      val torn = java.util.Arrays.copyOf(newImg, k)
      val alone = state(None, Some(torn))
      assert(MetaFiles.current(fs, alone).isEmpty, s"a ${k}-byte torn image must read as absent")
      assert(!fs.exists(alone), "a torn image must never be promoted")
      assert(MetaFiles.current(fs, state(Some(oldImg), Some(torn))).contains(oldText))
    }
    // a file written by hand (no trailer) reads as is
    val plain = state(Some(oldText.getBytes("UTF-8")), None)
    assert(MetaFiles.current(fs, plain).contains(oldText))
    // the next replace over any leftover state lands the new content
    assert(MetaFiles.replace(fs, plain, newText) && MetaFiles.current(fs, plain).contains(newText))
    assert(!fs.exists(MetaFiles.nextImage(plain)))
  }

  test("publish lands the whole file and leaves no temp file; overwrite replaces") {
    val fs = localFs
    val dir = new Path(Files.createTempDirectory("metafiles_publish").toString, "sub")
    val p = new Path(dir, ".latest-hint")
    assert(MetaFiles.publish(fs, p, "7".getBytes("UTF-8")))
    assert(MetaFiles.readLong(fs, p).contains(7L))
    assert(MetaFiles.publish(fs, p, "8".getBytes("UTF-8"), overwrite = true))
    assert(MetaFiles.readLong(fs, p).contains(8L))
    assert(MetaFiles.readText(fs, new Path(dir, "absent")).isEmpty)
    val left = fs.listStatus(dir).map(_.getPath.getName).filterNot(_.endsWith(".crc")).toSet
    assert(left == Set(".latest-hint"), left.toString)
  }

  test("the upsert epoch marker reads its new epoch from the old-deleted, next-present state") {
    val dir = Files.createTempDirectory("metafiles_ups").toString + "/t"
    Sources.writeParquet(
      Seq(("d01", "a", 1L), ("d02", "b", 2L)).toDF("day", "cat", "v").repartition(1),
      dir, partitionCols = Seq("day"))
    Snapshots.commit(spark, dir, Seq("day", "cat"))
    def epoch(e: Long, v: Long) = DeleteVectors.upsert(
      spark, dir, Seq(("d01", "a", v)).toDF("day", "cat", "v"), Seq("day", "cat"),
      streamTag = "q", epochId = e)
    epoch(0L, 10L)
    epoch(1L, 11L)
    val marker = new Path(s"$dir/${Snapshots.ManifestDirName}/.mor-epoch-q")
    crashBeforeRename(localFs, marker)
    val v = Snapshots.latestVersion(spark, dir)
    assert(epoch(1L, 99L) == ((0L, 0L)), "epoch 1 is committed: the replay must skip it")
    assert(Snapshots.latestVersion(spark, dir) == v)
    assert(MetaFiles.last(localFs, marker) == 1L && localFs.exists(marker))
  }

  test("the branch epoch marker reads its new epoch from the old-deleted, next-present state") {
    val dir = Files.createTempDirectory("metafiles_br").toString + "/t"
    Sources.writeParquet(
      Seq(("d01", "a", 1L), ("d02", "b", 2L)).toDF("day", "cat", "v").repartition(1),
      dir, partitionCols = Seq("day"))
    Snapshots.commit(spark, dir, Seq("day", "cat"))
    Snapshots.createBranch(spark, dir, "dev")
    def epoch(e: Long, v: Long) = DeleteVectors.upsert(
      spark, dir, Seq(("d01", "a", v)).toDF("day", "cat", "v"), Seq("day", "cat"),
      streamTag = "q", epochId = e, branch = "dev")
    epoch(0L, 10L)
    epoch(1L, 11L)
    val marker = new Path(s"$dir/${Snapshots.ManifestDirName}/branches/dev/.mor-epoch-q")
    crashBeforeRename(localFs, marker)
    val bv = Snapshots.branchView(spark, dir, "dev").version
    assert(epoch(1L, 99L) == ((0L, 0L)), "epoch 1 is committed: the replay must skip it")
    assert(Snapshots.branchView(spark, dir, "dev").version == bv)
    assert(MetaFiles.last(localFs, marker) == 1L)
  }

  test("the streaming sink's epoch marker reads its new epoch from the old-deleted, next-present state") {
    val dir = Files.createTempDirectory("metafiles_sink").toString + "/t"
    Seq((0L, 0L)).toDF("id", "v").coalesce(1).write.parquet(dir)
    Snapshots.commit(spark, dir, Seq("id"))
    val sw = new graft.sources.snap.SnapStreamingWrite(dir, "qid", Seq((0L, 0L)).toDF("id", "v").schema)
    sw.commit(0L, Array.empty)
    sw.commit(1L, Array.empty)
    val marker = new Path(s"$dir/${Snapshots.ManifestDirName}/.epoch-qid")
    crashBeforeRename(localFs, marker)
    // a replay of epoch 1 naming a staged file that no longer exists: a
    // marker read as absent would try to land it and fail
    sw.commit(1L, Array(graft.sources.snap.SnapStagedFile(s"$dir/.stream-qid-1/gone.parquet", 1L)))
    assert(MetaFiles.last(localFs, marker) == 1L && localFs.exists(marker))
  }

  test("a failed branch epoch-marker write fails the branch CDC apply loudly") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.markerfault.impl", classOf[graft.sources.MarkerFaultFs].getName)
    val dir = "markerfault:" + Files.createTempDirectory("metafiles_brfault").toString + "/t"
    Sources.writeParquet(
      Seq(("d01", "a", 1L), ("d02", "b", 2L)).toDF("day", "cat", "v").repartition(1),
      dir, partitionCols = Seq("day"))
    Snapshots.commit(spark, dir, Seq("day", "cat"))
    Snapshots.createBranch(spark, dir, "dev")
    val changes = Seq(("u", "d01", "a", 10L)).toDF("op", "day", "cat", "v")
    MarkerFaultFs.armed.set(true)
    try {
      val e = intercept[RuntimeException] {
        DeleteVectors.applyChanges(
          spark, dir, changes, Seq("day", "cat"), opCol = "op", streamTag = "t", epochId = 0L, branch = "dev")
      }
      assert(e.getMessage.contains("epoch high-water update failed"), e.getMessage)
    } finally MarkerFaultFs.armed.set(false)
  }
}
