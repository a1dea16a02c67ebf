package graft.sources

import scala.collection.mutable

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The one landing protocol for graft's parquet data files. A write
  * stages its parts in a hidden stage dir ([[stageDir]]), then moves them
  * into the live tree here; files it replaces move into the archive here
  * too. Call sites name the stage, the replaced rels and the commit,
  * nothing else.
  *
  * Three primitives, and [[rewrite]] for the in-place ops built on them:
  *  - [[staged]]: the non-empty part files of a finished stage dir.
  *    Zero-row parts (the single-dir writer creates one even for an empty
  *    frame) never land; their footers are read in parallel. DSv2 writes
  *    pass the files their tasks reported instead, which are non-empty by
  *    construction, so they read no footer.
  *  - [[land]]: rename staged files onto their live rels.
  *  - [[swap]]: archive the replaced files, land the targets, then run the
  *    caller's commit.
  *
  * Order: archive first, then land. A directory lister may see a
  * replaced file gone before its replacement arrives, never both at
  * once. Manifest readers see neither window: they read the version the
  * commit writes.
  *
  * One rollback rule: when anything inside [[swap]] or [[land]] fails,
  * the live tree and the archive end exactly as they were before the
  * call. Files this call landed are deleted; files it renamed into the
  * archive are renamed back; a live duplicate that [[archive]] deleted
  * because the archive already held its bytes is copied back. The
  * original failure is rethrown, with any rollback failure suppressed
  * under it.
  */
private[sources] object DataFiles {

  /** Name prefix of every stage dir: hidden from Spark's file index, from
    * [[Snapshots.listDataFiles]] and from every listing commit.
    */
  val StagePrefix = ".stage-"

  /** The stage dir `id` under `parent` — a fresh random id unless the
    * caller needs a name it can find again (a streaming epoch's replay).
    */
  def stageDir(parent: Path, id: String = java.util.UUID.randomUUID().toString): Path =
    new Path(parent, StagePrefix + id)

  /** The non-empty `part-*.parquet` files under a finished stage dir, as
    * (path, stage-relative rel), in listing order.
    */
  def staged(spark: SparkSession, fs: FileSystem, stage: Path): Seq[(Path, String)] = {
    def walk(p: Path): Seq[Path] =
      fs.listStatus(p).toSeq.flatMap(st => if (st.isDirectory) walk(st.getPath) else Seq(st.getPath))
    val conf = spark.sparkContext.hadoopConfiguration
    val all = walk(stage).filter(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
    val nonEmpty = java.util.concurrent.ConcurrentHashMap.newKeySet[Path]()
    graft.core.Par.each(all) { p =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
      val n =
        try r.getRecordCount
        finally r.close()
      if (n > 0L) nonEmpty.add(p)
    }
    val stageUri = fs.makeQualified(stage).toUri.getPath
    all.filter(nonEmpty.contains).map { p =>
      p -> fs.makeQualified(p).toUri.getPath.stripPrefix(stageUri).stripPrefix("/")
    }
  }

  /** The stage-relative files a DSv2 write's tasks reported under
    * `stage`. Tasks report only files they wrote rows to, so no footer is
    * read.
    */
  def staged(stage: Path, reported: Seq[String]): Seq[(Path, String)] =
    reported.map(rel => new Path(stage, rel) -> rel)

  /** The root-relative dir holding `rel` ("" at the root). */
  def dirOf(rel: String): String = rel.substring(0, math.max(rel.lastIndexOf('/'), 0))

  /** Land (staged path, root-relative rel) pairs; returns the rels. */
  def land(fs: FileSystem, root: Path, targets: Seq[(Path, String)]): Seq[String] =
    swap(fs, root, Seq.empty, targets)(targets.map(_._2))

  /** The partition column of a [[Rewrites.intoDirs]] write: the live dir
    * each row lands in.
    */
  val DirCol = "__graft_dir__"

  /** Stages the rewrites of one in-place op ([[rewrite]]). */
  final class Rewrites private[DataFiles] (spark: SparkSession, fs: FileSystem, root: Path) {
    private[DataFiles] val stages = new java.util.concurrent.ConcurrentLinkedQueue[Path]()
    private[DataFiles] val parts = new java.util.concurrent.ConcurrentLinkedQueue[(Path, String)]()

    /** Stage one rewrite that lands in the live dir `dirRel` ("" for the
      * root): `write` fills a fresh stage dir inside it, whose non-empty
      * parts land under their own part names — Spark part names carry a
      * per-job UUID, so a rel is never reused. Returns how many parts
      * were staged. Safe to call from parallel threads.
      */
    def into(dirRel: String)(write: Path => Unit): Int = {
      val stage = stageDir(if (dirRel.isEmpty) root else new Path(root, dirRel))
      stages.add(stage)
      write(stage)
      val prefix = if (dirRel.isEmpty) "" else dirRel + "/"
      val got = staged(spark, fs, stage)
      got.foreach { case (p, r) => parts.add(p -> (prefix + r)) }
      got.size
    }

    /** Stage one write that spans live dirs: `write` fills a fresh stage
      * dir partitioned by [[DirCol]], whose value names the live dir each
      * row lands in ("" for the root, which the writer renders as the
      * default partition); the non-empty parts land there under their
      * own part names. Returns how many parts were staged.
      */
    def intoDirs(write: Path => Unit): Int = {
      val stage = stageDir(root)
      stages.add(stage)
      write(stage)
      val got = staged(spark, fs, stage).map { case (p, r) =>
        val cut = r.indexOf('/')
        val dir = Snapshots.unescapePathName(r.substring(0, cut).stripPrefix(DirCol + "="))
        p -> (if (dir == "__HIVE_DEFAULT_PARTITION__") r.substring(cut + 1) else dir + r.substring(cut))
      }
      got.foreach(parts.add)
      got.size
    }
  }

  /** An in-place rewrite in two steps: `stageAll` stages every
    * replacement through [[Rewrites.into]] with no live-tree mutation,
    * then ONE [[swap]] archives `replaced`, lands `added` and the staged
    * parts, and runs `commit` on the landed rels. The stage dirs are
    * removed either way.
    */
  def rewrite[A](
      spark: SparkSession,
      fs: FileSystem,
      root: Path,
      replaced: Seq[String],
      added: Seq[(Path, String)] = Seq.empty)(stageAll: Rewrites => Unit)(commit: Seq[String] => A): A = {
    val rw = new Rewrites(spark, fs, root)
    try {
      stageAll(rw)
      import scala.jdk.CollectionConverters._
      val targets = added ++ rw.parts.asScala
      swap(fs, root, replaced, targets)(commit(targets.map(_._2)))
    } finally rw.stages.forEach(s => fs.delete(s, true))
  }

  /** Archive the live files `replaced` (root-relative rels), land
    * `targets`, then run `commit` (see the object doc for the order and
    * the rollback rule).
    */
  def swap[A](fs: FileSystem, root: Path, replaced: Seq[String], targets: Seq[(Path, String)])(
      commit: => A): A = {
    val archived = mutable.ArrayBuffer.empty[(String, Boolean)]
    val landed = mutable.ArrayBuffer.empty[Path]
    try {
      replaced.foreach(rel => archived += rel -> archive(fs, root, new Path(root, rel)))
      // a dir that held a replaced file or holds the staged file exists
      // already; any other is made once
      val made = mutable.Set(replaced.map(r => fs.makeQualified(new Path(root, r).getParent).toString): _*)
      targets.foreach { case (from, rel) =>
        val to = new Path(root, rel)
        val dir = fs.makeQualified(to.getParent).toString
        if (!fs.makeQualified(from).toString.startsWith(dir + "/") && made.add(dir))
          fs.mkdirs(to.getParent)
        if (!fs.rename(from, to)) sys.error(s"failed to land $rel from $from")
        landed += to
      }
      commit
    } catch {
      case t: Throwable =>
        def undo(step: => Unit): Unit =
          try step
          catch { case e: Throwable => t.addSuppressed(e) }
        landed.foreach(p => undo(fs.delete(p, false)))
        archived.reverseIterator.foreach { case (rel, moved) =>
          val live = new Path(root, rel)
          val arch = archivePath(root, rel)
          undo {
            fs.mkdirs(live.getParent)
            if (moved) {
              if (!fs.rename(arch, live)) sys.error(s"rollback failed to move $rel back live")
            } else if (!org.apache.hadoop.fs.FileUtil.copy(fs, arch, fs, live, false, fs.getConf))
              sys.error(s"rollback failed to copy $rel back live")
          }
        }
        throw t
    }
  }

  /** Move the live file `live` into the archive, keeping its rel. Returns
    * true when it was renamed, false when the archive already held the
    * same bytes and the live duplicate (a [[Snapshots.restore]]d copy) was
    * deleted instead. A rel denotes one immutable file forever, so a
    * different length at the archive path fails loudly.
    */
  def archive(fs: FileSystem, root: Path, live: Path): Boolean = {
    val rootUri = root.makeQualified(fs.getUri, fs.getWorkingDirectory).toUri
    val rel = rootUri.relativize(live.makeQualified(fs.getUri, fs.getWorkingDirectory).toUri).getPath
    require(!rel.startsWith("/") && rel.nonEmpty, s"$live is not under $root")
    val dst = archivePath(root, rel)
    if (fs.exists(dst)) {
      if (fs.getFileStatus(dst).getLen != fs.getFileStatus(live).getLen)
        sys.error(s"archive collision at $dst with DIFFERENT size — rel path reused, invariant broken")
      fs.delete(live, false)
      false
    } else {
      fs.mkdirs(dst.getParent)
      if (!fs.rename(live, dst)) sys.error(s"archive rename $live -> $dst failed")
      true
    }
  }

  private def archivePath(root: Path, rel: String): Path =
    new Path(new Path(root, Snapshots.ArchiveDirName), rel)
}
