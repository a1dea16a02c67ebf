package graft.sources

import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataOutputStream, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.functions.sum

import graft.SparkSpec

/** A local filesystem on the custom `fscount` scheme that counts the
  * namespace calls made through it while [[CountingFs.recording]] is on:
  * creates, renames, deletes, mkdirs and exists probes. Internal calls
  * (a create making its parent dirs) count too, as they cost the same.
  */
class CountingFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("fscount:///")
  override def create(
      f: Path,
      permission: FsPermission,
      overwrite: Boolean,
      bufferSize: Int,
      replication: Short,
      blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    CountingFs.bump("create")
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def create(
      f: Path,
      overwrite: Boolean,
      bufferSize: Int,
      replication: Short,
      blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    CountingFs.bump("create")
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    CountingFs.bump("rename")
    super.rename(src, dst)
  }
  override def delete(p: Path, recursive: Boolean): Boolean = {
    CountingFs.bump("delete")
    super.delete(p, recursive)
  }
  override def mkdirs(p: Path): Boolean = {
    CountingFs.bump("mkdirs")
    super.mkdirs(p)
  }
  override def mkdirs(p: Path, permission: FsPermission): Boolean = {
    CountingFs.bump("mkdirs")
    super.mkdirs(p, permission)
  }
  override def exists(p: Path): Boolean = {
    CountingFs.bump("exists")
    if (CountingFs.recording) CountingFs.probed.add(p.toString)
    super.exists(p)
  }
}

object CountingFs {
  val Kinds: Seq[String] = Seq("create", "rename", "delete", "mkdirs", "exists")
  @volatile var recording = false
  private val counts = new ConcurrentHashMap[String, AtomicLong]()

  /** The paths the recorded exists probes named. */
  val probed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  /** The recorded calls per caller: the first `graft.` stack frame
    * outside this file, as `Object.method`.
    */
  val byCaller = new ConcurrentHashMap[String, AtomicLong]()
  def bump(kind: String): Unit =
    if (recording) {
      counts.computeIfAbsent(kind, _ => new AtomicLong()).incrementAndGet()
      val caller = Thread.currentThread.getStackTrace
        .find(f => f.getClassName.startsWith("graft.") && !f.getClassName.startsWith("graft.sources.CountingFs"))
        .map(f => f.getClassName.split('.').last.takeWhile(_ != '$') + "." + f.getMethodName.split("\\$\\$").last)
        .getOrElse("?")
      byCaller.computeIfAbsent(caller, _ => new AtomicLong()).incrementAndGet()
    }

  /** The calls `body` issues, per kind. */
  def during(body: => Unit): Map[String, Long] = {
    counts.clear()
    byCaller.clear()
    probed.clear()
    recording = true
    try body
    finally recording = false
    Kinds.map(k => k -> Option(counts.get(k)).map(_.get).getOrElse(0L)).toMap
  }
}

/** Count law of the metadata-file and data-file protocols: one
  * steady-state operation of each commit family issues no more namespace
  * calls than the bounds below. The upsert, append and refresh bounds are
  * the counts measured before the small-file writes and reads moved into
  * [[MetaFiles]]; the compaction and UPDATE bounds the counts measured
  * before data files landed through [[DataFiles]]; the ALTER, restore and
  * partition-exact DELETE bounds the counts measured before every
  * manifest commit went through one commit kernel; the branch upsert and
  * branch delete bounds the counts measured before branch writes ran the
  * main-line cores (the probe printed by this spec, run on that code). Each operation runs once untimed first so
  * the counted run sees the steady state (epoch marker present, view
  * registered).
  */
class FsCallCountSpec extends SparkSpec {

  import spark.implicits._

  private val bounds: Map[String, Map[String, Long]] = Map(
    "upsert_epoch" ->
      Map("create" -> 17L, "rename" -> 16L, "delete" -> 6L, "mkdirs" -> 30L, "exists" -> 54L),
    "commit_append" ->
      Map("create" -> 7L, "rename" -> 6L, "delete" -> 1L, "mkdirs" -> 11L, "exists" -> 26L),
    "mv_refresh" ->
      Map("create" -> 10L, "rename" -> 9L, "delete" -> 6L, "mkdirs" -> 21L, "exists" -> 74L),
    "call_compact" ->
      Map("create" -> 9L, "rename" -> 12L, "delete" -> 5L, "mkdirs" -> 22L, "exists" -> 60L),
    "sql_update" ->
      Map("create" -> 17L, "rename" -> 12L, "delete" -> 4L, "mkdirs" -> 26L, "exists" -> 55L),
    "alter_add_columns" ->
      Map("create" -> 3L, "rename" -> 2L, "delete" -> 2L, "mkdirs" -> 5L, "exists" -> 30L),
    "restore" ->
      Map("create" -> 3L, "rename" -> 4L, "delete" -> 2L, "mkdirs" -> 11L, "exists" -> 20L),
    "sql_delete_partition" ->
      Map("create" -> 3L, "rename" -> 3L, "delete" -> 2L, "mkdirs" -> 6L, "exists" -> 21L),
    "branch_upsert_epoch" ->
      Map("create" -> 14L, "rename" -> 15L, "delete" -> 5L, "mkdirs" -> 24L, "exists" -> 34L),
    "branch_delete" ->
      Map("create" -> 2L, "rename" -> 1L, "delete" -> 1L, "mkdirs" -> 3L, "exists" -> 6L))

  private def base(tag: String): String = {
    spark.sparkContext.hadoopConfiguration.set("fs.fscount.impl", classOf[CountingFs].getName)
    "fscount:" + Files.createTempDirectory(tag).toString
  }

  private def table(dir: String): Unit = {
    val rows = Seq(("d01", "a", 10L), ("d01", "b", 11L), ("d02", "a", 20L), ("d03", "c", 3L))
      .toDF("day", "cat", "v")
    Sources.writeParquet(rows.repartition(1), dir, partitionCols = Seq("day"))
    Snapshots.commit(spark, dir, Seq("day", "cat"), Seq("cat"))
  }

  private def check(op: String, got: Map[String, Long]): Unit = {
    val callers = CountingFs.byCaller.asScala.toSeq.map { case (c, n) => c -> n.get }
    info(
      s"fs-calls $op " + CountingFs.Kinds.map(k => s"$k=${got(k)}").mkString(" ") + " | by caller: " +
        callers.sortBy { case (c, n) => (-n, c) }.map { case (c, n) => s"$c=$n" }.mkString(" "))
    CountingFs.Kinds.foreach { k =>
      assert(got(k) <= bounds(op)(k), s"$op issues ${got(k)} $k calls, above ${bounds(op)(k)}")
    }
  }

  test("one DeleteVectors.upsert epoch issues no more namespace calls than the bound") {
    val dir = base("fscount_ups") + "/t"
    table(dir)
    def epoch(e: Long, v: Long) =
      DeleteVectors.upsert(
        spark, dir, Seq(("d01", "a", v), ("d04", s"n$e", v)).toDF("day", "cat", "v"),
        Seq("day", "cat"), streamTag = "q", epochId = e)
    epoch(0L, 100L)
    check("upsert_epoch", CountingFs.during(epoch(1L, 101L)))
    assert(DeleteVectors.upsert(
      spark, dir, Seq(("d01", "a", 0L)).toDF("day", "cat", "v"), Seq("day", "cat"),
      streamTag = "q", epochId = 1L) == ((0L, 0L)), "the counted epoch must have advanced the marker")
  }

  test("one branch upsert epoch issues no more namespace calls than the bound") {
    val dir = base("fscount_bups") + "/t"
    table(dir)
    Snapshots.createBranch(spark, dir, "dev")
    def epoch(e: Long, v: Long) =
      DeleteVectors.upsert(
        spark, dir, Seq(("d01", "a", v), ("d04", s"n$e", v)).toDF("day", "cat", "v"),
        Seq("day", "cat"), streamTag = "q", epochId = e, branch = "dev")
    epoch(0L, 100L)
    check("branch_upsert_epoch", CountingFs.during(epoch(1L, 101L)))
    assert(DeleteVectors.upsert(
      spark, dir, Seq(("d01", "a", 0L)).toDF("day", "cat", "v"), Seq("day", "cat"),
      streamTag = "q", epochId = 1L, branch = "dev") == ((0L, 0L)), "the counted epoch must have advanced the marker")
    assert(Snapshots.readBranch(spark, dir, "dev").select(sum($"v")).head().getLong(0) == 336L)
  }

  test("one branch delete issues no more namespace calls than the bound") {
    val dir = base("fscount_bdel") + "/t"
    table(dir)
    Snapshots.createBranch(spark, dir, "dev")
    DeleteVectors.deleteWhere(spark, dir, $"cat" === "b", branch = "dev")
    check("branch_delete", CountingFs.during(DeleteVectors.deleteWhere(spark, dir, $"cat" === "c", branch = "dev")))
    assert(Snapshots.readBranch(spark, dir, "dev").count() == 2L)
    assert(Snapshots.readSnapshot(spark, dir).count() == 4L)
  }

  /** Lands one fresh parquet file under `<dir>/day=<day>/`, uncommitted. */
  private def land(dir: String, day: String): String = {
    val stage = s"$dir/.stage-$day"
    Seq(("x", 1L)).toDF("cat", "v").coalesce(1).write.parquet(stage)
    val fs = new Path(stage).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = fs.listStatus(new Path(stage)).map(_.getPath).find(_.getName.endsWith(".parquet")).get
    val rel = s"day=$day/${part.getName}"
    fs.mkdirs(new Path(s"$dir/day=$day"))
    assert(fs.rename(part, new Path(s"$dir/$rel")))
    fs.delete(new Path(stage), true)
    rel
  }

  test("one Snapshots.commitAppend issues no more namespace calls than the bound") {
    val dir = base("fscount_app") + "/t"
    table(dir)
    Snapshots.commitAppend(spark, dir, Seq(land(dir, "d05")))
    val v = Snapshots.latestVersion(spark, dir)
    val rel = land(dir, "d06")
    check("commit_append", CountingFs.during(Snapshots.commitAppend(spark, dir, Seq(rel))))
    assert(Snapshots.latestVersion(spark, dir) == v + 1L)
  }

  test("one Mv.refresh issues no more namespace calls than the bound") {
    val b = base("fscount_mv")
    val (src, mv) = (s"$b/src", s"$b/mv")
    table(src)
    Mv.create(spark, src, mv, Seq("day"), Seq("count(*) AS n", "sum(v) AS sv"))
    DeleteVectors.upsert(spark, src, Seq(("d02", "a", 21L)).toDF("day", "cat", "v"), Seq("day", "cat"))
    Mv.refresh(spark, mv)
    DeleteVectors.upsert(spark, src, Seq(("d03", "c", 4L)).toDF("day", "cat", "v"), Seq("day", "cat"))
    check("mv_refresh", CountingFs.during(Mv.refresh(spark, mv)))
    assert(Mv.definition(spark, mv).refreshedVersion == Snapshots.latestVersion(spark, src))
  }

  /** A catalog named `name` over the tables under `b`. */
  private def catalog(name: String, b: String): Unit = {
    spark.conf.set(s"spark.sql.catalog.$name", classOf[graft.sources.snap.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.root", b)
  }

  test("one scoped CALL compact issues no more namespace calls than the bound") {
    val b = base("fscount_compact")
    val dir = s"$b/t"
    table(dir)
    catalog("fscc", b)
    // two small appends to one day, then that day's compaction
    def appends(): Unit = Seq(101L, 102L).foreach { v =>
      DeleteVectors.upsert(spark, dir, Seq(("d01", s"x$v", v)).toDF("day", "cat", "v"), Seq("day", "cat"))
    }
    def compact() = spark.sql("CALL fscc.compact(table => 't', where => \"day = 'd01'\")").collect()
    appends()
    compact()
    appends()
    val v = Snapshots.latestVersion(spark, dir)
    check("call_compact", CountingFs.during(compact()))
    assert(Snapshots.latestVersion(spark, dir) == v + 1L)
    assert(Snapshots.listDataFiles(spark, dir).count(_.startsWith("day=d01/")) == 1)
  }

  test("one SQL UPDATE issues no more namespace calls than the bound") {
    val b = base("fscount_update")
    val dir = s"$b/t"
    table(dir)
    catalog("fscu", b)
    spark.sql("UPDATE fscu.t SET v = v + 1 WHERE cat = 'a'")
    val v = Snapshots.latestVersion(spark, dir)
    check("sql_update", CountingFs.during(spark.sql("UPDATE fscu.t SET v = v + 1 WHERE cat = 'a'")))
    assert(Snapshots.latestVersion(spark, dir) == v + 1L)
    assert(Snapshots.readSnapshot(spark, dir).filter($"cat" === "a").select(sum($"v")).head().getLong(0) == 34L)
  }

  test("one ALTER TABLE ADD COLUMNS issues no more namespace calls than the bound") {
    val b = base("fscount_alter")
    val dir = s"$b/t"
    table(dir)
    catalog("fsca", b)
    spark.sql("ALTER TABLE fsca.t ADD COLUMNS (x1 STRING)")
    val v = Snapshots.latestVersion(spark, dir)
    check("alter_add_columns", CountingFs.during(spark.sql("ALTER TABLE fsca.t ADD COLUMNS (x2 STRING)")))
    assert(Snapshots.latestVersion(spark, dir) == v + 1L)
    assert(Snapshots.manifestView(spark, dir).schema.get.fieldNames.takeRight(2).toSeq == Seq("x1", "x2"))
  }

  test("one Snapshots.restore issues no more namespace calls than the bound") {
    val dir = base("fscount_restore") + "/t"
    table(dir)
    def upsert(v: Long) = DeleteVectors.upsert(
      spark, dir, Seq(("d01", "a", v), ("d04", "n", v)).toDF("day", "cat", "v"), Seq("day", "cat"))
    upsert(100L)
    Snapshots.restore(spark, dir, 1L)
    upsert(101L)
    val v = Snapshots.latestVersion(spark, dir)
    check("restore", CountingFs.during(Snapshots.restore(spark, dir, 1L)))
    assert(Snapshots.latestVersion(spark, dir) == v + 1L)
    assert(Snapshots.readSnapshot(spark, dir).select(sum($"v")).head().getLong(0) == 44L)
  }

  test("one metadata-only SQL DELETE issues no more namespace calls than the bound") {
    val b = base("fscount_delete")
    val dir = s"$b/t"
    table(dir)
    catalog("fscd", b)
    spark.sql("DELETE FROM fscd.t WHERE day = 'd03'")
    val v = Snapshots.latestVersion(spark, dir)
    check("sql_delete_partition", CountingFs.during(spark.sql("DELETE FROM fscd.t WHERE day = 'd02'")))
    assert(Snapshots.latestVersion(spark, dir) == v + 1L)
    assert(Snapshots.readSnapshot(spark, dir).count() == 2L)
  }

  test("planning a pinned change-feed window probes no table head; an end past the head still fails") {
    val dir = base("fscount_cdf") + "/t"
    table(dir)
    DeleteVectors.upsert(spark, dir, Seq(("d01", "a", 12L)).toDF("day", "cat", "v"), Seq("day", "cat"))
    DeleteVectors.upsert(spark, dir, Seq(("d02", "z", 5L)).toDF("day", "cat", "v"), Seq("day", "cat"))
    val head = Snapshots.latestVersion(spark, dir)
    def feed(to: Long): org.apache.spark.sql.DataFrame = {
      val opts = new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        Map("startingversion" -> "2", "endingversion" -> to.toString).asJava)
      org.apache.spark.sql.graft.Bridge.ofRows(
        spark,
        org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
          .create(new graft.sources.snap.SnapChangesTable(dir), None, None, opts))
    }
    val n = feed(head).count() // warms the manifest views
    // the table reads its schema when the relation is built; only the
    // planning (and the read) of the window is counted
    val window = feed(head)
    CountingFs.during(assert(window.count() == n))
    val headProbes =
      CountingFs.probed.asScala.filter(_.contains(s"/${Snapshots.ManifestDirName}")).toSeq
    assert(headProbes.isEmpty, s"a pinned window probed the manifests: $headProbes")
    val e = intercept[Exception](feed(head + 1L).count())
    assert(e.getMessage.contains(s"changes range [2, ${head + 1L}] out of history"), e.getMessage)
  }

  test("a table with stats columns and no bloom columns makes no sidecar dirs") {
    val dir = base("fscount_nodirs") + "/t"
    val schema = Seq(("d01", "a", 1L)).toDF("day", "cat", "v").schema
    Snapshots.createTable(spark, dir, schema, Seq("day"), Seq("day", "cat", "v"))
    Snapshots.commitAppend(spark, dir, Seq(land(dir, "d01")))
    DeleteVectors.upsert(spark, dir, Seq(("d01", "x", 2L)).toDF("day", "cat", "v"), Seq("day", "cat"))
    assert(Snapshots.readSnapshot(spark, dir).count() == 1L)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val made = Seq("bloom", "ndv", "sum").filter(d => fs.exists(new Path(s"$dir/${Snapshots.ManifestDirName}/$d")))
    assert(made.isEmpty, s"sidecar dirs made with nothing to write: $made")
  }

  test("a missing sidecar is read once, and the commit that rebuilds it reaches the cache") {
    val dir = base("fscount_sidecar") + "/t"
    val rows = Seq(("d01", "a", 10L), ("d01", "b", 11L), ("d02", "a", 20L)).toDF("day", "cat", "v")
    Sources.writeParquet(rows.repartition(1), dir, partitionCols = Seq("day"))
    Snapshots.commit(spark, dir, Seq("day", "cat", "v"), Seq("cat"))
    val rel = Snapshots.files(spark, dir).filter(_.startsWith("day=d01/")).head
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def hex(s: String) = s.getBytes("UTF-8").map(b => f"${b & 0xff}%02x").mkString
    def sidecar(kind: String, c: String) = new Path(s"$dir/${Snapshots.ManifestDirName}/$kind/${hex(rel)}.${hex(c)}")
    Seq(("bloom", "cat"), ("ndv", "cat"), ("sum", "v")).foreach { case (k, c) => assert(fs.delete(sidecar(k, c), false)) }
    val zero = CountingFs.Kinds.map(_ -> 0L).toMap
    // each absent sidecar reads as "cannot exclude" / "fall back", and the
    // second probe of it is answered from memory
    def twice[T](probe: => T): T = {
      val first = probe
      val calls = CountingFs.during(assert(probe == first))
      assert(calls == zero, s"the second probe of an absent sidecar issued $calls")
      first
    }
    assert(twice(ValueIndex.bloomMightContain(spark, dir, rel, "cat", "zz")))
    assert(twice(ValueIndex.ndvRegisters(spark, dir, rel, "cat")).isEmpty)
    assert(twice(ValueIndex.fileSumOf(spark, dir, rel, "v")).isEmpty)
    // the listing commit rebuilds all three; the cache must drop the absences
    Snapshots.commit(spark, dir)
    assert(!ValueIndex.bloomMightContain(spark, dir, rel, "cat", "zz"), "the rebuilt bloom must exclude")
    assert(ValueIndex.bloomMightContain(spark, dir, rel, "cat", "b"))
    assert(ValueIndex.ndvRegisters(spark, dir, rel, "cat").isDefined)
    assert(ValueIndex.fileSumOf(spark, dir, rel, "v").contains(BigInt(21)))
  }
}
