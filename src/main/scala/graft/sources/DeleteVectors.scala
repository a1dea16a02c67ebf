package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions.{broadcast, coalesce, col, concat_ws, lit}
import org.apache.spark.sql.functions.{pmod, sum, typedLit, udf, when}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.sources.Snapshots.ColStat

/** Merge-on-read DELETE for snapshot tables — deletion vectors.
  *
  * Rewriting every file that holds a match prices a deletion at the size
  * of those files: exactly the wrong cost model for the common 100 TB
  * case — deleting 0.01 % of rows (a GDPR erasure, a bad-record purge)
  * from files of a million rows each rewrites a million rows per file to
  * remove a hundred. The lakehouse answer (Delta's deletion vectors,
  * Iceberg's position deletes) is MERGE-ON-READ: record WHICH row
  * positions died and subtract them at scan time; rewrite nothing until
  * a compaction ([[materialize]]) folds the vectors in. The programmatic
  * DML of [[Sources]] runs the same match and folds the touched files in
  * the same commit ([[purge]]), for callers that need no live file to
  * hold a deleted row.
  *
  * Representation here:
  *  - One sidecar parquet file of `(rel, pos)` rows per DV'd data file,
  *    under the hidden `<root>/.snap-dv/` tree ([[Snapshots.DvDirName]]).
  *    `pos` is the file-row ordinal — the snapshot reader's `_pos`, the
  *    row's index in its file, so positions survive any reader
  *    parallelism. Positions are sorted and distinct; the reader
  *    subtracts them from the file inside each scan task.
  *  - The manifest's per-file stats map carries the pointer
  *    ([[Snapshots.DvPathKey]] → sidecar rel, [[Snapshots.DvCountKey]] →
  *    exact deleted count) — so DV state flows through delta commits,
  *    checkpoints, partition-index groups, clone re-rendering and the
  *    stats-carry of every other commit with no new manifest machinery.
  *  - A file accrues deletes from MANY deletes but always points at ONE
  *    sidecar: a later delete merges the previous positions into its new
  *    sidecar (cost: O(existing DV) per touched file, never O(data)).
  *    Old sidecars keep serving pinned versions until [[Snapshots.vacuum]].
  *
  * Scale shape of [[deleteWhere]]: one pruned snapshot scan to find
  * matches (manifest stats + bloom narrowing), one
  * shuffle of the MATCHED (rel, pos) pairs only — not the data — a
  * distributed sidecar write, and an O(touched-files) manifest delta. No
  * data file is read past the match scan and none is written. Reads pay
  * one sidecar read per DV'd file, inside its scan task, until
  * materialization.
  *
  * Semantics: snapshot-isolated (the delete applies to the version its
  * scan pinned), time-travelable (pre-delete versions keep reading the
  * undeleted rows through their own manifests' DV state), restorable
  * ([[Snapshots.restore]] restores the target version's DV pointers), and
  * CDC-precise (`cat.t.changes` emits exactly the newly-dead rows as
  * `delete` — see [[graft.sources.snap.SnapChanges]]).
  */
object DeleteVectors {

  private val sidecarSchema = StructType(
    Seq(StructField("rel", StringType, nullable = false), StructField("pos", LongType, nullable = false)))

  /** Bounded merge-on-read: when a delete pushes a file's deleted
    * fraction STRICTLY above `spark.graft.dv.maxDeletedFraction`
    * (default 0.9) — and survivors remain — the file is REWRITTEN in the
    * same commit instead of pointed at. Unbounded vector growth is the
    * known MoR failure mode (every read of a 95 %-deleted file decodes
    * 20× the surviving rows); the threshold caps read amplification at
    * `1/(1−threshold)` while keeping the common small-delete case
    * rewrite-free. Provably-empty files stay as pointers (they cost
    * nothing: every plan prunes them). Set the conf to 1.0 to never
    * auto-rewrite, lower it for read-heavy tables.
    */
  val DefaultMaxDeletedFraction = 0.9

  private def maxDeletedFraction(spark: SparkSession): Double =
    spark.conf.getOption("spark.graft.dv.maxDeletedFraction") match {
      case None => DefaultMaxDeletedFraction
      case Some(s) =>
        // refuse loudly: a silently-swallowed typo would re-enable (or a
        // NaN would silently disable) auto-rewrites
        val t = scala.util.Try(s.toDouble).getOrElse(sys.error(
          s"spark.graft.dv.maxDeletedFraction must be a number in [0, 1], got '$s'"))
        require(
          !t.isNaN && t >= 0.0 && t <= 1.0,
          s"spark.graft.dv.maxDeletedFraction must be in [0, 1], got '$s'")
        t
    }

  /** Merge-on-read DELETE: record the positions of rows matching
    * `predicate` as deletion vectors and commit the pointer update — no
    * data file is rewritten. Returns (files touched, rows newly deleted).
    *
    * NULL-predicate rows are NOT matched (kept), the same three-valued
    * rule as every row-level op. Rows already deleted by an earlier DV are
    * never double-counted: the new sidecar is the DISTINCT union of old
    * and new positions and the recorded count is exact.
    */
  def deleteWhere(spark: SparkSession, root: String, predicate: Column): (Long, Long) =
    Snapshots.withTableLock(spark, root) {
      val version = Snapshots.latestVersion(spark, root)
      require(
        version > 0L,
        s"merge-on-read delete on $root needs a committed manifest — Snapshots.commit / createTable first")
      val view = Snapshots.manifestView(spark, root, version)
      require(
        view.schema.isDefined,
        s"merge-on-read delete on $root needs a v2 manifest (recorded schema) — " +
          "commit with statsCols to upgrade")
      boundedCommit(spark, root, view, matchDeletes(spark, root, view, predicate))
    }

  /** The MoR delete's match core over one VIEW's files (main line or a
    * branch): the match scan of the [[predicateCandidates]], whose rows
    * where the predicate holds (a NULL predicate row is not matched)
    * become sidecars ([[writeSidecarsOf]]). Returns (rel, new sidecar
    * rel, merged count) per touched file; the caller commits (main:
    * [[boundedCommit]]; branch: a branch-delta restate).
    */
  private[sources] def matchDeletes(
      spark: SparkSession,
      root: String,
      view: Snapshots.ManifestView,
      predicate: Column): Seq[(String, String, Long)] = {
    val candidates = predicateCandidates(spark, root, view, predicate)
    if (candidates.isEmpty) Seq.empty
    else {
      val scan = matchScan(spark, root, view, candidates)
      writeSidecarsOf(spark, root, view, candidates, scan, scan.filter(coalesce(predicate, lit(false))))
    }
  }

  /** The files of `view` that may hold a row matching `predicate`, found
    * BEFORE any data I/O: skip provably-fully-deleted files, stats-prune
    * the predicate's top-level range conjuncts against the manifest's
    * per-file intervals (the `DELETE WHERE day = X` shape opens only that
    * day's files at any table size), then bloom-narrow equality probes.
    */
  private[sources] def predicateCandidates(
      spark: SparkSession,
      root: String,
      view: Snapshots.ManifestView,
      predicate: Column): Seq[String] = {
    val alive = view.rels.filterNot(r =>
      Snapshots.fullyDeleted(view.stats.getOrElse(r, Map.empty)))
    if (alive.isEmpty) return Seq.empty
    val probeFrame = Snapshots.scanRels(spark, root, view, alive.take(1))
    val ranges = Sources.rangeProbes(probeFrame, predicate)
    val statsPruned =
      if (ranges.isEmpty) alive
      else
        alive.filter(rel =>
          Snapshots.fileMatchesRanges(view.stats.getOrElse(rel, Map.empty), ranges))
    val probes = Sources.equalityProbes(probeFrame, predicate)
    val active = probes.filter { case (c, _) => view.bloomCols.contains(c) }
    if (active.isEmpty) statsPruned
    else
      statsPruned.filter { rel =>
        active.forall { case (c, v) => Snapshots.bloomMightContain(spark, root, rel, c, v) }
      }
  }

  /** The sidecar write of one match: `matched` (rows of `scan`, the match
    * scan of `candidates`) become positions merged into each candidate's
    * recorded vector under a fresh commit tag.
    */
  private def writeSidecarsOf(
      spark: SparkSession,
      root: String,
      view: Snapshots.ManifestView,
      candidates: Seq[String],
      scan: DataFrame,
      matched: DataFrame): Seq[(String, String, Long)] = {
    val oldDvByRel: Map[String, String] = candidates.flatMap { rel =>
      Snapshots.dvOf(view.stats.getOrElse(rel, Map.empty)).map { case (p, _) => rel -> p }
    }.toMap
    val commitTag = java.util.UUID.randomUUID().toString.take(8)
    val coordinates = matched.select(
      Snapshots.relOfScanned(scan).as("rel"), col(snap.SnapTable.PosMetaCol).as("pos"))
    writeSidecars(spark, root, coordinates, oldDvByRel, commitTag, rawRowBound(view, candidates))
  }

  /** [[matchScan]] read by at most `tasks` tasks: the snapshot scan reads
    * one file per task, and a job over many small files pays per task.
    */
  private def packedScan(
      spark: SparkSession,
      root: String,
      view: Snapshots.ManifestView,
      rels: Seq[String],
      tasks: Int): DataFrame = {
    val scan = matchScan(spark, root, view, rels)
    if (rels.size > tasks) scan.coalesce(tasks) else scan
  }

  /** The match scan of `rels`: [[Snapshots.scanRels]] with each row's
    * `_file` and `_pos` as plain columns, so they survive the match's
    * filter or join into [[Snapshots.relOfScanned]].
    */
  private def matchScan(
      spark: SparkSession,
      root: String,
      view: Snapshots.ManifestView,
      rels: Seq[String]): DataFrame =
    Snapshots
      .scanRels(spark, root, view, rels)
      .select(col("*"), col(snap.SnapTable.FileMetaCol), col(snap.SnapTable.PosMetaCol))

  /** Merge-on-read DELETE on a WRITABLE BRANCH — the live line is
    * untouched: matched positions (over the BRANCH's file set, fork files
    * and branch appends alike) become deletion vectors recorded by a
    * branch-delta restate, so `readBranch` / `VERSION AS OF '<branch>'`
    * subtract them while every main read keeps the rows. Combined with
    * [[Snapshots.fastForward]] — which carries the branch's pointer
    * changes into the live line when main hasn't diverged — a branch is
    * the STAGING AREA for a risky bulk delete: run it on the fork,
    * validate the branch read, then adopt (or drop) it, all without a
    * byte of data rewrite. Same narrowing as [[deleteWhere]]; no
    * threshold rewrite on branches (vectors fold on the main line after
    * adoption, by the ordinary maintenance passes). Returns
    * (files touched, rows newly deleted).
    */
  def deleteOnBranch(
      spark: SparkSession,
      root: String,
      name: String,
      predicate: Column): (Long, Long) =
    Snapshots.withTableLock(spark, root) {
      val bv = Snapshots.branchView(spark, root, name)
      require(
        bv.schema.isDefined,
        s"merge-on-read branch delete on $root needs a v2 manifest (recorded schema)")
      val written = matchDeletes(spark, root, bv, predicate)
      val (changed, newlyDeleted) = pointerUpdatesOf(bv, written)
      if (changed.isEmpty) return (0L, 0L)
      // the view was built under THIS table lock — pass it through, no
      // second branch-chain read
      Snapshots.restateOnBranch(spark, root, name, bv, changed)
      (changed.size.toLong, newlyDeleted)
    }

  /** Apply a batch of freshly-written sidecar results as ONE commit,
    * under the bounded-MoR policy — the shared back half of the MoR
    * DELETE, the upsert and the delta-based UPDATE/MERGE write:
    *
    *  - a file whose new position set equals its old one is NOT restated
    *    (count equality IS set equality — the merged set is a superset of
    *    the old; the fresh sidecar becomes an orphan vacuum reaps) — a
    *    spurious restate would read as a change commit downstream;
    *  - files whose deleted fraction crossed
    *    `spark.graft.dv.maxDeletedFraction` (with survivors) REWRITE in
    *    the same commit instead of pointing: replacements stage first
    *    (no live-tree mutation), then one [[DataFiles.swap]] archives the
    *    originals, lands the replacements and the caller's staged
    *    appends, and commits — a failed statement leaves the live tree
    *    and the archive as they were;
    *  - map-typed tables never auto-rewrite: the change feed's multiset
    *    cancellation cannot byte-key map values across a rewrite, and DV
    *    pointer updates are the feed's map-safe representation.
    *
    * `added`: staged files (path, live rel) the caller appends in the same
    * version — the upsert's rows, the delta DML's inserts. Returns (files
    * with changed pointers or rewrites, newly deleted rows).
    */
  private[sources] def boundedCommit(
      spark: SparkSession,
      root: String,
      view: Snapshots.ManifestView,
      written: Seq[(String, String, Long)],
      added: Seq[(Path, String)] = Seq.empty): (Long, Long) = {
    val (changed, newlyDeleted) = pointerUpdatesOf(view, written)
    if (changed.isEmpty && added.isEmpty) return (0L, 0L)
    val mapTyped =
      view.schema.exists(s => s.fields.exists(f => Snapshots.containsMapType(f.dataType)))
    val threshold = maxDeletedFraction(spark)
    val (rewriteNow, pointerUpdates) =
      if (mapTyped) (Map.empty[String, Map[String, ColStat]], changed)
      else
        changed.partition { case (_, st) =>
          val rows = st.get(Snapshots.RowCountKey).map(_.min.toLong)
          val cnt = Snapshots.dvOf(st).map(_._2).getOrElse(0L)
          rows.exists(r => cnt < r && cnt.toDouble > threshold * r.toDouble)
        }
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val replaced = rewriteNow.keys.toSeq
    DataFiles.rewrite(spark, fs, rootPath, replaced, added) { stage =>
      stageRewrites(spark, root, stage, view.copy(stats = view.stats ++ rewriteNow), replaced)
    } { landed =>
      Snapshots.commitRestated(spark, root, pointerUpdates, addedRels = landed, removedRels = replaced)
    }
    (changed.size.toLong, newlyDeleted)
  }

  /** Fresh-sidecar results folded into per-file POINTER UPDATES — the one
    * encoding of DV state both commit faces share (main-line
    * [[boundedCommit]] and the branch restate): a file whose merged count
    * equals its old one is a NO-OP (count equality IS set equality — the
    * merged sidecar is a superset; the fresh sidecar becomes an orphan
    * vacuum reaps), every other file's stats are re-stated with the new
    * pointer. Returns (rel → new stats, rows newly deleted).
    */
  private def pointerUpdatesOf(
      view: Snapshots.ManifestView,
      written: Seq[(String, String, Long)]): (Map[String, Map[String, ColStat]], Long) = {
    var newlyDeleted = 0L
    val changed: Map[String, Map[String, ColStat]] = written.flatMap {
      case (rel, dvRel, cnt) =>
        val st = view.stats.getOrElse(rel, Map.empty[String, ColStat])
        val oldCnt = Snapshots.dvOf(st).map(_._2).getOrElse(0L)
        if (cnt == oldCnt) None
        else {
          newlyDeleted += cnt - oldCnt
          Some(rel -> (st.filterNot(e => Snapshots.isDvKey(e._1)) ++ Map(
            Snapshots.DvPathKey -> ColStat("s", dvRel, dvRel),
            Snapshots.DvCountKey -> ColStat("l", cnt.toString, cnt.toString))))
        }
    }.toMap
    (changed, newlyDeleted)
  }

  /** Stage the rewrite of `rels` under `view` in ONE Spark job
    * ([[DataFiles.Rewrites.intoDirs]]): `keep` maps their match scan
    * (recorded vectors subtracted) to the rows they keep, with
    * `_file`/`_pos`, and each row lands in its file's own dir. `landing`
    * (rows, their partition columns) adds rows to the dirs Spark's
    * partitioned writer would name. A provably fully-deleted file is
    * never read. Layout: each dir's output is sized from the on-disk
    * bytes of its rewritten files (`spark.graft.rewrite.targetBytes`).
    * When every dir fits the target and nothing lands, the scan tasks
    * (small files packed into shared tasks, each task's input near the
    * target) write their rows with no shuffle; otherwise rows shuffle by
    * (dir, bucket), one ~target-sized file per bucket, and landed rows
    * join their dir's first bucket (one file per dir).
    */
  private def stageRewrites(
      spark: SparkSession,
      root: String,
      stage: DataFiles.Rewrites,
      view: Snapshots.ManifestView,
      rels: Seq[String],
      keep: DataFrame => DataFrame = identity,
      landing: Option[(DataFrame, Seq[String])] = None): Unit = {
    import graft.sources.snap.SnapTable.{FileMetaCol, PosMetaCol}
    val live = rels.filterNot(r => Snapshots.fullyDeleted(view.stats.getOrElse(r, Map.empty)))
    if (live.isEmpty && landing.isEmpty) return
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val target = Sources.rewriteTargetBytes(spark)
    val dirs = live.map(r => r -> DataFiles.dirOf(r)).toMap
    // a rel no longer live fails here
    val bytes = live.map(r => r -> fs.getFileStatus(new Path(rootPath, r)).getLen).toMap
    val buckets = live.groupBy(dirs).map { case (dir, rs) =>
      dir -> Sources.rewriteFileCount(rs.map(bytes).sum, target)
    }
    val pathCols = (live.flatMap(snap.SnapFilters.partValsOf(_).map(_._1)) ++
      landing.toSeq.flatMap(_._2)).distinct
    val oversized = buckets.filter(_._2 > 1)
    // a task's unshuffled output stays near the target size
    val tasks =
      math.max(spark.sparkContext.defaultParallelism, Sources.rewriteFileCount(bytes.values.sum, target))
    val scan = Option.when(live.nonEmpty)(packedScan(spark, root, view, live, tasks))
    val dataCols = scan
      .getOrElse(landing.get._1)
      .columns
      .filterNot((pathCols ++ Seq(FileMetaCol, PosMetaCol)).contains)
      .toSeq
    val rewritten = scan.map { s =>
      val dir = typedLit(dirs).apply(Snapshots.relOfScanned(s))
      keep(s).select(dataCols.map(col) ++ Seq(
        dir.as(DataFiles.DirCol),
        (if (oversized.isEmpty) lit(0L)
         else pmod(col(PosMetaCol), coalesce(typedLit(oversized).apply(dir), lit(1)).cast(LongType)))
          .as(BucketCol)): _*)
    }
    val landed = landing.map { case (rows, partCols) =>
      // the dir Spark's partitioned writer names for the row's values
      val seg = partCols.map(c => udf((v: String) => ExternalCatalogUtils.getPartitionPathString(c, v)))
      rows.select(dataCols.map(col) ++ Seq(
        concat_ws("/", partCols.zip(seg).map { case (c, f) => f(col(c).cast(StringType)) }: _*)
          .as(DataFiles.DirCol),
        lit(0L).as(BucketCol)): _*)
    }
    val rows = (rewritten ++ landed).reduce(_ unionByName _)
    val laid =
      if (oversized.nonEmpty)
        rows.repartition(buckets.values.sum + landing.size, col(DataFiles.DirCol), col(BucketCol))
      else if (landing.nonEmpty) rows.repartition(col(DataFiles.DirCol))
      else rows
    stage.intoDirs(sub =>
      laid
        .drop(BucketCol)
        .write
        .partitionBy(DataFiles.DirCol)
        .mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(sub.toString))
  }

  /** The bucket of a row within its dir in [[stageRewrites]]' layout. */
  private val BucketCol = "__graft_bucket__"

  /** Union two deletion-vector sidecars of the SAME data file into one
    * fresh sidecar — the rebase resolution when both the branch line and
    * the live line vectored the file (both position domains address the
    * same immutable bytes, so the union is each line's deletes applied).
    * Either side may be absent. Driver-side, through the one sidecar
    * write kernel ([[writeMergedSidecar]]; every sidecar holds ascending
    * positions, the kernel writes them so). Returns (new sidecar rel,
    * distinct position count); the superseded sidecars die in vacuum.
    */
  private[sources] def unionSidecars(
      spark: SparkSession,
      root: String,
      dataRel: String,
      aRel: Option[String],
      bRel: Option[String]): (String, Long) = {
    val hconf = org.apache.spark.sql.graft.Bridge.sessionHadoopConf(spark)
    val newDvRel =
      s"${Snapshots.DvDirName}/$dataRel.dv-rb-${java.util.UUID.randomUUID().toString.take(8)}.parquet"
    val fresh = bRel.fold(Iterator.empty[Long])(positionsOf(hconf, root, _))
    (newDvRel, writeMergedSidecar(hconf, root, dataRel, newDvRel, aRel, fresh))
  }

  /** Matched-row ceiling under which a keyed delete/upsert writes its
    * deletion-vector sidecars DRIVER-SIDE: when the candidate files' raw
    * recorded row count (manifest stats, known before any job) is at or
    * below this, the matched (rel, pos) pairs are collected in the match
    * scan's own job and the sidecars stream out through the same merge
    * kernel the distributed tasks run — no repartition/sort shuffle, no
    * second job. A large delete/backfill epoch exceeds the
    * bound and keeps the distributed path, so at 100 TB this only serves
    * the small-epoch case it is meant for. Driver cost is bounded by the
    * ceiling itself (≤ a few MB of longs, a sort, a streamed write). A
    * constant, 2^18 rows; specs lower it with `withValue(0L)` to force
    * the shuffle path.
    */
  private[sources] val dvDriverWriteMaxRows = new scala.util.DynamicVariable[Long](1L << 18)

  /** Raw recorded rows across `rels` — the sound collect bound for a match
    * over those files (a match scan reads RAW rows, deleted included).
    * None when any file's manifest predates row counts.
    */
  private def rawRowBound(
      view: Snapshots.ManifestView,
      rels: Seq[String]): Option[Long] =
    rels.foldLeft(Option(0L)) { (acc, rel) =>
      acc.flatMap(s =>
        view.stats
          .getOrElse(rel, Map.empty)
          .get(Snapshots.RowCountKey)
          .map(cs => s + cs.min.toLong))
    }

  /** The positions of the sidecar `rel`, streamed in its (ascending)
    * order; the reader closes at the end.
    */
  private def positionsOf(
      hconf: org.apache.hadoop.conf.Configuration,
      rootStr: String,
      rel: String): Iterator[Long] = {
    val r = org.apache.spark.sql.graft.Bridge.parquetRowReader(
      new Path(new Path(rootStr), rel),
      StructType(Seq(StructField("pos", LongType, nullable = false))),
      hconf)
    new Iterator[Long] {
      private var cur = r.read()
      if (cur == null) r.close()
      override def hasNext: Boolean = cur != null
      override def next(): Long = {
        val v = cur.getLong(0)
        cur = r.read()
        if (cur == null) r.close()
        v
      }
    }
  }

  /** The single per-rel sidecar write kernel every sidecar path runs — the
    * distributed tasks and the driver fast path produce byte-identical
    * files by construction: a streaming sorted-merge of the old sidecar's
    * positions and the fresh matches (both ascending, duplicates collapse)
    * through the same parquet row writer. Returns the merged count.
    */
  private def writeMergedSidecar(
      hconf: org.apache.hadoop.conf.Configuration,
      rootStr: String,
      rel: String,
      dvRel: String,
      oldRel: Option[String],
      fresh: Iterator[Long]): Long = {
    val old = oldRel.fold(Iterator.empty[Long])(positionsOf(hconf, rootStr, _))
    val w = org.apache.spark.sql.graft.Bridge.parquetRowWriter(
      new Path(new Path(rootStr), dvRel),
      sidecarSchema,
      hconf)
    val relU = org.apache.spark.unsafe.types.UTF8String.fromString(rel)
    var n = 0L
    var last = Long.MinValue
    val a = old.buffered
    val b = fresh.buffered
    while (a.hasNext || b.hasNext) {
      val v =
        if (!a.hasNext) b.next()
        else if (!b.hasNext) a.next()
        else if (a.head <= b.head) a.next()
        else b.next()
      if (v != last || n == 0L) {
        w.write(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](relU, v)))
        n += 1L
        last = v
      }
    }
    w.close()
    n
  }

  /** Distributed sidecar write: shuffle ONLY the matched (rel, pos) pairs,
    * one partition stream per hash bucket, each task writing one sidecar
    * per rel it owns (positions sorted-distinct, previous sidecar's
    * positions merge-deduped in — a streaming merge of two sorted runs,
    * O(1) memory). Returns (rel, sidecar rel, total positions) per rel —
    * O(touched files) driver metadata. Task-attempt-unique sidecar names keep
    * retries safe: only the winning attempt's names are committed,
    * orphans die in vacuum.
    *
    * `rawRowBound`: an upper bound on the matched pairs — the candidates'
    * raw recorded row count when every candidate has one, or the delta
    * DML's exact position total — at or below [[dvDriverWriteMaxRows]] the
    * matched pairs are provably collectable and the sidecars write driver-side in
    * the match scan's own job (no shuffle, no second job): the dominant
    * fixed cost of every small keyed epoch (guide §2.4).
    */
  private[sources] def writeSidecars(
      spark: SparkSession,
      root: String,
      matches: DataFrame,
      oldDvByRel: Map[String, String],
      commitTag: String,
      rawRowBound: Option[Long] = None): Seq[(String, String, Long)] = {
    import spark.implicits._
    val rootStr = root
    val dvDir = Snapshots.DvDirName
    if (rawRowBound.exists(_ <= dvDriverWriteMaxRows.value)) {
      val collected = matches
        .select(col("rel").as("_1"), col("pos").as("_2"))
        .as[(String, Long)]
        .collect()
      val hconf = org.apache.spark.sql.graft.Bridge.sessionHadoopConf(spark)
      return collected
        .groupBy(_._1)
        .toSeq
        .sortBy(_._1)
        .map { case (rel, pairs) =>
          val dvRel = s"$dvDir/$rel.dv-$commitTag-d-0.parquet"
          val positions = pairs.map(_._2)
          java.util.Arrays.sort(positions)
          val n =
            writeMergedSidecar(hconf, rootStr, rel, dvRel, oldDvByRel.get(rel), positions.iterator)
          (rel, dvRel, n)
        }
    }
    val conf = org.apache.spark.sql.graft.Bridge.serializableConf(
      org.apache.spark.sql.graft.Bridge.sessionHadoopConf(spark))
    matches
      .select(col("rel").as("_1"), col("pos").as("_2"))
      .as[(String, Long)]
      .repartition(col("_1"))
      .sortWithinPartitions(col("_1"), col("_2"))
      .mapPartitions { it =>
        val hconf = org.apache.spark.sql.graft.Bridge.confOf(conf)
        val attempt = Option(org.apache.spark.TaskContext.get())
          .map(tc => s"${tc.partitionId()}-${tc.taskAttemptId()}")
          .getOrElse("0-0")
        val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
        // the input is sorted by (rel, pos): consume one rel's run at a
        // time, merging the old sidecar's sorted positions in
        val rows = it.buffered
        while (rows.hasNext) {
          val rel = rows.head._1
          val dvRel = s"$dvDir/$rel.dv-$commitTag-$attempt.parquet"
          val fresh: Iterator[Long] = new Iterator[Long] {
            override def hasNext: Boolean = rows.hasNext && rows.head._1 == rel
            override def next(): Long = rows.next()._2
          }
          val n = writeMergedSidecar(hconf, rootStr, rel, dvRel, oldDvByRel.get(rel), fresh)
          out += ((rel, dvRel, n))
        }
        out.iterator
      }
      .collect()
      .toSeq
  }

  /** Fold deletion vectors into their data files — the compaction that
    * ends (or, scoped, shrinks) the merge-on-read era: each in-scope DV'd
    * file rewrites WITHOUT its deleted positions (provably-empty files
    * just archive), originals archive (pinned manifests keep resolving),
    * and the closing commit drops the folded pointers while out-of-scope
    * vectors carry forward untouched. Returns (files rewritten-or-
    * archived, positions folded).
    *
    * `where`: an optional scope over the table's HIVE PARTITION columns —
    * `materialize(spark, root, Some(col("day") === "2024-01-03"))` folds
    * only that day's vectors. At 100 TB this is what keeps one partition's
    * GDPR delete from pricing a whole-table rewrite before the next
    * scoped OPTIMIZE: fold where you're about to do maintenance, leave the
    * rest pointed. The predicate is evaluated per FILE against its typed
    * partition-path values (mis-renderable values fall conservatively out
    * of scope); it cannot reference data columns — position-level scoping
    * below a partition is what the vectors themselves already are.
    * Unscoped (`where = None`) folds everything: afterwards no live file
    * holds a deleted row.
    */
  def materialize(
      spark: SparkSession,
      root: String,
      where: Option[Column] = None): (Long, Long) =
    Snapshots.withTableLock(spark, root) {
      val version = Snapshots.latestVersion(spark, root)
      if (version == 0L) return (0L, 0L)
      val view = Snapshots.manifestView(spark, root, version)
      val all = Snapshots.dvByRel(view)
      val dvd = where match {
        case None => all
        case Some(pred) =>
          val kept = scopeByPartitions(spark, view, all.keys.toSeq, pred)
          all.filter { case (rel, _) => kept(rel) }
      }
      if (dvd.isEmpty) return (0L, 0L)
      fold(spark, root, view, dvd.keys.toSeq)
      (dvd.size.toLong, dvd.values.map(_._2).sum)
    }

  /** Rewrite `rels` under `view` ([[stageRewrites]]) in ONE landing that
    * archives them and ONE listing commit — the body of [[materialize]],
    * [[purge]] and [[Sources.mergeIntoPartitioned]]. The folded pointers
    * die with their rels.
    */
  private[sources] def fold(
      spark: SparkSession,
      root: String,
      view: Snapshots.ManifestView,
      rels: Seq[String],
      keep: DataFrame => DataFrame = identity,
      landing: Option[(DataFrame, Seq[String])] = None): Unit = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    DataFiles.rewrite(spark, fs, rootPath, rels) { stage =>
      stageRewrites(spark, root, stage, view, rels, keep, landing)
    }(_ => Snapshots.commit(spark, root))
  }

  /** The purge that closes [[Sources.deleteWhere]] and
    * [[Sources.updateWhere]] (Delta's `REORG … APPLY (PURGE)` scoped to
    * one op): one job counts, per file, the rows of the match scan of
    * `candidates` where `hit` holds; then one [[fold]] rewrites each file
    * holding one through `keep`. No vector is written, so no live file
    * holds a deleted row, no touched file keeps a vector and untouched
    * files keep theirs — one version, in the table's own manifest format
    * (a table with none first commits its pre-state). An op that matches
    * nothing commits nothing. Returns (files touched, rows matched).
    */
  private[sources] def purge(
      spark: SparkSession,
      root: String,
      view: Snapshots.ManifestView,
      candidates: Seq[String],
      hit: Column,
      keep: DataFrame => DataFrame): (Long, Long) = {
    val touched: Seq[(String, Long)] =
      if (candidates.isEmpty) Seq.empty
      else {
        val scan = packedScan(spark, root, view, candidates, spark.sparkContext.defaultParallelism)
        scan
          .filter(hit)
          .groupBy(Snapshots.relOfScanned(scan))
          .count()
          .collect()
          .map(r => (r.getString(0), r.getLong(1)))
          .sortBy(_._1)
          .toSeq
      }
    if (touched.isEmpty) return (0L, 0L)
    Snapshots.ensureBaseline(spark, root)
    fold(spark, root, view, touched.map(_._1), keep)
    (touched.size.toLong, touched.map(_._2).sum)
  }

  /** The file set a purge matches over: the latest committed view plus
    * every live file no commit lists yet (the closing listing commit
    * adopts those, so the match must see them), or the live listing alone
    * as an unversioned view when the table has no manifest (or does not
    * exist). A non-empty view with no recorded schema carries the union
    * of its files' footer schemas (`mergeSchema`, the inference a first
    * schema-recording commit runs), so a rewrite keeps every column any
    * file holds and the op's scans share one inference.
    */
  private[sources] def liveView(spark: SparkSession, root: String): Snapshots.ManifestView = {
    val rootPath = new Path(root)
    val listed =
      if (rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(rootPath))
        Snapshots.listDataFiles(spark, root)
      else Seq.empty
    val committed =
      if (Snapshots.latestVersion(spark, root) > 0L) Snapshots.manifestView(spark, root)
      else Snapshots.ManifestView(0L, Seq.empty, Map.empty, None, Seq.empty)
    val rels = committed.rels ++ listed.filterNot(committed.rels.toSet)
    committed.copy(
      rels = rels,
      schema = committed.schema.orElse(Option.when(rels.nonEmpty)(
        spark.read
          .option("mergeSchema", "true")
          .option("basePath", root)
          .parquet(rels.map(new Path(rootPath, _).toString): _*)
          .schema)))
  }

  /** Merge-on-read UPSERT — the streaming-CDC-apply primitive: every
    * source row lands in APPENDED files, and table rows matching a source
    * row's key become deletion-vector positions, ONE atomic commit
    * covering both ([[boundedCommit]], so the threshold-rewrite policy
    * applies here too). Nothing is rewritten: at 100 TB an epoch's upsert
    * is priced at (match scan over candidate files) + (the epoch's own
    * bytes) + O(touched files) manifest delta — never partition rewrites.
    *
    * Match semantics are MERGE's: a table row matches when EVERY
    * `keyCols` value equals a source row's (null keys never match). The
    * caller supplies full replacement rows keyed uniquely per statement —
    * the same contract SQL MERGE enforces. When the table's partition
    * columns are all key columns (the CDC shape: keyed by (day, id)),
    * the match scan prunes to the source's own partitions exactly;
    * otherwise every live file is a candidate.
    *
    * Streaming exactly-once: pass (`streamTag`, `epochId`) from
    * `foreachBatch` — a replayed epoch at-or-below the per-tag high-water
    * marker is skipped whole. The marker advances AFTER the commit, so a
    * crash in between replays the epoch; that replay is LOGICALLY
    * idempotent (the epoch's earlier copies match their own keys and die
    * as vectors, the fresh copies land — same logical table, the change
    * feed shows the churn), the standard foreachBatch-upsert contract.
    *
    * Returns (files with changed pointers or rewrites, rows newly
    * deleted); appended files ride the same commit.
    */
  def upsert(
      spark: SparkSession,
      root: String,
      source: DataFrame,
      keyCols: Seq[String],
      streamTag: String = "",
      epochId: Long = -1L): (Long, Long) =
    applyInternal(spark, root, source, source, keyCols, streamTag, epochId)

  /** Full CDC-apply — [[upsert]] plus DELETES in the same atomic epoch:
    * `changes` rows whose `opCol` value is in `deleteOps` remove their key
    * (matched table rows become vector positions, nothing appends); every
    * other row is an upsert (matched rows die, the new image appends).
    * One commit covers the whole batch. Same contracts as [[upsert]]
    * (full replacement rows on the non-delete side, one op per key per
    * batch, the exactly-once epoch marker); delete rows only need their
    * KEY columns populated. This is the end-to-end CDC sink: a Debezium-
    * style (op, key, image) feed applies at merge-on-read prices.
    */
  def applyChanges(
      spark: SparkSession,
      root: String,
      changes: DataFrame,
      keyCols: Seq[String],
      opCol: String,
      deleteOps: Set[String] = Set("d", "delete"),
      streamTag: String = "",
      epochId: Long = -1L,
      nullSafeKeys: Boolean = false): (Long, Long) = {
    require(
      changes.columns.contains(opCol),
      s"applyChanges needs the op column '$opCol' in the change feed")
    val isDelete = col(opCol).isin(deleteOps.toSeq: _*)
    applyInternal(
      spark,
      root,
      keySource = changes,
      appendSource = changes.filter(!coalesce(isDelete, lit(false))).drop(opCol),
      keyCols = keyCols,
      streamTag = streamTag,
      epochId = epochId,
      nullSafeKeys = nullSafeKeys)
  }

  /** The shared apply core: table rows matching ANY `keySource` key die
    * as deletion vectors; `appendSource` rows (full table rows) land as
    * appended files; one [[boundedCommit]].
    */
  private def applyInternal(
      spark: SparkSession,
      root: String,
      keySource: DataFrame,
      appendSource: DataFrame,
      keyCols: Seq[String],
      streamTag: String,
      epochId: Long,
      nullSafeKeys: Boolean = false): (Long, Long) =
    Snapshots.withTableLock(spark, root) {
      require(keyCols.nonEmpty, "upsert needs at least one key column")
      val rootPath = new Path(root)
      val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val marker = epochMarker(new Path(rootPath, Snapshots.ManifestDirName), streamTag)
      if (streamTag.nonEmpty && epochId >= 0L && MetaFiles.last(fs, marker) >= epochId) return (0L, 0L)
      val version = Snapshots.latestVersion(spark, root)
      require(
        version > 0L,
        s"merge-on-read upsert on $root needs a committed manifest — Snapshots.commit / createTable first")
      val view = Snapshots.manifestView(spark, root, version)
      val schema = view.schema.getOrElse(
        sys.error(s"merge-on-read upsert on $root needs a v2 manifest (recorded schema)"))
      val (keyFields, sourceKeys, partCols, alive) =
        upsertInputs(view, schema, keySource, appendSource, keyCols)
      val aligned = alignedTo(schema, appendSource)
      val written =
        matchKeyUpserts(
          spark, root, view, alive, sourceKeys, keyCols, keyFields, partCols, nullSafe = nullSafeKeys)
      // the ad-hoc prefix is CONSTANT on purpose: the crashed-attempt
      // sweep in [[stageAppend]] keys on the prefix, and a per-attempt
      // random tag could never match a PRIOR attempt's leftovers — a hard
      // crash between landing and commit would leave live uncommitted
      // files for the next listing-based commit to adopt as duplicates.
      // All upserts serialize on the table lock, so sweeping every
      // uncommitted `mor-adhoc-` file in the target dirs is safe.
      val epochPrefix =
        if (streamTag.nonEmpty && epochId >= 0L)
          s"mor-${java.net.URLEncoder.encode(streamTag, "UTF-8")}-$epochId-"
        else "mor-adhoc-"
      val stage = DataFiles.stageDir(rootPath)
      val res =
        try {
          val added = stageAppend(spark, fs, rootPath, stage, aligned, partCols, epochPrefix, view.rels.toSet)
          if (written.isEmpty && added.isEmpty) return (0L, 0L)
          boundedCommit(spark, root, view, written, added)
        } finally fs.delete(stage, true)
      if (streamTag.nonEmpty && epochId >= 0L) MetaFiles.advance(fs, marker, epochId)
      res
    }

  /** The key-match core shared by the main-line upsert/CDC-apply and the
    * branch upsert: ONE distinct-key frame feeds the range probes, the
    * bloom probes, the broadcast decision and the match join.
    *
    * Candidate narrowing: keys ⊇ partition columns ⇒ partition-exact in
    * the TYPED domain (the same per-file parse [[scopeByPartitions]]
    * uses — a non-canonically rendered dir value still matches, an
    * unparseable one reads NULL on BOTH the narrow and the scan splice:
    * consistently unmatched, never silently missed); otherwise
    * [[narrowByKeyStats]] applies the batch deleteWhere discipline
    * (epoch key min/max vs per-file intervals, then tuple bloom probes)
    * — a non-partition-keyed CDC stream must not scan a 100 TB table
    * every epoch. The key set broadcasts only when provably small (a
    * backfill epoch carrying tens of millions of keys takes a real join,
    * not an OOM). Sets [[lastUpsertCandidateFiles]].
    *
    * A key source that plans to a local relation (a driver-built batch,
    * [[Mv]]'s change frame) and holds at most [[Mv.driverMaxGroups]]
    * distinct keys keeps them on the driver: the [[keyMeta]] and the
    * partition tuples come from its rows with no Spark job, and the match
    * scan filters on the key set ([[graft.core.LocalFrames.in]]) instead
    * of broadcasting it. The set rides every task's closure, hence the
    * ceiling; a larger batch takes the broadcast or shuffle semi-join.
    */
  private[sources] def matchKeyUpserts(
      spark: SparkSession,
      root: String,
      view: Snapshots.ManifestView,
      alive: Seq[String],
      sourceKeys: DataFrame,
      keyCols: Seq[String],
      keyFields: Seq[StructField],
      partCols: Seq[String],
      nullSafe: Boolean = false): Seq[(String, String, Long)] = {
    val local = graft.core.LocalFrames
      .rowsOf(sourceKeys)
      .map(graft.core.LocalFrames.distinctRows(_, sourceKeys.schema))
      .filter(_.length <= Mv.driverMaxGroups.value)
    val keys0 = local.fold(sourceKeys.distinct().persist())(rows =>
      graft.core.LocalFrames.of(spark, rows.toSeq, sourceKeys.schema))
    val (candidates, written) =
      try {
        // ONE action: materializes the persist and computes the count +
        // null/range metadata the narrowing needs (was count() plus up to
        // two more aggs — the epoch path is fixed-overhead bound, §1.2)
        val meta = keyMeta(keys0, keyCols, keyFields)
        val keyCount = meta.count
        val candidates =
          candidateRelsForKeys(
            spark, root, view, alive, keys0, meta, keyCols, keyFields, partCols, nullSafe)
        val written: Seq[(String, String, Long)] =
          if (candidates.isEmpty) Seq.empty
          else {
            val scan = matchScan(spark, root, view, candidates)
            // `<=>` when the caller matches null-safely (Mv's NULL-keyed
            // groups); plain name-equality join otherwise — EqualNullSafe
            // still hash-joins, but the default face keeps SQL equality
            // (a NULL key matching nothing IS merge semantics)
            val matched = local match {
              case Some(rows) =>
                // the rows are the key columns in order; the set probe
                // matches under `<=>`, so SQL equality drops the
                // null-bearing keys first
                val probe = if (nullSafe) rows else rows.filterNot(_.anyNull)
                scan.filter(graft.core.LocalFrames.in(keyCols.map(scan(_)), keyFields.map(_.dataType), probe))
              case None =>
                val keys =
                  if (keyCount <= Snapshots.DvBroadcastMaxPositions) broadcast(keys0) else keys0
                if (nullSafe)
                  scan.join(keys, keyCols.map(c => scan(c) <=> keys(c)).reduce(_ && _), "left_semi")
                else scan.join(keys, keyCols, "left_semi")
            }
            writeSidecarsOf(spark, root, view, candidates, scan, matched)
          }
        (candidates, written)
      } finally if (local.isEmpty) keys0.unpersist()
    lastUpsertCandidateFiles.set(candidates.size.toLong)
    written
  }

  /** Merge-on-read UPSERT on a WRITABLE BRANCH — [[upsert]]'s semantics
    * on the branch line, ONE branch-local version: branch rows (fork
    * files and branch appends alike) matching a source row's key become
    * deletion-vector positions recorded by restate lines, the source's
    * full replacement rows land as branch-private appended files, and a
    * single branch delta commits both. The live line never changes until
    * [[Snapshots.fastForward]] adopts the branch — whose machinery
    * already carries BOTH sides (fork-file pointers restate; appended
    * files move with their sidecar pointers). With
    * [[deleteOnBranch]] this completes branch DML: replay a day's CDC
    * onto a ten-byte fork, validate the branch read, adopt or drop.
    * Ad-hoc only (no epoch markers — streaming sinks target the live
    * line). Returns (files with changed pointers, rows newly deleted);
    * appended files ride the same branch version.
    */
  def upsertOnBranch(
      spark: SparkSession,
      root: String,
      name: String,
      source: DataFrame,
      keyCols: Seq[String],
      streamTag: String = "",
      epochId: Long = -1L): (Long, Long) =
    applyOnBranchInternal(spark, root, name, source, source, keyCols, streamTag, epochId)

  /** Full CDC-apply ON A BRANCH — [[applyChanges]]'s semantics on the
    * branch line: delete-op rows vector their keys (nothing appends),
    * the rest upsert, ONE branch version per batch. With the `streamTag`/
    * `epochId` pair this is the streaming replay target: a day's CDC feed
    * replays onto a ten-byte fork at epoch prices, exactly-once per
    * (branch, tag), while the live line never moves —
    * [[graft.streaming.Streaming.applyChangesMorSink]] with a `branch`
    * routes here.
    */
  def applyChangesOnBranch(
      spark: SparkSession,
      root: String,
      name: String,
      changes: DataFrame,
      keyCols: Seq[String],
      opCol: String,
      deleteOps: Set[String] = Set("d", "delete"),
      streamTag: String = "",
      epochId: Long = -1L): (Long, Long) = {
    require(
      changes.columns.contains(opCol),
      s"applyChangesOnBranch needs the op column '$opCol' in the change feed")
    val isDelete = col(opCol).isin(deleteOps.toSeq: _*)
    applyOnBranchInternal(
      spark,
      root,
      name,
      keySource = changes,
      appendSource = changes.filter(!coalesce(isDelete, lit(false))).drop(opCol),
      keyCols = keyCols,
      streamTag = streamTag,
      epochId = epochId)
  }

  /** The shared branch apply core ([[upsertOnBranch]] /
    * [[applyChangesOnBranch]]). Exactly-once: the per-(branch, tag) epoch
    * high-water marker lives INSIDE the branch's manifest dir — it dies
    * with the branch (drop/fast-forward), so a recreated branch of the
    * same name starts its epochs fresh; the crash window between commit
    * and marker falls back to the upsert's logical idempotence, the main
    * line's contract. Crashed-attempt file leftovers need no sweep here:
    * branch reads are MANIFEST-driven (never listing-based), so an
    * uncommitted landed file is invisible and dies when the branch dir
    * is removed whole.
    */
  private def applyOnBranchInternal(
      spark: SparkSession,
      root: String,
      name: String,
      keySource: DataFrame,
      appendSource: DataFrame,
      keyCols: Seq[String],
      streamTag: String,
      epochId: Long): (Long, Long) =
    Snapshots.withTableLock(spark, root) {
      val rootPath = new Path(root)
      val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val marker = epochMarker(Snapshots.branchDir(rootPath, name), streamTag)
      if (streamTag.nonEmpty && epochId >= 0L && MetaFiles.last(fs, marker) >= epochId) return (0L, 0L)
      val bv = Snapshots.branchView(spark, root, name)
      val schema = bv.schema.getOrElse(
        sys.error(s"merge-on-read upsert on $root needs a v2 manifest (recorded schema)"))
      val (keyFields, sourceKeys, partCols, alive) =
        upsertInputs(bv, schema, keySource, appendSource, keyCols)
      val written =
        matchKeyUpserts(spark, root, bv, alive, sourceKeys, keyCols, keyFields, partCols)
      val (changed, newlyDeleted) = pointerUpdatesOf(bv, written)
      // landOnBranch aligns the source to the recorded schema itself
      val added = Snapshots.landOnBranch(spark, root, name, bv, appendSource)
      if (changed.isEmpty && added.isEmpty) return (0L, 0L)
      try Snapshots.commitBranchDelta(spark, root, name, bv, changed.toSeq ++ added)
      catch {
        case t: Throwable =>
          // a failed branch commit must be a clean no-op like the main
          // line's: remove this statement's landed files (the orphaned DV
          // sidecars are vacuum-reapable, the same contract as
          // applyInternal's failure path)
          added.foreach { case (rel, _) =>
            try fs.delete(new Path(rootPath, rel), false) catch { case _: Exception => () }
          }
          throw t
      }
      if (streamTag.nonEmpty && epochId >= 0L) MetaFiles.advance(fs, marker, epochId)
      (changed.size.toLong, newlyDeleted)
    }

  /** The per-stream-tag epoch high-water marker ([[MetaFiles.last]] /
    * [[MetaFiles.advance]]) in `dir`: the table's manifest dir for the
    * main line, the branch's own dir for a branch (it dies with the
    * branch).
    */
  private def epochMarker(dir: Path, tag: String): Path =
    new Path(dir, s".mor-epoch-${java.net.URLEncoder.encode(tag, "UTF-8")}")

  /** Shared validation + alignment prologue of the upsert faces
    * ([[applyInternal]], [[upsertOnBranch]] and [[Sources.mergeIntoPartitioned]]):
    * key columns must exist on both sides of `schema` (the table's), sources
    * carry FULL replacement rows, keys cast to the TABLE's key types so
    * the match join compares in one domain. Returns (keyFields,
    * sourceKeys, partCols, alive).
    */
  private[sources] def upsertInputs(
      view: Snapshots.ManifestView,
      schema: StructType,
      keySource: DataFrame,
      appendSource: DataFrame,
      keyCols: Seq[String]): (Seq[StructField], DataFrame, Seq[String], Seq[String]) = {
    require(keyCols.nonEmpty, "upsert needs at least one key column")
    keyCols.foreach(k =>
      require(
        schema.fieldNames.contains(k) && keySource.columns.contains(k),
        s"upsert key column '$k' is not in both the table schema and the source"))
    schema.fieldNames.foreach(c =>
      require(
        appendSource.columns.contains(c),
        s"upsert source is missing table column '$c' — sources carry FULL replacement rows"))
    val keyFields = keyCols.map(k => schema.fields.find(_.name == k).get)
    val sourceKeys = keySource.select(
      keyFields.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
    val partCols =
      if (view.partCols.nonEmpty) view.partCols else Snapshots.partitionColsFromRels(view.rels)
    val alive = view.rels.filterNot(r =>
      Snapshots.fullyDeleted(view.stats.getOrElse(r, Map.empty)))
    (keyFields, sourceKeys, partCols, alive)
  }

  /** `df` aligned to the table `schema`: its order and types (a malformed
    * value fails loudly here, never lands half-cast).
    */
  private[sources] def alignedTo(schema: StructType, df: DataFrame): DataFrame =
    df.select(schema.fields.toIndexedSeq.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)

  /** Candidate files the most recent upsert/CDC-apply on this thread
    * match-scanned — observability for the narrowing laws (a spec must be
    * able to assert an epoch touching one day's keys did not scan other
    * days' files). The [[Snapshots.lastCommitFooterReads]] discipline.
    */
  private[sources] val lastUpsertCandidateFiles: ThreadLocal[Long] = new ThreadLocal[Long] {
    override def initialValue(): Long = -1L
  }

  /** One-action epoch-key metadata: the count, per-column null counts and
    * min/max string ranges (plain AND null-free-tuple domains) that the
    * candidate narrowing below needs — previously three separate driver
    * actions per epoch (`count()`, the null agg, the range agg) on a path
    * that is fixed-overhead bound (guide §1.2/§2.6). The single `head()`
    * also materializes the caller's persist, so it keeps the "force NOW"
    * error-surfacing role the callers' `count()` had.
    *
    * Range semantics are IDENTICAL to the aggs this replaces: FLOAT
    * widens through the same JVM float→double path the file stats used,
    * aggregate-then-`CAST(… AS STRING)` stays in the manifest-stat string
    * domain, and the null-free ranges (`when(no key col is NULL)`) equal
    * min/max over `keys0.filter(!anyNull)` because min/max skip NULLs.
    */
  private[sources] case class KeyMeta(
      count: Long,
      nullCounts: Seq[Long],
      nAny: Long,
      plainRanges: Seq[(String, Option[String], Option[String])],
      nullFreeRanges: Seq[(String, Option[String], Option[String])])

  private[sources] def keyMeta(
      keys0: DataFrame,
      keyCols: Seq[String],
      keyFields: Seq[StructField]): KeyMeta =
    graft.core.LocalFrames.rowsOf(keys0) match {
      case Some(rows) => keyMetaOnDriver(rows, keys0.schema, keyCols, keyFields)
      case None => keyMetaBySpark(keys0, keyCols, keyFields)
    }

  /** [[keyMeta]] of a local key batch from its rows, with no Spark job:
    * the same counts, and each range bound is the aggregate's — the
    * minimum or maximum under Spark's ordering of the probe type (FLOAT
    * widened to DOUBLE by Spark's own `Cast`), rendered by Spark's own
    * `CAST(… AS STRING)` in the session time zone.
    */
  private[sources] def keyMetaOnDriver(
      rows: Array[org.apache.spark.sql.Row],
      schema: StructType,
      keyCols: Seq[String],
      keyFields: Seq[StructField]): KeyMeta = {
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    import org.apache.spark.sql.types.{DoubleType, FloatType}
    val tz = Option(org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone)
    val keyIdx = keyCols.map(schema.fieldIndex)
    val nullFree = rows.filterNot(r => keyIdx.exists(r.isNullAt))
    def range(f: StructField, of: Array[org.apache.spark.sql.Row]) = {
      val i = schema.fieldIndex(f.name)
      val dt = schema(i).dataType
      val toCatalyst = CatalystTypeConverters.createToCatalystConverter(dt)
      val (probeType, probe): (org.apache.spark.sql.types.DataType, Any => Any) = f.dataType match {
        case FloatType => (DoubleType, v => Cast(Literal(toCatalyst(v), dt), DoubleType, tz).eval())
        case _ => (dt, toCatalyst)
      }
      def render(v: Any) = Some(Cast(Literal(v, probeType), StringType, tz).eval().toString)
      graft.core.LocalFrames.bounds(of.iterator, i, probeType, probe) match {
        case None => (f.name, None, None)
        case Some((lo, hi)) => (f.name, render(lo), render(hi))
      }
    }
    KeyMeta(
      count = rows.length.toLong,
      nullCounts = keyIdx.map(i => rows.count(_.isNullAt(i)).toLong),
      nAny = (rows.length - nullFree.length).toLong,
      plainRanges = keyFields.map(range(_, rows)),
      nullFreeRanges = keyFields.map(range(_, nullFree)))
  }

  /** [[keyMeta]] as one Spark aggregate over `keys0`. */
  private[sources] def keyMetaBySpark(
      keys0: DataFrame,
      keyCols: Seq[String],
      keyFields: Seq[StructField]): KeyMeta = {
    import org.apache.spark.sql.functions.{count => scount, max => smax, min => smin}
    val anyNull = keyCols.map(col(_).isNull).reduce(_ || _)
    def probe(f: StructField) = f.dataType match {
      case org.apache.spark.sql.types.FloatType => col(f.name).cast("double")
      case _ => col(f.name)
    }
    val aggCols =
      (scount(lit(1)).as("__graft_n") +:
        keyCols.map(c => sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__graft_nulls_$c"))) ++
        (sum(when(anyNull, 1L).otherwise(0L)).as("__graft_nulls_any") +:
          keyFields.flatMap(f =>
            Seq(
              smin(probe(f)).cast("string").as(s"__graft_lo_${f.name}"),
              smax(probe(f)).cast("string").as(s"__graft_hi_${f.name}"),
              smin(when(!anyNull, probe(f))).cast("string").as(s"__graft_lon_${f.name}"),
              smax(when(!anyNull, probe(f))).cast("string").as(s"__graft_hin_${f.name}"))))
    val row = keys0.agg(aggCols.head, aggCols.tail: _*).head()
    // an EMPTY epoch sums to NULL, not 0 (SQL SUM over no rows)
    def longAt(i: Int): Long = if (row.isNullAt(i)) 0L else row.getLong(i)
    KeyMeta(
      count = row.getLong(0),
      nullCounts = keyCols.indices.map(i => longAt(1 + i)),
      nAny = longAt(1 + keyCols.size),
      plainRanges = keyFields.map { f =>
        (
          f.name,
          Option(row.getAs[String](s"__graft_lo_${f.name}")),
          Option(row.getAs[String](s"__graft_hi_${f.name}")))
      },
      nullFreeRanges = keyFields.map { f =>
        (
          f.name,
          Option(row.getAs[String](s"__graft_lon_${f.name}")),
          Option(row.getAs[String](s"__graft_hin_${f.name}")))
      })
  }

  /** Past this many distinct keys an epoch skips per-file BLOOM probing
    * (the range stage still applies): tuple probes cost
    * keys × bloom-cols bitset tests per candidate file, and a backfill
    * epoch carrying millions of keys matches most files anyway — the
    * probe would be pure overhead on top of the real join that decides.
    */
  val BloomProbeMaxKeys = 4096L

  /** The candidate-file set a distinct-key batch can possibly match —
    * the shared narrowing front of every keyed merge-on-read op (upsert,
    * CDC-apply, and [[Mv]]'s affected-group recompute). Keys covering the
    * partition columns narrow partition-exactly in the typed domain;
    * otherwise [[narrowByKeyStats]] applies the stats-interval + bloom
    * tuple discipline. `keys0` must already be distinct (and should be
    * persisted by the caller — this path counts and re-scans it).
    *
    * `nullSafe = true` serves the null-safe (`<=>`) match faces: key
    * tuples carrying a NULL component can only match rows that are NULL
    * there, which footer min/max, partition-value equality and bloom
    * probes are all blind to (stats ignore nulls). The batch splits:
    * null-FREE tuples narrow exactly as above, and null-BEARING tuples
    * admit precisely the files that can hold a NULL in some
    * null-bearing key column — per-file NULL-COUNT stats prune data
    * columns (a file recording zero nulls can never match), the path
    * segment prunes partition columns (only the null-rendering segment
    * can), and a file with no recorded stats stays conservatively. A
    * mostly-non-NULL workload keeps change-pricing; only the genuinely
    * null-bearing slice of the table joins the scan.
    */
  private[sources] def candidateRelsForKeys(
      spark: SparkSession,
      root: String,
      view: Snapshots.ManifestView,
      alive: Seq[String],
      keys0: DataFrame,
      keyCount: Long,
      keyCols: Seq[String],
      keyFields: Seq[StructField],
      partCols: Seq[String],
      nullSafe: Boolean = false): Seq[String] =
    candidateRelsForKeys(
      spark, root, view, alive, keys0, keyMeta(keys0, keyCols, keyFields).copy(count = keyCount),
      keyCols, keyFields, partCols, nullSafe)

  /** [[candidateRelsForKeys]] with the epoch metadata already computed —
    * the fixed-overhead-lean face: callers fold their forcing `count()`
    * and this path's null/range aggs into ONE [[keyMeta]] action.
    */
  private[sources] def candidateRelsForKeys(
      spark: SparkSession,
      root: String,
      view: Snapshots.ManifestView,
      alive: Seq[String],
      keys0: DataFrame,
      meta: KeyMeta,
      keyCols: Seq[String],
      keyFields: Seq[StructField],
      partCols: Seq[String],
      nullSafe: Boolean): Seq[String] = {
    val keyCount = meta.count
    if (alive.isEmpty || keyCount == 0L) return Seq.empty
    if (!nullSafe)
      return candidatesNullFree(
        spark, root, view, alive, keys0, keyCount, keyCols, keyFields, partCols, meta.plainRanges)
    val nAny = meta.nAny
    if (nAny == 0L)
      // no tuple bears a NULL: the null-free ranges equal the plain ones
      return candidatesNullFree(
        spark, root, view, alive, keys0, keyCount, keyCols, keyFields, partCols, meta.plainRanges)
    val anyNull = keyCols.map(col(_).isNull).reduce(_ || _)
    val nullCols = keyCols.zipWithIndex.collect { case (c, i) if meta.nullCounts(i) > 0L => c }
    val base =
      if (nAny == keyCount) Seq.empty
      else candidatesNullFree(
        spark, root, view, alive, keys0.filter(!anyNull), keyCount - nAny, keyCols, keyFields,
        partCols, meta.nullFreeRanges)
    val baseSet = base.toSet
    val nullable = nullBearingCandidates(view, alive, nullCols, partCols).toSet
    alive.filter(rel => baseSet.contains(rel) || nullable.contains(rel))
  }

  /** [[candidateRelsForKeys]]'s null-FREE core: partition-exact when the
    * keys cover the partition columns, stats+bloom narrowing otherwise.
    */
  private def candidatesNullFree(
      spark: SparkSession,
      root: String,
      view: Snapshots.ManifestView,
      alive: Seq[String],
      keys0: DataFrame,
      keyCount: Long,
      keyCols: Seq[String],
      keyFields: Seq[StructField],
      partCols: Seq[String],
      ranges: Seq[(String, Option[String], Option[String])]): Seq[String] =
    if (partCols.nonEmpty && partCols.forall(keyCols.contains)) {
      val relDf = partitionValuesDf(spark, view, alive, partCols)
      val touched = keys0.select(partCols.map(col): _*)
      // the epoch's distinct partition tuples are usually FEW: collect
      // them (capped — the limit not binding proves the set is complete)
      // and match the LOCAL relation driver-side with the same EqualTo
      // coercion the semi-join would apply, for zero further jobs. A
      // backfill epoch touching more partitions than the cap keeps the
      // broadcast semi-join. NULL-bearing tuples match nothing under SQL
      // equality in BOTH shapes, so they drop.
      graft.core.Collect.atMost(graft.core.LocalFrames.distinct(touched), 1024) match {
        case Some(tuples) =>
          val nonNull = tuples.filter(r => !r.anyNull)
          if (nonNull.isEmpty) Seq.empty
          else {
            val pred = nonNull
              .map(r =>
                partCols.zipWithIndex
                  .map { case (c, i) => col(c) === lit(r.get(i)) }
                  .reduce(_ && _))
              .reduce(_ || _)
            relDf
              .filter(pred)
              .select(col("__graft_scope_rel__"))
              .collect()
              .map(_.getString(0))
              .toSeq
          }
        case None =>
          relDf
            .join(broadcast(touched.distinct()), partCols.toSeq, "left_semi")
            .select(col("__graft_scope_rel__"))
            .collect()
            .map(_.getString(0))
            .toSeq
      }
    } else narrowByKeyStats(spark, root, view, alive, keys0, keyCount, keyFields, ranges)

  /** The files that can possibly hold a row with NULL in some
    * `nullCols` column — [[candidateRelsForKeys]]'s null-bearing arm.
    * Exclusion only on a definite miss: a recorded zero null-count (data
    * column) or a non-null path segment (partition column); unknown
    * keeps the file. Union over columns — a per-tuple conjunction would
    * prune tighter but the union is already a superset of every tuple's
    * true match set, the read path's pruning contract.
    */
  private[sources] def nullBearingCandidates(
      view: Snapshots.ManifestView,
      alive: Seq[String],
      nullCols: Seq[String],
      partCols: Seq[String]): Seq[String] =
    alive.filter { rel =>
      nullCols.exists { c =>
        if (partCols.contains(c))
          graft.sources.snap.SnapFilters
            .partSegments(rel)
            .get(c)
            .flatMap(graft.sources.snap.SnapFilters.segValue)
            .isEmpty
        else
          Snapshots.nullCountOf(view.stats.getOrElse(rel, Map.empty), c).forall(_ > 0L)
      }
    }

  /** Candidate narrowing when the MERGE keys do NOT cover the partition
    * columns — the batch [[deleteWhere]] three-stage discipline ported to
    * the epoch shape (stage 1, fully-deleted skip, already ran in the
    * caller's `alive`):
    *
    *  2. RANGE: one tiny agg over the epoch's distinct keys computes each
    *     key column's min/max, rendered through `CAST(… AS STRING)` (the
    *     manifest-stat string domain); files whose recorded interval
    *     misses any key column's range are dropped with zero I/O — a
    *     day's worth of keys against a day-clustered 100 TB table keeps
    *     that day's files only. A key column with NO non-null value in
    *     the batch matches nothing at all (null keys never match), so
    *     the epoch short-circuits to zero candidates.
    *  3. BLOOM: when the epoch is small enough to enumerate
    *     ([[BloomProbeMaxKeys]]), each surviving file must admit at least
    *     one key TUPLE through every bloom-indexed key column's sidecar —
    *     the point-erasure discipline, tuple-accurate (a file admitting
    *     k1 of one tuple and k2 of another but no whole tuple is
    *     dropped).
    *
    * Both stages may only EXCLUDE on a definite miss (unrenderable
    * values, absent stats and absent sidecars all keep the file), so the
    * match join below sees a superset of the true match set — exactly
    * the read path's pruning contract.
    */
  private def narrowByKeyStats(
      spark: SparkSession,
      root: String,
      view: Snapshots.ManifestView,
      alive: Seq[String],
      keys: DataFrame,
      keyCount: Long,
      keyFields: Seq[StructField],
      // precomputed by [[keyMeta]]'s single action — including the FLOAT
      // widening (stats were recorded via Number.doubleValue(), so the
      // probe must render through the same float→double path) and the
      // aggregate-then-CAST(… AS STRING) stat-domain rendering
      ranges: Seq[(String, Option[String], Option[String])]): Seq[String] = {
    if (keyCount == 0L) return Seq.empty
    // a key column that is null on EVERY source row can never equal a
    // table value — the epoch provably matches nothing
    if (ranges.exists { case (_, lo, hi) => lo.isEmpty && hi.isEmpty }) return Seq.empty
    val statsPruned = alive.filter(rel =>
      Snapshots.fileMatchesRanges(view.stats.getOrElse(rel, Map.empty), ranges))
    val bloomKeyCols = keyFields.map(_.name).filter(view.bloomCols.contains)
    if (bloomKeyCols.isEmpty || statsPruned.isEmpty || keyCount > BloomProbeMaxKeys)
      return statsPruned
    // tuples with a null in any bloom-probed key column can't match and
    // must not vacuously admit files
    val tuples: Array[Seq[String]] = keys
      .select(bloomKeyCols.map(c => col(c).cast("string")): _*)
      .collect()
      .map(r => bloomKeyCols.indices.map(i => r.getString(i)): Seq[String])
      .filter(_.forall(_ != null))
    if (tuples.isEmpty) return Seq.empty
    statsPruned.filter { rel =>
      tuples.exists(t =>
        bloomKeyCols.zip(t).forall { case (c, v) =>
          Snapshots.bloomMightContain(spark, root, rel, c, v)
        })
    }
  }

  /** Write `df` into the table's hive layout under `stage` and return
    * its non-empty part files as landing targets, each part name prefixed
    * `epochPrefix` so a crashed attempt's leftovers are DISCOVERABLE:
    * before returning, every target directory is swept for uncommitted
    * files carrying this epoch's prefix — a prior attempt that crashed
    * between landing and commit — and they are deleted (bounded by the
    * batch's own partitions, not the table); a listing-based commit would
    * otherwise silently adopt them as duplicate rows. The part names keep
    * their Spark-generated uniqueness under the prefix, so rels are never
    * reused (the archive invariant). The caller lands and commits them in
    * one [[DataFiles.swap]].
    */
  private[sources] def stageAppend(
      spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      rootPath: Path,
      stage: Path,
      df: DataFrame,
      partCols: Seq[String],
      epochPrefix: String,
      committedRels: Set[String]): Seq[(Path, String)] = {
    val writer =
      if (partCols.nonEmpty && !graft.core.LocalFrames.isLocal(df))
        // co-locate each partition's rows: ~one file per touched
        // partition value
        df.repartition(partCols.map(col): _*).write.partitionBy(partCols: _*)
      else if (partCols.nonEmpty)
        // a driver-held batch writes from one task, which sorts by the
        // partition columns: the same one file per value, no shuffle
        df.coalesce(1).write.partitionBy(partCols: _*)
      else df.coalesce(1).write
    writer.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(stage.toString)
    // zero-row parts never land — a pure-delete CDC epoch must not commit
    // an empty parquet file
    val rootUri = fs.makeQualified(rootPath).toUri.getPath
    val targets = DataFiles.staged(spark, fs, stage).map { case (p, stageRel) =>
      val cut = stageRel.lastIndexOf('/')
      val rel =
        if (cut < 0) epochPrefix + stageRel
        else stageRel.substring(0, cut + 1) + epochPrefix + stageRel.substring(cut + 1)
      (p, rel)
    }
    // sweep crashed-attempt leftovers from exactly the dirs this batch
    // lands into: same epoch prefix, present on disk, absent from the
    // committed manifest
    targets.map(t => new Path(rootPath, t._2).getParent).distinct.foreach { dir =>
      if (fs.exists(dir)) {
        fs.listStatus(dir).foreach { st =>
          if (st.isFile && st.getPath.getName.startsWith(epochPrefix)) {
            val rel = fs.makeQualified(st.getPath).toUri.getPath.stripPrefix(rootUri).stripPrefix("/")
            if (!committedRels.contains(rel)) fs.delete(st.getPath, false)
          }
        }
      }
    }
    targets
  }

  /** Which of `rels` satisfy `pred` over their hive partition-path values?
    * Exact, not pruning: each file's segments parse as the DECLARED
    * partition-column types (`try_cast` — a value the type can't render
    * reads NULL, so it conservatively falls out of any value predicate)
    * and the predicate evaluates per file in one tiny local Spark job —
    * full Column expressiveness (IN lists, ranges, date arithmetic) with
    * O(DV'd files) driver metadata, never a data read.
    */
  private[sources] def scopeByPartitions(
      spark: SparkSession,
      view: Snapshots.ManifestView,
      rels: Seq[String],
      pred: Column): Set[String] = {
    val partCols =
      if (view.partCols.nonEmpty) view.partCols else Snapshots.partitionColsFromRels(view.rels)
    require(
      partCols.nonEmpty,
      "scoped materialize needs a hive-partitioned table — omit `where` to fold everything")
    partitionValuesDf(spark, view, rels, partCols)
      .filter(pred)
      .select(col("__graft_scope_rel__"))
      .collect()
      .map(_.getString(0))
      .toSet
  }

  /** One row per rel with its hive partition-path values parsed as the
    * DECLARED column types (`try_cast`: an unparseable dir value reads
    * NULL — the same value the scan splice would produce). The per-file
    * partition-domain the scoped fold and the upsert narrowing share.
    */
  private def partitionValuesDf(
      spark: SparkSession,
      view: Snapshots.ManifestView,
      rels: Seq[String],
      partCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val rows = rels.map { rel =>
      val segs = graft.sources.snap.SnapFilters.partSegments(rel)
      Row.fromSeq(
        rel +: partCols.map(c =>
          segs.get(c).flatMap(graft.sources.snap.SnapFilters.segValue).orNull))
    }
    // a LOCAL relation, not an RDD: Catalyst's ConvertToLocalRelation then
    // folds Filter/Project over it at planning time, so a driver-metadata
    // probe (scoped fold, partition-exact narrow) costs ZERO Spark jobs
    val raw = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*),
      StructType(
        StructField("__graft_scope_rel__", StringType, nullable = false) +:
          partCols.map(c => StructField(c, StringType, nullable = true))))
    partCols.foldLeft(raw) { (df, c) =>
      view.schema.flatMap(_.fields.find(_.name == c)) match {
        case Some(f) =>
          df.withColumn(
            c,
            org.apache.spark.sql.functions.expr(s"try_cast(`$c` AS ${f.dataType.sql})"))
        case None => df
      }
    }
  }
}
