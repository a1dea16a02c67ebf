package graft.sources.snap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.Snapshots

/** `cat.t.changes` — the row-level change feed of a snapshot table as a
  * queryable TABLE, batch and streaming through one planner and reader
  * (the `table_changes()` / Delta-CDF surface):
  *
  * {{{
  * SELECT * FROM cat.t.changes                            -- full history
  * SELECT * FROM cat.t.changes WHERE _commit_version > 3  -- (post-filter)
  * spark.read.option("startingVersion", 4).table("cat.t.changes")
  * spark.readStream.table("cat.t.changes")                -- live feed
  * }}}
  *
  * Semantics are EXACTLY [[Snapshots.diff]] per version — the NET row
  * changes: version 1 (the creation — no predecessor) is the initial
  * image as `insert` rows; an append emits its added rows as `insert`; a DELETE
  * emits the deleted rows as `delete`; an UPDATE emits old-row `delete` +
  * new-row `insert`; a COMPACTION (pure rewrite) emits NOTHING. Each row
  * carries `_change_type` (insert|delete) and `_commit_version`.
  *
  * How the net is computed WITHOUT a shuffle: unchanged files resolve to
  * the same path on both sides of a version and cancel at file level, so
  * the version's net is the multiset difference between its REMOVED
  * files' rows and its ADDED files' rows only. Each CDC task owns one
  * HASH SLICE of that difference: it reads both file lists, keeps only
  * rows whose canonical [[UnsafeRow]] hash lands in its slice, and
  * cancels counts in memory. The planner sizes the slice count from the
  * manifest's recorded file lengths, so per-task memory is bounded no
  * matter how large the rewrite — at the price of each slice re-reading
  * the changed files (columnar scans of only-the-changed files; an
  * append-only version takes the sliceless fast path, one lazy task per
  * file). This is the structural trade a source-side CDC makes: bounded
  * memory and zero shuffle, I/O multiplied only on rewrite-heavy
  * versions whose net is small anyway.
  *
  * Not expressible for versions whose predecessor's DATA was vacuumed
  * (plan-time error — re-sync from a snapshot read instead, the
  * [[graft.streaming.Streaming.changeFeed]] helper's downgrade).
  */
class SnapChangesTable(dir: String, pinnedVersion: Long = -1L) extends Table with SupportsRead {

  private def spark: SparkSession = SparkSession.active

  override def name(): String = s"graft-snapshot:$dir#changes"

  private lazy val dataSchema: StructType = {
    val view = Snapshots.manifestView(spark, dir)
    view.schema.getOrElse(
      Snapshots.inferredSchema(spark, dir, view.rels, Snapshots.resolve(spark, dir, _).toString))
  }

  override def schema(): StructType = SnapChanges.outSchema(dataSchema)

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val opts = options.asCaseSensitiveMap().asScala.toMap.map { case (k, v) => k.toLowerCase -> v }
    // `VERSION AS OF v` on the changes table pins the END of history —
    // the feed as it stood at v; an explicit endingVersion may narrow
    // further but never see past the pin
    val pinned =
      if (pinnedVersion > 0L) {
        opts.get("endingversion").foreach { e =>
          require(
            e.toLong <= pinnedVersion,
            s"endingVersion $e conflicts with VERSION AS OF $pinnedVersion")
        }
        if (opts.contains("endingversion")) opts
        else opts + ("endingversion" -> pinnedVersion.toString)
      } else opts
    () => new SnapChangesScan(dir, dataSchema, pinned)
  }
}

object SnapChanges {
  val ChangeTypeCol = "_change_type"
  val CommitVersionCol = "_commit_version"

  /** Wall clock of the version's manifest commit (the same instant
    * `cat.t.snapshots.committed_at` reports) — what a consumer windowing
    * by commit time (retention, SLA lag monitors) needs without a join.
    * Caveat (the Delta-CDF one too): the timestamp is of the COMMIT, not
    * the data — a RESTORE's re-inserted rows carry the restore's commit
    * time, and a CLONE's v1 carries the clone's.
    */
  val CommitTimestampCol = "_commit_timestamp"

  def outSchema(dataSchema: StructType): StructType =
    StructType(
      dataSchema.fields.toSeq ++ Seq(
        StructField(ChangeTypeCol, StringType, nullable = false),
        StructField(CommitVersionCol, LongType, nullable = false),
        StructField(CommitTimestampCol, TimestampType, nullable = false)))

  /** Does the type (recursively) contain a map? Map key order has no
    * canonical physical encoding, so [[UnsafeRow]]-byte cancellation
    * can't be trusted across a rewrite (a pure compaction could emit
    * phantom delete+insert pairs) — rewrite versions refuse map-typed
    * tables at PLAN time; append-only versions (file-level inserts, no
    * cancellation) stay fine.
    */
  private[snap] def containsMap(dt: DataType): Boolean = Snapshots.containsMapType(dt)

  /** Parquet bytes one CDC slice may own (pre-decode); rewrite versions
    * get `ceil(changedBytes / this)` slices, capped. Small enough that a
    * decoded+keyed slice fits executor memory with headroom.
    */
  val DefaultSliceBytes: Long = 256L * 1024 * 1024
  val MaxSlices = 64

  /** The input partitions of one version's change feed. Version 1 (no
    * predecessor) plans its full file list as inserts — the creation
    * image; every later version is its own delta (the Delta-CDF
    * contract: a startingVersion mid-history begins with that version's
    * CHANGES — a consumer re-syncing after vacuum reads the snapshot
    * image itself and subscribes from the next version).
    */
  private[snap] def planVersion(
      spark: SparkSession,
      dir: String,
      v: Long,
      sliceBytes: Long,
      mapTyped: Boolean = false): Seq[InputPartition] = {
    val view = Snapshots.manifestView(spark, dir, v)
    val tsMicros = Snapshots.commitTimeMs(spark, dir, v) * 1000L
    def dvAbs(dvRel: String): String =
      new Path(new Path(dir), dvRel).toString
    // each side of the version reads with ITS OWN deletion-vector state:
    // a removed file's already-MoR-deleted rows were never live at v−1
    // (they must not cancel — or worse, emit as deletes — here), and an
    // added file with a DV (clone/restore histories) inserts only its
    // surviving rows
    def fileOf(rel: String, stats: Map[String, Map[String, Snapshots.ColStat]]) =
      SnapCdcFile(
        Snapshots.resolve(spark, dir, rel).toString,
        SnapFilters.partValsOf(rel),
        Snapshots.dvOf(stats.getOrElse(rel, Map.empty)).map(d => dvAbs(d._1)))
    val (added, removed) =
      if (v == 1L) (view.rels, Seq.empty[String])
      else
        view.delta match {
          case Some((base, a, r)) if base == v - 1L => (a, r)
          case _ =>
            val prev = Snapshots.files(spark, dir, v - 1L).toSet
            (view.rels.filterNot(prev), (prev -- view.rels.toSet).toSeq.sorted)
        }
    // merge-on-read deletes: a version that changed a still-present
    // file's DV pointer emits the NEWLY-dead positions' rows as
    // `delete` (and, on a restore that shrank a DV, the revived
    // positions as `insert`) — one bounded task per changed file, zero
    // shuffle, positions compared exactly. Independent of the
    // add/remove cancellation below, and map-safe (no byte keying).
    val dvParts: Seq[InputPartition] =
      if (v <= 1L) Seq.empty
      else
        Snapshots.dvChangedRels(spark, dir, v).map { case (rel, oldDv, newDv) =>
          SnapCdcDvInput(
            v,
            tsMicros,
            Snapshots.resolve(spark, dir, rel).toString,
            SnapFilters.partValsOf(rel),
            oldDv.map(d => dvAbs(d._1)),
            newDv.map(d => dvAbs(d._1))): InputPartition
        }
    if (removed.isEmpty)
      // append-only (or image) version: lazy one-task-per-file inserts
      dvParts ++ added.map(rel =>
        SnapCdcInput(v, tsMicros, 0, 1, Seq.empty, Seq(fileOf(rel, view.stats))): InputPartition)
    else {
      if (mapTyped)
        throw new UnsupportedOperationException(
          s"changes feed of $dir at v$v: the version rewrites files and the table carries a " +
            "map-typed column — map key order has no canonical physical encoding, so the " +
            "multiset cancellation could emit phantom change pairs; drop or restructure the " +
            "map column (struct/array keep canonical bytes), or consume snapshots directly")
      val bytes = (added ++ removed).map { rel =>
        view.stats
          .get(rel)
          .flatMap(_.get(Snapshots.LengthKey))
          .map(_.min.toLong)
          .getOrElse {
            val p = Snapshots.resolve(spark, dir, rel)
            p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p).getLen
          }
      }.sum
      val slices =
        math.min(MaxSlices.toLong, math.max(1L, (bytes + sliceBytes - 1L) / sliceBytes)).toInt
      val prevStats = Snapshots.manifestView(spark, dir, v - 1L).stats
      val rm = removed.map(fileOf(_, prevStats))
      val ad = added.map(fileOf(_, view.stats))
      dvParts ++
        (0 until slices).map(i => SnapCdcInput(v, tsMicros, i, slices, rm, ad): InputPartition)
    }
  }
}

case class SnapCdcFile(
    path: String,
    partVals: Array[(String, String)],
    dvPath: Option[String] = None)

/** One merge-on-read delete's CDC task: the rows of `path` whose file-row
  * ordinal is in the NEW deletion vector but not the OLD emit as
  * `delete`; ordinals only in the old (a restore shrank the vector) emit
  * as `insert`. Positions are exact — no multiset cancellation, no
  * canonical-byte keying, so map-typed tables are fine here.
  */
case class SnapCdcDvInput(
    version: Long,
    commitTsMicros: Long,
    path: String,
    partVals: Array[(String, String)],
    oldDvPath: Option[String],
    newDvPath: Option[String])
    extends InputPartition

/** One CDC task: slice `slice` of `slices` over version `version`'s
  * changed-file multiset difference. `commitTsMicros` is the version's
  * commit wall clock, spliced into every emitted row.
  */
case class SnapCdcInput(
    version: Long,
    commitTsMicros: Long,
    slice: Int,
    slices: Int,
    removed: Seq[SnapCdcFile],
    added: Seq[SnapCdcFile])
    extends InputPartition

class SnapChangesScan(dir: String, dataSchema: StructType, options: Map[String, String])
    extends Scan
    with Batch {

  private def spark: SparkSession = SparkSession.active

  private val sliceBytes =
    options.get("slicebytes").map(_.toLong).getOrElse(SnapChanges.DefaultSliceBytes)

  override def readSchema(): StructType = SnapChanges.outSchema(dataSchema)

  override def description(): String = s"GraftSnapChangesScan $dir"

  override def toBatch: Batch = this

  /** Batch range: `startingVersion` (default 1 — history from the
    * start) through `endingVersion` (default latest; a `VERSION AS OF`
    * pin lowers it). The starting version emits as its own delta except
    * version 1, the creation image. Only an open end reads the table
    * head; a pinned end is checked by reading its manifest, which
    * planning reads anyway (views cache), so Spark's repeated plannings
    * of one window probe no head.
    */
  override def planInputPartitions(): Array[InputPartition] = {
    val pinnedEnd = options.get("endingversion").map(_.toLong)
    val from = options.get("startingversion").map(_.toLong).getOrElse(1L)
    val to = pinnedEnd.getOrElse(Snapshots.latestVersion(spark, dir))
    def committed: Boolean =
      pinnedEnd.isEmpty ||
        (try { Snapshots.manifestView(spark, dir, to); true }
         catch { case _: IllegalArgumentException => false })
    require(from >= 1L && from <= to && committed, s"changes range [$from, $to] out of history")
    val mapTyped = dataSchema.fields.exists(f => SnapChanges.containsMap(f.dataType))
    (from to to).flatMap(v => SnapChanges.planVersion(spark, dir, v, sliceBytes, mapTyped)).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = cdcFactory()

  private def cdcFactory(): SnapCdcReadFactory =
    SnapCdcReadFactory(
      dataSchema.json,
      org.apache.spark.sql.graft.Bridge.serializableConf(
        org.apache.spark.sql.graft.Bridge.sessionHadoopConf(spark)),
      spark.conf.get("spark.sql.session.timeZone"))

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new SnapChangesMicroBatchStream(dir, dataSchema, options, sliceBytes, cdcFactory())
}

/** Streaming half: offsets are whole manifest versions (a version's net
  * change set is atomic — CDC consumers see complete commits). The first
  * batch from a cold start is version 1's creation image followed by
  * each version's delta; a `startingVersion` pin starts the feed
  * mid-history with that version's own delta, `latest` streams only
  * post-start commits.
  */
class SnapChangesMicroBatchStream(
    dir: String,
    dataSchema: StructType,
    options: Map[String, String],
    sliceBytes: Long,
    factory: SnapCdcReadFactory)
    extends MicroBatchStream {

  private def spark: SparkSession = SparkSession.active

  override def initialOffset(): Offset = options.get("startingversion") match {
    case Some(s) if s.equalsIgnoreCase("latest") =>
      SnapVersionOffset(Snapshots.latestVersion(spark, dir), 0)
    case Some(s) =>
      val v = s.toLong
      require(v >= 1L, s"startingVersion starts at 1, got $v")
      SnapVersionOffset(v - 1L, 0)
    case None =>
      SnapVersionOffset(0L, 0)
  }

  override def latestOffset(): Offset =
    SnapVersionOffset(Snapshots.latestVersion(spark, dir), 0)

  override def deserializeOffset(json: String): Offset = SnapVersionOffset.fromJson(json)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = spark
    val o0 = start.asInstanceOf[SnapVersionOffset].version
    val o1 = end.asInstanceOf[SnapVersionOffset].version
    val mapTyped = dataSchema.fields.exists(f => SnapChanges.containsMap(f.dataType))
    ((o0 + 1L) to o1).flatMap { v =>
      SnapChanges.planVersion(s, dir, v, sliceBytes, mapTyped)
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = factory

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Executor side: reads the slice's share of the version's changed files
  * through the SAME spliced parquet reader every other scan path uses,
  * cancels the multiset in one hash map keyed by canonical [[UnsafeRow]]
  * bytes, and emits the net rows tagged insert/delete.
  */
case class SnapCdcReadFactory(dataJson: String, conf: java.io.Serializable, zoneId: String)
    extends PartitionReaderFactory {

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val dataSchema = DataType.fromJson(dataJson).asInstanceOf[StructType]
    val n = dataSchema.length
    val inner = SnapStreamReadFactory(dataJson, dataJson, conf, zoneId)
    val (version, commitTsMicros) = p match {
      case d: SnapCdcDvInput => (d.version, d.commitTsMicros)
      case c: SnapCdcInput => (c.version, c.commitTsMicros)
    }
    def outRow(u: InternalRow, tag: String): InternalRow = {
      val out = new Array[Any](n + 3)
      var i = 0
      while (i < n) {
        out(i) = if (u.isNullAt(i)) null else u.get(i, dataSchema.fields(i).dataType)
        i += 1
      }
      out(n) = UTF8String.fromString(tag)
      out(n + 1) = version
      out(n + 2) = commitTsMicros
      new GenericInternalRow(out)
    }
    p match {
      case dv: SnapCdcDvInput => return createDvReader(dv, inner, outRow)
      case _ => ()
    }
    val in = p.asInstanceOf[SnapCdcInput]
    def rowsOf(f: SnapCdcFile)(use: InternalRow => Unit): Unit = {
      val r = inner.createReader(SnapStreamFileInput(f.path, f.partVals, f.dvPath))
      try while (r.next()) use(r.get())
      finally r.close()
    }
    val proj = UnsafeProjection.create(dataSchema.fields.map(_.dataType))
    if (in.removed.isEmpty && in.slices == 1) {
      // append-only fast path: stream one file lazily, no state
      require(in.added.size == 1)
      val f = in.added.head
      val r = inner.createReader(SnapStreamFileInput(f.path, f.partVals, f.dvPath))
      new PartitionReader[InternalRow] {
        private var cur: InternalRow = _
        override def next(): Boolean = { cur = if (r.next()) r.get() else null; cur != null }
        override def get(): InternalRow = outRow(proj(cur), "insert")
        override def close(): Unit = r.close()
      }
    } else {
      val counts = mutable.LinkedHashMap.empty[UnsafeRow, Long]
      def bump(row: InternalRow, d: Long): Unit = {
        val u = proj(row) // reused buffer — copy only when inserting a key
        if (math.floorMod(u.hashCode, in.slices) == in.slice) {
          counts.get(u) match {
            case Some(c) => counts.update(u, c + d)
            case None => counts.put(u.copy(), d)
          }
        }
      }
      in.removed.foreach(f => rowsOf(f)(bump(_, -1L)))
      in.added.foreach(f => rowsOf(f)(bump(_, +1L)))
      val it = counts.iterator.flatMap { case (u, c) =>
        if (c == 0L) Iterator.empty
        else Iterator.fill(math.abs(c).toInt)(outRow(u, if (c > 0L) "insert" else "delete"))
      }
      new PartitionReader[InternalRow] {
        private var cur: InternalRow = _
        override def next(): Boolean = { cur = if (it.hasNext) it.next() else null; cur != null }
        override def get(): InternalRow = cur
        override def close(): Unit = ()
      }
    }
  }

  /** Merge-on-read delete task: stream the data file RAW with a file-row
    * ordinal counter (no parquet pushdown, no DV applied — both position
    * sets index the raw ordinals), tag ordinals in new∖old as `delete`
    * and old∖new as `insert`, skip the rest. Lazy, O(deleted) memory.
    */
  private def createDvReader(
      in: SnapCdcDvInput,
      inner: SnapStreamReadFactory,
      outRow: (InternalRow, String) => InternalRow): PartitionReader[InternalRow] = {
    val hconf = org.apache.spark.sql.graft.Bridge.confOf(conf)
    val oldPos = in.oldDvPath.map(SnapStreamReadFactory.readDvPositions(_, hconf))
      .getOrElse(Array.emptyLongArray)
    val newPos = in.newDvPath.map(SnapStreamReadFactory.readDvPositions(_, hconf))
      .getOrElse(Array.emptyLongArray)
    val r = inner.createReader(SnapStreamFileInput(in.path, in.partVals))
    new PartitionReader[InternalRow] {
      private var ordinal = -1L
      private var oldC = 0
      private var newC = 0
      private var cur: InternalRow = _
      private var tag: String = _
      override def next(): Boolean = {
        while (r.next()) {
          ordinal += 1L
          while (oldC < oldPos.length && oldPos(oldC) < ordinal) oldC += 1
          while (newC < newPos.length && newPos(newC) < ordinal) newC += 1
          val inOld = oldC < oldPos.length && oldPos(oldC) == ordinal
          val inNew = newC < newPos.length && newPos(newC) == ordinal
          if (inNew && !inOld) { cur = r.get(); tag = "delete"; return true }
          if (inOld && !inNew) { cur = r.get(); tag = "insert"; return true }
        }
        cur = null
        false
      }
      override def get(): InternalRow = outRow(cur, tag)
      override def close(): Unit = r.close()
    }
  }
}
