package graft.sources.snap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types.{DataType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.Snapshots

/** Native streaming SOURCE over a snapshot table's manifest log — the
  * reader half of the incremental loop, at the SQL surface:
  *
  * {{{
  * spark.readStream.table("cat.events")          // from version 1
  *   .writeStream.toTable("cat.events_derived")  // exactly-once sink
  * }}}
  *
  * Offsets ARE manifest versions: a micro-batch (v₁, v₂] streams the rows
  * of every data file ADDED by commits v₁+1..v₂ — each version's added
  * set is `files(v) − files(v−1)`, two manifest reads and no data I/O at
  * planning time. Exactly-once comes from the offset log: versions are
  * durable, the added-file set of a version is immutable (the archive
  * invariant — a rel names one file forever, [[Snapshots.resolve]] finds
  * it live or archived), so replanning a batch after restart yields the
  * same rows.
  *
  * Commits that REMOVE files (delete / update / compaction / overwrite)
  * are not append-shaped: their added files hold rewritten copies of old
  * rows, which an insert-only stream must not re-emit. Default is to FAIL
  * loudly with guidance; `.option("skipChangeCommits", "true")` skips
  * them entirely (downstream sees inserts only — the Delta-style
  * contract); the row-level exact alternative (deletes included,
  * compaction cancels) is [[graft.streaming.Streaming.changeFeed]].
  *
  * `.option("startingVersion", n|"latest")` picks the start: `n` streams
  * history from version n's commit (default 1 — the initial image is just
  * the first batch), `latest` streams only commits after stream start;
  * `.option("startingTimestamp", iso|millis)` starts from the first
  * commit at-or-after the instant.
  * `.option("maxFilesPerTrigger", n)` bounds each batch to ~n files with
  * FILE-granular offsets (an offset can stop inside a version's added
  * set), so even the one-commit history of an adopted table pages
  * through in bounded batches; `.option("maxBytesPerTrigger", n)` bounds
  * by the manifest's recorded file lengths instead (soft cap, ≥1 file) —
  * bytes are the honest unit when commit sizes vary by orders of
  * magnitude. `Trigger.AvailableNow` pins the end of history once at
  * start and drains exactly that range in (capped) batches, then stops —
  * the batch-backfill mode of the same source.
  *
  * Scale: planning cost per trigger is one directory listing + one small
  * manifest read per new version; data cost is exactly the appended
  * files. A 100 TB table with a steady append stream costs each trigger
  * only its delta — the full-history scan never happens unless a fresh
  * consumer explicitly starts at version 1. Partition values are spliced
  * from the `k=v` path segments per file (cast to the declared schema on
  * the executor), so hive-partitioned tables stream with their partition
  * columns intact — no directory inference job, ever.
  */
class SnapMicroBatchStream(
    dir: String,
    required: StructType,
    tableSchema: StructType,
    options: Map[String, String],
    consumedFilters: Seq[org.apache.spark.sql.sources.Filter] = Seq.empty)
    extends MicroBatchStream
    with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  private def spark: SparkSession = SparkSession.active

  private val skipChangeCommits =
    options.get("skipchangecommits").exists(_.equalsIgnoreCase("true"))

  /** `.option("maxFilesPerTrigger", n)` — admission control: a trigger
    * advances through whole versions but stops once the batch holds ≥ n
    * added files (always at least one version, or a huge commit could
    * never be admitted). The fresh-consumer case this exists for: a
    * stream STARTING at version 1 of a large table pages through history
    * in bounded batches instead of planning the entire table as one.
    */
  private val maxFilesPerTrigger: Option[Int] =
    options.get("maxfilespertrigger").map { s =>
      val n = scala.util.Try(s.toInt).getOrElse(
        throw new IllegalArgumentException(s"maxFilesPerTrigger must be a positive int, got '$s'"))
      require(n >= 1, s"maxFilesPerTrigger must be >= 1, got $n")
      n
    }

  /** `.option("maxBytesPerTrigger", n)` — byte-based admission: the walk
    * stops once the batch's admitted files reach ~n bytes (soft cap:
    * always at least one file, so a single over-sized file still
    * streams). File sizes come from the manifest's recorded lengths — a
    * pre-LengthKey manifest falls back to one getFileStatus per file at
    * PLANNING time only. Bytes are the honest unit at 100 TB: commit
    * sizes vary by orders of magnitude while file counts lie.
    */
  private val maxBytesPerTrigger: Option[Long] =
    options.get("maxbytespertrigger").map { s =>
      val n = scala.util.Try(s.toLong).getOrElse(
        throw new IllegalArgumentException(s"maxBytesPerTrigger must be a positive long, got '$s'"))
      require(n >= 1L, s"maxBytesPerTrigger must be >= 1, got $n")
      n
    }

  override def getDefaultReadLimit: ReadLimit =
    maxFilesPerTrigger.map(n => ReadLimit.maxFiles(n)).getOrElse(ReadLimit.allAvailable())

  /** `Trigger.AvailableNow`: the end of history is pinned ONCE, here — a
    * writer committing while the drain runs doesn't extend this run (its
    * versions wait for the next one). The admission caps still page the
    * pinned range, so available-now on a large backlog stays bounded
    * per batch.
    */
  @volatile private var availableNowTarget: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(Snapshots.latestVersion(spark, dir))

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = spark
    val o = start.asInstanceOf[SnapVersionOffset]
    val vHead = Snapshots.latestVersion(s, dir)
    val vMax = availableNowTarget.fold(vHead)(math.min(_, vHead))
    // never hand Spark an offset BELOW the start: a future startingVersion
    // (table at v2, start pinned at v100) must not commit a backward
    // offset that would later stream versions the user excluded
    def floored(end: SnapVersionOffset): SnapVersionOffset =
      if (end.version < o.version || (end.version == o.version && end.index < o.index)) o
      else end
    if (maxFilesPerTrigger.isEmpty && maxBytesPerTrigger.isEmpty)
      floored(SnapVersionOffset(vMax, 0))
    else {
      // file-granular walk: offsets can stop INSIDE a version's added
      // set, so even a one-commit adopted table (its whole history is
      // version 1) pages through in bounded batches. Bytes come from the
      // manifest's recorded lengths (getFileStatus fallback for
      // pre-LengthKey manifests); both caps are soft — at least one file
      // is always admitted, so an over-sized file still streams.
      var v = o.version
      var k = o.index
      var fileBudget = maxFilesPerTrigger.map(_.toLong).getOrElse(Long.MaxValue)
      var byteBudget = maxBytesPerTrigger.getOrElse(Long.MaxValue)
      var admitted = 0
      var done = false
      while (v < vMax && !done) {
        val (added, removedCount) = addedOf(s, v + 1)
        if (skipChangeCommits && removedCount > 0) {
          // planInputPartitions emits NOTHING for a skipped rewrite
          // commit — charging its (rewritten-copy) files against the
          // budget would drain a large compaction as a series of empty
          // micro-batches. Advance whole-version, cost-free.
          v += 1; k = 0
        } else {
          lazy val lengths = Snapshots.fileStats(s, dir, v + 1)
          def sizeOf(rel: String): Long =
            lengths.get(rel).flatMap(_.get(Snapshots.LengthKey)).map(_.min.toLong).getOrElse {
              val p = Snapshots.resolve(s, dir, rel)
              p.getFileSystem(s.sparkContext.hadoopConfiguration).getFileStatus(p).getLen
            }
          while (k < added.size && !done) {
            val sz = if (maxBytesPerTrigger.isDefined) sizeOf(added(k)) else 0L
            if (admitted > 0 && (fileBudget <= 0L || byteBudget < sz)) done = true
            else {
              fileBudget -= 1L
              byteBudget -= sz
              admitted += 1
              k += 1
              if (fileBudget <= 0L || byteBudget <= 0L) done = true
            }
          }
          if (k >= added.size) { v += 1; k = 0 } // version-complete form

        }
      }
      SnapVersionOffset(v, k)
    }
  }

  /** The ADDED file list of version v, in manifest order (a manifest is
    * an immutable file, so slice indices are stable across replans —
    * what makes the sub-version offset exactly-once). The removed count
    * rides along for the rewrite-commit check.
    */
  private def addedOf(s: SparkSession, v: Long): (Seq[String], Int) = {
    // a delta-committed version records its own added/removed sets —
    // read them directly (no second reconstruction). Both paths yield
    // the same SORTED added sequence, so sub-version offset indices are
    // stable regardless of how the version was committed. A version that
    // changes DELETION VECTORS (merge-on-read DELETE, or a restore moving
    // pointers) removed ROWS without removing files — it counts as a
    // change commit exactly like a rewrite, or an insert-only stream
    // would silently miss the deletes.
    val view = Snapshots.manifestView(s, dir, v)
    val dvChanged = if (v <= 1L) 0 else Snapshots.dvChangedRels(s, dir, v).size
    view.delta match {
      case Some((base, added, removed)) if base == v - 1L => (added, removed.size + dvChanged)
      case _ =>
        val cur = view.rels
        val prev: Set[String] =
          if (v <= 1L) Set.empty else Snapshots.files(s, dir, v - 1L).toSet
        (cur.filterNot(prev), (prev -- cur.toSet).size + dvChanged)
    }
  }

  override def initialOffset(): Offset = {
    require(
      !(options.contains("startingversion") && options.contains("startingtimestamp")),
      "startingVersion and startingTimestamp are mutually exclusive")
    options.get("startingversion") match {
      case Some(s) if s.equalsIgnoreCase("latest") =>
        SnapVersionOffset(Snapshots.latestVersion(spark, dir), 0)
      case Some(s) =>
        val v = scala.util.Try(s.toLong).getOrElse(
          throw new IllegalArgumentException(
            s"startingVersion must be a manifest version or 'latest', got '$s'"))
        require(v >= 1L, s"startingVersion starts at 1, got $v")
        SnapVersionOffset(v - 1L, 0)
      case None =>
        options.get("startingtimestamp") match {
          case Some(tsStr) =>
            // stream from the first commit AT or AFTER the instant (the
            // Delta contract); an instant past all history streams only
            // future commits. ISO-8601 instant or epoch millis.
            val t = scala.util.Try(java.time.Instant.parse(tsStr).toEpochMilli)
              .orElse(scala.util.Try(tsStr.toLong))
              .getOrElse(throw new IllegalArgumentException(
                s"startingTimestamp must be an ISO-8601 instant or epoch millis, got '$tsStr'"))
            val versions = Snapshots.manifestVersions(spark, dir)
            versions.find(_._2 >= t) match {
              case Some((v, _)) => SnapVersionOffset(v - 1L, 0)
              case None => SnapVersionOffset(Snapshots.latestVersion(spark, dir), 0)
            }
          case None => SnapVersionOffset(0L, 0)
        }
    }
  }

  override def latestOffset(): Offset =
    SnapVersionOffset(Snapshots.latestVersion(spark, dir), 0)

  override def deserializeOffset(json: String): Offset = SnapVersionOffset.fromJson(json)

  /** Emit the files between two offsets. An offset (v, k) means: versions
    * ≤ v fully consumed, plus the first k added files of version v+1.
    */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = spark
    val o0 = start.asInstanceOf[SnapVersionOffset]
    val o1 = end.asInstanceOf[SnapVersionOffset]
    val lastV = if (o1.index > 0) o1.version + 1L else o1.version
    val parts = Seq.newBuilder[InputPartition]
    ((o0.version + 1L) to lastV).foreach { v =>
      val (added, removedCount) = addedOf(s, v)
      if (removedCount > 0 && !skipChangeCommits)
        throw new UnsupportedOperationException(
          s"snapshot stream over $dir hit version $v, which rewrote or deleted from $removedCount " +
            "file(s) (delete/update/compaction/overwrite/merge-on-read delete) — an insert-only " +
            "stream cannot represent it. Either .option(\"skipChangeCommits\", \"true\") to skip " +
            "change commits, or read cat.t.changes (the row-level feed with deletes).")
      if (removedCount == 0) {
        val lo = if (v == o0.version + 1L) o0.index else 0
        val hi = if (v == o1.version + 1L) o1.index else added.size
        // a consumed partition filter is file-exact here too: the scan
        // claimed it from the plan, so files whose dir value fails it
        // must not stream (and need not — no matching rows exist in
        // them). But the plan-time gate vetted only the THEN-pinned file
        // list: a future commit may add files that don't carry the
        // column as a canonical path segment, and silently skipping (or
        // keeping) those would corrupt the stream — fail loudly instead.
        // one matcher + declared-type resolution for the whole batch, one
        // path parse per file — this runs every micro-batch planning cycle
        val matchers = consumedFilters.flatMap(SnapFilters.partMatcher).map { m =>
          (m, tableSchema.fields.find(_.name == m.col).map(_.dataType).getOrElse(StringType))
        }
        // one stats lookup per VERSION, not per file: manifestView pays a
        // getFileStatus for its cache key even on a hit
        val versionStats = Snapshots.manifestView(s, dir, v).stats
        added.slice(lo, hi).foreach { rel =>
          val segs = SnapFilters.partSegments(rel)
          val keep = matchers.forall { case (m, declared) =>
            val raw = segs.getOrElse(
              m.col,
              throw new UnsupportedOperationException(
                s"snapshot stream over $dir: version $v added file $rel without a " +
                  s"'${m.col}=' path segment, but the stream's pushed filter on '${m.col}' was " +
                  "consumed at plan time (file-exact partition pruning). The layout changed " +
                  "under the stream — restart it without the partition filter, or fix the layout."))
            val value = SnapFilters.segValue(raw)
            // canonical rendering is required for EVERY matcher kind — a
            // non-castable value splices to NULL rows while its segment
            // is present, so even null-ness answers would be wrong
            value.foreach { vStr =>
              if (!SnapFilters.canonicalValue(vStr, declared))
                throw new UnsupportedOperationException(
                  s"snapshot stream over $dir: version $v added file $rel whose " +
                    s"'${m.col}=$vStr' is not the canonical rendering of its declared type — " +
                    "the consumed partition filter cannot be applied exactly. Restart the " +
                    "stream without the partition filter, or rewrite the layout canonically.")
            }
            m.keep(value)
          }
          if (keep) {
            // an added file normally has no DV at its own version (appends
            // add, DV commits restate) — but a restored/cloned history can
            // list one: honor it so the insert feed emits surviving rows
            val dv = Snapshots
              .dvOf(versionStats.getOrElse(rel, Map.empty))
              .map(d => new org.apache.hadoop.fs.Path(new org.apache.hadoop.fs.Path(dir), d._1).toString)
            parts += SnapStreamFileInput(
              Snapshots.resolve(s, dir, rel).toString,
              SnapFilters.partValsOf(rel),
              dv)
          }
        }
      }
    }
    parts.result().toArray
  }

  override def createReaderFactory(): org.apache.spark.sql.connector.read.PartitionReaderFactory =
    SnapStreamReadFactory(
      required.json,
      tableSchema.json,
      org.apache.spark.sql.graft.Bridge.serializableConf(
        org.apache.spark.sql.graft.Bridge.sessionHadoopConf(spark)),
      spark.conf.get("spark.sql.session.timeZone"))

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Streaming offset (v, k): versions ≤ v fully processed, plus the first
  * k files of version v+1's added set (manifest order — immutable, so the
  * index is stable). k = 0 is the version-complete form.
  */
case class SnapVersionOffset(version: Long, index: Int) extends Offset {
  override def json(): String = s"""{"version":$version,"index":$index}"""
}

object SnapVersionOffset {
  private val Re = """\{"version":(\d+),"index":(\d+)\}""".r
  def fromJson(json: String): SnapVersionOffset = json.trim match {
    case Re(v, i) => SnapVersionOffset(v.toLong, i.toInt)
    // pre-index checkpoints serialized the bare version number
    case s if scala.util.Try(s.toLong).isSuccess => SnapVersionOffset(s.toLong, 0)
    case other => throw new IllegalArgumentException(s"unparseable snapshot stream offset: $other")
  }
}

/** One snapshot data file + its hive partition (column → raw path value)
  * pairs; `__HIVE_DEFAULT_PARTITION__` is the hive null sentinel. Shared
  * by the streaming source and the v2 batch scan ([[SnapKeyedFileInput]])
  * so both read through the same [[SnapStreamReadFactory]].
  */
trait SnapSplicedFileInput extends InputPartition {
  def path: String
  def partVals: Array[(String, String)]

  /** Absolute path of the file's deletion-vector sidecar, when the pinned
    * manifest records one: the reader subtracts those file-row ordinals.
    * None (the default) reads every row — appended files and clean tables.
    */
  def dvPath: Option[String] = None
}

case class SnapStreamFileInput(
    path: String,
    partVals: Array[(String, String)],
    override val dvPath: Option[String] = None)
    extends SnapSplicedFileInput

/** Reads one added parquet file as the REQUIRED schema: data columns come
  * from the file via Spark's own `ParquetReadSupport` (bridged — schema
  * clipping null-fills ALTER-added columns exactly like a DataFrame
  * scan), hive partition columns are cast once per file from their path
  * values to the declared types and spliced into every row, and `_file`
  * (if requested) reports provenance, mirroring the batch scan. Pushed
  * `filters` referencing only DATA columns engage parquet row-group /
  * page skipping inside the file (translated per file against its footer
  * schema — evolution-safe); spliced-column filters are dropped here and
  * re-applied by Spark above.
  */
case class SnapStreamReadFactory(
    requiredJson: String,
    tableJson: String,
    conf: java.io.Serializable,
    zoneId: String,
    filters: Seq[org.apache.spark.sql.sources.Filter] = Nil)
    extends org.apache.spark.sql.connector.read.PartitionReaderFactory {

  override def createReader(p: InputPartition)
      : org.apache.spark.sql.connector.read.PartitionReader[InternalRow] = {
    val in = p.asInstanceOf[SnapSplicedFileInput]
    val required = DataType.fromJson(requiredJson).asInstanceOf[StructType]
    val table = DataType.fromJson(tableJson).asInstanceOf[StructType]
    val partByName = in.partVals.toMap
    // spliced slots: partition columns, _file, and _pos (the file-row
    // ordinal — the deletion-vector coordinate, and the second half of
    // the delta row-level rowId); everything else reads from the bytes
    def spliced(name: String) =
      partByName.contains(name) || name == SnapTable.FileMetaCol || name == SnapTable.PosMetaCol
    val dataSchema = StructType(required.fields.filterNot(f => spliced(f.name)))
    val posRequested = required.fieldNames.contains(SnapTable.PosMetaCol)
    // only data-column predicates reach the file reader: a spliced
    // column's value is constant per file and was decided by file pruning.
    // A DV'd file (or a _pos request) additionally DISABLES parquet-level
    // predicate pushdown: the ordinal counter below is the row's index in
    // its file only when no row group is skipped — Spark re-applies every residual
    // predicate above this reader, so dropping the in-file skipping costs
    // I/O, never correctness.
    val pushable =
      if (in.dvPath.isDefined || posRequested) Nil
      else filters.filter(_.references.forall(r => !spliced(r) && !r.contains(".")))
    val rawReader = org.apache.spark.sql.graft.Bridge.parquetRowReader(
      new Path(in.path),
      dataSchema,
      org.apache.spark.sql.graft.Bridge.confOf(conf),
      pushable)
    // sorted deleted positions + a cursor over the sequential read: O(1)
    // per row, O(deleted) memory — the per-file DV is the small object by
    // construction (large deleted fractions are what materialize is for)
    val reader = new SnapDvSkippingReader(
      rawReader,
      in.dvPath
        .map(dv =>
          SnapStreamReadFactory.readDvPositions(
            dv,
            org.apache.spark.sql.graft.Bridge.confOf(conf)))
        .getOrElse(Array.emptyLongArray))
    // one evaluated internal value per spliced slot, cast from the raw
    // path string to the DECLARED column type (what directory inference
    // would have produced, minus the inference guesswork)
    val out = new Array[Any](required.length)
    val posIdx = required.fieldNames.indexOf(SnapTable.PosMetaCol)
    val dataIdx = Array.newBuilder[Int]
    required.fields.zipWithIndex.foreach { case (f, i) =>
      if (f.name == SnapTable.FileMetaCol) out(i) = UTF8String.fromString(in.path)
      else if (f.name == SnapTable.PosMetaCol) () // per-row, filled in get()
      else if (partByName.contains(f.name)) {
        val raw = partByName(f.name)
        out(i) =
          if (raw == "__HIVE_DEFAULT_PARTITION__") null
          else {
            val declared = table.fields.find(_.name == f.name).map(_.dataType).getOrElse(StringType)
            // LEGACY eval mode, NOT the session default: Spark 4's default
            // ANSI cast would THROW on a non-castable dir value (uid=abc
            // under int) — Spark's own partition handling
            // (PartitioningUtils.castPartValueToDesiredType) splices NULL,
            // and the canonicalValue soundness argument assumes it
            org.apache.spark.sql.catalyst.expressions
              .Cast(
                org.apache.spark.sql.catalyst.expressions
                  .Literal(UTF8String.fromString(raw), StringType),
                declared,
                Some(zoneId),
                org.apache.spark.sql.catalyst.expressions.EvalMode.LEGACY)
              .eval(null)
          }
      } else dataIdx += i
    }
    val dataPositions = dataIdx.result()
    val dataTypes = dataSchema.fields.map(_.dataType)
    new org.apache.spark.sql.connector.read.PartitionReader[InternalRow] {
      private var cur: InternalRow = _
      override def next(): Boolean = { cur = reader.read(); cur != null }
      override def get(): InternalRow = {
        val row = out.clone()
        if (posIdx >= 0) row(posIdx) = reader.currentOrdinal
        var i = 0
        while (i < dataPositions.length) {
          row(dataPositions(i)) = if (cur.isNullAt(i)) null else cur.get(i, dataTypes(i))
          i += 1
        }
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(row)
      }
      override def close(): Unit = reader.close()
    }
  }
}

object SnapStreamReadFactory {

  /** One sidecar's deleted positions as a sorted long array — executor-
    * side, through the same bridged parquet reader (schema clipping
    * projects `pos` out of the `(rel, pos)` sidecar). Sidecars are written
    * sorted-distinct; the defensive sort keeps the skip cursor sound even
    * against a hand-written sidecar.
    */
  private[snap] def readDvPositions(
      path: String,
      conf: org.apache.hadoop.conf.Configuration): Array[Long] = {
    val schema = StructType(Seq(
      org.apache.spark.sql.types.StructField(
        "pos",
        org.apache.spark.sql.types.LongType,
        nullable = false)))
    val r = org.apache.spark.sql.graft.Bridge.parquetRowReader(
      new Path(path),
      schema,
      conf)
    val buf = scala.collection.mutable.ArrayBuilder.make[Long]
    try {
      var row = r.read()
      while (row != null) {
        buf += row.getLong(0)
        row = r.read()
      }
    } finally r.close()
    val out = buf.result()
    java.util.Arrays.sort(out)
    out
  }
}

/** Sequential parquet read minus a sorted set of file-row ordinals — the
  * executor half of a deletion vector. The ordinal counter equals the
  * row's index in its file (the DV's coordinate system) exactly because
  * the wrapped reader never skips a row group (DV'd files read with
  * parquet predicate pushdown disabled).
  */
private[snap] final class SnapDvSkippingReader(
    inner: org.apache.parquet.hadoop.ParquetReader[InternalRow],
    positions: Array[Long]) {

  private var ordinal = 0L
  private var cursor = 0

  /** File-row ordinal of the row the LAST `read()` returned — the `_pos`
    * value of the current row (undefined before the first read).
    */
  def currentOrdinal: Long = ordinal - 1L

  def read(): InternalRow = {
    while (true) {
      val row = inner.read()
      if (row == null) return null
      while (cursor < positions.length && positions(cursor) < ordinal) cursor += 1
      val deleted = cursor < positions.length && positions(cursor) == ordinal
      ordinal += 1L
      if (!deleted) return row
    }
    null // unreachable
  }

  def close(): Unit = inner.close()
}
