package graft.sources.snap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder}
import org.apache.spark.sql.connector.write.{
  BatchWrite,
  DataWriter,
  DataWriterFactory,
  LogicalWriteInfo,
  PhysicalWriteInfo,
  RowLevelOperation,
  RowLevelOperationBuilder,
  RowLevelOperationInfo,
  Write,
  WriteBuilder,
  WriterCommitMessage
}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.Snapshots

/** Group-based (copy-on-write) row-level operations for snapshot tables —
  * the machinery behind SQL `UPDATE cat.t SET …` and `MERGE INTO cat.t`
  * (and the rewrite fallback for un-pushable DELETEs):
  *
  *  1. Spark asks the table for a [[RowLevelOperation]] and builds BOTH its
  *     read and write side from the SAME instance — which is the whole
  *     coordination trick: the operation's scan records exactly the files
  *     it planned (after manifest-stats + bloom pruning of the operation's
  *     pushed condition), and its write later replaces exactly those files.
  *  2. The scan is the ordinary pruned snapshot scan: an UPDATE whose WHERE
  *     prunes to one day reads (and therefore rewrites) only that day's
  *     files — untouched files are never read or written, the same
  *     selective-rewrite economics the programmatic `updateWhere` has.
  *  3. Spark computes the full replacement row set (updated matches +
  *     untouched rows of the scanned files) and hands it back as
  *     InternalRows; [[SnapReplaceBatchWrite]] writes them as parquet in a
  *     staging dir via Spark's own `ParquetWriteSupport` (bridged — bytes
  *     identical to a DataFrame write), then commits under the table lock:
  *     land staged files, ARCHIVE the replaced ones (pinned manifests keep
  *     resolving; the op is time-travelable and restorable), commit the
  *     next manifest version inheriting the table's stats/bloom columns.
  *
  * Hive-partitioned tables work too: the scan splices partition values
  * from each file's path, and [[SnapHivePartitionedDataWriter]] routes
  * replacement rows back to partition directories by the rows' own
  * values (stripping the columns from the file bytes), so cross-
  * partition row moves land correctly. Mixed layouts and partition
  * types without a canonical path rendering refuse at write-build time.
  */
class SnapRowLevelBuilder(dir: String, view: Snapshots.ManifestView, tableSchema: StructType)
    extends RowLevelOperationBuilder {
  override def build(): RowLevelOperation = {
    // merge-on-read opt-in: [[SnapTable.morEnabled]] (one predicate for
    // the whole DML surface) plans Spark's DELTA-BASED operation instead
    // of the group-based rewrite: deletes become deletion-vector
    // positions, inserts become appended files, one atomic commit
    // ([[SnapDeltaRowLevelOperation]])
    if (SnapTable.morEnabled(org.apache.spark.sql.SparkSession.active))
      new SnapDeltaRowLevelOperation(dir, view, tableSchema, cmd)
    else new SnapRowLevelOperation(dir, view, tableSchema, this)
  }
  private[snap] var cmd: RowLevelOperation.Command = _
}

private[snap] object SnapRowLevelWriteChecks {

  /** Shared write-build validation for BOTH row-level paths (group-based
    * rewrite and delta-based merge-on-read): a hive-partitioned table
    * must have a coherent layout (every file carries every partition
    * segment) and path-renderable partition types — the writers route
    * replacement/inserted rows to directories by the rows' OWN values,
    * and a non-renderable type would silently corrupt directory names.
    * Returns the effective partition columns.
    */
  def validatedPartCols(
      dir: String,
      view: Snapshots.ManifestView,
      tableSchema: StructType,
      cmd: RowLevelOperation.Command): Seq[String] = {
    val partCols =
      if (view.partCols.nonEmpty) view.partCols
      else Snapshots.partitionColsFromRels(view.rels)
    if (partCols.nonEmpty) {
      val incoherent = view.rels.filterNot { r =>
        val segs = SnapFilters.partSegments(r)
        partCols.forall(segs.contains)
      }
      if (incoherent.nonEmpty)
        throw new UnsupportedOperationException(
          s"row-level $cmd on $dir: ${incoherent.size} file(s) lack the " +
            s"[${partCols.mkString(", ")}] hive layout — a mixed layout cannot be " +
            "rewritten partition-aware; compact the table to one layout first")
      partCols.foreach { c =>
        val t = tableSchema.fields
          .find(_.name == c)
          .map(_.dataType)
          .getOrElse(throw new UnsupportedOperationException(
            s"partition column '$c' is not in the table schema"))
        t match {
          case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
              org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType |
              org.apache.spark.sql.types.StringType | org.apache.spark.sql.types.DateType |
              org.apache.spark.sql.types.BooleanType =>
            ()
          case other =>
            throw new UnsupportedOperationException(
              s"row-level $cmd on $dir: partition column '$c' of type " +
                s"${other.simpleString} has no canonical path rendering — use the " +
                "programmatic per-partition rewrites instead")
        }
      }
    }
    partCols
  }
}

object SnapRowLevelBuilder {
  def apply(
      dir: String,
      view: Snapshots.ManifestView,
      tableSchema: StructType,
      info: RowLevelOperationInfo): SnapRowLevelBuilder = {
    // NO partitioned-table check here: Spark builds the operation for
    // EVERY delete/update/merge on the table, including deletes that the
    // metadata-only optimization later reclaims (DeleteFromTableWithFilters
    // never executes the rewrite). The refusal lives at write-build time —
    // the first point that proves the rewrite will actually run.
    val b = new SnapRowLevelBuilder(dir, view, tableSchema)
    b.cmd = info.command
    b
  }
}

class SnapRowLevelOperation(
    dir: String,
    view: Snapshots.ManifestView,
    tableSchema: StructType,
    parent: SnapRowLevelBuilder)
    extends RowLevelOperation {

  // set when Spark builds the operation's scan; the write replaces exactly
  // these files. Defaults to the whole pinned file list (an unprunable
  // condition rewrites the table — correct copy-on-write, just not cheap).
  @volatile private[snap] var scannedRels: Seq[String] = view.rels

  override def command(): RowLevelOperation.Command = parent.cmd

  override def description(): String = s"GraftSnapRowLevel ${command()} $dir"

  /** Declaring `_file` does double duty: the writer gets provenance, and —
    * decisive — it makes Spark plan the `DataAndMetadataWritingSparkTask`,
    * the only exec path that applies `ReplaceDataProjections` before the
    * connector's writer (the metadata-free task hands the writer the RAW
    * rewrite rows, `__row_operation` included).
    */
  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column(SnapTable.FileMetaCol))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new SnapScanBuilder(dir, view, tableSchema) {
      // the rewrite machinery documents (and SnapRowLevelScan relies on)
      // every pushed filter staying residual, so Spark re-applies the
      // operation's condition row-level — partition-exact consumption
      // must never strip that Filter here
      override protected def allowConsumption: Boolean = false
      override def build(): Scan = {
        // the rewrite must NOT copy rows a merge-on-read delete already
        // removed: the row-level reader subtracts each scanned file's
        // deletion vector (and the replacement file, having materialized
        // them, carries no pointer — the commit's stats carry only
        // applies to surviving rels)
        val dvByRel: Map[String, String] = Snapshots.dvPathByRel(view)
        super.build() match {
          case v: SnapV2BatchScan =>
            // same pruned file list, one input partition per file and no
            // runtime filtering: the write replaces exactly these files
            scannedRels = v.currentRels
            new SnapRowLevelScan(dir, v.currentRels, v.readSchema(), tableSchema, dvByRel)
          case s => s // count-style scans never appear under a row-level op
        }
      }
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = new WriteBuilder {
    override def build(): Write = {
      // hive-partitioned tables: replacement rows carry partition values
      // as data columns, and the writer routes each row to its partition
      // directory (partition columns stripped from the file bytes — the
      // hive layout), so an UPDATE that moves a row across partitions
      // lands it in its NEW directory. Requires a coherent layout and
      // path-renderable partition types; anything else refuses loudly.
      val partCols =
        SnapRowLevelWriteChecks.validatedPartCols(dir, view, tableSchema, command())
      new Write {
        override def description(): String = s"GraftSnapReplaceData $dir files=${scannedRels.size}"
        override def toBatch: BatchWrite =
          new SnapReplaceBatchWrite(dir, scannedRels, info.schema(), view.version, partCols)
      }
    }
  }
}

/** The row-level operation's read side: the pruned file list as a true
  * DSv2 [[org.apache.spark.sql.connector.read.Batch]] — one input
  * partition per file, rows materialized through the SAME spliced reader
  * the streaming source and v2 batch path use
  * ([[SnapStreamReadFactory]]): data columns from the parquet bytes
  * (evolution-safe null-fill), hive partition columns cast once per file
  * from their `k=v` path values (legacy-mode — a non-castable value
  * splices NULL), `_file` provenance spliced. All pushed filters stay
  * residual (the scan builder never claims them), so Spark re-applies
  * the operation's condition row-level above this scan.
  */
class SnapRowLevelScan(
    dir: String,
    rels: Seq[String],
    required: StructType,
    tableSchema: StructType,
    dvByRel: Map[String, String] = Map.empty)
    extends Scan
    with org.apache.spark.sql.connector.read.Batch {

  override def readSchema(): StructType = required
  override def description(): String = s"GraftSnapRowLevelScan $dir files=${rels.size}"
  override def toBatch: org.apache.spark.sql.connector.read.Batch = this

  override def planInputPartitions(): Array[org.apache.spark.sql.connector.read.InputPartition] = {
    val spark = SparkSession.active
    rels.map { rel =>
      SnapStreamFileInput(
        Snapshots.resolve(spark, dir, rel).toString,
        SnapFilters.partValsOf(rel),
        dvByRel.get(rel).map(d => new Path(new Path(dir), d).toString))
        : org.apache.spark.sql.connector.read.InputPartition
    }.toArray
  }

  override def createReaderFactory(): org.apache.spark.sql.connector.read.PartitionReaderFactory = {
    val spark = SparkSession.active
    SnapStreamReadFactory(
      required.json,
      tableSchema.json,
      org.apache.spark.sql.graft.Bridge.serializableConf(
        org.apache.spark.sql.graft.Bridge.sessionHadoopConf(spark)),
      spark.conf.get("spark.sql.session.timeZone"))
  }
}

/** Commit message: one staged file written by one task. */
case class SnapStagedFile(path: String, rows: Long) extends WriterCommitMessage

/** Commit message of a hive-partitioned rewrite task: one staged file per
  * partition value the task saw, stage-relative so the landing preserves
  * the `k=v` directory structure.
  */
case class SnapStagedPartFiles(rels: Seq[String], rows: Long) extends WriterCommitMessage

class SnapReplaceBatchWrite(
    dir: String,
    replacedRels: Seq[String],
    schema: StructType,
    scannedVersion: Long,
    partCols: Seq[String] = Seq.empty)
    extends BatchWrite {

  private def spark: SparkSession = SparkSession.active

  // staging lives INSIDE the table dir (same filesystem → rename is a
  // move) but dot-prefixed, invisible to listings and manifests
  private val stage = s".replace-${java.util.UUID.randomUUID().toString}"

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    // the SESSION's hadoop conf (SQLConf entries included), so the staged
    // parquet honors the session timezone / parquet write settings exactly
    // like a DataFrame write would
    val conf = org.apache.spark.sql.graft.Bridge.sessionHadoopConf(spark)
    val fs = new Path(dir).getFileSystem(conf)
    fs.mkdirs(new Path(new Path(dir), stage))
    if (partCols.isEmpty)
      SnapParquetWriterFactory(
        s"$dir/$stage",
        schema,
        org.apache.spark.sql.graft.Bridge.serializableConf(conf))
    else
      SnapHivePartWriterFactory(
        s"$dir/$stage",
        schema,
        partCols,
        org.apache.spark.sql.graft.Bridge.serializableConf(conf))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val rootPath = new Path(dir)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Snapshots.withTableLock(spark, dir) {
      // OPTIMISTIC CONCURRENCY: the rewrite read version `scannedVersion`;
      // if anything committed since (another UPDATE, a compaction, an
      // ingest), landing our replacement would duplicate or drop rows the
      // other commit moved — fail loudly instead, the caller retries. The
      // programmatic ops hold the lock across scan+rewrite+commit; the SQL
      // row-level path scans outside the lock, so it must validate here.
      val current = Snapshots.latestVersion(spark, dir)
      if (current != scannedVersion) {
        abort(messages)
        sys.error(
          s"concurrent update detected on $dir: row-level operation scanned manifest " +
            s"v$scannedVersion but the table is now at v$current — retry the statement")
      }
      // land the replacement files FIRST, then archive the replaced ones —
      // the compactInPlace window discipline; manifest readers are the
      // consistency surface and the closing commit defines the result
      val stagePath = new Path(rootPath, stage)
      def land(stageRel: String): Unit = {
        val from = new Path(stagePath, stageRel)
        val to = new Path(rootPath, stageRel)
        fs.mkdirs(to.getParent)
        if (!fs.rename(from, to)) sys.error(s"replace-data landing failed: $from")
      }
      messages.foreach {
        case SnapStagedFile(p, _) if p.nonEmpty => land(new Path(p).getName)
        case SnapStagedFile(_, _) => () // empty task: nothing staged
        case SnapStagedPartFiles(rels, _) => rels.foreach(land)
        case other => sys.error(s"unexpected commit message $other")
      }
      replacedRels.foreach { rel =>
        val live = new Path(rootPath, rel)
        if (fs.exists(live)) Snapshots.archiveFile(fs, rootPath, live)
      }
      fs.delete(stagePath, true)
      Snapshots.commit(spark, dir) // inherits the table's stats + bloom discipline
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val rootPath = new Path(dir)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(rootPath, stage), true)
  }
}

case class SnapParquetWriterFactory(
    stageDir: String,
    schema: StructType,
    conf: java.io.Serializable)
    extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new SnapParquetDataWriter(
      new Path(
        stageDir,
        f"part-$partitionId%05d-$taskId-${java.util.UUID.randomUUID().toString}.parquet"),
      schema,
      org.apache.spark.sql.graft.Bridge.confOf(conf))
}

case class SnapHivePartWriterFactory(
    stageDir: String,
    schema: StructType,
    partCols: Seq[String],
    conf: java.io.Serializable)
    extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new SnapHivePartitionedDataWriter(
      stageDir,
      schema,
      partCols,
      org.apache.spark.sql.graft.Bridge.confOf(conf),
      f"part-$partitionId%05d-$taskId-${java.util.UUID.randomUUID().toString}.parquet")
}

/** Dynamic hive-partitioned staging writer: routes each replacement row
  * to its partition directory by the row's OWN partition-column values
  * (so an UPDATE that changes a partition value moves the row), strips
  * the partition columns from the file bytes (the hive layout — readers
  * splice them back from the path), and renders directory names with
  * Spark's own escaping so rewritten partitions land in exactly the
  * directories the table already uses. One open writer per partition
  * value seen by the task — the rewrite scan is file-per-partition-dir,
  * so a task normally sees one.
  */
class SnapHivePartitionedDataWriter(
    stageDir: String,
    schema: StructType,
    partCols: Seq[String],
    conf: org.apache.hadoop.conf.Configuration,
    fileName: String,
    /** Streaming epochs: each partition dir's attempt file renames onto
      * this deterministic name at task commit (the [[SnapParquetDataWriter]]
      * replay-overwrite discipline, per partition value).
      */
    finalName: Option[String] = None)
    extends DataWriter[InternalRow] {

  private val partIdx: Array[Int] = partCols.map(c => schema.fieldNames.indexOf(c)).toArray
  private val dataIdx: Array[Int] =
    schema.fieldNames.zipWithIndex.collect {
      case (n, i) if !partCols.contains(n) => i
    }
  private val dataSchema = StructType(dataIdx.map(schema.fields(_)).toIndexedSeq)
  private val dataTypes = dataSchema.fields.map(_.dataType)

  // LinkedHashMap as an LRU (remove + re-put on access): each open
  // parquet writer buffers a row group, so the OPEN set — not the
  // partition count — is what bounds task memory
  private val writers = scala.collection.mutable.LinkedHashMap
    .empty[String, org.apache.parquet.hadoop.ParquetWriter[InternalRow]]
  // per-dir rotation count: an evicted-then-reopened partition writes a
  // NEW file (parquet files don't reopen) with a `-r<n>` suffix
  private val rotations = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
  private val closedRels = scala.collection.mutable.ArrayBuffer.empty[String]
  // streaming only: values whose single file is already closed (dir ->
  // attempt rel, renamed onto the deterministic name at task commit)
  private val streamClosed = scala.collection.mutable.LinkedHashMap.empty[String, String]
  private var rows = 0L

  /** Concurrently-open writer cap — a memory bound on parquet row-group
    * buffering, NOT a fan-out bound. Batch rewrites EVICT on overflow
    * (close + rotate on reopen — safe: batch staging is attempt-unique).
    * Streaming epochs close the least-recently-used value PERMANENTLY
    * instead: the catalog Write declares a within-task sort by the
    * partition columns ([[SnapWriteBuilder]]'s `requiredOrdering`), so a
    * value's rows are contiguous and the evicted value is finished — its
    * one deterministically-named file per (task, value) is unchanged by
    * replay order, keeping the skip-if-exists exactly-once argument. A
    * closed value REAPPEARING means the input was not sorted (a non-
    * catalog path skipped the declared ordering); rotation there would
    * make replays split rows nondeterministically across the
    * deterministic names, so the writer refuses loudly — repartition +
    * sort the stream by the table's partition columns upstream.
    */
  private val maxOpen = if (finalName.isDefined) 128 else 16

  /** One partition value as its canonical hive path string — the same
    * rendering Spark's own partitioned writer produces, so the directory
    * matches what partition inference (and the manifest's path stats)
    * will read back.
    */
  private def render(row: InternalRow, i: Int): String = {
    import org.apache.spark.sql.types._
    if (row.isNullAt(i)) null
    else
      schema.fields(i).dataType match {
        case ByteType => row.getByte(i).toString
        case ShortType => row.getShort(i).toString
        case IntegerType => row.getInt(i).toString
        case LongType => row.getLong(i).toString
        case BooleanType => row.getBoolean(i).toString
        case DateType => java.time.LocalDate.ofEpochDay(row.getInt(i).toLong).toString
        case _ => row.getUTF8String(i).toString
      }
  }

  private def dirOf(row: InternalRow): String =
    partCols.zip(partIdx.toSeq).map { case (c, i) =>
      val v = render(row, i)
      val rendered =
        if (v == null) "__HIVE_DEFAULT_PARTITION__"
        else org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(v)
      s"$c=$rendered"
    }.mkString("/")

  private def fileFor(rot: Int): String =
    if (rot == 0) fileName
    else fileName.stripSuffix(".parquet") + s"-r$rot.parquet"

  override def write(metadata: InternalRow, record: InternalRow): Unit = write(record)

  override def write(record: InternalRow): Unit = {
    val dir = dirOf(record)
    val w = writers.remove(dir) match {
      case Some(open) => open
      case None =>
        if (finalName.isDefined && streamClosed.contains(dir))
          throw new IllegalStateException(
            s"streaming epoch task saw partition value '$dir' again after closing its file — " +
              "rows are not sorted by the table's partition columns (a write path skipped the " +
              "catalog's declared ordering); sort the stream by the partition columns so each " +
              "value's single deterministic file per task survives replay")
        if (writers.size >= maxOpen) {
          val (lruDir, lruW) = writers.head
          writers.remove(lruDir)
          lruW.close()
          if (finalName.isDefined) {
            // sorted input: the LRU value is finished — close-for-good,
            // one file per (task, value), replay-order independent
            streamClosed(lruDir) = s"$lruDir/${fileFor(0)}"
          } else {
            closedRels += s"$lruDir/${fileFor(rotations(lruDir))}"
            rotations(lruDir) += 1
          }
        }
        org.apache.spark.sql.graft.Bridge
          .parquetRowWriter(new Path(s"$stageDir/$dir", fileFor(rotations(dir))), dataSchema, conf)
    }
    writers.put(dir, w) // most-recently-used at the tail
    // project the data columns out (partition values live in the path)
    val out = new Array[Any](dataIdx.length)
    var i = 0
    while (i < dataIdx.length) {
      out(i) = if (record.isNullAt(dataIdx(i))) null else record.get(dataIdx(i), dataTypes(i))
      i += 1
    }
    w.write(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(out))
    rows += 1L
  }

  override def commit(): WriterCommitMessage = {
    writers.values.foreach(_.close())
    val openRels = writers.keys.toSeq.map(d => d -> s"$d/${fileFor(rotations(d))}")
    finalName match {
      case None =>
        SnapStagedPartFiles((closedRels.toSeq ++ openRels.map(_._2)).sorted, rows)
      case Some(n) =>
        // streaming never rotates (a closed value reappearing refuses), so
        // every dir — still-open or closed-on-overflow — has exactly its
        // attempt file to rename onto the deterministic name
        val fs = new Path(stageDir).getFileSystem(conf)
        val allRels = streamClosed.toSeq ++ openRels
        allRels.foreach { case (d, rel) =>
          val from = new Path(s"$stageDir/$rel")
          val target = new Path(s"$stageDir/$d", n)
          if (fs.exists(target)) fs.delete(target, false) // dead attempt's leftover
          if (!fs.rename(from, target))
            throw new java.io.IOException(s"task commit rename failed: $from -> $target")
        }
        SnapStagedPartFiles(allRels.map(_._1).sorted.map(d => s"$d/$n"), rows)
    }
  }

  override def abort(): Unit = {
    writers.values.foreach(w => scala.util.Try(w.close()))
    val fs = new Path(stageDir).getFileSystem(conf)
    (closedRels.toSeq ++ streamClosed.values.toSeq ++
      writers.keys.toSeq.map(d => s"$d/${fileFor(rotations(d))}"))
      .foreach(rel => scala.util.Try(fs.delete(new Path(s"$stageDir/$rel"), false)))
  }

  override def close(): Unit = ()
}

/** One task's parquet writer: Spark's own row→parquet encoding (bridged
  * `ParquetWriteSupport`), snappy, one file per non-empty task. Empty
  * tasks commit nothing — no empty-file litter. When `finalName` is set
  * (streaming epochs), the attempt writes under its OWN path and renames
  * onto the deterministic name at task commit — the commit coordinator
  * authorizes exactly one attempt per partition, so the rename is
  * race-free while concurrent attempts never share bytes.
  */
class SnapParquetDataWriter(
    path: Path,
    schema: StructType,
    conf: org.apache.hadoop.conf.Configuration,
    finalName: Option[String] = None)
    extends DataWriter[InternalRow] {

  private var writer: org.apache.parquet.hadoop.ParquetWriter[InternalRow] = _
  private var rows = 0L

  /** Metadata-and-data form: `_file` provenance is read-side only — the
    * replacement file is new, so the metadata row is simply dropped.
    */
  override def write(metadata: InternalRow, record: InternalRow): Unit = write(record)

  override def write(record: InternalRow): Unit = {
    if (writer == null)
      writer = org.apache.spark.sql.graft.Bridge.parquetRowWriter(path, schema, conf)
    writer.write(record)
    rows += 1L
  }

  override def commit(): WriterCommitMessage = {
    if (writer != null) writer.close()
    if (rows == 0L) SnapStagedFile("", 0L)
    else
      finalName match {
        case None => SnapStagedFile(path.toString, rows)
        case Some(n) =>
          val fs = path.getFileSystem(conf)
          val target = new Path(path.getParent, n)
          if (fs.exists(target)) fs.delete(target, false) // dead attempt's leftover
          if (!fs.rename(path, target))
            throw new java.io.IOException(s"task commit rename failed: $path -> $target")
          SnapStagedFile(target.toString, rows)
      }
  }

  override def abort(): Unit = {
    if (writer != null) writer.close()
    path.getFileSystem(conf).delete(path, false)
  }

  override def close(): Unit = ()
}

/** Dynamic partition overwrite as a true DSv2 batch write (Spark plans
  * `OverwritePartitionsDynamic` with no V1 fallback): each task routes
  * its rows to partition directories under a hidden staging tree
  * ([[SnapHivePartitionedDataWriter]] — canonical hive rendering, columns
  * stripped from the bytes), and the commit, under the table lock,
  * archives exactly the live files of the partitions the tasks ACTUALLY
  * WROTE (no separate distinct-partitions job — the staged rels carry the
  * touched set), lands the staged files, and commits the next manifest
  * version under the table's inherited stats/bloom discipline. Untouched
  * partitions are never read, written, or archived; every pre-overwrite
  * version stays pinned-readable.
  */
class SnapDynamicOverwriteWrite(dir: String, schema: StructType, partCols: Seq[String])
    extends Write {

  override def description(): String = s"GraftSnapDynamicOverwrite $dir by=[${partCols.mkString(",")}]"

  override def toBatch: BatchWrite = new BatchWrite {
    private def spark: SparkSession = SparkSession.active
    private val stage = s".dynover-${java.util.UUID.randomUUID().toString}"

    override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
      val conf = org.apache.spark.sql.graft.Bridge.sessionHadoopConf(spark)
      val fs = new Path(dir).getFileSystem(conf)
      fs.mkdirs(new Path(new Path(dir), stage))
      SnapHivePartWriterFactory(
        s"$dir/$stage",
        schema,
        partCols,
        org.apache.spark.sql.graft.Bridge.serializableConf(conf))
    }

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val rootPath = new Path(dir)
      val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      Snapshots.withTableLock(spark, dir) {
        val stagedRels: Seq[String] = messages.toSeq.flatMap {
          case SnapStagedPartFiles(rels, _) => rels
          case SnapStagedFile(p, _) if p.isEmpty => Seq.empty
          case other => sys.error(s"unexpected commit message $other")
        }
        // the touched partitions ARE the staged dirs — replaced files are
        // the live files under exactly those directories
        val touched: Set[String] =
          stagedRels.map(rel => rel.substring(0, rel.lastIndexOf('/'))).toSet
        val replaced = Snapshots
          .listDataFiles(spark, dir)
          .filter { rel =>
            val cut = rel.lastIndexOf('/')
            cut > 0 && touched.contains(rel.substring(0, cut))
          }
        // ONE failure scope from the archive step through the commit: a
        // mid-loop landing failure or a refused commit (CHECK violation)
        // must restore the exact pre-op live tree — delete whatever this
        // write already landed and move the replaced originals back from
        // the archive; otherwise a later listing commit would adopt a
        // partial never-committed batch AND silently truncate the
        // overwritten partitions
        val landedSoFar = scala.collection.mutable.ListBuffer.empty[String]
        try {
          replaced.foreach(rel => Snapshots.archiveFile(fs, rootPath, new Path(rootPath, rel)))
          val stagePath = new Path(rootPath, stage)
          stagedRels.foreach { rel =>
            val to = new Path(rootPath, rel)
            fs.mkdirs(to.getParent)
            if (!fs.rename(new Path(stagePath, rel), to))
              sys.error(s"dynamic overwrite landing failed: $rel")
            landedSoFar += rel
          }
          fs.delete(stagePath, true)
          Snapshots.commit(spark, dir) // inherits the table's stats + bloom discipline
        } catch {
          case e: Throwable =>
            Snapshots.rollbackRefusedLanding(fs, rootPath, landedSoFar.toSeq, replaced)
            throw e
        }
      }
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit = {
      val rootPath = new Path(dir)
      val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new Path(rootPath, stage), true)
    }
  }
}
