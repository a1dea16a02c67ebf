package graft.sources.snap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.Scan
import org.apache.spark.sql.connector.write.{
  BatchWrite,
  DataWriter,
  DataWriterFactory,
  PhysicalWriteInfo,
  Write,
  WriterCommitMessage
}
import org.apache.spark.sql.types.StructType

import graft.sources.{DataFiles, Snapshots}

// Row-level plumbing of the snapshot table's DSv2 writes: the read side
// of SQL UPDATE / MERGE INTO / un-pushable DELETE ([[SnapRowLevelScan]],
// planned by [[SnapDeltaRowLevelOperation]]) and the staging writers
// every DSv2 write lands parquet through — the merge-on-read insert side,
// the streaming sink and dynamic partition overwrite.

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

/** Commit message of a hive-partitioned staging task: one staged file per
  * partition value the task saw, stage-relative so the landing preserves
  * the `k=v` directory structure.
  */
case class SnapStagedPartFiles(rels: Seq[String], rows: Long) extends WriterCommitMessage

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

/** Dynamic hive-partitioned staging writer: routes each row to its
  * partition directory by the row's OWN partition-column values (so an
  * UPDATE that changes a partition value moves the row), strips the
  * partition columns from the file bytes (the hive layout — readers
  * splice them back from the path), and renders directory names with
  * Spark's own escaping so written partitions land in exactly the
  * directories the table already uses. One open writer per partition
  * value seen by the task.
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
    * buffering, NOT a fan-out bound. Batch writes EVICT on overflow
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
    private val stage = DataFiles.stageDir(new Path(dir)).getName

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
        // ONE swap from the archive step through the commit: a mid-loop
        // landing failure or a refused commit (CHECK violation) leaves the
        // pre-op live tree — otherwise a later listing commit would adopt
        // a partial never-committed batch AND silently truncate the
        // overwritten partitions
        val stagePath = new Path(rootPath, stage)
        try
          DataFiles.swap(fs, rootPath, replaced, DataFiles.staged(stagePath, stagedRels))(
            Snapshots.commit(spark, dir)) // inherits the table's stats + bloom discipline
        finally fs.delete(stagePath, true)
      }
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit = {
      val rootPath = new Path(dir)
      val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new Path(rootPath, stage), true)
    }
  }
}
