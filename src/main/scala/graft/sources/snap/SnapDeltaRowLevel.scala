package graft.sources.snap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder}
import org.apache.spark.sql.connector.write.{
  DeltaBatchWrite,
  DeltaWrite,
  DeltaWriteBuilder,
  DeltaWriter,
  DeltaWriterFactory,
  LogicalWriteInfo,
  PhysicalWriteInfo,
  RowLevelOperation,
  SupportsDelta,
  WriterCommitMessage
}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.{DataFiles, DeleteVectors, Snapshots}

/** SQL `UPDATE cat.t SET …`, `MERGE INTO cat.t` and un-pushable
  * `DELETE`s — Spark's DELTA-BASED row-level operation ([[SupportsDelta]])
  * planned natively, merge-on-read: the engine receives the CHANGED ROWS
  * ONLY and writes them as deltas:
  *
  *  - a deleted row becomes a position in its file's deletion vector;
  *  - an inserted row (MERGE not-matched, or the new image of an UPDATE —
  *    `representUpdateAsDeleteAndInsert`) lands in a NEW appended file;
  *  - one atomic manifest commit restates the touched files' DV pointers
  *    AND records the new files ([[Snapshots.commitRestated]]).
  *
  * The rowId is `(_file, _pos)` — the table's stable row identity, served
  * by the same spliced reader every scan path uses (the `_pos` ordinal IS
  * the deletion-vector coordinate, so the write side records exactly what
  * the read side subtracts). At 100 TB this prices `UPDATE`/`MERGE` at
  * "write the matched rows plus kilobytes of sidecar", not "rewrite every
  * matched multi-GB file": an update of 0.01 % of rows costs 0.01 % of
  * the bytes. Vector growth stays bounded: the commit rewrites a file
  * once its deleted fraction passes `spark.graft.dv.maxDeletedFraction`
  * ([[DeleteVectors.boundedCommit]]).
  *
  * Change feed and streaming integrate for free: the commit is DV
  * restates + added files, so `cat.t.changes` emits precise per-position
  * deletes plus the new rows as inserts (an UPDATE shows the CDF-standard
  * delete+insert pair), and the insert-only stream classifies the version
  * as a change commit.
  */
class SnapDeltaRowLevelOperation(
    dir: String,
    view: Snapshots.ManifestView,
    tableSchema: StructType,
    cmd: RowLevelOperation.Command)
    extends RowLevelOperation
    with SupportsDelta {

  override def command(): RowLevelOperation.Command = cmd

  override def description(): String = s"GraftSnapDeltaRowLevel $cmd $dir (merge-on-read)"

  override def rowId(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(
      org.apache.spark.sql.connector.expressions.Expressions.column(SnapTable.FileMetaCol),
      org.apache.spark.sql.connector.expressions.Expressions.column(SnapTable.PosMetaCol))

  /** UPDATE splits into delete + reinsert: the writer stays two-sided
    * (positions out, rows in) and a cross-partition UPDATE moves its row
    * to the new directory through the insert side's routing.
    */
  override def representUpdateAsDeleteAndInsert(): Boolean = true

  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] = Array.empty

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new SnapScanBuilder(dir, view, tableSchema) {
      // every pushed filter stays residual (Spark re-applies the
      // operation's condition row-level); file pruning still narrows the
      // scan to files that can hold matches
      override protected def allowConsumption: Boolean = false
      override def build(): Scan = {
        val dvByRel: Map[String, String] = Snapshots.dvPathByRel(view)
        super.build() match {
          case v: SnapV2BatchScan =>
            new SnapRowLevelScan(dir, v.currentRels, v.readSchema(), tableSchema, dvByRel)
          case s => s
        }
      }
    }

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = {
        val partCols = validatedPartCols()
        new DeltaWrite {
          override def description(): String = s"GraftSnapDeltaWrite $dir"
          override def toBatch: DeltaBatchWrite =
            new SnapDeltaBatchWrite(dir, info.schema(), view.version, partCols)
        }
      }
    }

  /** Write-build validation of the insert side, which routes rows to
    * directories by the rows' OWN partition values: a hive-partitioned
    * table must have a coherent layout (every file carries every
    * partition segment) and path-renderable partition types — a
    * non-renderable type would silently corrupt directory names. Returns
    * the effective partition columns.
    */
  private def validatedPartCols(): Seq[String] = {
    val partCols = view.layout
    if (partCols.nonEmpty) {
      val incoherent = view.rels.filterNot { r =>
        val segs = SnapFilters.partSegments(r)
        partCols.forall(segs.contains)
      }
      if (incoherent.nonEmpty)
        throw new UnsupportedOperationException(
          s"row-level $cmd on $dir: ${incoherent.size} file(s) lack the " +
            s"[${partCols.mkString(", ")}] hive layout — a mixed layout cannot be " +
            "written partition-aware; compact the table to one layout first")
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

/** One task's outcome: inserted staged files (stage-relative, hive dirs
  * preserved) and per-data-file DV fragments (fragment-stage-relative
  * paths with their position counts) — METADATA only, the positions
  * themselves live in the fragment parquet files.
  */
case class SnapDeltaTaskResult(
    insertedRels: Seq[String],
    fragments: Seq[(String, String, Long)], // (data rel, fragment rel, positions)
    deleted: Long,
    inserted: Long)
    extends WriterCommitMessage

class SnapDeltaBatchWrite(
    dir: String,
    rowSchema: StructType,
    scannedVersion: Long,
    partCols: Seq[String])
    extends DeltaBatchWrite {

  private def spark: SparkSession = SparkSession.active

  private val tag = java.util.UUID.randomUUID().toString.take(8)
  private val insertStage = DataFiles.stageDir(new Path(dir), tag).getName
  private val dvStage = DataFiles.stageDir(new Path(dir), s"$tag-dv").getName

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory = {
    val conf = org.apache.spark.sql.graft.Bridge.sessionHadoopConf(spark)
    val fs = new Path(dir).getFileSystem(conf)
    fs.mkdirs(new Path(new Path(dir), insertStage))
    fs.mkdirs(new Path(new Path(dir), dvStage))
    SnapDeltaWriterFactory(
      dir,
      s"$dir/$insertStage",
      s"$dir/$dvStage",
      rowSchema,
      partCols,
      org.apache.spark.sql.graft.Bridge.serializableConf(conf))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val rootPath = new Path(dir)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Snapshots.withTableLock(spark, dir) {
      // OPTIMISTIC CONCURRENCY: the scan read `scannedVersion` outside the
      // lock; anything committed since may have moved rows — abort
      // loudly, the caller retries
      val current = Snapshots.latestVersion(spark, dir)
      if (current != scannedVersion) {
        abort(messages)
        sys.error(
          s"concurrent update detected on $dir: merge-on-read operation scanned manifest " +
            s"v$scannedVersion but the table is now at v$current — retry the statement")
      }
      val results = messages.toSeq.collect { case r: SnapDeltaTaskResult => r }
      val insertStagePath = new Path(rootPath, insertStage)
      val dvStagePath = new Path(rootPath, dvStage)
      val addedRels = results.flatMap(_.insertedRels).sorted
      try {
        // 1. fold the DV fragments with any existing sidecars into one
        //    new sidecar per touched file — the same sorted-merge kernel
        //    the MoR DELETE uses. ONLY the fragment files the committed
        //    task messages name are read: a dead task attempt's orphan
        //    fragment in the stage dir could cover a rel no message lists,
        //    and merging it WITHOUT that rel's old sidecar would shrink
        //    the vector — resurrecting deleted rows. The messages' exact
        //    position total is the collect bound that selects the
        //    driver-side write for a small epoch, as for the DELETE.
        val fragPaths = results.flatMap(_.fragments.map(f => new Path(dvStagePath, f._2).toString))
        val touched = results.flatMap(_.fragments.map(_._1)).distinct
        val view = Snapshots.manifestView(spark, dir, scannedVersion)
        val written: Seq[(String, String, Long)] =
          if (touched.isEmpty) Seq.empty
          else {
            val oldDvByRel = touched.flatMap { rel =>
              Snapshots.dvOf(view.stats.getOrElse(rel, Map.empty)).map(d => rel -> d._1)
            }.toMap
            val fragments = spark.read.schema(SnapDeltaDataWriter.FragmentSchema).parquet(fragPaths: _*)
            DeleteVectors.writeSidecars(
              spark,
              dir,
              fragments,
              oldDvByRel,
              tag,
              rawRowBound = Some(results.map(_.fragments.map(_._3).sum).sum))
          }
        // 2. ONE commit covers both sides — readers see the delete and
        //    the insert atomically or not at all. boundedCommit lands the
        //    inserted files (new rels under their hive dirs) in the same
        //    swap as its commit, so a failure leaves no orphan in a LIVE
        //    dir for the next listing-based commit to adopt; it applies
        //    the deleted-fraction threshold here too: a MERGE/UPDATE that
        //    pushes a file past it rewrites that file in the same commit
        //    (the README's "MoR is bounded" claim holds for the whole DML
        //    surface, not just pushable DELETEs).
        DeleteVectors.boundedCommit(
          spark, dir, Snapshots.Line(None, view), written, DataFiles.staged(insertStagePath, addedRels))
      } finally {
        fs.delete(insertStagePath, true)
        fs.delete(dvStagePath, true)
      }
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val rootPath = new Path(dir)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(rootPath, insertStage), true)
    fs.delete(new Path(rootPath, dvStage), true)
  }
}

case class SnapDeltaWriterFactory(
    root: String,
    insertStageDir: String,
    dvStageDir: String,
    rowSchema: StructType,
    partCols: Seq[String],
    conf: java.io.Serializable)
    extends DeltaWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new SnapDeltaDataWriter(
      root,
      insertStageDir,
      dvStageDir,
      rowSchema,
      partCols,
      org.apache.spark.sql.graft.Bridge.confOf(conf),
      partitionId,
      taskId)
}

/** Executor half of the merge-on-read DML: inserts route through the
  * ordinary staging writers (hive-partitioned when the table is), deletes
  * buffer (rel → positions) and flush as one sorted `(rel, pos)` fragment
  * parquet per task at commit. Buffered state is THIS TASK's deleted
  * positions only — 16 bytes a row, the matched rows, never the table.
  */
class SnapDeltaDataWriter(
    root: String,
    insertStageDir: String,
    dvStageDir: String,
    rowSchema: StructType,
    partCols: Seq[String],
    conf: org.apache.hadoop.conf.Configuration,
    partitionId: Int,
    taskId: Long)
    extends DeltaWriter[InternalRow] {

  private val inner: org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    if (partCols.isEmpty)
      new SnapParquetDataWriter(
        new Path(
          insertStageDir,
          f"part-$partitionId%05d-$taskId-${java.util.UUID.randomUUID().toString}.parquet"),
        rowSchema,
        conf)
    else
      new SnapHivePartitionedDataWriter(
        insertStageDir,
        rowSchema,
        partCols,
        conf,
        f"part-$partitionId%05d-$taskId-${java.util.UUID.randomUUID().toString}.parquet")

  private val deletesByRel =
    scala.collection.mutable.LinkedHashMap.empty[String, scala.collection.mutable.ArrayBuilder[Long]]
  private var deleted = 0L
  private var inserted = 0L

  // the rowId's _file is the resolved absolute path the scan spliced;
  // the sidecar keys on the MANIFEST rel — strip the root (and the
  // archive segment for pinned-read rewrites of archived files)
  private val rootPrefix = {
    val r = new Path(root).toString
    if (r.endsWith("/")) r else r + "/"
  }
  private val archPrefix = Snapshots.ArchiveDirName + "/"

  private def relOf(path: String): String = {
    val cut = path.indexOf(rootPrefix)
    require(cut >= 0, s"row-id file path '$path' is not under the table root $root")
    val rel = path.substring(cut + rootPrefix.length)
    if (rel.startsWith(archPrefix)) rel.substring(archPrefix.length) else rel
  }

  override def delete(metadata: InternalRow, id: InternalRow): Unit = {
    val rel = relOf(id.getUTF8String(0).toString)
    val pos = id.getLong(1)
    deletesByRel.getOrElseUpdate(rel, scala.collection.mutable.ArrayBuilder.make[Long]) += pos
    deleted += 1L
  }

  override def insert(row: InternalRow): Unit = {
    inner.write(row)
    inserted += 1L
  }

  override def reinsert(metadata: InternalRow, row: InternalRow): Unit = insert(row)

  // defensive: never planned with representUpdateAsDeleteAndInsert = true
  override def update(metadata: InternalRow, id: InternalRow, row: InternalRow): Unit = {
    delete(metadata, id)
    insert(row)
  }

  override def commit(): WriterCommitMessage = {
    val insertedRels: Seq[String] = inner.commit() match {
      case SnapStagedFile(p, _) if p.isEmpty => Seq.empty
      case SnapStagedFile(p, _) => Seq(new Path(p).getName)
      case SnapStagedPartFiles(rels, _) => rels
      case other => sys.error(s"unexpected inner commit message $other")
    }
    // one sorted fragment file per (task, data rel), FLAT-NAMED (the rel
    // rides inside the file — flat names keep the stage dir free of hive
    // segments the driver's merge read would try to partition-infer);
    // attempt-unique names keep retries safe, and the whole stage dir
    // dies with the commit
    var fragSeq = 0
    val fragments = deletesByRel.toSeq.map { case (rel, builder) =>
      val positions = builder.result()
      java.util.Arrays.sort(positions)
      fragSeq += 1
      val fragRel = f"frag-$partitionId%05d-$taskId-$fragSeq%04d.parquet"
      val w = org.apache.spark.sql.graft.Bridge
        .parquetRowWriter(new Path(dvStageDir, fragRel), SnapDeltaDataWriter.FragmentSchema, conf)
      val relU = org.apache.spark.unsafe.types.UTF8String.fromString(rel)
      var last = Long.MinValue
      var n = 0L
      positions.foreach { p =>
        if (p != last || n == 0L) { // dedup (MERGE cardinality aside, be safe)
          w.write(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            Array[Any](relU, p)))
          last = p
          n += 1L
        }
      }
      w.close()
      (rel, fragRel, n)
    }
    SnapDeltaTaskResult(insertedRels, fragments, deleted, inserted)
  }

  override def abort(): Unit = inner.abort()

  override def close(): Unit = inner.close()
}

object SnapDeltaDataWriter {

  /** One DV fragment row: a deleted position of a data file. */
  val FragmentSchema: StructType = StructType(Seq(
    org.apache.spark.sql.types.StructField("rel", org.apache.spark.sql.types.StringType, nullable = false),
    org.apache.spark.sql.types.StructField("pos", org.apache.spark.sql.types.LongType, nullable = false)))
}
