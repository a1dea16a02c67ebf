package graft.sources.snap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{DataWriter, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types.StructType

import graft.sources.{DataFiles, MetaFiles, Snapshots}

/** Exactly-once Structured Streaming sink for snapshot tables — the
  * native `df.writeStream.toTable("cat.t")` path, closing the loop the
  * repo previously served through `foreachBatch` + idempotent appends:
  *
  *  - each epoch's tasks stage parquet under
  *    `.stage-stream-<queryId>-<epochId>/` with DETERMINISTIC file names
  *    (`stream-<queryId>-<epoch>-<partition>.parquet`) — a replayed epoch
  *    rewrites the same names (parquet writer in OVERWRITE mode), so no
  *    landing order can double a row;
  *  - `commit(epoch)` runs under the table lock: a replay detected from
  *    the per-query high-water file (`_graft_manifests/.epoch-<queryId>`)
  *    cleans its staging and returns; a fresh epoch lands its files
  *    (delete-then-rename onto the deterministic names — idempotent
  *    across crash/replay), commits the next manifest version (stats and
  *    bloom disciplines inherited), then advances the high-water mark.
  *
  * Crash analysis: a crash between landing and the manifest commit is
  * replayed — the rewrite replaces the SAME file names with the same
  * deterministic content, so even if an interleaved maintenance commit
  * already listed the orphan files, no row duplicates. A crash between
  * the manifest commit and the high-water write replays into an extra
  * manifest version listing an identical file set — version churn, zero
  * data change. The standard file-sink assumption applies: replayed
  * epochs recompute the same rows (deterministic sources/operators).
  *
  * Hive-partitioned tables stream too: each task routes rows to their
  * partition directory by the row's own partition values (the
  * [[SnapHivePartitionedDataWriter]] machinery) and renames onto
  * deterministic per-(query, epoch, task, partition-value) names at task
  * commit — the same replay-overwrite argument, now per directory; the
  * epoch's manifest delta lists the partition-qualified rels.
  */
class SnapStreamingWrite(dir: String, queryId: String, schema: StructType)
    extends StreamingWrite {

  private def spark: SparkSession = SparkSession.active


  private def epochMarker(root: Path) =
    new Path(new Path(root, Snapshots.ManifestDirName), s".epoch-$queryId")

  /** The table's hive layout, resolved ONCE at query start (driver):
    * declared partition columns win; an adopted table derives them from
    * its file paths. Empty = flat table (the original sink shape).
    */
  private lazy val partCols: Seq[String] =
    if (Snapshots.latestVersion(spark, dir) == 0L) Seq.empty
    else {
      val cols = Snapshots.manifestView(spark, dir).layout
      cols.foreach { c =>
        val t = schema.fields
          .find(_.name == c)
          .map(_.dataType)
          .getOrElse(throw new UnsupportedOperationException(
            s"streaming into $dir: partition column '$c' is missing from the stream schema"))
        t match {
          case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
              org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType |
              org.apache.spark.sql.types.StringType | org.apache.spark.sql.types.DateType |
              org.apache.spark.sql.types.BooleanType =>
            ()
          case other =>
            throw new UnsupportedOperationException(
              s"streaming into $dir: partition column '$c' of type ${other.simpleString} " +
                "has no canonical path rendering — use foreachBatch instead")
        }
      }
      cols
    }

  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    val conf = org.apache.spark.sql.graft.Bridge.sessionHadoopConf(spark)
    new Path(dir).getFileSystem(conf).mkdirs(new Path(dir))
    SnapStreamWriterFactory(
      dir,
      queryId,
      schema,
      org.apache.spark.sql.graft.Bridge.serializableConf(conf),
      partCols)
  }

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val rootPath = new Path(dir)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Snapshots.withTableLock(spark, dir) {
      val stage = SnapStreamWriterFactory.stageDir(dir, queryId, epochId)
      if (MetaFiles.last(fs, epochMarker(rootPath)) >= epochId) {
        fs.delete(stage, true) // replayed epoch: nothing to do
        return
      }
      val committedRels = Snapshots.files(spark, dir).toSet
      // stage-relative rels of everything this epoch's tasks committed:
      // flat tasks stage one root-level file, partitioned tasks one file
      // per `k=v/` dir they saw — the rel IS the landing location
      val stagedRels: Seq[String] = messages.toSeq.flatMap {
        case SnapStagedFile(p, _) if p.nonEmpty => Seq(new Path(p).getName)
        case SnapStagedFile(_, _) => Seq.empty
        case SnapStagedPartFiles(rels, _) => rels
        case other => sys.error(s"unexpected commit message $other")
      }
      // replay safety — NEVER delete or re-land a rel that already has a
      // history here: a live file with this rel is this epoch's own
      // earlier landing (deterministic content — skipping is exact), and
      // an ARCHIVED one means maintenance already moved the rows into a
      // rewritten file (re-landing would duplicate every row of the
      // epoch). Only a genuinely unseen rel lands.
      val live = stagedRels.filter(rel => fs.exists(new Path(rootPath, rel))).toSet
      val fresh = DataFiles.staged(stage, stagedRels).filter { case (_, rel) =>
        !live(rel) && !fs.exists(new Path(new Path(rootPath, Snapshots.ArchiveDirName), rel))
      }
      val landing = fresh.map(_._2).toSet
      // commit when this epoch changed the live tree: fresh landings, or a
      // crash-before-commit replay whose files already sit live but
      // UNCOMMITTED. An epoch that changed nothing (all-empty tasks, or a
      // fully-committed replay) must not churn out an identical manifest
      // version — a watermark-advance batch per trigger would otherwise
      // grow history unboundedly.
      try
        DataFiles.swap(fs, rootPath, Seq.empty, fresh) {
          if (landing.nonEmpty || live.exists(rel => !committedRels.contains(rel)))
            // O(delta) epoch commit: the epoch knows exactly which rels it
            // landed — no directory listing, and a few-line delta manifest
            // instead of a full live-list rewrite per trigger (stats +
            // bloom disciplines still inherited; checkpoint versions stay
            // periodic)
            Snapshots.commitAppend(spark, dir, stagedRels.filter(rel => live(rel) || landing(rel)))
        }
      finally fs.delete(stage, true)
      MetaFiles.advance(fs, epochMarker(rootPath), epochId)
    }
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val rootPath = new Path(dir)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(SnapStreamWriterFactory.stageDir(dir, queryId, epochId), true)
  }
}

case class SnapStreamWriterFactory(
    dir: String,
    queryId: String,
    schema: StructType,
    conf: java.io.Serializable,
    partCols: Seq[String] = Seq.empty)
    extends StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] = {
    // stage PER ATTEMPT (taskId-unique path/name): speculative or zombie
    // attempts must never write the same bytes; the attempt that the
    // commit coordinator authorizes renames its file(s) onto the
    // deterministic per-(epoch, partition[, partition-value]) name at
    // task commit
    val finalName = f"stream-$queryId-$epochId-$partitionId%05d.parquet"
    val stage = SnapStreamWriterFactory.stageDir(dir, queryId, epochId)
    if (partCols.isEmpty)
      new SnapParquetDataWriter(
        new Path(stage, f"attempt-$taskId-$partitionId%05d.parquet"),
        schema,
        org.apache.spark.sql.graft.Bridge.confOf(conf),
        finalName = Some(finalName))
    else
      new SnapHivePartitionedDataWriter(
        stage.toString,
        schema,
        partCols,
        org.apache.spark.sql.graft.Bridge.confOf(conf),
        f"attempt-$taskId-$partitionId%05d.parquet",
        finalName = Some(finalName))
  }
}

object SnapStreamWriterFactory {

  /** An epoch's stage dir: named by (query, epoch), so a replayed epoch's
    * tasks and its commit find the same one.
    */
  def stageDir(dir: String, queryId: String, epochId: Long): Path =
    DataFiles.stageDir(new Path(dir), s"stream-$queryId-$epochId")
}
