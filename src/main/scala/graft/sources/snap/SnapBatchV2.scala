package graft.sources.snap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, GenericInternalRow, Literal}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition, PartitionReaderFactory, Scan, Statistics, SupportsReportPartitioning, SupportsReportStatistics, SupportsRuntimeFiltering}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.sources.{EqualTo, Filter, In}
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.{Snapshots, ValueIndex}

/** THE batch scan of a snapshot table — every catalog data read plans
  * as this one native DSv2 scan, which carries the two biggest join wins
  * a 100 TB table has:
  *
  *  - '''Storage-partitioned joins''' ([[SupportsReportPartitioning]]):
  *    every file reports its hive partition values as a typed partition
  *    KEY ([[HasPartitionKey]]) under a [[KeyGroupedPartitioning]] over
  *    `identity(partCol)`. With `spark.sql.sources.v2.bucketing.enabled`
  *    Spark groups same-key files into one input partition per key and
  *    joins two co-partitioned snapshot tables with NO shuffle and NO
  *    sort on either side — at 100 TB the difference between moving both
  *    tables over the network and moving nothing.
  *  - '''Runtime file pruning''' ([[SupportsRuntimeFiltering]], the DPP
  *    path): when a join's other side is selective, Spark hands this
  *    scan the join-key value set at RUNTIME; files whose manifest
  *    interval (and bloom sidecar, when indexed) misses every value are
  *    dropped before any task launches. A fact-table scan joined to a
  *    filtered dimension reads only the matching partitions — planned
  *    from the manifest, zero file opens.
  *
  * Built by [[SnapScanBuilder]] from its PLANNING view — on a cold
  * partition-pruned plan that is the dir-pruned manifest slice plus the
  * recorded total file count, so neither the description, the statistics
  * nor the pruning metrics ever force the full file list. (Spark 4 ships
  * `spark.sql.sources.v2.bucketing.enabled` default-true, so every read
  * gets SPJ grouping with no further conf.) Executors read through the SAME
  * [[SnapStreamReadFactory]] the streaming source uses (bridged
  * `ParquetReadSupport`: schema clipping null-fills ALTER-added columns,
  * sanctioned widenings read in place, typed partition values spliced
  * from the path — no directory inference). Pushed filters stay
  * residual, so Spark re-applies every predicate row-level above the
  * scan; manifest stats/bloom/null-count pruning already ran in the
  * builder.
  */
class SnapV2BatchScan(
    dir: String,
    /** The planning view: holds every initial rel and its stats; may be a
      * dir-pruned slice of the pinned version.
      */
    view: Snapshots.ManifestView,
    /** The pinned version's FULL live-file count. */
    totalFiles: Long,
    tableSchema: StructType,
    required: StructType,
    initialRels: Seq[String],
    filters: Seq[Filter],
    options: Map[String, String],
    consumedFilters: Seq[Filter],
    /** Where a rel is read from (live, else archived). */
    pathOf: String => String)
    extends Scan
    with Batch
    with SupportsReportPartitioning
    with SupportsReportStatistics
    with SupportsRuntimeFiltering {

  private def spark: SparkSession = SparkSession.active

  /** The file list as narrowed so far: manifest pruning in the builder,
    * then (possibly) runtime join-key filtering. Exposed for plan-level
    * spec asserts.
    */
  @volatile private var rels: Seq[String] = initialRels

  /** Read-only view of the surviving file list — the observable a caller
    * (spec or plan-asserting query) checks to PROVE runtime pruning fired.
    */
  def currentRels: Seq[String] = rels

  /** Partition columns in layout order: the declared hive layout when the
    * table records one, else derived from the first file's `k=v` path.
    */
  private val partCols: Seq[String] =
    if (view.partCols.nonEmpty) view.partCols
    else
      initialRels.headOption.toSeq.flatMap(
        _.split("/").dropRight(1).filter(_.contains("=")).map(_.split("=", 2)(0)).toSeq)

  override def readSchema(): StructType = required

  override def toBatch: Batch = this

  /** `spark.readStream.table("cat.t")` — the manifest-log streaming
    * source ([[SnapMicroBatchStream]]); stats pruning and the version pin
    * don't apply (the stream's own offsets are versions), but column
    * pruning does — `required` carries through.
    */
  override def toMicroBatchStream(
      checkpointLocation: String): org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new SnapMicroBatchStream(dir, required, tableSchema, options, consumedFilters)

  override def description(): String =
    s"GraftSnapScan $dir v${view.version} files=${rels.size}/$totalFiles " +
      s"keyedBy=[${partCols.mkString(", ")}] PushedFilters: [${filters.mkString(", ")}], " +
      s"ReadSchema: ${required.simpleString}"

  /** Hive partition `k -> raw` pairs of one file plus its typed partition
    * KEY in `partCols` order (raw path values cast to the declared column
    * types — exactly what the read-side splice produces, so the reported
    * key always agrees with the rows).
    */
  private def keyedInput(rel: String): SnapKeyedFileInput = {
    val pairs: Array[(String, String)] = SnapFilters.partValsOf(rel)
    val byName = pairs.toMap
    val zone = spark.conf.get("spark.sql.session.timeZone")
    val key: Array[Any] = partCols.toArray.map { c =>
      val raw = byName.getOrElse(c, "__HIVE_DEFAULT_PARTITION__")
      if (raw == "__HIVE_DEFAULT_PARTITION__") null
      else {
        val declared =
          tableSchema.fields.find(_.name == c).map(_.dataType).getOrElse(StringType)
        // LEGACY eval mode: a non-castable dir value must splice NULL
        // (PartitioningUtils.castPartValueToDesiredType semantics), not
        // throw under Spark 4's default ANSI cast — and the reported key
        // must agree with what the read-side splice produces
        Cast(
          Literal(UTF8String.fromString(raw), StringType),
          declared,
          Some(zone),
          org.apache.spark.sql.catalyst.expressions.EvalMode.LEGACY).eval(null)
      }
    }
    SnapKeyedFileInput(
      pathOf(rel),
      pairs,
      key,
      // merge-on-read deletes: the reader subtracts the file's recorded
      // deletion-vector positions
      Snapshots
        .dvOf(view.stats.getOrElse(rel, Map.empty))
        .map(d => new org.apache.hadoop.fs.Path(new org.apache.hadoop.fs.Path(dir), d._1).toString))
  }

  override def outputPartitioning(): Partitioning =
    if (partCols.isEmpty) new UnknownPartitioning(math.max(rels.size, 1))
    else
      new KeyGroupedPartitioning(
        partCols.map(c => Expressions.identity(c)).toArray[org.apache.spark.sql.connector.expressions.Expression],
        math.max(rels.map(r => r.split("/").dropRight(1).mkString("/")).distinct.size, 1))

  override def planInputPartitions(): Array[InputPartition] =
    rels.map(keyedInput).toArray

  override def createReaderFactory(): PartitionReaderFactory =
    SnapStreamReadFactory(
      required.json,
      tableSchema.json,
      org.apache.spark.sql.graft.Bridge.serializableConf(
        org.apache.spark.sql.graft.Bridge.sessionHadoopConf(spark)),
      spark.conf.get("spark.sql.session.timeZone"),
      // data-column residuals engage parquet row-group skipping in the
      // executor reader (the factory drops spliced-column filters itself)
      filters)

  // ---- runtime filtering (dynamic partition / join-key pruning) --------

  /** Columns a runtime join-key filter can file-prune on: the partition
    * layout plus every stats column (the manifest holds an interval — and
    * possibly a bloom — for each), RESTRICTED to the scan's projected
    * output — Spark resolves these refs against the pruned relation
    * output and fails the query on a miss (a join that never reads `day`
    * can't runtime-filter on it either).
    */
  override def filterAttributes(): Array[NamedReference] =
    (partCols ++ view.statsCols).distinct
      .filter(required.fieldNames.contains)
      .map(Expressions.column)
      .toArray

  /** Runtime join-key values, applied as manifest pruning: a file
    * survives only if SOME value hits its recorded interval (and bloom,
    * when the column is bloom-indexed; all-null files never match a
    * value). Un-renderable predicates prune nothing — runtime filtering
    * may only SKIP work.
    */
  override def filter(runtime: Array[Filter]): Unit = {
    val valueSets: Seq[(String, Seq[String])] = runtime.toSeq.flatMap {
      case In(a, vs) if vs.nonEmpty =>
        val rendered = vs.toSeq.map(SnapFilters.statString)
        if (rendered.forall(_.isDefined)) Some(a -> rendered.map(_.get)) else None
      case EqualTo(a, v) => SnapFilters.statString(v).map(s => a -> Seq(s))
      case _ => None
    }
    if (valueSets.nonEmpty) {
      val s = spark
      rels = rels.filter { rel =>
        val st = view.stats.getOrElse(rel, Map.empty[String, Snapshots.ColStat])
        valueSets.forall { case (c, vs) =>
          !Snapshots.allNull(st, c) &&
          (st.get(c) match {
            // escaped-era string intervals (no null-count watermark) read
            // as no-stat; the bloom still applies (built post-upgrade)
            case Some(_) if !Snapshots.intervalTrusted(st, c) =>
              !view.bloomCols.contains(c) ||
              vs.exists(v => ValueIndex.bloomMightContain(s, dir, rel, c, v))
            case Some(cs) =>
              vs.exists { v =>
                Snapshots.overlapsRange(cs, Some(v), Some(v)) &&
                (!view.bloomCols.contains(c) || ValueIndex.bloomMightContain(s, dir, rel, c, v))
              }
            case None => true // no interval recorded: cannot exclude
          })
        }
      }
    }
  }

  override def estimateStatistics(): Statistics =
    SnapScanStats.of(spark, dir, rels, view.stats, ndvCols = view.bloomCols)

  // ---- observability: file-pruning outcome as Spark SQL metrics --------

  override def supportedCustomMetrics(): Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    Array(new SnapV2BatchScan.FilesReadMetric, new SnapV2BatchScan.FilesPrunedMetric)

  /** Reported when the batch plans its partitions — AFTER runtime
    * filtering ran, so the UI shows what the join-key values actually
    * bought: files read vs files pruned (manifest pruning + runtime).
    */
  override def reportDriverMetrics(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] = {
    val read = rels.size.toLong
    val prunedTotal = totalFiles - read
    Array(
      SnapV2BatchScan.taskMetric("snapFilesRead", read),
      SnapV2BatchScan.taskMetric("snapFilesPruned", prunedTotal))
  }
}

object SnapV2BatchScan {
  import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}

  final class FilesReadMetric extends CustomSumMetric {
    override def name(): String = "snapFilesRead"
    override def description(): String = "snapshot files read"
  }
  final class FilesPrunedMetric extends CustomSumMetric {
    override def name(): String = "snapFilesPruned"
    override def description(): String = "snapshot files pruned (manifest + runtime)"
  }
  private[snap] def taskMetric(n: String, v: Long): CustomTaskMetric = new CustomTaskMetric {
    override def name(): String = n
    override def value(): Long = v
  }
}

/** One snapshot file carrying its typed partition key — what lets Spark
  * group same-key files into co-partitioned input splits for a
  * storage-partitioned join.
  */
case class SnapKeyedFileInput(
    path: String,
    partVals: Array[(String, String)],
    key: Array[Any],
    override val dvPath: Option[String] = None)
    extends SnapSplicedFileInput
    with HasPartitionKey {
  override def partitionKey(): InternalRow = new GenericInternalRow(key)
}
