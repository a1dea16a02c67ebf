package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, lit, when}
import org.apache.spark.sql.types.StructType

/** Batch sources & sinks. The reference's entire I/O surface is whole-file
  * gob encode/decode (reference `internal/storage/cold.go:111-154`); here
  * every format is a splittable, schema'd, predicate-pushdown-capable
  * Spark source, and sinks go through Spark's commit protocol (atomic dir
  * swap — the atomicity `cold.go`'s truncate-then-write lacks).
  *
  * Scale conventions:
  *  - parquet is the canonical storage format; csv/json are interchange;
  *  - explicit schemas everywhere (schema inference is a full extra scan —
  *    never acceptable at 100 TB);
  *  - sinks partition by the query key (`partitionBy`) so downstream reads
  *    prune partitions instead of scanning.
  */
object Sources {

  def readParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  def readCsv(spark: SparkSession, path: String, schema: StructType, header: Boolean = true): DataFrame =
    spark.read.schema(schema).option("header", header.toString).csv(path)

  def readJson(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  def writeParquet(df: DataFrame, path: String, partitionCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).parquet(path)
  }

  /** Schema-evolved read: union the schemas of every file footer
    * (`mergeSchema`) so a table whose writers gained columns over time
    * reads as one relation — old files surface the new columns as null.
    * The footer union is a metadata operation (no data scan); at 100 TB
    * the cost is one footer read per file, the same listing the scan
    * already does. Columns may only be ADDED, never retyped — an
    * incompatible type across footers fails loudly at plan time, which is
    * the behavior a lakehouse table wants (silent coercion hides writer
    * bugs).
    */
  def readParquetEvolved(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** Exactly-once micro-batch append for plain parquet tables: batch `id`
    * lands as partition dir `batch_id=<id>` via stage + atomic rename, and
    * a replayed batch (streaming restarts re-offer the last uncommitted
    * batch) is detected by the partition's existence and skipped. This is
    * the [[graft.kv.KvStreamSink]] idempotence contract carried to the
    * analytics-table sink: `foreachBatch { (df, id) =>
    * idempotentBatchAppend(df, root, id) }` gives a crash-safe streaming
    * parquet sink whose output never double-counts a batch. Readers see a
    * batch only after its rename (dot-prefixed staging is invisible to
    * Spark's file index). Returns true when the batch was written, false
    * when it was already present (the replay case).
    */
  def idempotentBatchAppend(df: DataFrame, root: String, batchId: Long): Boolean = {
    val spark = df.sparkSession
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = new org.apache.hadoop.fs.Path(rootPath, s"batch_id=$batchId")
    if (fs.exists(live)) return false
    val stage = new org.apache.hadoop.fs.Path(rootPath, s".batch-stage-$batchId")
    if (fs.exists(stage)) fs.delete(stage, true) // crash leftover
    df.write.mode(SaveMode.Overwrite).parquet(stage.toString)
    // the rename is the commit point: either the whole batch is visible
    // under batch_id=<id> or none of it is
    fs.mkdirs(rootPath)
    if (fs.rename(stage, live)) true
    else if (fs.exists(live)) { // a concurrent attempt committed first
      fs.delete(stage, true)
      false
    } else sys.error(s"commit rename failed for batch $batchId")
  }

  /** Bucketed catalog table: rows hash-bucketed by `bucketCol` at write
    * time, so later equi-joins/aggregations on that column read
    * co-located buckets and skip the shuffle entirely — the standard
    * layout investment for a fact table joined on the same key every day.
    */
  def writeBucketedTable(df: DataFrame, table: String, bucketCol: String, buckets: Int): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .bucketBy(buckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)

  /** Compact a parquet dataset: rewrite `inPath` as ~`targetBytes`-sized
    * files, optionally range-sorted by `sortCols` so every output file owns
    * a narrow min/max band and point/range scans prune whole files (and row
    * groups) via parquet column statistics.
    *
    * This is the small-files maintenance pass every long-lived 100 TB table
    * needs: streaming ingest and partitioned writes accumulate files far
    * below the HDFS/S3-efficient size, and scan task count explodes. File
    * count is derived from the *input's on-disk bytes* (compressed), so the
    * output lands near `targetBytes` per file without a pre-pass over the
    * data. `repartitionByRange` + `sortWithinPartitions` keeps the layout
    * clustering work one shuffle; plain `repartition` (round-robin) when no
    * sort is requested.
    */
  def compactParquet(
      spark: SparkSession,
      inPath: String,
      outPath: String,
      targetBytes: Long = 128L * 1024 * 1024,
      sortCols: Seq[String] = Nil): Long = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    require(
      java.nio.file.Paths.get(inPath).normalize() != java.nio.file.Paths.get(outPath).normalize(),
      "compactParquet cannot rewrite in place: Spark reads lazily while overwriting — use a new path and swap")
    // merge-on-read deletes FOLD through the rewrite (the compactInPlace
    // discipline): provably-empty files are never read, and a committed
    // table reads through its pinned scan, which subtracts each file's
    // vector. A raw dir with no committed manifest has no vectors by
    // construction and reads as plain parquet.
    val inRoot = new org.apache.hadoop.fs.Path(inPath)
    val fs = inRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // ONE recursive walk serves everything below: the live (rel, bytes)
    // list feeds the fold's file set AND the output sizing (no second
    // listing, no per-file getFileStatus — on an object store those are
    // real driver latency); ONE manifest view serves stats and DV map
    val rootUri = fs.makeQualified(inRoot).toUri
    def walk(dir: org.apache.hadoop.fs.Path): Seq[(String, Long)] =
      fs.listStatus(dir).toSeq.flatMap { st =>
        val nm = st.getPath.getName
        if (nm.startsWith(".") || nm.startsWith("_")) Seq.empty
        else if (st.isDirectory) walk(st.getPath)
        else Seq(rootUri.relativize(st.getPath.toUri).getPath -> st.getLen)
      }
    val allFiles = walk(inRoot)
    val view =
      if (Snapshots.latestVersion(spark, inPath) > 0L) Some(Snapshots.manifestView(spark, inPath))
      else None
    val live = allFiles.filterNot { case (rel, _) =>
      view.exists(v => Snapshots.fullyDeleted(v.stats.getOrElse(rel, Map.empty)))
    }
    require(live.nonEmpty, s"compactParquet: every row of $inPath is MoR-deleted — nothing to rewrite")
    val df = view match {
      case Some(v) => Snapshots.scanRels(spark, inPath, v, live.map(_._1))
      case None => spark.read.parquet(inPath)
    }
    // output file count from the LIVE input's ON-DISK bytes (compressed
    // domain — the same domain targetBytes is stated in)
    val n = rewriteFileCount(live.map(_._2).sum, targetBytes)
    val laid =
      if (sortCols.nonEmpty) {
        import org.apache.spark.sql.functions.col
        val sc = sortCols.map(col)
        df.repartitionByRange(n, sc: _*).sortWithinPartitions(sc: _*)
      } else df.repartition(n)
    laid.write.mode(SaveMode.Overwrite).parquet(outPath)
    // the compacted layout is a maintenance commit: give it a pinnable
    // baseline manifest (the Overwrite wiped any prior history at outPath)
    Snapshots.commit(spark, outPath)
    n.toLong
  }

  /** Target on-disk bytes per output file for the IN-PLACE rewrite paths
    * ([[compactInPlace]], and the vector folds behind [[deleteWhere]],
    * [[updateWhere]], [[mergeIntoPartitioned]], `DeleteVectors.materialize`
    * and the threshold rewrite) —
    * `spark.graft.rewrite.targetBytes`, default 128 MiB (the
    * [[compactParquet]] default). A 100 TB table's hot partition can hold
    * hundreds of GB: rewriting it as ONE task producing ONE file destroys
    * both rewrite parallelism and the file-size discipline every scan
    * depends on, so each rewrite sizes its output from the live bytes it
    * is about to rewrite with the same arithmetic `compactParquet` uses.
    */
  val DefaultRewriteTargetBytes: Long = 128L * 1024 * 1024

  private[sources] def rewriteTargetBytes(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.rewrite.targetBytes") match {
      case None => DefaultRewriteTargetBytes
      case Some(s) =>
        // refuse loudly — a silently-swallowed typo would quietly restore
        // the single-monster-file behavior this conf exists to prevent
        val t = scala.util.Try(s.toLong).getOrElse(
          sys.error(s"spark.graft.rewrite.targetBytes must be a positive long, got '$s'"))
        require(t > 0L, s"spark.graft.rewrite.targetBytes must be positive, got '$s'")
        t
    }

  /** ceil(liveBytes / targetBytes), floored at one file. */
  private[sources] def rewriteFileCount(liveBytes: Long, targetBytes: Long): Int = {
    val n = math.max(1L, liveBytes / targetBytes + (if (liveBytes % targetBytes > 0L) 1L else 0L))
    math.min(n, Int.MaxValue.toLong).toInt
  }

  /** Dynamic partition overwrite: replace ONLY the partitions present in
    * `df`, leaving every other partition untouched — the partition-level
    * upsert that backfills or restates one day of a 100 TB date-partitioned
    * table without rewriting (or even listing) the rest. Static overwrite
    * mode (the default) would truncate the whole root first.
    */
  def overwritePartitionsDynamic(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** Z-order-clustered parquet: lay rows out along the Morton curve of two
    * dimensions before writing, so every output file owns a compact 2-D
    * tile and min/max column statistics prune *both* dimensions of a box
    * predicate — where a single-column range layout ([[compactParquet]]
    * with `sortCols`) only ever prunes one. The caller supplies dimension
    * columns already normalized to comparable bit widths (rank or scale) —
    * interleaving a 20-bit key with a 5-bit key degenerates to a
    * single-dim sort (measured in AnalyticsSpec).
    *
    * One range shuffle on the z key; the curve key is dropped before the
    * write so the on-disk schema is unchanged.
    */
  def writeZOrdered(
      df: DataFrame,
      path: String,
      xCol: String,
      yCol: String,
      files: Int,
      bits: Int = 16): Unit = {
    import org.apache.spark.sql.functions.col
    val z = graft.functions.Layout.zorder2(col(xCol), col(yCol), bits)
    df.withColumn("__z", z)
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write
      .mode(SaveMode.Overwrite)
      .parquet(path)
  }

  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** ORC sink with zstd (column stats + predicate pushdown like parquet —
    * the alternative columnar interchange format).
    */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("compression", "zstd").orc(path)

  /** Raw-media ingestion: Spark's `binaryFile` source reads a directory
    * of media files as (path, modificationTime, length, content) rows —
    * the scan-side entry point for a multimodal corpus that arrives as
    * files rather than as a binary column in parquet. The glob filters at
    * FILE-LISTING time (no bytes read for skipped files), and predicates
    * on length/path/modificationTime push into the scan, so "images under
    * 5 MB from the jpg tree" never opens an oversized or off-format file.
    * At 100 TB each file is one row in one task; Spark's file packing
    * (`maxPartitionBytes`) bins small media files into shared tasks.
    */
  def readBinaryFiles(
      spark: SparkSession,
      dir: String,
      glob: String = "*",
      maxBytes: Long = 0L): DataFrame = {
    val files = spark.read
      .format("binaryFile")
      .option("pathGlobFilter", glob)
      .option("recursiveFileLookup", "true")
      .load(dir)
    if (maxBytes > 0) files.filter(col("length") <= maxBytes) else files
  }

  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)

  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  /** The resolved top-level conjuncts of `predicate` against `df`'s real
    * schema: the caller's Column is a lazy unresolved node tree; planning
    * `df.filter(predicate)` (no execution) yields resolved catalyst
    * expressions with typed literals.
    */
  private def resolvedConjuncts(
      df: DataFrame,
      predicate: Column): Seq[org.apache.spark.sql.catalyst.expressions.Expression] = {
    import org.apache.spark.sql.catalyst.expressions.{And, Expression}
    val cond: Option[Expression] =
      try df
        .filter(predicate)
        .queryExecution
        .analyzed
        .collectFirst { case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition }
      catch { case _: Exception => None } // unanalyzable here → no narrowing
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case x => Seq(x)
    }
    cond.toSeq.flatMap(conjuncts)
  }

  /** A FOLDABLE expression (a literal, or a cast/function of literals —
    * the analyzed plan hasn't constant-folded yet) rendered in the
    * manifest-stat string domain (the same rendering `fileColStats`
    * records), or None for non-constant sides and ambiguous types.
    */
  private def statRenderExpr(
      e: org.apache.spark.sql.catalyst.expressions.Expression): Option[String] = {
    if (!e.foldable) return None
    val v = try e.eval(null)
    catch { case _: Exception => return None } // a throwing fold can't narrow
    e.dataType match {
      case org.apache.spark.sql.types.StringType => Option(v).map(_.toString)
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
          org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType |
          org.apache.spark.sql.types.FloatType | org.apache.spark.sql.types.DoubleType =>
        Option(v).map(_.toString)
      case org.apache.spark.sql.types.DateType =>
        Option(v).map(d => java.time.LocalDate.ofEpochDay(d.asInstanceOf[Int].toLong).toString)
      case _ => None
    }
  }

  /** Top-level equality conjuncts of a predicate, rendered in the
    * stats-string domain the manifest blooms were built with
    * (`CAST(col AS STRING)`): `user_id = 7 AND day <= d` yields
    * `("user_id", "7")`. Only shapes whose rendering is exact are
    * returned — anything else simply doesn't narrow.
    */
  private[sources] def equalityProbes(df: DataFrame, predicate: Column): Seq[(String, String)] = {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo}
    resolvedConjuncts(df, predicate).flatMap {
      case EqualTo(a: AttributeReference, e) => statRenderExpr(e).map((a.name, _))
      case EqualTo(e, a: AttributeReference) => statRenderExpr(e).map((a.name, _))
      case _ => None
    }
  }

  /** Top-level range conjuncts of `predicate` as inclusive
    * (column, lo, hi) probes for manifest-stats file pruning — what lets
    * a predicate-bounded DELETE/scan skip whole files before any footer
    * opens. Strict comparisons WIDEN to inclusive bounds (pruning may
    * only SKIP on a definite miss, and an inclusive superset never
    * excludes a match); non-constant or unrenderable conjuncts
    * contribute nothing.
    */
  private[sources] def rangeProbes(
      df: DataFrame,
      predicate: Column): Seq[(String, Option[String], Option[String])] = {
    import org.apache.spark.sql.catalyst.expressions.{
      AttributeReference,
      EqualTo,
      GreaterThan,
      GreaterThanOrEqual,
      LessThan,
      LessThanOrEqual
    }
    resolvedConjuncts(df, predicate).flatMap {
      case EqualTo(a: AttributeReference, e) =>
        statRenderExpr(e).map(s => (a.name, Some(s), Some(s)))
      case EqualTo(e, a: AttributeReference) =>
        statRenderExpr(e).map(s => (a.name, Some(s), Some(s)))
      case GreaterThanOrEqual(a: AttributeReference, e) =>
        statRenderExpr(e).map(s => (a.name, Some(s), None))
      case GreaterThan(a: AttributeReference, e) =>
        statRenderExpr(e).map(s => (a.name, Some(s), None))
      case LessThanOrEqual(a: AttributeReference, e) =>
        statRenderExpr(e).map(s => (a.name, None, Some(s)))
      case LessThan(a: AttributeReference, e) =>
        statRenderExpr(e).map(s => (a.name, None, Some(s)))
      case GreaterThanOrEqual(e, a: AttributeReference) =>
        statRenderExpr(e).map(s => (a.name, None, Some(s)))
      case GreaterThan(e, a: AttributeReference) =>
        statRenderExpr(e).map(s => (a.name, None, Some(s)))
      case LessThanOrEqual(e, a: AttributeReference) =>
        statRenderExpr(e).map(s => (a.name, Some(s), None))
      case LessThan(e, a: AttributeReference) =>
        statRenderExpr(e).map(s => (a.name, Some(s), None))
      case _ => None
    }
  }

  /** Targeted row deletion (the GDPR/right-to-erasure operator): the
    * merge-on-read delete's narrowing
    * ([[DeleteVectors.predicateCandidates]]: manifest range and bloom
    * pruning) and match, closed by one purge commit
    * ([[DeleteVectors.purge]]), so no live file keeps a deleted row. Only
    * files holding a match are rewritten (archived outright when nothing
    * survives), vectors they already carried fold in, untouched files
    * keep their bytes and vectors: deleting one user from a 100 TB table
    * costs a handful of file rewrites. NULL-predicate rows are kept
    * (three-valued logic). Returns (affectedFiles, rowsDeleted).
    */
  def deleteWhere(spark: SparkSession, root: String, predicate: Column): (Long, Long) =
    Snapshots.withTableLock(spark, root) {
      val view = DeleteVectors.liveView(spark, root)
      val hit = coalesce(predicate, lit(false))
      DeleteVectors.purge(
        spark, root, view, DeleteVectors.predicateCandidates(spark, root, view, predicate), hit,
        _.filter(!hit))
    }

  /** UPDATE … SET — the third row-level DML next to [[deleteWhere]]
    * (erasure) and [[mergeIntoPartitioned]] (upsert): apply `sets`
    * (column → new-value expression) to every row matching `predicate`.
    * The files holding a matched row are rewritten in place, each row
    * replaced by its image, in one purge commit ([[DeleteVectors.purge]]),
    * so an update adds no file. SQL UPDATE semantics are kept exactly:
    *  - every SET right-hand side AND the predicate evaluate against the
    *    OLD row — all new values come from ONE projection over the scan,
    *    so `SET n = n * 2, u = u + n` uses the pre-update `n` in both
    *    places (a fold of sequential `withColumn`s would leak the updated
    *    value into later expressions);
    *  - a NULL predicate row is NOT matched (kept unchanged), the same
    *    three-valued rule [[deleteWhere]] applies;
    *  - new values cast to the column's table type;
    *  - hive PARTITION columns are refused as SET targets — updating one
    *    moves rows across directories, which is a MERGE
    *    ([[mergeIntoPartitioned]]). They may still appear in the
    *    predicate (day-bounded updates prune to the matching partitions'
    *    files).
    * At 100 TB: correcting one mislabeled day costs that day's file
    * rewrites, not a table pass. Returns (affectedFiles, rowsUpdated).
    */
  def updateWhere(
      spark: SparkSession,
      root: String,
      predicate: Column,
      sets: Map[String, Column]): (Long, Long) = {
    require(sets.nonEmpty, "updateWhere needs at least one SET column")
    Snapshots.withTableLock(spark, root) {
      val view = DeleteVectors.liveView(spark, root)
      if (view.rels.isEmpty) return (0L, 0L)
      val schema = view.schema.get // liveView infers one for a non-empty view
      // validate SET targets BEFORE any scan: a mistyped column or a
      // partition-column SET fails loudly even when nothing matches
      val unknownSet = sets.keys.filterNot(k => schema.fieldNames.exists(_.equalsIgnoreCase(k)))
      require(unknownSet.isEmpty, s"SET column(s) not in table: ${unknownSet.mkString(", ")}")
      val partCols = view.layout
      val illegalSet = partCols.filter(pc => sets.keys.exists(_.equalsIgnoreCase(pc)))
      require(
        illegalSet.isEmpty,
        s"cannot SET hive partition column(s) ${illegalSet.mkString(", ")}: rows would change " +
          "directories — rewrite partition membership with mergeIntoPartitioned instead")
      val hit = coalesce(predicate, lit(false))
      // ONE projection: the predicate and every SET expression see the old row
      def images(scan: DataFrame): DataFrame =
        scan.select(schema.fields.toIndexedSeq.map { f =>
          sets
            .collectFirst { case (k, e) if k.equalsIgnoreCase(f.name) =>
              when(hit, e.cast(f.dataType)).otherwise(col(f.name))
            }
            .getOrElse(col(f.name))
            .as(f.name)
        } ++ Seq(col(snap.SnapTable.FileMetaCol), col(snap.SnapTable.PosMetaCol)): _*)
      DeleteVectors.purge(
        spark, root, view, DeleteVectors.predicateCandidates(spark, root, view, predicate), hit, images)
    }
  }

  /** MERGE-style upsert into a hive-partitioned parquet table: apply a
    * delta (new + changed rows, keyed by `keyCols` within `partitionCol`)
    * — MERGE WHEN MATCHED THEN UPDATE, WHEN NOT MATCHED THEN INSERT, the
    * delta winning every collision. Complements [[deleteWhere]]
    * (file-level delete) and [[expirePartitions]] (metadata-level TTL) as
    * the third lifecycle operator, and closes the loop on the q111 CDC
    * snapshot: compact the changelog to a delta, merge the delta here,
    * and the analytics table is current without a table rewrite.
    *
    * The files of the delta's own partitions (their typed path values,
    * the narrowing [[DeleteVectors.materialize]] scopes with) are the
    * candidates; one fold ([[DeleteVectors.fold]]) rewrites them without
    * the rows whose `keyCols :+ partitionCol` the delta holds (SQL
    * equality: a NULL key matches nothing) in the job that lands the
    * delta (FULL table rows) hive-partitioned by `partitionCol` —
    * creating the table if needed — and commits once, so no live file
    * keeps a replaced row. A touched dir gets one file for its survivors
    * and its delta rows (more when its rewritten files exceed
    * `spark.graft.rewrite.targetBytes`); untouched partitions keep their
    * bytes. Returns the affected partition values, sorted.
    */
  def mergeIntoPartitioned(
      spark: SparkSession,
      root: String,
      delta: DataFrame,
      partitionCol: String,
      keyCols: Seq[String]): Seq[String] =
    Snapshots.withTableLock(spark, root) {
      // the partition values, the key match and the landing share one delta computation
      val owned = !graft.core.LocalFrames.isLocal(delta) && !delta.storageLevel.isValid // not held yet
      if (owned) delta.persist()
      try {
        val affected = delta
          .select(col(partitionCol).cast("string").as("p"))
          .distinct()
          .collect()
          .map(_.getString(0))
          .sorted
          .toSeq
        val view = DeleteVectors.liveView(spark, root)
        val schema = view.schema.getOrElse(delta.schema) // no table yet: the delta's
        val keys = keyCols :+ partitionCol
        val (_, sourceKeys, _, alive) = DeleteVectors.upsertInputs(view, schema, delta, delta, keys)
        // the files of the delta's partitions, by their typed path values
        val candidates =
          if (alive.isEmpty) Seq.empty
          else {
            val inDelta = DeleteVectors.scopeByPartitions(
              spark, view.copy(partCols = Seq(partitionCol)), alive,
              col(partitionCol).cast("string").isin(affected: _*))
            alive.filter(inDelta)
          }
        if (view.rels.nonEmpty) Snapshots.ensureBaseline(spark, root) // pre-state stays pinnable
        DeleteVectors.fold(
          spark, root, view, candidates, _.join(sourceKeys, keys, "left_anti"),
          Some((DeleteVectors.alignedTo(schema, delta), Seq(partitionCol))))
        affected
      } finally if (owned) delta.unpersist()
    }

  /** Retention / TTL expiry over a partitioned layout: drop every
    * `col=value` partition directory whose value fails `keep` — the
    * data-lifecycle operator a time-series store needs (the reference's
    * whole-collection `FlushToDisk`/delete has no finer grain; a
    * time-partitioned layout gives day-level deletes for free).
    *
    * This is METADATA-ONLY at any scale: one directory listing + one
    * recursive delete per expired partition. No file is opened, no row is
    * read, no job is launched — expiring 900 of 1000 days of a 100 TB
    * table costs 900 namenode calls. Returns the expired partition
    * values (sorted, for deterministic logging/tests).
    */
  def expirePartitions(
      spark: SparkSession,
      root: String,
      partitionCol: String,
      keep: String => Boolean): Seq[String] = {
    Snapshots.withTableLock(spark, root) {
    val hadoopPath = new org.apache.hadoop.fs.Path(root)
    val fs = hadoopPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prefix = s"$partitionCol="
    val expired = fs
      .listStatus(hadoopPath)
      .toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(prefix))
      .map(st => st.getPath)
      .filter(p => !keep(p.getName.stripPrefix(prefix)))
    if (expired.nonEmpty) {
      Snapshots.ensureBaseline(spark, root) // pre-state stays pinnable
      // archive, don't destroy: still rename-only metadata ops, and every
      // committed manifest keeps reading until Snapshots.vacuum
      val rels = expired.flatMap(d => Snapshots.listDataFiles(spark, d.toString).map(r => s"${d.getName}/$r"))
      DataFiles.swap(fs, hadoopPath, rels, Seq.empty)(Snapshots.commit(spark, root))
      expired.foreach(fs.delete(_, true)) // only hidden markers remain
    }
    expired.map(_.getName.stripPrefix(prefix)).sorted
  }
  }

  /** In-place small-files compaction of a (possibly hive-partitioned)
    * parquet table — the OPTIMIZE maintenance pass, made safe for
    * concurrent readers by the [[Snapshots]] layer: each multi-file
    * partition dir (or the root's own file set, when unpartitioned) is
    * rewritten as ~`spark.graft.rewrite.targetBytes`-sized fresh-named
    * files via stage + rename (one file when the scope fits the target),
    * the replaced files are ARCHIVED (never destroyed — every pinned
    * manifest keeps reading), and a single new manifest commits the
    * compacted layout.
    * Returns (dirsCompacted, filesBefore, filesAfter-for-those-dirs).
    *
    * Scale: per-dir rewrites are independent single-dir Spark jobs,
    * submitted concurrently (wall clock is the largest dir, not the
    * sum); untouched dirs are never read,
    * listed cost is the listing the table scan already pays. Unlike
    * [[compactParquet]] (whole-table rewrite to a NEW path), this runs
    * against the live path a maintained table actually serves.
    */
  def compactInPlace(
      spark: SparkSession,
      root: String,
      where: Option[Column] = None): (Long, Long, Long) = {
    val targetBytes = rewriteTargetBytes(spark)
    val landedFiles = new java.util.concurrent.atomic.AtomicLong(0L)
    val scopes = rewriteScopes(spark, root, where, minFiles = 2) { (stage, dir, rows, liveBytes) =>
      // output sized from the scope's LIVE on-disk bytes (already in hand
      // from the listing): a hundreds-of-GB partition rewrites in
      // parallel to ~targetBytes files, never as one single-task monster
      // — the compactParquet arithmetic applied in place. A scope that
      // fits keeps the shuffle-free coalesce(1), so prior layouts (and
      // their query hashes) are unchanged; an oversized one takes one
      // round-robin shuffle of its own rows (coalesce(n) cannot split).
      val n = rewriteFileCount(liveBytes, targetBytes)
      landedFiles.addAndGet(stage.into(dir) { sub =>
        (if (n <= 1) rows.coalesce(1) else rows.repartition(n)).write
          .mode(SaveMode.Overwrite)
          .parquet(sub.toString)
      }.toLong)
    }
    // filesAfter counts LANDED replacement files only — a dir whose every
    // file was provably fully-deleted archives all and lands nothing; an
    // oversized scope lands several ~targetBytes files
    (scopes.size.toLong, scopes.map(_.toLong).sum, landedFiles.get())
  }

  /** The in-place maintenance body of [[compactInPlace]] and
    * [[clusterInPlace]]. Scopes are the hive partition dirs (narrowed by
    * `where` over their typed values, [[scopeDirs]]) or, unpartitioned,
    * the root; those holding at least `minFiles` data files rewrite. Each
    * scope's live rows ([[scopeRows]]) and their on-disk bytes go to
    * `write`, which stages the scope's replacement into its dir; then ONE
    * swap archives the originals, lands the replacements and commits — a
    * failure anywhere leaves the table as it was. Merge-on-read deletes
    * FOLD during the rewrite (the Delta-OPTIMIZE discipline): a provably
    * fully-deleted file is archived without a byte read, a rewritten
    * file's deleted positions are subtracted, and DV'd files in scopes
    * this pass never touches keep their vectors through the closing
    * commit. Per-scope rewrites are independent jobs, submitted
    * concurrently. Returns the file count of each rewritten scope.
    */
  private def rewriteScopes(
      spark: SparkSession,
      root: String,
      where: Option[Column],
      minFiles: Int)(write: (DataFiles.Rewrites, String, DataFrame, Long) => Unit): Seq[Int] =
    Snapshots.withTableLock(spark, root) {
      val rootPath = new org.apache.hadoop.fs.Path(root)
      val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // keep the byte lengths from the one listing the scan already pays:
      // they size each scope's rewrite (no extra getFileStatus RPCs)
      def dataFiles(dir: org.apache.hadoop.fs.Path): Seq[(org.apache.hadoop.fs.Path, Long)] = fs
        .listStatus(dir)
        .toSeq
        .filter(st => st.isFile && !st.getPath.getName.startsWith(".") && !st.getPath.getName.startsWith("_"))
        .map(st => st.getPath -> st.getLen)
      val partDirs = fs
        .listStatus(rootPath)
        .toSeq
        .filter(st => st.isDirectory && st.getPath.getName.contains("="))
        .map(_.getPath)
      // partition-scoped maintenance: at 100 TB the nightly pass rewrites
      // the day that just closed, not the table
      def committed =
        if (Snapshots.latestVersion(spark, root) > 0L) Some(Snapshots.manifestView(spark, root))
        else None
      val scoped = where match {
        case None => partDirs
        case Some(pred) => scopeDirs(spark, committed, partDirs, pred)
      }
      val targets = (if (partDirs.nonEmpty) scoped else Seq(rootPath))
        .map(d => d -> dataFiles(d))
        .filter(_._2.length >= minFiles)
      if (targets.isEmpty) return Seq.empty
      Snapshots.ensureBaseline(spark, root) // pre-state stays pinnable
      val dvView = committed
      DataFiles.rewrite(spark, fs, rootPath, targets.flatMap(_._2.map(f => relOf(fs, rootPath, f._1)))) {
        stage =>
          graft.core.Par.each(targets) { case (dir, files) =>
            val live = files.filterNot { case (f, _) =>
              dvView.exists(v =>
                Snapshots.fullyDeleted(v.stats.getOrElse(relOf(fs, rootPath, f), Map.empty)))
            }
            if (live.nonEmpty)
              write(
                stage,
                relOf(fs, rootPath, dir),
                scopeRows(spark, root, fs, rootPath, dvView, live.map(_._1)),
                live.map(_._2).sum)
          }
      }(_ => Snapshots.commit(spark, root))
      targets.map(_._2.length)
    }

  /** Which single-level hive partition dirs satisfy `pred` over their
    * TYPED partition values — the scoped materialize's per-file
    * evaluation ([[DeleteVectors.scopeByPartitions]]) applied to dirs:
    * values parse as the `view`'s declared column type via `try_cast`
    * (an unparseable or sentinel value reads NULL and falls
    * conservatively out of any value predicate), with no Spark job.
    */
  private def scopeDirs(
      spark: SparkSession,
      view: Option[Snapshots.ManifestView],
      dirs: Seq[org.apache.hadoop.fs.Path],
      pred: Column): Seq[org.apache.hadoop.fs.Path] = {
    require(
      dirs.nonEmpty,
      "scoped maintenance needs a hive-partitioned table — omit `where` for the whole table")
    val cols = dirs.map(_.getName.split("=", 2)(0)).distinct
    require(cols.size == 1, s"mixed partition columns at one level: $cols")
    // a dir is scoped as a rel of one file in it
    val empty = Snapshots.ManifestView(0L, Seq.empty, Map.empty, None, Seq.empty)
    val kept = DeleteVectors.scopeByPartitions(
      spark, view.getOrElse(empty).copy(partCols = cols), dirs.map(_.getName + "/_"), pred)
    dirs.filter(d => kept(d.getName + "/_"))
  }

  /** Root-relative rel of a live file path (driver-side string op on the
    * DECODED path domain — Hadoop [[org.apache.hadoop.fs.Path]] stores
    * paths unencoded, so no URI round-trip is involved).
    */
  private def relOf(
      fs: org.apache.hadoop.fs.FileSystem,
      rootPath: org.apache.hadoop.fs.Path,
      file: org.apache.hadoop.fs.Path): String = {
    val rootUriPath = fs.makeQualified(rootPath).toUri.getPath
    fs.makeQualified(file).toUri.getPath.stripPrefix(rootUriPath).stripPrefix("/")
  }

  /** The rows of one maintenance scope's files as its DATA columns
    * (partition values live in the dir path, which the rewrite keeps). A
    * committed table reads through its pinned scan: deletion vectors
    * subtract, the declared schema applies (an evolved table compacts
    * consistently — ALTER-added columns survive, dropped tombstoned
    * columns are physically purged). A dir with no manifest reads as
    * plain parquet.
    */
  private def scopeRows(
      spark: SparkSession,
      root: String,
      fs: org.apache.hadoop.fs.FileSystem,
      rootPath: org.apache.hadoop.fs.Path,
      view: Option[Snapshots.ManifestView],
      files: Seq[org.apache.hadoop.fs.Path]): DataFrame = view match {
    case Some(v) =>
      val rels = files.map(relOf(fs, rootPath, _))
      Snapshots
        .scanRels(spark, root, v, rels)
        .drop(graft.sources.snap.SnapFilters.partValsOf(rels.head).map(_._1).toSeq: _*)
    case None => spark.read.parquet(files.map(_.toString): _*)
  }

  /** In-place CLUSTERING rewrite — the `OPTIMIZE … ZORDER BY` of the
    * snapshot format: rewrite each scope's live data range-partitioned and
    * sorted on `key` (a plain column for 1-D range clustering, a
    * [[graft.functions.Layout.zorder2]] / `hilbert2` key for 2-D boxes) so
    * every output file covers a NARROW key interval. The payoff is all in
    * the v2 manifest stats the closing commit records: after clustering, a
    * range predicate's (lo, hi) overlaps one or two file intervals instead
    * of all of them, so manifest pruning — and the SQL catalog scans built
    * on it — plan k-of-N file reads with zero footer opens. Ingest-ordered
    * tables are the 100 TB norm (every file spans the full key range
    * because data arrives round-robin); one clustering pass converts scan
    * cost for range queries from O(table) to O(selectivity).
    *
    * Scopes are hive partition dirs when present (rows never change
    * partition), else the whole table: ONE distributed range-shuffle per
    * scope sized by `filesPerScope`, rewritten via the same stage, then
    * archive + land + commit protocol as [[compactInPlace]]
    * ([[DataFiles.rewrite]]) — replaced files are archived,
    * never destroyed, so every pinned manifest keeps resolving and the
    * pre-cluster state stays restorable. Runs under the table lock;
    * the closing commit inherits the table's stats discipline. Returns
    * (scopesRewritten, filesBefore).
    */
  def clusterInPlace(
      spark: SparkSession,
      root: String,
      key: Column,
      filesPerScope: Int,
      where: Option[Column] = None): (Long, Long) = {
    require(filesPerScope >= 1, s"filesPerScope must be >= 1, got $filesPerScope")
    // clustering rewrites EVERY matching scope, so a clustering pass folds
    // every deletion vector it meets — the rewritten layout carries no pointers
    val scopes = rewriteScopes(spark, root, where, minFiles = 1) { (stage, dir, rows, _) =>
      stage.into(dir) { sub =>
        rows
          .repartitionByRange(filesPerScope, key)
          .sortWithinPartitions(key)
          .write
          .mode(SaveMode.Overwrite)
          .parquet(sub.toString)
      }
    }
    (scopes.size.toLong, scopes.map(_.toLong).sum)
  }
}
