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
    val inputBytes = BigInt(live.map(_._2).sum)
    val nFiles = math.max(1L, (inputBytes / BigInt(targetBytes)).toLong +
      (if (inputBytes % BigInt(targetBytes) > 0) 1L else 0L))
    val n = math.min(nFiles, Int.MaxValue.toLong).toInt
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
    nFiles
  }

  /** Target on-disk bytes per output file for the IN-PLACE rewrite paths
    * ([[compactInPlace]], [[deleteWhere]], [[updateWhere]]) —
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

  /** Lay a rewrite out as `n` output files. The common fits-the-target
    * case keeps the shuffle-free `coalesce(1)`; an OVERSIZED rewrite
    * takes one round-robin shuffle of just this rewrite's rows —
    * `coalesce(n)` cannot SPLIT (the scan may pack many small inputs into
    * fewer partitions than n), and under-delivering here is exactly the
    * single-monster-file failure this sizing exists to prevent. The
    * shuffle is confined to the oversized scope, never the table.
    */
  private def sizedLayout(df: DataFrame, n: Int): DataFrame =
    if (n <= 1) df.coalesce(1) else df.repartition(n)

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

  /** Targeted row deletion (the GDPR/right-to-erasure operator) over a
    * flat parquet layout, rewriting ONLY the files that contain matching
    * rows — the copy-on-write delete a table format does, built on two
    * engine primitives:
    *   1. find affected files with an `input_file_name()` scan under the
    *      delete predicate — parquet row-group statistics prune the scan,
    *      so a well-clustered layout ([[compactParquet]] with sortCols /
    *      [[writeZOrdered]]) touches footers, not data, for most files;
    *   2. rewrite each affected file without its matching rows (temp file
    *      + rename), delete it outright if nothing survives.
    * Untouched files are never read past their footer and never
    * rewritten — deleting one user from a 100 TB table costs a handful
    * of file rewrites, not a table rewrite. Returns
    * (affectedFiles, rowsDeleted).
    *
    * Concurrency note: the swap is per-file atomic but the multi-file
    * delete is not transactional — a DIRECTORY-listing reader can see some
    * files rewritten before others. Readers that need a consistent view
    * pin a manifest ([[Snapshots.readSnapshot]]): replaced files are
    * archived, never destroyed, so every committed manifest stays
    * readable until [[Snapshots.vacuum]]. A baseline manifest is
    * committed before the first mutation and a new one after the delete.
    */
  /** Top-level equality conjuncts of a predicate, rendered in the
    * stats-string domain the manifest blooms were built with
    * (`CAST(col AS STRING)`): `user_id = 7 AND day <= d` yields
    * `("user_id", "7")`. Only shapes whose rendering is exact are
    * returned — anything else simply doesn't narrow.
    */
  /** The table's manifest-declared schema, when one is recorded — the
    * maintenance ops enforce it on every MULTI-file read, so a table whose
    * schema evolved (ALTER-added columns only some files carry, widened
    * types, dropped tombstones) scans consistently no matter which file's
    * footer Spark's inference would have picked. Single-file DELETE
    * rewrites stay footer-faithful on purpose (a keep-filter must preserve
    * exactly what the file holds); UPDATE rewrites enforce the declared
    * schema instead, so `SET added_col = …` can backfill a column the old
    * file predates — the post-ALTER workflow.
    */
  private def declaredSchemaOf(
      spark: SparkSession,
      root: String): Option[org.apache.spark.sql.types.StructType] =
    if (Snapshots.latestVersion(spark, root) > 0L) Snapshots.schemaOf(spark, root) else None

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

  /** Root-relative rel of a file URI as reported by `input_file_name()`
    * (URI-encoded): `java.net.URI.getPath` decodes the escapes back to the
    * on-disk path the manifest records. Shared by the scoped DV guards of
    * the copy-on-write DML ops.
    */
  private def relOfFileUri(
      fs: org.apache.hadoop.fs.FileSystem,
      rootPath: org.apache.hadoop.fs.Path,
      uri: String): String = {
    val rootUriPath = fs.makeQualified(rootPath).toUri.getPath
    new java.net.URI(uri).getPath.stripPrefix(rootUriPath).stripPrefix("/")
  }

  def deleteWhere(spark: SparkSession, root: String, predicate: Column): (Long, Long) = {
    Snapshots.withTableLock(spark, root) {
    val liveFiles = Snapshots.listDataFiles(spark, root)
    if (liveFiles.isEmpty) return (0L, 0L) // already empty
    import org.apache.spark.sql.functions.input_file_name
    // manifest-narrowed candidate scan: the predicate's top-level range
    // conjuncts prune files by recorded per-file intervals (zero I/O — a
    // day-bounded delete opens only that day's files), and equality
    // probes on bloom-indexed columns prune further (a point erasure —
    // `user_id = k`, the GDPR shape — against an unclustered 100 TB
    // table reads one or two files). Files newer than the manifest have
    // no stats and cannot be excluded.
    val declared = declaredSchemaOf(spark, root)
    def rootRead = {
      val rd = spark.read
      declared.foreach(rd.schema)
      rd.parquet(root)
    }
    val candidates: Seq[String] = {
      val view =
        if (Snapshots.latestVersion(spark, root) > 0L) Snapshots.manifestView(spark, root)
        else Snapshots.ManifestView(0L, Seq.empty, Map.empty, None, Seq.empty)
      val ranges = rangeProbes(rootRead, predicate)
      val probes = equalityProbes(rootRead, predicate)
      val active = probes.filter { case (c, _) => view.bloomCols.contains(c) }
      if (ranges.isEmpty && active.isEmpty) liveFiles
      else {
        val inManifest = view.rels.toSet
        liveFiles.filter { rel =>
          !inManifest.contains(rel) || { // post-manifest file: cannot exclude
            // manifest range pruning first (zero I/O), blooms second
            // (one sidecar read per surviving equality-probed file)
            Snapshots.fileMatchesRanges(view.stats.getOrElse(rel, Map.empty), ranges) &&
            active.forall { case (c, v) => Snapshots.bloomMightContain(spark, root, rel, c, v) }
          }
        }
      }
    }
    if (candidates.isEmpty) return (0L, 0L)
    val rootPathForScan = new org.apache.hadoop.fs.Path(root)
    val fsForScan = rootPathForScan.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val scanBase = fsForScan.makeQualified(rootPathForScan).toString
    val scan =
      if (candidates.size == liveFiles.size) rootRead
      else {
        val rd = spark.read.option("basePath", scanBase)
        declared.foreach(rd.schema)
        rd.parquet(candidates.map(rel => s"$scanBase/$rel"): _*)
      }
    val affected = scan
      .filter(predicate)
      .select(input_file_name().as("f"))
      .groupBy(col("f"))
      .count()
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val hadoopPath = new org.apache.hadoop.fs.Path(root)
    val fs = hadoopPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // SCOPED merge-on-read guard: only the files this delete will actually
    // rewrite matter — a DV'd file elsewhere in the table is never read
    // past the match scan and its pointer carries through the closing
    // commit untouched. (The match scan reads raw bytes, so a DV'd file
    // whose only matches are already-deleted rows still refuses — loud
    // and conservative, never silent resurrection.)
    Snapshots.requireNoDvIn(
      spark,
      root,
      "copy-on-write deleteWhere",
      affected.map { case (u, _) => relOfFileUri(fs, hadoopPath, u) })
    if (affected.nonEmpty) Snapshots.ensureBaseline(spark, root) // pre-state stays pinnable
    val targetBytes = rewriteTargetBytes(spark)
    def rewriteOne(stage: DataFiles.Rewrites, uri: String, matching: Long): Unit = {
      val filePath = new org.apache.hadoop.fs.Path(new java.net.URI(uri))
      // whole-file delete detected from the FOOTER row count (driver-side
      // metadata, no Spark job) — the file dies iff every row matched
      val footerRows = {
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(filePath, spark.sparkContext.hadoopConfiguration))
        try r.getRecordCount
        finally r.close()
      }
      if (footerRows != matching) {
        // three-valued logic: a NULL predicate row must be KEPT (the delete
        // didn't match it) — bare !predicate is NULL there and filter drops
        // it, silently deleting rows a GDPR-style delete never targeted.
        // basePath read: the predicate may reference HIVE PARTITION columns
        // (a day-bounded GDPR delete), which live in the file's dir path,
        // not its bytes — read with the table root as basePath so they
        // resolve with their inferred types, then drop them before the
        // rewrite lands (hive data files never embed their partition cols)
        val qualifiedRoot = fs.makeQualified(hadoopPath).toString
        val partCols = filePath.toUri.getPath
          .stripPrefix(new org.apache.hadoop.fs.Path(qualifiedRoot).toUri.getPath)
          .split("/")
          .filter(_.contains("="))
          .map(_.split("=", 2)(0))
          .toSeq
          .distinct
        val keep = spark.read
          .option("basePath", qualifiedRoot)
          .parquet(uri)
          .filter(!coalesce(predicate, lit(false)))
          .drop(partCols: _*)
        // size the rewrite from the SOURCE file's on-disk bytes (the
        // survivors are a subset, so this can only over-provision): an
        // oversized input rewrites in parallel to ~targetBytes files
        // instead of one unbounded single-task file. coalesce never
        // shuffles — it merges (or keeps) the scan's own splits. The
        // rewrite lands under the PART JOB'S OWN generated names: rel
        // paths are never reused, so a pinned manifest entry denotes
        // exactly one immutable file forever
        val n = rewriteFileCount(fs.getFileStatus(filePath).getLen, targetBytes)
        val staged = stage.into(DataFiles.dirOf(relOfFileUri(fs, hadoopPath, uri)))(sub =>
          sizedLayout(keep, n).write.mode(SaveMode.Overwrite).parquet(sub.toString))
        if (staged == 0) throw new IllegalStateException(s"rewrite of $uri produced no part file")
      }
    }
    // every survivor rewrite stages first (no live-tree mutation), then
    // ONE swap archives the affected files, lands the rewrites and
    // commits, so a failure anywhere leaves the table as it was. The
    // per-file rewrites are independent single-file jobs: submit them
    // CONCURRENTLY so the wall clock is the slowest file, not the sum —
    // driver-blocking job latency dominates small rewrites (measured:
    // q184's 30 per-day rewrites serialized to seconds). Spark job
    // submission is thread-safe; each touched path is distinct.
    if (affected.nonEmpty)
      DataFiles.rewrite(spark, fs, hadoopPath, affected.map { case (u, _) => relOfFileUri(fs, hadoopPath, u) }) {
        stage => graft.core.Par.each(affected.toSeq) { case (u, m) => rewriteOne(stage, u, m) }
      }(_ => Snapshots.commit(spark, root))
    (affected.length.toLong, affected.map(_._2).sum)
  }
  }

  /** Copy-on-write UPDATE … SET — the third row-level DML next to
    * [[deleteWhere]] (erasure) and [[mergeIntoPartitioned]] (upsert):
    * apply `sets` (column → new-value expression) to every row matching
    * `predicate`, rewriting ONLY the files that contain matched rows.
    * SQL UPDATE semantics are kept exactly:
    *  - every SET right-hand side AND the predicate evaluate against the
    *    OLD row — all new values come from ONE projection over the source
    *    frame, so `SET n = n * 2, u = u + n` uses the pre-update `n` in
    *    both places (a fold of sequential `withColumn`s would leak the
    *    updated value into later expressions);
    *  - a NULL predicate row is NOT matched (kept unchanged), the same
    *    three-valued rule [[deleteWhere]] applies;
    *  - hive PARTITION columns are refused as SET targets — updating one
    *    moves rows across directories, which is a MERGE
    *    ([[mergeIntoPartitioned]]), not an in-place file rewrite. They may
    *    still appear in the predicate (day-bounded updates prune to the
    *    matching partitions' files).
    * Untouched files are never read past their footer; replaced files are
    * archived so every pinned manifest keeps resolving; the closing commit
    * inherits the table's stats discipline. At 100 TB: correcting one
    * mislabeled day costs that day's file rewrites, not a table pass.
    * Returns (affectedFiles, rowsUpdated).
    */
  def updateWhere(
      spark: SparkSession,
      root: String,
      predicate: Column,
      sets: Map[String, Column]): (Long, Long) = {
    require(sets.nonEmpty, "updateWhere needs at least one SET column")
    Snapshots.withTableLock(spark, root) {
    if (Snapshots.listDataFiles(spark, root).isEmpty) return (0L, 0L) // empty table
    import org.apache.spark.sql.functions.input_file_name
    val hadoopPath = new org.apache.hadoop.fs.Path(root)
    val fs = hadoopPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qualifiedRoot = fs.makeQualified(hadoopPath).toString
    // validate SET targets BEFORE any scan or rewrite: a mistyped column
    // or a partition-column SET must fail loudly even when the predicate
    // matches nothing (per-file checks alone would silently "succeed" on
    // zero matches). ONE frame serves both validation and the match scan.
    val declared = declaredSchemaOf(spark, root)
    val table = {
      val rd = spark.read
      declared.foreach(rd.schema)
      rd.parquet(root)
    }
    val unknownSet = sets.keys.filterNot(k => table.columns.exists(_.equalsIgnoreCase(k)))
    require(unknownSet.isEmpty, s"SET column(s) not in table: ${unknownSet.mkString(", ")}")
    val tablePartCols = fs
      .listStatus(hadoopPath)
      .toSeq
      .filter(st => st.isDirectory && st.getPath.getName.contains("="))
      .map(_.getPath.getName.split("=", 2)(0))
      .distinct
    val illegalSet = tablePartCols.filter(pc => sets.keys.exists(_.equalsIgnoreCase(pc)))
    require(
      illegalSet.isEmpty,
      s"cannot SET hive partition column(s) ${illegalSet.mkString(", ")}: rows would change " +
        "directories — rewrite partition membership with mergeIntoPartitioned instead")
    val affected = table
      .filter(predicate)
      .select(input_file_name().as("f"))
      .groupBy(col("f"))
      .count()
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
    // SCOPED merge-on-read guard (the deleteWhere discipline): refuse only
    // when a file this update will rewrite carries a deletion vector —
    // updates bounded away from the DV'd files run untouched
    Snapshots.requireNoDvIn(
      spark,
      root,
      "copy-on-write updateWhere",
      affected.map { case (u, _) => relOfFileUri(fs, hadoopPath, u) })
    if (affected.nonEmpty) Snapshots.ensureBaseline(spark, root) // pre-state stays pinnable
    val targetBytes = rewriteTargetBytes(spark)
    def rewriteOne(stage: DataFiles.Rewrites, uri: String): Unit = {
      val filePath = new org.apache.hadoop.fs.Path(new java.net.URI(uri))
      val partCols = filePath.toUri.getPath
        .stripPrefix(new org.apache.hadoop.fs.Path(qualifiedRoot).toUri.getPath)
        .split("/")
        .filter(_.contains("="))
        .map(_.split("=", 2)(0))
        .toSeq
        .distinct
      val src = {
        // declared schema enforced: the rewrite materializes ALTER-added
        // columns (null where the old file predates them), so SET can
        // backfill them — and purges dropped tombstoned columns
        val rd = spark.read.option("basePath", qualifiedRoot)
        declared.foreach(rd.schema)
        rd.parquet(uri)
      }
      val hit = coalesce(predicate, lit(false))
      // ONE projection: predicate + every SET expression see the old row
      val updated = src
        .select(src.columns.toIndexedSeq.map { c =>
          sets
            .collectFirst { case (k, e) if k.equalsIgnoreCase(c) => when(hit, e).otherwise(col(c)).as(c) }
            .getOrElse(col(c))
        }: _*)
        .drop(partCols: _*)
      // UPDATE preserves row count, so the source file's on-disk bytes are
      // the right size estimate — same parallel-rewrite discipline as
      // deleteWhere (one oversized file must not rewrite as one task)
      val n = rewriteFileCount(fs.getFileStatus(filePath).getLen, targetBytes)
      val staged = stage.into(DataFiles.dirOf(relOfFileUri(fs, hadoopPath, uri)))(sub =>
        sizedLayout(updated, n).write.mode(SaveMode.Overwrite).parquet(sub.toString))
      if (staged == 0) throw new IllegalStateException(s"rewrite of $uri produced no part file")
    }
    // stage every rewrite, then ONE swap (the deleteWhere discipline)
    if (affected.nonEmpty)
      DataFiles.rewrite(spark, fs, hadoopPath, affected.map { case (u, _) => relOfFileUri(fs, hadoopPath, u) }) {
        stage => graft.core.Par.each(affected.toSeq) { case (u, _) => rewriteOne(stage, u) }
      }(_ => Snapshots.commit(spark, root))
    (affected.length.toLong, affected.map(_._2).sum)
  }
  }

  /** MERGE-style upsert into a hive-partitioned parquet table: apply a
    * delta (new + changed rows, keyed by `keyCols` within `partitionCol`)
    * by rewriting ONLY the partitions the delta touches — the
    * copy-on-write MERGE a table format runs, built from engine
    * primitives. Complements [[deleteWhere]] (file-level delete) and
    * [[expirePartitions]] (metadata-level TTL) as the third lifecycle
    * operator, and closes the loop on the q111 CDC snapshot: compact the
    * changelog to a delta, merge the delta here, and the analytics table
    * is current without a table rewrite.
    *
    *  1. affected partition values come from the delta itself (one
    *     distinct over the delta — rows ∝ touched partitions);
    *  2. ONE distributed job reads root filtered to those values (plain
    *     partition pruning: unaffected partitions are never opened),
    *     anti-joins existing rows against the delta's keys, unions the
    *     delta (delta wins collisions — MERGE WHEN MATCHED THEN UPDATE,
    *     WHEN NOT MATCHED THEN INSERT), and writes all rebuilt partitions
    *     to a staging dir in one pass;
    *  3. each affected `col=value` dir is swapped in via the
    *     rename-aside protocol (old dir is renamed to a dot-prefixed
    *     sibling first — hidden from Spark's file index, so a crash
    *     leaves every partition readable at one of its two states, and
    *     leftovers are invisible to readers).
    *
    * At 100 TB: merging a day's CDC delta rewrites the touched day
    * partitions only; the job's shuffle is sized by those partitions,
    * not the table. Returns the affected partition values, sorted.
    */
  def mergeIntoPartitioned(
      spark: SparkSession,
      root: String,
      delta: DataFrame,
      partitionCol: String,
      keyCols: Seq[String]): Seq[String] = {
    Snapshots.withTableLock(spark, root) {
    val hadoopPath = new org.apache.hadoop.fs.Path(root)
    val fs = hadoopPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val affected = delta
      .select(col(partitionCol).cast("string").as("p"))
      .distinct()
      .collect()
      .map(_.getString(0))
      .sorted
      .toSeq
    // SCOPED merge-on-read guard: the merge rebuilds exactly the delta's
    // partition dirs — refuse only when a DV'd file lives in one of them;
    // vectors in untouched partitions carry through the closing commit
    if (Snapshots.latestVersion(spark, root) > 0L) {
      val affectedSet = affected.toSet
      val inScope = Snapshots
        .dvByRel(Snapshots.manifestView(spark, root))
        .keys
        .filter { rel =>
          val seg = rel.split("/").head
          seg.startsWith(s"$partitionCol=") && {
            val raw = seg.substring(partitionCol.length + 1)
            raw != "__HIVE_DEFAULT_PARTITION__" &&
            affectedSet.contains(Snapshots.unescapePathName(raw))
          }
        }
      Snapshots.requireNoDvIn(spark, root, "mergeIntoPartitioned", inScope.toSeq)
    }
    if (fs.exists(hadoopPath)) Snapshots.ensureBaseline(spark, root) // pre-state stays pinnable
    val existingDirs = affected
      .map(v => new org.apache.hadoop.fs.Path(hadoopPath, s"$partitionCol=$v"))
      .filter(fs.exists)
    val stage = new org.apache.hadoop.fs.Path(hadoopPath, ".merge-stage")
    if (fs.exists(stage)) fs.delete(stage, true)
    val rebuilt = {
      val d = delta
      if (existingDirs.isEmpty) d
      else {
        val existing = spark.read
          .option("basePath", root)
          .parquet(existingDirs.map(_.toString): _*)
          .select(d.columns.map(col): _*) // column order alignment
        existing
          .join(d.select((keyCols :+ partitionCol).map(col): _*), keyCols :+ partitionCol, "left_anti")
          .unionByName(d)
      }
    }
    rebuilt
      // co-locate each partition's rows in one task before the dynamic
      // write: without this every shuffle task writes a sliver into every
      // affected dir (32 tasks × N dirs small files), tripling the
      // downstream listing/open cost of the table this merge maintains
      .repartition(col(partitionCol))
      .write
      .mode(SaveMode.Overwrite)
      .partitionBy(partitionCol)
      .parquet(stage.toString)
    affected.foreach { v =>
      val live = new org.apache.hadoop.fs.Path(hadoopPath, s"$partitionCol=$v")
      val fresh = new org.apache.hadoop.fs.Path(stage, s"$partitionCol=$v")
      val aside = new org.apache.hadoop.fs.Path(hadoopPath, s".merge-old-$partitionCol=$v")
      // leftover aside from an earlier crash: its files belong to a
      // then-committed manifest — archive them (never destroy)
      Snapshots.archiveDirContents(fs, hadoopPath, aside, s"$partitionCol=$v")
      val hadLive = fs.exists(live)
      if (hadLive) fs.rename(live, aside)
      if (fs.exists(fresh)) fs.rename(fresh, live)
      if (hadLive) Snapshots.archiveDirContents(fs, hadoopPath, aside, s"$partitionCol=$v")
    }
    fs.delete(stage, true)
    Snapshots.commit(spark, root)
    affected
  }
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
      expired.foreach(p => Snapshots.archiveDirContents(fs, hadoopPath, p, p.getName))
      Snapshots.commit(spark, root)
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
    * submitted concurrently (the [[deleteWhere]] discipline — wall clock
    * is the largest dir, not the sum); untouched dirs are never read,
    * listed cost is the listing the table scan already pays. Unlike
    * [[compactParquet]] (whole-table rewrite to a NEW path), this runs
    * against the live path a maintained table actually serves.
    */
  def compactInPlace(
      spark: SparkSession,
      root: String,
      where: Option[Column] = None): (Long, Long, Long) = {
    Snapshots.withTableLock(spark, root) {
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // keep the byte lengths from the one listing the scan already pays:
    // they size each scope's rewrite below (no extra getFileStatus RPCs)
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
    // partition-scoped OPTIMIZE: at 100 TB the nightly pass compacts the
    // day that just closed, not the table — `where` narrows the scopes by
    // their typed partition values (the scoped-materialize discipline)
    val scoped = where match {
      case None => partDirs
      case Some(pred) => scopeDirs(spark, root, partDirs, pred)
    }
    val targets = (if (partDirs.nonEmpty) scoped else Seq(rootPath))
      .map(d => d -> dataFiles(d))
      .filter(_._2.length > 1)
    if (targets.isEmpty) return (0L, 0L, 0L)
    Snapshots.ensureBaseline(spark, root) // pre-state stays pinnable
    // merge-on-read deletes FOLD during the rewrite (the Delta-OPTIMIZE
    // discipline): a rewritten file's deleted positions are subtracted, so
    // its replacement carries no pointer — while DV'd files in scopes this
    // pass never touches (single-file dirs here) keep their vectors
    // through the closing commit. One day's MoR delete no longer suspends
    // the nightly OPTIMIZE of every other partition.
    val dvView =
      if (Snapshots.latestVersion(spark, root) > 0L) Some(Snapshots.manifestView(spark, root))
      else None
    val targetBytes = rewriteTargetBytes(spark)
    val landedFiles = new java.util.concurrent.atomic.AtomicLong(0L)
    def compactOne(
        stage: DataFiles.Rewrites,
        dir: org.apache.hadoop.fs.Path,
        files: Seq[(org.apache.hadoop.fs.Path, Long)]): Unit = {
      // provably-empty files (every recorded row MoR-deleted) contribute
      // nothing: archive without reading a byte
      val live = files.filterNot { case (f, _) =>
        dvView.exists(v =>
          Snapshots.fullyDeleted(v.stats.getOrElse(relOf(fs, rootPath, f), Map.empty)))
      }
      if (live.nonEmpty) {
        val base = scopeRows(spark, root, fs, rootPath, dvView, live.map(_._1))
        // output sized from the scope's LIVE on-disk bytes (already in hand
        // from the listing): a hundreds-of-GB partition rewrites in
        // parallel to ~targetBytes files, never as one single-task monster
        // — the compactParquet arithmetic applied in place. coalesce keeps
        // the scan's own splits (no shuffle); small scopes still land one
        // file, so prior layouts (and their query hashes) are unchanged.
        val n = rewriteFileCount(live.map(_._2).sum, targetBytes)
        landedFiles.addAndGet(stage.into(relOf(fs, rootPath, dir)) { sub =>
          sizedLayout(base, n).write
            .mode(SaveMode.Overwrite)
            .parquet(sub.toString)
        }.toLong)
      }
    }
    // stage every scope's rewrite, then ONE swap: the originals archive,
    // the compacted files land and the table commits — a failure anywhere
    // leaves the table as it was
    DataFiles.rewrite(spark, fs, rootPath, targets.flatMap(_._2.map(f => relOf(fs, rootPath, f._1)))) {
      stage => graft.core.Par.each(targets) { case (d, fls) => compactOne(stage, d, fls) }
    }(_ => Snapshots.commit(spark, root))
    // filesAfter counts LANDED replacement files only — a dir whose every
    // file was provably fully-deleted archives all and lands nothing; an
    // oversized scope lands several ~targetBytes files
    (targets.length.toLong, targets.map(_._2.length.toLong).sum, landedFiles.get())
  }
  }

  /** Which single-level hive partition dirs satisfy `pred` over their
    * TYPED partition values — the per-dir twin of the scoped
    * materialize's per-file evaluation: segment values parse as the
    * declared column type via `try_cast` (an unparseable or sentinel
    * value reads NULL and falls conservatively out of any value
    * predicate), and the predicate evaluates in one tiny local job.
    */
  private def scopeDirs(
      spark: SparkSession,
      root: String,
      dirs: Seq[org.apache.hadoop.fs.Path],
      pred: Column): Seq[org.apache.hadoop.fs.Path] = {
    require(
      dirs.nonEmpty,
      "scoped maintenance needs a hive-partitioned table — omit `where` for the whole table")
    val parsed = dirs.map { d =>
      val Array(k, raw) = d.getName.split("=", 2)
      // ONE decode discipline across scoped materialize / upsert
      // narrowing / scoped maintenance: segValue's sentinel + unescape
      (d, k, graft.sources.snap.SnapFilters.segValue(raw).orNull)
    }
    val partCol = {
      val cols = parsed.map(_._2).distinct
      require(cols.size == 1, s"mixed partition columns at one level: $cols")
      cols.head
    }
    val declared = declaredSchemaOf(spark, root).flatMap(_.fields.find(_.name == partCol))
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val raw = spark.createDataFrame(
      spark.sparkContext.parallelize(
        parsed.zipWithIndex.map { case ((_, _, v), i) => Row(i.toLong, v) },
        1),
      StructType(Seq(
        StructField("__graft_scope_idx__", LongType, nullable = false),
        StructField(partCol, StringType, nullable = true))))
    val typed = declared match {
      case Some(f) =>
        raw.withColumn(
          partCol,
          org.apache.spark.sql.functions.expr(s"try_cast(`$partCol` AS ${f.dataType.sql})"))
      case None => raw
    }
    val kept = typed
      .filter(pred)
      .select(col("__graft_scope_idx__"))
      .collect()
      .map(_.getLong(0))
      .toSet
    parsed.zipWithIndex.collect { case ((d, _, _), i) if kept(i.toLong) => d }
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
    Snapshots.withTableLock(spark, root) {
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataFiles(dir: org.apache.hadoop.fs.Path) = fs
      .listStatus(dir)
      .toSeq
      .filter(st => st.isFile && !st.getPath.getName.startsWith(".") && !st.getPath.getName.startsWith("_"))
      .map(_.getPath)
    val partDirs = fs
      .listStatus(rootPath)
      .toSeq
      .filter(st => st.isDirectory && st.getPath.getName.contains("="))
      .map(_.getPath)
    // partition-scoped clustering (the compactInPlace discipline): only
    // the matching scopes range-rewrite; the rest keep their layout
    val scoped = where match {
      case None => partDirs
      case Some(pred) => scopeDirs(spark, root, partDirs, pred)
    }
    val targets = (if (partDirs.nonEmpty) scoped else Seq(rootPath))
      .map(d => d -> dataFiles(d))
      .filter(_._2.nonEmpty)
    if (targets.isEmpty) return (0L, 0L)
    Snapshots.ensureBaseline(spark, root) // pre-state stays pinnable
    // clustering rewrites EVERY scope, so a clustering pass folds every
    // deletion vector it meets (compactInPlace discipline) — the rewritten
    // layout carries no pointers
    val dvView =
      if (Snapshots.latestVersion(spark, root) > 0L) Some(Snapshots.manifestView(spark, root))
      else None
    def clusterOne(
        stage: DataFiles.Rewrites,
        dir: org.apache.hadoop.fs.Path,
        files: Seq[org.apache.hadoop.fs.Path]): Unit = {
      val live = files.filterNot { f =>
        dvView.exists(v =>
          Snapshots.fullyDeleted(v.stats.getOrElse(relOf(fs, rootPath, f), Map.empty)))
      }
      if (live.nonEmpty) {
        val base = scopeRows(spark, root, fs, rootPath, dvView, live)
        stage.into(relOf(fs, rootPath, dir)) { sub =>
          base
            .repartitionByRange(filesPerScope, key)
            .sortWithinPartitions(key)
            .write
            .mode(SaveMode.Overwrite)
            .parquet(sub.toString)
        }
      }
    }
    // stage every scope, then ONE swap (the compactInPlace protocol)
    DataFiles.rewrite(spark, fs, rootPath, targets.flatMap(_._2.map(relOf(fs, rootPath, _)))) {
      stage => graft.core.Par.each(targets) { case (d, fls) => clusterOne(stage, d, fls) }
    }(_ => Snapshots.commit(spark, root))
    (targets.length.toLong, targets.map(_._2.length.toLong).sum)
  }
  }
}
