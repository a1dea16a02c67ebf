package org.apache.spark.sql.graft

import org.apache.spark.sql.{classic, Column}
import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal bridge to `private[sql]` Column↔Expression plumbing (Spark 4
  * moved Column onto ColumnNode for Connect; `classic.ExpressionUtils` is
  * the sanctioned conversion for engine-side extensions). Keeping this one
  * file inside the spark namespace confines the privileged access.
  */
object Bridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Block until every posted listener event is delivered
    * (`listenerBus` is `private[spark]`): a tool counting jobs reads its
    * listener after this.
    */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** `e` with NaN and -0.0 normalized as Spark normalizes grouping and
    * join keys (`NormalizeFloatingNumbers.normalize` is `private[sql]`).
    */
  def normalizeFloats(e: Expression): Expression =
    org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers.normalize(e)

  /** Build a DataFrame from a hand-constructed logical plan (custom
    * operator entry point — same door `Dataset.ofRows` opens for Spark's
    * own DSL).
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession, plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A registered catalog plugin by name (`catalogManager` is
    * `private[sql]`) — the MV DDL commands resolve `cat.table`
    * identifiers to snapshot roots through it at run time.
    */
  def catalogPlugin(
      spark: org.apache.spark.sql.SparkSession,
      name: String): org.apache.spark.sql.connector.catalog.CatalogPlugin =
    spark.asInstanceOf[classic.SparkSession].sessionState.catalogManager.catalog(name)

  /** The analyzed logical plan of a DataFrame (for feeding custom nodes). */
  def logicalPlan(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[org.apache.spark.sql.Row]].logicalPlan

  /** Partitions a file scan actually selected after partition pruning
    * (`selectedPartitions` is private[sql]) — used by tests proving a
    * predicate pruned the file listing, not just filtered rows.
    */
  def selectedPartitionCount(scan: org.apache.spark.sql.execution.FileSourceScanExec): Int =
    scan.selectedPartitions.partitionCount

  /** An executor-side parquet writer of InternalRow — the write half of
    * the DSv2 row-level-operation path (SQL UPDATE/MERGE), where Spark
    * hands the connector raw InternalRows and no V1 fallback exists.
    * Reuses Spark's own `ParquetWriteSupport` (`private[sql]`, hence
    * bridged) so the bytes written are identical to a DataFrame write:
    * same logical-type mappings, same timestamp encoding, same codec.
    */
  def parquetRowWriter(
      path: org.apache.hadoop.fs.Path,
      schema: org.apache.spark.sql.types.StructType,
      conf: org.apache.hadoop.conf.Configuration)
      : org.apache.parquet.hadoop.ParquetWriter[org.apache.spark.sql.catalyst.InternalRow] = {
    import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
    import org.apache.spark.sql.internal.SQLConf
    val c = new org.apache.hadoop.conf.Configuration(conf)
    ParquetWriteSupport.setSchema(schema, c)
    // the keys ParquetFileFormat would have set from the session — init()
    // reads them unguarded, so defaults must be explicit here
    c.setIfUnset(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key, "false")
    c.setIfUnset(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key, "TIMESTAMP_MICROS")
    c.setIfUnset(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key, "false")
    c.setIfUnset(SQLConf.SESSION_LOCAL_TIMEZONE.key, java.util.TimeZone.getDefault.getID)
    c.setIfUnset(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key, "false")
    c.setIfUnset(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key, "true")
    c.setIfUnset(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key, "false")
    class B(p: org.apache.hadoop.fs.Path)
        extends org.apache.parquet.hadoop.ParquetWriter.Builder[
          org.apache.spark.sql.catalyst.InternalRow,
          B](p) {
      override def self(): B = this
      override def getWriteSupport(config: org.apache.hadoop.conf.Configuration)
          : org.apache.parquet.hadoop.api.WriteSupport[org.apache.spark.sql.catalyst.InternalRow] =
        new ParquetWriteSupport
    }
    new B(path)
      .withConf(c)
      .withCompressionCodec(org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      // overwrite: batch writers name files uniquely (UUID), and streaming
      // epoch REPLAYS must be able to rewrite their deterministic names
      .withWriteMode(org.apache.parquet.hadoop.ParquetFileWriter.Mode.OVERWRITE)
      .build()
  }

  /** An executor-side parquet reader of InternalRow — the read half of the
    * row-level-operation path. Spark's own `ParquetReadSupport` does the
    * schema clipping (missing columns null-fill, case-insensitive match),
    * so evolution-safe reads behave exactly like a DataFrame scan.
    *
    * With `filters` non-empty, the predicates are translated by Spark's
    * own `ParquetFilters` against the FILE's footer schema and handed to
    * parquet-mr — row groups (and pages, via column indexes) whose stats
    * miss every predicate are skipped without decoding. Translation
    * against the footer schema makes this evolution-safe for free: a
    * filter on an ALTER-added column the file doesn't carry translates to
    * nothing and the file reads unfiltered (the caller re-applies
    * residuals row-level). Costs one extra footer open per file — noise
    * next to the row groups it can skip.
    */
  def parquetRowReader(
      path: org.apache.hadoop.fs.Path,
      requiredSchema: org.apache.spark.sql.types.StructType,
      conf: org.apache.hadoop.conf.Configuration,
      filters: Seq[org.apache.spark.sql.sources.Filter] = Nil)
      : org.apache.parquet.hadoop.ParquetReader[org.apache.spark.sql.catalyst.InternalRow] = {
    import org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
    import org.apache.spark.sql.internal.SQLConf
    val c = new org.apache.hadoop.conf.Configuration(conf)
    c.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, requiredSchema.json)
    c.setIfUnset(SQLConf.PARQUET_BINARY_AS_STRING.key, "false")
    c.setIfUnset(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key, "true")
    c.setIfUnset(SQLConf.CASE_SENSITIVE.key, "false")
    c.setIfUnset(SQLConf.PARQUET_FIELD_ID_READ_ENABLED.key, "false")
    c.setIfUnset(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key, "false")
    c.setIfUnset(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key, "true")
    val builder = org.apache.parquet.hadoop.ParquetReader
      .builder(new ParquetReadSupport(), path)
      .withConf(c)
    val withFilter =
      if (filters.isEmpty) builder
      else rowGroupFilter(path, c, filters).map(builder.withFilter).getOrElse(builder)
    withFilter.build()
  }

  /** Translate pushed source filters into a parquet `FilterCompat` filter
    * for ONE file, against that file's actual footer schema. Uses Spark's
    * own `ParquetFilters` (the exact translation `FileSourceScanExec`
    * uses), with string predicates and dictionary/stats pushdown on and
    * CORRECTED date-time rebase (the files are written by this engine).
    * None when no predicate survives translation.
    */
  def rowGroupFilter(
      path: org.apache.hadoop.fs.Path,
      conf: org.apache.hadoop.conf.Configuration,
      filters: Seq[org.apache.spark.sql.sources.Filter])
      : Option[org.apache.parquet.filter2.compat.FilterCompat.Filter] = {
    import org.apache.spark.sql.execution.datasources.DataSourceUtils
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFilters
    import org.apache.spark.sql.internal.SQLConf
    val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(path, conf))
    val (fileSchema, fileMeta) =
      try {
        val md = footer.getFooter.getFileMetaData
        (md.getSchema, md.getKeyValueMetaData)
      } finally footer.close()
    // the per-FILE rebase spec, exactly as Spark's own scan derives it —
    // adopted legacy-writer files hold hybrid-calendar days and a
    // CORRECTED-translated date predicate there would skip matching rows
    val rebase = DataSourceUtils.datetimeRebaseSpec(
      k => fileMeta.get(k),
      conf.get(
        SQLConf.PARQUET_REBASE_MODE_IN_READ.key,
        SQLConf.PARQUET_REBASE_MODE_IN_READ.defaultValueString))
    val pf = new ParquetFilters(
      fileSchema,
      true, // pushDownDate
      true, // pushDownTimestamp
      true, // pushDownDecimal
      true, // pushDownStringPredicate
      10, // pushDownInFilterThreshold
      false, // caseSensitive
      rebase)
    filters
      .flatMap(f => pf.createFilter(f))
      .reduceOption(org.apache.parquet.filter2.predicate.FilterApi.and)
      .map(org.apache.parquet.filter2.compat.FilterCompat.get)
  }

  /** The session's Hadoop conf WITH its SQLConf entries propagated
    * (`sessionState` is `private[sql]`) — what `ParquetFileFormat` reads
    * its settings from; engine-side parquet readers/writers must use this,
    * not `sparkContext.hadoopConfiguration`, or session overrides (time
    * zone, legacy format, timestamp type) silently revert to defaults.
    */
  def sessionHadoopConf(
      spark: org.apache.spark.sql.SparkSession): org.apache.hadoop.conf.Configuration =
    spark.asInstanceOf[classic.SparkSession].sessionState.newHadoopConf()

  /** Run `body` with the session's SQL confs propagated to the tasks it
    * launches — what a Dataset action does for its own plan. An RDD job
    * started from engine code needs it when its tasks evaluate Catalyst
    * expressions that read SQLConf.
    */
  def withSqlConfPropagated[T](spark: org.apache.spark.sql.SparkSession)(body: => T): T =
    org.apache.spark.sql.execution.SQLExecution
      .withSQLConfPropagated(spark.asInstanceOf[classic.SparkSession])(body)

  /** Serializable Hadoop Configuration for shipping to executors
    * (`SerializableConfiguration` is `private[spark]`, so callers hold it
    * as an opaque Serializable and unwrap through [[confOf]]).
    */
  def serializableConf(conf: org.apache.hadoop.conf.Configuration): java.io.Serializable =
    new org.apache.spark.util.SerializableConfiguration(conf)

  def confOf(s: java.io.Serializable): org.apache.hadoop.conf.Configuration =
    s.asInstanceOf[org.apache.spark.util.SerializableConfiguration].value
}
