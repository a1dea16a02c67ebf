package graft.sources.snap

import java.util

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, SupportsDelete, SupportsNamespaces, SupportsRead, SupportsWrite, Table, TableCapability, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.{NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Count, CountStar, Max, Min, Sum}
import org.apache.spark.sql.connector.read.{LocalScan, Scan, ScanBuilder, Statistics, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsDynamicOverwrite, SupportsOverwrite, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{BooleanType, ByteType, DataType, DateType, IntegerType, LongType, ShortType, StringType, StructField, StructType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.{DataFiles, Snapshots, ValueIndex}

/** SQL-native catalog over the graft snapshot table format
  * ([[graft.sources.Snapshots]]) — the layer that turns a directory of
  * manifest-committed parquet tables into first-class Spark SQL tables:
  *
  * {{{
  * spark.conf.set("spark.sql.catalog.snap", classOf[GraftCatalog].getName)
  * spark.conf.set("spark.sql.catalog.snap.root", "/tables")
  * spark.sql("SELECT * FROM snap.events VERSION AS OF 3 WHERE day = '2024-01-05'")
  * spark.sql("SELECT count(*) FROM snap.events")   // manifest-only, zero file opens
  * }}}
  *
  * What the DSv2 surface buys at 100 TB:
  *  - '''Time travel in SQL''': `VERSION AS OF n` / `TIMESTAMP AS OF t`
  *    resolve through [[TableCatalog.loadTable]] to a manifest-pinned scan —
  *    the same isolation law q184 proves for the programmatic API, now
  *    reachable by any SQL client.
  *  - '''Manifest-stats file pruning''': pushed range/equality filters are
  *    applied against the v2 manifest's per-file min/max BEFORE planning the
  *    scan — a day-range query against a million-file table drops
  *    non-matching files from one small manifest read, no footer opens
  *    (filters are still re-applied row-level by Spark AND inside the inner
  *    parquet scan, so pruning only ever skips definite misses).
  *  - '''Metadata-only COUNT(*)''' via [[SupportsPushDownAggregates]]
  *    complete pushdown: answered from the manifest's recorded per-file row
  *    counts — no data file (not even a footer) opens. Spark only offers the
  *    aggregate when no residual filters exist, so the pushdown is sound by
  *    construction.
  *  - '''Plan-time statistics'''
  *    ([[org.apache.spark.sql.connector.read.SupportsReportStatistics]]):
  *    manifest row counts + on-disk byte sizes feed join planning, so a
  *    small snapshot table broadcast-joins without a manual hint.
  *
  * Every data read is ONE native DSv2 batch scan ([[SnapV2BatchScan]]):
  * the manifest-pruned file list read through the spliced parquet reader
  * (recorded schema enforced for evolution-safe pinned reads, typed hive
  * partition values from the path), with storage-partitioned joins,
  * runtime file pruning and files-read/pruned SQL metrics on every read.
  * Manifest-only answers (pushed aggregates, metadata tables) are
  * [[org.apache.spark.sql.connector.read.LocalScan]]s planned as one
  * driver-local table scan ([[SnapLocalScanStrategy]]) — zero Spark
  * jobs. DML writes work: `INSERT INTO` appends + commits the next
  * manifest version (keeping the table's stats-column discipline), and
  * `INSERT OVERWRITE` archives the replaced files so the overwrite is
  * itself time-travelable ([[SnapWriteBuilder]]); DDL is refused — a
  * table IS a directory with committed manifests, created by
  * [[Snapshots.commit]] under the maintenance ops' single-writer lock.
  */
class GraftCatalog
    extends TableCatalog
    with SupportsNamespaces
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog {

  private var catName: String = _
  private var rootDir: String = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catName = name
    rootDir = Option(options.get("root")).getOrElse(
      throw new IllegalArgumentException(
        s"GraftCatalog '$name' needs spark.sql.catalog.$name.root = <base directory of snapshot tables>"))
    SnapLocalScanStrategy.register(spark)
  }

  override def name(): String = catName

  /** The catalog's base directory — the MV DDL commands compose
    * `<root>/<namespace…>/<table>` dirs from identifiers through it.
    */
  def root: String = rootDir

  private def spark: SparkSession = SparkSession.active

  private def dirOf(ident: Identifier): String =
    (rootDir +: ident.namespace().toSeq :+ ident.name()).mkString("/")

  private def isSnapTable(dir: String): Boolean =
    try Snapshots.latestVersion(spark, dir) >= 1L
    catch { case _: Exception => false }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val base = new Path((rootDir +: namespace.toSeq).mkString("/"))
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(base)) throw new NoSuchNamespaceException(namespace)
    fs.listStatus(base)
      .toSeq
      .filter(st => st.isDirectory && !st.getPath.getName.startsWith(".") && !st.getPath.getName.startsWith("_"))
      .filter(st => isSnapTable(st.getPath.toString))
      .map(st => Identifier.of(namespace, st.getPath.getName))
      .toArray
  }

  override def loadTable(ident: Identifier): Table = load(ident, -1L)

  /** `VERSION AS OF n` — pin manifest version n; `VERSION AS OF 'name'` —
    * resolve a branch/tag ref ([[Snapshots.refs]]) to its pinned version.
    */
  override def loadTable(ident: Identifier, version: String): Table =
    scala.util.Try(version.toLong).toOption match {
      case Some(v) =>
        // a non-positive pin must not silently alias "latest" — time travel
        // that quietly reads post-mutation data is worse than an error
        if (v < 1L)
          throw new IllegalArgumentException(
            s"graft snapshot versions start at 1; got $v")
        load(ident, v)
      case None =>
        val dir = dirOf(ident)
        if (!isSnapTable(dir))
          throw new IllegalArgumentException(
            s"named refs pin TABLES — '$version' cannot pin metadata relation ${ident.name()}; " +
              "resolve the ref's version first and pin numerically")
        val v = Snapshots
          .refVersion(spark, dir, version)
          .getOrElse(throw new IllegalArgumentException(
            s"table $dir has no branch/tag ref '$version' — CALL create_ref to pin one"))
        // a WRITABLE branch reads its own line (fork + branch appends); a
        // tag is a plain numeric pin
        if (Snapshots.isBranch(spark, dir, version)) new SnapTable(dir, v, Some(version))
        else load(ident, v)
    }

  /** `TIMESTAMP AS OF t` (micros since epoch) — pin the newest version
    * committed at or before t.
    */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val dir = dirOf(ident)
    if (!isSnapTable(dir)) throw new NoSuchTableException(ident)
    val v = Snapshots
      .manifestVersions(spark, dir)
      .filter { case (_, mtimeMs) => mtimeMs * 1000L <= timestampMicros }
      .map(_._1)
      .sorted
      .lastOption
      .getOrElse(throw new IllegalArgumentException(
        s"table $dir has no snapshot committed at or before timestamp $timestampMicros"))
    load(ident, v)
  }

  private def load(ident: Identifier, version: Long): Table = {
    val dir = dirOf(ident)
    if (!isSnapTable(dir)) {
      // metadata tables, Iceberg-style: `cat.t.snapshots` / `cat.t.files`
      // (the extra name segment rides in as the identifier's last
      // namespace element being the table dir)
      metaTableOf(ident, version).getOrElse(throw new NoSuchTableException(ident))
    } else {
      val pinned = if (version > 0L) version else Snapshots.latestVersion(spark, dir)
      if (version > 0L && !Snapshots.manifestVersions(spark, dir).exists(_._1 == version))
        throw new IllegalArgumentException(
          s"table $dir has no manifest version $version (vacuumed or never committed)")
      new SnapTable(dir, pinned)
    }
  }

  /** `SELECT * FROM cat.t.snapshots` — per-version commit history (files /
    * rows / bytes per manifest); `… FROM cat.t.files` — the pinned file
    * list with per-file rows/bytes/archive state (`VERSION AS OF` pins a
    * historical list). The operational introspection a lakehouse exposes,
    * answered from manifests on the driver — no data I/O.
    */
  private def metaTableOf(ident: Identifier, version: Long): Option[Table] = {
    if (ident.namespace().isEmpty) return None
    val tableDir = (rootDir +: ident.namespace().toSeq).mkString("/")
    if (!isSnapTable(tableDir)) return None
    ident.name() match {
      case "snapshots" => Some(new SnapMetaTable(tableDir, version, "snapshots"))
      case "files" => Some(new SnapMetaTable(tableDir, version, "files"))
      case "partitions" => Some(new SnapMetaTable(tableDir, version, "partitions"))
      case "dvs" => Some(new SnapMetaTable(tableDir, version, "dvs"))
      case "refs" => Some(new SnapMetaTable(tableDir, version, "refs"))
      case "ndv" => Some(new SnapMetaTable(tableDir, version, "ndv"))
      // `checks` and `mv` read ALWAYS-CURRENT metadata files (the check
      // set, the view definition) that are not versioned by the manifest
      // line — a version pin would silently show the CURRENT state as if
      // it were historical (misleading for enforcement audits), so it
      // refuses loudly, unlike the sibling kinds that pin exactly
      case "checks" | "mv" =>
        if (version > 0L)
          throw new IllegalArgumentException(
            s"metadata relation ${ident.name()} on $tableDir is always-current (the check set / " +
              "view definition is not versioned by the manifest line) — a VERSION AS OF pin " +
              "would misleadingly present current state as historical; drop the pin")
        Some(new SnapMetaTable(tableDir, version, ident.name()))
      case "changes" => Some(new SnapChangesTable(tableDir, version))
      case _ => None
    }
  }

  private def readOnly(): Nothing =
    throw new UnsupportedOperationException(
      "GraftCatalog supports CREATE TABLE / CTAS / ALTER TABLE ADD|DROP|ALTER COLUMN and SQL " +
        "DML, but not this operation: a table IS a directory with committed manifests — " +
        "dropping or renaming one is a filesystem decision, not a catalog call")

  /** `CREATE TABLE cat.ns.t (…) [PARTITIONED BY (c, …)] [TBLPROPERTIES
    * ('stats_cols'='a,b', 'bloom_cols'='a')]` — an empty snapshot table:
    * directory + v1 manifest recording the declared schema, hive layout
    * and stats/bloom discipline ([[Snapshots.createTable]]), so the first
    * INSERT (CTAS included — Spark drives it as create-then-append)
    * already writes the right layout under the right discipline. Only
    * identity partition transforms map to hive dirs; bucket/temporal
    * transforms refuse.
    */
  override def createTable(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val partCols = partitions.toSeq.map { t =>
      if (t.name != "identity" || t.references().length != 1 ||
        t.references()(0).fieldNames().length != 1)
        throw new UnsupportedOperationException(
          s"snapshot tables partition by hive directories — only identity transforms on " +
            s"top-level columns are supported, got $t")
      t.references()(0).fieldNames()(0)
    }
    def propCols(key: String): Seq[String] =
      Option(properties.get(key)).toSeq.flatMap(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
    val dir = dirOf(ident)
    Snapshots.createTable(
      spark,
      dir,
      schema,
      partCols,
      // the partition column is the default stats column: day-pruned scans
      // and metadata COUNT(*) work out of the box on partitioned tables
      if (propCols("stats_cols").nonEmpty) propCols("stats_cols") else partCols,
      propCols("bloom_cols"))
    new SnapTable(dir, 1L)
  }

  /** `ALTER TABLE cat.t ADD COLUMNS (…)` / `DROP COLUMN c` / `ALTER
    * COLUMN c TYPE t` — metadata-only schema evolution on the manifest's
    * declared schema ([[Snapshots.addColumns]] / [[Snapshots.dropColumn]]
    * / [[Snapshots.widenColumn]]): each change commits a new version, so
    * evolution itself is time-travelable — `VERSION AS OF` a pre-ALTER
    * version reads the pre-ALTER schema. RENAME refuses: by-name storage
    * would silently turn it into drop+add.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val dir = dirOf(ident)
    if (!isSnapTable(dir)) throw new NoSuchTableException(ident)
    // translate EVERY change before applying ANY: the whole statement
    // lands as one atomic [[Snapshots.alterSchema]] commit, so a failing
    // later change (name collision, unsupported shape) can never leave
    // earlier changes durably applied by a statement that reported failure
    val ops: Seq[Snapshots.DdlChange] = changes.toSeq.map {
      case ac: TableChange.AddColumn =>
        if (ac.fieldNames().length != 1)
          throw new UnsupportedOperationException(
            s"nested column additions are not supported: ${ac.fieldNames().mkString(".")}")
        if (ac.position() != null)
          throw new UnsupportedOperationException(
            "added columns append at the end of the schema — FIRST/AFTER positions are not supported")
        if (!ac.isNullable)
          throw new UnsupportedOperationException(
            s"added column '${ac.fieldNames()(0)}' must be nullable — existing rows have no value")
        Snapshots.DdlChange.AddCols(
          Seq(StructField(ac.fieldNames()(0), ac.dataType(), nullable = true)))
      case dc: TableChange.DeleteColumn =>
        if (dc.fieldNames().length != 1)
          throw new UnsupportedOperationException(
            s"nested column drops are not supported: ${dc.fieldNames().mkString(".")}")
        Snapshots.DdlChange.Drop(dc.fieldNames()(0))
      case ut: TableChange.UpdateColumnType =>
        if (ut.fieldNames().length != 1)
          throw new UnsupportedOperationException(
            s"nested column type changes are not supported: ${ut.fieldNames().mkString(".")}")
        Snapshots.DdlChange.Widen(ut.fieldNames()(0), ut.newDataType())
      case rc: TableChange.RenameColumn =>
        throw new UnsupportedOperationException(
          s"RENAME COLUMN '${rc.fieldNames().mkString(".")}' refused: snapshot files store " +
            "columns BY NAME, so a rename would silently read as drop+add (old rows all-NULL); " +
            "add a new column and backfill with UPDATE instead")
      case other =>
        throw new UnsupportedOperationException(s"unsupported ALTER TABLE change: $other")
    }
    Snapshots.alterSchema(spark, dir, ops)
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = readOnly()
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = readOnly()

  // -- namespaces: directories under root that are not themselves tables --

  override def listNamespaces(): Array[Array[String]] = listNamespaces(Array.empty)

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    val base = new Path((rootDir +: namespace.toSeq).mkString("/"))
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(base)) throw new NoSuchNamespaceException(namespace)
    fs.listStatus(base)
      .toSeq
      .filter(st => st.isDirectory && !st.getPath.getName.startsWith(".") && !st.getPath.getName.startsWith("_"))
      .filterNot(st => isSnapTable(st.getPath.toString))
      .map(st => namespace :+ st.getPath.getName)
      .toArray
  }

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    val base = new Path((rootDir +: namespace.toSeq).mkString("/"))
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (namespace.nonEmpty && !fs.exists(base)) throw new NoSuchNamespaceException(namespace)
    util.Collections.emptyMap()
  }

  /** `CREATE NAMESPACE cat.ns` — a namespace IS a directory under root. */
  override def createNamespace(namespace: Array[String], metadata: util.Map[String, String]): Unit = {
    val base = new Path((rootDir +: namespace.toSeq).mkString("/"))
    base.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(base)
    ()
  }
  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit = readOnly()
  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = readOnly()

  // -- SQL CALL surface for maintenance ops ([[GraftProcedures]]) --------

  override def loadProcedure(
      ident: Identifier): org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    GraftProcedures
      .load(ident, rootDir)
      .getOrElse(throw new RuntimeException(
        s"catalog $catName has no procedure ${ident.namespace().mkString(".")}.${ident.name()}; " +
          s"available: ${GraftProcedures.all(rootDir).map(_.name).mkString(", ")}"))

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.nonEmpty && namespace.toSeq != Seq("system")) Array.empty
    else GraftProcedures.all(rootDir).map(p => Identifier.of(namespace, p.name)).toArray
}

/** One snapshot table pinned at manifest version `version`. Schema is the
  * manifest-recorded one when present (v2 — evolution-safe pinned reads),
  * else inferred from the pinned file list (v1).
  *
  * Writable through SQL DML via the public [[V1Write]] bridge:
  * `INSERT INTO cat.t …` appends new data files (existing files untouched)
  * and commits the next manifest version with the SAME stats columns the
  * table's latest manifest was committed with — so metadata-only counts
  * and file pruning keep working across SQL appends. `INSERT OVERWRITE`
  * ARCHIVES every live file (pinned readers keep resolving) before
  * writing, preserving the format's time-travel guarantee — an overwrite
  * is just another version, fully restorable. Writes always land on the
  * LIVE table state; the read-side version pin does not scope writes.
  */
object SnapTable {
  /** Metadata column: the source file of each row (absolute URI for live
    * reads — the provenance a debugging `SELECT _file, count(*)` wants).
    */
  val FileMetaCol = "_file"

  /** Metadata column: the row's file-row ordinal (the deletion-vector
    * coordinate). `(_file, _pos)` together are the table's stable row
    * identity: the delta-based row-level operations' rowId, and the
    * provenance pair a `SELECT _file, _pos` debug query reads.
    */
  val PosMetaCol = "_pos"
}

/** `pinned`: a view a programmatic read pins ([[Snapshots.scanRels]]),
  * its rels the exact files to scan. Such a relation plans from the view
  * alone (no header shortcut, no version lookup), resolves each file once,
  * and is a plain scan: no aggregate pushdown (the hybrid aggregate's own
  * read of its DV'd files must not re-enter it) and no MV rewrite.
  */
class SnapTable(
    val dir: String,
    version: Long,
    val branch: Option[String] = None,
    pinned: Option[Snapshots.ManifestView] = None)
    extends Table
    with SupportsRead
    with SupportsWrite
    with SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {

  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = SnapTable.FileMetaCol
        override def dataType(): org.apache.spark.sql.types.DataType = StringType
        override def isNullable: Boolean = false
        override def comment(): String = "source data file of the row"
      },
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = SnapTable.PosMetaCol
        override def dataType(): org.apache.spark.sql.types.DataType =
          org.apache.spark.sql.types.LongType
        override def isNullable: Boolean = false
        override def comment(): String =
          "file-row ordinal of the row (the deletion-vector coordinate)"
      })

  private def spark: SparkSession = SparkSession.active

  /** The manifest version this relation is pinned at ([[MvRewrite]]'s
    * freshness comparand; `version()` itself is taken by the connector
    * Table trait).
    */
  def pinnedVersion: Long = version

  /** The explicit file list a pinned read scans (None: the catalog's). */
  def pinnedRels: Option[Seq[String]] = pinned.map(_.rels)

  // a pinned read resolves each file once: the reader's `_file` and the
  // DV match scans' rel lookup ([[Snapshots.relOfScanned]]) see one path
  private val resolved = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Where `rel` is read from: live, else archived. */
  def pathOf(rel: String): String =
    if (pinned.isEmpty) Snapshots.resolve(spark, dir, rel).toString
    else resolved.computeIfAbsent(rel, r => Snapshots.resolve(spark, dir, r).toString)

  override def name(): String =
    branch match {
      case Some(b) => s"graft-snapshot:$dir@branch:$b"
      case None => s"graft-snapshot:$dir@v$version"
    }

  // Schema/layout resolve from the manifest HEADER alone (one buffered
  // read that stops at the first body line — O(header) at any table
  // size); the FULL view parses lazily, only when a decision genuinely
  // needs the file list (pre-#partcanon manifests, unindexed pruning,
  // row-level ops). On a million-file table this is what lets a cold
  // partition-pruned plan never read the full list at all.
  // one version resolution per table load: header, full view and the
  // scan builder's pruned reads all pin the SAME version even when the
  // load asked for "latest" and commits land concurrently
  private lazy val resolvedVersion: Long =
    pinned.map(_.version).getOrElse(
      if (version > 0) version else Snapshots.latestVersion(spark, dir))

  // a BRANCH read resolves through the branch's own manifest line: no
  // main-line header shortcut (the cold-planning path indexes main
  // manifests), the view is fork + branch deltas
  private lazy val header: Option[Snapshots.HeaderView] =
    if (branch.isDefined || pinned.isDefined) None
    else Snapshots.headerView(spark, dir, resolvedVersion)

  private lazy val view: Snapshots.ManifestView =
    pinned.getOrElse(branch match {
      case Some(b) => Snapshots.branchView(spark, dir, b)
      case None => Snapshots.manifestView(spark, dir, resolvedVersion)
    })

  private lazy val tableSchema: StructType =
    header
      .flatMap(_.schema)
      .getOrElse(view.schema.getOrElse(Snapshots.inferredSchema(spark, dir, view.rels, pathOf)))

  override def schema(): StructType = tableSchema

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(
      TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.V1_BATCH_WRITE,
      TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER,
      // dynamic overwrite has NO V1 fallback in Spark: it runs as a true
      // DSv2 batch write ([[SnapDynamicOverwriteWrite]]), so the table
      // declares plain BATCH_WRITE too (append/static-overwrite keep the
      // V1 path — build() returns a V1Write for them)
      TableCapability.BATCH_WRITE,
      TableCapability.OVERWRITE_DYNAMIC)

  /** The hive layout as DSv2 identity transforms — what lets the analyzer
    * accept `INSERT OVERWRITE … PARTITION (day = X)` and dynamic
    * partition overwrite against this table (declared layout wins;
    * adopted tables derive it from their file paths).
    */
  override def partitioning(): Array[org.apache.spark.sql.connector.expressions.Transform] = {
    // declared layout wins; adopted tables use the commit-recorded
    // effective layout (`#pathcols`), and only pre-#pathcols manifests
    // still pay the full-list derivation
    val cols = header
      .flatMap(h => if (h.partCols.nonEmpty) Some(h.partCols) else h.pathCols)
      .getOrElse(view.layout)
    cols.map(c => org.apache.spark.sql.connector.expressions.Expressions.identity(c)).toArray
  }

  override def properties(): util.Map[String, String] =
    Map("format" -> "graft-snapshot", "location" -> dir, "version" -> version.toString).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new SnapScanBuilder(dir, view, tableSchema, options.asScala.toMap, header, resolvedVersion) {
      override protected def pathOf(rel: String): String = SnapTable.this.pathOf(rel)
      override protected def allowAggregates: Boolean = pinned.isEmpty
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new SnapWriteBuilder(dir, info)

  /** SQL `UPDATE` / `MERGE INTO` (and un-pushable DELETEs) —
    * merge-on-read through [[SnapDeltaRowLevelOperation]]: the
    * operation's scan prunes to the files that can hold matches (manifest
    * stats + blooms), matched rows' positions become deletion vectors and
    * new row images land as appended files, all in one atomic commit.
    * Hive-partitioned tables work too: inserted rows route to partition
    * directories by their own values.
    */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    requireRecordedSchema(info.command.toString, view)
    () => new SnapDeltaRowLevelOperation(dir, view, tableSchema, info.command)
  }

  /** `DELETE FROM cat.t WHERE …` with a predicate our filter translation
    * can re-express (Spark plans the row-level operation above for the
    * rest). A partition-exact predicate — WHERE-less, SQL TRUNCATE, or
    * only partition-exact filters on hive partition columns over a
    * canonical layout ([[SnapFilters.partitionExactFiles]]) — ARCHIVES
    * the matched files in one metadata commit: no scan, no vector, and
    * the pre-delete state stays pinned and restorable. Any other
    * predicate is a merge-on-read delete
    * ([[graft.sources.DeleteVectors.deleteWhere]]): matched positions
    * become deletion vectors, no data file is rewritten until its deleted
    * fraction passes the bound. Either way the commit inherits the
    * table's stats discipline, so metadata-only COUNT(*) and stats
    * pruning keep working. `canDeleteWhere` accepts exactly the
    * translatable predicates; Spark re-checks this before planning, so an
    * untranslatable WHERE takes the row-level operation instead of
    * silently deleting the wrong rows.
    */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(f => SnapFilters.toColumn(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit =
    Snapshots.withTableLock(spark, dir) {
      val latest = Snapshots.manifestView(spark, dir)
      requireRecordedSchema("DELETE", latest)
      val partCols = latest.layout
      SnapFilters.partitionExactFiles(latest.rels, partCols, latest.schema.get, filters.toSeq) match {
        case Right(matched) if matched.nonEmpty =>
          val rootPath = new Path(dir)
          val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
          DataFiles.swap(fs, rootPath, matched, Seq.empty)(
            Snapshots.commitRestated(spark, dir, Map.empty, removedRels = matched))
        case Right(_) => () // nothing matched: no commit
        case Left(_) => // some filter is not partition-exact, so there is at least one
          val pred = filters
            .map(f =>
              SnapFilters
                .toColumn(f)
                .getOrElse(throw new UnsupportedOperationException(
                  s"cannot translate delete predicate $f — canDeleteWhere should have refused it")))
            .reduce(_ && _)
          graft.sources.DeleteVectors.deleteWhere(spark, dir, pred)
      }
      ()
    }

  /** SQL DML runs merge-on-read, which needs the table schema the
    * manifest records: a v1 manifest (committed without stats columns)
    * refuses, naming the upgrade.
    */
  private def requireRecordedSchema(cmd: String, v: Snapshots.ManifestView): Unit =
    if (v.schema.isEmpty)
      throw new UnsupportedOperationException(
        s"SQL $cmd on $dir needs a manifest that records the table schema; this table's " +
          "manifest predates it — upgrade with Snapshots.commit(spark, root, statsCols)")
}

/** A snapshot table's metadata relation (`snapshots` or `files`),
  * computed from manifests alone on the driver — zero data-file I/O.
  *
  *  - `snapshots`: one row per committed version — `(version,
  *    committed_at, n_files, n_rows, n_bytes)`; `n_rows` is null for
  *    versions whose manifest predates row-count stats, `n_bytes` null
  *    when a file was vacuumed away.
  *  - `files`: the pinned version's file list — `(rel, rows, bytes,
  *    archived)`; `VERSION AS OF n` pins a historical list, `archived`
  *    says whether maintenance has since moved the file to the archive.
  */
class SnapMetaTable(dir: String, version: Long, kind: String) extends Table with SupportsRead {

  private def spark: SparkSession = SparkSession.active

  override def name(): String = s"graft-snapshot:$dir#$kind"

  private val tableSchema: StructType = kind match {
    case "snapshots" =>
      StructType(Seq(
        StructField("version", LongType, nullable = false),
        StructField("committed_at", TimestampType, nullable = false),
        StructField("n_files", LongType, nullable = false),
        StructField("n_rows", LongType, nullable = true),
        StructField("n_bytes", LongType, nullable = true)))
    case "partitions" =>
      StructType(Seq(
        StructField("partition", StringType, nullable = false),
        StructField("n_files", LongType, nullable = false),
        StructField("n_rows", LongType, nullable = true),
        StructField("n_bytes", LongType, nullable = true)))
    case "dvs" =>
      // per-file deletion-vector state of the pinned version: the MoR-era
      // observability panel (how much is deleted where; what
      // dv_materialize would fold) — manifest-only, zero data I/O
      StructType(Seq(
        StructField("rel", StringType, nullable = false),
        StructField("sidecar", StringType, nullable = false),
        StructField("n_deleted", LongType, nullable = false),
        StructField("n_rows", LongType, nullable = true),
        StructField("fully_deleted", BooleanType, nullable = false)))
    case "refs" =>
      // the table's branch/tag pins: (name, version, kind) — metadata-only;
      // version is the pinned/fork version, kind says tag vs writable branch
      StructType(Seq(
        StructField("name", StringType, nullable = false),
        StructField("version", LongType, nullable = false),
        StructField("kind", StringType, nullable = false)))
    case "ndv" =>
      // per-column approximate COUNT(DISTINCT) of the pinned version from
      // the merged register sidecars — zero data opens at any table size;
      // a column whose sidecars are incomplete is omitted (never a guess)
      StructType(Seq(
        StructField("column", StringType, nullable = false),
        StructField("ndv_estimate", org.apache.spark.sql.types.DoubleType, nullable = false)))
    case "checks" =>
      // the table's CHECK constraints: what every commit enforces.
      // `pending` marks a check whose add-time proof never completed (a
      // crash between publish and scan) — enforced against new data but
      // unproven for old; CALL validate_checks re-proves or drops it
      StructType(Seq(
        StructField("name", StringType, nullable = false),
        StructField("expr", StringType, nullable = false),
        StructField("pending", org.apache.spark.sql.types.BooleanType, nullable = false)))
    case "mv" =>
      // a materialized view's definition + staleness: one row, answering
      // "what does this view compute and is it behind its source?" —
      // `dims` renders the broadcast dimension joins (`root ON f=d@v`;
      // NULL for a single-table view), and `stale` accounts for BOTH a
      // moved fact head and any moved dim head
      StructType(Seq(
        StructField("source", StringType, nullable = false),
        StructField("keys", StringType, nullable = false),
        StructField("aggs", StringType, nullable = false),
        StructField("filter", StringType, nullable = true),
        StructField("dims", StringType, nullable = true),
        StructField("refreshed_version", LongType, nullable = false),
        StructField("source_head", LongType, nullable = false),
        StructField("stale", BooleanType, nullable = false)))
    case _ =>
      StructType(Seq(
        StructField("rel", StringType, nullable = false),
        StructField("rows", LongType, nullable = true),
        StructField("bytes", LongType, nullable = true),
        StructField("archived", BooleanType, nullable = false)))
  }

  override def schema(): StructType = tableSchema

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = () =>
    new SnapMetaScan(dir, version, kind, tableSchema)
}

/** The metadata relation's rows, computed on the driver when Spark plans
  * the scan — a [[LocalScan]], so the answer runs as a local table scan
  * with zero Spark jobs ([[SnapLocalScanStrategy]]).
  */
class SnapMetaScan(dir: String, version: Long, kind: String, schema: StructType) extends LocalScan {

  override def readSchema(): StructType = schema

  override def description(): String = s"GraftSnapMetaScan $dir#$kind (manifest-only)"

  override def rows(): Array[InternalRow] = SnapLocalRows.toInternal(schema, metaRows)

  /** Manifest-recorded byte length when present (zero I/O), else one
    * getFileStatus (pre-LengthKey manifests), None if vacuumed.
    */
  private def bytesOf(
      spark: SparkSession,
      stats: Map[String, Map[String, Snapshots.ColStat]],
      rel: String): Option[Long] =
    stats.get(rel).flatMap(_.get(Snapshots.LengthKey)).map(_.min.toLong).orElse {
      try {
        val p = Snapshots.resolve(spark, dir, rel)
        Some(p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p).getLen)
      } catch { case _: Exception => None } // vacuumed
    }

  private def metaRows: Seq[Row] = {
    val spark = SparkSession.active
    kind match {
      case "snapshots" =>
        // a version pin shows history AS OF that version, not beyond it
        val all = Snapshots.manifestVersions(spark, dir)
        val visible = if (version > 0L) all.filter(_._1 <= version) else all
        visible.map { case (v, mtimeMs) =>
          val mv = Snapshots.manifestView(spark, dir, v)
          // logical rows at the version: deletion vectors subtracted
          val counts = mv.rels.map(r => mv.stats.get(r).flatMap(Snapshots.logicalRowsOf))
          val nRows =
            if (counts.nonEmpty && counts.forall(_.isDefined))
              counts.map(_.get).sum.asInstanceOf[Any]
            else null
          val sizes = mv.rels.map(bytesOf(spark, mv.stats, _))
          val nBytes =
            if (sizes.forall(_.isDefined)) sizes.flatten.sum.asInstanceOf[Any] else null
          Row(v, new java.sql.Timestamp(mtimeMs), mv.rels.size.toLong, nRows, nBytes)
        }
      case "partitions" =>
        // per-partition rollup of the pinned file set: the stats panel a
        // table UI shows, from one manifest read (an unpartitioned table
        // rolls up under the empty partition string)
        val mv = Snapshots.manifestView(spark, dir, version)
        mv.rels
          .groupBy(rel => rel.split("/").dropRight(1).filter(_.contains("=")).mkString("/"))
          .toSeq
          .sortBy(_._1)
          .map { case (part, rels) =>
            val counts = rels.map(r => mv.stats.get(r).flatMap(Snapshots.logicalRowsOf))
            val nRows =
              if (counts.forall(_.isDefined)) counts.map(_.get).sum.asInstanceOf[Any]
              else null
            val sizes = rels.map(bytesOf(spark, mv.stats, _))
            val nBytes =
              if (sizes.forall(_.isDefined)) sizes.flatten.sum.asInstanceOf[Any] else null
            Row(part, rels.size.toLong, nRows, nBytes)
          }
      case "refs" =>
        Snapshots.refs(spark, dir).toSeq.sortBy(_._1).map { case (n, v) =>
          Row(n, v, if (Snapshots.isBranch(spark, dir, n)) "branch" else "tag")
        }
      case "ndv" =>
        val mv = Snapshots.manifestView(spark, dir, version)
        mv.bloomCols.sorted.flatMap { c =>
          ValueIndex.mergedNdvEstimate(spark, dir, mv.rels, c).map(est => Row(c, est))
        }
      case "checks" =>
        val pending = graft.sources.Constraints.pendingChecks(spark, dir).toSet
        graft.sources.Constraints.checks(spark, dir).toSeq.sortBy(_._1).map {
          case (n, e) => Row(n, e, pending.contains(n))
        }
      case "mv" =>
        val d = graft.sources.Mv.definition(spark, dir)
        val head = Snapshots.latestVersion(spark, d.sourceRoot)
        val dimMoved = d.dims.exists(dim =>
          Snapshots.latestVersion(spark, dim.root) != dim.version)
        val dimsStr =
          if (d.dims.isEmpty) null
          else
            d.dims
              .map(dim =>
                s"${dim.root}${if (dim.joinType == "left") " LEFT" else ""} ON " +
                  s"${dim.factCols.zip(dim.dimCols)
                      .map { case (f, c) => s"$f=$c" }.mkString(",")}@v${dim.version}")
              .mkString("; ")
        Seq(Row(
          d.sourceRoot,
          d.keyCols.map(k => d.keyExprs.get(k).fold(k)(e => s"$k=$e")).mkString(","),
          d.aggExprs.mkString("; "),
          d.filterSql.orNull,
          dimsStr,
          d.refreshedVersion,
          head,
          head != d.refreshedVersion || dimMoved))
      case "dvs" =>
        val mv = Snapshots.manifestView(spark, dir, version)
        mv.rels.flatMap { rel =>
          val st = mv.stats.getOrElse(rel, Map.empty[String, Snapshots.ColStat])
          Snapshots.dvOf(st).map { case (sidecar, n) =>
            val rows = st.get(Snapshots.RowCountKey).map(_.min.toLong)
            Row(
              rel,
              sidecar,
              n,
              rows.map(_.asInstanceOf[Any]).orNull,
              rows.contains(n))
          }
        }
      case _ =>
        val mv = Snapshots.manifestView(spark, dir, version)
        val rootPath = new Path(dir)
        val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        mv.rels.map { rel =>
          val nRows = mv.stats
            .get(rel)
            .flatMap(Snapshots.logicalRowsOf)
            .map(_.asInstanceOf[Any])
            .orNull
          val archived = !fs.exists(new Path(rootPath, rel))
          Row(rel, nRows, bytesOf(spark, mv.stats, rel).map(_.asInstanceOf[Any]).orNull, archived)
        }
    }
  }
}

/** External [[Row]]s → the catalyst rows a [[LocalScan]] hands Spark. */
private[snap] object SnapLocalRows {
  def toInternal(schema: StructType, rows: Seq[Row]): Array[InternalRow] = {
    val conv = CatalystTypeConverters.createToCatalystConverter(schema)
    rows.map(r => conv(r).asInstanceOf[InternalRow]).toArray
  }
}

/** Plans a filter/projection over a manifest-only scan ([[SnapAggScan]],
  * [[SnapMetaScan]]) as ONE driver-local table scan, the projection
  * applied to the rows at planning time. Spark's own [[LocalScan]]
  * planning keeps a ProjectExec above the local scan (a pushed
  * aggregate's output is always aliased), and collecting through it
  * launches a Spark job for rows the driver already holds. Registered on
  * the session by [[GraftCatalog.initialize]]; anything it cannot
  * evaluate on the driver falls through to Spark's planning.
  */
private[snap] object SnapLocalScanStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  import org.apache.spark.sql.catalyst.expressions.{And, Expression, Predicate, SubqueryExpression, UnsafeProjection}
  import org.apache.spark.sql.catalyst.planning.PhysicalOperation
  import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
  import org.apache.spark.sql.execution.{LocalTableScanExec, SparkPlan}
  import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation

  private def driverEvaluable(e: Expression): Boolean =
    e.deterministic && !SubqueryExpression.hasSubquery(e)

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PhysicalOperation(project, filters, r: DataSourceV2ScanRelation)
        if (r.scan.isInstanceOf[SnapAggScan] || r.scan.isInstanceOf[SnapMetaScan]) &&
          (project ++ filters).forall(driverEvaluable) =>
      val keep = filters.reduceOption(And).map(Predicate.create(_, r.output))
      val proj = UnsafeProjection.create(project, r.output)
      val rows = r.scan
        .asInstanceOf[LocalScan]
        .rows()
        .iterator
        .filter(row => keep.forall(_.eval(row)))
        .map(row => proj(row).copy(): InternalRow)
        .toVector
      LocalTableScanExec(project.map(_.toAttribute), rows, None) :: Nil
    case _ => Nil
  }

  def register(spark: SparkSession): Unit = synchronized {
    val es = spark.experimental
    if (!es.extraStrategies.contains(this)) es.extraStrategies = es.extraStrategies :+ this
  }
}

/** INSERT INTO / INSERT OVERWRITE for a snapshot table. Both paths end in
  * a [[Snapshots.commit]] under the table lock, so SQL writers obey the
  * same single-writer commit discipline as the maintenance ops; overwrite
  * archives (never deletes) the replaced files, so every pinned manifest
  * stays readable and the overwrite is restorable.
  *
  * Overwrite comes in all three SQL shapes:
  *  - `INSERT OVERWRITE t SELECT …` — truncate-then-append (replace all);
  *  - `INSERT OVERWRITE t PARTITION (day = X) SELECT …` — Spark pushes
  *    the partition spec as filters ([[SupportsOverwrite]]); only the
  *    matching partitions' files archive. Filters must be partition-exact
  *    over a canonically-rendered layout (the consumable-filter gate) —
  *    anything else refuses loudly rather than over- or under-archiving;
  *  - `SET spark.sql.sources.partitionOverwriteMode=dynamic;
  *    INSERT OVERWRITE t SELECT …` — [[SupportsDynamicOverwrite]]: only
  *    the partitions PRESENT IN THE INCOMING DATA are replaced (the
  *    nightly re-materialization op: recompute two days, touch two days).
  */
class SnapWriteBuilder(dir: String, info: LogicalWriteInfo)
    extends WriteBuilder
    with SupportsOverwrite
    with SupportsDynamicOverwrite {

  private var owFilters: Option[Array[Filter]] = None
  private var dynamic = false

  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    owFilters = Some(filters)
    this
  }

  override def overwriteDynamicPartitions(): WriteBuilder = { dynamic = true; this }

  override def build(): Write = if (dynamic) {
    // dynamic partition overwrite: a true DSv2 batch write — tasks route
    // rows to partition dirs, the commit archives exactly the partitions
    // the tasks touched (no V1 fallback exists for this plan shape)
    val view = Snapshots.manifestView(SparkSession.active, dir)
    val partCols = view.layout
    require(
      partCols.nonEmpty,
      s"dynamic partition overwrite on $dir: the table has no partition columns")
    new SnapDynamicOverwriteWrite(dir, info.schema(), partCols)
  } else new V1Write
    with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {

    /** The table's hive layout at write-build time (empty = flat table or
      * no manifest yet). Drives the required CLUSTERED distribution below.
      */
    private lazy val distCols: Seq[String] =
      try {
        val spark = SparkSession.active
        // the header answers the layout in O(header) — a cold-driver
        // INSERT / first streaming epoch must not parse a million-file
        // list just to learn the partition columns; pre-#pathcols
        // manifests fall back to the full (cached) view
        val cols = Snapshots.headerView(spark, dir) match {
          case Some(h) if h.partCols.nonEmpty => h.partCols
          case Some(h) if h.pathCols.isDefined => h.pathCols.get
          case Some(_) => Snapshots.manifestView(spark, dir).layout
          case None if Snapshots.latestVersion(spark, dir) > 0L =>
            // v1 plain-list manifest: derive the layout from the rels
            Snapshots.partitionColsFromRels(Snapshots.manifestView(spark, dir).rels)
          case None => Seq.empty // no manifest yet: flat write
        }
        // only columns the incoming schema actually carries can cluster
        cols.filter(c => info.schema().fieldNames.contains(c))
      } catch {
        // last-resort only: an unreadable manifest here degrades to an
        // unclustered write, whose failure mode (the writer's fan-out
        // backstop) is loud — never silently wrong data
        case _: Exception => Seq.empty
      }

    /** Cluster incoming rows by the table's partition columns — the
      * INSERT path's REBALANCE discipline, DECLARED so Spark applies it
      * inside the STREAMING epoch too ([[DistributionAndOrderingUtils]]
      * plans the exchange for micro-batch writes): each epoch task then
      * sees few distinct partition values, so a year-grain backfill
      * through `toTable` stays under the partitioned writer's open-writer
      * cap (which remains as the loud post-rebalance backstop) and lands
      * ~one file per value per epoch instead of values × tasks. The hash
      * clustering is a deterministic row→task mapping, so the
      * replay-overwrite exactly-once argument is unchanged. On the batch
      * INSERT side the exchange collapses with [[doInsert]]'s own
      * REBALANCE hint (CollapseRepartition) — one shuffle either way.
      */
    override def requiredDistribution(): org.apache.spark.sql.connector.distributions.Distribution =
      if (distCols.isEmpty) org.apache.spark.sql.connector.distributions.Distributions.unspecified()
      else
        org.apache.spark.sql.connector.distributions.Distributions.clustered(
          distCols.map(c =>
            org.apache.spark.sql.connector.expressions.Expressions.identity(c): org.apache.spark.sql.connector.expressions.Expression).toArray)

    /** Sort each task's rows by the partition columns (within-partition
      * sort, planned ABOVE the clustered exchange, so it holds even after
      * AQE coalesces small shuffle partitions into one task — the case
      * where clustering alone still leaves a task holding every value).
      * Contiguity is what the streaming writer needs: it closes a value's
      * file the moment the next value starts, so open-writer memory is
      * O(1) and a backfill's partition-value fan-out is unbounded while
      * each (task, value) still lands exactly one deterministically-named
      * file.
      */
    override def requiredOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] =
      distCols.map { c =>
        org.apache.spark.sql.connector.expressions.Expressions.sort(
          org.apache.spark.sql.connector.expressions.Expressions.identity(c),
          org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)
      }.toArray

    override def toInsertableRelation(): InsertableRelation = new InsertableRelation {
      override def insert(data: DataFrame, ow: Boolean): Unit =
        SnapWriteBuilder.doInsert(
          dir,
          data,
          if (ow && owFilters.isEmpty) Some(Array(AlwaysTrue(): Filter))
          else owFilters)
    }
    // `df.writeStream.toTable("cat.t")`: exactly-once epoch appends into
    // the versioned table (see [[SnapStreamingWrite]]). Complete mode
    // arrives as truncate() — replacing the table every epoch is not this
    // sink's contract; refuse rather than silently append N copies.
    override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
      if (owFilters.isDefined || dynamic)
        throw new UnsupportedOperationException(
          "snapshot streaming sink supports APPEND output mode only — Complete mode would " +
            "re-land the whole result every epoch; aggregate downstream or use foreachBatch " +
            "with INSERT OVERWRITE")
      new SnapStreamingWrite(dir, info.queryId(), info.schema())
    }
  }
}

object SnapWriteBuilder {

  private def doInsert(
      dir: String,
      data: DataFrame,
      owFilters: Option[Array[Filter]]): Unit = {
    val spark = data.sparkSession
    Snapshots.withTableLock(spark, dir) {
      // resolve the table's layout + stats discipline INSIDE the lock: a
      // maintenance commit landing while this writer queued must not leave
      // it writing a stale partition layout or stale stats columns.
      // A TRUNCATED table's latest manifest lists no files — walk back to
      // the newest version that still has a file list, so an INSERT after
      // a WHERE-less DELETE keeps the table's hive layout instead of
      // silently flattening it.
      val latest = Snapshots.manifestView(spark, dir)
      val statsCols = latest.statsCols
      val layoutRels: Seq[String] =
        if (latest.rels.nonEmpty) latest.rels
        else
          Snapshots
            .manifestVersions(spark, dir)
            .map(_._1)
            .sorted(Ordering[Long].reverse)
            .iterator
            .map(v => Snapshots.files(spark, dir, v))
            .find(_.nonEmpty)
            .getOrElse(Seq.empty)
      // the DECLARED layout wins (CREATE TABLE … PARTITIONED BY records
      // it before any file exists); the rel-derived fallback serves
      // tables adopted via Snapshots.commit, which never declared one
      val partCols = Snapshots.layoutOf(latest.partCols, layoutRels)
      // the REPLACED files are archived, not deleted: pinned readers keep
      // resolving, and the pre-overwrite state stays restorable — an
      // overwrite is a new version, not a destruction. Which files count
      // as replaced:
      //  - plain OVERWRITE (AlwaysTrue): everything;
      //  - a pushed partition spec: files whose dir values match every
      //    filter — requires partition-exact filters over canonically-
      //    rendered dirs (over- OR under-archiving corrupts semantics, so
      //    anything weaker refuses);
      // (dynamic mode runs through [[SnapDynamicOverwriteWrite]], the DSv2
      // batch write — the partitions the tasks actually wrote.)
      val replaced: Seq[String] = owFilters match {
        case None => Seq.empty
        case Some(filters) =>
          SnapFilters
            .partitionExactFiles(
              Snapshots.listDataFiles(spark, dir),
              partCols,
              latest.schema.getOrElse(data.schema),
              filters.toSeq)
            .fold(
              reason =>
                throw new UnsupportedOperationException(
                  s"INSERT OVERWRITE on $dir: $reason — only partition-spec overwrites (and full " +
                    "overwrites) over a canonical hive layout are supported; use DELETE + INSERT " +
                    "for row-level replacement"),
              identity)
      }
      // cluster the incoming rows by the hive layout before writing: an
      // arbitrary upstream partitioning would emit tasks×partition-values
      // files per INSERT — the small-files death spiral at 100 TB. The
      // AQE REBALANCE hint targets ~one advisory-sized file per partition
      // value yet still SPLITS a skewed value across files (a plain
      // repartition would serialize a hot day through one task). Without
      // AQE the hint is a no-op and the write is merely what it was.
      val clustered =
        if (partCols.nonEmpty) data.hint("rebalance", partCols.map(col(_)): _*) else data
      // stage, then ONE swap: archive the replaced files, land the staged
      // ones, commit. The INSERT knows exactly which files are its own, so
      // a failure anywhere — a landing rename or a refused commit (a CHECK
      // violation) — restores precisely the pre-op live tree; a
      // listing-diff rollback could misattribute and delete a concurrent
      // lock-free appender's file that landed (or even committed)
      // mid-window, and a rollback that left the replaced files archived
      // would let the next listing commit silently truncate the
      // overwritten partitions.
      val rootPath = new Path(dir)
      val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val stage = DataFiles.stageDir(rootPath)
      try {
        val w = clustered.write.mode("overwrite")
        (if (partCols.nonEmpty) w.partitionBy(partCols: _*) else w).parquet(stage.toString)
        DataFiles.swap(fs, rootPath, replaced, DataFiles.staged(spark, fs, stage))(
          Snapshots.commit(spark, dir, statsCols))
      } finally fs.delete(stage, true)
    }
  }
}

/** Filter translations shared by the scan builder, SQL DELETE, the
  * overwrite writer and the streaming source — one implementation.
  */
private[sources] object SnapFilters {

  /** A pushed value rendered in the manifest-stat string domain
    * ([[Snapshots.ColStat]]): integers as decimal, floating as double,
    * dates as ISO (both hive-path values and footer DATE stats record ISO
    * strings), strings verbatim. Timestamps and other types don't prune —
    * their footer-stat encoding is representation-dependent, and a wrong
    * rendering here would wrongly DROP files.
    */
  def statString(v: Any): Option[String] = v match {
    case null => None
    case b: Byte => Some(b.toString)
    case s: Short => Some(s.toString)
    case i: Int => Some(i.toString)
    case l: Long => Some(l.toString)
    case f: Float => Some(f.toString)
    case d: Double => Some(d.toString)
    case d: java.sql.Date => Some(d.toString)
    case d: java.time.LocalDate => Some(d.toString)
    case s: String => Some(s)
    case _ => None
  }

  /** The filter as a Column, when the translation can express it: the
    * SQL DELETE predicate, and the test for a residual the scan lists as
    * pushed (its reader re-applies it for parquet row-group skipping).
    * Nested fields (dotted names) are left to Spark.
    */
  def toColumn(f: Filter): Option[Column] = {
    def ref(a: String): Option[Column] = if (a.contains(".")) None else Some(col(a))
    f match {
      case EqualTo(a, v) => ref(a).map(_ === lit(v))
      case EqualNullSafe(a, v) => ref(a).map(_ <=> lit(v))
      case GreaterThan(a, v) => ref(a).map(_ > lit(v))
      case GreaterThanOrEqual(a, v) => ref(a).map(_ >= lit(v))
      case LessThan(a, v) => ref(a).map(_ < lit(v))
      case LessThanOrEqual(a, v) => ref(a).map(_ <= lit(v))
      case In(a, vs) => ref(a).map(_.isInCollection(vs.toSeq))
      case IsNull(a) => ref(a).map(_.isNull)
      case IsNotNull(a) => ref(a).map(_.isNotNull)
      case StringStartsWith(a, p) => ref(a).map(_.startsWith(p))
      case StringEndsWith(a, p) => ref(a).map(_.endsWith(p))
      case StringContains(a, p) => ref(a).map(_.contains(p))
      case And(l, r) => for (cl <- toColumn(l); cr <- toColumn(r)) yield cl && cr
      case Or(l, r) => for (cl <- toColumn(l); cr <- toColumn(r)) yield cl || cr
      case Not(c) => toColumn(c).map(!_)
      case AlwaysTrue() => Some(lit(true)) // WHERE-less DELETE / TRUNCATE
      case AlwaysFalse() => Some(lit(false))
      case _ => None
    }
  }

  /** The conjunctive (col, lo, hi) range a filter implies for file-level
    * stats pruning — a SUPERSET of matching rows (strict bounds widen to
    * inclusive; rows are re-filtered downstream, so widening is sound).
    */
  def toRange(f: Filter): Seq[(String, Option[String], Option[String])] = f match {
    case EqualTo(a, v) => statString(v).toSeq.map(s => (a, Some(s), Some(s)))
    case EqualNullSafe(a, v) if v != null => statString(v).toSeq.map(s => (a, Some(s), Some(s)))
    case GreaterThan(a, v) => statString(v).toSeq.map(s => (a, Some(s), None))
    case GreaterThanOrEqual(a, v) => statString(v).toSeq.map(s => (a, Some(s), None))
    case LessThan(a, v) => statString(v).toSeq.map(s => (a, None, Some(s)))
    case LessThanOrEqual(a, v) => statString(v).toSeq.map(s => (a, None, Some(s)))
    case And(l, r) => toRange(l) ++ toRange(r)
    case _ => Seq.empty
  }

  /** One manifest rel's hive segments as `col -> RAW dir value` (sentinel
    * included, still escaped) — parsed once per file, shared by every
    * admission gate and matcher.
    */
  def partSegments(rel: String): Map[String, String] =
    rel
      .split("/")
      .dropRight(1)
      .filter(_.contains("="))
      .map { seg =>
        val Array(k, v) = seg.split("=", 2)
        k -> v
      }
      .toMap

  /** A raw segment value as the TRUE column value: None for the null
    * sentinel, unescaped otherwise.
    */
  def segValue(raw: String): Option[String] =
    if (raw == "__HIVE_DEFAULT_PARTITION__") None else Some(Snapshots.unescapePathName(raw))

  /** One manifest rel's hive `(col, value)` pairs in PATH ORDER, values
    * unescaped with the null sentinel kept verbatim (readers splice it to
    * NULL) — the ONE parser every spliced read path shares (streaming
    * source, v2 batch keys, row-level scan, change feed).
    */
  def partValsOf(rel: String): Array[(String, String)] =
    rel
      .split("/")
      .dropRight(1)
      .filter(_.contains("="))
      .map { seg =>
        val Array(k, raw) = seg.split("=", 2)
        k -> Snapshots.unescapePathName(raw)
      }

  /** Is `raw` (unescaped, non-sentinel) the CANONICAL rendering of a value
    * of type `t`? Exact string equality between a rendered filter value
    * and a dir value means VALUE equality only on canonical forms — a
    * zero-padded `hour=00` dir under an int-typed column renders 0 as
    * "0", and matching strings there would silently drop every file.
    */
  def canonicalValue(raw: String, t: DataType): Boolean = t match {
    // exact parse in the DECLARED type: catches both non-canonical forms
    // ("00", "+5") AND out-of-range values — a dir `uid=9999999999` under
    // an int column splices as NULL on read, so string-matching it as a
    // value would answer null-ness filters wrongly
    case ByteType => scala.util.Try(raw.toByte.toString == raw).getOrElse(false)
    case ShortType => scala.util.Try(raw.toShort.toString == raw).getOrElse(false)
    case IntegerType => scala.util.Try(raw.toInt.toString == raw).getOrElse(false)
    case LongType => scala.util.Try(raw.toLong.toString == raw).getOrElse(false)
    case DateType =>
      scala.util.Try(java.time.LocalDate.parse(raw).toString == raw).getOrElse(false)
    case StringType => true
    case _ => false
  }

  /** Precompiled evaluator for one consumed partition filter: `keep`
    * takes the file's TRUE value for `col` (None = null sentinel) and
    * answers whether EVERY row of such a file satisfies the filter —
    * sound because a hive dir value is the value of every row in it —
    * provided the value is the CANONICAL rendering of its declared type
    * (the admission gate and the stream's per-batch vetting both enforce
    * it, null-ness matchers included: a non-castable dir value splices to
    * NULL rows while its segment is present).
    */
  final case class PartMatcher(col: String, keep: Option[String] => Boolean)

  def partMatcher(f: Filter): Option[PartMatcher] = f match {
    case EqualTo(a, v) => statString(v).map(s => PartMatcher(a, _.contains(s)))
    case EqualNullSafe(a, null) => Some(PartMatcher(a, _.isEmpty))
    case EqualNullSafe(a, v) => statString(v).map(s => PartMatcher(a, _.contains(s)))
    case In(a, vs) if vs.nonEmpty =>
      val rendered = vs.toSeq.map(statString)
      if (rendered.forall(_.isDefined)) {
        val set = rendered.map(_.get).toSet
        Some(PartMatcher(a, _.exists(set.contains)))
      } else None
    case IsNull(a) => Some(PartMatcher(a, _.isEmpty))
    case IsNotNull(a) => Some(PartMatcher(a, _.isDefined))
    case _ => None
  }

  /** The files a partition-exact predicate selects, decided from paths
    * alone — what `INSERT OVERWRITE … PARTITION` archives before writing
    * and what a partition-exact SQL DELETE archives without a scan. Every
    * filter must be [[AlwaysTrue]] or have a [[partMatcher]] on a
    * partition column, and every file must carry that column's segment
    * rendered canonically in its declared type: then a dir value is the
    * value of every row in the file and the selection is exact. Left
    * names why it is not.
    */
  def partitionExactFiles(
      rels: Seq[String],
      partCols: Seq[String],
      schema: StructType,
      filters: Seq[Filter]): Either[String, Seq[String]] = {
    val conds = filters.filterNot(_.isInstanceOf[AlwaysTrue])
    conds.find(partMatcher(_).isEmpty) match {
      case Some(f) => Left(s"filter $f is not a partition-exact predicate")
      case None =>
        val matchers = conds.flatMap(partMatcher)
        val layoutProblem = matchers.map(_.col).distinct.iterator.flatMap { c =>
          if (!partCols.contains(c)) Iterator(s"'$c' is not a partition column")
          else {
            val declared = schema.fields.find(_.name == c).map(_.dataType).getOrElse(StringType)
            rels.iterator.flatMap { rel =>
              partSegments(rel).get(c) match {
                case None =>
                  Some(s"file $rel lacks a '$c=' segment — a mixed layout has no exact partition match")
                case Some(raw) =>
                  segValue(raw).filterNot(canonicalValue(_, declared)).map { v =>
                    s"'$c=$v' in $rel is not the canonical rendering of its declared type — " +
                      "partition matching would be unsound"
                  }
              }
            }
          }
        }
        layoutProblem.nextOption().toLeft(rels.filter { rel =>
          val segs = partSegments(rel)
          matchers.forall(m => m.keep(segs.get(m.col).flatMap(segValue)))
        })
    }
  }
}

/** Pushdown surface of a snapshot scan. Filters prune the manifest's file
  * list (manifest stats, zero I/O) and re-apply both inside the inner
  * parquet scan and as Spark-side residuals; a filter-free COUNT(*) is
  * answered entirely from the manifest's recorded row counts. All
  * planning works off the ONE [[Snapshots.ManifestView]] the table
  * loaded — no further manifest I/O here.
  */
class SnapScanBuilder(
    dir: String,
    viewThunk: => Snapshots.ManifestView,
    tableSchema: StructType,
    options: Map[String, String] = Map.empty,
    header: Option[Snapshots.HeaderView] = None,
    pinnedVersion: Long = -1L)
    extends ScanBuilder
    with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates {

  /** The FULL manifest view — forced lazily, so a plan the header +
    * partition index can answer never parses the file list at all.
    */
  private lazy val view: Snapshots.ManifestView = viewThunk

  private var required: StructType = tableSchema
  private val translated = mutable.ArrayBuffer.empty[Filter]
  private val consumed = mutable.ArrayBuffer.empty[Filter]
  private val pruneRanges = mutable.ArrayBuffer.empty[(String, Option[String], Option[String])]
  private var pushedAgg: Option[(Seq[(String, DataType)], Seq[SnapAggScan.Field])] = None

  private lazy val pathCols: Seq[String] =
    header.flatMap(_.pathCols).getOrElse(view.layout)

  /** Whether this builder may consume partition-exact filters at all —
    * the row-level operation path overrides to false (Spark re-applies
    * the operation's condition row-level, so every filter stays residual).
    */
  protected def allowConsumption: Boolean = true

  /** Whether aggregates may push to the manifest — a pinned file-list
    * read ([[SnapTable]]'s `pinned`) is a plain scan.
    */
  protected def allowAggregates: Boolean = true

  /** Where the scan reads `rel` from: live, else archived. */
  protected def pathOf(rel: String): String =
    Snapshots.resolve(SparkSession.active, dir, rel).toString

  /** Can the source CONSUME a filter on `c` — answer it exactly from the
    * file list, no row-level re-check? Requires `c` to be a hive path
    * column of EVERY pinned file (a dir value is the value of every row
    * in the file), with a declared type whose canonical rendering makes
    * exact string equality mean value equality (int family, DATE,
    * STRING; float/double renderings are ambiguous and stay residual),
    * AND every pinned file's dir value to actually BE canonical — an
    * adopted `hour=00` layout under an int column must stay residual, or
    * `WHERE hour = 0` (rendered "0") would silently match nothing.
    * Cached per column: the rel sweep is O(files) and Spark pushes
    * several filters per column (IsNotNull rides along with equality).
    */
  private val consumableColCache = mutable.Map.empty[String, Boolean]
  private def consumableCol(c: String): Boolean =
    consumableColCache.getOrElseUpdate(
      c, {
        !c.contains(".") && pathCols.contains(c) &&
        (header.flatMap(_.partCanon) match {
          // the commit RECORDED the canonical sweep's result — a cold
          // planner decides consumption from the header alone, no file
          // list. The recorded set was computed against the same declared
          // types this schema carries (widenings render identically).
          case Some(canon) =>
            canon.contains(c) &&
            tableSchema.fields.find(_.name == c).map(_.dataType).exists {
              case ByteType | ShortType | IntegerType | LongType | DateType | StringType => true
              case _ => false
            }
          case None =>
            // pre-#partcanon manifests: run the SAME sweep the commit
            // would have recorded — one shared implementation, so the
            // recorded-set and swept-set semantics can never drift.
            // (Canonical is required even for null-ness matchers: a
            // non-castable dir value under int splices to NULL rows while
            // its segment is present.)
            Snapshots.canonicalPathCols(view.rels, Seq(c), Some(tableSchema)).nonEmpty
        })
      })

  private def isConsumable(f: Filter): Boolean =
    allowConsumption &&
    SnapFilters.partMatcher(f).exists(m => consumableCol(m.col))

  /** Partition-exact filters are CONSUMED (not returned as residuals):
    * file-level pruning implements them completely, so Spark plans no
    * post-scan Filter — which is what lets an aggregate WITH a partition
    * predicate still push to the manifest (`SELECT count(*) … WHERE day =
    * X` stays zero-file-open). Everything else stays residual: stats
    * pruning and the inner re-push only ever SKIP work.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (consume, residual) = filters.partition(isConsumable)
    consumed ++= consume
    residual.foreach { f =>
      val ranges = SnapFilters.toRange(f)
      val inner = SnapFilters.toColumn(f)
      if (ranges.nonEmpty || inner.isDefined) translated += f
      pruneRanges ++= ranges
    }
    residual
  }

  override def pushedFilters(): Array[Filter] = (translated ++ consumed).toArray

  /** The manifest view PLANNING works from, with the version's true total
    * file count: when partition filters were consumed and the bottom
    * checkpoint carries a partition index, only the selected directories'
    * byte ranges parse — a cold one-partition plan against a million-file
    * table reads KBs — and the recorded `#nfiles` still reports exact
    * `kept/total`. Any missing piece (no header, no index, no recorded
    * total, no consumed filter) falls back to the full view; the final
    * kept set is IDENTICAL either way (dir-level selection is exactly the
    * consumed matchers' semantics, and every later per-file decision sees
    * the same surviving entries).
    */
  private lazy val planViewAndTotal: (Snapshots.ManifestView, Long) = {
    // engage when some pushed predicate can exclude whole directories:
    // consumed partition-exact filters, or value RANGES naming a path
    // column (the day-window dashboard shape) — range selection at group
    // level is the same superset test the per-file stats pruning refines
    val ranges = pruneRanges.toSeq.map { case (c, lo, hi) => (c, lo.orNull, hi.orNull) }
    // the recorded layout only — the pathCols fallback would force the
    // full view, which is the cost this path exists to avoid
    val recordedLayout = header.flatMap(_.pathCols).getOrElse(Seq.empty)
    val engage = header.isDefined && pinnedVersion > 0 &&
      (consumed.nonEmpty || ranges.exists(r => recordedLayout.contains(r._1)))
    val pruned =
      if (!engage) None
      else {
        val matchers = consumed.toSeq.flatMap(SnapFilters.partMatcher)
        def dirKeep(d: String): Boolean = {
          // partSegments expects a rel (it drops the filename segment)
          val segs = SnapFilters.partSegments(if (d.isEmpty) "f" else s"$d/f")
          matchers.forall(m => m.keep(segs.get(m.col).flatMap(SnapFilters.segValue))) &&
          Snapshots.dirAdmitsRanges(d, ranges)
        }
        Snapshots
          .prunedViewByDir(SparkSession.active, dir, pinnedVersion, dirKeep)
          .filter(_._2 >= 0L) // exact kept/total needs the recorded count
      }
    pruned.getOrElse((view, view.rels.size.toLong))
  }
  private def planView: Snapshots.ManifestView = planViewAndTotal._1
  private def totalFiles: Long = planViewAndTotal._2

  /** [[consumedKept]] minus provably-fully-deleted files — the rel set
    * AGGREGATE pushdown answers over. The filter is load-bearing for
    * grouped COUNT(*): a group whose every file is fully deleted must
    * emit NO row (the empty-group SQL semantics the fallback scan path
    * produces), not a zero row — and excluding such files from the
    * MIN/MAX gates is sound too (their logical rows are zero, they
    * contribute nothing).
    */
  private lazy val aggRels: Seq[String] =
    consumedKept.filterNot(rel =>
      Snapshots.fullyDeleted(planView.stats.getOrElse(rel, Map.empty[String, Snapshots.ColStat])))

  /** The pinned file list narrowed by the consumed partition filters —
    * EXACT by construction, and the base set every later decision
    * (aggregation validity, stats pruning, the scans) works from.
    */
  private lazy val consumedKept: Seq[String] =
    if (consumed.isEmpty) planView.rels
    else {
      val matchers = consumed.toSeq.flatMap(SnapFilters.partMatcher) // total: gate admitted them
      // idempotent on the dir-pruned view — kept stays identical to the
      // full-list filter
      planView.rels.filter { r =>
        val segs = SnapFilters.partSegments(r)
        matchers.forall(m => m.keep(segs.get(m.col).flatMap(SnapFilters.segValue)))
      }
    }

  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema

  /** COUNT(*) / COUNT(col) / MIN / MAX (no grouping, no filters) answered
    * entirely from manifest stats. Only COMPLETE pushdown, and only when
    * every pinned file carries the stat the answer needs — else the scan
    * falls back to reading:
    *
    *  - COUNT(*): every file records a row count (v2 stats commit).
    *  - COUNT(col): every file also records col's exact null count
    *    (`count = Σ rows − nulls`, nulls excluded per SQL semantics).
    *  - MIN/MAX(col): every file either records a value interval of the
    *    type-correct stat domain or is provably all-null (contributes
    *    nothing). Restricted to domains where the recorded interval
    *    endpoints ARE the column's true extremes under Spark's ordering:
    *    integral types (`l`), DATE (ISO strings — lexicographic =
    *    chronological), and ASCII-only strings (UTF-16 and unsigned-byte
    *    orderings agree on ASCII; a non-ASCII endpoint refuses pushdown
    *    rather than risk a wrong answer). Floating point is excluded —
    *    footer stats are NaN-unaware while Spark orders NaN greatest.
    */
  private def aggPlan(
      agg: Aggregation): Option[(Seq[(String, DataType)], Seq[SnapAggScan.Field])] = {
    if (translated.nonEmpty || pruneRanges.nonEmpty) return None
    if (agg.aggregateExpressions.isEmpty) return None
    // consumed partition filters narrowed the file list EXACTLY, so the
    // aggregation is over precisely these files' rows (minus files whose
    // every row is MoR-deleted — they contribute nothing, and a fully-
    // deleted GROUP must emit no row)
    val rels = aggRels

    def stOf(rel: String) = planView.stats.getOrElse(rel, Map.empty[String, Snapshots.ColStat])
    def rowsKnown = rels.forall(r => stOf(r).contains(Snapshots.RowCountKey))
    // a deletion vector makes per-column footer stats UPPER bounds only:
    // the deleted rows' nulls and extremes are unknown. The HYBRID plan:
    // clean files answer COUNT(col)/MIN/MAX from the manifest as before,
    // DV'd files — and ONLY them — are scanned (vectors applied) at
    // execution and folded in ([[SnapAggScan.scanned]]), so a
    // 0.1 %-deleted table answers MIN(x) by opening 0.1 % of its files.
    // COUNT(*) needs no scan at all — the DV commit records the precise
    // deleted count to subtract. The per-file stat gates below therefore
    // apply to CLEAN files only; the DV'd side just needs a recorded
    // schema to scan with (a DV implies a v2 manifest, so this only
    // refuses defensively).
    val cleanRels = rels.filter(r => !Snapshots.hasDv(stOf(r)))
    def dvdScannable = cleanRels.length == rels.length || planView.schema.isDefined
    def nullsKnown(c: String) =
      dvdScannable && cleanRels.forall { r =>
        val st = stOf(r)
        // a KNOWN count, not just the key — 'u' (footer had no num_nulls)
        // can gate the incremental commit but cannot answer COUNT(col)
        Snapshots.nullCountOf(st, c).isDefined && st.contains(Snapshots.RowCountKey)
      }
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case r: NamedReference if r.fieldNames.length == 1 => Some(r.fieldNames()(0))
        case _ => None
      }
    def isAscii(s: String) = s.forall(_ < 0x80)
    def minMaxField(e: org.apache.spark.sql.connector.expressions.Expression, isMin: Boolean) =
      for {
        c <- colOf(e)
        declared <- tableSchema.fields.find(_.name == c).map(_.dataType)
        statTyp <- declared match {
          case ByteType | ShortType | IntegerType | LongType => Some("l")
          case DateType | StringType => Some("s")
          case _ => None
        }
        if dvdScannable
        if cleanRels.forall { r =>
          val st = stOf(r)
          st.get(c) match {
            case Some(cs) =>
              // the null-count key doubles as the post-upgrade watermark:
              // older commits recorded hive values ESCAPED and the null
              // sentinel as a string interval — endpoints from them are
              // not trustworthy extremes, so their manifests (and pins of
              // them) fall back to a real scan
              st.contains(Snapshots.nullCountKey(c)) &&
              cs.typ == statTyp && cs.min != "__HIVE_DEFAULT_PARTITION__" &&
              (declared != StringType || (isAscii(cs.min) && isAscii(cs.max)))
            case None => Snapshots.allNull(st, c) // provably contributes nothing
          }
        }
      } yield
        if (isMin) SnapAggScan.MinF(c, declared) else SnapAggScan.MaxF(c, declared): SnapAggScan.Field

    // GROUP BY: every grouping expression must pass the SAME gate a
    // consumable filter does — a hive path column of EVERY pinned file
    // whose dir value is the CANONICAL rendering of the declared type
    // (int family / DATE / STRING only). Anything weaker double-counts:
    // `hour=0` and `hour=00` are ONE group, and a COMPLETE pushdown is
    // never re-aggregated by Spark; a non-castable dir value (`uid=abc`
    // under int) must refuse here, not throw at execution.
    val groupCols: Option[Seq[(String, DataType)]] = {
      val names = agg.groupByExpressions.toSeq.map(colOf)
      if (names.exists(_.isEmpty)) None
      else {
        val resolved = names.map(_.get).map { c =>
          c -> tableSchema.fields.find(_.name == c).map(_.dataType)
        }
        val ok = resolved.forall { case (c, t) => t.isDefined && consumableCol(c) }
        if (ok) Some(resolved.map { case (c, t) => c -> t.get }) else None
      }
    }
    if (groupCols.isEmpty) return None

    // exact SUM from the per-file sum sidecars (the pooled bloom-pass
    // recording): pushable when the column is INTEGRAL (floating sums are
    // order-sensitive — a fold would not reproduce Spark's result) and
    // every CLEAN file carries a sidecar with known null counts (the
    // SQL NULL-iff-no-non-null rule needs them). DV'd files scan — the
    // hybrid discipline; files predating the sum sidecars fall back to a
    // real scan until CALL ndv_backfill upgrades them. AVG needs no case
    // of its own: Spark rewrites it to SUM/COUNT when complete pushdown
    // of the Avg form is unsupported.
    def sumField(e: org.apache.spark.sql.connector.expressions.Expression) =
      for {
        c <- colOf(e)
        declared <- tableSchema.fields.find(_.name == c).map(_.dataType)
        // integrals AND fixed-scale decimals fold exactly (the sidecar
        // records the unscaled BigInt); floats stay scan-only
        if ValueIndex.isSummable(declared)
        if nullsKnown(c) // implies dvdScannable
        // short-circuits on the first missing sidecar AND memoizes the
        // negative per (table, column) — a pre-feature table must not
        // re-pay O(files) driver probes on every planning pass
        if ValueIndex.allSumsPresent(SparkSession.active, dir, c, cleanRels)
      } yield SnapAggScan.SumF(c, declared): SnapAggScan.Field

    val fields = agg.aggregateExpressions.toSeq.map {
      case _: CountStar if rowsKnown => Some(SnapAggScan.CountStarF: SnapAggScan.Field)
      case cnt: Count if !cnt.isDistinct =>
        colOf(cnt.column).filter(nullsKnown).map(SnapAggScan.CountColF(_): SnapAggScan.Field)
      case m: Min => minMaxField(m.column, isMin = true)
      case m: Max => minMaxField(m.column, isMin = false)
      case s: Sum if !s.isDistinct => sumField(s.column)
      case _ => None
    }
    if (fields.forall(_.isDefined)) Some((groupCols.get, fields.map(_.get))) else None
  }

  override def supportCompletePushDown(aggregation: Aggregation): Boolean =
    allowAggregates && aggPlan(aggregation).isDefined

  override def pushAggregation(aggregation: Aggregation): Boolean =
    allowAggregates && (aggPlan(aggregation) match {
      case Some(plan) => pushedAgg = Some(plan); true
      case None => false
    })

  override def build(): Scan = pushedAgg match {
    case Some((groupCols, fields)) =>
      new SnapAggScan(dir, planView, aggRels, consumed.toSeq, groupCols, fields, totalFiles)
    case None =>
      // equality probes on bloom-indexed columns prune past the stats:
      // an unclustered 100 TB table answers `WHERE user_id = k` from the
      // one or two files whose bloom admits the key, zero footer opens.
      // An IN-list keeps a file iff ANY listed value admits (a value that
      // doesn't render stays "cannot exclude" for the whole file).
      val bloomCols = header.map(_.bloomCols).getOrElse(planView.bloomCols)
      val probes = pruneRanges.collect {
        case (c, Some(lo), Some(hi)) if lo == hi && bloomCols.contains(c) => (c, lo)
      }
      val inProbes = translated.collect {
        case In(a, vs) if bloomCols.contains(a) && vs.nonEmpty &&
            vs.forall(v => SnapFilters.statString(v).isDefined) =>
          (a, vs.toSeq.map(v => SnapFilters.statString(v).get))
      }
      // null-count pruning: a top-level pushed conjunct is a fact about
      // every returned row, so IS NOT NULL (which Spark attaches to most
      // value predicates) skips provably-all-null files, IS NULL skips
      // zero-null files, and any value range skips all-null files even
      // when the column has no min/max interval to test
      val notNullCols = translated.collect { case IsNotNull(a) if !a.contains(".") => a }
      val isNullCols = translated.collect { case IsNull(a) if !a.contains(".") => a }
      // merge-on-read whole-file pruning: a file whose every recorded row
      // is deleted contributes nothing to any scan (aggRels = consumedKept
      // minus fully-deleted)
      val kept =
        if (pruneRanges.isEmpty && inProbes.isEmpty && notNullCols.isEmpty && isNullCols.isEmpty)
          aggRels
        else
          aggRels.filter { rel =>
            val st = planView.stats.getOrElse(rel, Map.empty[String, Snapshots.ColStat])
            pruneRanges.forall { case (c, lo, hi) =>
              // escaped-era string intervals (no null-count watermark)
              // read as no-stat — keep the file rather than trust them
              (!Snapshots.intervalTrusted(st, c) ||
                st.get(c).forall(cs => Snapshots.overlapsRange(cs, lo, hi))) &&
              !Snapshots.allNull(st, c)
            } &&
            notNullCols.forall(c => !Snapshots.allNull(st, c)) &&
            isNullCols.forall(c => Snapshots.nullCountOf(st, c).forall(_ > 0L)) &&
            probes.forall { case (c, v) =>
              ValueIndex.bloomMightContain(SparkSession.active, dir, rel, c, v)
            } &&
            inProbes.forall { case (c, vs) =>
              vs.exists(v => ValueIndex.bloomMightContain(SparkSession.active, dir, rel, c, v))
            }
          }
      // consumed filters ride along for display only: they were already
      // file-exact, and the reader drops filters on spliced path columns
      new SnapV2BatchScan(
        dir,
        planView,
        totalFiles,
        tableSchema,
        required,
        kept,
        (translated ++ consumed).toSeq,
        options,
        consumed.toSeq,
        pathOf)
  }
}

/** Manifest-derived statistics of the batch scan: byte sizes from the
  * recorded per-file lengths (zero I/O; one getFileStatus RPC per file
  * only for pre-LengthKey manifests), row counts when every kept file
  * records one — what lets join planning broadcast a small snapshot
  * table without a hint.
  */
private[snap] object SnapScanStats {
  def of(
      spark: SparkSession,
      dir: String,
      keptRels: Seq[String],
      stats: Map[String, Map[String, Snapshots.ColStat]],
      ndvCols: Seq[String] = Seq.empty): Statistics = new Statistics {

    /** Per-column NDV from the manifest's register sidecars, merged over
      * exactly the KEPT files — what CBO join-size estimation asks a DSv2
      * scan for. `ndvCols` is the PLAN-PINNED view's bloom/NDV discipline
      * (not the latest version's — a time-travel scan reports the columns
      * its own version declared, and no redundant manifest re-read per
      * stats call). Lazy: computed only when Spark requests column stats;
      * absent sidecars report no entry (never a guess). Deletion vectors
      * make these upper estimates — the safe direction for sizing.
      */
    override def columnStats(): util.Map[
      org.apache.spark.sql.connector.expressions.NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
      val out = new util.HashMap[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
      ndvCols.foreach { c =>
        ValueIndex.mergedNdvEstimate(spark, dir, keptRels, c).foreach { est =>
          val n = math.max(0L, math.round(est))
          out.put(
            org.apache.spark.sql.connector.expressions.Expressions.column(c),
            new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
              override def distinctCount(): util.OptionalLong = util.OptionalLong.of(n)
            })
        }
      }
      out
    }

    override def sizeInBytes(): util.OptionalLong = {
      val recorded = keptRels.map(r => stats.get(r).flatMap(_.get(Snapshots.LengthKey)))
      if (recorded.forall(_.isDefined))
        util.OptionalLong.of(math.max(recorded.map(_.get.min.toLong).sum, 1L))
      else {
        try {
          val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
          val total =
            keptRels.map(rel => fs.getFileStatus(Snapshots.resolve(spark, dir, rel)).getLen).sum
          util.OptionalLong.of(math.max(total, 1L))
        } catch { case _: Exception => util.OptionalLong.empty() }
      }
    }
    override def numRows(): util.OptionalLong = {
      // logical rows (deletion vectors subtracted) — what join planning
      // should size broadcasts by
      val counts =
        keptRels.map(r => stats.get(r).flatMap(st => Snapshots.logicalRowsOf(st)))
      if (counts.forall(_.isDefined)) util.OptionalLong.of(counts.map(_.get).sum)
      else util.OptionalLong.empty()
    }
  }
}

/** Complete-pushdown aggregate scan: one partition, one row, straight
  * from the manifest — COUNT(*) from recorded per-file row counts,
  * COUNT(col) from row minus null counts, MIN/MAX folded over the
  * recorded per-file value intervals (provably-all-null files contribute
  * nothing). The scan never lists, opens, or reads a data file; at 100 TB
  * these aggregates cost one manifest read no matter the table size.
  * [[SnapScanBuilder.aggPlan]] is the gatekeeper — a field only reaches
  * here when every pinned file carries the stat that makes it exact.
  */
class SnapAggScan(
    dir: String,
    view: Snapshots.ManifestView,
    rels: Seq[String],
    consumedFilters: Seq[Filter],
    groupCols: Seq[(String, DataType)],
    fields: Seq[SnapAggScan.Field],
    /** The version's FULL live-file count (the view may be dir-pruned). */
    totalFiles: Long = -1L)
    extends LocalScan {

  import SnapAggScan._

  override def readSchema(): StructType =
    StructType(
      groupCols.zipWithIndex.map { case ((_, t), i) =>
        // nullable: the hive null-partition sentinel is a legal group
        StructField(s"group_$i", t, nullable = true)
      } ++
        fields.zipWithIndex.map {
          case (CountStarF, i) => StructField(s"agg_$i", LongType, nullable = false)
          case (CountColF(_), i) => StructField(s"agg_$i", LongType, nullable = false)
          case (MinF(_, t), i) => StructField(s"agg_$i", t, nullable = true)
          case (MaxF(_, t), i) => StructField(s"agg_$i", t, nullable = true)
          // Spark's Sum answers BIGINT for integrals, DECIMAL(min(38,
          // p+10), s) for decimals — the pushed slot must match exactly
          case (SumF(_, t), i) => StructField(s"agg_$i", sumResultType(t), nullable = true)
        })

  private def stOf(rel: String) = view.stats.getOrElse(rel, Map.empty[String, Snapshots.ColStat])

  /** Group key of one file: its TRUE hive path value (unescaped; None =
    * null sentinel) per grouping column, in group order. Keyed on the
    * UNESCAPED value, not the raw segment: two escapings of one string
    * (`a%3Ab` vs `a%3ab`) are ONE group, and a COMPLETE pushdown is never
    * re-aggregated by Spark. The planner ([[SnapScanBuilder.aggPlan]] via
    * `consumableCol`) verified every file carries every grouping segment
    * in the declared type's canonical rendering.
    */
  private def groupKeyOf(rel: String): Seq[Option[String]] = {
    val byName = SnapFilters.partSegments(rel)
    groupCols.map { case (c, _) => SnapFilters.segValue(byName(c)) }
  }

  /** Which of the scan's files carry a deletion vector (fully-deleted
    * files were already dropped upstream): the HYBRID split — clean files
    * answer from the manifest, these are scanned with their vectors
    * applied and folded in. COUNT(*)-only plans never scan (the recorded
    * deleted counts subtract exactly).
    */
  private lazy val dvdRels: Seq[String] = rels.filter(r => Snapshots.hasDv(stOf(r)))

  private def needsScan: Boolean =
    dvdRels.nonEmpty && fields.exists {
      case CountStarF => false
      case _ => true
    }

  /** The DV'd files' exact per-group contributions, from ONE Spark job
    * over ONLY those files (a pinned [[Snapshots.scanRels]] read: the
    * reader subtracts each file's vector, and the plain scan never pushes
    * this aggregate back here). Group keys come back as the partition
    * columns' canonical string renderings — the planner's `consumableCol` gate guarantees
    * every file path value IS that rendering, so the keys align with
    * [[groupKeyOf]] exactly. O(groups) driver memory, never O(rows).
    */
  private lazy val scanned: Map[Seq[Option[String]], Array[Any]] =
    if (!needsScan) Map.empty
    else {
      require(view.schema.isDefined, s"hybrid aggregate pushdown on $dir needs a recorded schema")
      val df = Snapshots.scanRels(SparkSession.active, dir, view, dvdRels)
      import org.apache.spark.sql.functions.{col, count, lit, max => smax, min => smin, sum => ssum}
      val aggCols = fields.zipWithIndex.map {
        // COUNT(*) folds from the manifest, never from here — a constant
        // keeps the output slot aligned without per-row work
        case (CountStarF, i) => smax(lit(0L)).as(s"a_$i")
        case (CountColF(c), i) => count(col(c)).as(s"a_$i")
        case (MinF(c, _), i) => smin(col(c)).as(s"a_$i")
        case (MaxF(c, _), i) => smax(col(c)).as(s"a_$i")
        case (SumF(c, _), i) => ssum(col(c)).as(s"a_$i")
      }
      val keyCols = groupCols.zipWithIndex.map { case ((c, _), i) =>
        col(c).cast("string").as(s"k_$i")
      }
      val out =
        if (keyCols.isEmpty) df.agg(aggCols.head, aggCols.tail: _*).collect()
        else df.groupBy(keyCols: _*).agg(aggCols.head, aggCols.tail: _*).collect()
      out.map { row =>
        val key = groupCols.indices.map(i => Option(row.getAs[String](s"k_$i")))
        key -> fields.indices.map(i => row.get(row.fieldIndex(s"a_$i"))).toArray
      }.toMap
    }

  /** The answer rows: one row ungrouped, one row per distinct partition-
    * value tuple grouped — clean files folded from the manifest view
    * alone, DV'd files from [[scanned]].
    */
  private lazy val answer: Seq[Seq[Any]] =
    if (groupCols.isEmpty) Seq(aggRow(Seq.empty, rels))
    else
      rels.groupBy(groupKeyOf).toSeq.map { case (key, group) =>
        val keyVals = key.zip(groupCols).map { case (v, (_, t)) =>
          v.map(external(_, t)).orNull
        }
        keyVals ++ aggRow(key, group)
      }

  private def aggRow(key: Seq[Option[String]], rels: Seq[String]): Seq[Any] = {
    val clean = rels.filter(r => !Snapshots.hasDv(stOf(r)))
    def scannedVal(i: Int): Any = scanned.get(key).map(_(i)).orNull
    fields.zipWithIndex.map {
      case (CountStarF, _) =>
        // LOGICAL rows: recorded minus deletion-vector counts — exact, the
        // DV commit recorded the distinct deleted-position total per file
        rels.map(r => Snapshots.logicalRowsOf(stOf(r)).get).sum
      case (CountColF(c), i) =>
        val manifestSide = clean.map { r =>
          val st = stOf(r)
          st(Snapshots.RowCountKey).min.toLong - Snapshots.nullCountOf(st, c).get
        }.sum
        manifestSide + (scannedVal(i) match {
          case null => 0L
          case n: java.lang.Long => n.longValue()
          case other => other.toString.toLong
        })
      case (MinF(c, t), i) => foldExtreme(extreme(clean, c, t, isMin = true), scannedVal(i), t, isMin = true)
      case (MaxF(c, t), i) => foldExtreme(extreme(clean, c, t, isMin = false), scannedVal(i), t, isMin = false)
      case (SumF(c, t), i) =>
        // exact fold: per-file sums are unscaled BigInt, so aggregation
        // order cannot perturb the total and intermediate overflow is
        // impossible; SQL answers NULL iff NO contributing row was
        // non-null (the recorded null counts decide for the clean side)
        val spark = SparkSession.active
        val cleanNonNull = clean.map { r =>
          val st = stOf(r)
          st(Snapshots.RowCountKey).min.toLong - Snapshots.nullCountOf(st, c).get
        }.sum
        val manifestSide = clean
          .map(r => ValueIndex.fileSumOf(spark, dir, r, c).getOrElse(sys.error(
            s"sum sidecar for $r.$c vanished between planning and execution")))
          .sum
        val scanSide = scannedVal(i) // null when no DV'd file (or no non-null row) contributed
        if (cleanNonNull == 0L && scanSide == null) null
        else
          t match {
            case d: org.apache.spark.sql.types.DecimalType =>
              // the hybrid side came back as DECIMAL(min(38, p+10), s) —
              // fold in the unscaled-BigInt domain, re-scale once
              val scanUnscaled =
                if (scanSide == null) BigInt(0)
                else
                  BigInt(
                    scanSide.asInstanceOf[java.math.BigDecimal].setScale(d.scale).unscaledValue())
              val total = new java.math.BigDecimal((manifestSide + scanUnscaled).bigInteger, d.scale)
              val resultPrecision = math.min(38, d.precision + 10)
              if (total.precision > resultPrecision) {
                // Spark's own decimal SUM: error under ANSI, NULL without
                if (org.apache.spark.sql.internal.SQLConf.get.ansiEnabled)
                  sys.error(s"SUM($c) overflows DECIMAL($resultPrecision,${d.scale}) — " +
                    "the ANSI overflow contract")
                else null
              } else total
            case _ =>
              val total = manifestSide +
                (if (scanSide == null) BigInt(0)
                 else BigInt(scanSide.asInstanceOf[Number].longValue()))
              if (!total.isValidLong) {
                // match Spark's own SUM overflow contract EXACTLY: error
                // under ANSI, silent 64-bit wrap otherwise — the same query
                // must not change behavior with pushdown applied
                if (org.apache.spark.sql.internal.SQLConf.get.ansiEnabled)
                  sys.error(s"SUM($c) overflows BIGINT — the ANSI overflow contract")
                else java.lang.Long.valueOf(total.longValue)
              } else java.lang.Long.valueOf(total.toLong)
          }
    }
  }

  /** SQL MIN/MAX ignore nulls: the extreme over files WITH a value
    * interval (files without one were verified all-null by the planner);
    * a group with no non-null value at all answers NULL, matching SQL.
    */
  private def extreme(rels: Seq[String], c: String, t: DataType, isMin: Boolean): Any = {
    val endpoints = rels.flatMap(r => stOf(r).get(c)).map(cs => if (isMin) cs.min else cs.max)
    if (endpoints.isEmpty) null
    else
      t match {
        case ByteType | ShortType | IntegerType | LongType =>
          val v = if (isMin) endpoints.map(_.toLong).min else endpoints.map(_.toLong).max
          t match {
            case ByteType => v.toByte
            case ShortType => v.toShort
            case IntegerType => v.toInt
            case _ => v
          }
        case DateType => // ISO strings: lexicographic = chronological
          java.sql.Date.valueOf(if (isMin) endpoints.min else endpoints.max)
        case _ => // StringType — planner admitted ASCII-only endpoints
          if (isMin) endpoints.min else endpoints.max
      }
  }

  /** Fold a manifest-side extreme with a scanned one. Integral values
    * widen to long and re-narrow; dates compare chronologically; strings
    * compare as Java strings, which agrees with Spark's UTF8 (code-point)
    * ordering here because the MANIFEST side is planner-verified ASCII —
    * at the first differing position one side's char is < 0x80, and both
    * orderings put it below any non-ASCII unit.
    */
  private def foldExtreme(a: Any, b: Any, t: DataType, isMin: Boolean): Any =
    if (a == null) b
    else if (b == null) a
    else
      t match {
        case ByteType | ShortType | IntegerType | LongType =>
          def toL(x: Any): Long = x.asInstanceOf[Number].longValue()
          val v = if (isMin) math.min(toL(a), toL(b)) else math.max(toL(a), toL(b))
          t match {
            case ByteType => v.toByte
            case ShortType => v.toShort
            case IntegerType => v.toInt
            case _ => v
          }
        case DateType =>
          // the scanned side is java.sql.Date by default but
          // java.time.LocalDate under spark.sql.datetime.java8API.enabled
          // — compare chronologically, return the winner's own object
          def epochDay(x: Any): Long = x match {
            case d: java.sql.Date => d.toLocalDate.toEpochDay
            case d: java.time.LocalDate => d.toEpochDay
            case other => sys.error(s"unexpected date external type: ${other.getClass}")
          }
          if ((epochDay(a) <= epochDay(b)) == isMin) a else b
        case _ =>
          val (x, y) = (a.asInstanceOf[String], b.asInstanceOf[String])
          if ((x.compareTo(y) <= 0) == isMin) x else y
      }

  override def description(): String = {
    val rendered = fields.map {
      case CountStarF => "COUNT(*)"
      case CountColF(c) => s"COUNT($c)"
      case MinF(c, _) => s"MIN($c)"
      case MaxF(c, _) => s"MAX($c)"
      case SumF(c, _) => s"SUM($c)"
    }
    val grouped =
      if (groupCols.isEmpty) "" else s" GroupBy: [${groupCols.map(_._1).mkString(", ")}]"
    val filtered =
      if (consumedFilters.isEmpty) ""
      else {
        val total = if (totalFiles >= 0L) totalFiles else view.rels.size.toLong
        s" ConsumedFilters: [${consumedFilters.mkString(", ")}] files=${rels.size}/$total"
      }
    val mode =
      if (!needsScan) " (manifest-only, zero file opens)"
      else s" (hybrid: ${dvdRels.size}/${rels.size} DV'd files scanned, rest manifest-only)"
    s"GraftSnapAggScan $dir v${view.version} PushedAggregates: " +
      s"[${rendered.mkString(", ")}]$grouped$filtered$mode"
  }

  override def rows(): Array[InternalRow] =
    SnapLocalRows.toInternal(readSchema(), answer.map(vs => Row(vs: _*)))
}

object SnapAggScan {
  /** One pushed output slot of a complete manifest-only aggregation. */
  sealed trait Field
  case object CountStarF extends Field
  final case class CountColF(col: String) extends Field
  final case class MinF(col: String, typ: DataType) extends Field
  final case class MaxF(col: String, typ: DataType) extends Field

  /** Exact SUM of a summable column (integral or fixed-scale DECIMAL)
    * from per-file sum sidecars (clean files) + the hybrid scan (DV'd
    * files). Result is [[sumResultType]] of the declared input type.
    */
  final case class SumF(col: String, typ: DataType) extends Field

  /** Spark's Sum result type for a pushable input: BIGINT for every
    * integral, DECIMAL(min(38, p+10), s) for a DECIMAL(p, s) — the
    * pushed slot must agree or the complete pushdown would mis-type.
    */
  def sumResultType(t: DataType): DataType = t match {
    case d: org.apache.spark.sql.types.DecimalType =>
      org.apache.spark.sql.types.DecimalType(math.min(38, d.precision + 10), d.scale)
    case _ => LongType
  }

  /** Parse a hive path value as the declared external type. The planner's
    * `consumableCol` gate restricts grouping columns to the int family,
    * DATE and STRING — types whose canonical rendering round-trips
    * exactly (float/double/boolean renderings are ambiguous: `0.5` vs
    * `0.50`, `true` vs `True` would emit duplicate groups).
    */
  def external(raw: String, t: DataType): Any = t match {
    case ByteType => raw.toByte
    case ShortType => raw.toShort
    case IntegerType => raw.toInt
    case LongType => raw.toLong
    case DateType => java.sql.Date.valueOf(raw)
    case _ => raw
  }
}
