package graft.sources.snap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.{Snapshots, Sources}

/** SQL `CALL` surface for the snapshot format's maintenance operators —
  * the lakehouse procedures (Iceberg's `CALL cat.system.rewrite_…` shape,
  * Spark 4's DSv2 [[org.apache.spark.sql.connector.catalog.ProcedureCatalog]]):
  *
  * {{{
  * CALL cat.compact(table => 'events')                      -- small-files rewrite
  * CALL cat.cluster(table => 'events', key => 'day', files => 16)
  * CALL cat.vacuum(table => 'events', keep_last => 3)
  * CALL cat.restore(table => 'events', version => 2)
  * CALL cat.clone(source => 'events', dest => 'events_fork', version => 1)
  * CALL cat.set_stats(table => 'events', stats_cols => 'day', bloom_cols => 'user_id')
  * }}}
  *
  * Every procedure resolves its table name under the catalog root (no
  * path escape — a table IS `root/ns/t`), runs the battle-tested
  * programmatic op (single-writer lock, archive-not-delete, stats/bloom
  * inheritance all intact), and returns its outcome as rows through a
  * [[LocalScan]] so `CALL` results compose with SQL. At 100 TB this is
  * what lets an orchestrator drive nightly OPTIMIZE/VACUUM from any SQL
  * client, no JVM code on the caller's side.
  */
private[snap] object GraftProcedures {

  /** A procedure that both binds and executes itself: parameters are
    * statically typed here, so bind() is identity — Spark coerces the
    * CALL's arguments to the declared parameter types.
    */
  private abstract class SnapProcedure(val name: String, rootDir: String)
      extends UnboundProcedure
      with BoundProcedure {

    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false

    protected def spark: SparkSession = SparkSession.active

    /** `'ns.t'` → `root/ns/t`; refuses separators that would escape root. */
    protected def dirOf(table: String): String = {
      require(
        table.nonEmpty && !table.contains("/") && !table.contains("..."),
        s"table must be a dotted catalog name, got '$table'")
      val parts = table.split("\\.").toSeq
      require(parts.forall(p => p.nonEmpty && !p.contains("..")), s"bad table name '$table'")
      (rootDir +: parts).mkString("/")
    }

    protected def in(n: String, dt: DataType): ProcedureParameter =
      ProcedureParameter.in(n, dt).build()
    protected def inDefault(n: String, dt: DataType, dflt: String): ProcedureParameter =
      ProcedureParameter.in(n, dt).defaultValue(dflt).build()

    protected def out(fields: (String, DataType)*): StructType =
      StructType(fields.map { case (n, dt) => StructField(n, dt, nullable = false) })

    protected def result(schema: StructType, row: Seq[Any]): java.util.Iterator[Scan] =
      resultRows(schema, Seq(row))

    /** Multi-row variant for report-shaped procedures (one row per item). */
    protected def resultRows(
        schema: StructType,
        rows0: Seq[Seq[Any]]): java.util.Iterator[Scan] = {
      val converted = rows0.map(r =>
        new GenericInternalRow(r.map {
          case s: String => UTF8String.fromString(s)
          case x => x
        }.toArray[Any]): InternalRow)
      val scan: Scan = new LocalScan {
        override def rows(): Array[InternalRow] = converted.toArray
        override def readSchema(): StructType = schema
        override def description(): String = s"GraftProcedureResult $name"
      }
      java.util.Collections.singletonList(scan).iterator()
    }
  }

  private class Compact(rootDir: String) extends SnapProcedure("compact", rootDir) {
    override def description: String =
      "rewrite multi-file scopes to one file each (merge-on-read vectors fold during the " +
        "rewrite); an optional `where` over the partition column scopes the pass " +
        "(e.g. where => \"day = DATE'2024-01-03'\" — the nightly close-of-day OPTIMIZE); " +
        "commits a version"
    override def parameters(): Array[ProcedureParameter] =
      Array(in("table", StringType), inDefault("where", StringType, "''"))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val (dirs, before, after) = Sources.compactInPlace(
        spark,
        dirOf(input.getUTF8String(0).toString),
        GraftProcedures.whereOf(input.getUTF8String(1).toString))
      result(
        out("dirs" -> LongType, "files_before" -> LongType, "files_after" -> LongType),
        Seq(dirs, before, after))
    }
  }

  private class Cluster(rootDir: String) extends SnapProcedure("cluster", rootDir) {
    override def description: String =
      "range-cluster each scope on a key column or a multi-dim layout key " +
        "(zorder(c1,c2,…[,bits=N]) / hilbert(c1,c2,…[,order=N])) so manifest stats " +
        "prune range and box scans; an optional `where` over the partition column " +
        "scopes the pass; commits a version"
    override def parameters(): Array[ProcedureParameter] =
      Array(
        in("table", StringType),
        in("key", StringType),
        inDefault("files", IntegerType, "8"),
        inDefault("where", StringType, "''"))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val (scopes, before) = Sources.clusterInPlace(
        spark,
        dirOf(input.getUTF8String(0).toString),
        GraftProcedures.clusterKey(input.getUTF8String(1).toString),
        input.getInt(2),
        GraftProcedures.whereOf(input.getUTF8String(3).toString))
      result(out("scopes" -> LongType, "files_before" -> LongType), Seq(scopes, before))
    }
  }

  /** Parse an optional `where` CALL argument: empty string → None. */
  private[snap] def whereOf(s: String): Option[org.apache.spark.sql.Column] = {
    val t = s.trim
    if (t.isEmpty) None else Some(org.apache.spark.sql.functions.expr(t))
  }

  /** Parse a CALL cluster key spec: a plain column name, or a multi-dim
    * space-filling-curve key — `zorder(a, b, c)` / `zorder(a, b, bits=12)`
    * / `hilbert(a, b, c, order=10)` — so SQL-only orchestrators can
    * z-order a table without JVM code. Columns are cast to long (the
    * layout keys are defined over non-negative integer grids; a DATE or
    * int column's ordinal casts cleanly).
    */
  private[snap] def clusterKey(spec: String): org.apache.spark.sql.Column = {
    val fn = "(?i)^\\s*(zorder|hilbert)\\s*\\((.*)\\)\\s*$".r
    spec match {
      case fn(which, argList) =>
        val parts = argList.split(",").toSeq.map(_.trim).filter(_.nonEmpty)
        val (opts, cols) = parts.partition(_.contains("="))
        val optMap = opts.map { o =>
          val Array(k, v) = o.split("=", 2)
          val n = scala.util.Try(v.trim.toInt).getOrElse(
            throw new IllegalArgumentException(s"cluster key option '$o' is not an integer"))
          k.trim.toLowerCase -> n
        }.toMap
        require(cols.length >= 2, s"layout key needs at least 2 columns: '$spec'")
        require(
          cols.forall(_.matches("[A-Za-z_][A-Za-z0-9_]*")),
          s"layout key columns must be plain identifiers: '$spec'")
        val badOpts = optMap.keySet -- Set(if (which.toLowerCase == "zorder") "bits" else "order")
        require(badOpts.isEmpty, s"unknown cluster key option(s) $badOpts in '$spec'")
        val width = optMap.getOrElse(if (which.toLowerCase == "zorder") "bits" else "order", 63 / cols.length)
        // map every coordinate into the curve's domain [0, 2^width):
        // hilbertN's Gray-decode ALIASES out-of-range values to unrelated
        // cells (its documented contract), and negatives would break
        // zorder locality too — pmod is the identity on in-range values
        // and a deterministic fold for the rest, so the procedure never
        // silently produces a locality-free layout
        val domainCols =
          cols.map(c => org.apache.spark.sql.functions.pmod(col(c).cast("long"), lit(1L << width)))
        if (which.toLowerCase == "zorder")
          graft.functions.Layout.zorderN(domainCols, width)
        else
          graft.functions.Layout.hilbertN(domainCols, width)
      case _ => col(spec.trim)
    }
  }

  private class Vacuum(rootDir: String) extends SnapProcedure("vacuum", rootDir) {
    override def description: String =
      "drop manifests older than keep_last and reclaim unreferenced archive files; " +
        "retain_ms >= 0 switches to TIME-based retention (keep every version committed " +
        "within the window — the 'keep 7 days' production policy), keep_last is then ignored"
    override def parameters(): Array[ProcedureParameter] =
      Array(
        in("table", StringType),
        inDefault("keep_last", IntegerType, "1"),
        inDefault("retain_ms", LongType, "-1"))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val dir = dirOf(input.getUTF8String(0).toString)
      val retainMs = input.getLong(2)
      val reclaimed =
        if (retainMs >= 0L) Snapshots.vacuumOlderThan(spark, dir, retainMs)
        else Snapshots.vacuum(spark, dir, input.getInt(1))
      result(out("reclaimed_files" -> LongType), Seq(reclaimed.size.toLong))
    }
  }

  private class AddCheck(rootDir: String) extends SnapProcedure("add_check", rootDir) {
    override def description: String =
      "record a table-level CHECK constraint (SQL-standard: a row violates only when the " +
        "predicate is FALSE; NULL passes): existing data is validated first (refused loudly " +
        "with the violation count otherwise), then every commit enforces it against its NEW " +
        "files only — a violating batch refuses before any manifest lands"
    override def parameters(): Array[ProcedureParameter] =
      Array(in("table", StringType), in("name", StringType), in("expr", StringType))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      graft.sources.Constraints.addCheck(
        spark,
        dirOf(input.getUTF8String(0).toString),
        input.getUTF8String(1).toString,
        input.getUTF8String(2).toString)
      result(out("added" -> org.apache.spark.sql.types.BooleanType), Seq(true))
    }
  }

  private class DropCheck(rootDir: String) extends SnapProcedure("drop_check", rootDir) {
    override def description: String =
      "drop a CHECK constraint by name; later commits stop enforcing it"
    override def parameters(): Array[ProcedureParameter] =
      Array(in("table", StringType), in("name", StringType))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val existed = graft.sources.Constraints.dropCheck(
        spark,
        dirOf(input.getUTF8String(0).toString),
        input.getUTF8String(1).toString)
      result(out("existed" -> org.apache.spark.sql.types.BooleanType), Seq(existed))
    }
  }

  private class ValidateChecks(rootDir: String) extends SnapProcedure("validate_checks", rootDir) {
    override def description: String =
      "re-run the add-time proof for every PENDING check (an addCheck interrupted between " +
        "publish and proof): a provable check promotes to valid, an unprovable one is " +
        "dropped — the same outcome the interrupted add would have reached"
    override def parameters(): Array[ProcedureParameter] =
      Array(in("table", StringType))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val report = graft.sources.Constraints
        .validatePending(spark, dirOf(input.getUTF8String(0).toString))
        .toSeq.sortBy(_._1)
      resultRows(
        out("name" -> StringType, "proven" -> org.apache.spark.sql.types.BooleanType),
        report.map { case (n, ok) => Seq[Any](n, ok) })
    }
  }

  private class RemoveOrphans(rootDir: String) extends SnapProcedure("remove_orphans", rootDir) {
    override def description: String =
      "reap live-tree data files no manifest references (crashed writers' landed-but-never-" +
        "committed strays): files younger than grace_ms are never touched — keep the grace " +
        "above your longest in-flight write; dry_run lists without deleting"
    override def parameters(): Array[ProcedureParameter] =
      Array(
        in("table", StringType),
        inDefault("grace_ms", LongType, (24L * 3600 * 1000).toString),
        inDefault("dry_run", org.apache.spark.sql.types.BooleanType, "false"))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val orphans = Snapshots.removeOrphans(
        spark,
        dirOf(input.getUTF8String(0).toString),
        input.getLong(1),
        input.getBoolean(2))
      result(out("orphan_files" -> LongType), Seq(orphans.size.toLong))
    }
  }

  private class Restore(rootDir: String) extends SnapProcedure("restore", rootDir) {
    override def description: String =
      "roll the live tree back to a pinned version, committed as a NEW version"
    override def parameters(): Array[ProcedureParameter] =
      Array(in("table", StringType), in("version", LongType))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val v = Snapshots.restore(spark, dirOf(input.getUTF8String(0).toString), input.getLong(1))
      result(out("version" -> LongType), Seq(v))
    }
  }

  private class Clone(rootDir: String) extends SnapProcedure("clone", rootDir) {
    override def description: String =
      "deep-fork a pinned version into a fresh table under this catalog; metadata carries verbatim"
    override def parameters(): Array[ProcedureParameter] =
      Array(
        in("source", StringType),
        in("dest", StringType),
        inDefault("version", LongType, "-1"))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val copied = Snapshots.cloneSnapshot(
        spark,
        dirOf(input.getUTF8String(0).toString),
        dirOf(input.getUTF8String(1).toString),
        input.getLong(2))
      result(out("files_copied" -> LongType), Seq(copied))
    }
  }

  private class SetStats(rootDir: String) extends SnapProcedure("set_stats", rootDir) {
    override def description: String =
      "commit a new version with the given stats/bloom column disciplines (comma-separated)"
    override def parameters(): Array[ProcedureParameter] =
      Array(
        in("table", StringType),
        in("stats_cols", StringType),
        inDefault("bloom_cols", StringType, "''"))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      def split(s: String): Seq[String] = s.split(",").toSeq.map(_.trim).filter(_.nonEmpty)
      val v = Snapshots.commit(
        spark,
        dirOf(input.getUTF8String(0).toString),
        split(input.getUTF8String(1).toString),
        split(input.getUTF8String(2).toString))
      result(out("version" -> LongType), Seq(v))
    }
  }

  private class Expire(rootDir: String) extends SnapProcedure("expire", rootDir) {
    override def description: String =
      "archive whole hive partitions whose value sorts strictly below `before` " +
        "(ISO dates and zero-padded values compare correctly; the TTL sweep)"
    override def parameters(): Array[ProcedureParameter] =
      Array(in("table", StringType), in("col", StringType), in("before", StringType))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val before = input.getUTF8String(2).toString
      val expired = Sources.expirePartitions(
        spark,
        dirOf(input.getUTF8String(0).toString),
        input.getUTF8String(1).toString,
        keep = v => v >= before)
      result(out("expired_partitions" -> LongType), Seq(expired.size.toLong))
    }
  }

  private class Checkpoint(rootDir: String) extends SnapProcedure("checkpoint", rootDir) {
    override def description: String =
      "commit a FULL manifest checkpoint NOW (a new version, off-interval): bounds the " +
        "delta reconstruction chain, (re)writes the partition-index sidecar and refreshes " +
        "the recorded canonicality/layout/count header fields — the ops lever to pull " +
        "before heavy cold-read load or after adopting pre-index manifests"
    override def parameters(): Array[ProcedureParameter] = Array(in("table", StringType))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val dir = dirOf(input.getUTF8String(0).toString)
      val v = Snapshots.checkpoint(spark, dir) // inherits stats + bloom discipline
      // the file count comes from the header this commit just wrote — no
      // second full parse of the manifest we only just rendered
      val n = Snapshots
        .headerView(spark, dir, v)
        .flatMap(_.nFiles)
        .getOrElse(Snapshots.files(spark, dir, v).size.toLong)
      result(out("version" -> LongType, "files" -> LongType), Seq(v, n))
    }
  }

  private class DvMaterialize(rootDir: String) extends SnapProcedure("dv_materialize", rootDir) {
    override def description: String =
      "fold deletion vectors into their data files (rewrite without the deleted positions; " +
        "provably-empty files archive) and commit. An optional `where` over the table's hive " +
        "partition columns scopes the fold (e.g. where => \"day = DATE'2024-01-03'\") — " +
        "out-of-scope vectors carry forward; unscoped, it ends the merge-on-read era: " +
        "afterwards no live file holds a deleted row"
    override def parameters(): Array[ProcedureParameter] =
      Array(in("table", StringType), inDefault("where", StringType, "''"))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val (files, positions) = graft.sources.DeleteVectors.materialize(
        spark,
        dirOf(input.getUTF8String(0).toString),
        GraftProcedures.whereOf(input.getUTF8String(1).toString))
      result(
        out("files_rewritten" -> LongType, "positions_folded" -> LongType),
        Seq(files, positions))
    }
  }

  private class NdvBackfill(rootDir: String) extends SnapProcedure("ndv_backfill", rootDir) {
    override def description: String =
      "build the MISSING NDV register sidecars for every pinned file (one bounded " +
        "data-reading pass over exactly those files) — the explicit upgrade for tables " +
        "whose bloom sidecars predate the NDV feature; routine commits deliberately skip them"
    override def parameters(): Array[ProcedureParameter] = Array(in("table", StringType))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val built = Snapshots.backfillNdv(spark, dirOf(input.getUTF8String(0).toString))
      result(out("sidecars_built" -> LongType), Seq(built))
    }
  }

  private class CreateRef(rootDir: String) extends SnapProcedure("create_ref", rootDir) {
    override def description: String =
      "pin a version (default: latest) under a named branch/tag ref — a zero-copy fork: " +
        "O(1) metadata at any table size, readable via VERSION AS OF 'name', retained by " +
        "vacuum until dropped. Refs are immutable pins; writes always target the live table"
    override def parameters(): Array[ProcedureParameter] =
      Array(in("table", StringType), in("name", StringType), inDefault("version", LongType, "-1"))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val v = Snapshots.createRef(
        spark,
        dirOf(input.getUTF8String(0).toString),
        input.getUTF8String(1).toString,
        input.getLong(2))
      result(out("version" -> LongType), Seq(v))
    }
  }

  private class CreateBranch(rootDir: String) extends SnapProcedure("create_branch", rootDir) {
    override def description: String =
      "fork a WRITABLE branch at a version (default: latest) — zero-copy like a tag, plus a " +
        "branch-private manifest line: appends land on the branch (Snapshots.appendToBranch), " +
        "reads via VERSION AS OF '<name>' see fork + branch appends, the live line never " +
        "changes, and CALL fast_forward adopts the branch when main hasn't diverged"
    override def parameters(): Array[ProcedureParameter] =
      Array(in("table", StringType), in("name", StringType), inDefault("version", LongType, "-1"))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val v = Snapshots.createBranch(
        spark,
        dirOf(input.getUTF8String(0).toString),
        input.getUTF8String(1).toString,
        input.getLong(2))
      result(out("fork_version" -> LongType), Seq(v))
    }
  }

  private class FastForward(rootDir: String) extends SnapProcedure("fast_forward", rootDir) {
    override def description: String =
      "adopt a branch into the live line (allowed iff main hasn't advanced past the fork): " +
        "branch files MOVE to their table paths with their sidecars, one O(delta) append " +
        "commit records them, the branch is dropped; returns the new main version"
    override def parameters(): Array[ProcedureParameter] =
      Array(in("table", StringType), in("name", StringType))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val v = Snapshots.fastForward(
        spark,
        dirOf(input.getUTF8String(0).toString),
        input.getUTF8String(1).toString)
      result(out("version" -> LongType), Seq(v))
    }
  }

  private class BranchDelete(rootDir: String) extends SnapProcedure("branch_delete", rootDir) {
    override def description: String =
      "merge-on-read DELETE on a writable branch: matched positions become deletion vectors " +
        "recorded by a branch-delta restate — the live line is untouched until " +
        "CALL fast_forward adopts the pointers (or drop_branch discards them); the staging " +
        "area for a risky bulk delete"
    override def parameters(): Array[ProcedureParameter] =
      Array(in("table", StringType), in("name", StringType), in("where", StringType))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val pred = GraftProcedures
        .whereOf(input.getUTF8String(2).toString)
        .getOrElse(throw new IllegalArgumentException(
          "branch_delete needs a non-empty `where` — a WHERE-less branch delete would vector every row"))
      val (files, rows) = graft.sources.DeleteVectors.deleteOnBranch(
        spark,
        dirOf(input.getUTF8String(0).toString),
        input.getUTF8String(1).toString,
        pred)
      result(out("files_touched" -> LongType, "rows_deleted" -> LongType), Seq(files, rows))
    }
  }

  private class BranchUpsert(rootDir: String) extends SnapProcedure("branch_upsert", rootDir) {
    override def description: String =
      "merge-on-read UPSERT on a writable branch: branch rows matching a source row's key " +
        "become deletion vectors, the source's full replacement rows land as branch-private " +
        "appends, ONE branch version — the SQL face of the staged CDC replay. `source` is a " +
        "SELECT (or a dotted table name) providing FULL table rows; `keys` a comma list"
    override def parameters(): Array[ProcedureParameter] =
      Array(
        in("table", StringType),
        in("name", StringType),
        in("source", StringType),
        in("keys", StringType))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val srcSql = input.getUTF8String(2).toString.trim
      require(srcSql.nonEmpty, "branch_upsert needs a non-empty `source`")
      val src =
        if (srcSql.toLowerCase.startsWith("select") || srcSql.toLowerCase.startsWith("with"))
          spark.sql(srcSql)
        else spark.table(srcSql)
      val keys = input.getUTF8String(3).toString.split(",").toSeq.map(_.trim).filter(_.nonEmpty)
      val (files, rows) = graft.sources.DeleteVectors.upsertOnBranch(
        spark,
        dirOf(input.getUTF8String(0).toString),
        input.getUTF8String(1).toString,
        src,
        keys)
      result(out("files_touched" -> LongType, "rows_replaced" -> LongType), Seq(files, rows))
    }
  }

  private class CompactBranch(rootDir: String)
      extends SnapProcedure("compact_branch", rootDir) {
    override def description: String =
      "compact a branch's PRIVATE files (an N-epoch streaming replay's small files) to " +
        "~one per partition value, deletion vectors folded, ONE branch delta — so " +
        "fast_forward adopts a sized file set onto main, never N epoch fragments; fork " +
        "files are never touched"
    override def parameters(): Array[ProcedureParameter] =
      Array(in("table", StringType), in("name", StringType))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val (before, after) = Snapshots.compactBranch(
        spark,
        dirOf(input.getUTF8String(0).toString),
        input.getUTF8String(1).toString)
      result(out("files_before" -> LongType, "files_after" -> LongType), Seq(before, after))
    }
  }

  private class Rebase(rootDir: String) extends SnapProcedure("rebase", rootDir) {
    override def description: String =
      "re-base a DIVERGED branch onto the live head: branch appends adopt as-is, branch " +
        "deletion-vector restates re-match against main's current files (same-file vectors " +
        "UNION; a vectored fork file main rewrote/compacted/removed REFUSES loudly naming " +
        "it), then the fork re-pins to head so fast_forward proceeds; returns the new fork"
    override def parameters(): Array[ProcedureParameter] =
      Array(in("table", StringType), in("name", StringType))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val v = Snapshots.rebase(
        spark,
        dirOf(input.getUTF8String(0).toString),
        input.getUTF8String(1).toString)
      result(out("fork_version" -> LongType), Seq(v))
    }
  }

  private class DropBranch(rootDir: String) extends SnapProcedure("drop_branch", rootDir) {
    override def description: String =
      "drop a branch whole: its manifest line, its private data files and its fork pin — " +
        "the fork version becomes ordinary history the next vacuum may reclaim"
    override def parameters(): Array[ProcedureParameter] =
      Array(in("table", StringType), in("name", StringType))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val existed = Snapshots.dropBranch(
        spark,
        dirOf(input.getUTF8String(0).toString),
        input.getUTF8String(1).toString)
      result(out("existed" -> org.apache.spark.sql.types.BooleanType), Seq(existed))
    }
  }

  private class MvCreate(rootDir: String) extends SnapProcedure("mv_create", rootDir) {
    override def description: String =
      "create an incrementally-maintained MATERIALIZED VIEW over a snapshot table: one full " +
        "aggregation now, then `mv_refresh` re-prices at the change — `keys` is a comma list " +
        "of group columns, `aggs` a ';'-separated list of aggregate expressions with explicit " +
        "aliases (e.g. 'sum(x) AS sx; count(*) AS n'); `dims` optionally broadcast-joins " +
        "dimension tables ('dim [LEFT] ON fact_col=dim_col[,f2=d2][; dim2 ON ...]' — the " +
        "star-schema rollup; group keys may be dim columns; LEFT keeps unmatched fact rows " +
        "as the NULL bucket); `key_exprs` optionally defines DERIVED keys " +
        "('h=date_trunc(''hour'', ts)[; k2=expr2]' — each named key must also appear in " +
        "`keys`); the view is itself a snapshot table with stats+bloom sidecars on the keys"
    override def parameters(): Array[ProcedureParameter] =
      Array(
        in("mv", StringType),
        in("source", StringType),
        in("keys", StringType),
        in("aggs", StringType),
        inDefault("where", StringType, "''"),
        inDefault("dims", StringType, "''"),
        inDefault("key_exprs", StringType, "''"))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val keys = input.getUTF8String(2).toString.split(",").toSeq.map(_.trim).filter(_.nonEmpty)
      val keyExprs = input.getUTF8String(6).toString.split(";").toSeq.map(_.trim)
        .filter(_.nonEmpty).map { one =>
          val kv = one.split("=", 2)
          require(kv.length == 2, s"mv_create key_exprs: '$one' must be 'name=expression'")
          (kv(0).trim, kv(1).trim)
        }.toMap
      val aggs = input.getUTF8String(3).toString.split(";").toSeq.map(_.trim).filter(_.nonEmpty)
      val dims = input.getUTF8String(5).toString.split(";").toSeq.map(_.trim).filter(_.nonEmpty)
        .map { one =>
          val parts = one.split("(?i)\\s+ON\\s+", 2)
          require(
            parts.length == 2,
            s"mv_create dims: '$one' must be '<dim table> [LEFT] ON fact_col=dim_col[,f2=d2]'")
          val (tbl, joinType) = {
            val head = parts(0).trim
            if (head.toLowerCase.endsWith(" left")) (head.dropRight(5).trim, "left")
            else (head, "inner")
          }
          val pairs = parts(1).split(",").toSeq.map(_.trim).filter(_.nonEmpty).map { p =>
            val fc = p.split("=", 2)
            require(fc.length == 2, s"mv_create dims: join pair '$p' must be fact_col=dim_col")
            (fc(0).trim, fc(1).trim)
          }
          graft.sources.Mv.MvJoinSpec(dirOf(tbl), pairs.map(_._1), pairs.map(_._2), joinType)
        }
      val v = graft.sources.Mv.create(
        spark,
        dirOf(input.getUTF8String(1).toString),
        dirOf(input.getUTF8String(0).toString),
        keys,
        aggs,
        Some(input.getUTF8String(4).toString).map(_.trim).filter(_.nonEmpty),
        dims,
        keyExprs)
      result(out("version" -> LongType), Seq(v))
    }
  }

  private class MvRefresh(rootDir: String) extends SnapProcedure("mv_refresh", rootDir) {
    override def description: String =
      "advance a materialized view to its source's head: affected groups come from the " +
        "row-level change feed since the last refresh (compaction cancels to zero), exactly " +
        "those groups re-aggregate (stats/bloom-narrowed scan) and merge-on-read into the " +
        "view; a vacuumed change window downgrades to a full resync (full_resync = true)"
    override def parameters(): Array[ProcedureParameter] =
      Array(in("mv", StringType))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val r = graft.sources.Mv.refresh(spark, dirOf(input.getUTF8String(0).toString))
      result(
        out(
          "from_version" -> LongType,
          "to_version" -> LongType,
          "groups_recomputed" -> LongType,
          "groups_deleted" -> LongType,
          "full_resync" -> org.apache.spark.sql.types.BooleanType),
        Seq(r.fromVersion, r.toVersion, r.groupsRecomputed, r.groupsDeleted, r.fullResync))
    }
  }

  private class MvDrop(rootDir: String) extends SnapProcedure("mv_drop", rootDir) {
    override def description: String =
      "drop a materialized view whole (its snapshot table, sidecars and definition die " +
        "together); refuses a committed table with no view definition — dropping a plain " +
        "table is a filesystem decision, not an MV call"
    override def parameters(): Array[ProcedureParameter] =
      Array(in("mv", StringType))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val existed = graft.sources.Mv.drop(spark, dirOf(input.getUTF8String(0).toString))
      result(out("existed" -> org.apache.spark.sql.types.BooleanType), Seq(existed))
    }
  }

  private class DropRef(rootDir: String) extends SnapProcedure("drop_ref", rootDir) {
    override def description: String =
      "drop a branch/tag ref — the pinned version becomes ordinary history the next vacuum may reclaim"
    override def parameters(): Array[ProcedureParameter] =
      Array(in("table", StringType), in("name", StringType))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val existed = Snapshots.dropRef(
        spark,
        dirOf(input.getUTF8String(0).toString),
        input.getUTF8String(1).toString)
      result(out("existed" -> org.apache.spark.sql.types.BooleanType), Seq(existed))
    }
  }

  def all(rootDir: String): Seq[UnboundProcedure] = Seq(
    new Compact(rootDir),
    new Cluster(rootDir),
    new Vacuum(rootDir),
    new Restore(rootDir),
    new Clone(rootDir),
    new SetStats(rootDir),
    new Expire(rootDir),
    new Checkpoint(rootDir),
    new DvMaterialize(rootDir),
    new NdvBackfill(rootDir),
    new CreateRef(rootDir),
    new CreateBranch(rootDir),
    new FastForward(rootDir),
    new BranchDelete(rootDir),
    new BranchUpsert(rootDir),
    new CompactBranch(rootDir),
    new Rebase(rootDir),
    new DropBranch(rootDir),
    new MvCreate(rootDir),
    new MvRefresh(rootDir),
    new MvDrop(rootDir),
    new RemoveOrphans(rootDir),
    new AddCheck(rootDir),
    new DropCheck(rootDir),
    new ValidateChecks(rootDir),
    new DropRef(rootDir))

  def load(ident: Identifier, rootDir: String): Option[UnboundProcedure] =
    if (ident.namespace().nonEmpty && ident.namespace().toSeq != Seq("system")) None
    else all(rootDir).find(_.name == ident.name())
}
