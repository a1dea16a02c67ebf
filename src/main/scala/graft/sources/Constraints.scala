package graft.sources

import java.net.{URLDecoder, URLEncoder}
import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{expr, lit, sum, when}

/** Table-level CHECK constraints — the ingest-time data-quality gate:
  * `addCheck(root, "rev_nonneg", "rev >= 0")` records an SQL predicate
  * that every commit thereafter enforces against its NEW files only
  * (the O(delta) discipline every other commit-time pass follows). A
  * violating batch REFUSES before any manifest lands: readers never see
  * it, the already-landed part files are unreferenced strays
  * ([[Snapshots.removeOrphans]] reaps them), and pinned history is
  * untouched.
  *
  * Semantics are SQL-standard CHECK: a row violates only when the
  * predicate evaluates FALSE — NULL passes (constrain nullability with an
  * explicit `x IS NOT NULL` check). [[addCheck]] publishes the check and
  * THEN validates the EXISTING table (one full scan — a DDL price, paid
  * once; a failed proof rolls the check back), so the invariant "every
  * committed row satisfies every recorded check" holds for every check
  * that survives its add; enforcement rides every face that lands
  * new rows — listing commits, lock-free appends, streaming epochs,
  * merge-on-read upsert/CDC images, and branch appends (a branch adoption
  * must not smuggle bad rows past the gate).
  *
  * Storage: one tiny file per check under `_graft_manifests/checks/` —
  * parsed LOUDLY (the refs lesson: enforcement derives from it; silently
  * skipping a garbled check would silently stop enforcing it). Cost when
  * no checks exist: one directory probe per commit.
  */
object Constraints {

  private def checksDir(root: Path): Path =
    new Path(new Path(root, Snapshots.ManifestDirName), "checks")

  private def enc(s: String): String = URLEncoder.encode(s, StandardCharsets.UTF_8.name())
  private def dec(s: String): String = URLDecoder.decode(s, StandardCharsets.UTF_8.name())

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The table's recorded checks, name → predicate SQL. Garbled files
    * refuse loudly — enforcement must never silently shrink.
    */
  def checks(spark: SparkSession, root: String): Map[String, String] = {
    val dir = checksDir(new Path(root))
    val fs = fsOf(spark, dir)
    if (!fs.exists(dir)) Map.empty
    else
      fs.listStatus(dir)
        .toSeq
        .filterNot(st => st.getPath.getName.startsWith("."))
        .flatMap { st =>
          // a check dropped since the listing is no longer enforced
          MetaFiles.readText(fs, st.getPath).map { txt =>
            val lines = txt.split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
            val ok = lines.headOption.contains("graft-check v1") &&
              lines.drop(1).headOption.exists(_.startsWith("expr "))
            if (!ok)
              sys.error(
                s"garbled CHECK constraint file ${st.getPath}: enforcement derives from it — " +
                  "restore the file or drop and re-add the check")
            st.getPath.getName -> dec(lines(1).stripPrefix("expr "))
          }
        }
        .toMap
  }

  /** A fingerprint of the recorded check set: the content of a NONCE
    * stamp file [[addCheck]]/[[dropCheck]] rewrite (fresh UUID) on every
    * mutation — collision-proof where an (mtime, length) listing is not
    * (a drop + same-name re-add with an equal-length predicate inside
    * one mtime tick would compare equal). The lock-free append face
    * re-reads it at every version-slot attempt AND at the claim itself,
    * so a check recorded between its validation scan and its claim
    * forces a re-validation. Coherence with [[addCheck]]: the check file
    * PUBLISHES (and the stamp bumps) before addCheck's existing-data
    * scan even starts, so every manifest the scan could miss was
    * claimed against the new fingerprint — the residual window is the
    * microseconds between a writer's claim-time fingerprint read and
    * its manifest rename, not the (possibly minutes-long) validation
    * scan. Cost: one tiny read attempt.
    */
  private[sources] def fingerprint(spark: SparkSession, root: String): String = {
    val p = new Path(checksDir(new Path(root)), ".stamp")
    MetaFiles.readText(fsOf(spark, p), p).getOrElse("")
  }

  /** Rewrite the check-set nonce — called by every mutation, under the
    * table lock. An overwriting [[MetaFiles.publish]]: lock-free READERS
    * of the stamp see the old or the new nonce, or — where the rename
    * cannot replace and the old stamp is deleted first — no stamp, a
    * changed fingerprint either way.
    */
  private def bumpStamp(fs: FileSystem, root: Path): Unit =
    MetaFiles.publish(
      fs,
      new Path(checksDir(root), ".stamp"),
      java.util.UUID.randomUUID().toString.getBytes(StandardCharsets.UTF_8),
      overwrite = true)

  private def pendingMarker(root: Path, name: String): Path =
    new Path(checksDir(root), s".pending-$name")

  /** Checks whose add-time proof never completed: the `.pending-<name>`
    * marker landed before the check published and is cleared only AFTER
    * the validation scan succeeds, so a process crash between publish
    * and proof leaves the marker behind. A pending check is still
    * ENFORCED against new commits (fail-safe — the gate turned on at
    * publish), but the invariant "every committed row satisfies every
    * recorded check" is unproven for pre-existing data until
    * [[validatePending]] re-runs the proof.
    */
  def pendingChecks(spark: SparkSession, root: String): Seq[String] = {
    val dir = checksDir(new Path(root))
    val fs = fsOf(spark, dir)
    if (!fs.exists(dir)) Seq.empty
    else
      fs.listStatus(dir)
        .toSeq
        .map(_.getPath.getName)
        .collect { case n if n.startsWith(".pending-") => n.stripPrefix(".pending-") }
        .sorted
  }

  /** Re-run the add-time proof for every stale pending check (a crash
    * between [[addCheck]]'s publish and its validation scan): a check
    * whose proof now passes is promoted to valid (marker cleared); one
    * whose proof FAILS is dropped — per the add-time contract, a check
    * that cannot be proven must not remain recorded as if it were. A
    * marker with no surviving check file (crash on the other side of the
    * rollback) is reaped silently. Returns name → proven?
    */
  def validatePending(spark: SparkSession, root: String): Map[String, Boolean] =
    Snapshots.withTableLock(spark, root) {
      val rootPath = new Path(root)
      val fs = fsOf(spark, rootPath)
      val recorded = checks(spark, root)
      pendingChecks(spark, root).flatMap { name =>
        val marker = pendingMarker(rootPath, name)
        recorded.get(name) match {
          case None =>
            fs.delete(marker, false) // rolled back before the crash: garbage
            None
          case Some(predicate) =>
            val proven =
              try {
                val view = Snapshots.manifestView(spark, root)
                val live = view.rels.filterNot(r =>
                  Snapshots.fullyDeleted(view.stats.getOrElse(r, Map.empty)))
                live.isEmpty || violations(
                  Snapshots.scanRels(spark, root, view, live),
                  Map(name -> predicate)).isEmpty
              } catch { case scala.util.control.NonFatal(_) => false }
            if (!proven) {
              // the proof fails: the check was never legitimately added —
              // drop it (same outcome as addCheck's own rollback)
              fs.delete(new Path(checksDir(rootPath), name), false)
              bumpStamp(fs, rootPath)
            }
            fs.delete(marker, false)
            Some(name -> proven)
        }
      }.toMap
    }

  /** Record a CHECK, then prove the EXISTING table satisfies it (one
    * full scan, the check rolled back and the call refused loudly with
    * the violation count otherwise) — every later commit then enforces
    * it at O(new files).
    *
    * ORDERING IS THE CORRECTNESS: the check file publishes (and the
    * stamp bumps) BEFORE the validation scan reads the manifest. A
    * lock-free [[Snapshots.commitAppend]] whose claim lands after the
    * publish either read the new fingerprint at the claim (and so
    * enforced the new check itself) or read the old one — in which case
    * its claim-time re-check retries with a re-validation; either way
    * no batch the scan cannot see escapes the predicate. The SQL-standard
    * analogue is ADD CONSTRAINT ... NOT VALID + VALIDATE: the gate turns
    * on for NEW data at publish, existing data is proven immediately
    * after, and a failed proof drops the (briefly enforced, never wrong)
    * constraint before refusing.
    *
    * CRASH ACCOUNTING: a `.pending-<name>` marker lands BEFORE the
    * publish and is cleared only after the proof (or the rollback), so a
    * crash inside the publish→proof window can never leave an unproven
    * check indistinguishable from a proven one — [[pendingChecks]] names
    * it and [[validatePending]] re-runs the proof (or drops the check).
    */
  def addCheck(spark: SparkSession, root: String, name: String, predicateSql: String): Unit =
    Snapshots.withTableLock(spark, root) {
      require(
        name.matches("[A-Za-z_][A-Za-z0-9_.-]*"),
        s"check name '$name' must be a simple identifier (it names a metadata file)")
      require(predicateSql.trim.nonEmpty, "addCheck: empty predicate")
      val rootPath = new Path(root)
      val fs = fsOf(spark, rootPath)
      val p = new Path(checksDir(rootPath), name)
      require(!fs.exists(p), s"check '$name' already exists on $root — drop it first")
      require(
        Snapshots.latestVersion(spark, root) > 0L,
        s"addCheck($root): commit the table first — a check validates against committed data")
      // the pending marker FIRST: from here to the proof's success this
      // check is durably recorded as unproven (see CRASH ACCOUNTING)
      val marker = pendingMarker(rootPath, name)
      if (!MetaFiles.publish(fs, marker, "graft-check-pending v1".getBytes(StandardCharsets.UTF_8)))
        sys.error(s"recording check '$name' on $root failed: no pending marker at $marker")
      // publish next (see the ordering note above): new commits enforce
      // the pending check from this instant
      val check = s"graft-check v1\nexpr ${enc(predicateSql)}\n".getBytes(StandardCharsets.UTF_8)
      if (!MetaFiles.publish(fs, p, check)) {
        fs.delete(marker, false)
        sys.error(s"recording check '$name' on $root failed")
      }
      bumpStamp(fs, rootPath)
      // now prove it against the CURRENT table (manifest read AFTER the
      // publish+bump, so it sees every commit that claimed under the old
      // fingerprint); any failure rolls the pending check back
      try {
        val view = Snapshots.manifestView(spark, root)
        val live = view.rels.filterNot(r =>
          Snapshots.fullyDeleted(view.stats.getOrElse(r, Map.empty)))
        if (live.nonEmpty) {
          val df = Snapshots.scanRels(spark, root, view, live)
          val bad = violations(df, Map(name -> predicateSql))
          require(
            bad.isEmpty,
            s"addCheck($root): ${bad.head._2} existing row(s) violate '$name' " +
              s"(${predicateSql}) — fix the data first")
        }
        // proof complete: clear the marker LAST — a crash before this
        // line re-proves a valid check (harmless), never trusts an
        // unproven one
        fs.delete(marker, false)
      } catch {
        case t: Throwable =>
          // roll the pending check back — and VERIFY the file is gone
          // (fs.delete reports failure as a boolean, not only as an
          // exception): a silently-still-published check would refuse
          // every later commit while the caller believes the add never
          // happened. The stamp bump is best-effort ONCE the file is
          // gone: a stale fingerprint merely makes some lock-free append
          // re-validate against the (correct, check-less) current set.
          val gone =
            try fs.delete(p, false) || !fs.exists(p)
            catch { case _: Exception => false }
          try bumpStamp(fs, rootPath)
          catch { case _: Exception => () }
          if (gone) {
            // check gone first, THEN the marker: a crash in between
            // leaves marker-without-check, which validatePending reaps
            try fs.delete(marker, false)
            catch { case _: Exception => () }
          } else
            throw new RuntimeException(
              s"addCheck($root): validation failed AND the pending check '$name' could not " +
                s"be removed — it REMAINS recorded and will refuse violating commits; run " +
                s"dropCheck('$name') to clear it. Original failure: ${t.getMessage}",
              t)
          throw t
      }
    }

  /** Drop a check; returns whether it existed. */
  def dropCheck(spark: SparkSession, root: String, name: String): Boolean =
    Snapshots.withTableLock(spark, root) {
      val rootPath = new Path(root)
      val p = new Path(checksDir(rootPath), name)
      val fs = fsOf(spark, p)
      val existed = fs.delete(p, false)
      fs.delete(pendingMarker(rootPath, name), false) // a pending check drops whole
      if (existed) bumpStamp(fs, rootPath)
      existed
    }

  /** (check name, violating-row count) for every failed check — ONE agg
    * pass over `df` evaluating all predicates at once. SQL CHECK null
    * semantics: only FALSE violates.
    */
  private def violations(df: DataFrame, cs: Map[String, String]): Seq[(String, Long)] = {
    val ordered = cs.toSeq.sortBy(_._1)
    val aggCols = ordered.map { case (n, e) =>
      sum(when(expr(e) <=> lit(false), 1L).otherwise(0L)).as(s"__graft_check_$n")
    }
    val row = df.agg(aggCols.head, aggCols.tail: _*).head()
    ordered.zipWithIndex.collect {
      case ((n, _), i) if !row.isNullAt(i) && row.getLong(i) > 0L => (n, row.getLong(i))
    }
  }

  /** The commit-side gate: refuse when any of `freshRels`' rows violates
    * a recorded check. Called by every commit face with exactly the rels
    * NEW in the version being built — zero cost (one directory probe)
    * when the table has no checks. Scans through [[Snapshots.scanRels]]
    * (hive partition values splice, so checks may reference partition
    * columns).
    */
  private[sources] def enforce(
      spark: SparkSession,
      root: String,
      freshRels: Seq[String],
      schema: Option[org.apache.spark.sql.types.StructType],
      stats: Map[String, Map[String, Snapshots.ColStat]] = Map.empty): Unit = {
    if (freshRels.isEmpty) return
    val cs = checks(spark, root)
    if (cs.isEmpty) return
    // `stats` carry deletion-vector pointers on the ADOPTION faces
    // (fast-forward/rebase): a branch file may carry vectors from later
    // branch DML, and a logically-deleted row must not refuse the adoption
    val df = Snapshots.scanRels(
      spark, root, Snapshots.ManifestView(0L, freshRels, stats, schema, Nil), freshRels)
    val bad = violations(df, cs)
    if (bad.nonEmpty)
      sys.error(
        s"commit on $root refused: CHECK constraint ${bad.map { case (n, c) => s"'$n' ($c row(s))" }
            .mkString(", ")} violated by the new data — nothing was committed; the landed " +
          "part files are unreferenced (remove_orphans reaps them)")
  }
}
