package graft.sources

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructField

/** Manifest-pinned snapshot reads for maintained parquet tables — the
  * table-format commit layer under the row-level DML ([[DeleteVectors]],
  * [[Sources.deleteWhere]] / [[Sources.mergeIntoPartitioned]]) and the
  * maintenance ops ([[Sources.compactInPlace]], [[Sources.compactParquet]]).
  *
  * Problem: a concurrent reader listing the directory while an op
  * replaces files can see a half-swapped file set, and yesterday's
  * version is unrecoverable the moment the swap lands. The lakehouse
  * answer (Iceberg/Delta) is to make the FILE LIST the unit of commit: a
  * reader pins a manifest — an explicit list of data files — and reads
  * exactly those files, immune to concurrent directory churn;
  * maintenance never deletes a replaced file,
  * it ARCHIVES it (rename into a dot-prefixed sibling tree, invisible to
  * directory listers), so every pinned manifest stays fully readable until
  * an explicit [[vacuum]].
  *
  * Layout under the table root:
  *  - `.snap-archive/<relpath>` — replaced data files, preserving their
  *    partition-dir structure (`day=X/part-….parquet`), so snapshot reads
  *    keep hive partition-column inference (archived files scan with
  *    `basePath = <root>/.snap-archive`, under which the `k=v` segments
  *    line up exactly as the live tree's do). `.snap-dv/` holds deletion
  *    vectors, `.branch/<name>/` a branch's private data files.
  *  - `_graft_manifests/` — the metadata. Underscore prefix → invisible
  *    to Spark's file index (same convention as `_SUCCESS` /
  *    `_spark_metadata`). Each file names the protocol that writes it;
  *    every small file goes through [[MetaFiles]] (`publish` = unique
  *    temp + rename, `replace` = sealed `.<name>-next` image + delete +
  *    rename, healed on read):
  *    - `v0000000001.manifest` … — full checkpoints and per-commit
  *      deltas. Writers run under the table lock or, on the lock-free
  *      append face, optimistic concurrency: a version slot is won by a
  *      create-exclusive `.claim-v<version>` file, the manifest is
  *      written to a temp file and, after a fence that re-checks the
  *      claim, renamed into place ([[tryWriteManifestClaimed]]). A loser
  *      rebases onto the new head. Versions are dense and never reused.
  *    - `.lock` — the table lock: create-exclusive with a heartbeat
  *      ([[withTableLock]]). The lock and the claims are the only files
  *      written outside [[MetaFiles]].
  *    - `.latest-hint` — best-effort newest version (`publish`,
  *      overwriting).
  *    - `v….manifest.pidx` — a checkpoint's partition index (`publish`).
  *    - `.chain` — the chain identity nonce (`publish`, once per chain).
  *    - `bloom/`, `ndv/`, `sum/` — per-(file, column) sidecars
  *      (`publish`, from Spark tasks too).
  *    - `refs/<name>` — immutable pins, rewritten only to follow a
  *      branch rebase (`publish`).
  *    - `branches/<name>/` — a branch's delta manifests (`publish`), its
  *      `.chain` nonce (`publish`) and its `.mor-epoch-<tag>` markers.
  *    - `.mor-epoch-<tag>`, `.epoch-<queryId>` — the upsert and the
  *      streaming sink's epoch high-water marks (`replace`, via
  *      `MetaFiles.last`/`advance`).
  *    - `mv-refs/<sha256>` — the views registered over this table
  *      (`publish`); `mv/def` — a view's definition (`replace`) and
  *      `mv/.def-dropped` its drop tombstone (`publish`).
  *    - `checks/<name>`, `checks/.pending-<name>` and `checks/.stamp` —
  *      CHECK constraints, their unproven markers and the check-set nonce
  *      (`publish`).
  *
  * Relative paths are never reused: Spark part-file names carry a per-job
  * UUID, and every in-place rewrite ([[DataFiles.rewrite]]) lands under
  * its own job's fresh names — so `<relpath>` is a stable identity and
  * the flat archive cannot collide ([[archiveFile]] still checks and
  * fails loudly).
  *
  * Data files land through ONE module, [[DataFiles]]. Every write stages
  * its parquet parts under a hidden `.stage-<id>` dir (beside the files
  * an in-place rewrite replaces, or under the table or branch root), then
  * one `DataFiles.swap` archives the replaced files, renames the staged
  * parts onto their live rels and runs the commit — archive first, so a
  * directory lister may see a gap but never old and new rows at once.
  * The archive invariant: when any step of a swap fails, the live tree
  * and `.snap-archive/` end exactly as they were before it — landed files
  * are deleted, archived files renamed back, a dropped restored duplicate
  * copied back — so no later listing-based [[commit]] can adopt a
  * half-swapped tree.
  *
  * Scale: a manifest is one line per data file (or, for a delta, per
  * changed file) — the same metadata the scan's own listing
  * materializes; reads cost zero extra I/O (the explicit file list
  * REPLACES the directory listing). Writers serialize on the table lock
  * or arbitrate version slots by claim; readers need no coordination at
  * any concurrency.
  */
object Snapshots {

  val ManifestDirName = "_graft_manifests"
  val ArchiveDirName = ".snap-archive"

  /** Every Nth version is a FULL manifest (a checkpoint); the versions in
    * between are per-commit DELTAS (`#delta <base>` header, `+rel`/`-rel`
    * body lines) that record only what the commit changed. At a million
    * files this is the difference between a ~100 MB manifest rewrite per
    * commit — per streaming epoch on the `toTable` sink — and a few-KB
    * append, the same O(delta) discipline the footer-stat pass already
    * has; the periodic checkpoint bounds a reader's reconstruction chain
    * (and vacuum's retention anchor) to < interval manifest reads, all
    * served by the immutable-view cache. Override per session with
    * `spark.graft.snapshot.checkpointInterval` (≤ 1 forces every commit
    * full — the pre-delta behavior).
    */
  val DefaultCheckpointInterval = 20

  private def checkpointEvery(spark: SparkSession): Int =
    spark.conf
      .getOption("spark.graft.snapshot.checkpointInterval")
      .map(v =>
        // refuse loudly like the sibling confs: a swallowed typo would
        // silently restore the default chain length
        try v.trim.toInt
        catch {
          case _: NumberFormatException =>
            throw new IllegalArgumentException(
              s"spark.graft.snapshot.checkpointInterval must be an integer, got '$v'")
        })
      .getOrElse(DefaultCheckpointInterval)

  /** Set for the duration of [[checkpoint]]'s commit on ITS thread only —
    * forcing a full manifest without mutating session-shared conf (a conf
    * flip would race concurrent callers and silently force every
    * concurrent commit full during the window).
    */
  private val forceFullCheckpoint: ThreadLocal[Boolean] = new ThreadLocal[Boolean] {
    override def initialValue(): Boolean = false
  }

  /** Deletion-vector pointers the NEXT [[commit]] on this thread must
    * record per rel, INSTEAD of carrying the previous version's — set by
    * [[restore]] (the restored state's DV pointers are the TARGET
    * version's, which may differ from — or be absent relative to — the
    * latest version's that a plain carry would propagate).
    */
  private val dvCarryOverride: ThreadLocal[Option[Map[String, Map[String, ColStat]]]] =
    new ThreadLocal[Option[Map[String, Map[String, ColStat]]]] {
      override def initialValue(): Option[Map[String, Map[String, ColStat]]] = None
    }

  /** Commit a FULL manifest checkpoint NOW (next version, file list +
    * stats re-rendered complete, off-interval): bounds the delta
    * reconstruction chain, (re)writes the partition-index sidecar and
    * refreshes the recorded canonicality/layout/count header fields.
    * Stats + bloom discipline inherit. The ops lever before heavy
    * cold-read load, or to upgrade a table adopted from pre-index
    * manifests.
    */
  def checkpoint(spark: SparkSession, root: String): Long = {
    forceFullCheckpoint.set(true)
    try commit(spark, root)
    finally forceFullCheckpoint.remove()
  }

  /** Is version `v` a checkpoint (full manifest) under the session's
    * interval policy? v1 is always full — the chain base.
    */
  private def isCheckpointVersion(spark: SparkSession, v: Long): Boolean = {
    val every = checkpointEvery(spark)
    v == 1L || every <= 1 || v % every == 0L || forceFullCheckpoint.get()
  }

  /** Parsed-manifest cache, keyed by (qualified path, mtime, length): a
    * committed manifest file is immutable (temp-write + rename, versions
    * never reused), so a hit is always exact; the mtime/length key guards
    * the one path-reuse case (a table deleted and recreated at the same
    * root). Bounded — a view of a huge table is large, and planning only
    * ever needs the handful of versions in flight.
    */
  private[sources] val viewCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), ManifestView]()

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestDir(root: Path) = new Path(root, ManifestDirName)

  private def manifestPath(root: Path, version: Long) =
    new Path(manifestDir(root), f"v$version%010d.manifest")

  private def isHidden(name: String): Boolean =
    name.startsWith(".") || name.startsWith("_")

  /** Roots whose table lock the CURRENT THREAD already holds. Makes
    * [[withTableLock]] reentrant, so the public [[commit]]/[[vacuum]] can
    * take the lock themselves while remaining callable from inside locked
    * maintenance ops (restore, deleteWhere, merge… all commit under their
    * own lock).
    */
  private val heldLocks = new ThreadLocal[Set[String]] {
    override def initialValue(): Set[String] = Set.empty
  }

  /** Lock-file IO routes through java.nio for LOCAL filesystems: Hadoop's
    * `LocalFileSystem.create(f, overwrite = false)` is an exists() check
    * followed by an open — NOT atomic across processes, so two JVMs
    * racing the acquire can BOTH succeed through that window (the
    * cross-process torture spec catches real double-grants there).
    * `Files.createFile` is O_CREAT|O_EXCL — genuinely atomic on POSIX.
    * HDFS's create IS atomic and keeps the hadoop route; an object store
    * would swap in a conditional PUT. The nio route also writes no
    * checksum sidecar, so concurrent heartbeat rewrites never produce a
    * torn `.lock.crc`.
    */
  private def localLockFile(fs: FileSystem, p: Path): Option[java.nio.file.Path] =
    fs match {
      case _: org.apache.hadoop.fs.LocalFileSystem | _: org.apache.hadoop.fs.RawLocalFileSystem =>
        Some(java.nio.file.Paths.get(p.toUri.getPath))
      case _ => None
    }

  private def readLockTag(fs: FileSystem, lock: Path): Option[String] =
    try localLockFile(fs, lock) match {
      case Some(nio) =>
        Some(new String(java.nio.file.Files.readAllBytes(nio), "UTF-8").trim)
      case None => MetaFiles.readText(fs, lock).map(_.trim)
    } catch { case _: Exception => None } // vanished or unreadable mid-race

  /** Lock-tag format: `graft-lock <createdMs> <heartbeatMs> <owner> <appId>`.
    * Millis of the holder's LAST HEARTBEAT, or None for a tag that is
    * malformed/truncated (a holder mid-write, or a concurrent heartbeat
    * rewrite) — malformed reads as FRESH, never as stale: a partial read
    * must not trigger a break of a live writer's lock.
    */
  private def heartbeatOf(tag: String): Option[Long] = {
    val t = tag.split(" ")
    if (t.length == 5 && t(0) == "graft-lock") scala.util.Try(t(2).toLong).toOption
    // pre-heartbeat format ("<ms> <appId>"): its timestamp still counts,
    // or a crashed old-format holder could never be broken after upgrade
    else if (t.length == 2) scala.util.Try(t(0).toLong).toOption
    else None
  }

  /** Enforced single-writer: maintenance ops run under an exclusive table
    * lock (create-exclusive `_graft_manifests/.lock` — O_EXCL via
    * java.nio on local filesystems ([[localLockFile]]), hadoop's atomic
    * create on HDFS; object stores would swap in a conditional PUT).
    * Liveness is judged by a
    * HEARTBEAT: the holder rewrites the lock's timestamp every staleMs/5,
    * so a slow-but-alive op (a compaction outliving staleMs) is never
    * mistaken for a crashed one; only a lock whose heartbeat is older than
    * `staleMs` is broken. The break itself is race-safe: the breaker
    * RENAMES the lock to a name derived from the exact tag it observed
    * (one rename wins among concurrent breakers; a delete-based break
    * would let breaker B delete the fresh lock a new holder created after
    * breaker A's delete), confirms the moved file still carries the dead
    * tag, and restores it if a live holder slipped in. Release verifies
    * ownership before deleting. Waiters are bounded by wall time
    * (`maxWaitMs`), not attempt count, sized generously relative to real
    * maintenance durations. Readers never touch the lock — snapshot reads
    * stay coordination-free at any concurrency. Reentrant per thread.
    */
  /** Diagnostics only: with `-Dgraft.lock.trace=<file>`, append one line
    * per lock acquire/release (timestamp, pid, owner, key) — what the
    * cross-process torture spec reads to reconstruct interleavings. A
    * no-op (one getProperty) in normal runs.
    */
  private def lockTrace(msg: => String): Unit = {
    val f = System.getProperty("graft.lock.trace")
    if (f != null)
      try {
        val w = new java.io.FileWriter(f, true)
        try w.write(s"${System.currentTimeMillis()} pid${ProcessHandle.current().pid()} $msg\n")
        finally w.close()
      } catch { case _: Exception => () }
  }

  def withTableLock[T](
      spark: SparkSession,
      root: String,
      staleMs: Long = 10 * 60 * 1000L,
      maxWaitMs: Long = 30 * 60 * 1000L)(body: => T): T = {
    val dir = manifestDir(new Path(root))
    val fs = fsOf(spark, dir)
    val key = dir.toString
    if (heldLocks.get().contains(key)) return body // this thread already holds it
    fs.mkdirs(dir)
    val lock = new Path(dir, ".lock")
    val owner = java.util.UUID.randomUUID().toString
    val createdMs = System.currentTimeMillis()
    def tag(hbMs: Long) = s"graft-lock $createdMs $hbMs $owner ${spark.sparkContext.applicationId}"
    val deadline = createdMs + maxWaitMs
    var acquired = false
    while (!acquired) {
      try {
        // heartbeat = NOW, not createdMs: a writer that queued longer than
        // staleMs would otherwise be born already-stale and instantly
        // broken by the next waiter's poll
        localLockFile(fs, lock) match {
          case Some(nio) =>
            // O_CREAT|O_EXCL — see [[localLockFile]]: hadoop's local
            // create-exclusive has a TOCTOU window across processes
            java.nio.file.Files.createFile(nio)
            java.nio.file.Files.write(nio, tag(System.currentTimeMillis()).getBytes("UTF-8"))
          case None =>
            val out = fs.create(lock, false) // create-exclusive: the atomic acquire
            try out.write(tag(System.currentTimeMillis()).getBytes("UTF-8"))
            finally out.close()
        }
        acquired = true
      } catch {
        // permission failure is NOT contention: an unwritable manifest
        // dir (an MV pinning a read-only source/dim) would otherwise
        // read as "lock held", spin to the 30-minute deadline, and fail
        // with an error the caller's IO degradation paths don't cover.
        // Rethrown as-is, it reaches chainIdentity's IOException catch
        // (AccessDeniedException IS an IOException) and degrades there.
        case e: java.nio.file.AccessDeniedException => throw e
        case e: org.apache.hadoop.security.AccessControlException => throw e
        case _: java.io.IOException =>
          // re-create the parent dir before judging contention: a
          // concurrent no-op drop's skeleton reclaim can delete it after
          // our one-time mkdirs above, and the nio O_EXCL create (unlike
          // hadoop's) does NOT create parents — without this, a missing
          // dir reads as "lock held" and spins to the deadline
          try fs.mkdirs(dir)
          catch { case _: java.io.IOException => () }
          val seen = readLockTag(fs, lock)
          // a malformed/empty tag normally reads as FRESH (a torn
          // heartbeat rewrite must never break a live writer) — but a
          // tag that PERSISTS malformed is an abandoned husk (a crash
          // between the O_EXCL create and the tag write leaves an empty
          // .lock forever): fall back to the FILE's mtime, which a live
          // holder's heartbeat rewrite refreshes every staleMs/5, so
          // only a genuinely writer-less lock ever ages past staleMs
          val stale = seen.exists { t =>
            heartbeatOf(t) match {
              case Some(hb) => System.currentTimeMillis() - hb > staleMs
              case None =>
                try System.currentTimeMillis() -
                  fs.getFileStatus(lock).getModificationTime > staleMs
                catch { case _: java.io.IOException => false } // vanished mid-race: retry
            }
          }
          if (stale) {
            // one grave name per OBSERVED tag: concurrent breakers that saw
            // the same dead tag race to one rename, exactly one wins
            val grave = new Path(dir, s".lock-broken-${Integer.toHexString(seen.get.hashCode)}")
            val renamed = try fs.rename(lock, grave) catch { case _: java.io.IOException => false }
            if (renamed) {
              val got = readLockTag(fs, grave)
              if (got.forall(_ == seen.get)) fs.delete(grave, false) // confirmed dead: broken
              else if (!fs.rename(grave, lock)) {
                // a fresh holder's lock was stolen AND a third writer
                // already re-locked: park the grave as evidence (deleting
                // it would hide the lease violation). This is the lease
                // boundary every heartbeat lock has: a holder whose
                // heartbeat could not be refreshed for >staleMs may lose
                // the lock — operations are not fenced.
              }
            }
          } else {
            if (System.currentTimeMillis() > deadline)
              sys.error(s"table $root still locked by another writer after $maxWaitMs ms ($lock)")
            Thread.sleep(100)
          }
      }
    }
    heldLocks.set(heldLocks.get() + key)
    lockTrace(s"acquire $owner $key")
    val stopHb = new java.util.concurrent.atomic.AtomicBoolean(false)
    val hbThread = new Thread(
      () => {
        val period = math.max(250L, staleMs / 5)
        while (!stopHb.get()) {
          try Thread.sleep(period)
          catch { case _: InterruptedException => () }
          if (!stopHb.get()) {
            try if (readLockTag(fs, lock).exists(_.contains(owner))) {
              // overwrite in place (truncate+rewrite): the path never
              // vanishes, so no create-exclusive acquire can slip in; a
              // reader catching the truncated window parses a malformed
              // tag, which reads as fresh, never as stale
              localLockFile(fs, lock) match {
                case Some(nio) =>
                  java.nio.file.Files.write(nio, tag(System.currentTimeMillis()).getBytes("UTF-8"))
                case None =>
                  val out = fs.create(lock, true)
                  try out.write(tag(System.currentTimeMillis()).getBytes("UTF-8"))
                  finally out.close()
              }
            } catch { case _: Exception => () } // next beat retries
          }
        }
      },
      s"graft-lock-heartbeat-$owner")
    hbThread.setDaemon(true)
    hbThread.start()
    try body
    finally {
      stopHb.set(true)
      hbThread.interrupt()
      // join before deleting: an in-flight heartbeat could otherwise
      // recreate the lock file AFTER the release below, leaving an orphan
      // lock no process will ever delete (blocked writers until staleMs)
      try hbThread.join(5000)
      catch { case _: InterruptedException => () }
      heldLocks.set(heldLocks.get() - key)
      lockTrace(s"release $owner $key")
      // release only if still ours: if a breaker wrongly presumed us dead
      // and another writer holds the lock now, deleting it would unlock a
      // THIRD writer on top of them
      try if (readLockTag(fs, lock).exists(_.contains(owner))) fs.delete(lock, false)
      catch { case _: Exception => () }
    }
  }

  /** Current data files of the table, as root-relative paths (sorted).
    * Skips hidden files/dirs at every level — manifests, archive, staging
    * and `_SUCCESS` markers are never data.
    */
  def listDataFiles(spark: SparkSession, root: String): Seq[String] = {
    val rootPath = new Path(root)
    val fs = fsOf(spark, rootPath)
    val rootUri = rootPath.makeQualified(fs.getUri, fs.getWorkingDirectory).toUri
    def walk(dir: Path): Seq[String] =
      fs.listStatus(dir).toSeq.filterNot(st => isHidden(st.getPath.getName)).flatMap { st =>
        if (st.isDirectory) walk(st.getPath)
        else Seq(rootUri.relativize(st.getPath.toUri).getPath)
      }
    walk(rootPath).sorted
  }

  /** Latest committed manifest version, or 0 if none.
    *
    * The hot metadata call (every read plan, every commit, every
    * streaming trigger), so it must not pay an O(versions) directory
    * listing — a streaming sink committing an epoch per trigger grows
    * the manifest dir into the tens of thousands of files within days.
    * A best-effort `.latest-hint` file (written after every commit)
    * gives a starting point; the answer is then PROBED forward with
    * exists() calls until the next version is absent — exact by
    * construction because versions are dense (every writer claims
    * latest+1): never an undercount (the probe walks past the hint) and
    * never an overcount (the hinted version itself is verified, a
    * stale-ahead or corrupt hint falls back to the listing). Cost:
    * O(commits since the hint) exists() probes, amortized O(1).
    */
  /** A stable identity for this table's MANIFEST CHAIN — the main-table
    * twin of the branch `.chain` nonce: a lazily-minted UUID file in the
    * manifest dir, created exactly once per chain (create-if-absent runs
    * under the table lock; reads are lock-free). Version numbers alone
    * cannot distinguish a table from an out-of-band drop+recreate that
    * reached an equal-or-higher version — but the recreate deleted the
    * whole tree, nonce included, so the recreated chain mints a FRESH
    * UUID and every watermark-carrying consumer (a materialized view's
    * recorded fact/dim pins) can detect that its watermark belongs to a
    * DEAD chain instead of reading the new chain's change feed over the
    * old chain's pin. Dotfile → invisible to orphan GC and the
    * name-targeted manifest sweeps; clones may copy it (identity is only
    * ever compared for the SAME root path). Requires a committed table
    * (the nonce marks a chain, not an empty dir).
    */
  def chainIdentity(spark: SparkSession, root: String): String = {
    val rootPath = new Path(root)
    val dir = manifestDir(rootPath)
    val fs = fsOf(spark, dir)
    val p = new Path(dir, ".chain")
    def read(): Option[String] =
      try MetaFiles.readText(fs, p).map(_.trim).filter(_.nonEmpty)
      catch { case _: java.io.IOException => None }
    read().getOrElse {
      require(
        latestVersion(spark, root) > 0L,
        s"chainIdentity($root): no committed manifest — an empty dir has no chain to identify")
      // the mint WRITES into a dir that readers (an MV refresh pinning
      // its source/dims) may only have read access to — a failed mint
      // degrades to the pre-nonce behavior (empty identity; adoption
      // waits for a writer) instead of failing an otherwise-read-only op
      try
        withTableLock(spark, root) {
          read().getOrElse {
            val fresh = java.util.UUID.randomUUID().toString
            MetaFiles.publish(fs, p, fresh.getBytes("UTF-8"))
            read().getOrElse(fresh)
          }
        }
      catch {
        case e: java.io.IOException =>
          org.slf4j.LoggerFactory
            .getLogger(getClass)
            .warn(s"chainIdentity($root): cannot mint a chain nonce (${e.getMessage}); " +
              "treating the chain as identity-less until a writer mints one")
          ""
      }
    }
  }

  def latestVersion(spark: SparkSession, root: String): Long = {
    val rootPath = new Path(root)
    val dir = manifestDir(rootPath)
    val fs = fsOf(spark, dir)
    if (!fs.exists(dir)) return 0L
    val hinted = readLatestHint(fs, rootPath).filter(v => fs.exists(manifestPath(rootPath, v)))
    hinted match {
      case Some(h) =>
        var v = h
        while (fs.exists(manifestPath(rootPath, v + 1L))) v += 1L
        v
      case None => listLatestVersion(fs, dir)
    }
  }

  private def latestHintPath(root: Path) = new Path(manifestDir(root), ".latest-hint")

  private def readLatestHint(fs: FileSystem, root: Path): Option[Long] =
    try MetaFiles.readLong(fs, latestHintPath(root))
    catch { case _: Exception => None } // racing hint writer: fall back

  /** Best-effort hint refresh after a commit — losing a race or failing
    * outright only costs later readers extra forward probes (or one
    * listing), never a wrong answer.
    */
  private def writeLatestHint(fs: FileSystem, root: Path, version: Long): Unit =
    // concurrent writers race benignly (any committed version is a valid hint)
    try MetaFiles.publish(fs, latestHintPath(root), version.toString.getBytes("UTF-8"), overwrite = true)
    catch { case _: Exception => () }

  private def listLatestVersion(fs: FileSystem, dir: Path): Long =
    fs.listStatus(dir)
      .toSeq
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.endsWith(".manifest") =>
        n.stripPrefix("v").stripSuffix(".manifest").toLong
      }
      .sorted
      .lastOption
      .getOrElse(0L)

  /** Undo Spark's hive-path escaping (`%XX` for characters illegal in a
    * dir name): stats, partition keys and spliced read values must all
    * see the TRUE column value — an escaped `a%3Ab` compared against a
    * queried `a:b` would silently mis-prune.
    */
  def unescapePathName(s: String): String = {
    if (!s.contains('%')) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        val hi = Character.digit(s.charAt(i + 1), 16)
        val lo = Character.digit(s.charAt(i + 2), 16)
        if (hi >= 0 && lo >= 0) {
          sb.append(((hi << 4) | lo).toChar)
          i += 3
        } else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Per-file column statistic recorded in a v2 manifest: `typ` is `l`
    * (integer, compared as Long), `d` (floating, compared as Double) or
    * `s` (string/date, compared lexicographically — ISO dates order
    * correctly). Bounds are inclusive.
    */
  final case class ColStat(typ: String, min: String, max: String)

  // hex-escape manifest stat fields so values can never collide with the
  // line format's separators (tab between entries, colon inside one)
  private def hex(s: String): String =
    s.getBytes("UTF-8").map(b => f"${b & 0xff}%02x").mkString
  private def unhex(h: String): String =
    new String(h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray, "UTF-8")

  private def mergeStat(a: ColStat, b: ColStat): ColStat = a.typ match {
    case "l" =>
      ColStat(
        "l",
        math.min(a.min.toLong, b.min.toLong).toString,
        math.max(a.max.toLong, b.max.toLong).toString)
    case "d" =>
      ColStat(
        "d",
        math.min(a.min.toDouble, b.min.toDouble).toString,
        math.max(a.max.toDouble, b.max.toDouble).toString)
    case _ =>
      ColStat(
        "s",
        if (a.min <= b.min) a.min else b.min,
        if (a.max >= b.max) a.max else b.max)
  }

  /** Does the recorded [min, max] interval intersect the queried
    * [lo, hi]? Types compare in the stat's own domain; a file is only
    * SKIPPED on a definite miss, so pruning can never drop a matching row
    * (null rows never match a range predicate, so all-null chunks are
    * safe to skip too).
    */
  private def overlaps(cs: ColStat, lo: String, hi: String): Boolean =
    overlapsRange(cs, Some(lo), Some(hi))

  /** One-sided-capable variant (None = unbounded on that side) — what a
    * pushed `>=` / `<` filter needs; used by the SQL catalog's file
    * pruning ([[graft.sources.snap.GraftCatalog]]).
    */
  private[sources] def overlapsRange(
      cs: ColStat,
      lo: Option[String],
      hi: Option[String]): Boolean =
    try
      cs.typ match {
        case "l" =>
          hi.forall(h => cs.min.toLong <= h.toLong) && lo.forall(l => cs.max.toLong >= l.toLong)
        case "d" =>
          hi.forall(h => cs.min.toDouble <= h.toDouble) &&
          lo.forall(l => cs.max.toDouble >= l.toDouble)
        case _ =>
          hi.forall(h => cs.min <= h) && lo.forall(l => cs.max >= l)
      }
    catch {
      // a probe value that doesn't parse in the stat's domain (a string
      // filter against a numerically-typed interval, e.g. WHERE code =
      // 'unknown' on a dir layout of numeric codes) can exclude nothing —
      // pruning and runtime filtering may only SKIP work, never fail it
      case _: NumberFormatException => true
    }

  /** Pseudo-column under which a v2 manifest records each file's exact
    * row count (footer metadata) — powers [[countRows]], the
    * metadata-only COUNT(*) of a pinned snapshot.
    */
  val RowCountKey = "__rows"

  /** Pseudo-column under which a v2 manifest records each file's byte
    * length — lets scan statistics ([[graft.sources.snap.SnapV2BatchScan]])
    * and the metadata tables answer size questions from the manifest
    * alone instead of one getFileStatus RPC per file per planning pass.
    */
  val LengthKey = "__bytes"

  /** Pseudo-column under which a v2 manifest records a stats column's
    * exact per-file NULL count (footer `num_nulls`, summed across row
    * groups; a column a file doesn't carry at all — ALTER-added, or the
    * hive null-partition sentinel — counts every row). The NUL-character
    * prefix can never collide with a real column name (hive and parquet
    * both reject NUL in identifiers). Null counts power three things the
    * min/max interval can't: `IS [NOT] NULL` file pruning, skipping
    * all-null files under value predicates, and complete `COUNT(col)` /
    * MIN/MAX aggregate pushdown (an all-null file provably contributes
    * nothing to MIN/MAX even when it has no value interval).
    */
  def nullCountKey(col: String): String = "\u0000nulls:" + col

  /** The recorded null count of `col` in one file's stat map, if the
    * manifest carries a KNOWN one (pre-null-count manifests have no
    * entry; a `u`-typed entry means the footer had no num_nulls — the key
    * exists for the incremental-commit guard but carries no number).
    */
  private[sources] def nullCountOf(st: Map[String, ColStat], col: String): Option[Long] =
    st.get(nullCountKey(col)).filter(_.typ == "l").map(_.min.toLong)

  /** Is file-level range pruning allowed to TRUST this column's recorded
    * interval? Legacy v2 manifests (pre-null-count) recorded string
    * partition stats path-ESCAPED (`a%3Ab` for `a:b`) and the hive null
    * sentinel as a string interval — endpoints from that era compare
    * wrong against true query values, so a `WHERE day = 'a:b'` would
    * wrongly prune the file until a post-upgrade commit re-reads footers.
    * The null-count key doubles as the post-upgrade watermark (it landed
    * in the same commit discipline that fixed the escaping): a string
    * interval without it reads as NO-STAT — keep the file. Numeric/date
    * intervals never carried escaping and stay trusted.
    */
  private[sources] def intervalTrusted(st: Map[String, ColStat], col: String): Boolean =
    st.get(col).forall(cs => cs.typ != "s" || st.contains(nullCountKey(col)))

  /** Provably all-null: recorded null count equals recorded row count.
    * False on missing stats — callers may only SKIP work on `true`.
    */
  private[sources] def allNull(st: Map[String, ColStat], col: String): Boolean = {
    val rows = st.get(RowCountKey).map(_.min.toLong)
    nullCountOf(st, col).exists(n => rows.contains(n))
  }

  // ---- deletion vectors (merge-on-read DELETE) --------------------------

  /** Hidden directory holding deletion-vector sidecars: one small parquet
    * file of `(rel, pos)` rows per DV'd data file — the positions (file
    * row ordinals, the reader's `_pos` domain) a merge-on-read
    * DELETE removed WITHOUT rewriting the data file. Dot-prefixed →
    * invisible to directory listers and manifests, like the archive.
    */
  val DvDirName = ".snap-dv"

  /** Internal stat-key prefix for deletion-vector metadata. The NUL
    * prefix can never collide with a real column (same argument as
    * [[nullCountKey]]); riding the per-file stats map means DV pointers
    * flow through delta commits, checkpoints, partition-index groups and
    * clone re-rendering with no extra machinery.
    */
  val DvKeyPrefix = "\u0000dv:"

  /** `s`-typed stat whose min = max = the sidecar's root-relative path. */
  val DvPathKey: String = DvKeyPrefix + "path"

  /** `l`-typed stat whose value = the file's deleted-position count —
    * what lets COUNT(*) pushdown and scan statistics stay EXACT on a
    * DV'd file (logical rows = recorded rows − this).
    */
  val DvCountKey: String = DvKeyPrefix + "cnt"

  private[sources] def isDvKey(k: String): Boolean = k.startsWith(DvKeyPrefix)

  private[sources] def dvEntries(st: Map[String, ColStat]): Map[String, ColStat] =
    st.filter(e => isDvKey(e._1))

  /** The file's deletion vector, if any: (sidecar rel, deleted count). */
  def dvOf(st: Map[String, ColStat]): Option[(String, Long)] =
    for {
      p <- st.get(DvPathKey).map(_.min)
      n <- st.get(DvCountKey).map(_.min.toLong)
    } yield (p, n)

  def hasDv(st: Map[String, ColStat]): Boolean = st.contains(DvPathKey)

  /** rel → (sidecar rel, deleted count) for every DV'd file of a view —
    * the map every DV-aware read path plans from.
    */
  def dvByRel(view: ManifestView): Map[String, (String, Long)] =
    view.stats.flatMap { case (rel, st) => dvOf(st).map(rel -> _) }

  /** rel → sidecar rel only — what the per-file readers need. */
  def dvPathByRel(view: ManifestView): Map[String, String] =
    dvByRel(view).map { case (rel, (p, _)) => rel -> p }

  /** Does one file's recorded stats admit every inclusive (col, lo, hi)
    * probe? The shared three-clause test of manifest range pruning —
    * distrust escaped-era string intervals, test the overlap, and skip
    * provably-all-null files under value predicates. Used by the read
    * path and BOTH delete paths; may only ever exclude on a definite
    * miss.
    */
  private[sources] def fileMatchesRanges(
      st: Map[String, ColStat],
      ranges: Seq[(String, Option[String], Option[String])]): Boolean =
    ranges.forall { case (c, lo, hi) =>
      (!intervalTrusted(st, c) || st.get(c).forall(cs => overlapsRange(cs, lo, hi))) &&
      !allNull(st, c)
    }

  /** Does the type (recursively) contain a map? Map key order has no
    * canonical physical encoding, so byte-keyed machinery (the change
    * feed's multiset cancellation) cannot trust rewrites of map-typed
    * tables — which is why the bounded-MoR threshold must not rewrite
    * them either.
    */
  private[sources] def containsMapType(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case _: org.apache.spark.sql.types.MapType => true
      case s: org.apache.spark.sql.types.StructType =>
        s.fields.exists(f => containsMapType(f.dataType))
      case a: org.apache.spark.sql.types.ArrayType => containsMapType(a.elementType)
      case _ => false
    }

  /** Logical row count of one file: recorded rows minus recorded deleted
    * positions. None when the manifest predates row counts.
    */
  private[sources] def logicalRowsOf(st: Map[String, ColStat]): Option[Long] =
    st.get(RowCountKey).map(_.min.toLong - dvOf(st).map(_._2).getOrElse(0L))

  /** Provably empty after deletes: every recorded row is deleted. Such a
    * file can be DROPPED from any scan plan — the whole-file analogue of
    * stats pruning. False on missing stats; callers may only skip on true.
    */
  private[sources] def fullyDeleted(st: Map[String, ColStat]): Boolean =
    logicalRowsOf(st).contains(0L) && hasDv(st)

  /** Footer opens performed by the CALLING thread's last stats commit —
    * observability for the incremental-commit contract (SnapshotsSpec
    * asserts an append-commit reads only the NEW files' footers).
    * Thread-local so concurrently-committing suites can't interfere.
    */
  private[sources] val lastCommitFooterReads: ThreadLocal[Long] = new ThreadLocal[Long] {
    override def initialValue(): Long = -1L
  }

  /** Footer min/max of `cols` for one parquet file, merged across its row
    * groups, plus the file's hive `k=v` partition-path values (a partition
    * column's "stats" are exact: min = max = the dir value), plus the
    * file's exact row count under [[RowCountKey]]. Footer-only I/O — the
    * bytes read are the same footer every scan task opens; doing it at
    * COMMIT time moves file skipping from scan time (N footer opens per
    * query) to plan time (zero opens: the manifest already knows).
    */
  private def fileColStats(
      conf: org.apache.hadoop.conf.Configuration,
      file: Path,
      rel: String,
      cols: Seq[String]): Map[String, ColStat] = {
    val partPairs: Seq[(String, String)] = rel
      .split("/")
      .dropRight(1)
      .filter(_.contains("="))
      .toSeq
      .map { seg =>
        val Array(k, v) = seg.split("=", 2)
        // record the TRUE value, not the dir encoding — pruning and
        // aggregate pushdown compare against query-side values
        k -> (if (v == "__HIVE_DEFAULT_PARTITION__") v else unescapePathName(v))
      }
    // the hive null sentinel is NOT a value: recording it as a string
    // interval would make MIN/MAX pushdown return the sentinel text; the
    // null COUNT (= every row, recorded below) is the correct stat for
    // that directory, and value predicates skip it via the all-null rule
    val fromPath: Map[String, ColStat] = partPairs
      .filterNot(_._2 == "__HIVE_DEFAULT_PARTITION__")
      .map { case (k, v) =>
        // type the value the way Spark's partition inference would: a
        // numeric partition value compared lexicographically would prune
        // WRONG files ("9" > "10"), violating the never-drop-a-match
        // contract
        val typ =
          if (scala.util.Try(v.toLong).isSuccess) "l"
          else if (scala.util.Try(v.toDouble).isSuccess) "d"
          else "s"
        k -> ColStat(typ, v, v)
      }
      .toMap
    val want = cols.filterNot(fromPath.contains)
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf))
    val fromFooter =
      try {
        import scala.jdk.CollectionConverters._
        // per-column bookkeeping beyond min/max: how many chunks carried
        // stats at all, how many were provably all-null (no value but a
        // set null count), and the exact null total — an all-null chunk
        // must not void the file's value interval (the other chunks'
        // bounds still cover every VALUE in the file)
        val chunkCount = mutable.Map.empty[String, Int].withDefaultValue(0)
        val allNullChunks = mutable.Map.empty[String, Int].withDefaultValue(0)
        val nullSum = mutable.Map.empty[String, Long].withDefaultValue(0L)
        val nullsKnown = mutable.Map.empty[String, Boolean].withDefaultValue(true)
        for {
          block <- reader.getFooter.getBlocks.asScala
          chunk <- block.getColumns.asScala
          name = chunk.getPath.toDotString
          if want.contains(name)
        } {
          chunkCount(name) += 1
          val st = chunk.getStatistics
          if (st != null && st.isNumNullsSet) nullSum(name) += st.getNumNulls
          else nullsKnown(name) = false
          if (st != null && !st.hasNonNullValue && st.isNumNullsSet &&
            st.getNumNulls == block.getRowCount)
            allNullChunks(name) += 1
        }
        val perChunk = for {
          block <- reader.getFooter.getBlocks.asScala.toSeq
          chunk <- block.getColumns.asScala
          name = chunk.getPath.toDotString
          if want.contains(name)
          st = chunk.getStatistics
          if st != null && st.hasNonNullValue
          prim = chunk.getPrimitiveType
          cs <- prim.getPrimitiveTypeName match {
            case INT32 =>
              val (mn, mx) =
                (st.genericGetMin.asInstanceOf[Number].intValue(), st.genericGetMax.asInstanceOf[Number].intValue())
              prim.getLogicalTypeAnnotation match {
                case _: LogicalTypeAnnotation.DateLogicalTypeAnnotation =>
                  Some(ColStat(
                    "s",
                    java.time.LocalDate.ofEpochDay(mn.toLong).toString,
                    java.time.LocalDate.ofEpochDay(mx.toLong).toString))
                case _ => Some(ColStat("l", mn.toString, mx.toString))
              }
            case INT64 =>
              Some(ColStat(
                "l",
                st.genericGetMin.asInstanceOf[Number].longValue().toString,
                st.genericGetMax.asInstanceOf[Number].longValue().toString))
            case FLOAT | DOUBLE =>
              Some(ColStat(
                "d",
                st.genericGetMin.asInstanceOf[Number].doubleValue().toString,
                st.genericGetMax.asInstanceOf[Number].doubleValue().toString))
            case BINARY if prim.getLogicalTypeAnnotation
                .isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
              Some(ColStat(
                "s",
                st.genericGetMin.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8,
                st.genericGetMax.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8))
            case _ => None // unsupported physical type: no stat, file is never skipped
          }
        } yield name -> cs
        // a column missing stats in ANY row group must drop out entirely
        // (a partial interval could wrongly prune rows of the statless
        // group) — unless the statless groups are provably ALL-NULL, in
        // which case the other groups' interval still bounds every value
        val grouped = perChunk.groupBy(_._1)
        val blocks = reader.getFooter.getBlocks
        val rowGroups = blocks.size()
        val rows = {
          import scala.jdk.CollectionConverters._
          blocks.asScala.map(_.getRowCount).sum
        }
        val valueStats = grouped.collect {
          case (name, entries) if entries.size + allNullChunks(name) == rowGroups =>
            name -> entries.map(_._2).reduce(mergeStat)
        }
        // exact null counts: a column absent from the footer entirely
        // (ALTER-added, or the hive null-partition sentinel) null-fills
        // on read, so its count is every row
        val nullStats = want.map { c =>
          if (chunkCount(c) == 0) nullCountKey(c) -> ColStat("l", rows.toString, rows.toString)
          else if (chunkCount(c) == rowGroups && nullsKnown(c)) {
            val n = nullSum(c)
            nullCountKey(c) -> ColStat("l", n.toString, n.toString)
          } else
            // footers without num_nulls: record UNKNOWN explicitly ('u')
            // rather than omitting the key — the incremental-commit guard
            // keys on the key's presence, and a permanently-absent key
            // would re-read this footer on EVERY commit forever
            nullCountKey(c) -> ColStat("u", "-1", "-1")
        }
        valueStats ++ nullStats ++ Map(RowCountKey -> ColStat("l", rows.toString, rows.toString))
      } finally reader.close()
    val len = file.getFileSystem(conf).getFileStatus(file).getLen
    // a non-sentinel hive partition value is present on every row of the
    // file by construction — null count is exactly zero (the sentinel
    // case fell through to the footer rule above: absent → all rows null)
    val pathNulls: Map[String, ColStat] = partPairs.collect {
      case (k, v) if cols.contains(k) && v != "__HIVE_DEFAULT_PARTITION__" =>
        nullCountKey(k) -> ColStat("l", "0", "0")
    }.toMap
    fromPath.filter(kv => cols.contains(kv._1)) ++ pathNulls ++ fromFooter +
      (LengthKey -> ColStat("l", len.toString, len.toString))
  }

  /** Commit the table's CURRENT file set as the next manifest version.
    * Atomic (temp write + rename); returns the committed version. Runs
    * under the table lock (reentrant when a maintenance op already holds
    * it), so a direct commit can't interleave with a concurrent
    * maintenance op's list-then-commit.
    *
    * With `statsCols` non-empty, a v2 manifest is written: it records the
    * table SCHEMA (pinned reads become evolution-safe — a later
    * column-adding write can't change what version v returns) and
    * per-file min/max for the named columns (footer stats + hive
    * partition-path values), so [[readSnapshot]] can prune the file list
    * from the manifest ALONE — at 100 TB that is planning from one small
    * file instead of opening N footers per query. v1 manifests (plain
    * path-per-line) keep parsing unchanged.
    */
  /** The no-args overload INHERITS the table's existing stats discipline:
    * if the latest manifest was a stats commit, the new commit keeps the
    * same stats columns (incrementally — unchanged files carry forward),
    * so maintenance ops (delete/merge/compact/restore, which all end in
    * this commit) can never silently degrade a stats table back to a
    * plain file list. A table that never had stats commits plain.
    * The inheritance is resolved INSIDE the table lock (reentrant), so a
    * concurrent stats commit landing while this writer queues can't be
    * overridden by a stale pre-lock read.
    */
  def commit(spark: SparkSession, root: String): Long = withTableLock(spark, root) {
    val prev = latestVersion(spark, root)
    val inherited = if (prev > 0L) statsColsOf(spark, root, prev) else Seq.empty
    commit(spark, root, inherited)
  }

  /** Commit with stats columns, INHERITING the table's bloom discipline:
    * a caller that re-states statsCols (the SQL INSERT path) must not
    * silently degrade a bloom-indexed table to a stats-only one.
    */
  def commit(spark: SparkSession, root: String, statsCols: Seq[String]): Long =
    withTableLock(spark, root) {
      val prev = latestVersion(spark, root)
      val inheritedBlooms = if (prev > 0L) manifestView(spark, root, prev).bloomCols else Seq.empty
      commit(spark, root, statsCols, inheritedBlooms)
    }

  def commit(spark: SparkSession, root: String, statsCols0: Seq[String], bloomCols0: Seq[String]): Long =
    withTableLock(spark, root) {
      // the table lock serializes maintenance writers, but LOCK-FREE
      // concurrent appenders ([[commitAppend]]) claim version slots — a
      // lost slot means one slipped in, so re-run the whole attempt
      // (re-list: the appender's file must not read as removed in our
      // manifest; carried-forward stats keep the retry O(delta)). The
      // bound is WALL TIME, not attempts: a crashed claimant's slot only
      // frees via the 60 s staleness breaker, which a short attempt
      // budget could never reach.
      val deadline = System.currentTimeMillis() + SlotRaceDeadlineMs
      // CHECK enforcement is attempt-invariant per rel (files are
      // immutable): remember what each retry already validated so a lost
      // slot race never re-scans the batch
      val checksEnforced = scala.collection.mutable.Set.empty[String]
      var res: Option[Long] = None
      while (res.isEmpty) {
        res = commitOnce(spark, root, statsCols0, bloomCols0, checksEnforced)
        if (res.isEmpty) {
          if (System.currentTimeMillis() > deadline)
            sys.error(
              s"commit on $root could not win a version slot within ${SlotRaceDeadlineMs} ms — giving up")
          Thread.sleep(100) // let a mid-write claimant's manifest land
        }
      }
      res.get
    }

  /** How long a writer keeps retrying lost version-slot races before
    * failing: must exceed the stale-claim threshold (60 s) with margin so
    * a crashed claimant's slot can actually be broken and retried.
    */
  private val SlotRaceDeadlineMs = 150000L

  private def commitOnce(
      spark: SparkSession,
      root: String,
      statsCols0: Seq[String],
      bloomCols0: Seq[String],
      checksEnforced: scala.collection.mutable.Set[String] = scala.collection.mutable.Set.empty)
      : Option[Long] = {
      val rootPath = new Path(root)
      val fs = fsOf(spark, rootPath)
      // version BEFORE the listing — the ordering is load-bearing: a
      // lock-free commitAppend landing DURING a (slow) directory walk
      // must not have its file recorded as removed. With the version read
      // first, an appender that commits mid-listing claims OUR slot, our
      // claim fails, and the retry re-lists; an appender whose file made
      // the listing but whose commit hasn't landed is simply adopted
      // (its own commit then finds nothing fresh). Listing-first would
      // let the appender commit into version-1 and this commit publish a
      // manifest that silently drops the appended file.
      val version = latestVersion(spark, root) + 1L
      val files = listDataFiles(spark, root)
      val dir = manifestDir(rootPath)
      fs.mkdirs(dir)
      val prevView: Option[ManifestView] =
        if (version > 1L) Some(manifestView(spark, root, version - 1L)) else None
      // DDL state carries forward on EVERY commit: dropped-column
      // tombstones (a later inference must not resurrect a dropped
      // column from old files) and the declared hive layout
      val dropped = prevView.map(_.dropped).getOrElse(Seq.empty)
      val partCols = prevView.map(_.partCols).getOrElse(Seq.empty)
      // a stale caller re-stating a since-dropped stats/bloom column must
      // not resurrect it in the table's discipline
      val statsCols = statsCols0.filterNot(dropped.contains)
      val bloomCols = bloomCols0.filterNot(dropped.contains)
      val declared = prevView.flatMap(_.schema)
      // CHECK constraints gate the version's NEW files before any
      // sidecar or manifest side effect — a violating batch refuses here
      // and readers never see it (O(new files), zero when no checks;
      // rels a lost slot race already validated are skipped — immutable)
      val toEnforce = files
        .filterNot(prevView.map(_.rels.toSet).getOrElse(Set.empty[String]))
        .filterNot(checksEnforced)
      Constraints.enforce(spark, root, toEnforce, declared)
      checksEnforced ++= toEnforce
      // once a table records schema metadata it never degrades back to a
      // bare file list: created/evolved schemas, tombstones and layout
      // must survive stats-less commits too
      val v2 = statsCols.nonEmpty || declared.isDefined || dropped.nonEmpty || partCols.nonEmpty
      // Deletion-vector pointers are COMMIT-LAYER state, not footer state:
      // a full recompute (new stats columns, adopted table) reads footers
      // that know nothing of them, so every surviving rel's DV entries
      // carry from the previous version (or the restore override) — a
      // commit that silently dropped a DV pointer would resurrect the
      // deleted rows on the next read.
      val dvSource: Map[String, Map[String, ColStat]] =
        dvCarryOverride
          .get()
          .getOrElse(prevView.map(_.stats).getOrElse(Map.empty[String, Map[String, ColStat]]))
      def withDv(rel: String, st: Map[String, ColStat]): Map[String, ColStat] = {
        val dv = dvSource.get(rel).map(dvEntries).getOrElse(Map.empty[String, ColStat])
        if (dvCarryOverride.get().isDefined) st.filterNot(e => isDvKey(e._1)) ++ dv
        else st ++ dv // carried entries keep their own; fresh footer reads gain prev's
      }
      val statsByRel = scala.collection.mutable.Map.empty[String, Map[String, ColStat]]
      val body: Seq[String] =
        if (!v2) files
        else {
          // The recorded schema is the DECLARED one evolved by what new
          // data actually carries: start from the previous manifest's
          // schema (keeps ALTER-added columns no file has yet, dropped
          // tombstones, and declared widenings) and merge in the footer
          // schemas of files NEW since that manifest — O(delta) I/O, the
          // same incremental discipline as the footer stats. A table
          // recording schema for the first time pays one full
          // mergeSchema inference (same order as its first stats pass).
          // A table truncated to zero live files carries the declared
          // schema forward so pinned reads of the empty version stay
          // typed.
          val evolved: org.apache.spark.sql.types.StructType =
            if (files.isEmpty)
              declared.getOrElse(new org.apache.spark.sql.types.StructType())
            else
              declared match {
                case None =>
                  // a table recording schema for the first time: when the
                  // layout has NO hive path columns the inference reduces
                  // to the data schemas — read the footers driver-side
                  // (bounded batch) and, when every footer agrees (the
                  // overwhelmingly common single-write first commit;
                  // identical schemas merge to themselves in any order),
                  // skip the Spark job the mergeSchema read launches. Any
                  // disagreement, any path column, or a large batch keeps
                  // the full inference, whose merge order is authoritative.
                  val pathColsFirst =
                    (if (partCols.nonEmpty) partCols else partitionColsFromRels(files)).toSet
                  val firstFooters: Option[org.apache.spark.sql.types.StructType] =
                    if (pathColsFirst.nonEmpty || files.size > 256) None
                    else {
                      val fs = new Array[org.apache.spark.sql.types.StructType](files.size)
                      graft.core.Par.each(files.zipWithIndex) { case (rel, i) =>
                        fs(i) = footerSchemaOf(spark, new Path(rootPath, rel))
                      }
                      if (fs.forall(_ == fs(0)))
                        Some(org.apache.spark.sql.graft.BridgeSchema.asNullable(fs(0)))
                      else None
                    }
                  firstFooters.getOrElse(
                    spark.read.option("mergeSchema", "true").parquet(root).schema)
                case Some(base) =>
                  val prevRels = prevView.map(_.rels.toSet).getOrElse(Set.empty[String])
                  val newRels = files.filterNot(prevRels)
                  val pathColsHere =
                    (if (partCols.nonEmpty) partCols else partitionColsFromRels(files)).toSet
                  if (newRels.isEmpty) base
                  else if (pathColsHere.forall(base.fieldNames.contains)) {
                    // every partition column is already declared (its
                    // declared type wins in mergeEvolved regardless of
                    // path inference), so the delta inference reduces to
                    // the DATA schemas: merge the new files' footers
                    // driver-side — same converter, same fold as
                    // mergeSchema's SchemaMergeUtils, WITHOUT the Spark
                    // job DataFrameReader inference launches per commit
                    val footers =
                      new Array[org.apache.spark.sql.types.StructType](newRels.size)
                    // reads parallel (driver metadata I/O), fold in rel
                    // order — deterministic appended-column order
                    graft.core.Par.each(newRels.zipWithIndex) { case (rel, i) =>
                      footers(i) = footerSchemaOf(spark, new Path(rootPath, rel))
                    }
                    // asNullable mirrors the relation-derived schema the
                    // Spark read produced here before (footers keep
                    // parquet required/optional; the read forces nullable)
                    val inferred = org.apache.spark.sql.graft.BridgeSchema.asNullable(
                      footers.reduce(org.apache.spark.sql.graft.BridgeSchema.mergeDataSchemas))
                    mergeEvolved(base, inferred, root, pathColsHere)
                  } else
                    // a path column the declared schema does not know —
                    // keep the full inference (it types the column from
                    // the path strings)
                    mergeEvolved(
                      base,
                      spark.read
                        .option("mergeSchema", "true")
                        .option("basePath", root)
                        .parquet(newRels.map(rel => new Path(rootPath, rel).toString): _*)
                        .schema,
                      root,
                      pathColsHere)
              }
          val schemaRec =
            org.apache.spark.sql.types.StructType(evolved.filterNot(f => dropped.contains(f.name)))
          // which hive path columns are canonically rendered in EVERY
          // file — recorded so a cold planner can consume partition
          // filters without sweeping the list (this commit path is
          // already O(table): it listed the directory)
          val pathColsEff = if (partCols.nonEmpty) partCols else partitionColsFromRels(files)
          val header = renderHeader(
            Some(schemaRec),
            statsCols,
            bloomCols,
            dropped,
            partCols,
            partCanon =
              if (pathColsEff.nonEmpty && files.nonEmpty)
                Some(canonicalPathCols(files, pathColsEff, Some(schemaRec)))
              else None,
            nFiles = Some(files.size.toLong),
            pathCols = if (files.nonEmpty) Some(pathColsEff) else None)
          if (statsCols.isEmpty) {
            // stat-less v2 commit: lines are bare rels EXCEPT where a DV
            // pointer must carry (dropping it would resurrect deleted rows)
            files.foreach(rel => statsByRel(rel) = withDv(rel, Map.empty))
            header ++ files.map(rel => renderFileLine(rel, statsByRel(rel)))
          } else {
          val conf = spark.sparkContext.hadoopConfiguration
          // INCREMENTAL stats: a rel path names one immutable file forever
          // (never reused — see the archive invariant), so the previous
          // manifest's per-file stats are still exact for every file it
          // lists; only files NEW since that manifest need a footer read.
          // At 100 TB this turns the append-commit from O(table) footer
          // opens into O(delta) — the difference between a million opens
          // and one per appended file. Carried forward only when the
          // stats-column set is unchanged (else recompute everything).
          val prevStats: Map[String, Map[String, ColStat]] =
            if (version > 1L && statsColsOf(spark, root, version - 1L) == statsCols)
              fileStats(spark, root, version - 1L)
            else Map.empty
          // carried entries must also carry the null counts this writer
          // records — a pre-null-count entry re-reads its footer ONCE and
          // is carried forward thereafter; footer reads are independent
          // metadata I/O, run in parallel on the driver
          val stats = files.toIndexedSeq.map { rel =>
            rel -> prevStats.get(rel).filter(st =>
              st.nonEmpty && statsCols.forall(c => st.contains(nullCountKey(c))))
          }
          val read = new java.util.concurrent.ConcurrentHashMap[String, Map[String, ColStat]]()
          graft.core.Par.each(stats.collect { case (rel, None) => rel }) { rel =>
            read.put(rel, fileColStats(conf, new Path(rootPath, rel), rel, statsCols))
          }
          lastCommitFooterReads.set(read.size.toLong)
          stats.foreach { case (rel, st) => statsByRel(rel) = withDv(rel, st.getOrElse(read.get(rel))) }
          header ++ stats.map { case (rel, _) =>
            val st = statsByRel(rel)
            if (st.isEmpty) rel
            else
              rel + "\t" + ((statsCols ++ statsCols.map(nullCountKey) :+ RowCountKey :+ LengthKey) ++
                st.keys.filter(isDvKey).toSeq.sorted)
                .flatMap(c => st.get(c).map(cs => s"${hex(c)}:${cs.typ}:${hex(cs.min)}:${hex(cs.max)}"))
                .mkString("\t")
          }
          }
        }
      require(
        bloomCols.isEmpty || statsCols.nonEmpty,
        "bloom sidecars ride on a v2 stats commit — pass statsCols (at least the partition column)")
      // bloom sidecars BEFORE the manifest lands: a reader of version N
      // must never see its #bloomcols promise unfulfilled. A rel names one
      // immutable file forever (archive invariant), so a sidecar keyed by
      // (rel, col) is computed ONCE — commits only build the missing
      // pairs, the same O(delta) discipline as the footer stats.
      // SUM sidecars ride the pass even on a bloom-less stats table —
      // manifest-only SUM/AVG must not silently require declared blooms
      if (bloomCols.nonEmpty || statsCols.nonEmpty)
        buildSidecars(spark, root, files, bloomCols, statsCols = statsCols)
      // DELTA vs checkpoint: off-interval v2 commits record only what
      // changed vs the previous version — the manifest WRITE becomes
      // O(delta) like the footer-stat pass (a million-file table's append
      // commit writes a few lines, not ~100 MB). Falls back to the full
      // body when the delta wouldn't be smaller (restore, stats-column
      // change) or a rel collides with the +/- line prefixes.
      val chosen: Seq[String] =
        if (!v2 || isCheckpointVersion(spark, version) || prevView.isEmpty) body
        else {
          val prev = prevView.get
          val header = body.filter(_.startsWith("#"))
          val fileLines = body.filterNot(_.startsWith("#"))
          val lineByRel = fileLines.map(l => l.split("\t").head -> l).toMap
          val prevRels = prev.rels.toSet
          val filesSet = files.toSet
          val removed = prev.rels.filterNot(filesSet).sorted
          val changedOrAdded = files.filter { rel =>
            !prevRels.contains(rel) ||
            prev.stats.getOrElse(rel, Map.empty) != statsByRel.getOrElse(rel, Map.empty)
          }.sorted
          val unsafe =
            (removed ++ changedOrAdded).exists(r => r.startsWith("+") || r.startsWith("-"))
          if (unsafe) body
          else {
            val deltaBody = header ++ Seq(s"#delta ${version - 1L}") ++
              removed.map("-" + _) ++ changedOrAdded.map(rel => "+" + lineByRel(rel))
            if (deltaBody.map(_.length + 1L).sum < body.map(_.length + 1L).sum) deltaBody
            else body
          }
        }
      if (tryWriteManifest(fs, rootPath, version, chosen)) Some(version) else None
    }

  /** O(delta) append commit: record `addedRels` (root-relative paths of
    * data files the caller ALREADY wrote under the table root) as the
    * next version WITHOUT listing the directory — the writer knows what
    * it added, so a million-file table's streaming epoch costs one
    * manifest-chain read, the new files' footer stats, and a few-line
    * delta write. The table's stats/bloom/DDL discipline carries forward;
    * the recorded schema evolves by what the new files carry (same rules
    * as [[commit]]). Rels already in the previous version are ignored
    * (the exactly-once replay case); an empty fresh set returns the
    * previous version unchanged — no empty manifest churn.
    *
    * CONCURRENCY: append commits are LOCK-FREE optimistic — pure file
    * additions never conflict with each other, so two appenders don't
    * serialize on the table lock (the Iceberg/Delta concurrent-append
    * path). The atomic version-slot claim ([[tryWriteManifest]]'s
    * rename) decides races: a loser re-reads the new latest version,
    * REBASES its delta on it (per-file stats are immutable and cached
    * across attempts — the retry is metadata-only), and claims the next
    * slot, bounded times. Safe against concurrent maintenance too: the
    * locked [[commit]] path re-lists and retries when an appender takes
    * its slot, so neither side ever publishes a manifest that drops the
    * other's files.
    */
  /** `checksPreEnforced`: set ONLY by a caller that already enforced the
    * current check set over exactly `addedRels` AND holds the table lock
    * (fast-forward — addCheck takes the same lock, so the set cannot
    * change under it); the commit then skips its own enforcement scan
    * instead of reading the same bytes twice.
    */
  def commitAppend(
      spark: SparkSession,
      root: String,
      addedRels: Seq[String],
      checksPreEnforced: Boolean = false): Long = {
    val rootPath = new Path(root)
    val fs = fsOf(spark, rootPath)
    val conf = spark.sparkContext.hadoopConfiguration
    // per-rel stats and blooms are attempt-invariant (a rel names one
    // immutable file): computed once, reused across rebase attempts
    val newStats = new java.util.concurrent.ConcurrentHashMap[String, Map[String, ColStat]]()
    var bloomsBuilt = false
    // the check-set FINGERPRINT the last enforcement validated against:
    // this face is lock-free, so an addCheck (which holds the table lock
    // this path never takes) can land between our validation and our slot
    // claim — a changed fingerprint forces a re-validation
    var enforcedChecks: Option[String] =
      if (checksPreEnforced) Some(Constraints.fingerprint(spark, root)) else None
    // the fresh files' merged footer schema is attempt-invariant unless a
    // concurrent DDL changes the declared base — cache it keyed by that
    // base so a rebase retry is metadata-only (like the stats and blooms)
    var evolvedCache: Option[(Option[org.apache.spark.sql.types.StructType],
      Option[org.apache.spark.sql.types.StructType])] = None
    val deadline = System.currentTimeMillis() + SlotRaceDeadlineMs
    var result = -1L
    while (result < 0L) {
      val prevV = latestVersion(spark, root)
      require(
        prevV > 0L,
        s"commitAppend($root): no manifest yet — adopt the table with commit() first")
      val prev = manifestView(spark, root, prevV)
      val prevRels = prev.rels.toSet
      val candidates = addedRels.distinct.filterNot(prevRels).sorted
      // a candidate that is neither in the previous manifest nor live was
      // ARCHIVED by a concurrent writer — but archived does NOT always
      // mean adopted: a maintenance commit that LISTED the file archives
      // it after rewriting its rows (they are in the table — skip), while
      // an INSERT OVERWRITE archives every live file of its partitions
      // WITHOUT adopting rows that were never committed. Silently
      // skipping the second case would drop acknowledged rows, so the
      // skip is allowed only when some committed manifest provably listed
      // the rel; otherwise this is a real write conflict — fail loudly so
      // the appender rewrites its data and retries.
      val fresh = candidates.filter { rel =>
        if (fs.exists(new Path(rootPath, rel))) true
        else {
          val arch = new Path(new Path(rootPath, ArchiveDirName), rel)
          if (fs.exists(arch)) {
            if (relEverCommitted(spark, root, rel, fs.getFileStatus(arch).getModificationTime))
              false // adopted and rewritten by maintenance: rows are in the table
            else
              sys.error(
                s"commitAppend($root): $rel was archived by a concurrent overwrite before this " +
                  "append committed — its rows were never adopted by any manifest; rewrite the " +
                  "data files and retry the append")
          } else
            sys.error(s"commitAppend($root): $rel is not a live file under the table root")
        }
      }
      if (fresh.isEmpty) result = prevV
      else {
        val version = prevV + 1L
        val statsCols = prev.statsCols
        // CHECK constraints gate the appended files BEFORE sidecars or
        // the manifest land; attempt-invariant while the check SET is
        // (rels are immutable) — a concurrently-recorded check changes
        // the fingerprint and forces a re-validation on the retry
        val checkFp = Constraints.fingerprint(spark, root)
        if (!enforcedChecks.contains(checkFp)) {
          Constraints.enforce(spark, root, fresh, prev.schema)
          enforcedChecks = Some(checkFp)
        }
        // evolved schema: the declared base merged with what the new
        // files carry — one O(delta) footer-schema read, computed once
        // and reused across rebase attempts (recomputed only if a
        // concurrent DDL changed the declared base)
        val evolved = evolvedCache match {
          case Some((base, result0)) if base == prev.schema => result0
          case _ =>
            val computed = prev.schema.map { base =>
              mergeEvolved(
                base,
                spark.read
                  .option("mergeSchema", "true")
                  .option("basePath", root)
                  .parquet(fresh.map(rel => new Path(rootPath, rel).toString): _*)
                  .schema,
                root,
                (if (prev.partCols.nonEmpty) prev.partCols
                 else partitionColsFromRels(prev.rels ++ fresh)).toSet)
            }
            evolvedCache = Some((prev.schema, computed))
            computed
        }
        if (statsCols.nonEmpty) {
          val missing = fresh.filterNot(newStats.containsKey)
          val reads = new java.util.concurrent.atomic.AtomicLong(0L)
          graft.core.Par.each(missing) { rel =>
            reads.incrementAndGet()
            newStats.put(rel, fileColStats(conf, new Path(rootPath, rel), rel, statsCols))
          }
          lastCommitFooterReads.set(reads.get())
        }
        if ((prev.bloomCols.nonEmpty || statsCols.nonEmpty) && !bloomsBuilt) {
          buildSidecars(spark, root, fresh, prev.bloomCols, statsCols = statsCols)
          bloomsBuilt = true
        }
        def statOf(rel: String): Map[String, ColStat] =
          Option(newStats.get(rel)).getOrElse(Map.empty)
        val header = renderHeader(
          evolved.map(s =>
            org.apache.spark.sql.types
              .StructType(s.filterNot(f => prev.dropped.contains(f.name)))),
          statsCols,
          prev.bloomCols,
          prev.dropped,
          prev.partCols,
          // canonicality carries O(delta): the previous version's recorded
          // set intersected with what THIS slice's paths render canonically
          // (an unknown — pre-partcanon — base stays unknown)
          partCanon = headerView(spark, root, prevV)
            .flatMap(_.partCanon)
            .map(pc => canonicalPathCols(fresh, pc, evolved.orElse(prev.schema))),
          nFiles = Some((prev.rels.size + fresh.size).toLong),
          pathCols = Some(
            if (prev.partCols.nonEmpty) prev.partCols
            else partitionColsFromRels(prev.rels ++ fresh)))
        val freshLines = fresh.map(rel => renderFileLine(rel, statOf(rel)))
        val body =
          if (isCheckpointVersion(spark, version) ||
            fresh.exists(r => r.startsWith("+") || r.startsWith("-")))
            header ++ (prev.rels.map(rel => rel -> prev.stats.getOrElse(rel, Map.empty)) ++
              fresh.map(rel => rel -> statOf(rel)))
              .sortBy(_._1)
              .map { case (rel, st) => renderFileLine(rel, st) }
          else header ++ Seq(s"#delta $prevV") ++ freshLines.map("+" + _)
        // re-read the check fingerprint AT the claim: the stats/bloom
        // builds above can take long enough for an addCheck to land
        // mid-attempt — a changed set retries the attempt (the builds are
        // cached, so the retry re-validates and re-claims, nothing more)
        if (enforcedChecks.exists(_ != Constraints.fingerprint(spark, root))) {
          enforcedChecks = None
        } else if (tryWriteManifest(fs, rootPath, version, body)) result = version
        else if (System.currentTimeMillis() > deadline)
          sys.error(
            s"commitAppend on $root could not win a version slot within ${SlotRaceDeadlineMs} ms — giving up")
        else Thread.sleep(100) // another writer claimed the slot: rebase and retry
      }
    }
    result
  }

  /** Was `rel` ever listed by a committed manifest? Walks versions
    * newest-first, reading each version's own contribution (a delta's
    * added list, a checkpoint's full list), and stops below manifests
    * committed before the file existed (`sinceMs`, with a 2 s mtime-
    * granularity margin) — a manifest committed before the file was
    * created cannot have adopted it, so the walk is O(commits since the
    * file landed), cache-served. Only consulted on the rare
    * archived-candidate path of [[commitAppend]].
    */
  private def relEverCommitted(
      spark: SparkSession,
      root: String,
      rel: String,
      sinceMs: Long): Boolean = {
    def listedBy(v: Long): Boolean = {
      val view = manifestView(spark, root, v)
      view.delta match {
        case Some((_, added, _)) => added.contains(rel)
        case None => view.rels.contains(rel)
      }
    }
    val all = manifestVersions(spark, root)
    val (recent, older) = all.partition { case (_, ms) => ms >= sinceMs - 2000L }
    recent.map(_._1).sorted(Ordering[Long].reverse).exists(listedBy) ||
    // the `sinceMs` cutoff assumes the archive rename preserved the
    // file's mtime (true on local FS and HDFS); a copy-based archival
    // (object-store connectors) stamps the ARCHIVE instant instead and
    // would wrongly exclude the adopting manifest — so before declaring
    // a write CONFLICT, fall back to the full (cache-served) walk.
    // Correct-but-slower beats a spurious hard failure on the rare path.
    older.map(_._1).sorted(Ordering[Long].reverse).exists(listedBy)
  }

  /** Commit a new version that RE-STATES the per-file stats of existing
    * rels — same file list, same bytes, changed metadata (the
    * deletion-vector commit: a merge-on-read DELETE updates the touched
    * files' DV pointers and nothing else). O(restated) delta write on
    * off-checkpoint versions, like [[commitAppend]]. Caller holds the
    * table lock (DV commits are maintenance — they must serialize with
    * other row-removing ops); lock-free APPENDS may still take version
    * slots mid-flight, which is safe (an append never touches an existing
    * rel's stats) — the slot-claim loop rebases like every other commit.
    */
  /** `addedRels`: data files the caller already landed under the root to
    * record in the SAME version (the merge-on-read UPDATE/MERGE shape —
    * deletes restate pointers, reinserted rows arrive as new files, ONE
    * atomic commit covers both). Their footer stats and bloom sidecars
    * follow the table's discipline, computed once across retry attempts.
    * `removedRels`: rels the caller already ARCHIVED to drop from the
    * manifest (the bounded-MoR rewrite: a file whose deleted fraction
    * crossed the threshold is replaced instead of pointed at).
    */
  /** `addedDv`: deletion-vector stat entries to merge onto an added
    * rel's freshly-computed footer stats — what a branch fast-forward
    * needs when an adopted file already carries a vector (footer reads
    * know nothing of DV state).
    */
  private[sources] def commitRestated(
      spark: SparkSession,
      root: String,
      restated: Map[String, Map[String, ColStat]],
      addedRels: Seq[String] = Seq.empty,
      removedRels: Seq[String] = Seq.empty,
      addedDv: Map[String, Map[String, ColStat]] = Map.empty,
      checksPreEnforced: Boolean = false): Long = withTableLock(spark, root) {
    require(
      restated.nonEmpty || addedRels.nonEmpty || removedRels.nonEmpty,
      "commitRestated: nothing to commit")
    require(
      removedRels.toSet.intersect(restated.keySet).isEmpty,
      "commitRestated: a rel cannot be both restated and removed")
    val rootPath = new Path(root)
    val fs = fsOf(spark, rootPath)
    val conf = spark.sparkContext.hadoopConfiguration
    val added = addedRels.distinct.sorted
    val removed = removedRels.distinct.sorted
    require(
      removed.toSet.intersect(added.toSet).isEmpty,
      "commitRestated: a rel cannot be both added and removed")
    val newStats = new java.util.concurrent.ConcurrentHashMap[String, Map[String, ColStat]]()
    var bloomsBuilt = false
    // pre-enforced (see commitAppend's note): the caller scanned exactly
    // these rels under the same lock — the set cannot have changed
    var checksEnforced = checksPreEnforced
    val deadline = System.currentTimeMillis() + SlotRaceDeadlineMs
    var result = -1L
    while (result < 0L) {
      val prevV = latestVersion(spark, root)
      require(prevV > 0L, s"commitRestated($root): no manifest committed yet")
      val prev = manifestView(spark, root, prevV)
      val missing = (restated.keys ++ removed).filterNot(prev.rels.toSet)
      require(
        missing.isEmpty,
        s"commitRestated($root): rel(s) not in v$prevV: ${missing.take(3).mkString(", ")}")
      val dupes = added.filter(prev.rels.toSet)
      require(
        dupes.isEmpty,
        s"commitRestated($root): added rel(s) already in v$prevV: ${dupes.take(3).mkString(", ")}")
      // CHECK constraints gate the added files (upsert/CDC images, branch
      // adoptions) before sidecars or the manifest land; attempt-invariant.
      // An adopted branch file may arrive ALREADY vectored (a branch MoR
      // delete hit a branch append) — enforce over its live rows only, the
      // same view the committed manifest will serve
      if (added.nonEmpty && !checksEnforced) {
        Constraints.enforce(
          spark, root, added, prev.schema, addedDv)
        checksEnforced = true
      }
      if (prev.statsCols.nonEmpty) {
        val missingStats = added.filterNot(newStats.containsKey)
        graft.core.Par.each(missingStats) { rel =>
          newStats.put(rel, fileColStats(conf, new Path(rootPath, rel), rel, prev.statsCols))
        }
      }
      if ((prev.bloomCols.nonEmpty || prev.statsCols.nonEmpty) && added.nonEmpty && !bloomsBuilt) {
        buildSidecars(spark, root, added, prev.bloomCols, statsCols = prev.statsCols)
        bloomsBuilt = true
      }
      def statOf(rel: String): Map[String, ColStat] =
        Option(newStats.get(rel)).getOrElse(Map.empty[String, ColStat]) ++
          addedDv.getOrElse(rel, Map.empty[String, ColStat])
      val version = prevV + 1L
      val removedSet = removed.toSet
      val header = renderHeader(
        prev.schema,
        prev.statsCols,
        prev.bloomCols,
        prev.dropped,
        prev.partCols,
        partCanon = headerView(spark, root, prevV)
          .flatMap(_.partCanon)
          .map(pc =>
            if (added.isEmpty) pc
            else canonicalPathCols(added, pc, prev.schema)),
        nFiles = Some((prev.rels.size - removed.size + added.size).toLong),
        pathCols = Some(
          if (prev.partCols.nonEmpty) prev.partCols
          else partitionColsFromRels(prev.rels.filterNot(removedSet) ++ added)))
      val unsafe =
        (restated.keys ++ added ++ removed).exists(r => r.startsWith("+") || r.startsWith("-"))
      val body =
        if (isCheckpointVersion(spark, version) || unsafe)
          header ++ (prev.rels.filterNot(removedSet).map(rel =>
            rel -> restated.getOrElse(rel, prev.stats.getOrElse(rel, Map.empty))) ++
            added.map(rel => rel -> statOf(rel)))
            .sortBy(_._1)
            .map { case (rel, st) => renderFileLine(rel, st) }
        else
          header ++ Seq(s"#delta $prevV") ++ removed.map("-" + _) ++
            (restated.toSeq.sortBy(_._1) ++ added.map(rel => rel -> statOf(rel)))
              .map { case (rel, st) => "+" + renderFileLine(rel, st) }
      if (tryWriteManifest(fs, rootPath, version, body)) result = version
      else if (System.currentTimeMillis() > deadline)
        sys.error(
          s"commitRestated on $root could not win a version slot within ${SlotRaceDeadlineMs} ms")
      else Thread.sleep(100)
    }
    result
  }

  /** Rels whose deletion-vector pointer CHANGED at version `v` relative
    * to v−1, with the old and new (sidecar rel, count): what the change
    * feed and the streaming source's change-commit detection key on. A
    * delta version only needs its restated rels compared; a full
    * (checkpoint/restore) version compares the common rels — in-memory
    * map lookups over cached views.
    */
  def dvChangedRels(
      spark: SparkSession,
      root: String,
      v: Long): Seq[(String, Option[(String, Long)], Option[(String, Long)])] = {
    if (v <= 1L) return Seq.empty
    val view = manifestView(spark, root, v)
    val prev = manifestView(spark, root, v - 1L)
    val candidates = view.delta match {
      case Some(_) => view.restated
      case None =>
        val prevSet = prev.rels.toSet
        view.rels.filter(prevSet)
    }
    candidates.flatMap { rel =>
      val old = dvOf(prev.stats.getOrElse(rel, Map.empty))
      val now = dvOf(view.stats.getOrElse(rel, Map.empty))
      if (old != now) Some((rel, old, now)) else None
    }
  }

  /** Atomic version-slot CLAIM + manifest write — the primitive both the
    * locked commits and the lock-free concurrent appenders build on.
    *
    * The claim is a CREATE-EXCLUSIVE `.claim-v…` marker (atomic on local
    * FS and HDFS; an object store would swap in a conditional PUT) — NOT
    * a rename onto the target: hadoop's local rename REPLACES an existing
    * destination (POSIX rename(2)), so two racers renaming onto one slot
    * would tear the file. Only the claim winner temp+renames the real
    * manifest (uncontended), then releases the claim. A loser whose
    * claimant CRASHED mid-write (claim older than 60 s, no manifest) can
    * break the claim with the same rename-to-grave discipline the table
    * lock uses. `false` = slot lost — the caller rebases and retries.
    */
  /** Same-JVM slot claims: `create(claim, false)` is check-then-act on
    * the local filesystem (HDFS's create is server-side atomic), so two
    * THREADS of one driver could both win it — the realistic contention
    * mode on local[*]. A putIfAbsent here makes in-process claims truly
    * atomic; cross-process local-FS writers carry the same best-effort
    * caveat the table lock documents.
    */
  private val jvmClaims = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[sources] def tryWriteManifest(
      fs: FileSystem,
      rootPath: Path,
      version: Long,
      body: Seq[String]): Boolean = {
    val dir = manifestDir(rootPath)
    fs.mkdirs(dir)
    val target = manifestPath(rootPath, version)
    val claim0 = new Path(dir, f".claim-v$version%010d")
    if (fs.exists(target)) {
      // the slot is decided forever (versions never reused) — reap the
      // orphan claim a winner that crashed between its target rename and
      // claim delete left behind (the staleness breaker can't: it
      // requires target ABSENCE). Best-effort; the winner's own release
      // is ownership-checked and tolerates the file vanishing.
      try if (fs.exists(claim0)) fs.delete(claim0, false)
      catch { case _: Exception => () }
      return false
    }
    val claim = claim0
    val owner = java.util.UUID.randomUUID().toString
    val claimKey = claim.makeQualified(fs.getUri, fs.getWorkingDirectory).toString
    if (jvmClaims.putIfAbsent(claimKey, owner) != null) return false
    try {
      val ok = tryWriteManifestClaimed(fs, dir, target, claim, owner, body)
      if (ok) writeLatestHint(fs, rootPath, version) // best-effort
      ok
    } finally jvmClaims.remove(claimKey)
  }

  // ---- partition-indexed checkpoints (O(selected-partitions) planning) --

  /** The leading `#` lines of manifest `version` parsed into the fields a
    * planner needs before it knows which files it wants — ONE buffered
    * read that stops at the first body line, so it costs O(header) at any
    * table size (the header sits at the top of both checkpoints and
    * deltas, and a delta's header fields are authoritative for its
    * version). None for v1 manifests (no header to read).
    */
  final case class HeaderView(
      schema: Option[org.apache.spark.sql.types.StructType],
      statsCols: Seq[String],
      bloomCols: Seq[String],
      dropped: Seq[String],
      partCols: Seq[String],
      /** Some(cols) = the commit RECORDED which hive path columns are
        * canonically rendered in every file (possibly empty); None = an
        * older manifest that didn't — the reader must sweep the file list
        * to decide filter consumption.
        */
      partCanon: Option[Seq[String]],
      /** The version's full live-file count as the commit recorded it —
        * what lets a pruned plan report `kept/total` without the list.
        */
      nFiles: Option[Long],
      /** The EFFECTIVE hive layout (declared `#partcols`, or derived from
        * the file paths at commit time — adopted tables have the latter
        * only). Some(empty) = recorded flat; None = not recorded.
        */
      pathCols: Option[Seq[String]],
      deltaBase: Option[Long])

  def headerView(spark: SparkSession, root: String, version: Long = -1L): Option[HeaderView] = {
    val v = if (version > 0) version else latestVersion(spark, root)
    if (v <= 0) return None
    val p = manifestPath(new Path(root), v)
    val fs = fsOf(spark, p)
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    val header = mutable.ArrayBuffer.empty[String]
    try {
      val rd = new java.io.BufferedReader(new java.io.InputStreamReader(in, "UTF-8"))
      var line = rd.readLine()
      while (line != null && line.startsWith("#")) {
        header += line.trim
        line = rd.readLine()
      }
    } finally in.close()
    if (!header.headOption.exists(_.startsWith("#graft-manifest"))) None
    else {
      val (schema, statsCols, bloomCols, dropped, partCols) = parseHeader(header.toSeq)
      val canon = header.find(_.startsWith("#partcanon")).map { l =>
        l.stripPrefix("#partcanon").trim match {
          case "-" | "" => Seq.empty[String]
          case cols => cols.split(",").toSeq.map(_.trim).filter(_.nonEmpty)
        }
      }
      val nFiles = header
        .find(_.startsWith("#nfiles "))
        .flatMap(l => scala.util.Try(l.stripPrefix("#nfiles ").trim.toLong).toOption)
      val pathCols = header.find(_.startsWith("#pathcols")).map { l =>
        l.stripPrefix("#pathcols").trim match {
          case "-" | "" => Seq.empty[String]
          case cols => cols.split(",").toSeq.map(_.trim).filter(_.nonEmpty)
        }
      }
      val base = header
        .find(_.startsWith("#delta "))
        .map(_.stripPrefix("#delta ").trim.toLong)
      Some(HeaderView(schema, statsCols, bloomCols, dropped, partCols, canon, nFiles, pathCols, base))
    }
  }

  /** The hive path columns whose value in EVERY given rel is the canonical
    * rendering of the declared type (missing segments disqualify; the null
    * sentinel is fine — null-ness matchers handle it). This is exactly the
    * sweep the catalog's filter-consumption gate does per query; recording
    * its result as `#partcanon` at commit time (O(table) commit paths pay
    * it once; append commits intersect with their O(delta) slice) lets a
    * cold planner consume partition filters without parsing the file list.
    */
  private[sources] def canonicalPathCols(
      rels: Seq[String],
      pathCols: Seq[String],
      schema: Option[org.apache.spark.sql.types.StructType]): Seq[String] =
    schema
      .map { s =>
        pathCols.filter { c =>
          s.fields.find(_.name == c).map(_.dataType).exists { t =>
            // the canonical-rendering domains (exactly the catalog gate's
            // whitelist) — checked explicitly so the vacuous truth over an
            // EMPTY table never admits a float/double partition column
            (t match {
              case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
                  org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType |
                  org.apache.spark.sql.types.DateType | org.apache.spark.sql.types.StringType =>
                true
              case _ => false
            }) &&
            rels.forall { r =>
              snap.SnapFilters.partSegments(r).get(c) match {
                case Some(raw) =>
                  snap.SnapFilters.segValue(raw).forall(v => snap.SnapFilters.canonicalValue(v, t))
                case None => false
              }
            }
          }
        }
      }
      .getOrElse(Seq.empty)

  private def partCanonLine(canon: Seq[String]): String =
    s"#partcanon ${if (canon.isEmpty) "-" else canon.mkString(",")}"

  /** THE one manifest-header renderer — every commit path (full commit,
    * lock-free append, DDL, clone) funnels through it, so the header
    * format is one function and a new field can never be half-adopted
    * (this round's clone bug was exactly a header site drifting from the
    * others). `pathCols = Some(Seq.empty)` renders the known-flat
    * sentinel; None omits the line (unknown).
    */
  private def renderHeader(
      schema: Option[org.apache.spark.sql.types.StructType],
      statsCols: Seq[String],
      bloomCols: Seq[String],
      dropped: Seq[String],
      partCols: Seq[String],
      partCanon: Option[Seq[String]],
      nFiles: Option[Long],
      pathCols: Option[Seq[String]]): Seq[String] =
    Seq("#graft-manifest 2") ++
      schema.map(s => s"#schema ${s.json}").toSeq ++
      (if (statsCols.nonEmpty) Seq(s"#statscols ${statsCols.mkString(",")}") else Seq.empty) ++
      (if (bloomCols.nonEmpty) Seq(s"#bloomcols ${bloomCols.mkString(",")}") else Seq.empty) ++
      (if (dropped.nonEmpty) Seq(s"#dropped ${dropped.map(hex).mkString(",")}") else Seq.empty) ++
      (if (partCols.nonEmpty) Seq(s"#partcols ${partCols.mkString(",")}") else Seq.empty) ++
      partCanon.map(partCanonLine).toSeq ++
      nFiles.map(n => s"#nfiles $n").toSeq ++
      pathCols.map(eff => s"#pathcols ${if (eff.isEmpty) "-" else eff.mkString(",")}").toSeq

  /** Sidecar path of a checkpoint's partition index. */
  private def pidxPath(target: Path) = new Path(target.getParent, target.getName + ".pidx")

  /** Bytes of manifest text read by the CALLING thread's last pruned or
    * full view load — observability for the O(selected) planning spec.
    */
  private[sources] val lastManifestBytesRead: ThreadLocal[Long] = new ThreadLocal[Long] {
    override def initialValue(): Long = 0L
  }

  /** One contiguous run of file lines sharing a hive partition directory:
    * byte range [start, end) inside the manifest file.
    */
  private final case class PidxGroup(dir: String, start: Long, end: Long)

  /** Write the partition-index sidecar of a FULL manifest: after the
    * header's byte length, one `(partition-dir, start, end)` byte range
    * per contiguous run of file lines sharing a hive directory — body
    * lines are sorted by rel, so each directory's files are one run. A
    * reader with a partition predicate then positioned-reads ONLY the
    * selected runs: planning cost goes from O(table files) manifest
    * parsing to O(selected partitions) — the Iceberg manifest-list idea
    * in one sidecar. BEST-EFFORT: written after the manifest lands,
    * validated by total byte length on read; absent/stale/corrupt
    * sidecars fall back to the full parse, never to a wrong answer.
    */
  private def writePartitionIndex(fs: FileSystem, target: Path, body: Seq[String]): Unit =
    try {
      if (body.exists(_.startsWith("#delta "))) return // deltas are already O(delta)
      val lens = body.map(_.getBytes("UTF-8").length.toLong + 1L) // + newline
      val total = lens.sum
      var off = 0L
      var headerEnd = 0L
      val groups = mutable.ArrayBuffer.empty[PidxGroup]
      body.zip(lens).foreach { case (line, len) =>
        if (line.startsWith("#")) {
          require(groups.isEmpty && headerEnd == off, "header lines must lead the manifest")
          headerEnd = off + len
        } else {
          val rel = line.split("\t").head
          val cut = rel.lastIndexOf('/')
          val dir = if (cut < 0) "" else rel.substring(0, cut)
          groups.lastOption match {
            case Some(g) if g.dir == dir && g.end == off =>
              groups(groups.length - 1) = g.copy(end = off + len)
            case _ => groups += PidxGroup(dir, off, off + len)
          }
        }
        off += len
      }
      if (groups.size < 2) return // one group (or none): nothing to prune
      val nFiles = body.count(!_.startsWith("#"))
      val lines = Seq(s"#graft-pidx 1 $total $headerEnd $nFiles") ++
        groups.map(g => s"${hex(g.dir)}:${g.start}:${g.end}")
      MetaFiles.publish(fs, pidxPath(target), (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    } catch { case _: Exception => () } // sidecars are an optimization only

  /** Parse a checkpoint's partition index, validated against the manifest
    * file's CURRENT byte length (a stale or torn sidecar reads as
    * absent). Returns (headerEnd, totalFileLines, groups).
    */
  private def readPartitionIndex(
      fs: FileSystem,
      target: Path): Option[(Long, Long, Seq[PidxGroup])] =
    try {
      MetaFiles.readText(fs, pidxPath(target)).flatMap { text =>
        val lines = text.split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
        val head = lines.head.split(" ")
        if (head.length != 5 || head(0) != "#graft-pidx" || head(1) != "1") None
        else if (head(2).toLong != fs.getFileStatus(target).getLen) None // stale
        else {
          val headerEnd = head(3).toLong
          val nFiles = head(4).toLong
          val groups = lines.tail.map { l =>
            val Array(d, s, e) = l.split(":", 3)
            PidxGroup(unhex(d), s.toLong, e.toLong)
          }
          Some((headerEnd, nFiles, groups))
        }
      }
    } catch { case _: Exception => None }

  /** [[groupSelected]] for external callers (the catalog's range-pruned
    * plan path): may a file under hive directory `dir` survive the
    * ranges? Always a superset of the per-file stats decision.
    */
  private[sources] def dirAdmitsRanges(dir: String, prune: Seq[(String, String, String)]): Boolean =
    groupSelected(dir, prune)

  /** Would a file under hive directory `dir` DEFINITELY miss every prune
    * range? Mirrors [[fileColStats]]' path-value typing so group
    * selection is always a superset of the per-file stats selection;
    * the hive null sentinel never matches a value range.
    */
  private def groupSelected(dir: String, prune: Seq[(String, String, String)]): Boolean = {
    if (dir.isEmpty) return true
    // ONE hive-segment parser for the whole engine: SnapFilters owns the
    // split/unescape/sentinel rules (partSegments expects a rel, so a
    // filename placeholder is appended)
    val segs = snap.SnapFilters.partSegments(s"$dir/f")
    prune.forall { case (c, lo, hi) =>
      segs.get(c) match {
        case None => true // not a partition column at this level: can't exclude
        case Some(raw) =>
          snap.SnapFilters.segValue(raw) match {
            case None => false // the null sentinel never matches a value range
            case Some(v) =>
              val typ =
                if (scala.util.Try(v.toLong).isSuccess) "l"
                else if (scala.util.Try(v.toDouble).isSuccess) "d"
                else "s"
              overlapsRange(ColStat(typ, v, v), Option(lo), Option(hi))
          }
      }
    }
  }

  /** The (rels, stats) of manifest `version` RESTRICTED to partition
    * groups a prune range can't exclude, plus the header fields — parsing
    * only the selected byte ranges of the bottom checkpoint when its
    * partition index exists (deltas on top parse fully; they are small by
    * construction). Returns None when any chain level lacks an index or
    * is otherwise unreadable — the caller falls back to the full view.
    * Never caches: the result is query-specific, and its whole point is
    * that re-reading it costs O(selected).
    */
  private def prunedChainView(
      spark: SparkSession,
      root: String,
      version: Long,
      prune: Seq[(String, String, String)]): Option[ManifestView] =
    prunedViewByDir(spark, root, version, dir => groupSelected(dir, prune)).map(_._1)

  /** The generalized pruned-chain read: manifest `version` RESTRICTED to
    * hive directories `dirKeep` admits, parsing only the selected byte
    * ranges of the bottom indexed checkpoint (deltas on top parse fully —
    * they are small by construction). Returns (pruned view, TOTAL file
    * count of the bottom checkpoint + net delta adjustments) so callers
    * can report `kept/total` without the full list; None when any chain
    * level lacks a valid index — the caller falls back to the full view.
    * `dirKeep` must be a SUPERSET test of whatever per-file decision the
    * caller applies afterwards (it sees the directory only).
    */
  private[sources] def prunedViewByDir(
      spark: SparkSession,
      root: String,
      version: Long,
      dirKeep: String => Boolean): Option[(ManifestView, Long)] = {
    val rootPath = new Path(root)
    val fs = fsOf(spark, manifestDir(rootPath))
    var levels = List.empty[Seq[String]] // delta levels, deepest first
    var cur = version
    var bottom: Option[(Long, Long, Long, Seq[PidxGroup])] = None
    var bytes = 0L
    while (bottom.isEmpty) {
      val p = manifestPath(rootPath, cur)
      if (!fs.exists(p)) return None
      // probe the sidecar BEFORE touching the manifest: deltas never
      // write one, so a validated index both identifies the checkpoint
      // and spares the O(table-files) full read this path exists to avoid
      readPartitionIndex(fs, p) match {
        case Some((headerEnd, nFiles, groups)) => bottom = Some((cur, headerEnd, nFiles, groups))
        case None =>
          val lines = manifestLines(spark, root, cur)
          lines.find(_.startsWith("#delta ")) match {
            case Some(d) =>
              val b = d.stripPrefix("#delta ").trim.toLong
              require(
                b > 0L && b < cur,
                s"manifest v$cur under $root records a non-decreasing delta base $b — corrupt chain")
              bytes += lines.map(_.getBytes("UTF-8").length.toLong + 1L).sum
              levels = lines :: levels
              cur = b
            case None => return None // unindexed checkpoint: full parse is the right plan
          }
      }
    }
    // the bottom checkpoint: header + ONLY the selected groups' bytes
    val (bottomV, headerEnd, nFilesBottom, groups) = bottom.get
    val target = manifestPath(rootPath, bottomV)
    val in = fs.open(target)
    val (headerLines, groupLines) =
      try {
        def readRange(start: Long, end: Long): Seq[String] = {
          val buf = new Array[Byte]((end - start).toInt)
          in.readFully(start, buf)
          bytes += buf.length.toLong
          new String(buf, "UTF-8").split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
        }
        val h = readRange(0L, headerEnd)
        val sel = groups.filter(g => dirKeep(g.dir))
        (h, sel.flatMap(g => readRange(g.start, g.end)))
      } finally in.close()
    val (schema, statsCols, bloomCols, dropped, partCols) = parseHeader(headerLines)
    var view = {
      val parsed = groupLines.map(parseFileLine)
      ManifestView(
        bottomV,
        parsed.map(_._1),
        parsed.filter(_._2.nonEmpty).toMap,
        schema,
        statsCols,
        bloomCols,
        dropped,
        partCols)
    }
    // fold the delta levels up, keeping only additions the filter can't
    // exclude (removals of unselected rels no-op against the pruned base)
    levels.foreach { lines =>
      val applied = applyDelta(view, version, lines)
      val kept = applied.rels.filter { rel =>
        val cut = rel.lastIndexOf('/')
        dirKeep(if (cut < 0) "" else rel.substring(0, cut))
      }
      val keptSet = kept.toSet // Seq.contains would be O(kept) per stat entry
      view = applied.copy(rels = kept, stats = applied.stats.filter(kv => keptSet(kv._1)))
    }
    // the full live-file count comes from the TARGET version's own header
    // (`#nfiles`, recorded by every commit path) when the chain had
    // deltas; a chain that bottomed out AT the target reads it from the
    // sidecar. -1 = the header predates the field — callers that need
    // `kept/total` fall back to the full view.
    val total =
      if (levels.isEmpty) nFilesBottom
      else headerView(spark, root, version).flatMap(_.nFiles).getOrElse(-1L)
    lastManifestBytesRead.set(bytes)
    Some((view, total))
  }

  private[sources] def tryWriteManifestClaimed(
      fs: FileSystem,
      dir: Path,
      target: Path,
      claim: Path,
      owner: String,
      body: Seq[String]): Boolean = {
    val acquired =
      try {
        val out = fs.create(claim, false) // create-exclusive: the atomic claim
        try out.write(s"$owner ${System.currentTimeMillis()}".getBytes("UTF-8"))
        finally out.close()
        true
      } catch {
        case _: java.io.IOException =>
          if (fs.exists(target)) {
            // the slot is DECIDED (versions are never reused), so any
            // claim still parked on it is an orphan — a winner that
            // crashed between its target rename and claim delete, which
            // the staleness breaker can never reap (staleness requires
            // target absence). Delete it; a live winner's own release is
            // ownership-checked against a now-missing file and no-ops.
            try fs.delete(claim, false)
            catch { case _: Exception => () }
            return false
          }
          // an existing claim whose writer died (old timestamp, manifest
          // never landed) must not wedge the slot forever: break it via
          // rename-to-grave (one concurrent breaker wins the rename),
          // confirm the moved file carries the observed dead tag, then
          // retry the claim on the NEXT attempt
          val seen = readLockTag(fs, claim)
          val stale = seen.exists { t =>
            t.split(" ").lift(1).flatMap(x => scala.util.Try(x.toLong).toOption).exists(ms =>
              System.currentTimeMillis() - ms > 60000L)
          } && !fs.exists(target)
          if (stale) {
            val grave = new Path(dir, s".claim-broken-${Integer.toHexString(seen.get.hashCode)}")
            val renamed = try fs.rename(claim, grave) catch { case _: java.io.IOException => false }
            if (renamed) {
              if (readLockTag(fs, grave).forall(_ == seen.get)) fs.delete(grave, false)
              else fs.rename(grave, claim) // a live claimant slipped in: restore
            }
          }
          false
      }
    if (!acquired) false
    else
      try {
        if (fs.exists(target)) false // paranoia: a stale manifest landed anyway
        else {
          val tmp = new Path(dir, s".tmp-${java.util.UUID.randomUUID().toString}")
          val out = fs.create(tmp, false)
          try out.write((body.mkString("\n") + "\n").getBytes("UTF-8"))
          finally out.close()
          // FENCE immediately before the publishing rename: a claimant
          // stalled past the 60 s staleness window (GC pause, slow FS
          // writing a large checkpoint) may have had its claim broken and
          // the slot re-won — its rename would REPLACE the new winner's
          // committed manifest (local rename overwrites, POSIX
          // rename(2)). Re-verify the claim still carries OUR tag and the
          // target is still absent; losing the fence aborts the attempt
          // (the caller rebases). This SHRINKS the overwrite window to
          // the instruction gap between the fence and the rename — a
          // stall of >60 s landing in exactly those microseconds is the
          // residual race; CLOSING it needs an atomic existence-
          // arbitrated publish, which local rename cannot express (HDFS
          // rename and an object store's if-none-match PUT both can —
          // swap the rename there). Same-JVM racers are fully safe via
          // the jvmClaims putIfAbsent.
          if (!readLockTag(fs, claim).exists(_.startsWith(owner)) || fs.exists(target)) {
            fs.delete(tmp, false)
            false
          } else {
            if (!fs.rename(tmp, target)) {
              fs.delete(tmp, false)
              sys.error(s"claimed manifest slot at $target but the rename failed")
            }
            writePartitionIndex(fs, target, body) // best-effort, checkpoint-only
            true
          }
        }
      } finally {
        try if (readLockTag(fs, claim).exists(_.startsWith(owner))) fs.delete(claim, false)
        catch { case _: Exception => () }
      }
  }

  // ---- schema evolution (DDL over the manifest-recorded schema) --------

  /** Sanctioned in-place type widenings: Spark's parquet readers
    * (vectorized included) read the narrow physical type as the wider
    * declared one, so recording the wider type needs NO data rewrite —
    * old files keep their int32/float pages, new files write the wide
    * type, and one declared schema reads both.
    */
  private val widenings: Set[(org.apache.spark.sql.types.DataType, org.apache.spark.sql.types.DataType)] =
    Set(
      (org.apache.spark.sql.types.IntegerType, org.apache.spark.sql.types.LongType),
      (org.apache.spark.sql.types.FloatType, org.apache.spark.sql.types.DoubleType))

  /** Merge the DECLARED schema with what newly-committed files carry:
    * declared field order is preserved (ALTER-added columns no file has
    * yet survive), a new file carrying the wider half of a sanctioned
    * widening pair evolves the declared type, columns only new files know
    * append at the end, and any other type conflict fails the COMMIT —
    * loudly, before a wrong schema is ever recorded.
    */
  private[sources] def mergeEvolved(
      declared: org.apache.spark.sql.types.StructType,
      inferred: org.apache.spark.sql.types.StructType,
      context: String,
      partCols: Set[String] = Set.empty): org.apache.spark.sql.types.StructType = {
    val byName = inferred.fields.map(f => f.name -> f).toMap
    val kept = declared.fields.map { f =>
      byName.get(f.name) match {
        case None => f
        case Some(g) if g.dataType == f.dataType => f
        // a hive partition column's inferred type comes from PATH-string
        // guessing (day=2024-01-01 reads back as DATE) — the declared
        // type always wins; the scan casts path values to it
        case Some(_) if partCols.contains(f.name) => f
        case Some(g) if widenings((g.dataType, f.dataType)) => f // files still narrow
        case Some(g) if widenings((f.dataType, g.dataType)) =>
          f.copy(dataType = g.dataType) // data evolved wider via append
        case Some(g) =>
          sys.error(
            s"schema evolution conflict on column '${f.name}' of $context: declared " +
              s"${f.dataType.simpleString}, new files carry ${g.dataType.simpleString} — only " +
              "int→bigint and float→double widen in place; anything else needs a rewrite")
      }
    }
    val declaredNames = declared.fieldNames.toSet
    org.apache.spark.sql.types.StructType(
      kept.toSeq ++ inferred.fields.filterNot(f => declaredNames.contains(f.name)))
  }

  /** The table's hive partition columns as its file layout implies them
    * (every data file shares one `k=v/...` dir structure).
    */
  private[sources] def partitionColsFromRels(rels: Seq[String]): Seq[String] =
    rels.headOption
      .map(_.split("/").dropRight(1).toSeq.filter(_.contains("=")).map(_.split("=", 2)(0)))
      .getOrElse(Seq.empty)

  /** A metadata-only commit: next manifest version with the previous
    * version's file list and per-file stats carried VERBATIM (no data
    * I/O, no footer opens — DDL touches metadata, period) under a new
    * header. The engine of [[createTable]] / [[addColumns]] /
    * [[dropColumn]] / [[widenColumn]].
    */
  private def commitDdl(
      spark: SparkSession,
      root: String,
      schema: org.apache.spark.sql.types.StructType,
      dropped: Seq[String],
      partCols: Seq[String],
      statsCols: Seq[String],
      bloomCols: Seq[String]): Long = withTableLock(spark, root) {
    val rootPath = new Path(root)
    val fs = fsOf(spark, rootPath)
    // DDL touches metadata only: off-checkpoint versions commit as a
    // header-only DELTA (the file list + stats carry via the chain) — a
    // metadata commit on a million-file table writes a few hundred bytes.
    // A lost version slot means a lock-free appender slipped in: rebase
    // on its version and retry, bounded.
    val deadline = System.currentTimeMillis() + SlotRaceDeadlineMs
    var result = -1L
    while (result < 0L) {
      val version = latestVersion(spark, root) + 1L
      // canonicality carries through DDL: dropped columns leave the set;
      // sanctioned widenings (int→long) render identically so the set is
      // still exact. A fresh table records the layout's canonical-domain
      // columns (vacuously true over zero files; the first data commit
      // recomputes from the real listing).
      val canon =
        if (version == 1L)
          (if (partCols.nonEmpty) Some(canonicalPathCols(Seq.empty, partCols, Some(schema)))
           else None)
        else
          headerView(spark, root, version - 1L)
            .flatMap(_.partCanon)
            .map(_.filterNot(dropped.contains))
      def hdr(n: Long, eff: Seq[String]): Seq[String] =
        renderHeader(
          Some(schema), statsCols, bloomCols, dropped, partCols, canon, Some(n), Some(eff))
      val body =
        if (version == 1L) hdr(0L, partCols)
        else if (isCheckpointVersion(spark, version)) {
          val prev = manifestView(spark, root, version - 1L)
          val eff = if (partCols.nonEmpty) partCols else partitionColsFromRels(prev.rels)
          hdr(prev.rels.size.toLong, eff) ++
            prev.rels.map(rel => renderFileLine(rel, prev.stats.getOrElse(rel, Map.empty)))
        } else {
          // header-only delta: file count and effective layout are the
          // previous version's, carried from its header (or the cached
          // view for pre-#nfiles manifests)
          val prevHdr = headerView(spark, root, version - 1L)
          val prevN = prevHdr
            .flatMap(_.nFiles)
            .getOrElse(manifestView(spark, root, version - 1L).rels.size.toLong)
          val eff = prevHdr.flatMap(_.pathCols).getOrElse {
            if (partCols.nonEmpty) partCols
            else partitionColsFromRels(manifestView(spark, root, version - 1L).rels)
          }
          hdr(prevN, eff) ++ Seq(s"#delta ${version - 1L}")
        }
      if (tryWriteManifest(fs, rootPath, version, body)) result = version
      else if (System.currentTimeMillis() > deadline)
        sys.error(
          s"DDL commit on $root could not win a version slot within ${SlotRaceDeadlineMs} ms — giving up")
      else Thread.sleep(100)
    }
    result
  }

  /** Create an EMPTY snapshot table: directory + a v1 manifest recording
    * the declared schema, hive partition layout, and stats/bloom
    * discipline — so the first INSERT already writes the right layout and
    * commits under the right discipline. Refuses a directory that already
    * has manifests (the table exists) or loose data files (adopt those
    * with [[commit]] instead — silently swallowing them under a fresh
    * declared schema would mask a wrong path).
    */
  def createTable(
      spark: SparkSession,
      root: String,
      schema: org.apache.spark.sql.types.StructType,
      partCols: Seq[String] = Seq.empty,
      statsCols: Seq[String] = Seq.empty,
      bloomCols: Seq[String] = Seq.empty): Long = {
    require(schema.fields.nonEmpty, s"createTable($root): schema must have at least one column")
    (partCols ++ statsCols ++ bloomCols).foreach(c =>
      require(
        schema.fieldNames.contains(c),
        s"createTable($root): column '$c' is not in the declared schema"))
    require(
      bloomCols.isEmpty || statsCols.nonEmpty,
      "bloom sidecars ride on a stats commit — pass statsCols (at least the partition column)")
    val rootPath = new Path(root)
    val fs = fsOf(spark, rootPath)
    require(
      latestVersion(spark, root) == 0L,
      s"table $root already has committed manifests — it exists")
    require(
      !fs.exists(rootPath) || listDataFiles(spark, root).isEmpty,
      s"directory $root already holds data files — adopt them with Snapshots.commit, " +
        "don't shadow them under a fresh declared schema")
    fs.mkdirs(rootPath)
    commitDdl(spark, root, schema, Seq.empty, partCols, statsCols, bloomCols)
  }

  /** `ALTER TABLE … ADD COLUMNS`: append nullable columns to the declared
    * schema — metadata-only; every existing row reads NULL for them.
    * Re-adding a previously DROPPED name is refused: by-name storage
    * would resurrect the old values from old files (the classic by-name
    * evolution trap; pick a new name).
    */
  def addColumns(spark: SparkSession, root: String, cols: Seq[StructField]): Long =
    alterSchema(spark, root, Seq(DdlChange.AddCols(cols)))

  /** `ALTER TABLE … DROP COLUMN`: remove the column from the declared
    * schema and TOMBSTONE the name, so later commits' inference can never
    * resurrect it from the old files that still physically carry it (the
    * bytes go away when maintenance next rewrites those files — e.g.
    * compaction). Also retires the column from the stats/bloom
    * discipline. Hive partition columns are structural and refuse.
    */
  def dropColumn(spark: SparkSession, root: String, name: String): Long =
    alterSchema(spark, root, Seq(DdlChange.Drop(name)))

  /** `ALTER TABLE … ALTER COLUMN c TYPE t`: record the wider type for a
    * sanctioned widening pair (int→bigint, float→double) — metadata-only;
    * old files keep narrow pages and read wide.
    */
  def widenColumn(
      spark: SparkSession,
      root: String,
      name: String,
      to: org.apache.spark.sql.types.DataType): Long =
    alterSchema(spark, root, Seq(DdlChange.Widen(name, to)))

  /** One schema-evolution operation of an `ALTER TABLE` statement. */
  sealed trait DdlChange
  object DdlChange {
    final case class AddCols(cols: Seq[StructField]) extends DdlChange
    final case class Drop(name: String) extends DdlChange
    final case class Widen(name: String, to: org.apache.spark.sql.types.DataType)
        extends DdlChange
  }

  /** Apply every change of one ALTER statement ATOMICALLY: each change
    * validates against the schema as evolved by the changes BEFORE it,
    * and nothing commits until all of them validate — a failing later
    * change can never leave earlier ones durably applied (`ALTER TABLE t
    * ADD COLUMNS (a INT, b INT)` where `b` collides must not commit `a`).
    * One manifest version records the combined result.
    */
  def alterSchema(spark: SparkSession, root: String, ops: Seq[DdlChange]): Long =
    withTableLock(spark, root) {
      require(ops.nonEmpty, "alterSchema: no changes given")
      val view = manifestView(spark, root)
      var cur = view.schema.getOrElse(sys.error(
        s"table $root has no recorded schema — commit with statsCols (or createTable) before ALTER"))
      var dropped = view.dropped
      var statsCols = view.statsCols
      var bloomCols = view.bloomCols
      val layout =
        if (view.partCols.nonEmpty) view.partCols else partitionColsFromRels(view.rels)
      ops.foreach {
        case DdlChange.AddCols(cols) =>
          require(cols.nonEmpty, "addColumns: no columns given")
          cols.foreach { f =>
            require(
              f.nullable,
              s"added column '${f.name}' must be nullable — existing rows have no value for it")
            require(
              !f.name.contains("."),
              s"added column '${f.name}': nested paths are not supported")
            require(
              !cur.fieldNames.exists(_.equalsIgnoreCase(f.name)),
              s"column '${f.name}' already exists")
            require(
              !dropped.exists(_.equalsIgnoreCase(f.name)),
              s"column '${f.name}' was previously dropped; re-adding the name would resurrect " +
                "its old values from old files — pick a new name")
            cur = org.apache.spark.sql.types.StructType(cur.fields.toSeq :+ f)
          }
        case DdlChange.Drop(name) =>
          require(cur.fieldNames.contains(name), s"table $root has no column '$name'")
          require(cur.fields.length > 1, s"cannot drop '$name' — it is the table's only column")
          require(
            !layout.contains(name),
            s"'$name' is a hive partition column — the table layout depends on it")
          // a CHECK referencing the column would refuse EVERY later
          // landing commit (loud-parse enforcement) — surface the
          // conflict at DDL time, where the user can act on it
          Constraints.checks(spark, root).foreach { case (cn, ce) =>
            // match ANY name part: `t.v` names v, `s.inner` names the
            // struct column s — over-matching a qualifier that happens to
            // equal the column name refuses conservatively (the message
            // says what to do), under-matching would brick every later
            // landing commit. An unparseable predicate refuses LOUDLY —
            // enforcement would refuse those commits anyway.
            val refs =
              try
                spark.sessionState.sqlParser
                  .parseExpression(ce)
                  .collect { case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
                    a.nameParts
                  }
                  .flatten
              catch {
                case scala.util.control.NonFatal(_) =>
                  sys.error(
                    s"cannot drop '$name' — CHECK constraint '$cn' ($ce) does not parse; " +
                      "drop the check first")
              }
            require(
              !refs.exists(_.equalsIgnoreCase(name)),
              s"cannot drop '$name' — CHECK constraint '$cn' ($ce) references it; " +
                s"drop the check first")
          }
          cur = org.apache.spark.sql.types.StructType(cur.fields.toSeq.filterNot(_.name == name))
          dropped = dropped :+ name
          statsCols = statsCols.filterNot(_ == name)
          bloomCols = bloomCols.filterNot(_ == name)
        case DdlChange.Widen(name, to) =>
          val f = cur.fields
            .find(_.name == name)
            .getOrElse(sys.error(s"table $root has no column '$name'"))
          require(
            widenings((f.dataType, to)),
            s"cannot change '$name' from ${f.dataType.simpleString} to ${to.simpleString} in " +
              "place — supported widenings: int→bigint, float→double; anything else needs a rewrite")
          cur = org.apache.spark.sql.types.StructType(
            cur.fields.toSeq.map(x => if (x.name == name) x.copy(dataType = to) else x))
      }
      commitDdl(spark, root, cur, dropped, view.partCols, statsCols, bloomCols)
    }

  /** Sidecar location for file `rel`'s bloom over `colName` — under the
    * manifest dir (hidden from data listings), hex-keyed so any rel path
    * or column name is filesystem-safe. Keyed by rel alone, NOT version:
    * files are immutable, so one bloom serves every manifest listing the
    * file.
    */
  private def bloomPath(root: Path, rel: String, colName: String): Path =
    new Path(new Path(manifestDir(root), "bloom"), s"${hex(rel)}.${hex(colName)}")

  /** Number of bloom sidecars read (possibly cached) by the most recent
    * read-side probe on this thread — observability for specs.
    */
  val lastBloomReads: ThreadLocal[Long] = new ThreadLocal[Long] {
    override def initialValue(): Long = 0L
  }

  /** Build the MISSING per-file sidecars of `rels` in one pass per file:
    * bloom filters and NDV registers over `bloomCols`, exact SUMs over
    * `statsCols`. Every value reaches the blooms and registers through
    * `CAST(col AS STRING)`, the same string domain the manifest stats and
    * pushed-filter values use. A bloom is sized for the file's footer row
    * count at 1% fpp, capped at 1 MiB of bits per sidecar (a bigger file
    * degrades fpp instead of bloating metadata). Files at or under
    * [[sidecarDriverBuildMaxBytes]] are read once on the driver (zero
    * Spark jobs); larger files batch into one distributed job per ≤64-file
    * chunk. Both paths fold rows through [[SidecarKernel.fold]], so their
    * bytes are identical by construction. Written temp + rename; a crash
    * leaves at worst a missing sidecar, which reads as "cannot exclude" /
    * "scan instead of fold".
    */
  private def buildSidecars(
      spark: SparkSession,
      root: String,
      rels: Seq[String],
      bloomCols: Seq[String],
      backfill: Boolean = false,
      statsCols: Seq[String] = Seq.empty): Unit = {
    val rootPath = new Path(root)
    val fs = fsOf(spark, rootPath)
    fs.mkdirs(new Path(manifestDir(rootPath), "bloom"))
    fs.mkdirs(new Path(manifestDir(rootPath), "ndv"))
    // the bloom discipline IS the NDV discipline: both are per-(file,
    // column) value-index sidecars built once at commit time (O(delta) —
    // a rel names one immutable file forever), so one declared column set
    // governs both. NDV rides the bloom build for files that are MISSING
    // THEIR BLOOM (i.e. genuinely new): an existing bloom'd table's first
    // commit after the NDV feature landed must NOT re-read the whole
    // table inside a routine commit — upgrading old files is an explicit
    // choice ([[backfillNdv]] / `CALL ndv_backfill`), not a commit tax.
    val missing = for {
      rel <- rels
      c <- bloomCols
      needBloom = !fs.exists(bloomPath(rootPath, rel, c))
      needNdv = (needBloom || backfill) && !fs.exists(ndvPath(rootPath, rel, c))
      if needBloom || needNdv
    } yield (rel, c, needBloom, needNdv)
    // SUM sidecars ride the same pass under the same upgrade gate: new
    // files (missing a bloom) — or an explicit backfill — get their
    // summable stats columns' exact sums recorded while the data is
    // being read anyway; pre-feature files are never re-read by a
    // routine commit
    // a bloom-less stats table has no "missing bloom" signal for newness
    // AND no commit-time data read to ride: it opts INTO the sum
    // discipline via an explicit `CALL ndv_backfill` (a routine commit
    // must not grow a per-commit data-read tax the table never asked
    // for). Once ANY sum sidecar exists, new files keep the discipline —
    // the one fs probe per commit is O(1).
    val freshRels =
      if (backfill) rels.distinct
      else if (bloomCols.isEmpty) {
        val sumDir = new Path(manifestDir(rootPath), "sum")
        val disciplineOn =
          fs.exists(sumDir) && fs.listStatusIterator(sumDir).hasNext
        if (disciplineOn) rels.distinct else Seq.empty
      } else missing.collect { case (r, _, nb, _) if nb => r }.distinct
    // `backfill` also upgrades: a sum sidecar recorded `na` under an OLDER
    // summability rule (pre-DECIMAL builds wrote `na` once per decimal
    // column, permanently) counts as missing and is recomputed under the
    // current rule — without it the documented backfill upgrade path can
    // never enable DECIMAL SUM pushdown on a pre-feature table
    val sumWant: Map[String, Seq[String]] =
      if (statsCols.isEmpty) Map.empty
      else {
        fs.mkdirs(new Path(manifestDir(rootPath), "sum"))
        freshRels
          .map(rel =>
            rel -> statsCols.filter(c =>
              !fs.exists(sumPath(rootPath, rel, c)) ||
                (backfill && fileSumOf(spark, root, rel, c).isEmpty)))
          .filter(_._2.nonEmpty)
          .toMap
      }
    val bloomWant = missing.groupBy(_._1)
    val work = (missing.map(_._1) ++ freshRels.filter(sumWant.contains)).distinct
    if (work.isEmpty) return
    val hconf = org.apache.spark.sql.graft.Bridge.sessionHadoopConf(spark)
    val tz = spark.conf.get("spark.sql.session.timeZone")
    val driverMaxBytes = sidecarDriverBuildMaxBytes.value
    val large = new java.util.concurrent.ConcurrentLinkedQueue[(Path, SidecarKernel.FileSpec)]()
    graft.core.Par.each(work) { rel =>
      val p = resolve(spark, root, rel)
      // schema, row count and length from the FOOTER (driver metadata):
      // DataFrameReader schema inference launches one Spark job per call
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, hconf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      val (schema, rows) =
        try (
          org.apache.spark.sql.graft.BridgeSchema
            .footerSchema(spark, r.getFooter.getFileMetaData.getSchema),
          r.getRecordCount)
        finally r.close()
      val spec = fileSpec(
        rootPath, rel, schema, rows, bloomWant.getOrElse(rel, Nil), sumWant.getOrElse(rel, Nil), backfill)
      if (spec.schema.nonEmpty && in.getLength > driverMaxBytes) large.add((p, spec))
      else {
        val sketches =
          if (spec.schema.isEmpty) SidecarKernel.fold(spec, tz, Iterator.empty)
          else {
            val reader = org.apache.spark.sql.graft.Bridge.parquetRowReader(p, spec.schema, hconf)
            try SidecarKernel.fold(spec, tz, Iterator.continually(reader.read()).takeWhile(_ != null))
            finally reader.close()
          }
        sidecarsWritten(root, spec, SidecarKernel.write(hconf, spec, sketches))
      }
    }
    if (!large.isEmpty) buildSidecarsDistributed(spark, root, tz, large.asScala.toSeq)
  }

  /** Size ceiling of the driver-side sidecar build: at or under 32 MiB a
    * file's one streamed read costs microseconds to milliseconds, while a
    * Spark job per commit batch is pure fixed overhead (plan, codegen,
    * 1-task stages). At 100 TB the large files always take the
    * distributed path. A constant; specs lower it with `withValue(0L)` to
    * force the distributed path.
    */
  private[sources] val sidecarDriverBuildMaxBytes =
    new scala.util.DynamicVariable[Long](32L * 1024 * 1024)

  /** What one file still needs, resolved on the driver: the read schema
    * (the union of its missing columns, physical names) and, per read
    * column, the bloom/NDV/SUM sidecar targets. Stats columns the file
    * cannot sum — non-summable types, or hive path columns that are not
    * physical — record the `na` sentinel without a read. A bloom column
    * must be physical: hive partition values prune exactly from the path.
    */
  private def fileSpec(
      rootPath: Path,
      rel: String,
      schema: org.apache.spark.sql.types.StructType,
      rows: Long,
      blooms: Seq[(String, String, Boolean, Boolean)],
      sums: Seq[String],
      replaceSums: Boolean): SidecarKernel.FileSpec = {
    def fieldOf(c: String) = schema.fields.find(_.name.equalsIgnoreCase(c))
    blooms.foreach { case (_, c, _, _) =>
      require(
        fieldOf(c).isDefined,
        s"bloom column '$c' is not a physical column of $rel — hive partition values " +
          "prune exactly from the path; blooms are for data columns")
    }
    val (summable, na) = sums.partition(c => fieldOf(c).exists(f => isSummable(f.dataType)))
    val read = (blooms.map(b => fieldOf(b._2).get) ++ summable.map(c => fieldOf(c).get))
      .distinctBy(_.name)
      .map(_.copy(nullable = true))
    def colAt(cols: Seq[String]): Array[String] =
      read.map(f => cols.find(f.name.equalsIgnoreCase).orNull).toArray
    def targets(cols: Array[String], path: (Path, String, String) => Path): Array[String] =
      cols.map(c => if (c == null) null else path(rootPath, rel, c).toString)
    val sumCols = colAt(summable)
    SidecarKernel.FileSpec(
      rel = rel,
      schema = org.apache.spark.sql.types.StructType(read),
      rows = rows,
      bloom = targets(colAt(blooms.collect { case (_, c, true, _) => c }), bloomPath),
      ndv = targets(colAt(blooms.collect { case (_, c, _, true) => c }), ndvPath),
      sumCols = sumCols,
      sum = targets(sumCols, sumPath),
      naSums = na.map(c => c -> sumPath(rootPath, rel, c).toString),
      replaceSums = replaceSums)
  }

  /** The driver-side half of every sidecar write: drop the read caches'
    * entries for the sidecars that just landed. A cached absent NDV or
    * SUM, or a cached `na` decode, is now stale; and a real sum means the
    * table MAY be complete for its column — the next planning pass
    * re-probes (an `na` changes nothing).
    */
  private def sidecarsWritten(
      root: String,
      spec: SidecarKernel.FileSpec,
      sums: Seq[(String, String, String)]): Unit = {
    spec.ndv.foreach(t => if (t != null) ndvMissCache.remove(t))
    sums.foreach { case (c, target, content) =>
      sumMissCache.remove(target)
      sumCache.remove(target)
      if (content != SumNa) sumIncompleteCache.remove(sumMemoKey(root, c))
    }
  }

  /** ONE distributed job per ≤64-file chunk of large files: each file's
    * scan splits fold their rows into per-file partial sketches (the
    * kernel the driver path runs), only the SKETCHES shuffle (bitset OR,
    * register max, SUM and count add — all order-independent), and the
    * reduce tasks write the merged sidecars themselves. Files whose key
    * never reaches the reduce (zero rows) get their empty sketches — the
    * explicit empty filter, zero registers, sum `0` — written driver-side
    * afterwards. Event-log shape: O(1) jobs per commit batch.
    */
  private def buildSidecarsDistributed(
      spark: SparkSession,
      root: String,
      tz: String,
      files: Seq[(Path, SidecarKernel.FileSpec)]): Unit = {
    val hconf = org.apache.spark.sql.graft.Bridge.sessionHadoopConf(spark)
    val serConf = org.apache.spark.sql.graft.Bridge.serializableConf(hconf)
    files.sortBy(_._2.rel).grouped(64).foreach { chunk =>
      val specs = chunk.map { case (_, spec) => spec.rel -> spec }.toMap
      val partials = chunk.map { case (p, spec) =>
        spark.read
          // explicit pruned schema: no per-call inference job
          .schema(spec.schema)
          .parquet(p.toString)
          .queryExecution
          .toRdd
          .mapPartitions(rows =>
            if (rows.hasNext) Iterator(spec.rel -> SidecarKernel.fold(spec, tz, rows))
            else Iterator.empty)
      }
      // session confs reach the tasks: the kernel's CAST runs there
      val written = org.apache.spark.sql.graft.Bridge.withSqlConfPropagated(spark) {
        spark.sparkContext
          .union(partials)
          .reduceByKey(SidecarKernel.merge _)
          .map { case (rel, sketches) =>
            val conf = org.apache.spark.sql.graft.Bridge.confOf(serConf)
            rel -> SidecarKernel.write(conf, specs(rel), sketches)
          }
          .collect()
          .toMap
      }
      chunk.foreach { case (_, spec) =>
        val sums = written.getOrElse(
          spec.rel,
          SidecarKernel.write(hconf, spec, SidecarKernel.fold(spec, tz, Iterator.empty)))
        sidecarsWritten(root, spec, sums)
      }
    }
  }

  /** One file's physical schema straight from its parquet footer (driver
    * metadata I/O) with the session's conversion flags — what
    * `spark.read.parquet(file).schema` infers, minus the Spark job recent
    * inference versions launch per call.
    */
  private def footerSchemaOf(spark: SparkSession, p: Path): org.apache.spark.sql.types.StructType = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(p, org.apache.spark.sql.graft.Bridge.sessionHadoopConf(spark)))
    try org.apache.spark.sql.graft.BridgeSchema
      .footerSchema(spark, r.getFooter.getFileMetaData.getSchema)
    finally r.close()
  }

  /** Executor-safe sidecar kernel: everything the distributed build's task
    * closures call lives HERE (a sibling object) and not on [[Snapshots]]
    * itself — a lambda calling a method of its own enclosing object
    * captures the (non-serializable) module instance, while calls into a
    * separate object resolve statically at execution time. The driver
    * path calls the same [[fold]] and [[write]], so the two paths can
    * never silently diverge (byte parity law in SnapshotsSpec).
    */
  private[sources] object SidecarKernel {
    import java.math.BigInteger

    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.types._
    import org.apache.spark.util.sketch.BloomFilter

    /** One file's pending sidecars, resolved on the driver. Per column of
      * the read `schema`: the bloom, NDV and SUM target paths (null where
      * that sidecar exists already), and `sumCols` the stats column each
      * SUM records. `naSums` are (column, target) pairs recorded `na`
      * without a read; `replaceSums` lets a SUM replace an existing
      * (stale `na`) sidecar — the explicit backfill's upgrade.
      */
    final case class FileSpec(
        rel: String,
        schema: StructType,
        rows: Long,
        bloom: Array[String],
        ndv: Array[String],
        sumCols: Array[String],
        sum: Array[String],
        naSums: Seq[(String, String)],
        replaceSums: Boolean)

    /** One file's sketches, partial or whole: per read column, a bloom
      * and NDV registers (null where not needed), and an exact unscaled
      * SUM with its non-null count.
      */
    final class Sketches(
        val blooms: Array[BloomFilter],
        val regs: Array[Array[Byte]],
        val sums: Array[BigInteger],
        val counts: Array[Long])
        extends Serializable

    /** Fold `rows` (laid out as `spec.schema`) into fresh sketches. Bloom
      * and NDV see each non-null value through the live
      * `Cast(col, StringType)` and `putBinary(utf8)`, the insertion
      * `bloom_filter_agg`'s BinaryUpdater performs; the bloom is sized for
      * the footer row count at 1% fpp, capped at 8 Mi bits.
      */
    def fold(spec: FileSpec, tz: String, rows: Iterator[InternalRow]): Sketches = {
      val n = math.max(spec.rows, 1L)
      val bits = math.min(BloomFilter.optimalNumOfBits(n, 0.01), 8L * 1024 * 1024)
      val k = spec.schema.length
      val out = new Sketches(
        spec.bloom.map(t => if (t == null) null else BloomFilter.create(n, bits)),
        spec.ndv.map(t => if (t == null) null else new Array[Byte](NdvRegisters)),
        Array.fill(k)(BigInteger.ZERO),
        new Array[Long](k))
      val casts = Array.tabulate(k) { i =>
        if (spec.bloom(i) == null && spec.ndv(i) == null) null
        else
          org.apache.spark.sql.catalyst.expressions.Cast(
            org.apache.spark.sql.catalyst.expressions
              .BoundReference(i, spec.schema(i).dataType, nullable = true),
            StringType,
            Some(tz))
      }
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.foreach { row =>
        var i = 0
        while (i < k) {
          if (!row.isNullAt(i)) {
            if (casts(i) != null) {
              val bytes =
                casts(i).eval(row).asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes
              if (out.blooms(i) != null) out.blooms(i).putBinary(bytes)
              if (out.regs(i) != null) ndvUpdate(md, bytes, out.regs(i))
            }
            if (spec.sum(i) != null) {
              out.counts(i) += 1L
              out.sums(i) = out.sums(i).add(unscaled(row, i, spec.schema(i).dataType))
            }
          }
          i += 1
        }
      }
      out
    }

    /** A summable value in its exact unscaled integer domain. */
    private def unscaled(row: InternalRow, i: Int, dt: DataType): BigInteger = dt match {
      case d: DecimalType => row.getDecimal(i, d.precision, d.scale).toJavaBigDecimal.unscaledValue()
      case LongType => BigInteger.valueOf(row.getLong(i))
      case IntegerType => BigInteger.valueOf(row.getInt(i).toLong)
      case ShortType => BigInteger.valueOf(row.getShort(i).toLong)
      case _ => BigInteger.valueOf(row.getByte(i).toLong)
    }

    /** Merge two partials of one file (into `a`): bitset OR, register
      * max, SUM and count add — associative and commutative, so split
      * order never shows in the bytes.
      */
    def merge(a: Sketches, b: Sketches): Sketches = {
      var i = 0
      while (i < a.counts.length) {
        if (a.blooms(i) != null) a.blooms(i).mergeInPlace(b.blooms(i))
        if (a.regs(i) != null) {
          val (r1, r2) = (a.regs(i), b.regs(i))
          var j = 0
          while (j < r1.length) { if (r2(j) > r1(j)) r1(j) = r2(j); j += 1 }
        }
        a.sums(i) = a.sums(i).add(b.sums(i))
        a.counts(i) += b.counts(i)
        i += 1
      }
      a
    }

    /** Registers per NDV sketch — see [[Snapshots.NdvRegisters]]. */
    val NdvRegisters = 256

    /** The SUM sidecar sentinel for "no exact sum: scan instead of fold". */
    val SumNa = "na"

    private val Max38 = BigInteger.TEN.pow(38)

    /** Write a file's finished sketches, NDV and SUM strictly BEFORE the
      * bloom: the bloom is the "file is new" marker, so a crash between
      * them leaves the bloom missing and the next commit still treats the
      * file as new, building whatever it lacks. A SUM
      * records `0` when the file has no non-null value (the manifest null
      * count disambiguates) and `na` when |sum| ≥ 10^38, past
      * Decimal(38, s) — fall back to scanning rather than fold a value no
      * SUM result type can hold. Returns the (column, target, content) of
      * every SUM written.
      */
    def write(
        conf: org.apache.hadoop.conf.Configuration,
        spec: FileSpec,
        sk: Sketches): Seq[(String, String, String)] = {
      // a lost rename race is benign: sketches are deterministic per
      // (file, col); the backfill's stale-`na` upgrade replaces instead
      def put(target: String, bytes: Array[Byte], replace: Boolean = false): Unit = {
        val p = new Path(target)
        MetaFiles.publish(p.getFileSystem(conf), p, bytes, overwrite = replace)
      }
      spec.ndv.indices.foreach { i =>
        if (spec.ndv(i) != null) put(spec.ndv(i), sk.regs(i))
      }
      val sums = spec.naSums.map { case (c, t) => (c, t, SumNa) } ++
        spec.sum.indices.filter(spec.sum(_) != null).map { i =>
          val content =
            if (sk.counts(i) == 0L) "0"
            else if (sk.sums(i).abs.compareTo(Max38) >= 0) SumNa
            else sk.sums(i).toString
          (spec.sumCols(i), spec.sum(i), content)
        }
      sums.foreach { case (_, t, content) =>
        put(t, content.getBytes("UTF-8"), replace = spec.replaceSums)
      }
      spec.bloom.indices.foreach { i =>
        if (spec.bloom(i) != null) {
          val baos = new java.io.ByteArrayOutputStream()
          sk.blooms(i).writeTo(baos)
          put(spec.bloom(i), baos.toByteArray)
        }
      }
      sums
    }

    /** Fold one CAST-to-string value into a 256-register NDV sketch — the
      * portable HyperLogLog behind `approxCountDistinct`. The DuckDB
      * oracle recomputes the merged estimate bit-for-bit (q237), so this
      * arithmetic is a contract: take the md5 hex of the value; its first
      * 13 hex digits with leading zeros stripped give rho = 4 × (zero
      * digits) + (4 − bit length of the first non-zero digit) + 1, or 53
      * when all 13 are zero; hex digits 14–15 give the bucket; a register
      * keeps its bucket's max rho (≤ 53 fits a byte; absent buckets stay
      * 0). Nulls never reach it — `count(DISTINCT c)`'s own rule.
      */
    private def ndvUpdate(
        md: java.security.MessageDigest,
        bytes: Array[Byte],
        reg: Array[Byte]): Unit = {
      val hexDigits = NdvHexDigits
      md.reset()
      val d = md.digest(bytes)
      val hex = new Array[Char](16)
      var i = 0
      while (i < 8) {
        hex(2 * i) = hexDigits((d(i) >> 4) & 0xf)
        hex(2 * i + 1) = hexDigits(d(i) & 0xf)
        i += 1
      }
      var lead = 0
      while (lead < 13 && hex(lead) == '0') lead += 1
      val stripLen = 13 - lead
      val rho =
        if (stripLen == 0) 53
        else {
          val bits = hex(lead) match {
            case '8' | '9' | 'a' | 'b' | 'c' | 'd' | 'e' | 'f' => 4
            case '4' | '5' | '6' | '7' => 3
            case '2' | '3' => 2
            case _ => 1
          }
          4 * (13 - stripLen) + (4 - bits) + 1
        }
      val bucket =
        (Character.digit(hex(13), 16) << 4) | Character.digit(hex(14), 16)
      if (rho > reg(bucket)) reg(bucket) = rho.toByte
    }

    private val NdvHexDigits = "0123456789abcdef".toCharArray
  }

  /** Build the MISSING NDV register AND SUM sidecars for every pinned
    * file of the latest manifest — the explicit upgrade pass for tables
    * whose sidecars predate those features (a routine commit
    * deliberately skips them; see [[buildSidecars]]). It also re-records
    * stale `na` SUMs written under an older, narrower summability rule,
    * and it is how a bloom-less stats table opts into SUM sidecars (the
    * only way its pre-feature files ever get manifest-only SUM/AVG). One
    * bounded data-reading pass over exactly the files that lack a
    * sidecar; returns how many NDV (file, column) sidecars were built.
    * SQL: `CALL cat.ndv_backfill`.
    */
  def backfillNdv(spark: SparkSession, root: String): Long =
    withTableLock(spark, root) {
      val version = latestVersion(spark, root)
      if (version == 0L) return 0L
      val view = manifestView(spark, root, version)
      if (view.bloomCols.isEmpty && view.statsCols.isEmpty) return 0L
      val rootPath = new Path(root)
      val fs = fsOf(spark, rootPath)
      val missing = (for {
        rel <- view.rels
        c <- view.bloomCols
        if !fs.exists(ndvPath(rootPath, rel, c))
      } yield (rel, c)).size.toLong
      buildSidecars(
        spark, root, view.rels, view.bloomCols, backfill = true, statsCols = view.statsCols)
      missing
    }

  // ---- per-file SUM sidecars (manifest-only SUM/AVG pushdown) -------------

  /** Parquet footers carry min/max/null counts but never SUMS, so exact
    * `SUM(x)` / `AVG(x)` pushdown needs one number the commit's pooled
    * data-reading pass (bloom + NDV sidecars) can record at near-zero
    * marginal cost: the file's exact sum of each SUMMABLE stats column —
    * integrals AND fixed-scale DECIMALs (recorded as the UNSCALED BigInt;
    * the scale is the column's, known from the schema) —
    * one tiny sidecar per (file, column) under `_graft_manifests/sum/`.
    * Sums fold exactly (BigInt — no order sensitivity, no overflow), so
    * a clean table answers `SUM(x)` with zero file opens and a DV'd one
    * scans only its DV'd files — the hybrid MIN/MAX discipline.
    * Non-summable and hive-partition stats columns record the `na`
    * sentinel ONCE so later commits never re-probe them (floating sums
    * are order-sensitive — folding them would not reproduce Spark's
    * result bit-for-bit). Files whose blooms predate this feature are
    * upgraded by [[backfillNdv]], never by a routine commit.
    */
  private def sumPath(root: Path, rel: String, colName: String): Path =
    new Path(new Path(manifestDir(root), "sum"), s"${hex(rel)}.${hex(colName)}")

  private val SumNa = SidecarKernel.SumNa

  private def isIntegral(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
        org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => true
    case _ => false
  }

  /** Can a column's per-file sum be recorded exactly? Integrals and
    * fixed-scale DECIMALs — a decimal sum is exactly as order-insensitive
    * as an integer's (the sidecar records the UNSCALED BigInt; the scale
    * is the column's, known from the schema). Floats stay excluded:
    * their sums are order-sensitive, a fold would not reproduce Spark's
    * result bit-for-bit.
    */
  private def isSummable(dt: org.apache.spark.sql.types.DataType): Boolean =
    isIntegral(dt) || dt.isInstanceOf[org.apache.spark.sql.types.DecimalType]

  // sidecars are immutable and tiny: cache decoded values (None = the
  // `na` sentinel), plus absence (the ndvMissCache discipline)
  private val sumCache =
    new java.util.concurrent.ConcurrentHashMap[String, Option[BigInt]]()
  private val sumMissCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  // per-(table, column) "sums incomplete" memo: the SUM planning gate
  // probes one sidecar per clean rel per SUM expression per planning
  // pass; a pre-feature table with more files than the bounded miss
  // cache holds would re-pay O(files) driver fs.exists RPCs on EVERY
  // pass. One negative memo bounds that to a single probe run, and is
  // invalidated the moment a real (non-`na`) sum sidecar for the pair is
  // written — commit, branch land or backfill alike.
  // value = the WITNESS rel observed missing, so a LATER query whose rel
  // set does not contain the witness (a pruned subset, an older pinned
  // version) still probes — one stale negative must not disable pushdown
  // for file sets that are complete
  private val sumIncompleteCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def sumMemoKey(root: String, colName: String): String =
    new Path(root).toString + "\u0000" + colName

  /** Does EVERY rel in `rels` carry a decodable (non-`na`) sum sidecar
    * for `colName`? The SUM pushdown planning gate — lazily
    * short-circuits on the first miss and memoizes the negative per
    * (table, column) so repeated planning against an un-backfilled table
    * costs one containsKey, not one filesystem probe per file.
    */
  private[sources] def allSumsPresent(
      spark: SparkSession,
      root: String,
      colName: String,
      rels: Seq[String]): Boolean = {
    val key = sumMemoKey(root, colName)
    val witness = sumIncompleteCache.get(key)
    if (witness != null && rels.contains(witness)) return false
    var firstMissing: String = null
    val ok = rels.forall { r =>
      val present = fileSumOf(spark, root, r, colName).isDefined
      if (!present && firstMissing == null) firstMissing = r
      present
    }
    if (!ok) sumIncompleteCache.put(key, firstMissing)
    ok
  }

  /** The file's recorded exact sum of `colName`'s non-null values (0 when
    * all null — the manifest null count disambiguates), or None when the
    * sidecar is absent or `na`: callers must fall back to scanning, never
    * guess.
    */
  private[sources] def fileSumOf(
      spark: SparkSession,
      root: String,
      rel: String,
      colName: String): Option[BigInt] = {
    val p = sumPath(new Path(root), rel, colName)
    val key = p.toString
    val cached = sumCache.get(key)
    if (cached != null) return cached
    if (sumMissCache.containsKey(key)) return None
    val fs = fsOf(spark, p)
    try {
      val txt = MetaFiles.readText(fs, p).map(_.trim).getOrElse {
        if (sumMissCache.size() >= 65536)
          sumMissCache.keySet.iterator().asScala.take(16384).foreach(sumMissCache.remove)
        sumMissCache.put(key, java.lang.Boolean.TRUE)
        return None
      }
      val v = if (txt == SumNa) None else Some(BigInt(txt))
      if (sumCache.size() >= 65536)
        sumCache.keySet.iterator().asScala.take(16384).foreach(sumCache.remove)
      sumCache.put(key, v)
      v
    } catch { case _: Exception => None }
  }

  // ---- NDV register sidecars (portable HyperLogLog) -----------------------

  /** Registers per (file, column) NDV sketch: 256 — the q48 scheme, kept
    * deliberately PORTABLE (md5-derived buckets and rho read off the hex
    * string, integer-domain register sums) so a DuckDB oracle recomputes
    * the merged estimate bit-for-bit. One sidecar is 256 bytes; merging
    * is elementwise max — associative, commutative, idempotent, so any
    * partition of history into commits yields the same table-level
    * estimate as a single pass (merge invariance).
    */
  val NdvRegisters: Int = SidecarKernel.NdvRegisters

  private def ndvPath(root: Path, rel: String, colName: String): Path =
    new Path(new Path(manifestDir(root), "ndv"), s"${hex(rel)}.${hex(colName)}")

  // decoded register sidecars are immutable and tiny (256 B): cache per
  // JVM like blooms, bounded
  private val ndvCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Byte]]()

  // ABSENCE is cached too: a pre-NDV or partially-sidecar'd table would
  // otherwise pay O(kept rels × ndv cols) fs.exists RPCs on EVERY stats
  // estimation (columnStats runs per plan). Entries are invalidated by
  // the one writer that can create a sidecar (buildSidecars).
  private val ndvMissCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  /** The file's NDV registers for `colName`, None when the sidecar is
    * absent/unreadable (callers must fall back, never guess).
    */
  def ndvRegisters(spark: SparkSession, root: String, rel: String, colName: String): Option[Array[Byte]] = {
    val p = ndvPath(new Path(root), rel, colName)
    val key = p.toString
    val cached = ndvCache.get(key)
    if (cached != null) return Some(cached)
    if (ndvMissCache.containsKey(key)) return None
    val fs = fsOf(spark, p)
    try {
      if (!fs.exists(p)) {
        if (ndvMissCache.size() >= 65536)
          ndvMissCache.keySet.iterator().asScala.take(16384).foreach(ndvMissCache.remove)
        ndvMissCache.put(key, java.lang.Boolean.TRUE)
        return None
      }
      val in = fs.open(p)
      val buf =
        try {
          val b = new Array[Byte](NdvRegisters)
          org.apache.hadoop.io.IOUtils.readFully(in, b, 0, NdvRegisters)
          b
        } finally in.close()
      // 256 B per entry ⇒ ~16 MB at the cap: a table with tens of
      // thousands of files estimates without evicting mid-merge (the old
      // 4096 cap thrashed — every eviction is a sidecar re-read)
      if (ndvCache.size() >= 65536)
        ndvCache.keySet.iterator().asScala.take(16384).foreach(ndvCache.remove)
      ndvCache.put(key, buf)
      Some(buf)
    } catch { case _: Exception => None }
  }

  /** The q48 HyperLogLog estimate from merged registers: integer-domain
    * register sum (aggregation order cannot perturb it), absent buckets
    * contribute 2^53, linear counting below 2.5·m — the exact arithmetic
    * a DuckDB oracle reproduces.
    */
  def ndvEstimate(reg: Array[Byte]): Double = {
    val m = reg.length
    val alphaM2 = 0.7213 / (1 + 1.079 / m) * m * m
    val two53 = 9007199254740992L // 2^53
    var nz = 0L
    var sp = 0L
    var i = 0
    while (i < m) {
      val r = reg(i).toInt
      if (r > 0) { nz += 1L; sp += (1L << (53 - r)) }
      i += 1
    }
    val raw = alphaM2 / ((sp + (m - nz) * two53).toDouble / two53.toDouble)
    if (raw <= 2.5 * m && nz < m) m.toDouble * math.log(m.toDouble / (m - nz)) else raw
  }

  /** Manifest-only approximate COUNT(DISTINCT col): merge every pinned
    * file's register sidecar (driver metadata I/O — 256 bytes per file,
    * cached; ZERO data-file opens) and estimate. None when any pinned
    * file lacks a sidecar (pre-NDV commits, non-indexed columns) — the
    * caller falls back to a real scan rather than undercounting.
    *
    * Deletion vectors make this an UPPER estimate (registers are
    * insert-time sketches; deletes don't shrink them) — the same
    * direction a planner wants for join sizing. Fully-deleted files still
    * contribute for the same reason.
    */
  def approxCountDistinct(
      spark: SparkSession,
      root: String,
      colName: String,
      version: Long = -1L): Option[Double] = {
    val view = manifestView(spark, root, version)
    if (view.rels.isEmpty) return Some(0.0)
    mergedNdvEstimate(spark, root, view.rels, colName)
  }

  /** Merge an explicit file list's register sidecars into one estimate —
    * the planner-facing form ([[graft.sources.snap.SnapScanStats]] reports
    * it as the scan's per-column `distinctCount`). None when any listed
    * file lacks a sidecar.
    */
  private[sources] def mergedNdvEstimate(
      spark: SparkSession,
      root: String,
      rels: Seq[String],
      colName: String): Option[Double] = {
    if (rels.isEmpty) return Some(0.0)
    // short-circuit on the FIRST missing sidecar and merge into one
    // accumulator: a partially-sidecar'd table must not probe (or hold)
    // every remaining register array after the answer is already None
    val merged = new Array[Byte](NdvRegisters)
    val it = rels.iterator
    while (it.hasNext) {
      ndvRegisters(spark, root, it.next(), colName) match {
        case None => return None
        case Some(r) =>
          var i = 0
          while (i < NdvRegisters) {
            if (r(i) > merged(i)) merged(i) = r(i)
            i += 1
          }
      }
    }
    Some(ndvEstimate(merged))
  }

  // decoded sidecars are immutable (rel names one file forever): cache
  // them per JVM so a point-probe-heavy session reads each ONCE. Byte-
  // budgeted LRU (the d12771d NDV-cache lesson): sizing by ENTRY count
  // thrashed — 256 mostly-tiny filters is a few MiB, yet a table with
  // >256 live (rel, col) sidecars re-read up to 1 MiB from the FS on
  // every narrowing epoch past the cap. Budget the actual bytes instead
  // and evict least-recently-USED, never random.
  private val BloomCacheBudgetBytes: Long = 256L * 1024 * 1024
  private var bloomCacheBytes: Long = 0L
  private val bloomCache =
    new java.util.LinkedHashMap[String, (org.apache.spark.util.sketch.BloomFilter, Long)](
      1024, 0.75f, /* accessOrder = */ true)

  private def bloomCacheGet(key: String): org.apache.spark.util.sketch.BloomFilter =
    bloomCache.synchronized {
      val e = bloomCache.get(key) // get() refreshes LRU order
      if (e == null) null else e._1
    }

  private def bloomCachePut(key: String, bf: org.apache.spark.util.sketch.BloomFilter): Unit =
    bloomCache.synchronized {
      if (!bloomCache.containsKey(key)) {
        val bytes = math.max(bf.bitSize() / 8L, 64L) // object floor, honest enough
        bloomCache.put(key, (bf, bytes))
        bloomCacheBytes += bytes
        val it = bloomCache.entrySet().iterator()
        while (bloomCacheBytes > BloomCacheBudgetBytes && bloomCache.size() > 1) {
          val eldest = it.next()
          bloomCacheBytes -= eldest.getValue._2
          it.remove()
        }
      }
    }

  /** Can file `rel` possibly contain `value` in `colName`? `true` when the
    * sidecar is absent/unreadable (cannot exclude — pruning must only ever
    * skip DEFINITE misses); `false` is definitive. `value` is in the
    * stats-string domain ([[graft.sources.snap.SnapFilters.statString]] /
    * `CAST(col AS STRING)` — the same rendering the sidecar was built
    * with).
    */
  def bloomMightContain(
      spark: SparkSession,
      root: String,
      rel: String,
      colName: String,
      value: String): Boolean = {
    val p = bloomPath(new Path(root), rel, colName)
    val key = p.toString
    var bf = bloomCacheGet(key)
    if (bf == null) {
      lastBloomReads.set(lastBloomReads.get() + 1L)
      val fs = fsOf(spark, p)
      if (!fs.exists(p)) return true
      val in = fs.open(p)
      try bf = org.apache.spark.util.sketch.BloomFilter.readFrom(in)
      catch { case _: Exception => return true }
      finally in.close()
      bloomCachePut(key, bf)
    }
    bf.mightContainString(value)
  }

  /** Deep-clone one pinned version of a snapshot table into a fresh root —
    * the CLONE a lakehouse offers for dev/test forks: the clone is a fully
    * independent table (its own files, manifests, sidecars) whose v1 is
    * byte-identical in METADATA to the source version, created WITHOUT a
    * single footer read or Spark job:
    *  - every data file the pinned manifest references resolves (live or
    *    archived) and copies under its own rel path — rel paths carry over,
    *    so the source's per-file stats lines stay exact;
    *  - the manifest FILE ITSELF is copied as the clone's v1: recorded
    *    schema, stats columns, bloom columns, per-file min/max/row counts
    *    and byte lengths all carry — metadata-only COUNT, stats pruning and
    *    time-travel discipline work on the clone from the first second;
    *  - bloom sidecars copy with their files (keyed by rel, still valid).
    * Runs under BOTH table locks (the source's so vacuum can't reap an
    * archived file mid-copy; the destination's to claim it). The clone
    * then evolves independently — source vacuum/rewrites never touch it.
    * At 100 TB a deep clone is a one-time parallel file copy priced at the
    * pinned version's bytes; the metadata cost is two small file copies.
    * Returns the number of data files copied.
    */
  def cloneSnapshot(
      spark: SparkSession,
      srcRoot: String,
      dstRoot: String,
      version: Long = -1L): Long = {
    val srcPath = new Path(srcRoot)
    val dstPath = new Path(dstRoot)
    val fs = fsOf(spark, srcPath)
    val dstFs = fsOf(spark, dstPath) // dest may live on a DIFFERENT filesystem
    withTableLock(spark, srcRoot) {
      withTableLock(spark, dstRoot) {
        require(
          latestVersion(spark, dstRoot) == 0L && listDataFiles(spark, dstRoot).isEmpty,
          s"clone destination $dstRoot must be empty (no manifests, no data files)")
        val view = manifestView(spark, srcRoot, version)
        require(view.rels.nonEmpty, s"source manifest v${view.version} lists no files")
        val conf = spark.sparkContext.hadoopConfiguration
        def copyOne(rel: String): Unit = {
          val from = resolve(spark, srcRoot, rel)
          val to = new Path(dstPath, rel)
          dstFs.mkdirs(to.getParent)
          if (!org.apache.hadoop.fs.FileUtil.copy(fs, from, dstFs, to, false, false, conf))
            sys.error(s"clone copy failed: $from -> $to")
          view.bloomCols.foreach { c =>
            val bs = bloomPath(srcPath, rel, c)
            if (fs.exists(bs)) {
              val bd = bloomPath(dstPath, rel, c)
              dstFs.mkdirs(bd.getParent)
              org.apache.hadoop.fs.FileUtil.copy(fs, bs, dstFs, bd, false, false, conf)
            }
            // the NDV register sidecar rides the same discipline (keyed by
            // rel — still valid under the new root)
            val ns = ndvPath(srcPath, rel, c)
            if (fs.exists(ns)) {
              val nd = ndvPath(dstPath, rel, c)
              dstFs.mkdirs(nd.getParent)
              org.apache.hadoop.fs.FileUtil.copy(fs, ns, dstFs, nd, false, false, conf)
            }
          }
          // SUM sidecars carry too (keyed by rel, exact under any root)
          view.statsCols.foreach { c =>
            val ss = sumPath(srcPath, rel, c)
            if (fs.exists(ss)) {
              val sd = sumPath(dstPath, rel, c)
              dstFs.mkdirs(sd.getParent)
              org.apache.hadoop.fs.FileUtil.copy(fs, ss, dstFs, sd, false, false, conf)
            }
          }
          // the file's deletion-vector sidecar carries with it — the
          // re-rendered manifest line keeps the pointer (rel-relative, so
          // it stays exact under the new root)
          dvOf(view.stats.getOrElse(rel, Map.empty)).foreach { case (dvRel, _) =>
            val ds = new Path(srcPath, dvRel)
            require(fs.exists(ds), s"clone: deletion-vector sidecar $dvRel is gone (vacuumed?)")
            val dd = new Path(dstPath, dvRel)
            dstFs.mkdirs(dd.getParent)
            if (!org.apache.hadoop.fs.FileUtil.copy(fs, ds, dstFs, dd, false, false, conf))
              sys.error(s"clone copy failed: $ds -> $dd")
          }
        }
        graft.core.Par.each(view.rels)(copyOne)
        // the reconstructed view re-renders as the clone's FULL v1 —
        // written AFTER the data so a reader never sees a manifest
        // promising absent files. A verbatim copy would be wrong when the
        // pinned version committed as a DELTA (its `#delta <base>` chain
        // doesn't exist at the destination); re-rendering carries the
        // exact same metadata (header fields, per-file stats), records
        // the clone's own #nfiles/#pathcols (+ #partcanon carried from
        // the source header — the file set is identical), and the normal
        // write path regenerates the partition-index sidecar, so the
        // clone plans O(selected) from its first query.
        dstFs.mkdirs(manifestDir(dstPath))
        val pathColsEff =
          if (view.partCols.nonEmpty) view.partCols else partitionColsFromRels(view.rels)
        val header = renderHeader(
          view.schema,
          view.statsCols,
          view.bloomCols,
          view.dropped,
          view.partCols,
          partCanon = headerView(spark, srcRoot, view.version).flatMap(_.partCanon),
          nFiles = Some(view.rels.size.toLong),
          pathCols = if (view.rels.nonEmpty) Some(pathColsEff) else None)
        val body = header ++
          view.rels.map(rel => renderFileLine(rel, view.stats.getOrElse(rel, Map.empty)))
        // a v1 manifest source (no header) clones as a plain v1 file list
        val rendered = if (view.schema.isEmpty && view.statsCols.isEmpty &&
            view.bloomCols.isEmpty && view.partCols.isEmpty && view.dropped.isEmpty)
          view.rels
        else body
        require(
          tryWriteManifest(dstFs, dstPath, 1L, rendered),
          s"clone could not write the destination manifest under $dstRoot")
        view.rels.size.toLong
      }
    }
  }

  /** Committed manifest versions with their commit wall-clock (file mtime,
    * epoch millis), ascending — the `TIMESTAMP AS OF` resolution surface:
    * a timestamp pins the newest version committed at or before it.
    */
  def manifestVersions(spark: SparkSession, root: String): Seq[(Long, Long)] = {
    val dir = manifestDir(new Path(root))
    val fs = fsOf(spark, dir)
    if (!fs.exists(dir)) Seq.empty
    else
      fs.listStatus(dir)
        .toSeq
        .collect {
          case st if st.getPath.getName.startsWith("v") && st.getPath.getName.endsWith(".manifest") =>
            (
              st.getPath.getName.stripPrefix("v").stripSuffix(".manifest").toLong,
              st.getModificationTime)
        }
        .sortBy(_._1)
  }

  /** Wall clock of one version's commit (the manifest file's mtime — the
    * same instant the `snapshots` metadata table's `committed_at`
    * reports, and the `TIMESTAMP AS OF` resolution base). One
    * getFileStatus; errors if the manifest was vacuumed.
    */
  def commitTimeMs(spark: SparkSession, root: String, version: Long): Long = {
    val p = manifestPath(new Path(root), version)
    val fs = fsOf(spark, p)
    try fs.getFileStatus(p).getModificationTime
    catch {
      case _: java.io.FileNotFoundException =>
        sys.error(s"manifest v$version does not exist under $root (vacuumed or never committed)")
    }
  }

  /** Commit a baseline manifest iff the table has none — called by the
    * maintenance ops so the PRE-maintenance state is always pinnable.
    */
  def ensureBaseline(spark: SparkSession, root: String): Long = {
    val v = latestVersion(spark, root)
    if (v > 0L) v else commit(spark, root)
  }

  private def manifestLines(spark: SparkSession, root: String, version: Long): Seq[String] = {
    val v = if (version > 0) version else latestVersion(spark, root)
    require(v > 0, s"no manifest committed under $root")
    val p = manifestPath(new Path(root), v)
    val text = MetaFiles.readText(fsOf(spark, p), p).getOrElse(throw new IllegalArgumentException(
      s"manifest v$v does not exist under $root (vacuumed or never committed)"))
    text.split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
  }

  /** One manifest, fully parsed in a single read: the metadata bundle a
    * planner needs (file list, per-file stats, recorded schema, stats
    * columns). The SQL catalog loads ONE of these per (table, version)
    * per query instead of re-reading the manifest for each of schema /
    * pruning / aggregation / statistics — on a large table the manifest
    * is the big metadata object, so planning cost is one read, period.
    */
  final case class ManifestView(
      version: Long,
      rels: Seq[String],
      stats: Map[String, Map[String, ColStat]],
      schema: Option[org.apache.spark.sql.types.StructType],
      statsCols: Seq[String],
      bloomCols: Seq[String] = Seq.empty,
      dropped: Seq[String] = Seq.empty,
      partCols: Seq[String] = Seq.empty,
      /** Set when THIS version committed as a delta: (base version, rels
        * added, rels removed) — the streaming source's per-version feed
        * reads it directly instead of diffing two full reconstructions.
        */
      delta: Option[(Long, Seq[String], Seq[String])] = None,
      /** Rels a delta RE-STATED (a `+rel` the base already listed): a
        * stats replacement — same file, same bytes, possibly a changed
        * deletion-vector pointer. What [[dvChangedRels]] narrows its
        * comparison to on delta versions.
        */
      restated: Seq[String] = Seq.empty)

  /** One manifest body line → (rel, per-column stats). */
  private def parseFileLine(line: String): (String, Map[String, ColStat]) =
    if (!line.contains("\t")) (line, Map.empty)
    else {
      val parts = line.split("\t")
      parts.head -> parts.tail.map { e =>
        val Array(c, t, mn, mx) = e.split(":", 4)
        unhex(c) -> ColStat(t, unhex(mn), unhex(mx))
      }.toMap
    }

  /** (rel, stats) → one manifest body line. Entry order is by column name
    * — parsing is order-independent, so a re-rendered line (checkpoint
    * from a reconstructed view) carries identical information.
    */
  private def renderFileLine(rel: String, st: Map[String, ColStat]): String =
    if (st.isEmpty) rel
    else
      rel + "\t" + st.toSeq
        .sortBy(_._1)
        .map { case (c, cs) => s"${hex(c)}:${cs.typ}:${hex(cs.min)}:${hex(cs.max)}" }
        .mkString("\t")

  /** Cache lookup keyed by the manifest file's identity; errors (like the
    * old direct read) when the manifest file is gone.
    */
  private def cachedView(spark: SparkSession, root: String, v: Long): Option[ManifestView] =
    Option(viewCache.get(viewKey(spark, root, v)))

  private def viewKey(spark: SparkSession, root: String, v: Long): (String, Long, Long) = {
    val p = manifestPath(new Path(root), v)
    val fs = fsOf(spark, p)
    val st =
      try fs.getFileStatus(p)
      catch {
        case _: java.io.FileNotFoundException =>
          throw new IllegalArgumentException(
            s"manifest v$v does not exist under $root (vacuumed or never committed)")
      }
    (
      p.makeQualified(fs.getUri, fs.getWorkingDirectory).toString,
      st.getModificationTime,
      st.getLen)
  }

  private def cachePut(
      spark: SparkSession,
      root: String,
      v: Long,
      view: ManifestView): ManifestView = {
    if (viewCache.size() >= 32)
      viewCache.keySet.iterator().asScala.take(8).foreach(viewCache.remove)
    viewCache.put(viewKey(spark, root, v), view)
    view
  }

  /** Count of cache-missed FULL view reconstructions — observability for
    * the O(selected)-planning specs (a cold pruned catalog plan must not
    * increment it).
    */
  private[sources] val fullViewParses = new java.util.concurrent.atomic.AtomicLong(0L)

  // public observability facade for cold-planning proofs (registered
  // query q225 + specs): simulate a fresh driver, then check no full
  // list was reconstructed and how many manifest bytes the plan read
  def dropViewCache(): Unit = viewCache.clear()
  def fullViewParseCount: Long = fullViewParses.get()
  def resetPlanManifestBytes(): Unit = lastManifestBytesRead.set(0L)
  def lastPlanManifestBytes: Long = lastManifestBytesRead.get()

  def manifestView(spark: SparkSession, root: String, version: Long = -1L): ManifestView = {
    val v = if (version > 0) version else latestVersion(spark, root)
    require(v > 0, s"no manifest committed under $root")
    cachedView(spark, root, v).getOrElse {
      fullViewParses.incrementAndGet()
      // ITERATIVE delta-chain reconstruction: walk DOWN the recorded
      // bases collecting unparsed delta levels until a cached view or a
      // full manifest, then fold UP applying each delta, caching every
      // level — what the old recursion did via the call stack, without
      // it: a user-set `spark.graft.snapshot.checkpointInterval` in the
      // thousands (a per-trigger streaming sink) must neither overflow
      // the stack nor re-read the chain uncached on the next lookup.
      var levels = List.empty[(Long, Seq[String])] // deepest level first
      var cur = v
      var base: Option[ManifestView] = None
      while (base.isEmpty) {
        val lines = manifestLines(spark, root, cur)
        lines.find(_.startsWith("#delta ")) match {
          case Some(d) =>
            val b = d.stripPrefix("#delta ").trim.toLong
            // every legitimate commit records a STRICTLY LOWER base — a
            // corrupt/hand-edited chain that didn't would loop this walk
            // forever (the old recursion at least blew the stack loudly)
            require(
              b > 0L && b < cur,
              s"manifest v$cur under $root records a non-decreasing delta base $b — corrupt chain")
            levels = (cur, lines) :: levels
            base = cachedView(spark, root, b)
            cur = b
          case None =>
            base = Some(cachePut(spark, root, cur, parseFull(cur, lines)))
        }
      }
      levels.foldLeft(base.get) { case (acc, (vv, lines)) =>
        cachePut(spark, root, vv, applyDelta(acc, vv, lines))
      }
    }
  }

  /** Shared header parse: (schema, statsCols, bloomCols, dropped,
    * partCols) — a delta manifest's header fields are ITS OWN (a DDL
    * commit is a header-only delta).
    */
  private def parseHeader(lines: Seq[String]): (
      Option[org.apache.spark.sql.types.StructType],
      Seq[String],
      Seq[String],
      Seq[String],
      Seq[String]) = {
    val header = lines.filter(_.startsWith("#"))
    val schema = header
      .find(_.startsWith("#schema "))
      .map(l =>
        org.apache.spark.sql.types.DataType
          .fromJson(l.stripPrefix("#schema "))
          .asInstanceOf[org.apache.spark.sql.types.StructType])
    def csv(tag: String): Seq[String] = header
      .find(_.startsWith(s"#$tag "))
      .map(_.stripPrefix(s"#$tag ").split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(Seq.empty)
    // dropped-column tombstones are hex-encoded (a column name may itself
    // contain a comma); partition columns are plain (hive dir names can't)
    (schema, csv("statscols"), csv("bloomcols"), csv("dropped").map(unhex), csv("partcols"))
  }

  private def parseFull(v: Long, lines: Seq[String]): ManifestView = {
    val (schema, statsCols, bloomCols, dropped, partCols) = parseHeader(lines)
    val parsed = lines.filterNot(_.startsWith("#")).map(parseFileLine)
    ManifestView(
      v,
      parsed.map(_._1),
      parsed.filter(_._2.nonEmpty).toMap,
      schema,
      statsCols,
      bloomCols,
      dropped,
      partCols)
  }

  /** DELTA manifest applied over its reconstructed base: file list +
    * per-file stats evolve by the `+`/`-` body lines.
    */
  private def applyDelta(base: ManifestView, v: Long, lines: Seq[String]): ManifestView = {
    val (schema, statsCols, bloomCols, dropped, partCols) = parseHeader(lines)
    val body = lines.filterNot(_.startsWith("#"))
    val removed = body.filter(_.startsWith("-")).map(_.substring(1))
    val added = body.filter(_.startsWith("+")).map(l => parseFileLine(l.substring(1)))
    val removedSet = removed.toSet ++ added.map(_._1) // re-add = replace
    val rels = (base.rels.filterNot(removedSet) ++ added.map(_._1)).sorted
    val stats = (base.stats -- removedSet) ++ added.filter(_._2.nonEmpty).toMap
    // the recorded delta exposes TRUE file-set changes only: a `+rel`
    // for a rel the base already lists is a stats REPLACEMENT (same
    // rows — the streaming feed must not re-emit it), matching what a
    // two-version diff of the reconstructions reports
    val baseRels = base.rels.toSet
    ManifestView(
      v,
      rels,
      stats,
      schema,
      statsCols,
      bloomCols,
      dropped,
      partCols,
      delta = Some((base.version, added.map(_._1).filterNot(baseRels).sorted, removed.sorted)),
      restated = added.map(_._1).filter(baseRels).sorted)
  }

  /** The root-relative file list of manifest `version` (≤0 → latest).
    * Both formats parse: v1 is one path per line; v2 prefixes `#` header
    * lines and appends tab-separated per-file stats after the path.
    */
  def files(spark: SparkSession, root: String, version: Long = -1L): Seq[String] =
    manifestView(spark, root, version).rels

  /** Per-file column stats of a v2 manifest (empty for v1 manifests or
    * stat-less files).
    */
  def fileStats(
      spark: SparkSession,
      root: String,
      version: Long = -1L): Map[String, Map[String, ColStat]] =
    manifestView(spark, root, version).stats

  /** The stats columns a v2 manifest was committed with (empty for v1) —
    * lets an appender re-commit with the SAME stats discipline the table
    * already has ([[graft.sources.snap.GraftCatalog]]'s INSERT path).
    */
  def statsColsOf(spark: SparkSession, root: String, version: Long = -1L): Seq[String] =
    manifestView(spark, root, version).statsCols

  /** The table schema recorded by a v2 manifest commit (None for v1). */
  def schemaOf(
      spark: SparkSession,
      root: String,
      version: Long = -1L): Option[org.apache.spark.sql.types.StructType] =
    manifestView(spark, root, version).schema

  /** Resolve a manifest entry to its current location: live path if the
    * file is still live, archive path if maintenance replaced it.
    */
  def resolve(spark: SparkSession, root: String, rel: String): Path = {
    val rootPath = new Path(root)
    val fs = fsOf(spark, rootPath)
    val live = new Path(rootPath, rel)
    if (fs.exists(live)) live
    else {
      val archived = new Path(new Path(rootPath, ArchiveDirName), rel)
      if (fs.exists(archived)) archived
      else sys.error(s"snapshot file $rel is neither live nor archived — vacuumed?")
    }
  }

  /** Read the table pinned at manifest `version` (≤0 → latest): an
    * explicit-file-list scan ([[scanRels]]), immune to concurrent
    * maintenance — live and archived files, branch files and deletion
    * vectors all read through the catalog's one scan.
    */
  /** Optional `prune`: inclusive (column, lo, hi) ranges applied against
    * the manifest's recorded per-file stats — files whose interval misses
    * every range are dropped from the scan BEFORE any footer is opened
    * (zero I/O planning; a v1 manifest or a stat-less column prunes
    * nothing and stays correct). A v2 manifest's recorded schema is
    * applied to the scan, so pinned reads keep their commit-time schema
    * even after later schema-evolving writes.
    */
  def readSnapshot(
      spark: SparkSession,
      root: String,
      version: Long = -1L,
      prune: Seq[(String, String, String)] = Nil): DataFrame = {
    // a pruned read against an indexed checkpoint parses only the
    // selected partition groups' byte ranges — planning I/O is
    // O(selected partitions), not O(table files); the group selection is
    // a superset of the per-file stats selection below, so the final rel
    // set (and the scan) is identical either way
    val pruned =
      if (prune.isEmpty) None
      else {
        val v = if (version > 0) version else latestVersion(spark, root)
        if (v > 0) prunedChainView(spark, root, v, prune) else None
      }
    val view = pruned.getOrElse(manifestView(spark, root, version))
    val all = view.rels
    // a pruned view with no surviving rels can't distinguish "empty
    // table" from "everything pruned" — the (rare) full view decides
    require(
      all.nonEmpty || (pruned.isDefined && manifestView(spark, root, version).rels.nonEmpty),
      s"manifest under $root lists no data files")
    val schema = view.schema
    // merge-on-read file pruning: a file whose every recorded row is
    // deleted contributes nothing — drop it before any I/O (the whole-file
    // analogue of stats pruning; sound because the DV commit records the
    // exact distinct-position count)
    val all0 = all.filterNot(rel => fullyDeleted(view.stats.getOrElse(rel, Map.empty)))
    val rels =
      if (prune.isEmpty) all0
      else {
        // point probes (lo == hi) on a bloom-indexed column additionally
        // consult the file's bloom sidecar: stats say "the interval
        // overlaps", the bloom says "the VALUE was never in this file" —
        // at 100 TB that is the difference between opening every file of
        // an unclustered table for `WHERE user_id = k` and opening the
        // one or two files that genuinely hold the key
        val probes = prune.collect {
          case (c, lo, hi) if lo != null && lo == hi && view.bloomCols.contains(c) => (c, lo)
        }
        all0.filter { rel =>
          val st = view.stats.getOrElse(rel, Map.empty[String, ColStat])
          // a value range can't match a file whose column is provably
          // all-null (sentinel partitions, pre-ALTER files) — the null
          // count covers what the missing min/max interval can't
          prune.forall { case (c, lo, hi) =>
            (!intervalTrusted(st, c) || st.get(c).forall(cs => overlaps(cs, lo, hi))) &&
            !allNull(st, c)
          } &&
          probes.forall { case (c, v) => bloomMightContain(spark, root, rel, c, v) }
        }
      }
    if (rels.isEmpty) {
      // every file definitively missed the range (or is fully deleted):
      // an empty frame in the manifest's recorded shape
      val s = schema.getOrElse(sys.error(s"prune removed every file and manifest records no schema"))
      return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)
    }
    scanRels(spark, root, view, rels)
  }

  /** Broadcast threshold for the key sets the MV refresh and the keyed
    * DV match join against a scan, as a recorded row count. Past it the
    * join degrades to a real join rather than an executor-OOM broadcast
    * (AQE may still broadcast by measured size).
    */
  val DvBroadcastMaxPositions = 4000000L

  /** Scan an explicit manifest-relative file list (live or archived) of
    * one view — the core of [[readSnapshot]] and every programmatic read.
    * The frame is the catalog's own DSv2 relation ([[SnapTable]] pinned to
    * `view` restricted to `rels`), so it plans as the one scan SQL reads
    * through: the reader subtracts each file's deletion vector (the view's
    * recorded pointer) inside the task, splices hive partition values from
    * the path and null-fills ALTER-added columns. `_file` and `_pos`
    * select as metadata columns ([[relOfScanned]] maps `_file` back to
    * the rel). A view with no recorded schema (v1) reads with
    * [[inferredSchema]]. `rels` must be non-empty.
    */
  private[sources] def scanRels(
      spark: SparkSession,
      root: String,
      view: ManifestView,
      rels: Seq[String]): DataFrame = {
    val table = new graft.sources.snap.SnapTable(root, view.version, pinned = Some(view.copy(rels = rels)))
    org.apache.spark.sql.graft.Bridge.ofRows(
      spark,
      org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
        .create(table, None, None, org.apache.spark.sql.util.CaseInsensitiveStringMap.empty()))
  }

  /** The rel of a row's `_file` in a frame derived from `scan` (a
    * [[scanRels]] frame with `_file` selected as a plain column), looked
    * up among the scanned files' resolved paths — the same resolution
    * the reader reports, no path parsing.
    */
  private[sources] def relOfScanned(scan: DataFrame): org.apache.spark.sql.Column = {
    val table = org.apache.spark.sql.graft.Bridge
      .logicalPlan(scan)
      .collectFirst {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation => r.table
      }
      .collect { case t: graft.sources.snap.SnapTable => t }
      .filter(_.pinnedRels.isDefined)
      .getOrElse(sys.error("relOfScanned needs a Snapshots.scanRels frame"))
    val byPath = table.pinnedRels.get.map(r => table.pathOf(r) -> r).toMap
    import org.apache.spark.sql.functions.{col, typedLit}
    typedLit(byPath).apply(col(graft.sources.snap.SnapTable.FileMetaCol))
  }

  /** The schema a v1 manifest's files read with (it records none):
    * Spark's parquet inference over the files of their first base dir
    * (root, archive, or a branch's), hive partition columns typed from
    * the paths — what the per-base reads of these files inferred.
    */
  private[sources] def inferredSchema(
      spark: SparkSession,
      root: String,
      rels: Seq[String],
      pathOf: String => String): org.apache.spark.sql.types.StructType = {
    require(rels.nonEmpty, s"manifest under $root lists no data files")
    val archiveBase = new Path(new Path(root), ArchiveDirName).toString
    def baseOf(rel: String, p: String): String =
      if (p.contains(s"/$ArchiveDirName/")) archiveBase
      else if (rel.startsWith(BranchDataDirName + "/"))
        new Path(new Path(root), rel.split("/").take(2).mkString("/")).toString
      else root
    val (base, paths) = rels
      .map(rel => rel -> pathOf(rel))
      .groupBy { case (rel, p) => baseOf(rel, p) }
      .toSeq
      .minBy(_._1)
    spark.read.option("basePath", base).parquet(paths.map(_._2): _*).schema
  }

  /** Metadata-only COUNT(*) of a pinned snapshot: sums the per-file row
    * counts a v2 manifest records (optionally after stats pruning) — NO
    * Spark job, no file opened, not even a footer. At 100 TB this is the
    * `SELECT count(*) WHERE day BETWEEN …` a dashboard fires constantly,
    * answered from one small manifest read. Fails loudly when the
    * manifest predates row-count recording (commit with `statsCols` to
    * enable); pruning is file-exact only when the pruned column
    * one-to-one maps files to ranges (hive partition values) — a partial
    * overlap would over-count, so callers pruning on a non-partition
    * column should read-and-count instead.
    */
  def countRows(
      spark: SparkSession,
      root: String,
      version: Long = -1L,
      prune: Seq[(String, String, String)] = Nil): Long = {
    val stats = fileStats(spark, root, version)
    files(spark, root, version)
      .filter { rel =>
        val st = stats.getOrElse(rel, Map.empty[String, ColStat])
        prune.forall { case (c, lo, hi) =>
          !intervalTrusted(st, c) || st.get(c).forall(cs => overlaps(cs, lo, hi))
        }
      }
      .map { rel =>
        val st = stats.getOrElse(rel, Map.empty[String, ColStat])
        // LOGICAL rows: recorded count minus merge-on-read deletions —
        // exact, because the DV commit recorded the distinct-position
        // count alongside the pointer
        logicalRowsOf(st).getOrElse(sys.error(
          s"manifest records no row count for $rel — commit(root, statsCols) to enable metadata-only counts"))
      }
      .sum
  }

  /** The rows ADDED since `fromVersion`, at file granularity: scans ONLY
    * the files the target manifest lists that `fromVersion` didn't — for
    * an append-only workload (INSERT INTO, streaming appends) this is the
    * exact row-level delta at zero shuffle and zero history I/O, which is
    * what makes incremental consumers (ingest dedup, downstream refresh)
    * O(delta) instead of O(table). Precondition: no file of `fromVersion`
    * may have been removed/rewritten in between (that would mean rewrites
    * whose surviving rows would wrongly count as "added") — violated ⇒
    * loud error; use [[diff]] (the full multiset reconciliation) for
    * rewrite histories.
    */
  def readAddedSince(
      spark: SparkSession,
      root: String,
      fromVersion: Long,
      toVersion: Long = -1L): DataFrame = {
    val fromView = manifestView(spark, root, fromVersion)
    val toView = manifestView(spark, root, toVersion)
    val from = fromView.rels.toSet
    val toRels = toView.rels
    val removed = from -- toRels.toSet
    require(
      removed.isEmpty,
      s"readAddedSince($fromVersion): ${removed.size} file(s) of v$fromVersion were rewritten/removed " +
        s"since — not an append-only history; use Snapshots.diff for the row-level reconciliation")
    // a deletion vector growing on a COMMON file means rows were REMOVED
    // in the range — equally not append-only (the file list alone can't
    // see it, so check the pointers)
    val dvChangedCommon = toRels.count { rel =>
      from.contains(rel) &&
      dvOf(fromView.stats.getOrElse(rel, Map.empty)) != dvOf(toView.stats.getOrElse(rel, Map.empty))
    }
    require(
      dvChangedCommon == 0,
      s"readAddedSince($fromVersion): $dvChangedCommon file(s) changed deletion vectors since — " +
        "rows were removed, not an append-only history; use Snapshots.diff")
    // a file added AND MoR-deleted-from within the range nets to its
    // surviving rows: apply the TO version's DVs to the added slice
    val added = toRels
      .filterNot(from)
      .filterNot(rel => fullyDeleted(toView.stats.getOrElse(rel, Map.empty)))
    val schema = toView.schema
    if (added.isEmpty) {
      val s = schema.getOrElse(readSnapshot(spark, root, fromVersion).schema)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)
    } else scanRels(spark, root, toView, added)
  }

  /** Row-level change feed between two pinned manifests — the
    * `table_changes()` a lakehouse exposes, computed from the snapshots
    * themselves: rows in `fromVersion` but not `toVersion` are tagged
    * `removed`, the reverse `added` (multiset semantics via `exceptAll`,
    * so duplicate rows diff by count). An UPDATE surfaces as its old row
    * removed + its new row added. Scale: two snapshot scans + the
    * hash-partitioned exceptAll pair — no state beyond the shuffle, and
    * file-level pruning applies because unchanged files resolve to the
    * SAME archived-or-live path on both sides.
    */
  def diff(spark: SparkSession, root: String, fromVersion: Long, toVersion: Long = -1L): DataFrame = {
    val from = readSnapshot(spark, root, fromVersion)
    val to = readSnapshot(spark, root, toVersion)
    import org.apache.spark.sql.functions.lit
    from
      .exceptAll(to)
      .withColumn("change", lit("removed"))
      .unionByName(to.exceptAll(from).withColumn("change", lit("added")))
  }

  /** Move a replaced data file into the archive, preserving its relative
    * path ([[DataFiles.archive]]). Called by the maintenance ops INSTEAD of
    * delete.
    */
  def archiveFile(fs: FileSystem, root: Path, live: Path): Unit = DataFiles.archive(fs, root, live)

  /** RESTORE the table to manifest `version` — the O(files) undo of a bad
    * delete/merge/compaction. The LIVE tree is rewritten to exactly that
    * manifest's file list: live files the target doesn't reference are
    * archived, referenced files currently in the archive are copied back
    * live (copy, not move — the archive keeps serving every other
    * manifest), and the restored state commits as a NEW version, so
    * history stays linear and every prior manifest remains readable.
    * After restore, directory readers and manifest readers agree again.
    */
  def restore(spark: SparkSession, root: String, version: Long): Long = withTableLock(spark, root) {
    val rootPath = new Path(root)
    val fs = fsOf(spark, rootPath)
    val targetView = manifestView(spark, root, version)
    val target = targetView.rels.toSet
    val live = listDataFiles(spark, root).toSet
    // the restored state's deletion vectors are the TARGET version's: a
    // plain commit would carry the LATEST version's pointers (resurrecting
    // nothing but keeping deletes the target never had — or dropping
    // deletes the target did have). Sidecars referenced by any retained
    // manifest survive vacuum, but verify before promising them.
    val targetDv = targetView.stats.collect {
      case (rel, st) if dvEntries(st).nonEmpty => rel -> st
    }
    targetDv.values.flatMap(dvOf(_)).foreach { case (dvRel, _) =>
      require(
        fs.exists(new Path(rootPath, dvRel)),
        s"restore: deletion-vector sidecar $dvRel of v$version is gone (vacuumed?)")
    }
    (live -- target).toSeq.sorted.foreach { rel =>
      archiveFile(fs, rootPath, new Path(rootPath, rel))
    }
    (target -- live).toSeq.sorted.foreach { rel =>
      val src = new Path(new Path(rootPath, ArchiveDirName), rel)
      require(fs.exists(src), s"restore: $rel is neither live nor archived (vacuumed?)")
      val dst = new Path(rootPath, rel)
      fs.mkdirs(dst.getParent)
      org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dst, false, spark.sparkContext.hadoopConfiguration)
    }
    dvCarryOverride.set(Some(targetDv))
    try commit(spark, root)
    finally dvCarryOverride.remove()
  }

  // ---- zero-copy branch/tag refs ----------------------------------------

  /** Refs: NAMED manifest pointers (`_graft_manifests/refs/<name>`, one
    * small file holding a version number) — the Iceberg-style zero-copy
    * fork. Where [[cloneSnapshot]] deep-copies a pinned version's data
    * files into an independent table, a ref shares everything: creating
    * one is O(1) metadata at ANY table size (one ~10-byte file — no data
    * read, no manifest parse), reads resolve through the pinned manifest
    * (`VERSION AS OF 'name'` in SQL, [[refVersion]] + pinned reads
    * programmatically), and [[vacuum]] retains the pinned version's
    * manifest chain, data files and sidecars for as long as the ref
    * lives. Refs are IMMUTABLE pins (tags): writes always target the live
    * table and never move a ref — a fork that must diverge in content is
    * what [[cloneSnapshot]] is for. At 100 TB this is the dev/test fork
    * and the audit/reproducibility pin: `training_run_2024_08` costs ten
    * bytes and survives every later compaction, delete and vacuum until
    * dropped.
    */
  private def refsDir(root: Path): Path = new Path(manifestDir(root), "refs")

  private def refPath(root: Path, name: String): Path = {
    require(
      name.matches("[A-Za-z][A-Za-z0-9._-]*") && !name.contains(".."),
      s"ref name must match [A-Za-z][A-Za-z0-9._-]*, got '$name'")
    new Path(refsDir(root), name)
  }

  /** Pin `version` (default: latest) under `name`. Refuses an existing
    * name (refs are immutable — drop first to repoint), a version with no
    * manifest, and a HISTORICAL version whose data files vacuum already
    * reclaimed (a manifest can survive purely as a delta-chain hop — a
    * pin on it would be permanently unreadable, and no later vacuum could
    * bring the bytes back). Pinning the latest version stays O(1); an
    * explicit historical pin pays one existence probe per listed file —
    * metadata RPCs, zero data I/O. Returns the pinned version.
    */
  def createRef(spark: SparkSession, root: String, name: String, version: Long = -1L): Long =
    withTableLock(spark, root) {
      val rootPath = new Path(root)
      val fs = fsOf(spark, rootPath)
      val latest = latestVersion(spark, root)
      require(latest > 0L, s"createRef on $root needs a committed manifest")
      val v = if (version <= 0L) latest else version
      require(
        manifestVersions(spark, root).exists(_._1 == v),
        s"table $root has no manifest version $v (vacuumed or never committed)")
      if (v != latest) {
        val missing = new java.util.concurrent.ConcurrentLinkedQueue[String]()
        graft.core.Par.each(manifestView(spark, root, v).rels) { rel =>
          // resolve errors on a neither-live-nor-archived rel — exactly
          // the vacuumed case this guard exists for
          if (scala.util.Try(resolve(spark, root, rel)).isFailure) missing.add(rel)
        }
        require(
          missing.isEmpty,
          s"cannot pin v$v of $root: ${missing.size()} of its data file(s) were vacuumed " +
            s"(e.g. ${missing.peek()}) — the pin would be permanently unreadable")
      }
      val p = refPath(rootPath, name)
      require(!fs.exists(p), s"ref '$name' already exists on $root — refs are immutable pins")
      if (!MetaFiles.publish(fs, p, v.toString.getBytes("UTF-8"))) sys.error(s"ref '$name' creation raced")
      v
    }

  /** All refs of the table: name → pinned version. */
  def refs(spark: SparkSession, root: String): Map[String, Long] = {
    val rootPath = new Path(root)
    val fs = fsOf(spark, rootPath)
    val d = refsDir(rootPath)
    if (!fs.exists(d)) Map.empty
    else
      fs.listStatus(d)
        .toSeq
        .filter(st => st.isFile && !st.getPath.getName.startsWith("."))
        .flatMap { st =>
          // a ref dropped since the listing is no pin; one that reads
          // fails LOUDLY on garbage: vacuum computes its retention set from
          // this map, so silently dropping an unparsable ref would let the
          // next vacuum reclaim a pinned version's manifests and data —
          // silent data loss in the one feature whose contract is retention
          MetaFiles.readText(fs, st.getPath).map(_.trim).map { txt =>
            st.getPath.getName -> scala.util.Try(txt.toLong).getOrElse(sys.error(
              s"ref file ${st.getPath} holds unparsable content '$txt' — fix or delete it " +
                "(refusing to treat the pin as absent: vacuum retention derives from refs)"))
          }
        }
        .toMap
  }

  /** One NAMED ref's pinned version. Reads only that ref's file — a
    * corrupt UNRELATED ref must not take down reads of a healthy one
    * (refs() stays loud for the consumers that need the complete map:
    * vacuum retention and the listing). The named file itself failing to
    * parse is still a loud error.
    */
  def refVersion(spark: SparkSession, root: String, name: String): Option[Long] = {
    val p = refPath(new Path(root), name)
    MetaFiles.readText(fsOf(spark, p), p).map(_.trim).map { txt =>
      scala.util.Try(txt.toLong).getOrElse(sys.error(
        s"ref file $p holds unparsable content '$txt' — fix or delete it"))
    }
  }

  /** Drop a ref. The pinned version's files become ordinary history — the
    * next [[vacuum]] may reclaim them. Returns whether the ref existed.
    * Dropping a BRANCH ref drops the whole branch (its manifests and
    * private data files die with the pin — leaving either behind would
    * orphan unreachable state).
    */
  def dropRef(spark: SparkSession, root: String, name: String): Boolean =
    withTableLock(spark, root) {
      val rootPath = new Path(root)
      val fs = fsOf(spark, rootPath)
      if (fs.exists(branchDir(rootPath, name))) dropBranch(spark, root, name)
      else fs.delete(refPath(rootPath, name), false)
    }

  // ---- writable branch refs ----------------------------------------------

  /** Hidden top-level dir holding each branch's PRIVATE data files
    * (`<root>/.branch/<name>/<hive dirs>/part-…`): dot-prefixed, so main
    * readers, directory listers and listing-based commits never see
    * them — a branch write can never leak into the live line.
    */
  val BranchDataDirName = ".branch"

  private def branchesDir(root: Path): Path = new Path(manifestDir(root), "branches")

  private[sources] def branchDir(root: Path, name: String): Path = {
    refPath(root, name) // reuse the ref-name gate (filesystem-safe by construction)
    new Path(branchesDir(root), name)
  }

  private def branchDataDir(root: Path, name: String): Path =
    new Path(new Path(root, BranchDataDirName), name)

  private def branchManifestPath(root: Path, name: String, v: Long): Path =
    new Path(branchDir(root, name), f"v$v%010d.manifest")

  private def branchManifestLines(fs: FileSystem, root: Path, name: String, v: Long): Seq[String] = {
    val p = branchManifestPath(root, name, v)
    MetaFiles.readText(fs, p).getOrElse(throw new java.io.FileNotFoundException(p.toString))
      .split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
  }

  private def branchVersions(fs: FileSystem, bdir: Path): Seq[Long] =
    if (!fs.exists(bdir)) Seq.empty
    else
      fs.listStatus(bdir)
        .toSeq
        .map(_.getPath.getName)
        .collect { case n if n.startsWith("v") && n.endsWith(".manifest") =>
          n.stripPrefix("v").stripSuffix(".manifest").toLong
        }
        .sorted

  /** Is `name` a WRITABLE branch (vs an immutable tag)? */
  def isBranch(spark: SparkSession, root: String, name: String): Boolean =
    fsOf(spark, new Path(root)).exists(branchDir(new Path(root), name))

  /** All writable branches of the table, sorted. */
  def branches(spark: SparkSession, root: String): Seq[String] = {
    val d = branchesDir(new Path(root))
    val fs = fsOf(spark, d)
    if (!fs.exists(d)) Seq.empty
    else
      fs.listStatus(d)
        .toSeq
        .filter(st => st.isDirectory && !st.getPath.getName.startsWith("."))
        .map(_.getPath.getName)
        .sorted
  }

  /** Create a WRITABLE branch at `version` (default: latest) — the
    * zero-copy fork that can also diverge: the branch starts as a pin of
    * the fork version (same O(1) metadata, same vacuum retention as a
    * tag) plus a branch-private manifest line under
    * `_graft_manifests/branches/<name>/`. [[appendToBranch]] appends on
    * the branch (data lands under the hidden `.branch/<name>/` tree —
    * the live line never sees it), [[readBranch]] / SQL
    * `VERSION AS OF '<name>'` read fork + branch appends, and
    * [[fastForward]] adopts the branch into the live line when main
    * hasn't diverged. At 100 TB the dev/test fork of a training table is
    * ten bytes AND writable — the round-12 gap (refs were read-only pins;
    * divergence needed a deep clone) closed. Returns the fork version.
    */
  def createBranch(spark: SparkSession, root: String, name: String, version: Long = -1L): Long =
    withTableLock(spark, root) {
      val rootPath = new Path(root)
      val v = createRef(spark, root, name, version)
      val fs = fsOf(spark, rootPath)
      fs.mkdirs(branchDir(rootPath, name))
      // chain-identity NONCE (read by [[branchForkVersion]]'s memo): a
      // cross-process drop+recreate of the same name starts a chain with
      // a fresh UUID, so the fork memo can never serve the dead chain's
      // marker — mtime identity alone is coarse (1 s ticks on some
      // filesystems) and two chains could share it
      val nonce = new Path(branchDir(rootPath, name), ".chain")
      if (!MetaFiles.publish(fs, nonce, java.util.UUID.randomUUID().toString.getBytes("UTF-8")))
        sys.error(s"branch '$name' chain nonce write failed at $nonce")
      v
    }

  /** The branch's CURRENT view: the fork version's manifest view evolved
    * by every branch delta, in order. O(fork view + branch commits) —
    * branch lines are short-lived by design (they end in [[fastForward]]
    * or [[dropBranch]]).
    */
  def branchView(spark: SparkSession, root: String, name: String): ManifestView = {
    val rootPath = new Path(root)
    val fs = fsOf(spark, rootPath)
    // the pin may briefly lag (or vanish) inside a rebase's resync window
    // — force it only on the marker-less path below
    val forkPin = refVersion(spark, root, name)
    require(
      forkPin.isDefined || fs.exists(branchDir(rootPath, name)),
      s"no branch or tag '$name' under $root")
    require(
      fs.exists(branchDir(rootPath, name)),
      s"'$name' on $root is an immutable tag, not a branch — createBranch for a writable fork")
    val versions = branchVersions(fs, branchDir(rootPath, name))
    // versions are dense by construction (each append writes prev+1 under
    // the table lock) — a GAP means a branch manifest was lost or
    // deleted, and silently folding around it would drop that epoch's
    // rows from every branch read. Refuse, never guess.
    require(
      versions == (1L to versions.length.toLong),
      s"branch '$name' of $root has a broken manifest chain (found $versions) — " +
        "a branch manifest is missing or corrupt; refusing to read around the gap")
    val manifests: Seq[(Long, Seq[String])] =
      versions.map(bvv => bvv -> branchManifestLines(fs, rootPath, name, bvv))
    // a REBASE manifest (`#fork <v>`) restarts reconstruction from main
    // version v: the chain's prefix belongs to the pre-rebase world and
    // must not fold in (the marker manifest itself carries the branch's
    // NET delta re-stated over the new base). The CHAIN is authoritative
    // — the ref file follows it and heals lazily (vacuum retention reads
    // [[branchForkVersion]], never the possibly-lagging ref).
    val lastRebase = manifests.lastIndexWhere(_._2.exists(_.startsWith("#fork ")))
    val (base, applied) =
      if (lastRebase < 0)
        (forkPin.getOrElse(
          sys.error(s"branch '$name' has no fork pin — corrupt branch state")), manifests)
      else {
        val f = manifests(lastRebase)._2.find(_.startsWith("#fork ")).get
          .stripPrefix("#fork ").trim.toLong
        (f, manifests.drop(lastRebase))
      }
    applied.foldLeft(manifestView(spark, root, base)) { case (acc, (bvv, lines)) =>
      applyDelta(acc, bvv, lines)
    }
  }

  /** The branch's CURRENT base (fork) version: the last rebase marker in
    * its chain, else the ref pin. Chain-authoritative — a crash between a
    * rebase's marker write and its ref rewrite must not change what the
    * branch reads over, what vacuum retains, or what fast-forward
    * compares against.
    */
  /** Marker-scan memo per (root, branch): the newest branch version whose
    * manifest was already inspected, and the newest `#fork` marker found
    * so far. Branch manifests are immutable, so a later call only reads
    * the manifests NEW since the memo — without it every fast-forward
    * precondition, rebase entry and vacuum retention pass re-read a
    * streaming replay branch's whole N-epoch chain just to learn "no
    * marker". Same-JVM drop/recreate invalidates via [[dropBranch]].
    */
  private val branchForkCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Long, Option[Long])]()

  private[sources] def dropBranchForkMemo(root: String, name: String): Unit =
    branchForkCache.remove(new Path(root).toString + "\u0000" + name)

  private[sources] def branchForkVersion(spark: SparkSession, root: String, name: String): Long = {
    val rootPath = new Path(root)
    val fs = fsOf(spark, rootPath)
    val versions = branchVersions(fs, branchDir(rootPath, name))
    val newest = versions.lastOption.getOrElse(0L)
    val key = rootPath.toString + "\u0000" + name
    // the memo is valid only for THIS chain: a drop/recreate under the
    // same name (possibly by ANOTHER process, which our in-JVM
    // invalidation cannot see) starts a new chain that must not serve
    // the old chain's fork. Identity is the `.chain` creation NONCE
    // [[createBranch]] writes — an explicit UUID, immune to the coarse
    // (e.g. 1 s) mtime granularity that could let a drop+recreate inside
    // one tick alias the dead chain. Pre-nonce branches (created before
    // the nonce existed) fall back to the first manifest's mtime; one
    // tiny read either way.
    // a FAILED identity read must never alias another failed read (two
    // transient failures sharing one "-1" sentinel would let the memo
    // serve a dead chain's fork in the doubly-degraded case) — each
    // failure yields a UUID that matches no cache entry, ever
    def unreadable() = s"unreadable-${java.util.UUID.randomUUID()}"
    val chainId: String =
      try {
        MetaFiles.readText(fs, new Path(branchDir(rootPath, name), ".chain")).getOrElse {
          versions.headOption
            .map(v =>
              try fs.getFileStatus(branchManifestPath(rootPath, name, v)).getModificationTime.toString
              catch { case _: Exception => unreadable() })
            .getOrElse("0")
        }
      } catch { case _: Exception => unreadable() }
    val (scannedUpTo, cachedFork) =
      Option(branchForkCache.get(key))
        .collect { case (id, up, fork) if id == chainId && up <= newest => (up, fork) }
        .getOrElse((0L, Option.empty[Long]))
    val marker =
      if (newest == scannedUpTo) cachedFork
      else {
        val freshMarker = versions
          .filter(_ > scannedUpTo)
          .reverseIterator
          .map { v =>
            branchManifestLines(fs, rootPath, name, v)
              .find(_.startsWith("#fork ")).map(_.stripPrefix("#fork ").trim.toLong)
          }
          .collectFirst { case Some(f) => f }
        // the newest marker wins; none in the new segment keeps the old
        val fork = freshMarker.orElse(cachedFork)
        if (branchForkCache.size() >= 1024) branchForkCache.clear()
        branchForkCache.put(key, (chainId, newest, fork))
        fork
      }
    marker
      .orElse(refVersion(spark, root, name))
      .getOrElse(sys.error(s"branch '$name' has no fork pin — corrupt branch state"))
  }

  /** Read the branch: fork state + branch appends, deletion vectors of
    * the fork applied, fully-deleted files pruned — [[readSnapshot]]'s
    * semantics on the branch's own line.
    */
  def readBranch(spark: SparkSession, root: String, name: String): DataFrame = {
    val bv = branchView(spark, root, name)
    val live = bv.rels.filterNot(rel => fullyDeleted(bv.stats.getOrElse(rel, Map.empty)))
    require(live.nonEmpty, s"branch '$name' of $root lists no live data files")
    scanRels(spark, root, bv, live)
  }

  /** Append `df` to the branch — the live line is untouched. One
    * branch-local delta manifest records the landed files with the same
    * footer stats (and bloom/NDV/SUM sidecars) a main-line commit would,
    * so branch reads prune and pushdown-fold exactly like main reads.
    * Priced O(epoch): the appended bytes + their footer reads + one small
    * manifest write. Returns the branch-local version.
    */
  def appendToBranch(spark: SparkSession, root: String, name: String, df: DataFrame): Long =
    withTableLock(spark, root) {
      val rootPath = new Path(root)
      val fs = fsOf(spark, rootPath)
      val bdir = branchDir(rootPath, name)
      require(
        fs.exists(bdir),
        s"no branch '$name' under $root — createBranch first (tags are immutable)")
      val bv = branchView(spark, root, name)
      val added = landOnBranch(spark, root, name, bv, df)
      if (added.isEmpty) // an empty epoch commits nothing
        return branchVersions(fs, bdir).lastOption.getOrElse(0L)
      commitBranchDelta(spark, root, name, bv, added)
    }

  /** Land `df` under the branch's private data tree and return the landed
    * rels WITH their footer stats (value-index sidecars built when the
    * table has them) — the landing half shared by [[appendToBranch]] and
    * the branch MoR upsert, which commits appends and pointer restates in
    * ONE branch delta. Caller holds the table lock.
    */
  private[sources] def landOnBranch(
      spark: SparkSession,
      root: String,
      name: String,
      bv: ManifestView,
      df: DataFrame): Seq[(String, Map[String, ColStat])] = {
    val rootPath = new Path(root)
    val fs = fsOf(spark, rootPath)
    val schema = bv.schema.getOrElse(
      sys.error(s"branch writes on $root need a v2 manifest (recorded schema) at the fork"))
    import org.apache.spark.sql.functions.col
    // aligned to the recorded schema — order and types (the MoR-upsert
    // discipline: a malformed value fails loudly, never lands half-cast)
    val aligned = df.select(
      schema.fields.toIndexedSeq.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
    val partCols = if (bv.partCols.nonEmpty) bv.partCols else partitionColsFromRels(bv.rels)
    val dataDir = branchDataDir(rootPath, name)
    val stage = DataFiles.stageDir(dataDir)
    val writer =
      if (partCols.nonEmpty)
        aligned.repartition(partCols.map(col): _*).write.partitionBy(partCols: _*)
      else aligned.coalesce(1).write
    writer.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(stage.toString)
    val conf = spark.sparkContext.hadoopConfiguration
    // zero-row parts never land, and a failed landing leaves no orphans
    // under .branch/
    val rels =
      try
        DataFiles.land(
          fs,
          rootPath,
          DataFiles.staged(spark, fs, stage).map { case (p, stageRel) =>
            p -> s"$BranchDataDirName/$name/$stageRel"
          })
      finally fs.delete(stage, true)
    if (rels.isEmpty) return Seq.empty
    // CHECK constraints hold on branch lines too — a branch append that
    // violated them would smuggle bad rows past the gate at fast-forward
    Constraints.enforce(spark, root, rels, bv.schema)
    // the main commit's stats discipline, branch-locally: footer stats
    // per new file (pooled), value-index sidecars when the table has them
    val statsByRel = new java.util.concurrent.ConcurrentHashMap[String, Map[String, ColStat]]()
    graft.core.Par.each(rels) { rel =>
      statsByRel.put(rel, fileColStats(conf, new Path(rootPath, rel), rel, bv.statsCols))
    }
    if (bv.bloomCols.nonEmpty || bv.statsCols.nonEmpty)
      buildSidecars(spark, root, rels, bv.bloomCols, statsCols = bv.statsCols)
    rels.sorted.map(rel => rel -> statsByRel.get(rel))
  }

  /** Write the branch's next delta manifest recording `plus` as `+` lines
    * — appends (new rels) or RESTATES (a re-added rel is a stats
    * replacement under [[applyDelta]], which is how a branch MoR delete
    * records its deletion-vector pointers). Caller holds the table lock.
    * Returns the branch-local version.
    */
  private[sources] def commitBranchDelta(
      spark: SparkSession,
      root: String,
      name: String,
      bv: ManifestView,
      plus: Seq[(String, Map[String, ColStat])],
      forkMarker: Option[Long] = None,
      minus: Seq[String] = Seq.empty): Long = {
    val rootPath = new Path(root)
    val fs = fsOf(spark, rootPath)
    val bdir = branchDir(rootPath, name)
    val prevB = branchVersions(fs, bdir).lastOption.getOrElse(0L)
    val baseRels = bv.rels.toSet
    require(
      minus.forall(baseRels),
      s"commitBranchDelta('$name'): removed rel(s) not on the branch: " +
        s"${minus.filterNot(baseRels).take(3).mkString(", ")}")
    val newRels = plus.map(_._1).filterNot(baseRels)
    val header = renderHeader(
      bv.schema,
      bv.statsCols,
      bv.bloomCols,
      bv.dropped,
      bv.partCols,
      partCanon = None,
      nFiles = Some(bv.rels.size.toLong + newRels.size.toLong - minus.size.toLong),
      pathCols = None)
    // `#delta 0` = "the fork view"; branch reconstruction applies the
    // line's manifests in version order, so the base pointer is
    // informational (the chain's density is validated on read).
    // `#fork <v>` is a REBASE marker: reconstruction restarts from main
    // version v AT this manifest, discarding the chain prefix — writing
    // it is the rebase's one atomic step (temp + rename, no deletes).
    val body = header ++ forkMarker.map(v => s"#fork $v").toSeq ++ Seq(s"#delta $prevB") ++
      minus.sorted.map("-" + _) ++
      plus.sortBy(_._1).map { case (rel, st) => "+" + renderFileLine(rel, st) }
    val target = branchManifestPath(rootPath, name, prevB + 1L)
    if (!MetaFiles.publish(fs, target, (body.mkString("\n") + "\n").getBytes("UTF-8")))
      sys.error(s"branch commit raced on $target")
    prevB + 1L
  }

  /** Restate existing branch rels' stats (the branch MoR delete's commit
    * face): one branch-delta manifest whose `+` lines replace the rels'
    * stats — deletion-vector pointers ride the stats map exactly as on
    * the main line. Caller holds the table lock.
    */
  private[sources] def restateOnBranch(
      spark: SparkSession,
      root: String,
      name: String,
      bv: ManifestView,
      restated: Map[String, Map[String, ColStat]]): Long = {
    val missing = restated.keys.filterNot(bv.rels.toSet)
    require(
      missing.isEmpty,
      s"restateOnBranch('$name'): rel(s) not on the branch: ${missing.take(3).mkString(", ")}")
    commitBranchDelta(spark, root, name, bv, restated.toSeq)
  }

  /** Adopt the branch into the LIVE line — allowed exactly when main has
    * not advanced past the fork (the git fast-forward contract; a
    * diverged main refuses loudly: re-apply or clone instead). The
    * branch's private files MOVE to their natural table paths (their
    * bloom/NDV/SUM sidecars rename with them — content depends only on
    * the file bytes, so nothing recomputes), one O(delta) append commit
    * records them on main, and the branch is dropped. Returns the new
    * main version.
    */
  def fastForward(spark: SparkSession, root: String, name: String): Long =
    withTableLock(spark, root) {
      val rootPath = new Path(root)
      val fs = fsOf(spark, rootPath)
      require(
        fs.exists(branchDir(rootPath, name)),
        s"no branch '$name' under $root (tags cannot fast-forward)")
      val fork = branchForkVersion(spark, root, name)
      val latest = latestVersion(spark, root)
      require(
        latest == fork,
        s"cannot fast-forward '$name' into $root: the live line advanced past the fork " +
          s"(v$fork -> v$latest) — the lines diverged; CALL rebase(table, name) to replay " +
          "the branch's delta onto the live head, then fast-forward")
      val bv = branchView(spark, root, name)
      val forkView = manifestView(spark, root, fork)
      val forkRels = forkView.rels.toSet
      val prefix = s"$BranchDataDirName/$name/"
      val branchRels = bv.rels.filterNot(forkRels).sorted
      // CHECKS current AT ADOPTION gate the branch's net-new rows: land-
      // time enforcement saw the check set of ITS moment, but an
      // `add_check` recorded between the branch landing and this
      // fast-forward validated only main's rows (the branch's files are
      // unreferenced by any main manifest) — adopting without re-proving
      // them would smuggle exactly the rows the gate exists to stop.
      // Enforced PRE-MOVE (rels still resolve under `.branch/`), with
      // the branch's own deletion vectors applied (a logically-deleted
      // row must not refuse the adoption). Zero cost when the table has
      // no checks; O(branch delta) — the adoption's own price — when it
      // does.
      Constraints.enforce(
        spark, root, branchRels, bv.schema, bv.stats)
      // a branch MoR delete on a FORK file changed its pointer on the
      // branch line only — adoption restates the branch's stats (original
      // footer stats + the new DV keys; the sidecar's embedded rel is the
      // fork rel, unchanged by adoption) on the main line
      val pointerUpdates: Map[String, Map[String, ColStat]] = forkView.rels.flatMap { rel =>
        val oldDv = dvOf(forkView.stats.getOrElse(rel, Map.empty))
        val newDv = dvOf(bv.stats.getOrElse(rel, Map.empty))
        if (oldDv == newDv) None else Some(rel -> bv.stats.getOrElse(rel, Map.empty))
      }.toMap
      var moved = List.empty[(Path, Path)]
      // sidecar renames roll back with their data files: leaving them
      // keyed under the never-committed target rels would orphan them
      // (the next vacuum reaps unreferenced sidecars) and silently
      // degrade the surviving branch's bloom/NDV/SUM probes to the
      // no-sidecar fallback
      var movedSidecars = List.empty[(Path, Path)]
      val v =
        try {
          val targets = branchRels.map { rel =>
            require(rel.startsWith(prefix), s"unexpected non-branch rel $rel on branch '$name'")
            val target = rel.stripPrefix(prefix)
            val from = new Path(rootPath, rel)
            val to = new Path(rootPath, target)
            require(!fs.exists(to), s"fast-forward target $target already exists — rel reuse")
            fs.mkdirs(to.getParent)
            if (!fs.rename(from, to)) sys.error(s"fast-forward failed to move $rel")
            moved ::= (to, from)
            // sidecars are keyed by rel but their CONTENT is a pure function
            // of the file bytes — rename instead of recomputing
            (bv.bloomCols.map(c => (bloomPath(rootPath, rel, c), bloomPath(rootPath, target, c))) ++
              bv.bloomCols.map(c => (ndvPath(rootPath, rel, c), ndvPath(rootPath, target, c))) ++
              bv.statsCols.map(c => (sumPath(rootPath, rel, c), sumPath(rootPath, target, c))))
              .foreach { case (f, t) =>
                if (fs.exists(f)) {
                  fs.rename(f, t)
                  movedSidecars ::= (t, f)
                  ndvMissCache.remove(t.toString)
                  sumMissCache.remove(t.toString)
                }
              }
            rel -> target
          }
          // a MOVED file carrying a vector (a branch delete hit a branch
          // append) keeps its sidecar pointer: readers take only `pos`
          // from a sidecar, and vacuum keeps every referenced one
          val addedDv: Map[String, Map[String, ColStat]] = targets.flatMap { case (rel, target) =>
            Some(dvEntries(bv.stats.getOrElse(rel, Map.empty))).filter(_.nonEmpty).map(target -> _)
          }.toMap
          // checksPreEnforced: the adoption gate above already scanned
          // exactly these rows (same bytes, pre-move paths) under the
          // SAME table lock — the commit must not pay the scan twice
          if (targets.isEmpty && pointerUpdates.isEmpty) latest
          else if (pointerUpdates.isEmpty && addedDv.isEmpty)
            commitAppend(spark, root, targets.map(_._2), checksPreEnforced = true)
          else
            commitRestated(
              spark,
              root,
              pointerUpdates,
              addedRels = targets.map(_._2),
              removedRels = Seq.empty,
              addedDv = addedDv,
              checksPreEnforced = true)
        } catch {
          case t: Throwable =>
            // rollback is PRE-COMMIT only: a half-moved branch must not
            // leave uncommitted files in the live tree for a listing-based
            // commit to adopt. (Once commitAppend lands, the manifest
            // references the moved files — moving them back would be the
            // corruption.)
            moved.foreach { case (to, from) =>
              try if (fs.exists(to)) fs.rename(to, from)
              catch { case _: Exception => () }
            }
            movedSidecars.foreach { case (to, from) =>
              try
                if (fs.exists(to)) {
                  fs.rename(to, from)
                  // the value/miss caches may have learned the target key
                  // between rename and rollback — forget both renderings
                  sumCache.remove(to.toString)
                  sumMissCache.remove(to.toString)
                  ndvMissCache.remove(to.toString)
                  sumCache.remove(from.toString)
                  sumMissCache.remove(from.toString)
                  ndvMissCache.remove(from.toString)
                }
              catch { case _: Exception => () }
            }
            throw t
        }
      // post-commit cleanup is BEST-EFFORT: the adoption is already
      // durable, so a transient delete failure must not trigger any
      // rollback — at worst a dropped-branch husk lingers (harmless: its
      // data files have moved out, and dropBranch removes the rest)
      try {
        fs.delete(branchDir(rootPath, name), true)
        fs.delete(branchDataDir(rootPath, name), true)
        fs.delete(refPath(rootPath, name), false)
      } catch { case _: Exception => () }
      dropBranchForkMemo(root, name) // a recreated name starts a fresh chain
      v
    }

  /** Compact the branch's PRIVATE files — the maintenance pass an
    * N-epoch streaming replay needs before [[fastForward]] adopts its
    * file set onto main: each multi-file partition scope under
    * `.branch/<name>/` rewrites to ~one file per partition value with its
    * deletion vectors FOLDED (the rewritten rows exclude vectored
    * positions, so the new files are clean), and ONE branch delta commits
    * `-old +new`. Fork files are never touched — a branch may not rewrite
    * what it doesn't own (their vectors adopt as pointer restates).
    * Returns (files before, files after) over the branch-private set.
    */
  def compactBranch(spark: SparkSession, root: String, name: String): (Long, Long) =
    withTableLock(spark, root) {
      val rootPath = new Path(root)
      val fs = fsOf(spark, rootPath)
      require(
        fs.exists(branchDir(rootPath, name)),
        s"no branch '$name' under $root (tags have no private files to compact)")
      val bv = branchView(spark, root, name)
      val prefix = s"$BranchDataDirName/$name/"
      val branchRels = bv.rels.filter(_.startsWith(prefix))
      val byDir = branchRels.groupBy(r => new Path(r).getParent.toString)
      val scoped = byDir.valuesIterator
        .filter(g => g.size >= 2 || g.exists(r => hasDv(bv.stats.getOrElse(r, Map.empty))))
        .flatten
        .toSeq
        .sorted
      if (scoped.isEmpty) return (branchRels.size.toLong, branchRels.size.toLong)
      // one read of exactly the rewritten scopes, vectors applied — the
      // compactInPlace fold, branch-locally
      val df = scanRels(spark, root, bv, scoped)
      val added = landOnBranch(spark, root, name, bv, df)
      commitBranchDelta(spark, root, name, bv, added, minus = scoped)
      (branchRels.size.toLong, (branchRels.size - scoped.size + added.size).toLong)
    }

  /** Re-base a DIVERGED branch onto the live line's head — the forward
    * path [[fastForward]] refuses once main advances past the fork. The
    * branch's net delta replays over main's CURRENT view:
    *
    *  - branch APPENDS adopt as-is (they are new files by construction,
    *    private under `.branch/` — main can never have gained them);
    *  - branch deletion-vector restates on FORK files re-match against
    *    main's current file set: a file main also vectored gets the
    *    UNION of both lines' positions (both vectors address the same
    *    immutable bytes — each line's deletes survive, the file-level
    *    replay of the branch's statement); a file main left untouched
    *    adopts the branch's pointer verbatim;
    *  - a vectored fork file that main REWROTE, COMPACTED or REMOVED is
    *    the conflict: rebase REFUSES loudly naming the files (the
    *    branch's row-level intent can't be re-derived from a pointer) —
    *    re-apply the DML on a fresh fork, or clone.
    *
    * One atomic step: a REBASE manifest (`#fork <head>` marker + the net
    * delta re-stated over main's head) appends to the branch chain —
    * temp + rename, no deletes — then the ref pin follows (retention and
    * listing read the chain, so a crash between the two is harmless and
    * heals on the next locked branch op). Like git's rebase, conflicts
    * below file granularity (the branch deleted key K, main re-inserted
    * K in a NEW file) are not detected — the branch's pointer restates
    * only ever touch files both lines agree on. Refuses on schema or
    * partition-column drift since the fork (branch appends were aligned
    * to the fork schema). Returns the new fork version (= main's head);
    * `fastForward` then proceeds. SQL: `CALL cat.rebase(table, name)`.
    */
  def rebase(spark: SparkSession, root: String, name: String): Long =
    withTableLock(spark, root) {
      val rootPath = new Path(root)
      val fs = fsOf(spark, rootPath)
      require(
        fs.exists(branchDir(rootPath, name)),
        s"no branch '$name' under $root (tags cannot rebase — drop and re-pin instead)")
      val fork = branchForkVersion(spark, root, name)
      syncRef(fs, rootPath, name, fork) // heal a crashed prior rebase's ref
      val latest = latestVersion(spark, root)
      if (latest == fork) return fork // nothing to replay — already based on head
      val bv = branchView(spark, root, name)
      val forkView = manifestView(spark, root, fork)
      val mainView = manifestView(spark, root, latest)
      require(
        mainView.schema == forkView.schema && mainView.dropped == forkView.dropped,
        s"rebase('$name') on $root: the table schema changed since the fork (v$fork -> " +
          s"v$latest) — branch appends were aligned to the fork schema; " +
          "re-apply on a fresh fork")
      require(
        mainView.partCols == forkView.partCols,
        s"rebase('$name') on $root: the partition layout changed since the fork — " +
          "re-apply on a fresh fork")
      val forkRels = forkView.rels.toSet
      val mainRels = mainView.rels.toSet
      val branchRels = bv.rels.filterNot(forkRels).sorted
      // the fast-forward adoption gate, applied at the EARLIER door: a
      // check added on main after the branch landed rows must refuse the
      // rebase too (replaying unproven rows over the new head just
      // defers the refusal to fast-forward — refuse here, naming the
      // check, while the user still has the pre-rebase chain intact).
      // Zero cost when the table has no checks; branch DVs applied.
      Constraints.enforce(
        spark, root, branchRels, bv.schema, bv.stats)
      // fork files whose DV pointer the branch changed (deleteOnBranch /
      // upsertOnBranch restates)
      val touched = forkView.rels.filter { rel =>
        dvOf(forkView.stats.getOrElse(rel, Map.empty)) !=
          dvOf(bv.stats.getOrElse(rel, Map.empty))
      }
      val conflicts = touched.filterNot(mainRels).sorted
      if (conflicts.nonEmpty)
        sys.error(
          s"rebase('$name') on $root refuses: ${conflicts.size} fork file(s) the branch " +
            "vectored were rewritten, compacted or removed on the live line — e.g. " +
            s"${conflicts.take(3).mkString(", ")}. The branch's row-level intent cannot be " +
            "re-derived from a position vector; re-apply the DML on a fresh fork, or clone.")
      val restates: Seq[(String, Map[String, ColStat])] = touched.map { rel =>
        val mainSt = mainView.stats.getOrElse(rel, Map.empty)
        val mainDv = dvOf(mainSt)
        val forkDv = dvOf(forkView.stats.getOrElse(rel, Map.empty))
        val branchDv = dvOf(bv.stats.getOrElse(rel, Map.empty))
        if (mainDv == forkDv)
          // main left the file's vector alone: the branch pointer adopts
          // verbatim over main's CURRENT stats line
          rel -> (mainSt ++ dvEntries(bv.stats.getOrElse(rel, Map.empty)))
        else {
          // both lines vectored the same immutable file: union positions
          val (mergedRel, n) = DeleteVectors.unionSidecars(
            spark, root, rel, branchDv.map(_._1), mainDv.map(_._1))
          rel -> (mainSt ++ Map(
            DvPathKey -> ColStat("s", mergedRel, mergedRel),
            DvCountKey -> ColStat("l", n.toString, n.toString)))
        }
      }
      val plus = restates ++ branchRels.map(r => r -> bv.stats.getOrElse(r, Map.empty))
      commitBranchDelta(spark, root, name, mainView, plus, forkMarker = Some(latest))
      syncRef(fs, rootPath, name, latest)
      latest
    }

  /** Point the branch's ref pin at `v` (temp + rename overwrite) — the
    * retention/listing shadow of the chain's authoritative fork marker.
    */
  private def syncRef(fs: FileSystem, rootPath: Path, name: String, v: Long): Unit = {
    val p = refPath(rootPath, name)
    val cur = scala.util.Try(MetaFiles.readLong(fs, p)).toOption.flatten
    // a crash between an overwrite's delete and rename is harmless: the
    // chain's fork marker stays authoritative and the next locked op re-syncs
    if (!cur.contains(v) && !MetaFiles.publish(fs, p, v.toString.getBytes("UTF-8"), overwrite = true))
      sys.error(s"ref '$name' resync raced")
  }

  /** Drop the branch whole: its manifests, its private data files and its
    * fork pin. The fork version becomes ordinary history. Returns whether
    * the branch existed.
    */
  def dropBranch(spark: SparkSession, root: String, name: String): Boolean =
    withTableLock(spark, root) {
      val rootPath = new Path(root)
      val fs = fsOf(spark, rootPath)
      val existed = fs.exists(branchDir(rootPath, name))
      fs.delete(branchDir(rootPath, name), true)
      fs.delete(branchDataDir(rootPath, name), true)
      fs.delete(refPath(rootPath, name), false)
      dropBranchForkMemo(root, name) // a recreated name starts a fresh chain
      existed
    }

  /** Expire history: keep the latest `keepLast` manifests plus every
    * ref-pinned version, delete older manifest files, and delete every
    * ARCHIVED file no retained manifest references. Live files are never
    * touched (the latest manifest — always retained — references the live
    * set). Returns the deleted archive-relative paths, sorted.
    */
  def vacuum(spark: SparkSession, root: String, keepLast: Int = 1): Seq[String] = {
    require(keepLast >= 1, "must retain at least the latest manifest")
    // under the table lock: a vacuum racing a restore could otherwise
    // delete an archived file between restore's exists-check and its copy
    withTableLock(spark, root) {
      val rootPath = new Path(root)
      val fs = fsOf(spark, rootPath)
      val latest = latestVersion(spark, root)
      val archiveRoot = new Path(rootPath, ArchiveDirName)
      if (latest == 0L) Nil
      else {
        val keepFrom = math.max(1L, latest - keepLast + 1L)
        // ref-pinned versions are retained EXACTLY like recent ones: their
        // manifests (and delta chains), data files, bloom and DV sidecars
        // all survive for as long as the ref lives — the zero-copy-fork
        // retention contract
        val keptVersions: Seq[Long] =
          ((keepFrom to latest) ++
            refs(spark, root).values.filter(v => v >= 1L && v < keepFrom) ++
            // a REBASED branch's base is its chain's fork marker, which
            // may be ahead of a (lagging, crash-window) ref pin — retain
            // the chain-authoritative version explicitly
            branches(spark, root).map(b => branchForkVersion(spark, root, b))
              .filter(v => v >= 1L && v < keepFrom)).distinct.sorted
        val referenced: Set[String] =
          keptVersions.flatMap(v => files(spark, root, v)).toSet
        // a retained DELTA manifest reconstructs through its RECORDED
        // chain — follow each retained version's actual `#delta <base>`
        // hops (parseView tolerates non-adjacent bases, so vacuum must
        // too) down to its full manifest; the deletion anchor is the
        // deepest manifest ANY retained chain needs. Every intermediate
        // hop is ≥ its chain's final base, so deleting strictly below the
        // minimum base can never orphan a hop. Chain-only manifests below
        // keepFrom stay on disk for reconstruction, but their DATA files
        // are reclaimed like any expired version's.
        def chainBase(v0: Long): Long = {
          var v = v0
          var d = manifestView(spark, root, v).delta
          while (d.isDefined) { v = d.get._1; d = manifestView(spark, root, v).delta }
          v
        }
        val anchor = keptVersions.map(chainBase).min
        (1L until anchor).foreach { v =>
          val mp = manifestPath(rootPath, v)
          fs.delete(mp, false)
          // the partition-index sidecar dies with its manifest
          fs.delete(new Path(mp.getParent, mp.getName + ".pidx"), false)
        }
        // bloom / NDV-register / SUM sidecars of files no retained manifest
        // references are orphans — reap them with the manifests they served.
        // Branch-private files' sidecars are referenced by the BRANCH line
        // (not any main manifest) and must survive for as long as the
        // branch lives; a corrupt branch fails this loudly — retention
        // must never silently shrink.
        // ONE branch-chain reconstruction serves BOTH retention sets
        // below (sidecar hex and DV sidecars) — branchView re-reads the
        // chain from the filesystem on every call
        val branchViews: Seq[ManifestView] =
          branches(spark, root).map(n => branchView(spark, root, n))
        val branchRelsHex: Set[String] = branchViews.flatMap(_.rels).map(hex).toSet
        val referencedHex = referenced.map(hex) ++ branchRelsHex
        Seq("bloom", "ndv", "sum").foreach { kind =>
          val d = new Path(manifestDir(rootPath), kind)
          if (fs.exists(d)) {
            fs.listStatus(d).foreach { st =>
              val name = st.getPath.getName
              if (!name.startsWith(".") && !referencedHex.contains(name.split("\\.")(0)))
                fs.delete(st.getPath, false)
            }
          }
        }
        // deletion-vector sidecars: keep exactly those some RETAINED
        // manifest's stats point at (a pinned read — or a restore — of a
        // retained version needs its version of each file's DV); every
        // other .snap-dv file is an expired version's and dies here
        val dvRoot = new Path(rootPath, DvDirName)
        if (fs.exists(dvRoot)) {
          val referencedDv: Set[String] =
            (keptVersions
              .flatMap(v =>
                manifestView(spark, root, v).stats.values.flatMap(st => dvOf(st).map(_._1))) ++
              // a BRANCH line's vectors (branch MoR deletes) live only in
              // branch manifests — they must survive for as long as the
              // branch does
              branchViews.flatMap(_.stats.values.flatMap(st => dvOf(st).map(_._1))))
              .toSet
          val dvUri = rootPath.makeQualified(fs.getUri, fs.getWorkingDirectory).toUri
          def walkDv(d: Path): Seq[Path] =
            fs.listStatus(d).toSeq.flatMap { st =>
              if (st.isDirectory) walkDv(st.getPath) else Seq(st.getPath)
            }
          walkDv(dvRoot).foreach { p =>
            val rel =
              dvUri.relativize(p.makeQualified(fs.getUri, fs.getWorkingDirectory).toUri).getPath
            if (!referencedDv.contains(rel)) fs.delete(p, false)
          }
          def pruneDv(d: Path): Unit = {
            fs.listStatus(d).foreach(st => if (st.isDirectory) pruneDv(st.getPath))
            if (fs.listStatus(d).isEmpty && d != dvRoot) fs.delete(d, false)
          }
          pruneDv(dvRoot)
        }
        if (!fs.exists(archiveRoot)) Nil
        else {
          val archiveUri = archiveRoot.makeQualified(fs.getUri, fs.getWorkingDirectory).toUri
          def walk(d: Path): Seq[Path] =
            fs.listStatus(d).toSeq.flatMap { st =>
              if (st.isDirectory) walk(st.getPath) else Seq(st.getPath)
            }
          val dead = walk(archiveRoot).filterNot { p =>
            referenced.contains(
              archiveUri.relativize(p.makeQualified(fs.getUri, fs.getWorkingDirectory).toUri).getPath)
          }
          dead.foreach(p => fs.delete(p, false))
          // prune now-empty archive subdirs (metadata-only tidy-up)
          def prune(d: Path): Unit = {
            fs.listStatus(d).foreach(st => if (st.isDirectory) prune(st.getPath))
            if (fs.listStatus(d).isEmpty) fs.delete(d, false)
          }
          prune(archiveRoot)
          dead
            .map(p =>
              archiveUri.relativize(p.makeQualified(fs.getUri, fs.getWorkingDirectory).toUri).getPath)
            .sorted
        }
      }
    }
  }

  /** Time-based retention — [[vacuum]] with the keep-horizon derived from
    * COMMIT TIME: every version committed within `retainMs` of now is
    * retained (the latest always is), refs and branches retain exactly as
    * in [[vacuum]]. This is how production retention is actually spoken
    * ("keep 7 days"): a streaming table committing every minute and a
    * nightly batch table express the same policy with the same call,
    * where a version-count policy would need wildly different numbers.
    * The horizon derives from [[manifestVersions]]' one directory listing
    * (manifest mtime — the `TIMESTAMP AS OF` resolution base), so the
    * call prices like vacuum itself. Returns the reclaimed archive rels.
    */
  def vacuumOlderThan(spark: SparkSession, root: String, retainMs: Long): Seq[String] = {
    require(retainMs >= 0L, "vacuumOlderThan: retainMs must be non-negative")
    withTableLock(spark, root) {
      val latest = latestVersion(spark, root)
      if (latest == 0L) Nil
      else {
        val cutoff = System.currentTimeMillis() - retainMs
        // oldest version still inside the retention window; chain-only
        // manifests below the vacuum anchor are listed too, but their
        // mtimes are old by construction so they never extend the window
        val keepFrom = manifestVersions(spark, root)
          .collect { case (v, t) if t >= cutoff => v }
          .minOption
          .getOrElse(latest)
        vacuum(spark, root, keepLast = math.min(Int.MaxValue.toLong, latest - keepFrom + 1L).toInt)
      }
    }
  }

  /** Reap ORPHAN data files: files in the table's live tree that no
    * manifest references — a crashed writer's landed-but-never-committed
    * strays. They cost storage forever and, worse, poison any
    * listing-based read of the directory (the manifest-driven reads never
    * see them). Safety is two-layered:
    *
    *  - the table LOCK serializes against every locked op mid-landing;
    *  - the GRACE window (`graceMs`, default 24 h) protects the lock-FREE
    *    writers (fenced appends, streaming epochs): a file younger than
    *    the grace is never touched — and neither is a DIRECTORY younger
    *    than the grace (an in-flight landing's freshly-mkdir'd partition
    *    dir must not vanish between its mkdirs and its rename) — so the
    *    policy contract is the standard lakehouse one: keep the grace
    *    above your longest in-flight write.
    *
    * Sound because maintenance ARCHIVES replaced files (never leaves them
    * live), so the live tree of a healthy table is exactly the latest
    * manifest's rels: anything else old enough to clear the grace is a
    * stray by construction. Hidden trees (`.branch/`, `.snap-archive/`,
    * `_graft_manifests/`) are never walked — branch leftovers die with
    * their branch, archives belong to [[vacuum]]. `dryRun` lists without
    * deleting. Returns the orphan rels.
    */
  def removeOrphans(
      spark: SparkSession,
      root: String,
      graceMs: Long = 24L * 3600 * 1000,
      dryRun: Boolean = false): Seq[String] = {
    require(graceMs >= 0L, "removeOrphans: graceMs must be non-negative")
    withTableLock(spark, root) {
      val rootPath = new Path(root)
      val fs = fsOf(spark, rootPath)
      val latest = latestVersion(spark, root)
      require(
        latest > 0L,
        s"removeOrphans($root): no committed manifest — nothing is referenced; refusing to " +
          "treat the whole directory as orphans (commit first, or delete the directory)")
      val referenced = manifestView(spark, root, latest).rels.toSet
      val cutoff = System.currentTimeMillis() - graceMs
      val rootUri = rootPath.makeQualified(fs.getUri, fs.getWorkingDirectory).toUri
      // dir mtimes are captured DURING the walk — i.e. before this pass
      // deletes anything — so our own deletions (which refresh the parent
      // dir's mtime) cannot disqualify the prune below
      val dirMtimes = scala.collection.mutable.Map.empty[Path, Long]
      def walk(dir: Path): Seq[(String, Long)] =
        fs.listStatus(dir).toSeq.filterNot(st => isHidden(st.getPath.getName)).flatMap { st =>
          if (st.isDirectory) {
            dirMtimes(st.getPath) = st.getModificationTime
            walk(st.getPath)
          } else Seq((rootUri.relativize(st.getPath.toUri).getPath, st.getModificationTime))
        }
      val orphans = walk(rootPath)
        .collect { case (rel, mtime) if !referenced.contains(rel) && mtime < cutoff => rel }
        .sorted
      if (!dryRun) {
        orphans.foreach(rel => fs.delete(new Path(rootPath, rel), false))
        // tidy now-empty partition dirs the strays may have created (a
        // value no committed file ever had would otherwise linger as an
        // empty k=v dir and confuse directory listings). The GRACE
        // window applies to the DIRECTORY too: a lock-free writer's
        // landing does mkdirs-then-rename, and deleting its partition
        // dir between the mkdirs and the rename would fail that writer's
        // landing — a dir whose pre-pass mtime is inside the grace may
        // be exactly that in-flight mkdirs, so it stays (the next orphan
        // pass, run after the grace, reaps it if it is still empty).
        def prune(d: Path): Unit =
          fs.listStatus(d).foreach { st =>
            if (st.isDirectory && !isHidden(st.getPath.getName)) {
              prune(st.getPath)
              if (fs.listStatus(st.getPath).isEmpty &&
                dirMtimes.get(st.getPath).exists(_ < cutoff))
                fs.delete(st.getPath, false)
            }
          }
        prune(rootPath)
      }
      orphans
    }
  }
}
