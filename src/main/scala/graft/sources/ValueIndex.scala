package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{ByteType, DataType, DecimalType, IntegerType, LongType, ShortType}
import org.apache.spark.util.sketch.BloomFilter

/** The per-(file, column) value-index sidecars of a snapshot table:
  * bloom filters and NDV registers over its bloom columns, exact SUMs
  * over its stats columns, each at `<family>/<hex rel>.<hex column>`
  * under the manifest dir (hidden from data listings). Keyed by rel
  * alone, NOT version: files are immutable, so one sidecar serves every
  * manifest listing the file. Commits build them ([[buildSidecars]]),
  * planners read them through one cache.
  */
object ValueIndex {

  /** One sidecar family: its dir under the manifest dir, whether the
    * bloom columns (else the stats columns) govern it, and how its bytes
    * decode (None: fall back, exactly as for an absent sidecar).
    */
  private final class Family[T](val dir: String, byBloom: Boolean, val decode: Array[Byte] => Option[T]) {
    def cols(bloomCols: Seq[String], statsCols: Seq[String]): Seq[String] =
      if (byBloom) bloomCols else statsCols
    def path(root: Path, rel: String, colName: String): Path =
      new Path(new Path(Snapshots.manifestDir(root), dir), s"${Snapshots.hex(rel)}.${Snapshots.hex(colName)}")
  }

  import SidecarKernel.{NdvRegisters, SumNa}

  private val Ndv =
    new Family[Array[Byte]]("ndv", byBloom = true, b => Some(b.take(NdvRegisters)).filter(_.length == NdvRegisters))
  private val Sum = new Family[BigInt](
    "sum", byBloom = false, b => Some(new String(b, UTF_8).trim).filter(_ != SumNa).map(BigInt(_)))
  private val Bloom = new Family[BloomFilter](
    "bloom", byBloom = true, b => Some(BloomFilter.readFrom(new java.io.ByteArrayInputStream(b))))

  /** Every family, in the order a build writes them: the bloom — the
    * "file is new" marker — last.
    */
  private val Families: Seq[Family[_]] = Seq(Ndv, Sum, Bloom)

  /** Every sidecar file `rel` can have under `root` in `view`'s table,
    * in family order.
    */
  private[sources] def files(root: Path, rel: String, view: Snapshots.ManifestView): Seq[Path] =
    Families.flatMap(f => f.cols(view.bloomCols, view.statsCols).map(f.path(root, rel, _)))

  /** Delete every sidecar whose file is not in `live` — the orphans of
    * files no retained manifest or branch references.
    */
  private[sources] def reap(fs: FileSystem, root: Path, live: Set[String]): Unit = {
    val liveHex = live.map(Snapshots.hex)
    Families.map(f => new Path(Snapshots.manifestDir(root), f.dir)).filter(fs.exists)
      .flatMap(fs.listStatus(_).map(_.getPath))
      .filterNot(p => p.getName.startsWith(".") || liveHex(p.getName.split("\\.")(0)))
      .foreach(fs.delete(_, false))
  }

  // ---- the cache ------------------------------------------------------------

  /** Decoded sidecars by path, and remembered absences (None): a rel
    * names one immutable file forever, so a session reads each sidecar
    * ONCE — and a pre-feature or partially-sidecar'd table does not pay
    * a filesystem call per (file, column) on every planning pass. One
    * LRU budgeted by bytes, each entry weighing its file's length with a
    * 64 B floor: sizing by ENTRY count thrashed — 256 mostly-tiny
    * filters is a few MiB, yet a table with more live sidecars than the
    * cap re-read up to 1 MiB per filter on every narrowing epoch. Every
    * writer, mover and rollback of a sidecar calls [[forget]].
    */
  private val CacheBudgetBytes: Long = 256L * 1024 * 1024
  private var cacheBytes: Long = 0L
  private val cache =
    new java.util.LinkedHashMap[String, (Option[Any], Long)](1024, 0.75f, /* accessOrder = */ true)

  /** Drop the cached sidecars (or absences) at `paths`: the sidecars
    * there were just written, moved or moved back.
    */
  private[sources] def forget(paths: Iterable[String]): Unit = cache.synchronized {
    paths.foreach(k => Option(cache.remove(k)).foreach(e => cacheBytes -= e._2))
  }

  /** The decoded sidecar of family `f` for (rel, column), None when it
    * is absent or undecodable — callers fall back, never guess. One open
    * per sidecar and session; a failed read is not remembered.
    */
  private def read[T](spark: SparkSession, f: Family[T], root: String, rel: String, colName: String): Option[T] = {
    val p = f.path(new Path(root), rel, colName)
    val key = p.toString
    val hit = cache.synchronized(cache.get(key)) // get() refreshes LRU order
    if (hit != null) return hit._1.asInstanceOf[Option[T]]
    if (f eq Bloom) lastBloomReads.set(lastBloomReads.get() + 1L)
    val (bytes, v) =
      try {
        val b = MetaFiles.readBytes(p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
        (b, b.flatMap(f.decode))
      } catch { case _: Exception => return None }
    cache.synchronized {
      if (!cache.containsKey(key)) {
        val w = math.max(bytes.fold(0)(_.length).toLong, 64L)
        cache.put(key, (v, w))
        cacheBytes += w
        val it = cache.values().iterator()
        while (cacheBytes > CacheBudgetBytes && cache.size() > 1) {
          cacheBytes -= it.next()._2
          it.remove()
        }
      }
    }
    v
  }

  // ---- the commit-time build --------------------------------------------------

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
    * bytes are identical by construction. Written temp + rename (which
    * makes a family's dir with its first sidecar); a crash leaves at
    * worst a missing sidecar, which reads as "cannot exclude" / "scan
    * instead of fold".
    */
  private[sources] def buildSidecars(
      spark: SparkSession,
      root: String,
      rels: Seq[String],
      bloomCols: Seq[String],
      backfill: Boolean = false,
      statsCols: Seq[String] = Seq.empty): Unit = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
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
      needBloom = !fs.exists(Bloom.path(rootPath, rel, c))
      needNdv = (needBloom || backfill) && !fs.exists(Ndv.path(rootPath, rel, c))
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
        val sumDir = new Path(Snapshots.manifestDir(rootPath), Sum.dir)
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
      freshRels
        .map(rel =>
          rel -> statsCols.filter(c =>
            !fs.exists(Sum.path(rootPath, rel, c)) ||
              (backfill && fileSumOf(spark, root, rel, c).isEmpty)))
        .filter(_._2.nonEmpty)
        .toMap
    val bloomWant = missing.groupBy(_._1)
    val work = (missing.map(_._1) ++ freshRels.filter(sumWant.contains)).distinct
    if (work.isEmpty) return
    val hconf = org.apache.spark.sql.graft.Bridge.sessionHadoopConf(spark)
    val tz = spark.conf.get("spark.sql.session.timeZone")
    val driverMaxBytes = sidecarDriverBuildMaxBytes.value
    val large = new java.util.concurrent.ConcurrentLinkedQueue[(Path, SidecarKernel.FileSpec)]()
    graft.core.Par.each(work) { rel =>
      val p = Snapshots.resolve(spark, root, rel)
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
        written(root, spec, SidecarKernel.write(hconf, spec, sketches))
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
    def targets(cols: Array[String], f: Family[_]): Array[String] =
      cols.map(c => if (c == null) null else f.path(rootPath, rel, c).toString)
    val sumCols = colAt(summable)
    SidecarKernel.FileSpec(
      rel = rel,
      schema = org.apache.spark.sql.types.StructType(read),
      rows = rows,
      bloom = targets(colAt(blooms.collect { case (_, c, true, _) => c }), Bloom),
      ndv = targets(colAt(blooms.collect { case (_, c, _, true) => c }), Ndv),
      sumCols = sumCols,
      sum = targets(sumCols, Sum),
      naSums = na.map(c => c -> Sum.path(rootPath, rel, c).toString),
      replaceSums = replaceSums)
  }

  /** The driver-side close of one file's sidecar write: the cache forgets
    * every target (a remembered absence or `na` is now stale), and a real
    * sum means the table MAY be complete for its column — the next
    * planning pass re-probes (an `na` changes nothing).
    */
  private def written(root: String, spec: SidecarKernel.FileSpec, sums: Seq[(String, String, String)]): Unit = {
    forget((spec.bloom ++ spec.ndv ++ spec.sum).filter(_ != null) ++ spec.naSums.map(_._2))
    sums.foreach { case (c, _, content) =>
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
      val done = org.apache.spark.sql.graft.Bridge.withSqlConfPropagated(spark) {
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
        val sums = done.getOrElse(
          spec.rel,
          SidecarKernel.write(hconf, spec, SidecarKernel.fold(spec, tz, Iterator.empty)))
        written(root, spec, sums)
      }
    }
  }

  /** Executor-safe sidecar kernel: everything the distributed build's task
    * closures call lives HERE (a sibling object) and not on [[ValueIndex]]
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
        if (a.regs(i) != null) maxInto(a.regs(i), b.regs(i))
        a.sums(i) = a.sums(i).add(b.sums(i))
        a.counts(i) += b.counts(i)
        i += 1
      }
      a
    }

    /** Elementwise register max of `b` into `a`: the NDV merge. */
    def maxInto(a: Array[Byte], b: Array[Byte]): Unit = {
      var j = 0
      while (j < a.length) { if (b(j) > a(j)) a(j) = b(j); j += 1 }
    }

    /** Registers per (file, column) NDV sketch: 256 — the q48 scheme, kept
      * deliberately PORTABLE (md5-derived buckets and rho read off the hex
      * string, integer-domain register sums) so a DuckDB oracle recomputes
      * the merged estimate bit-for-bit. One sidecar is 256 bytes; merging
      * is elementwise max — associative, commutative, idempotent, so any
      * partition of history into commits yields the same table-level
      * estimate as a single pass (merge invariance).
      */
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
    Snapshots.withTableLock(spark, root) {
      val version = Snapshots.latestVersion(spark, root)
      if (version == 0L) return 0L
      val view = Snapshots.manifestView(spark, root, version)
      if (view.bloomCols.isEmpty && view.statsCols.isEmpty) return 0L
      val rootPath = new Path(root)
      val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val missing = view.rels.map(rel => view.bloomCols.count(c => !fs.exists(Ndv.path(rootPath, rel, c))).toLong).sum
      buildSidecars(
        spark, root, view.rels, view.bloomCols, backfill = true, statsCols = view.statsCols)
      missing
    }

  // ---- bloom reads ------------------------------------------------------------

  /** Number of bloom sidecars read from the filesystem (a cached one
    * reads none) by the most recent read-side probe on this thread —
    * observability for specs.
    */
  val lastBloomReads: ThreadLocal[Long] = ThreadLocal.withInitial[Long](() => 0L)

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
      value: String): Boolean =
    read(spark, Bloom, root, rel, colName).forall(_.mightContainString(value))

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
  /** Can a column's per-file sum be recorded exactly? Integrals and
    * fixed-scale DECIMALs — a decimal sum is exactly as order-insensitive
    * as an integer's (the sidecar records the UNSCALED BigInt; the scale
    * is the column's, known from the schema). Floats stay excluded:
    * their sums are order-sensitive, a fold would not reproduce Spark's
    * result bit-for-bit.
    */
  private[sources] def isSummable(dt: DataType): Boolean =
    Seq(ByteType, ShortType, IntegerType, LongType).contains(dt) || dt.isInstanceOf[DecimalType]

  // per-(table, column) "sums incomplete" memo: the SUM planning gate
  // probes one sidecar per clean rel per SUM expression per planning
  // pass; a pre-feature table with more files than the sidecar cache
  // holds would re-pay O(files) driver reads on EVERY
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
    val missing = rels.find(fileSumOf(spark, root, _, colName).isEmpty)
    missing.foreach(sumIncompleteCache.put(key, _))
    missing.isEmpty
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
      colName: String): Option[BigInt] =
    read(spark, Sum, root, rel, colName)

  // ---- NDV register sidecars (portable HyperLogLog) -----------------------

  /** The file's NDV registers for `colName`, None when the sidecar is
    * absent/unreadable (callers must fall back, never guess).
    */
  def ndvRegisters(spark: SparkSession, root: String, rel: String, colName: String): Option[Array[Byte]] =
    read(spark, Ndv, root, rel, colName)

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
      version: Long = -1L): Option[Double] =
    mergedNdvEstimate(spark, root, Snapshots.manifestView(spark, root, version).rels, colName)

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
    // no rels: zero registers, whose estimate is 0.0
    // short-circuit on the FIRST missing sidecar and merge into one
    // accumulator: a partially-sidecar'd table must not probe (or hold)
    // every remaining register array after the answer is already None
    val merged = new Array[Byte](NdvRegisters)
    val it = rels.iterator
    while (it.hasNext) {
      ndvRegisters(spark, root, it.next(), colName) match {
        case None => return None
        case Some(r) => SidecarKernel.maxInto(merged, r)
      }
    }
    Some(ndvEstimate(merged))
  }
}
