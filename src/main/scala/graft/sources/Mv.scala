package graft.sources

import java.net.{URLDecoder, URLEncoder}
import java.nio.charset.StandardCharsets

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, expr, lit}
import org.apache.spark.sql.types.StructField

import graft.core.{Collect, LocalFrames}

/** Incrementally-maintained MATERIALIZED VIEWS over snapshot tables —
  * `CREATE MATERIALIZED VIEW … GROUP BY …` with a refresh that prices at
  * the CHANGE, not the table.
  *
  * An MV is itself a snapshot table (so it time-travels, clones and
  * vacuums like any other) holding `SELECT keys…, aggs… FROM source
  * [JOIN dims…] GROUP BY keys…`, plus one tiny definition file recording
  * the source root, the group keys, the aggregate expressions, the
  * optional broadcast DIMENSION joins ([[MvDim]] — the star-schema
  * rollup `SELECT dim.attr, SUM(fact.x) FROM fact JOIN dim GROUP BY`),
  * and the source version the view last reflected. [[refresh]] advances
  * the view to the source's head in three bounded steps:
  *
  *  1. AFFECTED GROUPS: the row-level change feed between the watermark
  *     and the head ([[graft.sources.snap.SnapChangesTable]] — reads only
  *     the versions' CHANGED files, compaction cancels to zero) projected
  *     onto the group keys, distinct. A day's CDC names a day's groups.
  *  2. RECOMPUTE: exactly those groups re-aggregate from the source head.
  *     This is full re-aggregation PER GROUP, so every aggregate is
  *     maintainable — `min`/`max` under deletes included, where
  *     delta-maintenance schemes go wrong. The scan is narrowed by the
  *     merge-on-read upsert's own candidate discipline
  *     ([[DeleteVectors.candidateRelsForKeys]]): group keys covering the
  *     partition columns prune partition-exactly; otherwise key min/max
  *     vs per-file stats intervals, then bloom tuple probes. A
  *     day-keyed MV over a day-clustered 100 TB table recomputes from
  *     ONE DAY's files.
  *  3. APPLY: recomputed groups MERGE into the view (merge-on-read
  *     upsert), groups whose last source row vanished DELETE — one
  *     atomic MV version; the watermark advances only after it commits.
  *
  * Crash contract: the watermark write is AFTER the MV commit, so a crash
  * between them replays the same window on the next refresh — the replay
  * recomputes the same groups to the same values and the upsert lands a
  * content-identical view (versions differ, content converges): the
  * foreachBatch-upsert idempotence argument.
  *
  * Fallback contract: when the change window is no longer expressible
  * (the source was vacuumed past the watermark), refresh DOWNGRADES to a
  * full resync: every group key on either side counts as affected, the
  * same apply path runs, and the report says `fullResync = true`.
  * Correctness never depends on the feed; only the price does. The
  * common refresh re-prices at the FACT change feed with the dims
  * re-resolved (broadcast) at their pinned heads, and group keys living
  * on a dim side narrow the fact scan through a TRACE expansion:
  * affected (dim-attr) groups join back through the dim to enumerate
  * the fact join-key values that can reach them, and those values drive
  * the same stats/bloom/partition candidate pruning fact-column keys
  * get. A MOVED DIM takes the DIM-DELTA path
  * ([[affectedKeysViaDimDelta]]): affected groups derive from the dim's
  * own change feed — changed join keys narrow the fact scan, groups
  * derive under BOTH the old and the new mapping — so a
  * slowly-changing-dimension update prices at the changed dim keys;
  * only an inexpressible dim window (vacuumed feed or old pin) resyncs.
  *
  * NULL group keys are legitimate `GROUP BY` groups: the apply matches
  * them NULL-SAFELY (`<=>` — [[DeleteVectors.applyChanges]]'s
  * `nullSafeKeys` face), so NULL-keyed groups update and delete inside
  * the SAME atomic merge as every other group, and candidate narrowing
  * stays change-priced through per-file null-count stats (a file
  * recording zero nulls in the key columns can never hold a NULL-keyed
  * row and stays pruned; only null-bearing or stats-less files join the
  * conservative set).
  *
  * Beyond the reference's surface (a KV store has no views); the design
  * re-derives the lakehouse "incremental MV" idea over this format's own
  * change feed + upsert machinery.
  */
object Mv {

  /** A recorded dimension join: the FACT side's equi-join columns matched
    * positionally against the dim's, the join type (`inner` or `left` —
    * LEFT keeps unmatched fact rows with NULL dim attributes, the
    * "uncategorized bucket" every real star schema has), and the dim
    * manifest version the view currently reflects (the pin every refresh
    * re-resolves; a moved dim takes the dim-delta path).
    */
  final case class MvDim(
      root: String,
      factCols: Seq[String],
      dimCols: Seq[String],
      version: Long,
      joinType: String = "inner",
      /** The dim's manifest-chain identity ([[Snapshots.chainIdentity]])
        * at the last refresh — empty on pre-upgrade definitions. A
        * version pin is meaningless across an out-of-band drop+recreate
        * (the recreated chain can reach an equal-or-higher version), so
        * refresh compares identities before trusting the pin.
        */
      chain: String = "")

  /** A requested dimension join at [[create]] time (the version pin is
    * resolved by create itself): equi-join `fact.factCols(i) =
    * dim.dimCols(i)`, `joinType` `inner` (default) or `left`. The dim's
    * join columns drop after the join (their values duplicate the fact
    * side's — NULL on a left join's unmatched rows, where the fact side
    * still holds the key); every other dim column becomes selectable —
    * as a group key, inside the filter, or in an aggregate.
    */
  final case class MvJoinSpec(
      dimRoot: String,
      factCols: Seq[String],
      dimCols: Seq[String],
      joinType: String = "inner")

  /** A materialized view's recorded definition. `refreshedVersion` is the
    * SOURCE (fact) manifest version the view currently reflects; `dims`
    * are the broadcast dimension joins with their own reflected versions.
    */
  final case class MvDef(
      sourceRoot: String,
      keyCols: Seq[String],
      aggExprs: Seq[String],
      refreshedVersion: Long,
      filterSql: Option[String] = None,
      dims: Seq[MvDim] = Seq.empty,
      /** The FACT chain's identity at the last refresh (empty on
        * pre-upgrade definitions) — the watermark is only meaningful
        * against the chain that minted it.
        */
      chainId: String = "",
      /** DERIVED group keys: key name → defining SQL over FACT columns
        * (`h` → `date_trunc('hour', ts)`) — the time-bucketed rollup a
        * TSDB actually materializes. Names absent from this map are bare
        * source columns. [[prepared]] materializes each derived key as a
        * column, so every downstream face (aggregation, affected-group
        * projection, the null-safe apply) treats it exactly like a bare
        * key; candidate NARROWING maps an affected key value back to a
        * source-column interval when the expression has a recognized
        * monotone inverse ([[monotoneInverse]]) and degrades to the
        * other keys' constraints when it does not.
        */
      keyExprs: Map[String, String] = Map.empty,
      /** The SCHEMA-EVOLUTION contract: every column the definition
        * REFERENCES (keys, derived-key inputs, aggregate and filter
        * inputs, both sides of every dim join), pinned with its owner
        * ("" = the fact, else the dim root) and its create-time type DDL.
        * Refresh verifies these against the CURRENT schemas: an
        * unreferenced ADD/DROP/widen is a no-op by construction (the
        * column is simply not here), while dropping or retyping a
        * REFERENCED column refuses loudly — the recorded agg SQL would
        * otherwise re-resolve silently and change the view's result type
        * mid-history. Empty on pre-upgrade definitions (no check).
        */
      refTypes: Seq[(String, String, String)] = Seq.empty)

  /** One refresh's outcome: the source window applied, how many groups
    * recomputed / deleted, and whether the feed downgraded to a full
    * resync.
    */
  final case class RefreshReport(
      fromVersion: Long,
      toVersion: Long,
      groupsRecomputed: Long,
      groupsDeleted: Long,
      fullResync: Boolean)

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private def defPath(mvRoot: Path): Path =
    new Path(new Path(mvRoot, Snapshots.ManifestDirName), "mv/def")

  private def enc(s: String): String = URLEncoder.encode(s, StandardCharsets.UTF_8.name())
  private def dec(s: String): String = URLDecoder.decode(s, StandardCharsets.UTF_8.name())

  private def parsedDim(
      root: String,
      f: String,
      c: String,
      v: String,
      joinType: String,
      chain: String,
      line: String,
      fail: String => Nothing): MvDim = {
    val fc = dec(f).split(",").toSeq.filter(_.nonEmpty)
    val dc = dec(c).split(",").toSeq.filter(_.nonEmpty)
    if (fc.isEmpty || fc.size != dc.size) fail(s"malformed dim join columns in '$line'")
    MvDim(
      root, fc, dc,
      try v.toLong
      catch { case _: NumberFormatException => fail(s"unparseable dim version '$v'") },
      joinType,
      chain)
  }

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Parse the view's definition file — LOUDLY (the [[Snapshots.refs]]
    * lesson: refresh derives what to recompute from it, so silently
    * tolerating a garbled line would silently build a wrong view).
    */
  def definition(spark: SparkSession, mvRoot: String): MvDef = {
    val p = defPath(new Path(mvRoot))
    // [[MetaFiles.current]] heals the writeDef crash window (def deleted,
    // complete next image present). With BOTH present the old def is
    // authoritative (the crash fell before the delete; the stale
    // watermark merely replays, which is idempotent).
    val txt = MetaFiles.current(fsOf(spark, p), p)
    require(
      txt.isDefined,
      s"$mvRoot is not a materialized view — no definition at $p (create one with Mv.create)")
    def fail(msg: String): Nothing =
      sys.error(
        s"garbled materialized-view definition $p: $msg — refusing to refresh; " +
          "restore the file or recreate the view")
    val lines = txt.get.split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
    if (lines.headOption.isEmpty || lines.head != "graft-mv v1") fail("unknown header")
    var source: Option[String] = None
    var version: Option[Long] = None
    var filterSql: Option[String] = None
    var chainId: String = ""
    val keys = scala.collection.mutable.ArrayBuffer.empty[String]
    val keyExprs = scala.collection.mutable.Map.empty[String, String]
    val aggs = scala.collection.mutable.ArrayBuffer.empty[String]
    val dims = scala.collection.mutable.ArrayBuffer.empty[MvDim]
    val refTypes = scala.collection.mutable.ArrayBuffer.empty[(String, String, String)]
    lines.tail.foreach { l =>
      l.split(" ", 2) match {
        case Array("source", v) => source = Some(dec(v))
        case Array("filter", v) => filterSql = Some(dec(v))
        case Array("version", v) =>
          version = Some(
            try v.toLong
            catch { case _: NumberFormatException => fail(s"unparseable version '$v'") })
        case Array("key", v) => keys += dec(v)
        case Array("agg", v) => aggs += dec(v)
        case Array("chain", v) => chainId = dec(v)
        case Array("keyx", rest) =>
          rest.split(" ") match {
            case Array(n, e) =>
              val name = dec(n)
              keys += name
              keyExprs(name) = dec(e)
            case _ => fail(s"unparseable derived-key line '$l'")
          }
        case Array("reft", rest) =>
          rest.split(" ") match {
            case Array(o, c, t) => refTypes += ((if (o == "-") "" else dec(o), dec(c), dec(t)))
            case _ => fail(s"unparseable referenced-type line '$l'")
          }
        case Array("dim", rest) =>
          // 4 fields = a pre-join-type definition (inner); 5 adds the
          // type; 6 adds the dim's chain identity ('-' = unknown)
          def jt(t: String): String = {
            val j = dec(t)
            if (j != "inner" && j != "left" && j != "full")
              fail(s"unknown dim join type '$j' in '$l'")
            j
          }
          rest.split(" ") match {
            case Array(r, f, c, v) => dims += parsedDim(dec(r), f, c, v, "inner", "", l, fail)
            case Array(r, f, c, v, t) => dims += parsedDim(dec(r), f, c, v, jt(t), "", l, fail)
            case Array(r, f, c, v, t, ch) =>
              dims += parsedDim(dec(r), f, c, v, jt(t), if (ch == "-") "" else dec(ch), l, fail)
            case _ => fail(s"unparseable dim line '$l'")
          }
        case _ => fail(s"unparseable line '$l'")
      }
    }
    if (keys.isEmpty) fail("no group keys recorded")
    if (aggs.isEmpty) fail("no aggregate expressions recorded")
    MvDef(
      source.getOrElse(fail("no source recorded")),
      keys.toSeq,
      aggs.toSeq,
      version.getOrElse(fail("no refreshed version recorded")),
      filterSql,
      dims.toSeq,
      chainId,
      keyExprs.toMap,
      refTypes.toSeq)
  }

  /** Durably (re)write the definition — the ONLY copy of the view's
    * keys/aggs/filter — through [[MetaFiles.replace]] under the MV table
    * lock: a delete-then-rename crash never strands the view
    * definition-less, and a lock-free reader's heal finishing the rename
    * counts as success. A failed rename with a FOREIGN image in place is
    * refused.
    */
  private def writeDef(fs: FileSystem, mvRoot: Path, d: MvDef): Unit = {
    val p = defPath(mvRoot)
    val body = (Seq("graft-mv v1", s"source ${enc(d.sourceRoot)}", s"version ${d.refreshedVersion}") ++
      (if (d.chainId.nonEmpty) Seq(s"chain ${enc(d.chainId)}") else Seq.empty) ++
      d.filterSql.map(f => s"filter ${enc(f)}").toSeq ++
      d.dims.map(dim =>
        s"dim ${enc(dim.root)} ${enc(dim.factCols.mkString(","))} " +
          s"${enc(dim.dimCols.mkString(","))} ${dim.version} ${enc(dim.joinType)} " +
          (if (dim.chain.isEmpty) "-" else enc(dim.chain))) ++
      d.keyCols.map(k =>
        d.keyExprs.get(k).fold(s"key ${enc(k)}")(e => s"keyx ${enc(k)} ${enc(e)}")) ++
      d.refTypes.map { case (o, c, t) =>
        s"reft ${if (o.isEmpty) "-" else enc(o)} ${enc(c)} ${enc(t)}"
      } ++
      d.aggExprs.map(a => s"agg ${enc(a)}")).mkString("", "\n", "\n")
    if (!MetaFiles.replace(fs, p, body)) sys.error(s"materialized-view definition update failed for $p")
  }

  // ---- MV registry at the SOURCE root (the automatic-rewrite index) ----
  //
  // `<sourceRoot>/_graft_manifests/mv-refs/<sha256(mvRoot)>` holds the MV
  // root verbatim — the back-pointer [[graft.plans.MvRewrite]] lists to
  // find which views materialize aggregates of a fact a query scans.
  // BEST-EFFORT on the write side: a view over a read-only source simply
  // goes unregistered (the rewrite conf `spark.graft.mv.rewrite.extraViews`
  // names such views by hand), and the read side tolerates dangling
  // pointers (a dropped view's pointer resolves to no definition and is
  // skipped). The filename hashes instead of URL-encoding so deep roots
  // never exceed filesystem name limits.

  private def mvRefsDir(sourceRoot: Path): Path =
    new Path(new Path(sourceRoot, Snapshots.ManifestDirName), "mv-refs")

  private def refName(mvRoot: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(mvRoot.getBytes(StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString
  }

  private def registerRef(spark: SparkSession, sourceRoot: String, mvRoot: String): Unit =
    try {
      val dir = mvRefsDir(new Path(sourceRoot))
      val fs = fsOf(spark, dir)
      val p = new Path(dir, refName(mvRoot))
      if (!fs.exists(p)) MetaFiles.publish(fs, p, mvRoot.getBytes(StandardCharsets.UTF_8))
    } catch {
      case scala.util.control.NonFatal(e) =>
        log.warn(s"mv registry: cannot register $mvRoot at $sourceRoot (${e.getMessage}); " +
          "automatic query rewrite will not see this view — name it in " +
          "spark.graft.mv.rewrite.extraViews if the source stays read-only")
    }

  private def unregisterRef(spark: SparkSession, sourceRoot: String, mvRoot: String): Unit =
    try {
      val p = new Path(mvRefsDir(new Path(sourceRoot)), refName(mvRoot))
      fsOf(spark, p).delete(p, false)
      ()
    } catch { case scala.util.control.NonFatal(_) => () }

  /** The MV roots registered over `sourceRoot` — [[graft.plans.MvRewrite]]'s
    * candidate list. Dangling entries (dropped out-of-band) are returned
    * as-is; callers skip roots whose definition no longer reads.
    */
  def registeredViews(spark: SparkSession, sourceRoot: String): Seq[String] = {
    val dir = mvRefsDir(new Path(sourceRoot))
    val fs = fsOf(spark, dir)
    try {
      if (!fs.exists(dir)) Seq.empty
      else
        fs.listStatus(dir).toSeq.filter(st => st.isFile && !st.getPath.getName.startsWith("."))
          .flatMap { st =>
            try MetaFiles.readText(fs, st.getPath).map(_.trim).filter(_.nonEmpty)
            catch { case scala.util.control.NonFatal(_) => None }
          }
          .sorted
    } catch { case scala.util.control.NonFatal(_) => Seq.empty }
  }

  /** The fact frame with every recorded INNER/LEFT dim BROADCAST-joined
    * (equi) and the dims' join columns dropped (their values duplicate
    * the fact side's), then the optional filter — the pre-aggregation
    * frame every face shares. Dims read PINNED at their recorded
    * versions, so one refresh is snapshot-consistent end to end. A FULL
    * dim gets NO broadcast hint: Spark cannot broadcast-hash a full
    * outer join, so the hint would be silently ignored and the join
    * sort-merges — stated here rather than implied otherwise (only
    * [[demoteFull]]'s LEFT demotion of the same dim broadcasts).
    */
  private def prepared(spark: SparkSession, d: MvDef, fact: DataFrame): DataFrame = {
    val joined = d.dims.foldLeft(fact) { (acc, dim) =>
      val dimDf = Snapshots.readSnapshot(spark, dim.root, dim.version)
      val cond = dim.factCols
        .zip(dim.dimCols)
        .map { case (f, c) => acc(f) === dimDf(c) }
        .reduce(_ && _)
      val dimSide = if (dim.joinType == "full") dimDf else broadcast(dimDf)
      dim.dimCols.foldLeft(acc.join(dimSide, cond, dim.joinType))((df, c) =>
        df.drop(dimDf(c)))
    }
    val filtered = d.filterSql.fold(joined)(f => joined.filter(expr(f)))
    // derived keys materialize LAST (after joins and the filter, which
    // reference source columns), so every downstream face — the
    // aggregation, the affected-group projections, the null-safe
    // semi-join — treats a derived key exactly like a bare column
    d.keyCols.foldLeft(filtered)((df, k) =>
      d.keyExprs.get(k).fold(df)(e => df.withColumn(k, expr(e))))
  }

  /** `d` with its FULL dim demoted to LEFT — what the FEED and SCAN
    * projections use: Spark's full join over a PARTIAL fact frame would
    * fabricate one unmatched-dim row per dim row the SUBSET happens to
    * miss, which is not a fact about the table. The true (c)-side — dim
    * rows unmatched by the WHOLE pinned fact — is computed separately
    * ([[fullDimCSide]]) and unioned in.
    */
  private def demoteFull(d: MvDef): MvDef =
    d.copy(dims = d.dims.map(dim =>
      if (dim.joinType == "full") dim.copy(joinType = "left") else dim))

  /** Shape dim rows into [[prepared]]'s output namespace as UNMATCHED
    * images: every fact column NULL, the dim's visible columns carried,
    * the dim-only join columns dropped (prepared's namespace keeps the
    * FACT's copies), then the recorded filter and derived keys — the
    * exact tail create's full join feeds the aggregation, so a (c)-side
    * row aggregates identically at refresh and at create. `keepKeys`
    * additionally copies the dim join-key values to reserved
    * `__graft_fk<i>` columns for the existence probe.
    */
  private def fullDimImage(
      d: MvDef,
      dim: MvDim,
      dimRows: DataFrame,
      srcSchema: org.apache.spark.sql.types.StructType,
      keepKeys: Boolean): DataFrame = {
    var img = dimRows
    if (keepKeys)
      dim.dimCols.zipWithIndex.foreach { case (c, i) =>
        img = img.withColumn(s"__graft_fk$i", col(c))
      }
    srcSchema.fields.foreach(f => img = img.withColumn(f.name, lit(null).cast(f.dataType)))
    dim.dimCols.foreach(c => if (!srcSchema.fieldNames.contains(c)) img = img.drop(c))
    val filtered = d.filterSql.fold(img)(f => img.filter(expr(f)))
    d.keyCols.foldLeft(filtered)((df, k) =>
      d.keyExprs.get(k).fold(df)(e => df.withColumn(k, expr(e))))
  }

  /** The (c)-side of a FULL dim's recompute: dim rows whose unmatched
    * image lands in an AFFECTED group and whose join key is absent from
    * the WHOLE pinned fact. The existence probe is change-priced — only
    * the affected images' keys probe the fact, through the same stats/
    * bloom/partition candidate narrowing every key probe uses. A NULL
    * dim key never equals any fact key (FULL JOIN semantics), so the
    * plain-equality anti keeps NULL-keyed dim rows unmatched.
    */
  private def fullDimCSide(
      spark: SparkSession,
      d: MvDef,
      dim: MvDim,
      srcView: Snapshots.ManifestView,
      srcSchema: org.apache.spark.sql.types.StructType,
      srcPartCols: Seq[String],
      alive: Seq[String],
      affected: DataFrame,
      nAffected: Long): DataFrame = {
    // broadcast DISCIPLINE, not hope: every small side here is hinted
    // only under the same cap the apply path uses
    // ([[Snapshots.DvBroadcastMaxPositions]]) — affected keys are
    // window-bounded in practice (a huge window downgrades to resync),
    // but an unthresholded hint would still be the one place the MV
    // paths assumed smallness instead of checking it
    def capped(df: DataFrame, nRows: Long): DataFrame =
      if (nRows <= Snapshots.DvBroadcastMaxPositions) broadcast(df) else df
    val dimRows = Snapshots.readSnapshot(spark, dim.root, dim.version)
    val img = fullDimImage(d, dim, dimRows, srcSchema, keepKeys = true)
    val cond = d.keyCols.map(c => img(c) <=> affected(c)).reduce(_ && _)
    val affImg =
      img.join(capped(affected.select(d.keyCols.map(col): _*), nAffected), cond, "left_semi")
    val keyFields = dim.factCols.map(c =>
      srcSchema.fields
        .find(_.name == c)
        .getOrElse(sys.error(s"join column '$c' is not a fact column")))
    val fkCols = dim.dimCols.indices.map(i => s"__graft_fk$i")
    val pks = affImg
      .select(fkCols.zip(keyFields).map { case (fk, f) => col(fk).cast(f.dataType).as(f.name) }: _*)
      .where(keyFields.map(f => col(f.name).isNotNull).reduce(_ && _))
      .distinct()
    val pMeta = DeleteVectors.keyMeta(pks, dim.factCols, keyFields)
    val nP = pMeta.count
    val present =
      if (nP == 0L) pks
      else {
        val cands = DeleteVectors.candidateRelsForKeys(
          spark, d.sourceRoot, srcView, alive, pks, pMeta, dim.factCols, keyFields, srcPartCols,
          nullSafe = false)
        if (cands.isEmpty) pks.limit(0)
        else {
          val factKeys = Snapshots
            .scanRels(spark, d.sourceRoot, srcView, cands)
            .select(keyFields.map(f => col(f.name)): _*)
          factKeys
            .join(
              capped(pks, nP),
              dim.factCols.map(c => factKeys(c) === pks(c)).reduce(_ && _),
              "left_semi")
            .distinct()
        }
      }
    val unCond = fkCols.zip(dim.factCols).map { case (fk, fc) => affImg(fk) === present(fc) }
      .reduce(_ && _)
    // `present` is a distinct subset of the probed keys, so nP bounds it
    affImg.join(capped(present, nP), unCond, "left_anti").drop(fkCols: _*)
  }

  /** `SELECT keys…, aggs… GROUP BY keys…` over an already-[[prepared]]
    * frame — THE aggregation, one shape at create and at every refresh
    * (determinism of the recompute is what makes the crash-replay
    * converge).
    */
  private def aggregatedFrom(pre: DataFrame, d: MvDef): DataFrame =
    pre
      .groupBy(d.keyCols.map(col): _*)
      .agg(expr(d.aggExprs.head), d.aggExprs.tail.map(expr): _*)

  /** Create the view: one full aggregation at the source's current head
    * (dims broadcast-joined at THEIR current heads), committed as a
    * snapshot table with stats AND bloom sidecars on the group keys (the
    * refresh upsert's narrowing discipline rides them), then the
    * definition file. `mvRoot` must be fresh. Dim rules, validated here
    * so refresh can trust the recorded definition: every dim is a
    * committed snapshot table; join columns exist on both sides; the
    * dim's NON-join columns must not collide with the fact's (or an
    * earlier dim's) — the joined namespace stays flat and unambiguous;
    * and each group key must be providable by exactly one side.
    */
  def create(
      spark: SparkSession,
      sourceRoot: String,
      mvRoot: String,
      keyCols: Seq[String],
      aggExprs: Seq[String],
      filterSql: Option[String] = None,
      dims: Seq[MvJoinSpec] = Seq.empty,
      keyExprs: Map[String, String] = Map.empty): Long = Snapshots.withTableLock(spark, mvRoot) {
    require(keyCols.nonEmpty, "Mv.create: at least one group-key column")
    require(aggExprs.nonEmpty, "Mv.create: at least one aggregate expression")
    keyExprs.keys.foreach { k =>
      require(
        keyCols.contains(k),
        s"Mv.create: derived key '$k' is not among the declared group keys")
      require(
        k.matches("[A-Za-z_][A-Za-z0-9_]*"),
        s"Mv.create: derived group key '$k' needs a simple identifier alias")
    }
    val srcV = Snapshots.latestVersion(spark, sourceRoot)
    require(
      srcV > 0L,
      s"Mv.create: source $sourceRoot has no committed manifest — a view materializes a " +
        "snapshot table (Snapshots.commit / createTable first)")
    val mvPath = new Path(mvRoot)
    val fs = fsOf(spark, mvPath)
    // a prior drop's tombstone fences create even when the sweep already
    // removed the manifests (latestVersion would read 0): adopting a
    // partially-swept husk would marry the new view to the old one's
    // orphan files — and a still-IN-FLIGHT sweep would then delete the
    // new view. The sweep deletes the tombstone LAST, so its absence
    // proves no adoptable remains exist.
    require(
      !fs.exists(new Path(defPath(mvPath).getParent, ".def-dropped")),
      s"Mv.create: $mvRoot holds the remains of a dropped view (unfinished drop sweep) — " +
        "retry Mv.drop to finish the sweep, then create")
    require(
      Snapshots.latestVersion(spark, mvRoot) == 0L && !fs.exists(defPath(mvPath)),
      s"Mv.create: $mvRoot already holds a table or view — drop it or pick another root")
    val factSchema = Snapshots
      .schemaOf(spark, sourceRoot)
      .getOrElse(sys.error(s"Mv.create: $sourceRoot records no schema (commit with statsCols)"))
    require(
      !dims.exists(_.joinType == "full") || dims.size == 1,
      "Mv.create: a FULL OUTER dim must be the view's ONLY dim — chained outer joins give " +
        "every other dim's unmatched semantics a second meaning per side; split the extra " +
        "dims into a cascaded view over this one")
    val dimDefs = dims.map { sp =>
      val v = Snapshots.latestVersion(spark, sp.dimRoot)
      require(
        v > 0L,
        s"Mv.create: dim ${sp.dimRoot} has no committed manifest — dims are snapshot tables")
      require(
        sp.factCols.nonEmpty && sp.factCols.size == sp.dimCols.size,
        s"Mv.create: dim ${sp.dimRoot} needs matched fact/dim join column lists")
      require(
        sp.joinType == "inner" || sp.joinType == "left" || sp.joinType == "full",
        s"Mv.create: dim ${sp.dimRoot} join type must be 'inner', 'left' or 'full', got " +
          s"'${sp.joinType}'. For a RIGHT join, reverse it: make ${sp.dimRoot} the fact " +
          "and LEFT-join the other table as the dim.")
      MvDim(
        sp.dimRoot, sp.factCols, sp.dimCols, v, sp.joinType,
        Snapshots.chainIdentity(spark, sp.dimRoot))
    }
    // namespace discipline: the dims' visible (non-join) columns must not
    // shadow anything already reachable
    var seen = factSchema.fieldNames.toSet
    dimDefs.foreach { dim =>
      val dimSchema = Snapshots
        .schemaOf(spark, dim.root)
        .getOrElse(sys.error(s"Mv.create: dim ${dim.root} records no schema"))
      dim.factCols.foreach(f =>
        require(
          factSchema.fieldNames.contains(f),
          s"Mv.create: join column '$f' is not a column of the fact table $sourceRoot"))
      dim.dimCols.foreach(c =>
        require(
          dimSchema.fieldNames.contains(c),
          s"Mv.create: join column '$c' is not a column of dim ${dim.root}"))
      val visible = dimSchema.fieldNames.toSet -- dim.dimCols.toSet
      val clash = visible.intersect(seen)
      require(
        clash.isEmpty,
        s"Mv.create: dim ${dim.root} column(s) ${clash.toSeq.sorted.mkString(", ")} collide " +
          "with an already-joined column — rename them in the dim table first")
      seen ++= visible
    }
    keyExprs.keys.foreach(k =>
      require(
        !seen.contains(k),
        s"Mv.create: derived group key '$k' collides with a column of the joined namespace — " +
          "pick another alias"))
    val d0 = MvDef(
      sourceRoot, keyCols, aggExprs, srcV, filterSql.map(_.trim).filter(_.nonEmpty), dimDefs,
      Snapshots.chainIdentity(spark, sourceRoot), keyExprs)
    keyOwners(spark, d0) // refuses an unprovidable / ambiguous group key loudly
    val d = d0.copy(refTypes = referencedTypes(spark, d0))
    val full = aggregatedFrom(prepared(spark, d, Snapshots.readSnapshot(spark, sourceRoot, srcV)), d)
    val cols = full.columns.toSeq
    require(
      cols.take(keyCols.size) == keyCols,
      s"Mv.create: group keys did not project as declared (got ${cols.mkString(", ")})")
    val aliases = cols.drop(keyCols.size)
    aliases.foreach(a =>
      require(
        a.matches("[A-Za-z_][A-Za-z0-9_]*"),
        s"Mv.create: aggregate column '$a' needs an explicit simple alias — " +
          "write e.g. 'sum(x) AS total_x'"))
    require(
      (aliases ++ keyCols).distinct.size == aliases.size + keyCols.size,
      s"Mv.create: duplicate output column among ${cols.mkString(", ")}")
    // NOT SaveMode.Overwrite: Spark's overwrite deletes the target ROOT
    // recursively — _graft_manifests/ and the very .lock this create
    // holds included — un-fencing every concurrent writer mid-create
    // (caught by the cross-process torture spec: the racer's overwrite
    // then deletes our half-written files). Pre-clean a failed earlier
    // create's leftovers BY NAME under the lock, then APPEND into the
    // clean root.
    if (fs.exists(mvPath)) fs.listStatus(mvPath).foreach { st =>
      val n = st.getPath.getName
      if (n == "_temporary" || n == "_SUCCESS" || (!n.startsWith("_") && !n.startsWith(".")))
        fs.delete(st.getPath, true)
    }
    full.write.mode(org.apache.spark.sql.SaveMode.Append).parquet(mvRoot)
    val v = Snapshots.commit(spark, mvRoot, keyCols, keyCols)
    writeDef(fs, mvPath, d)
    registerRef(spark, sourceRoot, mvRoot)
    v
  }

  /** Drop the view whole — its snapshot table, sidecars and definition
    * die together (a definition-less MV table would be an unreachable
    * husk). Returns whether a view existed; refuses to delete a
    * directory that holds a committed TABLE but no view definition
    * (DROP MATERIALIZED VIEW must never be the thing that destroys a
    * plain table).
    */
  def drop(spark: SparkSession, mvRoot: String): Boolean = {
    val mvPath = new Path(mvRoot)
    val fs = fsOf(spark, mvPath)
    // the rewrite back-pointer's target, read BEFORE the definition dies
    // (a husk resume has no def — its pointer stays dangling, which the
    // registry's readers tolerate and the next create overwrites)
    var refSource: Option[String] = None
    val existed = Snapshots.withTableLock(spark, mvRoot) {
      val p = defPath(mvPath)
      val tombstone = new Path(p.getParent, ".def-dropped")
      refSource =
        try Some(definition(spark, mvRoot).sourceRoot)
        catch { case scala.util.control.NonFatal(_) => None }
      val there = fs.exists(p) || fs.exists(MetaFiles.nextImage(p))
      if (!there) {
        if (fs.exists(tombstone)) {
          // a PRIOR drop unregistered the view but its sweep never
          // finished (crash, transient fs failure): resume it — the
          // tombstone is what distinguishes this recoverable husk from a
          // real table (below), which must never be deletable from here
          true
        } else {
          require(
            Snapshots.latestVersion(spark, mvRoot) == 0L,
            s"$mvRoot holds a committed snapshot table but no view definition — it is a " +
              "TABLE, not a materialized view; refusing to drop it from the MV face")
          // a no-op drop on a nonexistent root: the only husk is the
          // manifest dir withTableLock's own mkdirs created, holding OUR
          // lock file. Reclaimed AFTER release (below) with non-recursive
          // deletes only — deleting the tree HERE would destroy the held
          // lock file mid-critical-section, letting a second process
          // acquire the "same" lock while this block still runs.
          false
        }
      } else {
        // UNREGISTER first: a TOMBSTONE lands, then the definition dies
        // (both images) — a crash before the sweep below leaves a
        // headless-but-tombstoned husk every MV face refuses (refresh
        // refuses; create refuses on the tombstone) and a retry drop
        // resumes.
        if (!MetaFiles.publish(fs, tombstone, "graft-mv dropped".getBytes(StandardCharsets.UTF_8)))
          sys.error(s"materialized-view drop could not record its tombstone at $tombstone")
        fs.delete(p, false)
        fs.delete(MetaFiles.nextImage(p), false)
        true
      }
    }
    // sweep INSIDE a (re-acquired) table lock: the sweep deletes by NAME
    // from listings taken as it goes, so it must be serialized with any
    // new create — two processes RESUMING the same husk's sweep otherwise
    // race: the first to delete the tombstone un-fences create, and the
    // slower sweeper's still-running deletes (manifest version names,
    // `def` — names a new view REUSES) would destroy the new view's
    // state. [[sweepHusk]] skips the lock file itself, so holding the
    // lock through the sweep is safe; a crash mid-sweep leaves tombstone
    // + a stale lock the next drop breaks and resumes.
    if (existed) Snapshots.withTableLock(spark, mvRoot) {
      // re-check under THIS lock: a faster concurrent resumed drop may
      // have finished the whole sweep while we queued — its tombstone
      // delete fences us out of deleting anything further
      if (fs.exists(new Path(defPath(mvPath).getParent, ".def-dropped")))
        sweepHusk(fs, mvPath)
    }
    // the skeleton (now holding only the released lock file) reclaims
    // with NON-recursive deletes only — provably nobody's data, even
    // against a create that started the instant the lock released
    emptyHuskReclaim(fs, mvPath)
    refSource.foreach(src => unregisterRef(spark, src, mvRoot))
    existed
  }

  /** [[drop]]'s sweep — runs UNDER the table lock (so it can never race
    * a new create or a second resumed sweep; it skips the lock file
    * itself), ordered so the `.def-dropped` tombstone OUTLIVES every
    * adoptable remain: data files and sidecars first, then the manifest
    * chain, the tombstone second-to-last, and the (empty) directory
    * skeleton only via non-recursive deletes. A crash anywhere before
    * the tombstone's delete leaves a husk every MV face refuses and a
    * retry drop resumes; after it, only empty dirs — and a concurrent
    * create that starts once the lock releases can lose nothing to the
    * non-recursive tail (its lock file makes the skeleton non-empty,
    * which simply leaves the dirs to the new owner).
    */
  private def sweepHusk(fs: FileSystem, mvPath: Path): Unit = {
    val man = new Path(mvPath, Snapshots.ManifestDirName)
    val mvMeta = new Path(man, "mv")
    // a CONCURRENT resumed drop may be sweeping the same husk: a dir can
    // vanish between exists() and listStatus() — that is the other
    // sweeper doing our work, not an error
    def children(p: Path): Seq[org.apache.hadoop.fs.FileStatus] =
      try if (fs.exists(p)) fs.listStatus(p).toSeq else Seq.empty
      catch { case _: java.io.FileNotFoundException => Seq.empty }
    children(mvPath).foreach { st =>
      if (st.getPath.getName != Snapshots.ManifestDirName) fs.delete(st.getPath, true)
    }
    children(man).foreach { st =>
      val n = st.getPath.getName
      // the mv/ metadata dir holds the tombstone (kept for last); a
      // foreign .lock is a NEW holder's — never delete a lock we don't
      // hold (ours was released above)
      if (n != "mv" && n != ".lock") fs.delete(st.getPath, true)
    }
    children(mvMeta).foreach { st =>
      if (st.getPath.getName != ".def-dropped") fs.delete(st.getPath, true)
    }
    fs.delete(new Path(mvMeta, ".def-dropped"), false)
    emptyHuskReclaim(fs, mvPath)
  }

  /** Best-effort removal of an empty `<root>/_manifests/mv` skeleton —
    * NON-recursive only, innermost first: anything a concurrent writer
    * landed (or a lock it holds) makes a dir non-empty and the delete a
    * tolerated no-op.
    */
  private def emptyHuskReclaim(fs: FileSystem, mvPath: Path): Unit = {
    val man = new Path(mvPath, Snapshots.ManifestDirName)
    def tryDelete(p: Path): Unit =
      try { fs.delete(p, false); () }
      catch { case _: java.io.IOException => () }
    tryDelete(new Path(man, "mv"))
    tryDelete(man)
    tryDelete(mvPath)
  }

  /** Advance the view to the source's current head. Returns the window
    * applied and the group counts; a no-op (already at head) returns
    * zeros. Snapshot-consistent under concurrent source writers: the
    * whole refresh reads the source PINNED at the head observed on entry,
    * and the watermark records exactly that version.
    *
    * DRIVER-HELD path: an incremental window (fact feed or dim delta)
    * whose affected groups number at most [[driverMaxGroups]] (2^16) is
    * collected ONCE through [[Collect.atMost]] and re-seated as a local
    * frame. The trace tuples and their key metadata, the derived-key
    * interval and mixed-concat probes and the unconstrained-dim checks
    * then read driver rows; the recompute is one scan-and-aggregate over
    * the candidate files filtered by the key set; the vanished groups and
    * both counts come from the collected arrays; and the delta applies
    * through [[DeleteVectors.applyChanges]] as a local change frame. What
    * stays is the job floor: the change-feed read, the recompute scan and
    * its aggregate, the view's match scan that feeds the sidecar write,
    * and the parquet append. Above the ceiling, on a full resync, or with
    * the `private[sources]` seam at zero (`driverMaxGroups.withValue(0L)`,
    * how specs force it) the distributed chain runs instead — the parity
    * reference, same rows, same report. Above the ceiling it also pays
    * the bounded collects that found the window too large: one over the
    * feed's raw key rows and one over the persisted distinct keys, whose
    * count then reads the same cache.
    */
  def refresh(spark: SparkSession, mvRoot: String): RefreshReport =
    Snapshots.withTableLock(spark, mvRoot) {
      val d0 = definition(spark, mvRoot)
      val v1 = Snapshots.latestVersion(spark, d0.sourceRoot)
      // CHAIN IDENTITY before the version pins: an out-of-band
      // drop+recreate of the fact (or a dim) can reach an equal-or-higher
      // version number, making the recorded watermark look valid while it
      // belongs to a DEAD chain — reading the new chain's change feed
      // over the old chain's pin would produce plausible-looking but
      // WRONG deltas (missed groups, silent staleness). A moved identity
      // forces a full resync; a recorded-empty one (pre-upgrade def)
      // adopts the current identity silently.
      val srcChain = Snapshots.chainIdentity(spark, d0.sourceRoot)
      // heal the rewrite registry for pre-upgrade views: one exists-check
      // when already registered, a best-effort write when not
      registerRef(spark, d0.sourceRoot, mvRoot)
      val srcChainMoved = d0.chainId.nonEmpty && d0.chainId != srcChain
      require(
        srcChainMoved || v1 >= d0.refreshedVersion,
        s"materialized view $mvRoot reflects source version ${d0.refreshedVersion} but " +
          s"${d0.sourceRoot} is at $v1 on the SAME chain — the manifest chain was truncated " +
          "by hand; recreate the view")
      // THIS refresh pins every dim at its current head; a dim that moved
      // since the last refresh can have re-mapped any fact row's group,
      // which no fact feed alone can name — the DIM-DELTA path derives
      // the affected groups from the dim's OWN change feed (groups under
      // both the old and new mappings, fact rows found by changed-key
      // narrowing), and only an inexpressible window resyncs
      val dimsNow = d0.dims.map { dim =>
        val dv = Snapshots.latestVersion(spark, dim.root)
        require(
          dv > 0L,
          s"materialized view $mvRoot: dim ${dim.root} no longer holds a committed manifest")
        dim.copy(version = dv, chain = Snapshots.chainIdentity(spark, dim.root))
      }
      val dimChainMoved = d0.dims.zip(dimsNow).exists { case (o, n) =>
        o.chain.nonEmpty && o.chain != n.chain
      }
      // the schema-evolution gate — AFTER the chain check resolved what
      // "current schema" even means, BEFORE any window math: a refresh
      // must never re-resolve the recorded SQL against a drifted type
      checkReferencedTypes(spark, d0, mvRoot)
      val dimsMoved = dimsNow.map(_.version) != d0.dims.map(_.version)
      val d = d0.copy(dims = dimsNow, chainId = srcChain)
      val identityMoved = srcChainMoved || dimChainMoved
      if (v1 == d.refreshedVersion && !dimsMoved && !identityMoved) {
        // chains intact, versions intact — but adopt newly-minted
        // identities a pre-upgrade definition lacks, so the NEXT
        // recreate is caught
        if (d0.chainId.isEmpty && srcChain.nonEmpty ||
          d0.dims.zip(dimsNow).exists(p => p._1.chain.isEmpty && p._2.chain.nonEmpty))
          writeDef(fsOf(spark, new Path(mvRoot)), new Path(mvRoot), d)
        return RefreshReport(v1, v1, 0L, 0L, fullResync = false)
      }
      val mvPath = new Path(mvRoot)
      val fs = fsOf(spark, mvPath)
      val incremental =
        if (identityMoved) {
          log.warn(
            s"materialized view $mvRoot: the ${if (srcChainMoved) "fact" else "dim"} manifest " +
              "chain identity changed (out-of-band drop+recreate) — the recorded pins belong " +
              "to a dead chain; full resync")
          None
        } else if (dimsMoved) affectedKeysViaDimDelta(spark, d0, d, v1)
        else affectedKeysViaChanges(spark, d, v1)
      val (affected, nAffected) = incremental.getOrElse {
        // full resync: every group on either side is affected — same
        // apply path, full price, still correct for every aggregate
        val srcKeys = prepared(spark, d, tableFrame(spark, d.sourceRoot, v1))
          .select(d.keyCols.map(col): _*)
        val mvKeys = tableFrame(spark, mvRoot, -1L).select(d.keyCols.map(col): _*)
        val keys = srcKeys.unionByName(mvKeys).distinct().persist()
        try (keys, keys.count())
        catch { case NonFatal(e) => keys.unpersist(); throw e }
      }
      try {
        val (rec, del) = applyDelta(spark, d, mvRoot, affected, nAffected, v1)
        writeDef(fs, mvPath, d.copy(refreshedVersion = v1))
        RefreshReport(d.refreshedVersion, v1, rec, del, fullResync = incremental.isEmpty)
      } finally affected.unpersist()
    }

  /** A pinned snapshot as a frame — empty-table-safe (a fully-deleted
    * table yields an empty frame in the recorded schema instead of
    * [[Snapshots.readSnapshot]]'s no-files refusal).
    */
  private def tableFrame(spark: SparkSession, root: String, version: Long): DataFrame = {
    val view = Snapshots.manifestView(spark, root, version)
    val live = view.rels.filterNot(r =>
      Snapshots.fullyDeleted(view.stats.getOrElse(r, Map.empty)))
    if (live.isEmpty) {
      val sch = view.schema.getOrElse(sys.error(s"$root records no schema"))
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sch)
    } else Snapshots.scanRels(spark, root, view, live)
  }

  /** Which side provides each group key: `None` = the fact table,
    * `Some(dim)` = that dim's visible (non-join) columns. Refused loudly
    * when a key is providable by no side or — impossible after
    * [[create]]'s namespace discipline, but re-checked because schemas
    * evolve — by more than one. The trace-expansion narrowing derives
    * from this map, so it must never guess.
    */
  private def keyOwners(spark: SparkSession, d: MvDef): Seq[(String, Option[MvDim])] = {
    val factCols = Snapshots
      .schemaOf(spark, d.sourceRoot)
      .map(_.fieldNames.toSet)
      .getOrElse(sys.error(s"${d.sourceRoot} records no schema"))
    val dimVisible: Seq[(MvDim, Set[String])] = d.dims.map { dim =>
      dim -> (Snapshots
        .schemaOf(spark, dim.root)
        .map(_.fieldNames.toSet)
        .getOrElse(sys.error(s"dim ${dim.root} records no schema")) -- dim.dimCols.toSet)
    }
    d.keyCols.map { k =>
      d.keyExprs.get(k) match {
        case Some(e) =>
          // a DERIVED key is owned by the side providing ALL its inputs:
          // fact columns → fact-owned (narrowed via the monotone
          // inverse); one dim's visible columns → dim-owned (narrowed by
          // evaluating the expression OVER THE BROADCAST DIM in the
          // trace expansion — the dim is small, so inverting by
          // enumeration is exact and free). MIXED references are refused:
          // neither inversion strategy can thread a key that needs both
          // sides' values at once.
          val refs = referencedCols(spark, e)
          require(
            refs.nonEmpty,
            s"derived group key '$k' ($e) references no column — a constant key cannot " +
              "narrow and should be a literal in the reader, not a group key")
          if (refs.forall(factCols.contains)) k -> Option.empty[MvDim]
          else {
            val owners = dimVisible.collect {
              case (dim, vis) if refs.forall(vis.contains) => dim
            }
            if (owners.size == 1) k -> Some(owners.head)
            else {
              // the AUTO-SPLIT: a mixed key that is a top-level concat of
              // single-side parts threads ownership per PART — narrowing
              // recovers the fact part's values by enumeration over the
              // broadcast dim ([[mixedConcatPrune]]); genuinely entangled
              // shapes (both sides inside one sub-expression) still refuse
              require(
                concatSplit(spark, e, factCols, dimVisible).isDefined,
                s"derived group key '$k' ($e) must reference only fact columns, only the " +
                  s"visible columns of exactly ONE dim, or be a top-level concat(...) of " +
                  "such single-side parts (ONE bare fact column + one dim's expressions + " +
                  s"string literals — those auto-split); its references (${refs.mkString(", ")}) " +
                  "do neither — split the expression into per-side keys")
              k -> Option.empty[MvDim]
            }
          }
        case None =>
          if (factCols.contains(k)) k -> Option.empty[MvDim]
          else {
            val owners = dimVisible.collect { case (dim, vis) if vis.contains(k) => dim }
            require(
              owners.size == 1,
              s"group key '$k' must be provided by exactly one side of the join " +
                s"(fact ${d.sourceRoot} + ${d.dims.size} dim(s)); found ${owners.size} providers — " +
                "the schemas drifted since create")
            k -> Some(owners.head)
          }
      }
    }
  }

  /** Bare column names referenced by an (unresolved) SQL expression —
    * loud on a parse failure: the definition derives narrowing and
    * validation from these, so it must never guess.
    */
  private def referencedCols(spark: SparkSession, exprSql: String): Seq[String] = {
    val parsed =
      try spark.sessionState.sqlParser.parseExpression(exprSql)
      catch {
        case NonFatal(e) =>
          sys.error(s"unparseable expression '$exprSql' in a materialized-view definition: " +
            e.getMessage)
      }
    parsed
      .collect { case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => a.name }
      .distinct
  }

  /** Pin the TYPE of every column the definition references — see
    * [[MvDef.refTypes]]. Names are attributed to the fact first, then to
    * the single dim whose visible columns carry them; names resolvable
    * nowhere are skipped (the create-time aggregation refuses those
    * loudly on its own).
    */
  private def referencedTypes(
      spark: SparkSession,
      d: MvDef): Seq[(String, String, String)] = {
    val factSchema = Snapshots
      .schemaOf(spark, d.sourceRoot)
      .getOrElse(sys.error(s"${d.sourceRoot} records no schema"))
    val dimSchemas: Seq[(MvDim, org.apache.spark.sql.types.StructType)] = d.dims.map(dim =>
      dim -> Snapshots
        .schemaOf(spark, dim.root)
        .getOrElse(sys.error(s"dim ${dim.root} records no schema")))
    val named = (d.keyCols.filterNot(d.keyExprs.contains) ++
      d.keyExprs.values.flatMap(referencedCols(spark, _)) ++
      d.aggExprs.flatMap(referencedCols(spark, _)) ++
      d.filterSql.toSeq.flatMap(referencedCols(spark, _))).distinct
    val resolved = named.flatMap { n =>
      factSchema.fields.find(_.name == n) match {
        case Some(f) => Some(("", n, f.dataType.sql))
        case None =>
          dimSchemas.collectFirst {
            case (dim, sch) if !dim.dimCols.contains(n) && sch.fields.exists(_.name == n) =>
              (dim.root, n, sch.fields.find(_.name == n).get.dataType.sql)
          }
      }
    }
    val joinRefs = d.dims.flatMap { dim =>
      val dimSchema = dimSchemas.find(_._1.root == dim.root).get._2
      dim.factCols.flatMap(c =>
        factSchema.fields.find(_.name == c).map(f => ("", c, f.dataType.sql))) ++
        dim.dimCols.flatMap(c =>
          dimSchema.fields.find(_.name == c).map(f => (dim.root, c, f.dataType.sql)))
    }
    (resolved ++ joinRefs).distinct
  }

  /** Refresh's schema-evolution gate: every recorded referenced column
    * must still exist with its recorded type. Unreferenced evolution is
    * a no-op by construction; referenced evolution refuses LOUDLY — the
    * recorded agg/key/filter SQL re-resolves fresh each refresh, so a
    * silent widening would change the view's result type mid-history
    * (and a silent drop would change its meaning).
    */
  private def checkReferencedTypes(spark: SparkSession, d: MvDef, mvRoot: String): Unit = {
    if (d.refTypes.isEmpty) return // pre-upgrade definition: no contract recorded
    lazy val factSchema = Snapshots
      .schemaOf(spark, d.sourceRoot)
      .getOrElse(sys.error(s"${d.sourceRoot} records no schema"))
    val dimSchemaByRoot = d.dims.map(dim =>
      dim.root -> Snapshots
        .schemaOf(spark, dim.root)
        .getOrElse(sys.error(s"dim ${dim.root} records no schema"))).toMap
    d.refTypes.foreach { case (owner, c, typ) =>
      val (schema, what) =
        if (owner.isEmpty) (factSchema, s"fact ${d.sourceRoot}")
        else
          (
            dimSchemaByRoot.getOrElse(
              owner,
              sys.error(s"materialized view $mvRoot records a referenced type for '$owner', " +
                "which is not among its dims — the definition is inconsistent; recreate the view")),
            s"dim $owner")
      schema.fields.find(_.name == c) match {
        case None =>
          sys.error(
            s"materialized view $mvRoot: column '$c' of $what (recorded type $typ) is " +
              "referenced by the view but no longer exists — refusing to refresh; recreate " +
              "the view against the evolved schema")
        case Some(f) if f.dataType.sql != typ =>
          sys.error(
            s"materialized view $mvRoot: referenced column '$c' of $what changed type " +
              s"$typ -> ${f.dataType.sql} since the view was created — refusing to refresh " +
              "(the recorded aggregates would silently change result type mid-history); " +
              "recreate the view to adopt the new type")
        case _ => ()
      }
    }
  }

  /** Recognize a derived-key expression whose value maps back to an
    * INTERVAL of one source column — the shapes that are monotone
    * non-decreasing in their input, so an affected key value `v` bounds
    * the source rows that can produce it:
    *
    *  - `date_trunc(unit, ts)` / `trunc(dt, unit)` → `[v, v + 1 unit)`
    *  - `to_date(ts)` / `cast(ts as date)`          → `[v, v + 1 day)`
    *  - `year(dt)`                                  → `[Jan 1 v, Jan 1 v+1)`
    *  - `floor(x / k)` (k > 0 literal)              → `[v·k, (v+1)·k)`
    *
    * Returns (source column, lo-SQL, hi-SQL) where the SQL templates
    * reference the affected value as `__v`; the hi bound is EXCLUSIVE
    * but compared inclusively against file stats — over-inclusion is
    * safe, exclusion needs proof. None for unrecognized shapes: the
    * refresh then narrows on the OTHER keys only (honest degradation,
    * the LEFT-dim precedent).
    */
  private[sources] def monotoneInverse(
      spark: SparkSession,
      exprSql: String): Option[(String, String, String)] = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
    import org.apache.spark.sql.catalyst.expressions.{Cast, Divide, Expression, Literal}
    def bare(e: Expression): Option[String] = e match {
      case a: UnresolvedAttribute if a.nameParts.length == 1 => Some(a.nameParts.head)
      case _ => None
    }
    def litStr(e: Expression): Option[String] = e match {
      case Literal(v, org.apache.spark.sql.types.StringType) if v != null => Some(v.toString)
      case _ => None
    }
    // date_trunc accepts many unit aliases; timestampadd takes the
    // canonical set — normalize, dropping sub-second units (their
    // truncation is below stats resolution anyway) and non-monotone ones
    def unit(u: String): Option[String] = u.toLowerCase match {
      case "year" | "yyyy" | "yy" => Some("YEAR")
      case "quarter" => Some("QUARTER")
      case "month" | "mon" | "mm" => Some("MONTH")
      case "week" => Some("WEEK")
      case "day" | "dd" => Some("DAY")
      case "hour" => Some("HOUR")
      case "minute" => Some("MINUTE")
      case "second" => Some("SECOND")
      case _ => None
    }
    def tsRange(u: String, c: String): (String, String, String) =
      (c, "cast(__v as timestamp)", s"timestampadd($u, 1, cast(__v as timestamp))")
    val parsed =
      try spark.sessionState.sqlParser.parseExpression(exprSql)
      catch { case NonFatal(_) => return None }
    parsed match {
      // a plain RENAME (`day AS d`) is the identity mapping — monotone
      // with the degenerate interval [v, v]
      case a: UnresolvedAttribute if a.nameParts.length == 1 =>
        Some((a.nameParts.head, "__v", "__v"))
      case f: UnresolvedFunction =>
        (f.nameParts.map(_.toLowerCase).mkString("."), f.arguments) match {
          case ("date_trunc", Seq(u, a)) =>
            for { un <- litStr(u).flatMap(unit); c <- bare(a) } yield tsRange(un, c)
          case ("trunc", Seq(a, u)) =>
            for {
              un <- litStr(u).flatMap(unit).filter(Set("YEAR", "QUARTER", "MONTH", "WEEK"))
              c <- bare(a)
            } yield tsRange(un, c)
          case ("to_date", Seq(a)) => bare(a).map(tsRange("DAY", _))
          case ("year", Seq(a)) =>
            bare(a).map(c =>
              (
                c,
                "cast(make_date(cast(__v as int), 1, 1) as timestamp)",
                "cast(make_date(cast(__v as int) + 1, 1, 1) as timestamp)"))
          case ("floor", Seq(div: Divide)) =>
            (bare(div.left), div.right) match {
              case (Some(c), k: Literal)
                  if k.value != null &&
                    scala.util.Try(k.value.toString.toDouble).toOption.exists(_ > 0) =>
                val kSql = k.sql
                Some((c, s"__v * $kSql", s"(__v + 1) * $kSql"))
              case _ => None
            }
          case _ => None
        }
      case c: Cast if c.dataType == org.apache.spark.sql.types.DateType =>
        bare(c.child).map(tsRange("DAY", _))
      case _ => None
    }
  }

  /** Recognize a CYCLIC/periodic derived-key expression — the shapes
    * [[monotoneInverse]] must refuse because they repeat across periods,
    * but whose value still inverts to the UNION of one source interval
    * per period within the fact's global span (the seasonal-rollup MV:
    * `GROUP BY month(ts)`):
    *
    *  - `month(x)` / `quarter(x)`        → one interval per month/quarter
    *  - `dayofweek(x)` / `weekday(x)` /
    *    `dayofmonth(x)` / `day(x)`       → one interval per matching day
    *  - `hour(x)`                        → one interval per day
    *
    * Returns (source column, canonical kind). `minute`/`second` stay
    * refused: their per-period interval lists explode past any useful
    * cap (a minute-of-hour key over one year is half a million probes).
    */
  private[sources] def cyclicInverse(
      spark: SparkSession,
      exprSql: String): Option[(String, String)] = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
    import org.apache.spark.sql.catalyst.expressions.Expression
    def bare(e: Expression): Option[String] = e match {
      case a: UnresolvedAttribute if a.nameParts.length == 1 => Some(a.nameParts.head)
      case _ => None
    }
    val parsed =
      try spark.sessionState.sqlParser.parseExpression(exprSql)
      catch { case NonFatal(_) => return None }
    parsed match {
      case f: UnresolvedFunction =>
        (f.nameParts.map(_.toLowerCase).mkString("."), f.arguments) match {
          case (n @ ("month" | "quarter" | "dayofweek" | "weekday" | "dayofmonth" | "hour"), Seq(a)) =>
            bare(a).map(c => (c, n))
          case ("day", Seq(a)) => bare(a).map(c => (c, "dayofmonth"))
          case _ => None
        }
      case _ => None
    }
  }

  /** The fact's global [min, max] span of `srcCol` as LOCAL DATES padded
    * one day each way, folded from the alive files' recorded stats —
    * what the cyclic inversion enumerates periods over. None when no
    * alive file carries a trusted interval (nothing to enumerate; the
    * statless files are admitted by the shared admission test anyway).
    * The ±1-day pad absorbs the micros→date rendering being done in UTC
    * regardless of the column's zone semantics (max offset < 1 day).
    */
  private def globalSpanDates(
      srcView: Snapshots.ManifestView,
      alive: Seq[String],
      srcCol: String,
      dt: org.apache.spark.sql.types.DataType): Option[(java.time.LocalDate, java.time.LocalDate)] = {
    def toDate(bound: String, cs: Snapshots.ColStat): Option[java.time.LocalDate] =
      try
        cs.typ match {
          case "l" => Some(java.time.LocalDate.ofEpochDay(Math.floorDiv(bound.toLong, 86400000000L)))
          case "s" => Some(java.time.LocalDate.parse(bound.take(10)))
          case _ => None
        }
      catch { case NonFatal(_) => None }
    val spans = alive.flatMap { rel =>
      val st = srcView.stats.getOrElse(rel, Map.empty[String, Snapshots.ColStat])
      if (!Snapshots.intervalTrusted(st, srcCol)) None
      else
        st.get(srcCol).flatMap(cs =>
          for { lo <- toDate(cs.min, cs); hi <- toDate(cs.max, cs) } yield (lo, hi))
    }
    if (spans.isEmpty) None
    else
      Some((
        spans.map(_._1).min(Ordering.by((d: java.time.LocalDate) => d.toEpochDay)).minusDays(1),
        spans.map(_._2).max(Ordering.by((d: java.time.LocalDate) => d.toEpochDay)).plusDays(1)))
  }

  /** The per-period source intervals of one cyclic key over the affected
    * values: enumerate the period starts inside the fact's span, keep
    * the periods whose key value is affected, render [start, end) in the
    * column's own domain (NTZ stays wall-clock; zoned timestamps get a
    * ±4 h pad so a DST shift inside any period can never push a matching
    * row outside its interval — over-inclusion is safe, exclusion needs
    * proof). None = no constraint from this key (span unknown, span
    * absurd, or more probes than [[MaxCyclicProbes]] — a cyclic
    * envelope would span the whole fact, so there is no useful
    * collapse).
    */
  private def cyclicIntervals(
      spark: SparkSession,
      kind: String,
      f: StructField,
      vals: DataFrame,
      srcView: Snapshots.ManifestView,
      alive: Seq[String]): Option[Seq[(String, String)]] = {
    val isNtz = f.dataType == org.apache.spark.sql.types.TimestampNTZType
    val isDate = f.dataType == org.apache.spark.sql.types.DateType
    if (isDate && kind == "hour") return None // hour(date) is constant 0 — nothing to narrow
    val (d0, d1) = globalSpanDates(srcView, alive, f.name, f.dataType).getOrElse(return None)
    val nDays = d1.toEpochDay - d0.toEpochDay + 1
    if (nDays <= 0 || nDays > 200000L) return None // > ~550 years: refuse to enumerate
    val monthly = kind == "month" || kind == "quarter"
    val starts =
      if (monthly)
        s"sequence(trunc(to_date('$d0'), 'MONTH'), to_date('$d1'), interval 1 month)"
      else s"sequence(to_date('$d0'), to_date('$d1'), interval 1 day)"
    // the period starts, evaluated by Spark over one driver-held row
    val starts0 = LocalFrames
      .of(spark, Seq(org.apache.spark.sql.Row()), new org.apache.spark.sql.types.StructType())
      .selectExpr(s"$starts AS ds")
    val base = LocalFrames.of(
      spark,
      starts0.head().getSeq[Any](0).map(org.apache.spark.sql.Row(_)),
      new org.apache.spark.sql.types.StructType().add("d", org.apache.spark.sql.types.DateType))
    val matched = kind match {
      case "hour" => LocalFrames.crossJoin(vals, base) // every day holds every hour
      case _ =>
        LocalFrames.crossJoin(vals, base).where(expr(s"$kind(d) = cast(__v as int)"))
    }
    val endSql = kind match {
      case "month" => "add_months(d, 1)"
      case "quarter" => "add_months(d, 3)"
      case _ => "date_add(d, 1)"
    }
    val (loSql, hiSql) =
      if (isDate) ("d", endSql)
      else {
        val t = if (isNtz) "timestamp_ntz" else "timestamp"
        val pad = if (isNtz) 0 else 4
        if (kind == "hour")
          (
            s"timestampadd(HOUR, cast(__v as int) - $pad, cast(d as $t))",
            s"timestampadd(HOUR, cast(__v as int) + 1 + $pad, cast(d as $t))")
        else
          (
            s"timestampadd(HOUR, -$pad, cast(d as $t))",
            s"timestampadd(HOUR, $pad, cast($endSql as $t))")
      }
    val rendered = matched.selectExpr(
      statBoundSql(loSql, f.dataType) + " AS lo",
      statBoundSql(hiSql, f.dataType) + " AS hi")
    Collect
      .atMost(rendered, MaxCyclicProbes)
      .map(_.toSeq.map(r => (r.getString(0), r.getString(1))))
  }

  /** One part of an auto-split mixed derived key ([[concatSplit]]). */
  private[sources] sealed trait MixedPart
  private[sources] final case class FactPart(col: String) extends MixedPart
  private[sources] final case class DimPart(sql: String) extends MixedPart
  private[sources] final case class LitPart(value: String) extends MixedPart

  /** Decompose a MIXED-side derived key that is a top-level
    * `concat(...)` of single-side parts: exactly ONE part is a bare fact
    * column, the rest are string literals and/or expressions over ONE
    * dim's visible columns. Such a key auto-splits instead of refusing —
    * the aggregation computes it after the join like any expression, and
    * refresh narrowing recovers the fact part's values from affected key
    * strings by enumeration over the broadcast dim
    * ([[mixedConcatPrune]]). None for anything else (a genuinely
    * entangled shape keeps [[keyOwners]]'s loud refusal).
    */
  private[sources] def concatSplit(
      spark: SparkSession,
      exprSql: String,
      factCols: Set[String],
      dimVisible: Seq[(MvDim, Set[String])]): Option[(MvDim, Seq[MixedPart])] = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
    import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
    val parsed =
      try spark.sessionState.sqlParser.parseExpression(exprSql)
      catch { case NonFatal(_) => return None }
    val args: Seq[Expression] = parsed match {
      case f: UnresolvedFunction
          if f.nameParts.map(_.toLowerCase).mkString(".") == "concat" &&
            f.arguments.size >= 2 =>
        f.arguments
      case _ => return None
    }
    def refsOf(e: Expression): Seq[String] =
      e.collect { case a: UnresolvedAttribute => a.name }.distinct
    val parts: Seq[Option[MixedPart]] = args.map {
      case Literal(v, org.apache.spark.sql.types.StringType) if v != null =>
        Some(LitPart(v.toString))
      case a: UnresolvedAttribute
          if a.nameParts.length == 1 && factCols.contains(a.nameParts.head) =>
        Some(FactPart(a.nameParts.head))
      case e =>
        val refs = refsOf(e)
        if (refs.nonEmpty && dimVisible.exists { case (_, vis) => refs.forall(vis.contains) })
          Some(DimPart(e.sql))
        else None
    }
    if (parts.contains(None)) return None
    val ps = parts.flatten
    if (ps.count(_.isInstanceOf[FactPart]) != 1) return None
    val dimRefs = args.zip(ps).collect { case (e, _: DimPart) => refsOf(e) }
    if (dimRefs.isEmpty) return None // all-fact / all-literal is not mixed
    // the create-time namespace discipline makes visible columns unique
    // across dims, so at most one dim can own every dim part's refs
    dimVisible
      .find { case (_, vis) => dimRefs.forall(_.forall(vis.contains)) }
      .map { case (dim, _) => (dim, ps) }
  }

  /** Narrow `candidates` through every auto-split mixed concat key
    * ([[concatSplit]]): the fact part's values are recovered from the
    * affected key strings by ENUMERATION over the broadcast dim — for
    * each (affected value, distinct dim-part tuple), the fact value is
    * the middle of the string once the dim+literal prefix and suffix
    * match — and those values then drive the same stats/bloom/partition
    * narrowing bare fact keys get. A LEFT dim contributes one extra
    * synthetic tuple, each part's NULL-IMAGE (the expression over an
    * all-NULL dim row), so groups fed by UNMATCHED rows solve too. An
    * affected NULL key value stands the key down entirely (a NULL concat
    * admits any fact value — inner-join rows with a NULL dim attribute
    * land there, and their fact values are unconstrained). Ambiguous
    * splits admit EXTRA values — over-inclusion is safe; exclusion only
    * needs the enumeration to cover the contributing row's dim tuple,
    * which it does by construction.
    */
  private def mixedConcatPrune(
      spark: SparkSession,
      d: MvDef,
      srcView: Snapshots.ManifestView,
      srcSchema: org.apache.spark.sql.types.StructType,
      srcPartCols: Seq[String],
      affected: DataFrame,
      candidates: Seq[String]): Seq[String] = {
    val factCols = srcSchema.fieldNames.toSet
    val driver = LocalFrames.isLocal(affected)
    lazy val dimVisible: Seq[(MvDim, Set[String])] = d.dims.flatMap { dim =>
      Snapshots
        .schemaOf(spark, dim.root)
        .map(sch => dim -> (sch.fieldNames.toSet -- dim.dimCols.toSet))
    }
    d.keyExprs.foldLeft(candidates) { case (cands, (k, e)) =>
      val split =
        if (cands.isEmpty) None else concatSplit(spark, e, factCols, dimVisible)
      split match {
        case None => cands
        case Some((dim, parts)) =>
          val fc = parts.collectFirst { case FactPart(c) => c }.get
          srcSchema.fields.find(_.name == fc) match {
            case None => cands // schema drifted; the evolution gate refuses elsewhere
            case Some(field) =>
              val vals = LocalFrames.distinct(affected.select(col(k).cast("string").as("__g")))
              if (!vals.where(col("__g").isNull).isEmpty) cands // NULL group: stand down
              else {
                val dimSchema = Snapshots
                  .schemaOf(spark, dim.root)
                  .getOrElse(sys.error(s"dim ${dim.root} records no schema"))
                val dimPartIdx = parts.zipWithIndex.collect { case (DimPart(_), i) => i }
                val dimExprs = parts.zipWithIndex.collect { case (DimPart(sql), i) =>
                  expr(sql).as(s"__p$i")
                }
                val dimTuples = Snapshots
                  .readSnapshot(spark, dim.root, dim.version)
                  .select(dimExprs: _*)
                  .distinct()
                var tuples =
                  if (!driver) dimTuples
                  else
                    Collect
                      .atMost(dimTuples, driverMaxGroups.value)
                      .fold(dimTuples)(rows => LocalFrames.of(spark, rows.toSeq, dimTuples.schema))
                if (dim.joinType != "inner") {
                  // the unmatched rows' tuple: every dim part at its
                  // NULL-IMAGE (null-intolerant parts image to NULL and
                  // drop out below — exactly the rows whose key is NULL)
                  val imageRow = LocalFrames
                    .of(spark, Seq(org.apache.spark.sql.Row()), new org.apache.spark.sql.types.StructType())
                    .select(parts.zipWithIndex.collect { case (DimPart(sql), i) =>
                      nullImageLit(spark, dimSchema, sql).cast("string").as(s"__p$i")
                    }: _*)
                  tuples = LocalFrames.distinct(LocalFrames.union(
                    tuples.select(dimPartIdx.map(i => col(s"__p$i").cast("string")): _*),
                    imageRow))
                }
                val factIdx = parts.indexWhere(_.isInstanceOf[FactPart])
                def sideSql(sel: Seq[(MixedPart, Int)]): String =
                  if (sel.isEmpty) "''"
                  else
                    "concat(" + sel.map {
                      // Catalyst's own literal rendering, NOT hand-rolled
                      // quoting: a literal containing a backslash would
                      // re-parse differently under escaped literals, the
                      // prefix/suffix match would silently miss, and the
                      // recovered fact-value set would UNDER-include —
                      // wrong MV contents, not just weaker pruning
                      case (LitPart(v), _) =>
                        org.apache.spark.sql.catalyst.expressions
                          .Literal(org.apache.spark.unsafe.types.UTF8String.fromString(v),
                            org.apache.spark.sql.types.StringType)
                          .sql
                      case (_, i) => s"cast(__p$i as string)"
                    }.mkString(", ") + ")"
                val preSql = sideSql(parts.zipWithIndex.take(factIdx))
                val sufSql = sideSql(parts.zipWithIndex.drop(factIdx + 1))
                val vf0 = LocalFrames
                  .crossJoin(vals, tuples)
                  .selectExpr(s"($preSql) AS __pre", s"($sufSql) AS __suf", "__g")
                  .selectExpr(
                    "CASE WHEN length(__g) >= length(__pre) + length(__suf) " +
                      "AND substring(__g, 1, length(__pre)) = __pre " +
                      "AND right(__g, length(__suf)) = __suf " +
                      "THEN substring(__g, length(__pre) + 1, " +
                      "length(__g) - length(__pre) - length(__suf)) END AS __vf")
                  .where(col("__vf").isNotNull)
                  .select(col("__vf").cast(field.dataType).as(fc))
                  .where(col(fc).isNotNull) // an uncastable split admits nothing
                val (vf, _) = held(spark, vf0, driver)
                try {
                  val vMeta = DeleteVectors.keyMeta(vf, Seq(fc), Seq(field))
                  if (vMeta.count == 0L) Seq.empty // no (value, tuple) solves: groups vanish
                  else
                    DeleteVectors.candidateRelsForKeys(
                      spark, d.sourceRoot, srcView, cands, vf, vMeta, Seq(fc), Seq(field),
                      srcPartCols, nullSafe = false)
                } finally vf.unpersist()
              }
          }
      }
    }
  }

  /** What a derived key evaluates to on a LEFT join's UNMATCHED rows:
    * the expression over an all-NULL dim row, as a literal. Most
    * expressions are null-intolerant (image = NULL); null-tolerant ones
    * (`coalesce`, `ifnull`, CASE) produce a real value that marks the
    * groups possibly containing unmatched rows.
    */
  private def nullImageLit(
      spark: SparkSession,
      dimSchema: org.apache.spark.sql.types.StructType,
      exprSql: String): org.apache.spark.sql.Column = {
    val oneNullRow = spark.createDataFrame(
      java.util.Collections.singletonList(
        org.apache.spark.sql.Row(dimSchema.fields.map(_ => null): _*)),
      dimSchema)
    lit(oneNullRow.select(expr(exprSql)).head().get(0))
  }

  /** Per-derived-key interval cap: above it one ENVELOPE interval
    * replaces the per-value list (the file-admission test is driver-side
    * per candidate file, so the probe list must stay small).
    */
  private val MaxIntervalProbes = 512

  /** Cyclic keys enumerate one interval PER PERIOD within the fact's
    * span — an hour-of-day key over a ten-year fact is 3 653 intervals
    * per affected value, so the cap is wider than the monotone one (the
    * admission test is O(candidates × probes) plain driver-side
    * comparisons). Above it there is no envelope fallback: a cyclic
    * key's envelope spans essentially the whole fact, so the honest
    * degradation is NO constraint from this key.
    */
  private val MaxCyclicProbes = 4096

  /** The monotone templates cast through `timestamp`; for a
    * TIMESTAMP_NTZ source column that cast interprets the wall-clock in
    * the SESSION zone (and collapses DST-gap values) — retarget the
    * casts to `timestamp_ntz` so the bounds stay in the column's own
    * wall-clock domain end to end. The cast text is wholly ours
    * ([[monotoneInverse]]'s tsRange/year templates), so the textual
    * retype is exact.
    */
  private def retypeBound(boundSql: String, dt: org.apache.spark.sql.types.DataType): String =
    dt match {
      case org.apache.spark.sql.types.TimestampNTZType =>
        boundSql.replace("as timestamp)", "as timestamp_ntz)")
      case _ => boundSql
    }

  /** Render an interval bound into the STAT domain of the source column
    * — timestamps compare as footer micros, dates as ISO strings,
    * numerics numerically (the [[Snapshots.ColStat]] typ rules).
    * TIMESTAMP_NTZ footer stats are WALL-CLOCK micros
    * (isAdjustedToUTC=false), so the NTZ rendering computes the
    * wall-clock micros arithmetically — `unix_micros(cast(… as
    * timestamp))` would shift every bound by the session-zone offset and
    * wrongly exclude the affected hour's files in a non-UTC session.
    */
  private def statBoundSql(boundSql: String, dt: org.apache.spark.sql.types.DataType): String =
    dt match {
      case org.apache.spark.sql.types.TimestampType =>
        s"cast(unix_micros(cast(($boundSql) as timestamp)) as string)"
      case org.apache.spark.sql.types.TimestampNTZType =>
        val b = s"cast(($boundSql) as timestamp_ntz)"
        s"cast(cast(unix_date(cast($b as date)) as bigint) * 86400000000 + " +
          s"hour($b) * 3600000000 + minute($b) * 60000000 + " +
          s"cast(floor(date_part('SECOND', $b) * 1000000) as bigint) as string)"
      case org.apache.spark.sql.types.DateType => s"cast(cast(($boundSql) as date) as string)"
      case org.apache.spark.sql.types.FloatType => s"cast(cast(($boundSql) as double) as string)"
      case _ => s"cast(($boundSql) as string)"
    }

  /** Narrow `candidates` through every DERIVED key with a recognized
    * inverse: each affected key value maps to source-column interval(s)
    * — ONE for a monotone shape ([[monotoneInverse]]), one PER PERIOD in
    * the fact's span for a cyclic shape ([[cyclicInverse]]) — and a file
    * survives when its stats interval intersects ANY of them (or when a
    * NULL-keyed affected group exists and the file can bear a NULL in
    * the source column — a null-intolerant expression yields NULL
    * exactly on NULL input). More monotone values than
    * [[MaxIntervalProbes]] collapse to one envelope interval, aggregated
    * in the bound's TYPED domain before stat rendering (the rendered
    * strings compare lexicographically — min('1000','600') is '1000');
    * an unrecognized expression contributes no constraint (the other
    * keys' narrowing still applies). A column with NO usable stats
    * (e.g. an INT96 timestamp) admits every file — degradation, never
    * exclusion.
    */
  private def derivedIntervalPrune(
      spark: SparkSession,
      d: MvDef,
      srcView: Snapshots.ManifestView,
      srcSchema: org.apache.spark.sql.types.StructType,
      srcPartCols: Seq[String],
      affected: DataFrame,
      alive: Seq[String],
      candidates: Seq[String]): Seq[String] =
    d.keyExprs.foldLeft(candidates) { case (cands, (k, exprSql)) =>
      if (cands.isEmpty) cands
      else {
        val inverse: Option[(StructField, DataFrame => Option[Seq[(String, String)]])] = {
          def fieldOf(srcCol: String): Option[StructField] =
            srcSchema.fields.find(_.name == srcCol) // absent = schema drifted; the evolution gate refuses elsewhere
          monotoneInverse(spark, exprSql) match {
            case Some((srcCol, loSql0, hiSql0)) =>
              fieldOf(srcCol).map { f =>
                val (loSql, hiSql) = (retypeBound(loSql0, f.dataType), retypeBound(hiSql0, f.dataType))
                (f, (vals: DataFrame) => {
                  val typed = vals
                    .where(col("__v").isNotNull)
                    .selectExpr(s"($loSql) AS lo", s"($hiSql) AS hi")
                  def rendered(src: DataFrame) = src.selectExpr(
                    statBoundSql("lo", f.dataType) + " AS lo",
                    statBoundSql("hi", f.dataType) + " AS hi")
                  val rows = Collect
                    .atMost(rendered(typed), MaxIntervalProbes)
                    .getOrElse(rendered(LocalFrames.extremes(typed, "lo", "hi")).collect())
                  Some(rows.toSeq.map(r => (r.getString(0), r.getString(1))))
                })
              }
            case None =>
              cyclicInverse(spark, exprSql).flatMap { case (srcCol, kind) =>
                fieldOf(srcCol).map { f =>
                  (f, (vals: DataFrame) =>
                    cyclicIntervals(
                      spark, kind, f, vals.where(col("__v").isNotNull), srcView, alive))
                }
              }
          }
        }
        inverse match {
          case None => cands // unrecognized shape: no constraint from this key
          case Some((f, intervalsOf)) =>
            val vals = LocalFrames.distinct(affected.select(col(k).as("__v")))
            intervalsOf(vals) match {
              case None => cands // no usable span / probe cap: no constraint
              case Some(intervals) =>
                val anyNull = !vals.where(col("__v").isNull).isEmpty
                val nullable: Set[String] =
                  if (anyNull)
                    DeleteVectors
                      .nullBearingCandidates(srcView, alive, Seq(f.name), srcPartCols)
                      .toSet
                  else Set.empty
                cands.filter { rel =>
                  val st = srcView.stats.getOrElse(rel, Map.empty[String, Snapshots.ColStat])
                  nullable.contains(rel) ||
                  intervals.exists { case (lo, hi) =>
                    Snapshots.fileMatchesRanges(st, Seq((f.name, Option(lo), Option(hi))))
                  }
                }
            }
        }
      }
    }

  /** Affected-group ceiling of the DRIVER-HELD refresh: an incremental
    * window naming at most this many distinct groups is collected once
    * ([[Collect.atMost]]) and every later probe, the vanished groups and
    * both counts run on the driver rows; above it, on a full resync, or
    * at zero (specs: `driverMaxGroups.withValue(0L)`) the distributed
    * chain runs. A constant, no conf: 2^16 groups of keys and aggregates
    * are a few MB on the driver.
    */
  private[sources] val driverMaxGroups = new scala.util.DynamicVariable[Long](1L << 16)

  /** `df` distinct for a refresh that re-reads it, with its row count
    * when that is known for free. On the driver path (`driver`) it is
    * held on the driver as a local frame when it has at most
    * [[driverMaxGroups]] rows: a local `df` distincts on its rows; with
    * `rawFirst` (`df` holds one row per changed row, so it usually fits as
    * it is) its rows are collected before any shuffle and distinct on the
    * driver; else Spark's distinct is persisted ONCE and read by one
    * bounded collect, kept persisted when it does not fit. Off the driver
    * path it is persisted, the distributed chain's step. The caller
    * unpersists, a no-op on a local frame.
    */
  private def held(
      spark: SparkSession,
      df: DataFrame,
      driver: Boolean,
      rawFirst: Boolean = false): (DataFrame, Option[Long]) = {
    def local(rows: Array[org.apache.spark.sql.Row]) =
      (LocalFrames.of(spark, rows.toSeq, df.schema), Some(rows.length.toLong))
    val rows =
      if (!driver) None
      else
        LocalFrames
          .rowsOf(df)
          .orElse(if (rawFirst) Collect.atMost(df, driverMaxGroups.value) else None)
          .map(LocalFrames.distinctRows(_, df.schema))
    rows.map(local).getOrElse {
      val p = df.distinct().persist()
      try
        (if (driver) Collect.atMost(p, driverMaxGroups.value) else None) match {
          case Some(rows) => p.unpersist(); local(rows)
          case None => (p, None)
        }
      catch { case NonFatal(e) => p.unpersist(); throw e }
    }
  }

  /** `keys` distinct and counted, FORCED ([[held]], the raw rows first):
    * a local frame on the driver path, else persisted; the count of a
    * persisted frame reads the same cache.
    */
  private def heldKeys(spark: SparkSession, keys: DataFrame): (DataFrame, Long) = {
    val (k, n) = held(spark, keys, driver = true, rawFirst = true)
    try (k, n.getOrElse(k.count()))
    catch { case NonFatal(e) => k.unpersist(); throw e }
  }

  /** The row-level change feed of a snapshot table over `(fromV, toV]` —
    * reads only the versions' CHANGED files; raises when the window is
    * no longer expressible (vacuumed predecessor data).
    */
  private def changeFeed(spark: SparkSession, root: String, fromV: Long, toV: Long): DataFrame = {
    import scala.jdk.CollectionConverters._
    val tbl = new graft.sources.snap.SnapChangesTable(root)
    val opts = new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      Map(
        "startingversion" -> (fromV + 1L).toString,
        "endingversion" -> toV.toString).asJava)
    val rel = org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
      .create(tbl, None, None, opts)
    org.apache.spark.sql.graft.Bridge.ofRows(spark, rel)
  }

  /** The affected group keys via the row-level change feed, with their
    * count — `None` when the window is no longer expressible (vacuumed
    * predecessor data), in which case the caller downgrades to a full
    * resync. The keys are FORCED here ([[heldKeys]]) so a feed refusal
    * surfaces before any MV mutation.
    */
  private def affectedKeysViaChanges(
      spark: SparkSession,
      d: MvDef,
      v1: Long): Option[(DataFrame, Long)] = {
    val keys =
      try {
        val feed = changeFeed(spark, d.sourceRoot, d.refreshedVersion, v1)
        // the feed carries FACT rows (deleted images included, with full
        // values — joinable); dims join on at their pinned heads, which
        // equal the whole window's dim state (a moved dim takes the
        // dim-delta path instead of this one). A FULL dim demotes to
        // LEFT here — a full join over the FEED would name every dim row
        // the feed misses — and contributes instead the (c)-images of
        // dim rows CARRYING the feed's join keys: those are exactly the
        // rows whose matched status the window can flip
        var keys = prepared(spark, demoteFull(d), feed).select(d.keyCols.map(col): _*)
        d.dims.filter(_.joinType == "full").foreach { dim =>
          val srcSchema = Snapshots
            .schemaOf(spark, d.sourceRoot)
            .getOrElse(sys.error(s"${d.sourceRoot} records no schema"))
          val fkeys = feed.select(dim.factCols.map(col): _*).distinct()
          val dimRows = Snapshots.readSnapshot(spark, dim.root, dim.version)
          val cond = dim.dimCols.zip(dim.factCols)
            .map { case (dc, fc) => dimRows(dc) === fkeys(fc) }
            .reduce(_ && _)
          val touched = dimRows.join(broadcast(fkeys), cond, "left_semi")
          keys = keys.unionByName(
            fullDimImage(d, dim, touched, srcSchema, keepKeys = false)
              .select(d.keyCols.map(col): _*))
        }
        keys
      } catch {
        case NonFatal(e) =>
          log.warn(
            s"materialized-view refresh: change feed for ${d.sourceRoot} " +
              s"(${d.refreshedVersion}, $v1] not plannable (${e.getMessage}); full resync",
            e)
          return None
      }
    try {
      // force NOW: a vacuumed window surfaces here, not mid-apply
      Some(heldKeys(spark, keys))
    } catch {
      case NonFatal(e) =>
        log.warn(
          s"materialized-view refresh: change feed for ${d.sourceRoot} " +
            s"(${d.refreshedVersion}, $v1] unreadable (${e.getMessage}); full resync",
          e)
        None
    }
  }

  /** Affected group keys when one or more DIM heads moved — the
    * DIM-DELTA path: price the refresh at the CHANGED DIM KEYS instead
    * of resyncing the world. A group's value can differ between the
    * view's reflected state (`fact@wm ⋈ dim@old`) and the target state
    * (`fact@v1 ⋈ dim@new`) only through
    *
    *  1. a fact row that changed in the fact window — its images are in
    *     the FACT feed; its old group derives under dim@OLD (the state
    *     the view reflected), its new group under dim@NEW, so the feed
    *     rows join under BOTH mappings; or
    *  2. a fact row untouched in the window whose DIM row changed
    *     (attr re-map, dim-side filter flip, dim-row delete): that dim
    *     row is in the DIM's own change feed, so its join-key value is
    *     in `changedPks` — the fact rows carrying those keys are found
    *     through the SAME candidate narrowing every keyed op uses (a
    *     fact clustered by the join key opens the changed keys' files
    *     only), and their groups derive under both mappings too.
    *
    * A changed dim key with NO fact rows affects nothing (inner join);
    * a pure dim compaction cancels to zero changed keys. Groups that
    * exist only under the OLD mapping recompute to empty under dim@new
    * and vanish — exactly right. `None` (→ full resync) when any moved
    * dim's change window or OLD pinned version is no longer readable
    * (vacuumed), or the fact feed itself is not.
    */
  private def affectedKeysViaDimDelta(
      spark: SparkSession,
      dOld: MvDef,
      dNew: MvDef,
      v1: Long): Option[(DataFrame, Long)] = {
    // the per-dim changed-key frames are persisted (candidate narrowing
    // re-scans them several times) and must live until the final union
    // is FORCED — released here either way
    val scratch = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def release(): Unit = scratch.foreach(_.unpersist(blocking = false))
    val affected =
      try {
        val srcView = Snapshots.manifestView(spark, dNew.sourceRoot, v1)
        val srcSchema = srcView.schema.getOrElse(
          sys.error(s"source ${dNew.sourceRoot} records no schema"))
        val srcPartCols = srcView.layout
        val alive = srcView.rels.filterNot(r =>
          Snapshots.fullyDeleted(srcView.stats.getOrElse(r, Map.empty)))
        def groupsUnderBoth(rows: DataFrame): DataFrame =
          prepared(spark, demoteFull(dOld), rows)
            .select(dOld.keyCols.map(col): _*)
            .unionByName(
              prepared(spark, demoteFull(dNew), rows).select(dNew.keyCols.map(col): _*))
        // a FULL dim's (c)-image groups for a frame of DIM rows — version-
        // independent (filter + derived keys only reference values)
        def cImages(dim: MvDim, dimRows: DataFrame): DataFrame =
          fullDimImage(dNew, dim, dimRows, srcSchema, keepKeys = false)
            .select(dNew.keyCols.map(col): _*)
        // side 1: the fact window's own changes, under both mappings —
        // plus, for a FULL dim, the (c)-images of dim rows carrying the
        // window's join keys (their matched status can flip)
        val factSide: Seq[DataFrame] =
          if (v1 == dNew.refreshedVersion) Seq.empty
          else {
            val feed = changeFeed(spark, dNew.sourceRoot, dNew.refreshedVersion, v1)
            Seq(groupsUnderBoth(feed)) ++ dNew.dims.filter(_.joinType == "full").map { dim =>
              val fkeys = feed.select(dim.factCols.map(col): _*).distinct()
              val dimRows = Snapshots.readSnapshot(spark, dim.root, dim.version)
              val cond = dim.dimCols.zip(dim.factCols)
                .map { case (dc, fc) => dimRows(dc) === fkeys(fc) }
                .reduce(_ && _)
              cImages(dim, dimRows.join(broadcast(fkeys), cond, "left_semi"))
            }
          }
        // side 2: per moved dim, the fact rows carrying its changed keys
        val dimSide: Seq[DataFrame] = dNew.dims.zip(dOld.dims).collect {
          case (nDim, oDim) if nDim.version != oDim.version =>
            val keyFields = nDim.factCols.map(c =>
              srcSchema.fields
                .find(_.name == c)
                .getOrElse(sys.error(s"join column '$c' is not a fact column")))
            val pks = changeFeed(spark, nDim.root, oDim.version, nDim.version)
              .select(nDim.dimCols.map(col): _*)
              .toDF(nDim.factCols: _*) // into the fact join-key domain
              .select(keyFields.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
              .distinct()
              .persist()
            scratch += pks
            // one action forces the dim feed (vacuumed surfaces HERE) and
            // computes the narrowing metadata
            val pMeta = DeleteVectors.keyMeta(pks, nDim.factCols, keyFields)
            val nP = pMeta.count
            val cands = DeleteVectors.candidateRelsForKeys(
              spark, dNew.sourceRoot, srcView, alive, pks, pMeta, nDim.factCols, keyFields,
              srcPartCols, nullSafe = true)
            val touched =
              if (cands.isEmpty)
                spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], srcSchema)
              else {
                val scan = Snapshots.scanRels(spark, dNew.sourceRoot, srcView, cands)
                val pksB =
                  if (nP <= Snapshots.DvBroadcastMaxPositions) broadcast(pks) else pks
                val cond =
                  nDim.factCols.map(c => scan(c) === pksB(c)).reduce(_ && _)
                scan.join(pksB, cond, "left_semi")
              }
            // a moved FULL dim additionally affects the (c)-image groups
            // of its OWN changed rows, under both images (the feed
            // carries deleted/previous rows with full values)
            val cSide =
              if (nDim.joinType == "full")
                Seq(cImages(nDim, changeFeed(spark, nDim.root, oDim.version, nDim.version)
                  .select(Snapshots
                    .schemaOf(spark, nDim.root)
                    .getOrElse(sys.error(s"dim ${nDim.root} records no schema"))
                    .fieldNames.toSeq.map(col): _*)))
              else Seq.empty
            (Seq(groupsUnderBoth(touched)) ++ cSide).reduce(_ unionByName _)
        }
        val parts = factSide ++ dimSide
        if (parts.isEmpty) { release(); return None } // nothing moved: caller resyncs
        parts.reduce(_ unionByName _)
      } catch {
        case NonFatal(e) =>
          release()
          log.warn(
            s"materialized-view refresh: dim-delta window not expressible " +
              s"(${e.getMessage}); full resync",
            e)
          return None
      }
    try {
      // force NOW: an unreadable old dim pin surfaces here
      Some(heldKeys(spark, affected))
    } catch {
      case NonFatal(e) =>
        log.warn(
          s"materialized-view refresh: dim-delta window unreadable (${e.getMessage}); " +
            "full resync",
          e)
        None
    } finally release()
  }

  /** Recompute the `n` `affected` groups from the source pinned at `v1`
    * and merge the outcome into the view in ONE atomic MV version: fresh
    * values upsert, vanished groups delete — NULL-keyed groups included,
    * via the null-safe apply. Returns (groups recomputed, groups deleted).
    */
  private def applyDelta(
      spark: SparkSession,
      d: MvDef,
      mvRoot: String,
      affected: DataFrame,
      n: Long,
      v1: Long): (Long, Long) = {
    if (n == 0L) return (0L, 0L) // e.g. a pure-compaction window: nothing changed
    val srcView = Snapshots.manifestView(spark, d.sourceRoot, v1)
    val srcSchema = srcView.schema.getOrElse(
      sys.error(s"source ${d.sourceRoot} records no schema — commit with statsCols first"))
    val owners = keyOwners(spark, d)
    val mvSchema = Snapshots
      .manifestView(spark, mvRoot)
      .schema
      .getOrElse(sys.error(s"materialized view $mvRoot records no schema"))
    // key fields typed in the JOINED domain: the fact schema for fact
    // keys, the owning dim's schema for dim-provided keys, the VIEW's own
    // schema for derived keys (their type is the expression's, which the
    // create-time aggregation pinned into the MV table)
    val dimSchemas: Map[String, org.apache.spark.sql.types.StructType] =
      d.dims.map(dim =>
        dim.root -> Snapshots
          .schemaOf(spark, dim.root)
          .getOrElse(sys.error(s"dim ${dim.root} records no schema"))).toMap
    val keyFields: Seq[StructField] = owners.map {
      case (k, _) if d.keyExprs.contains(k) =>
        // derived keys (either side): the expression's type is whatever
        // the create-time aggregation pinned into the MV table
        mvSchema.fields
          .find(_.name == k)
          .getOrElse(sys.error(s"derived group key '$k' is not a column of the view $mvRoot"))
      case (k, None) =>
        srcSchema.fields
          .find(_.name == k)
          .getOrElse(sys.error(s"group key '$k' is no longer a column of ${d.sourceRoot}"))
      case (k, Some(dim)) => dimSchemas(dim.root).fields.find(_.name == k).get
    }
    // compare in the TABLE's key domain (the upsert prologue's cast)
    val affectedCast =
      affected.select(keyFields.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
    // the DRIVER-HELD path: the affected keys are a local frame, so every
    // probe below reads driver rows and the recompute filters on them
    val driver = LocalFrames.isLocal(affectedCast)
    lazy val affectedRows = affectedCast.collect()
    val srcPartCols = srcView.layout
    val alive = srcView.rels.filterNot(r =>
      Snapshots.fullyDeleted(srcView.stats.getOrElse(r, Map.empty)))
    // TRACE EXPANSION: the fact-column tuples that can reach the affected
    // groups. Fact-owned keys trace as themselves; a dim-owned key (e.g.
    // `GROUP BY dim.attr`) expands through the dim — affected attr
    // values join back (null-safely, broadcast) to enumerate the dim
    // join-key values mapping into them, which enter the trace renamed
    // to the FACT side's join columns. The expanded tuples then drive
    // the same stats/bloom/partition narrowing fact keys get: a day's
    // change into a fact clustered by the join key scans the affected
    // keys' files, never the table.
    // derived keys are fact-owned but are NOT fact columns — they narrow
    // through their monotone inverse (below), never through the trace
    val factKeyCols = owners.collect { case (k, None) if !d.keyExprs.contains(k) => k }
    val byDim: Seq[(MvDim, Seq[String])] = owners
      .collect { case (k, Some(dim)) => (dim, k) }
      .groupBy(_._1.root)
      .values
      .map(g => (g.head._1, g.map(_._2)))
      .toSeq
    var trace = affectedCast
    // a LEFT dim cannot constrain the trace for any affected group that
    // may contain UNMATCHED fact rows — their join-key values are
    // precisely the keys NOT in the dim, which no dim enumeration can
    // produce. For a BARE key the unmatched rows' image is NULL; for a
    // DERIVED key it is the expression's NULL-IMAGE (expr over an
    // all-NULL dim row): `upper(grp)` images to NULL, but
    // `coalesce(grp, 'none')` images to 'none' — an affected 'none'
    // group includes unmatched rows, so that dim must stand down and the
    // remaining constraints narrow. Null-safe compare (`<=>`) makes the
    // NULL image the old isNull test.
    val unconstrained = byDim.collect {
      case (dim, kcs) if dim.joinType != "inner" && {
            val anyUnmatchedImage = kcs.map { k =>
              col(k) <=> d.keyExprs.get(k).fold(lit(null))(e =>
                nullImageLit(spark, dimSchemas(dim.root), e))
            }.reduce(_ || _)
            !affectedCast.filter(anyUnmatchedImage).isEmpty
          } =>
        dim.root
    }.toSet
    val constrainedDims = byDim.filterNot { case (dim, _) => unconstrained.contains(dim.root) }
    constrainedDims.foreach { case (dim, kcs) =>
      // a DERIVED dim key inverts by ENUMERATION: evaluate its expression
      // over the (small, broadcast) dim — the rows whose value equals an
      // affected key's are exactly the join keys that can reach the group
      val dimKeyed = kcs.foldLeft(Snapshots.readSnapshot(spark, dim.root, dim.version))(
        (df, k) => d.keyExprs.get(k).fold(df)(e => df.withColumn(k, expr(e))))
      val dimDf = broadcast(dimKeyed.select((kcs ++ dim.dimCols).map(col): _*).distinct())
      val cond = kcs.map(k => trace(k) <=> dimDf(k)).reduce(_ && _)
      // whether the TRACE (not the just-joined dim copy) already carries
      // the fact column must be decided BEFORE the join: after it, a dim
      // join column named like its fact column (ON cust_id = cust_id)
      // makes `j.columns.contains(fc)` true for the dim's copy and a
      // keep-the-trace's branch would drop the only copy
      val traceHad = trace.columns.toSet
      // the EXPANSION join is always inner — even for a LEFT dim (this
      // branch runs only when no affected group is NULL-keyed on it, so
      // every affected group's members ARE matched rows)
      var j = trace.join(dimDf, cond, "inner")
      kcs.foreach(k => j = j.drop(dimDf(k))) // the dim copy of the attr keys
      dim.dimCols.zip(dim.factCols).foreach { case (dc, fc) =>
        j =
          if (traceHad.contains(fc))
            // the fact join column is ITSELF a group key: the group's own
            // value is tighter than the dim row's — keep it, drop the copy
            j.drop(dimDf(dc))
          else if (dc == fc) j // same name on both sides: already in place
          else j.withColumnRenamed(dc, fc)
      }
      trace = j
    }
    val traceCols = (factKeyCols ++ constrainedDims.flatMap(_._1.factCols)).distinct
    // null-safe narrowing: NULL-keyed trace tuples admit exactly the
    // null-bearing files (per-file null-count stats / path segments),
    // everything else narrows on stats+bloom as usual. No trace columns
    // at all (every key sat on an unconstrained left dim) is the
    // documented degenerate: every live file is a candidate.
    val tupleCandidates =
      if (traceCols.isEmpty) alive
      else {
        val traceFields = traceCols.map(c =>
          srcSchema.fields
            .find(_.name == c)
            .getOrElse(sys.error(s"join column '$c' is no longer a column of ${d.sourceRoot}")))
        val (traceTuples, _) = held(
          spark,
          trace.select(traceFields.map(f => col(f.name).cast(f.dataType).as(f.name)): _*),
          driver)
        try {
          val tMeta = DeleteVectors.keyMeta(traceTuples, traceCols, traceFields)
          DeleteVectors.candidateRelsForKeys(
            spark, d.sourceRoot, srcView, alive, traceTuples, tMeta, traceCols, traceFields,
            srcPartCols, nullSafe = true)
        } finally traceTuples.unpersist()
      }
    // derived keys narrow ON TOP of the tuple narrowing: an affected
    // hour bounds the source timestamp, and the per-file stats interval
    // decides admission — a day-clustered 100 TB fact recomputes an
    // hour's groups from that hour's files
    val candidates = {
      val c1 =
        if (d.keyExprs.isEmpty) tupleCandidates
        else derivedIntervalPrune(
          spark, d, srcView, srcSchema, srcPartCols, affectedCast, alive, tupleCandidates)
      // auto-split mixed keys narrow through the dim enumeration — a
      // concat(fact_col, dim_attr) key recovers the fact values from the
      // affected strings and prunes like a bare fact key
      if (d.keyExprs.isEmpty || d.dims.isEmpty) c1
      else mixedConcatPrune(spark, d, srcView, srcSchema, srcPartCols, affectedCast, c1)
    }
    val fullDim = d.dims.find(_.joinType == "full")
    // the affected groups' aggregation over the candidate files; None
    // when every affected group's last row vanished (nothing to read)
    val recompute: Option[DataFrame] =
      if (candidates.isEmpty && fullDim.isEmpty) None
      else {
        val scan =
          if (candidates.isEmpty)
            // a FULL dim's (c)-side groups need no fact files — recompute
            // proceeds over an empty fact frame plus the images below
            spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], srcSchema)
          else Snapshots.scanRels(spark, d.sourceRoot, srcView, candidates)
        // the scan demotes FULL to LEFT (a full join over the candidate
        // SUBSET would fabricate unmatched-dim rows the other files
        // match); the true (c)-side unions in from the whole-fact probe
        val preLeft = prepared(spark, demoteFull(d), scan)
        val pre = fullDim match {
          case None => preLeft
          case Some(dim) =>
            preLeft.unionByName(fullDimCSide(
              spark, d, dim, srcView, srcSchema, srcPartCols, alive, affectedCast, n))
        }
        // null-safe: NULL is a legitimate group key. Driver-held keys
        // filter as one set probe; the chain semi-joins them
        val kept =
          if (driver)
            pre.filter(LocalFrames.in(d.keyCols.map(pre(_)), keyFields.map(_.dataType), affectedRows))
          else {
            val keysB =
              if (n <= Snapshots.DvBroadcastMaxPositions) broadcast(affectedCast) else affectedCast
            pre.join(keysB, d.keyCols.map(c => pre(c) <=> keysB(c)).reduce(_ && _), "left_semi")
          }
        Some(aggregatedFrom(kept, d))
      }
    val opCol = "__graft_mv_op__"
    def shaped(df: DataFrame, keysOnly: Boolean): DataFrame =
      df.select(mvSchema.fields.toSeq.map { f =>
        (if (!keysOnly || d.keyCols.contains(f.name)) col(f.name).cast(f.dataType)
         else lit(null).cast(f.dataType)).as(f.name)
      }: _*)
    // nullSafeKeys: a NULL-keyed group's old view row matches its fresh
    // image through `<=>`, so NULL groups ride the SAME atomic commit as
    // every other group (no separate pre-delete version — a reader
    // between two commits could otherwise see a view state corresponding
    // to no source snapshot)
    def apply(recomputed: DataFrame, vanished: DataFrame, union: (DataFrame, DataFrame) => DataFrame) =
      DeleteVectors.applyChanges(
        spark, mvRoot,
        union(
          shaped(recomputed, keysOnly = false).withColumn(opCol, lit("u")),
          shaped(vanished, keysOnly = true).withColumn(opCol, lit("d"))),
        d.keyCols, opCol, nullSafeKeys = true)
    if (driver) {
      // Spark's own aggregate, collected: one row per recomputed group;
      // the vanished groups are the affected keys it did not return
      val rec = recompute.fold(LocalFrames.of(spark, Seq.empty, mvSchema))(r =>
        LocalFrames.of(spark, r.collect().toSeq, r.schema))
      val recKeys = rec.select(keyFields.map(f => col(f.name).cast(f.dataType).as(f.name)): _*).collect()
      val gone = LocalFrames.antiRows(affectedRows, recKeys, affectedCast.schema)
      apply(rec, LocalFrames.of(spark, gone.toSeq, affectedCast.schema), LocalFrames.union)
      return (recKeys.length.toLong, gone.length.toLong)
    }
    val recomputed = recompute.getOrElse(spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], mvSchema)).persist()
    try {
      val recKeys = recomputed.select(d.keyCols.map(col): _*)
      val vanished = affectedCast
        .join(recKeys, d.keyCols.map(c => affectedCast(c) <=> recKeys(c)).reduce(_ && _), "left_anti")
        .persist()
      try {
        // one action for both bounded cached frames instead of two count()
        // jobs — the refresh path is fixed-overhead bound (guide §1.2)
        val cntRow = recomputed
          .agg(org.apache.spark.sql.functions.count(lit(1)).as("a"))
          .crossJoin(vanished.agg(org.apache.spark.sql.functions.count(lit(1)).as("b")))
          .head()
        val recCount = cntRow.getLong(0)
        val delCount = cntRow.getLong(1)
        apply(recomputed, vanished, _ unionByName _)
        (recCount, delCount)
      } finally vanished.unpersist()
    } finally recomputed.unpersist()
  }
}
