package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

import graft.core.Event

/** Structured Streaming ingest + stateful processing — the streaming
  * realization of the reference's ingest path (`WriteKey`,
  * reference `internal/storage/engine.go:175-185`) with real event-time
  * semantics the reference never had (its keys were opaque strings,
  * `types.go:3`).
  *
  * Batch/stream symmetry: the transforms here take DataFrames, so the
  * exact same code serves `readStream` micro-batches and batch backfills —
  * the kappa-architecture property a 100 TB pipeline needs.
  */
object Streaming {

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-source stream over a directory of event parquet (new files are
    * discovered per micro-batch — the streaming twin of the cold tier).
    */
  def readEventStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(eventSchema).parquet(dir)

  /** Watermarked tumbling-window aggregation: late rows beyond the
    * watermark are dropped (state is bounded — mandatory at scale).
    */
  def windowedCounts(events: DataFrame, window_ : String, watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sv"))

  /** Sliding-window variant. */
  def slidingCounts(events: DataFrame, window_ : String, slide: String, watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_, slide), col("event_type"))
      .agg(count(lit(1)).as("n"))

  /** Streaming exact dedup — the streaming face of
    * [[graft.llm.Dedup.exact]]: duplicate keys arriving within the
    * watermark horizon are dropped, and (unlike plain `dropDuplicates`,
    * whose key state grows forever) expired keys are evicted with the
    * watermark, so state is bounded by rate x horizon — the property that
    * makes streaming ingest dedup viable at 100 TB/day.
    */
  def dedupWithinWatermark(events: DataFrame, keyCol: String, watermark: String): DataFrame =
    events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keyCol)

  /** Session windows with an inactivity gap (built-in session_window). */
  def sessionCounts(events: DataFrame, gap: String, watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n"))

  case class KeyedValue(user_id: Long, last_ts: java.sql.Timestamp, last_id: Long, last_value: Double)

  /** Stateful last-value-per-key — the streaming successor of the hot
    * tier's upsert map (reference `hot.go:50-60`): state per user holds the
    * latest (ts, event_id, value); each micro-batch emits updated keys.
    * The event_id rides in the state so equal-timestamp ties resolve
    * exactly like the batch last-write-wins (q21).
    */
  def lastValueState(events: Dataset[Event]): Dataset[KeyedValue] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[KeyedValue, KeyedValue](GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[Event], state: GroupState[KeyedValue]) =>
          val prev = state.getOption
          val latest = (prev.map(p => Event(p.last_id, p.last_ts, uid, "", p.last_value, "")).iterator ++ rows)
            .maxBy(e => (e.ts.getTime, e.event_id))
          val next = KeyedValue(uid, latest.ts, latest.event_id, latest.value)
          state.update(next)
          next
      }
  }

  case class CdcOp(user_id: Long, ts: java.sql.Timestamp, event_id: Long, event_type: String, value: Double)

  /** Streaming CDC snapshot — the streaming twin of the batch changelog
    * compaction (q111): purchase = upsert, error = tombstone; state per
    * user is the latest op by (ts, event_id) — ONE row, however long the
    * user's history — and each micro-batch emits the user's new current
    * op. The final snapshot is the latest emitted op per user filtered to
    * upserts; parity with batch q111 is asserted in StreamingSpec across
    * state-store round trips.
    */
  def cdcSnapshotState(ops: Dataset[Event]): Dataset[CdcOp] = {
    val spark = ops.sparkSession
    import spark.implicits._
    ops
      .filter(e => e.event_type == "purchase" || e.event_type == "error")
      .groupByKey(_.user_id)
      .mapGroupsWithState[CdcOp, CdcOp](GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[Event], state: GroupState[CdcOp]) =>
          val candidates = state.getOption.iterator ++
            rows.map(e => CdcOp(uid, e.ts, e.event_id, e.event_type, e.value))
          val latest = candidates.maxBy(o => (o.ts.getTime, o.event_id))
          state.update(latest)
          latest
      }
  }

  case class Alert(user_id: Long, event_id: Long, ts: java.sql.Timestamp, value: Double, prev_max: Double)

  /** Threshold-crossing alerts via `flatMapGroupsWithState` — the
    * variable-fan-out stateful API (0..n output rows per key per batch,
    * where mapGroups emits exactly 1): state holds the per-user running
    * max; each event that exceeds BOTH the alert threshold and the user's
    * previous max emits an alert row carrying the max it beat. Batch rows
    * process in (ts, event_id) order so replays are deterministic.
    *
    * `prev_max` is 0.0 when no prior event existed — indistinguishable
    * from a true prior max of 0.0, so treat `prev_max` as informational
    * only for thresholds ≤ 0 (the alert decision itself is unaffected).
    */
  def thresholdAlerts(events: Dataset[Event], threshold: Double): Dataset[Alert] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Double, Alert](OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[Event], state: GroupState[Double]) =>
          var runningMax = state.getOption.getOrElse(Double.NegativeInfinity)
          val alerts = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).flatMap { e =>
            val prev = runningMax
            if (e.value > runningMax) runningMax = e.value
            if (e.value > threshold && e.value > prev)
              Some(Alert(uid, e.event_id, e.ts, e.value, if (prev.isNegInfinity) 0.0 else prev))
            else None
          }
          state.update(runningMax)
          alerts.iterator
      }
  }

  /** `transformWithState` processor (the arbitrary-state API that
    * supersedes mapGroupsWithState): per-user running count + running sum
    * kept in a typed ValueState, emitting the updated aggregate per batch.
    * Requires the RocksDB state store provider (bundled).
    */
  class RunningTotalsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, UserTotals] {
    @transient private var state: org.apache.spark.sql.streaming.ValueState[UserTotals] = _

    override def init(
        outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      state = getHandle.getValueState[UserTotals](
        "totals",
        org.apache.spark.sql.Encoders.product[UserTotals],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    override def handleInputRows(
        key: Long,
        rows: Iterator[Event],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[UserTotals] = {
      val prev = Option(state.get()).getOrElse(UserTotals(key, 0L, 0.0))
      val next = rows.foldLeft(prev)((acc, e) => UserTotals(key, acc.n + 1, acc.sum + e.value))
      state.update(next)
      Iterator.single(next)
    }
  }

  case class UserTotals(user_id: Long, n: Long, sum: Double)

  /** Wire the processor onto a stream (TimeMode.None: no timers needed). */
  def runningTotals(events: Dataset[Event]): Dataset[UserTotals] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(
        new RunningTotalsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  case class DailyCount(event_type: String, day: String, n: Long)
  case class CusumParams(mult: Long, sub: Long, thresh: Long)
  case class CusumState(prefix: Long, runmin: Long)
  case class CusumOut(event_type: String, day: String, n: Long, cusum: Long, drift: Boolean)

  /** Streaming CUSUM drift alerting — the streaming twin of batch q157
    * ([[graft.queries.Frontier.q157]]). The batch query derives its
    * baseline (μ, slack, threshold) from the full series; the monitor
    * takes those as trained parameters (the production shape: baselines
    * are fit offline, alerting is online) and maintains the SAME
    * closed-form state — (prefix sum, running min) per series, two longs
    * regardless of stream length — via `mapGroupsWithState`. Days inside
    * a micro-batch are folded in day order; state carries across
    * batches, so replaying the series in any batch split reproduces the
    * batch CUSUM exactly (asserted in StreamingSpec).
    */
  def cusumAlerts(
      counts: Dataset[DailyCount],
      params: Map[String, CusumParams]): Dataset[CusumOut] = {
    val spark = counts.sparkSession
    import spark.implicits._
    counts
      .groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[DailyCount], state: GroupState[CusumState]) =>
          val p = params.getOrElse(key, CusumParams(0L, 0L, Long.MaxValue))
          var st = state.getOption.getOrElse(CusumState(0L, Long.MaxValue))
          val out = rows.toSeq.sortBy(_.day).map { dc =>
            val prefix = st.prefix + (p.mult * dc.n - p.sub)
            val runmin = math.min(st.runmin, prefix)
            st = CusumState(prefix, runmin)
            val cusum = prefix - math.min(0L, runmin)
            CusumOut(key, dc.day, dc.n, cusum, cusum > p.thresh)
          }
          state.update(st)
          out.iterator
      }
  }

  case class SeriesPoint(event_type: String, t: Long, vu: Long)
  case class IncOut(event_type: String, t: Long, vu: Long, inc: Long, reset: Boolean)

  /** Streaming counter `increase()` — the online face of batch q163
    * ([[graft.queries.Frontier.q163]]): per-series state is ONE long (the
    * last counter sample), each arriving point emits its reset-aware
    * delta. The canonical stateful-lag op a TSDB scraper runs at ingest;
    * points inside a micro-batch fold in (t, vu) order and state carries
    * across batches, so any batch split replays the batch semantics
    * exactly (asserted in StreamingSpec).
    */
  def counterIncreases(points: Dataset[SeriesPoint]): Dataset[IncOut] = {
    val spark = points.sparkSession
    import spark.implicits._
    points
      .groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[SeriesPoint], state: GroupState[Long]) =>
          var prev: Option[Long] = state.getOption
          val out = rows.toSeq.sortBy(p => (p.t, p.vu)).map { p =>
            val (inc, reset) = prev match {
              case None => (0L, false)
              case Some(pv) if p.vu >= pv => (p.vu - pv, false)
              case Some(_) => (p.vu, true)
            }
            prev = Some(p.vu)
            IncOut(key, p.t, p.vu, inc, reset)
          }
          prev.foreach(state.update)
          out.iterator
      }
  }

  case class BandClaim(doc_id: Long, band: Int, bandval: String, first: Boolean)

  /** Streaming NEAR-dup dedup — the streaming twin of the batch LSH
    * candidate join (q26): each arriving document's 4 minhash band buckets
    * ([[graft.llm.Dedup.lshBands]], shared expression — banding can never
    * drift from batch) probe per-bucket "claimed" state; a doc that fails
    * to be first in at least one of its buckets is a near-duplicate of an
    * earlier doc. State is one boolean per OCCUPIED bucket — bounded by
    * distinct content, not stream length; production use adds a state TTL
    * (timeout/watermark) to the processor for an unbounded horizon, the
    * same knob `dropDuplicatesWithinWatermark` turns for exact dedup.
    *
    * Within a micro-batch, arrival order is doc_id order (deterministic
    * replay); the verdict reduction (`dup = any bucket not first`) runs on
    * the emitted claims — see StreamingSpec for the batch-fold parity law.
    */
  def lshBandClaims(docs: DataFrame): Dataset[BandClaim] = {
    val spark = docs.sparkSession
    import spark.implicits._
    graft.llm.Dedup
      .lshBands(docs, "doc_id", "text", 3)
      .as[(Long, Int, String)]
      .groupByKey { case (_, band, bandval) => (band, bandval) }
      .flatMapGroupsWithState[Boolean, BandClaim](OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (key: (Int, String), rows: Iterator[(Long, Int, String)], state: GroupState[Boolean]) =>
          val claimed = state.getOption.getOrElse(false)
          val sorted = rows.toSeq.sortBy(_._1)
          val out = sorted.zipWithIndex.map { case ((id, band, bv), i) =>
            BandClaim(id, band, bv, first = !claimed && i == 0)
          }
          state.update(true)
          out.iterator
      }
  }

  case class Anomaly(user_id: Long, event_id: Long, ts: java.sql.Timestamp, value: Double, z: Double, n: Long)

  /** Streaming twin of the batch q89 anomaly detector: per-user trailing
    * window of the last ≤19 values kept in a typed `ListState`-equivalent
    * ring (a ValueState holding the bounded window — O(window) state per
    * key, watermark-free because the window is row-bounded, not
    * time-bounded). Each incoming event is scored against the mean/variance
    * of the PRIOR window (current row excluded, ≥10 points of history,
    * |z| > 2), then pushed into the ring — identical semantics to the
    * batch `rowsBetween(-19, -1)` frame when events arrive in
    * (ts, event_id) order, which the processor enforces per batch.
    */
  class AnomalyProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, Anomaly] {
    @transient private var ring: org.apache.spark.sql.streaming.ValueState[Seq[Double]] = _

    override def init(
        outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      ring = getHandle.getValueState[Seq[Double]](
        "window",
        org.apache.spark.sql.Encoders.kryo[Seq[Double]],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    override def handleInputRows(
        key: Long,
        rows: Iterator[Event],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[Anomaly] = {
      var w = Option(ring.get()).getOrElse(Seq.empty[Double])
      val out = Seq.newBuilder[Anomaly]
      rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
        val n = w.length
        if (n >= 10) {
          val s = w.sum
          val s2 = w.map(v => v * v).sum
          val m = s / n
          val sd = math.sqrt(math.max((s2 - s * s / n) / (n - 1), 1e-12))
          val z = (e.value - m) / sd
          if (math.abs(z) > 2.0) out += Anomaly(key, e.event_id, e.ts, e.value, z, n.toLong)
        }
        w = (w :+ e.value).takeRight(19)
      }
      ring.update(w)
      out.result().iterator
    }
  }

  def anomalyStream(events: Dataset[Event]): Dataset[Anomaly] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(
        new AnomalyProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
  }

  /** Stream-stream interval join: errors pick up same-user purchases from
    * the trailing hour. Both sides carry watermarks so the join state is
    * bounded — Spark retires buffered purchase rows once the watermark
    * passes their upper time bound (mandatory for an unbounded 100 TB/day
    * stream).
    */
  def errorPurchaseJoin(events: DataFrame, watermark: String): DataFrame = {
    val errors = events
      .filter(col("event_type") === "error")
      .select(col("event_id").as("err_id"), col("user_id"), col("ts").as("err_ts"))
      .withWatermark("err_ts", watermark)
    val purchases = events
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_uid"), col("ts").as("p_ts"), col("value").as("p_value"))
      .withWatermark("p_ts", watermark)
    errors.join(
      purchases,
      errors("user_id") === purchases("p_uid") &&
        purchases("p_ts") > errors("err_ts") - expr("interval 1 hour") &&
        purchases("p_ts") <= errors("err_ts"),
      "inner")
  }

  /** Stream-static point-in-time enrichment — the online half of the
    * feature-store join (batch form: q130): every click in the STREAM is
    * enriched with the SCD2 feature value valid at its event time, via
    * interval containment against the batch-built dimension
    * ([[graft.queries.EventQueries.scd2FeatureDim]]). Stream-static joins
    * keep NO state on the stream side — the static relation is re-read
    * (and broadcast while small) per micro-batch, so this deploys with
    * zero state-store footprint and the same never-a-future-value law as
    * the batch query (parity-tested in StreamingSpec).
    */
  def pointInTimeEnrich(clicks: DataFrame, dim: DataFrame): DataFrame =
    clicks
      .join(
        dim,
        clicks("user_id") === dim("du") &&
          dim("valid_from") <= clicks("ts") &&
          (dim("valid_to").isNull || clicks("ts") < dim("valid_to")),
        "left")
      .select(clicks("event_id"), clicks("user_id"), clicks("ts"), dim("feature_value"))

  /** One interleaved tick: side 0 = quote (state update), side 1 = trade
    * (emit enriched). `tie` breaks equal-timestamp order (quote ids on the
    * quote side; ignored for trades).
    */
  case class Tick(series: Long, ts: Long, side: Int, tie: Long, id: Long, px: Double)
  case class LastQuote(ts: Long, tie: Long, qid: Long, px: Double)
  case class EnrichedTrade(series: Long, trade_id: Long, ts: Long, qid: Option[Long], px: Option[Double])

  /** Streaming as-of enrichment — the online face of the batch as-of join
    * ([[graft.operators.TimeSeriesOps.asOfJoin]] / the native
    * `AsOfJoinExec`, batch query q44): per series, state is ONE row — the
    * latest quote seen — via `transformWithState`; each arriving trade
    * emits itself enriched with that quote. This is the enrichment a
    * ticker plant runs at ingest: O(1) state per series regardless of
    * stream length, no buffering of trades.
    *
    * Order contract: within a micro-batch, ticks fold in
    * (ts, side, tie) order — quotes before trades at equal ts, higher tie
    * last — exactly the window order of the batch operator, so an
    * equal-ts quote is visible to the trade beside it and the highest tie
    * wins. Across batches, delivery must be chronological per series (the
    * same in-order contract as [[cusumAlerts]]/[[counterIncreases]]); a
    * stale quote arriving late is ignored by a monotone (ts, tie) guard
    * rather than corrupting state. Under that contract, any micro-batch
    * split of the interleaved tape replays the batch as-of join exactly
    * (asserted in StreamingSpec against the fixture events).
    */
  class AsOfEnrichProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Tick, EnrichedTrade] {
    @transient private var last: org.apache.spark.sql.streaming.ValueState[LastQuote] = _

    override def init(
        outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      last = getHandle.getValueState[LastQuote](
        "lastQuote",
        org.apache.spark.sql.Encoders.product[LastQuote],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    override def handleInputRows(
        key: Long,
        rows: Iterator[Tick],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[EnrichedTrade] = {
      var st = Option(last.get())
      val out = Seq.newBuilder[EnrichedTrade]
      rows.toSeq.sortBy(t => (t.ts, t.side, t.tie)).foreach { t =>
        if (t.side == 0) {
          if (st.forall(s => (s.ts < t.ts) || (s.ts == t.ts && s.tie <= t.tie)))
            st = Some(LastQuote(t.ts, t.tie, t.id, t.px))
        } else {
          out += EnrichedTrade(key, t.id, t.ts, st.map(_.qid), st.map(_.px))
        }
      }
      st.foreach(last.update)
      out.result().iterator
    }
  }

  def asOfEnrich(ticks: Dataset[Tick]): Dataset[EnrichedTrade] = {
    val spark = ticks.sparkSession
    import spark.implicits._
    ticks
      .groupByKey(_.series)
      .transformWithState(
        new AsOfEnrichProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
  }

  /** Streaming CHANGE-FEED READER — the consumer half of the snapshot
    * layer's CDC surface ([[graft.sources.Snapshots.diff]] is the batch
    * half; the streaming CDC *writer* lands commits, this tails them).
    * Completes the incremental-pipeline loop: table → feed → downstream
    * table, with no external driver deciding "which versions are new".
    *
    * The manifest directory IS an append-only log of small files
    * (`v0000000001.manifest`, …), so Spark's file stream source over it
    * discovers each commit exactly once (file tracking lives in the
    * checkpoint — a restart resumes at the first unseen commit). The
    * stream itself carries only commit METADATA (one text row per listed
    * data file); the row-level feed for each new version v is computed in
    * `foreachBatch` as `diff(v−1, v)` — two pinned snapshot scans whose
    * unchanged files resolve identically on both sides and cancel under
    * `exceptAll`'s multiset semantics, so a compaction/restore commit
    * (same rows, different files) emits NOTHING. v1 emits the full
    * initial snapshot tagged `added` (the feed from the empty table).
    *
    * Delivery: versions arrive in order, at-least-once (foreachBatch
    * replays an in-flight batch after a crash — the standard Structured
    * Streaming contract); the checkpoint guarantees no already-COMMITTED
    * batch replays. `emit` receives (version, feed) and should write
    * idempotently per version (e.g. dynamic partition overwrite on a
    * `commit_version=` column) — that composition is end-to-end
    * exactly-once.
    *
    * Scale: the source lists one small directory per trigger; each feed
    * costs two manifest-pinned scans + one hash-partitioned anti-diff —
    * file-level pruning applies because unchanged files resolve to the
    * SAME path on both sides. No state store at all.
    */
  def changeFeed(spark: SparkSession, root: String, checkpoint: String)(
      emit: (Long, DataFrame) => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.sources.Snapshots
    def versionOf(path: String): Long =
      path.split("/").last.stripPrefix("v").stripSuffix(".manifest").toLong
    spark.readStream
      .format("text")
      .option("pathGlobFilter", "v*.manifest")
      .load(s"$root/${Snapshots.ManifestDirName}")
      .select(col("_metadata.file_path").as("path"))
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        // dedup on the cluster: the text source yields one row per
        // manifest LINE (per data file) — a large table's commit must not
        // collect a million identical paths to the driver
        val versions =
          batch.dropDuplicates("path").collect().map(r => versionOf(r.getString(0))).sorted
        versions.foreach { v =>
          def fullImage() =
            Snapshots.readSnapshot(spark, root, v).withColumn("change", lit("added"))
          val feed =
            if (v == 1L) fullImage()
            else {
              // v-1 vacuumed (a fresh feed starting after history expiry,
              // or a feed that fell behind a vacuum): re-image from the
              // full snapshot — the standard CDC re-sync — instead of
              // wedging the stream permanently on a missing manifest.
              // Consumers must treat a re-image as a replace, not a delta;
              // vacuuming inside a live feed's horizon is a caller error
              // this downgrades from an outage to a re-sync.
              val prevReadable =
                scala.util.Try(Snapshots.files(spark, root, v - 1L)).isSuccess
              if (prevReadable) Snapshots.diff(spark, root, v - 1L, v) else fullImage()
            }
          emit(v, feed)
        }
      }
      .start()
  }

  /** Keep a materialized view CONTINUOUSLY fresh: a manifest-log stream
    * on the view's SOURCE table — and, for a JOIN view, on every DIM
    * table too (a dim-only commit re-maps groups just as surely as a
    * fact commit; the refresh's dim-delta path prices it at the changed
    * keys) — wakes a refresh whenever any commit lands. Exactly-once
    * needs no machinery here — [[graft.sources.Mv.refresh]] is
    * watermark-driven and idempotent, so a replayed or coalesced
    * trigger is a free no-op and a crash between triggers loses nothing
    * (the next wake catches up to the head in one refresh). The
    * always-fresh dashboard rollup at change prices: each wake costs the
    * affected groups' files, never the table.
    *
    * Checkpoint note: a JOIN view's stream has one source per table, so
    * a checkpoint taken before a view gained (or lost) dims — or by the
    * pre-dim-wake single-source version — refuses to restart (Spark
    * rejects a changed source count). Discarding the checkpoint is SAFE
    * here: exactly-once derives entirely from the refresh watermark, the
    * checkpoint only paces the wake-ups.
    */
  def mvRefreshStream(
      spark: SparkSession,
      mvRoot: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.sources.{Mv, Snapshots}
    val d = Mv.definition(spark, mvRoot)
    def manifestLog(root: String): Dataset[org.apache.spark.sql.Row] =
      spark.readStream
        .format("text")
        .option("pathGlobFilter", "v*.manifest")
        .load(s"$root/${Snapshots.ManifestDirName}")
    (d.sourceRoot +: d.dims.map(_.root))
      .map(manifestLog)
      .reduce(_ union _)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (_: Dataset[org.apache.spark.sql.Row], _: Long) =>
        Mv.refresh(spark, mvRoot)
        ()
      }
      .start()
  }

  /** Streaming MERGE-on-read upsert sink — the `foreachBatch` body that
    * prices a streaming CDC-apply like the batch MoR DML: each micro-
    * batch's matched table rows become deletion-vector positions and the
    * batch's rows land as appended files, ONE manifest commit per epoch
    * ([[graft.sources.DeleteVectors.upsert]]) — never a partition
    * rewrite. Exactly-once: the per-query epoch high-water marker skips
    * replayed epochs; the crash window between commit and marker falls
    * back to the upsert's logical idempotence (full replacement rows
    * keyed by `keyCols`). A non-empty `branch` replays the stream onto
    * that writable fork under the same rules (exactly-once per (branch,
    * tag)); the live table never moves until fast_forward adopts the
    * whole replay. Usage:
    *
    * {{{
    * df.writeStream
    *   .foreachBatch(Streaming.upsertMorSink(root, Seq("day", "event_type")))
    *   .start()
    * }}}
    */
  def upsertMorSink(
      root: String,
      keyCols: Seq[String],
      tag: String = "upsert",
      branch: String = ""): (Dataset[org.apache.spark.sql.Row], Long) => Unit =
    (batch, epochId) => {
      graft.sources.DeleteVectors.upsert(
        batch.sparkSession,
        root,
        batch.toDF(),
        keyCols,
        streamTag = tag,
        epochId = epochId,
        branch = branch)
      ()
    }

  /** The full streaming CDC-apply sink — [[upsertMorSink]] plus DELETES:
    * rows whose `opCol` value is in `deleteOps` remove their key (vectors
    * only, nothing appends); the rest upsert. One atomic commit per
    * epoch, same exactly-once marker discipline and `branch` target. A
    * Debezium-style (op, key, image) feed applies at merge-on-read prices.
    */
  def applyChangesMorSink(
      root: String,
      keyCols: Seq[String],
      opCol: String,
      deleteOps: Set[String] = Set("d", "delete"),
      tag: String = "cdc-apply",
      branch: String = ""): (Dataset[org.apache.spark.sql.Row], Long) => Unit =
    (batch, epochId) => {
      graft.sources.DeleteVectors.applyChanges(
        batch.sparkSession,
        root,
        batch.toDF(),
        keyCols,
        opCol,
        deleteOps,
        streamTag = tag,
        epochId = epochId,
        branch = branch)
      ()
    }

  /** Run a streaming query over `srcDir` into an in-memory sink until all
    * available data is processed (test/driver harness path).
    */
  def runToMemory(spark: SparkSession, df: DataFrame, name: String, mode: OutputMode): DataFrame = {
    val q = df.writeStream.outputMode(mode).format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()
    spark.table(name)
  }
}
