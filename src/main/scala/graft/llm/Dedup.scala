package graft.llm

import scala.util.DynamicVariable

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.core.Collect
import graft.functions.Text

/** Deduplication operators for training-data pipelines.
  *
  * Scale design: every variant avoids the O(n²) cross join. Exact dedup is
  * a hash aggregate on a digest; near-dup variants first *block* (LSH
  * bands, simhash buckets, shared shingles) and only compare within
  * blocks — the candidate-join key is always the blocking key, so the only
  * shuffle is a hash partition on that key. Skewed blocks (stop-shingles)
  * are the classic hazard; `jaccardPairs` filters shingles by document
  * frequency before the self-join for exactly that reason.
  */
object Dedup {

  /** Exact dedup on a digest of `textCol`: one surviving row (min id) per
    * distinct text. Digest-first keeps the shuffle rows narrow — at 100 TB
    * you shuffle 16-byte digests, not document bodies.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_cnt"))

  /** Word-`n`-gram shingles per doc, exploded (with duplicates):
    * (id, shingle). No shuffle — pure per-row expansion.
    *
    * Staged through two projections on purpose: inlining
    * `shingles(tokens(text))` into the explode makes Catalyst re-evaluate
    * the tokenization once per element_at reference — measured 5x the CPU
    * of the whole query. The intermediate alias is multiply-referenced and
    * non-cheap, so CollapseProject keeps the stage boundary.
    */
  def explodedShinglesAll(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol), Text.tokens(col(textCol)).as("__toks"))
      .select(col(idCol), Text.shingles(col("__toks"), n).as("__shs"))
      .select(col(idCol), explode(col("__shs")).as("shingle"))

  /** Distinct word-`n`-gram shingle set per doc, exploded:
    * (id, shingle). The building block for jaccard; minhash skips the
    * distinct (min over a multiset equals min over its set).
    */
  def explodedShingles(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    explodedShinglesAll(df, idCol, textCol, n).distinct()

  /** Exact n-gram Jaccard similarity for all pairs sharing ≥1 shingle,
    * thresholded. The shared-shingle equi-join IS the blocking: pairs with
    * zero overlap never meet. `maxShingleDf` drops ubiquitous shingles
    * (document frequency cap) to kill join skew — at scale this bounds the
    * per-key fan-out; correctness caveat (slightly underestimates jaccard
    * for dropped shingles) is acceptable for dedup and disabled (0) for
    * oracle-checked runs.
    */
  /** @param containmentThreshold when ≤ 1.0, pairs also survive on
    *   containment alone — catching a short doc fully embedded in a long
    *   one, which symmetric jaccard under-scores below `threshold`.
    *   Default (>1) keeps pure-jaccard gating.
    * @param maxShingleDfFrac fractional alternative to `maxShingleDf`:
    *   drop shingles appearing in more than `ceil(frac · corpus_size)`
    *   documents. An absolute cap goes stale as the corpus grows (a cap
    *   that prunes boilerplate at 1 TB deletes genuine near-dup evidence
    *   at 100 TB); the fraction tracks corpus size with zero driver-side
    *   state — the cap travels as a one-row broadcast. Ignored when
    *   `maxShingleDf` is set.
    */
  def jaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double,
      maxShingleDf: Long = 0L,
      containmentThreshold: Double = 2.0,
      maxShingleDfFrac: Double = 0.0): DataFrame = {
    // Work on 60-bit shingle *hashes*, not the strings: the distinct, the
    // self-join and the pair aggregation all shuffle 8-byte longs instead
    // of ~25-byte UTF8 shingles — at 100 TB that's the difference between
    // shuffling the corpus's n-gram text and shuffling fixed-width keys.
    // Intersection-by-hash equals intersection-by-string absent 60-bit
    // collisions (P ≈ |shingles|²/2^61 — negligible; the sf0.01 oracle
    // hash-check would catch one).
    // The distinct hash set feeds four plan branches (sizes + both join
    // sides [+ df-filter]); persist it once instead of re-exploding the
    // corpus per branch. MEMORY_AND_DISK: spills, never OOMs.
    val sh = df
      .select(col(idCol), explode(Text.shingleHashes(col(textCol), n)).as("__h"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // df-cap via count-over-window on the hash, not a groupBy+join-back:
    // the window's single hash exchange on __h leaves the filtered stream
    // already partitioned on the self-join key, so the pair join reuses it
    // instead of re-aggregating and re-shuffling sh two more times.
    // (sh is distinct (id, h), so the window count IS document frequency.)
    val wH = org.apache.spark.sql.expressions.Window.partitionBy(col("__h"))
    // a df-capped stream is referenced TWICE (both self-join sides) —
    // persist it so the window+filter runs once, not per side (guide §5);
    // the uncapped case is `sh` itself, already persisted above
    val filtered =
      if (maxShingleDf > 0) {
        sh.withColumn("__df", count(lit(1)).over(wH))
          .filter(col("__df") <= maxShingleDf)
          .select(col(idCol), col("__h"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      } else if (maxShingleDfFrac > 0) {
        // corpus-relative cap: one-row aggregate broadcast into the df
        // filter — no collect, no literal that goes stale at scale
        val cap = df.agg(ceil(count(lit(1)) * lit(maxShingleDfFrac)).cast("long").as("__cap"))
        sh.crossJoin(broadcast(cap))
          .withColumn("__df", count(lit(1)).over(wH))
          .filter(col("__df") <= col("__cap"))
          .select(col(idCol), col("__h"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      } else sh
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("n_sh"))
    val a = filtered.select(col(idCol).as("a_id"), col("__h"))
    val b = filtered.select(col(idCol).as("b_id"), col("__h"))
    val inter = a
      .join(b, Seq("__h"))
      .filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id")
      .agg(count(lit(1)).as("inter"))
    // The doc-size side is one narrow row per document — small at test SF
    // but proportional to the corpus at 100 TB, so the broadcast-vs-SMJ
    // choice is data-dependent: leave it to AQE's runtime stats (enabled
    // session-wide) instead of forcing a hint either way.
    inter
      .join(sizes.select(col(idCol).as("a_id"), col("n_sh").as("na")), Seq("a_id"))
      .join(sizes.select(col(idCol).as("b_id"), col("n_sh").as("nb")), Seq("b_id"))
      .withColumn("jaccard", col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      // containment flags subset relationships (a near-complete doc inside a
      // longer one) that symmetric jaccard under-scores
      .withColumn("containment", col("inter").cast("double") / least(col("na"), col("nb")))
      .filter(col("jaccard") >= threshold || col("containment") >= containmentThreshold)
      .select(col("a_id"), col("b_id"), col("jaccard"), col("containment"))
  }

  /** Jaccard pair join via PREFIX FILTERING (All-Pairs / PPJoin family):
    * instead of blocking on EVERY shared shingle, each document exposes
    * only its prefix — the first |S| − ⌈t·|S|⌉ + 1 shingle hashes in a
    * global total order (the hash value). Completeness: J(A,B) ≥ t
    * implies |A∩B| ≥ ⌈t·|A|⌉ (because the union is at least |A|), and
    * two sets with overlap ≥ α must collide within their
    * (size − α + 1)-prefixes — so every qualifying pair survives, by
    * construction, while the candidate join touches ~(1−t) of the
    * shingle stream. At t = 0.8 that's a 5× smaller join input than
    * shared-shingle blocking — the knob [[jaccardPairs]] doesn't have;
    * candidates are then verified with the exact intersection count.
    * Output schema and semantics match [[jaccardPairs]] exactly (law:
    * equal results at equal threshold, tested in DedupSpec).
    */
  def jaccardPairsPrefix(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double): DataFrame = {
    val sh = df
      .select(col(idCol), explode(Text.shingleHashes(col(textCol), n)).as("__h"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // The global prefix order is ASCENDING DOCUMENT FREQUENCY (ties on
    // hash) — the detail that makes prefix filtering work: prefixes then
    // hold each document's RAREST shingles, so candidate collisions are
    // driven by df-1/df-2 shingles instead of boilerplate (hash order
    // alone left 568k candidates on the fixture; df order collapses
    // that). df rides one hash exchange on __h; rank + size ride one on
    // the doc id.
    val wH = org.apache.spark.sql.expressions.Window.partitionBy(col("__h"))
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
      .orderBy(col("__df"), col("__h"))
    val wSz = org.apache.spark.sql.expressions.Window.partitionBy(col(idCol))
    // rank + size ride ONE hash exchange on the doc id; the prefix gate
    // is |S| - ceil(t*|S|) + 1 elements of the df-ordered set
    // persisted: the self-join references the prefix TWICE (a/b aliases)
    // and would otherwise run the 3-window chain once per side — within-
    // query materialization of a multiply-referenced frame (guide §5)
    val prefix = sh
      .withColumn("__df", count(lit(1)).over(wH))
      .withColumn("__rn", row_number().over(wDoc))
      .withColumn("__sz", count(lit(1)).over(wSz))
      .filter(col("__rn") <= col("__sz") - ceil(col("__sz") * lit(threshold)) + 1)
      .select(col(idCol), col("__h"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cand = prefix
      .select(col(idCol).as("a_id"), col("__h"))
      .join(prefix.select(col(idCol).as("b_id"), col("__h")), Seq("__h"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
      .distinct()
    // verify candidates by set intersection on the per-doc sorted hash
    // arrays — each candidate pair costs one linear array intersect
    // instead of a |pair| × |shingles| row explosion (measured 4× on the
    // fixture: the explode form joined 30M rows for 568k candidates).
    // Per-doc state is bounded by document length; the two joins ship
    // fixed-width hash arrays, not the text.
    // persisted for the same reason: the verify step joins docSets on the
    // a-side AND the b-side — one grouped collect_list, not two
    val docSets = sh
      .groupBy(col(idCol))
      .agg(array_sort(collect_list(col("__h"))).as("__set"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    cand
      .join(docSets.select(col(idCol).as("a_id"), col("__set").as("__sa")), Seq("a_id"))
      .join(docSets.select(col(idCol).as("b_id"), col("__set").as("__sb")), Seq("b_id"))
      .withColumn("inter", size(array_intersect(col("__sa"), col("__sb"))).cast("long"))
      .withColumn("na", size(col("__sa")).cast("long"))
      .withColumn("nb", size(col("__sb")).cast("long"))
      .withColumn("jaccard", col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .withColumn("containment", col("inter").cast("double") / least(col("na"), col("nb")))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("jaccard"), col("containment"))
  }

  /** Dedup against a reference corpus: drop rows whose text digest already
    * appears in `corpus` (decontamination / already-trained-on filtering).
    * An anti join on 16-byte digests — the corpus side ships digests only,
    * so at 100 TB the join input is gigabytes, not the corpus.
    */
  def againstCorpus(df: DataFrame, textCol: String, corpus: DataFrame, corpusTextCol: String): DataFrame = {
    val seen = corpus.select(md5(col(corpusTextCol)).as("__h")).distinct()
    df.withColumn("__h", md5(col(textCol)))
      .join(seen, Seq("__h"), "left_anti")
      .drop("__h")
  }

  /** Bloom-filter decontamination: the FP-tolerant scale path for
    * [[againstCorpus]]. The anti join ships and shuffles every candidate
    * digest; when the "seen" corpus is huge but a small false-positive
    * rate is acceptable (over-dropping a few clean docs is harmless for
    * training data), a Bloom filter built over the corpus digests and
    * broadcast to every executor turns the whole operation into a
    * shuffle-free map-side filter: bits-per-corpus-row instead of a join.
    *
    * Guarantees (property-tested in DedupSpec): NO false negatives — every
    * contaminated row is dropped; false-positive rate bounded by `fpp` in
    * expectation. Membership runs in `mapPartitions` over the broadcast
    * filter — the structure is opaque bits, not expressible as a Catalyst
    * expression.
    */
  def againstCorpusBloom(
      df: DataFrame,
      textCol: String,
      corpus: DataFrame,
      corpusTextCol: String,
      expectedItems: Long,
      fpp: Double = 0.01): DataFrame = {
    val spark = df.sparkSession
    val bloom = corpus
      .select(md5(col(corpusTextCol)).as("__h"))
      .stat
      .bloomFilter("__h", expectedItems, fpp)
    val bc = spark.sparkContext.broadcast(bloom)
    val schema = df.schema
    val textIdx = schema.fieldIndex(textCol)
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    df.mapPartitions { rows =>
      val f = bc.value
      rows.filter { r =>
        val h = java.security.MessageDigest.getInstance("MD5")
          .digest(r.getString(textIdx).getBytes("UTF-8"))
        !f.mightContain(h.map("%02x".format(_)).mkString)
      }
    }(enc)
  }

  /** Bloom-gated EXACT decontamination: the broadcast Bloom filter is a
    * runtime pre-filter, not the decision — rows it clears pass outright
    * (no false negatives, so they are provably clean), and only the
    * `fpp`-sized sliver it flags goes through the exact digest anti-join.
    * Result is bit-identical to [[againstCorpus]], which is what makes
    * this registrable as an oracle-checked query; the scale win is that
    * the anti-join's probe side shrinks from the whole corpus to ~fpp of
    * it, so the shuffle all but disappears while exactness is preserved —
    * the semi-join-reduction pattern runtime filters automate.
    */
  def againstCorpusBloomExact(
      df: DataFrame,
      textCol: String,
      corpus: DataFrame,
      corpusTextCol: String,
      expectedItems: Long,
      fpp: Double = 0.01): DataFrame = {
    val spark = df.sparkSession
    val bloom = corpus
      .select(md5(col(corpusTextCol)).as("__h"))
      .stat
      .bloomFilter("__h", expectedItems, fpp)
    val bc = spark.sparkContext.broadcast(bloom)
    val schema = df.schema
    val textIdx = schema.fieldIndex(textCol)
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    def side(suspect: Boolean): DataFrame = df.mapPartitions { rows =>
      val f = bc.value
      rows.filter { r =>
        val h = java.security.MessageDigest
          .getInstance("MD5")
          .digest(r.getString(textIdx).getBytes("UTF-8"))
        f.mightContain(h.map("%02x".format(_)).mkString) == suspect
      }
    }(enc)
    val corpusDigests = corpus.select(md5(col(corpusTextCol)).as("__d")).distinct()
    val confirmedClean = side(suspect = true)
      .withColumn("__d", md5(col(textCol)))
      .join(corpusDigests, Seq("__d"), "left_anti")
      .drop("__d")
    side(suspect = false).unionByName(confirmedClean)
  }

  /** Incremental decontamination against a SNAPSHOT table — the daily
    * ingest op at 100 TB: dedup only the rows ADDED since `fromVersion`
    * against the historical corpus, never rescanning-and-rejoining history
    * row-by-row. The new slice is the FILE-level manifest delta
    * ([[graft.sources.Snapshots.readAddedSince]] — only the appended
    * files are scanned, zero shuffle, zero history I/O; a rewrite history
    * fails loudly there rather than silently miscounting), the historical
    * side is the pinned `fromVersion` read, and the check is the
    * Bloom-gated exact path ([[againstCorpusBloomExact]]): history is
    * distilled into a broadcast Bloom filter in ONE scan (bits per row),
    * cleared rows pass shuffle-free, and only the ~fpp sliver of suspects
    * pays the exact digest anti-join. The Bloom's `expectedItems` sizing
    * comes from the MANIFEST's recorded row counts when present
    * ([[graft.sources.Snapshots.countRows]]) — zero jobs — falling back
    * to a count. Result is bit-identical to the full `againstCorpus`
    * anti-join (DedupSpec law), which is what makes it oracle-checkable.
    */
  def incrementalAgainstSnapshot(
      spark: org.apache.spark.sql.SparkSession,
      root: String,
      fromVersion: Long,
      textCol: String,
      fpp: Double = 0.01): DataFrame = {
    val hist = graft.sources.Snapshots.readSnapshot(spark, root, fromVersion)
    val added = graft.sources.Snapshots.readAddedSince(spark, root, fromVersion)
    val expected =
      try graft.sources.Snapshots.countRows(spark, root, fromVersion)
      catch { case _: Exception => hist.count() } // no manifest row counts: one scan
    againstCorpusBloomExact(added, textCol, hist, textCol, math.max(expected, 1L), fpp)
  }

  /** Deterministic stratified sample: keep ~`fraction` of rows per stratum,
    * chosen by a hash of the id — reproducible across runs and engines
    * (unlike `sampleBy`'s RNG), and exact for a fixed dataset. The standard
    * trick for down-sampling over-represented sources in a training mix.
    */
  def stratifiedSampleByHash(df: DataFrame, idCol: String, strataCol: String, fractions: Map[String, Double]): DataFrame = {
    val frac = fractions.foldLeft(lit(1.0)) { case (acc, (k, f)) =>
      when(col(strataCol) === k, lit(f)).otherwise(acc)
    }
    // uniform in [0,1): low 30 bits of the portable hash
    val u = (Text.hash60(col(idCol).cast("string")) % lit(1073741824L)).cast("double") / 1073741824.0
    df.filter(u < frac)
  }

  /** 16-component minhash signature per doc (columns m0..m15).
    *
    * No distinct before the aggregation: min over the shingle multiset
    * equals min over its set, so the only shuffle is the 16-column partial
    * aggregate on doc_id (map-side combined — shuffle rows = one per
    * (partition, doc), not one per shingle).
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    // Entirely per-row: NO shuffle at all (the original explode + 16-column
    // groupBy paid a corpus-wide aggregation for what is row-local
    // arithmetic), and since round 3 one FUSED native pass
    // ([[graft.plans.MinhashSigExpr]]): token walk → window md5 → all 16
    // running minima inline, no intermediate hash array, no per-component
    // rescan. NULL signature = fewer than n tokens; the filter preserves
    // the dropped-short-docs semantics of the exploded form. Streaming-safe
    // as a bonus: no aggregation means stateful operators can legally
    // follow it in a streaming plan.
    val sig = graft.plans.MinhashSigExpr.minhashSig(col(textCol), n)
    df.select(col(idCol), sig.as("__sig"))
      .filter(col("__sig").isNotNull)
      .select(col(idCol) +: (0 until 16).map(j => element_at(col("__sig"), j + 1).as(s"m$j")): _*)
  }

  /** The pre-fusion composition — kept as the reference implementation
    * [[graft.plans.MinhashSigExpr]] is property-tested against.
    */
  def minhashSignaturesComposed(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val hs = Text.shingleHashes(col(textCol), n)
    val mins = (0 until 16).map(j => array_min(transform(col("__hs"), h => Text.minhashTerm(h, j))).as(s"m$j"))
    df.select(col(idCol), hs.as("__hs"))
      .filter(size(col("__hs")) > 0)
      .select(col(idCol) +: mins: _*)
  }

  /** LSH candidate pairs: signatures banded 4x4; docs sharing any band
    * collide. Shuffle key = (band index, band value) — uniform unless the
    * corpus is degenerate. Output is candidates only (verification against
    * true jaccard is the caller's second stage, see `jaccardPairs`).
    */
  /** (id, band, bandval) rows: 4 banded 4-row minhash signatures per doc —
    * the LSH bucket keys. Shared by the batch candidate-pair join and the
    * streaming first-seen dedup, so the two can never disagree on banding.
    */
  def lshBands(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    bandsOfSignatures(minhashSignatures(df, idCol, textCol, n), idCol)

  /** Band rows from an existing m0..m15 signature frame — callers that
    * already hold (or persist) the signatures band them without paying a
    * second shingle+minhash pass over the corpus.
    */
  def bandsOfSignatures(sig: DataFrame, idCol: String): DataFrame = {
    // One pass over the signatures: explode a 4-element band array instead
    // of unioning 4 re-aggregations of the corpus.
    val bandArr = array((0 until 4).map { b =>
      val cols = (4 * b until 4 * b + 4).map(j => col(s"m$j").cast("string"))
      struct(lit(b).as("band"), concat_ws(":", cols: _*).as("bandval"))
    }: _*)
    sig
      .select(col(idCol), explode(bandArr).as("bv"))
      .select(col(idCol), col("bv.band").as("band"), col("bv.bandval").as("bandval"))
  }

  def lshCandidatePairs(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    // Not persisted: both join sides are the same plan, so Spark reuses
    // one exchange for them (or broadcasts one side when it is small),
    // and a persist here would leave a cache entry no caller releases.
    val bands = lshBands(df, idCol, textCol, n)
    val l = bands.select(col(idCol).as("a_id"), col("band"), col("bandval"))
    val r = bands.select(col(idCol).as("b_id"), col("band"), col("bandval"))
    l.join(r, Seq("band", "bandval"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id")
      .distinct()
  }

  /** Byte ceiling of the driver paths of [[connectedComponents]] and
    * [[lshDedupClusters]]: 16 bytes per collected row, an edge, a
    * candidate pair or an `(id, shingle hash)`, one budget shared by every
    * collect of a call. It is observed while collecting (at most the rows
    * the remaining budget could hold, plus one, are read), so an input
    * above it never reaches the driver whole and runs the Spark loop. A
    * constant; specs force the loop with `withValue(0L)`.
    */
  private[llm] val maxDriverBytes = new DynamicVariable[Long](32L << 20)
  private val RowBytes = 16L

  /** A two-long-column frame's rows when they fit `budget` and hold no
    * null; None sends the caller to its Spark loop.
    */
  private def longPairs(pairs: DataFrame, budget: Long): Option[Array[(Long, Long)]] =
    if (!pairs.schema.forall(_.dataType == LongType)) None
    else
      Collect
        .atMost(pairs, budget / RowBytes)
        .filterNot(_.exists(_.anyNull))
        .map(_.map(r => (r.getLong(0), r.getLong(1))))

  private def sortedDistinct(xs: Array[Long]): Array[Long] = {
    val s = xs.clone()
    java.util.Arrays.sort(s)
    var k = 0
    s.indices.foreach { i => if (i == 0 || s(i) != s(k - 1)) { s(k) = s(i); k += 1 } }
    java.util.Arrays.copyOf(s, k)
  }

  /** Connected components of `edges` by union-find, as the `(id, label)`
    * frame the Spark loop returns: every endpoint labeled with the
    * smallest id in its component, which is the loop's fixpoint.
    */
  private def componentFrame(spark: SparkSession, edges: Array[(Long, Long)], idNullable: Boolean): DataFrame = {
    val ids = sortedDistinct(edges.flatMap { case (a, b) => Array(a, b) })
    // positions ascend with ids, so linking the larger root under the
    // smaller keeps every root its component's smallest id
    val parent = Array.range(0, ids.length)
    def find(i: Int): Int = {
      var x = i
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(java.util.Arrays.binarySearch(ids, a)), find(java.util.Arrays.binarySearch(ids, b)))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val schema = StructType(Seq(StructField("id", LongType, idNullable), StructField("label", LongType)))
    spark.createDataFrame(java.util.Arrays.asList(ids.indices.map(i => Row(ids(i), ids(find(i)))): _*), schema)
  }

  /** Connected components over an undirected edge list: every node's
    * label is the smallest node id reachable from it, as `(id, label)`
    * rows (a node with no edge has no row). This is the missing last mile
    * of pairwise dedup — near-dup PAIRS don't dedupe a corpus, CLUSTERS do
    * (pick one canonical doc per component, drop the rest).
    *
    * Two paths with one answer. While the edges are long pairs without a
    * null and fit [[maxDriverBytes]], they are collected once and labeled
    * by union-find on the driver: the returned frame is local, built with
    * no further job and no `localCheckpoint`. Above the ceiling (or for a
    * null or non-long endpoint) iterative min-label propagation runs in
    * Spark: one shuffle on node id per round, rounds = graph diameter, one
    * scalar shipped to the driver per round.
    *
    * The fixpoint is iteration-order independent, so the result is
    * deterministic and oracle-checkable (DuckDB computes the same closure
    * with a recursive CTE); DedupSpec's parity law pins both paths to the
    * same rows.
    */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val pairs = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    longPairs(pairs, maxDriverBytes.value) match {
      case Some(es) => componentFrame(edges.sparkSession, es, pairs.schema.exists(_.nullable))
      case None => componentsLoop(pairs)
    }
  }

  /** [[connectedComponents]] above the ceiling: min-label propagation over
    * `(src, dst)` rows to the fixpoint. Labels persist across iterations
    * with the same materialize-then-unpersist discipline as ivfTrain.
    */
  private def componentsLoop(pairs: DataFrame): DataFrame = {
    // localCheckpoint (not persist): an iterative loop's real cost at
    // small-to-mid scale is DRIVER-SIDE RE-PLANNING — persist caches
    // execution but every subsequent action still re-optimizes the full
    // upstream logical plan (blocking join, jaccard gate, …) per round.
    // Checkpointing truncates the lineage to a LogicalRDD, making each
    // round's plan constant-size. (Measured on q123: 42 jobs summing 3.7s
    // of execution inside a 16s pass — the rest was Catalyst replanning.)
    // Trade-off: truncation means the blocks are NOT recomputable — an
    // executor lost while holding a localCheckpoint block fails the job
    // (persist could rebuild from lineage). On a cluster with executor
    // churn / dynamic allocation, use reliable checkpointing
    // (sc.setCheckpointDir + .checkpoint()) for the same constant-size
    // plans with HDFS-durable blocks; the replanning win is identical.
    val fwd = pairs.localCheckpoint()
    // Size the loop's parallelism to the MATERIALIZED edge count: the
    // near-dup edge list is orders smaller than the corpus it came from,
    // and a fixed session-wide shuffle width would make every round pay
    // full scheduling latency on near-empty partitions. ~1M edges per
    // partition, capped at the session width; pre-partitioning by src and
    // keeping every loop frame hash-partitioned the same way makes each
    // round's join co-partitioned (shuffle only on the aggregate).
    val edgeRows = fwd.count() * 2
    val sessionWidth = pairs.sparkSession.sessionState.conf.numShufflePartitions
    val parts = math.max(1L, math.min(sessionWidth.toLong, edgeRows / 1000000L + 1L)).toInt
    val undirected = fwd
      .unionByName(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(parts, col("src"))
      .localCheckpoint()
    // Seed with the one-hop fixpoint candidate min(self, neighbors) — the
    // first propagation round for free (und carries both directions, so
    // every node appears as src).
    var labels = undirected
      .groupBy(col("src").as("id"))
      .agg(min(least(col("src"), col("dst"))).as("label"))
      .repartition(parts, col("id"))
      .localCheckpoint()
    // Convergence statistic: labels only ever decrease (min-propagation),
    // so Σ label is strictly decreasing until the fixpoint — one scalar
    // aggregate on the checkpointed frame per round, no per-round join
    // against the previous labels. The sum of no labels is null, so an
    // empty edge list converges after one round to empty labels.
    def labelSum(l: DataFrame): Any = l.agg(sum(col("label"))).head.get(0)
    var prevSum = labelSum(labels)
    var converged = false
    while (!converged) {
      // localCheckpoint keeps every round's plan the SAME constant size:
      // join of two LogicalRDDs — no per-round lineage growth, no
      // per-round replanning of the whole upstream.
      val next = undirected
        .join(labels, col("src") === col("id"))
        .select(col("dst").as("id"), col("label"))
        .unionByName(labels)
        .repartition(parts, col("id"))
        .groupBy(col("id"))
        .agg(min(col("label")).as("label"))
        .localCheckpoint()
      val nextSum = labelSum(next)
      converged = nextSum == prevSum
      prevSum = nextSum
      labels = next
    }
    labels
  }

  /** Every doc of `df` labeled with its component in `comp` (the
    * smallest doc id in it; singletons label themselves) and a canonical
    * flag — the shared tail of [[dedupClusters]] and [[lshDedupClusters]].
    */
  private def clusterLabels(df: DataFrame, idCol: String, comp: DataFrame): DataFrame =
    df.select(col(idCol))
      .join(comp.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .withColumn("cluster_id", coalesce(col("label"), col(idCol)))
      .withColumn("is_canonical", (col("cluster_id") === col(idCol)).cast("long"))
      .select(col(idCol), col("cluster_id"), col("is_canonical"))

  /** End-to-end near-dup clustering: jaccard pairs at `threshold` → edge
    * list → components → every doc labeled with its cluster id (the
    * smallest doc id in its component; singletons label themselves) and a
    * canonical flag. Downstream dedup = `filter(is_canonical)`. The
    * components come from [[connectedComponents]]: union-find on the
    * driver while the pair list fits its ceiling, the Spark loop above it.
    */
  def dedupClusters(df: DataFrame, idCol: String, textCol: String, n: Int, threshold: Double): DataFrame = {
    val edges = jaccardPairs(df, idCol, textCol, n, threshold).select("a_id", "b_id")
    clusterLabels(df, idCol, connectedComponents(edges, "a_id", "b_id"))
  }

  /** Scale-path near-dup clustering: LSH candidate pairs (banded minhash)
    * gated by EXACT jaccard computed on the candidates only, then
    * connected components. [[dedupClusters]]' blocking is the
    * shared-shingle self-join — correct but proportional to Σ df(shingle)²;
    * here the candidate set is the banded one (constant 128-byte signature
    * per doc, band buckets as the join key), the jaccard gate touches only
    * docs that appear in some candidate pair, and recall is the standard
    * LSH S-curve (subset-of-exact law in DedupSpec). This is the
    * MinHash-LSH dedup recipe (Broder; GPT-3/Gopher corpus dedup).
    *
    * Two paths with one answer. While the candidate pairs and then the
    * candidate docs' `(id, shingle hash)` rows fit [[maxDriverBytes]]
    * together (and the id is a long), the pairs are collected once, the
    * hashes in one query over `df`, and the gate and union-find run on the
    * driver: a fixed number of Spark jobs whatever the clusters'
    * diameter, and no `localCheckpoint`. Above the ceiling the gate is
    * Spark joins over the checkpointed candidates and the components come
    * from [[connectedComponents]]. Both read hashes through
    * `Text.shingleHashes` and keep a pair when both sides have a shingle,
    * they share one, and `inter / (na + nb - inter) >= threshold` over
    * each id's distinct hash set (a repeated id pools its rows' sets);
    * DedupSpec's parity law pins both paths to the same rows. Neither
    * path leaves a cache entry behind.
    */
  def lshDedupClusters(df: DataFrame, idCol: String, textCol: String, n: Int, threshold: Double): DataFrame = {
    val cand = lshCandidatePairs(df, idCol, textCol, n)
    val budget = maxDriverBytes.value
    val onDriver = for {
      pairs <- longPairs(cand, budget)
      sets <- shingleSets(df, idCol, textCol, n, pairs, budget - RowBytes * pairs.length)
    } yield componentFrame(df.sparkSession, exactGate(pairs, sets, threshold), df.schema(idCol).nullable)
    val comp = onDriver.getOrElse(connectedComponents(gateLoop(df, idCol, textCol, n, threshold, cand), "a_id", "b_id"))
    clusterLabels(df, idCol, comp)
  }

  /** The sorted distinct shingle hashes of every doc named in `pairs`,
    * read by ONE query over `df` (a repeated id pools its rows; a doc
    * without a shingle has no entry), or None when its `(id, hash)` rows
    * do not fit `budget`.
    */
  private def shingleSets(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      pairs: Array[(Long, Long)],
      budget: Long): Option[Map[Long, Array[Long]]] =
    if (pairs.isEmpty) Some(Map.empty)
    else {
      // the candidate ids ride a broadcast variable, not a broadcast
      // join: shipping them costs no Spark job
      val ids = df.sparkSession.sparkContext.broadcast(sortedDistinct(pairs.flatMap { case (a, b) => Array(a, b) }))
      val candidate = udf((id: Long) => java.util.Arrays.binarySearch(ids.value, id) >= 0)
      val hashes = df
        .filter(candidate(col(idCol)))
        .select(col(idCol), explode(array_distinct(Text.shingleHashes(col(textCol), n))).as("__h"))
      try
        Collect
          .atMost(hashes, budget / RowBytes)
          .filterNot(_.exists(_.anyNull))
          .map(_.groupMap(_.getLong(0))(_.getLong(1)).map { case (id, hs) => id -> sortedDistinct(hs) })
      finally ids.destroy()
    }

  /** The pairs the Spark gate keeps: both sides have a shingle, they share
    * one, and the jaccard — the same double division — reaches
    * `threshold`.
    */
  private def exactGate(
      pairs: Array[(Long, Long)],
      sets: Map[Long, Array[Long]],
      threshold: Double): Array[(Long, Long)] =
    pairs.filter { case (a, b) =>
      (sets.get(a), sets.get(b)) match {
        case (Some(sa), Some(sb)) =>
          // both sorted and distinct: one merge pass counts the overlap
          var i = 0
          var j = 0
          var inter = 0L
          while (i < sa.length && j < sb.length) {
            if (sa(i) < sb(j)) i += 1
            else if (sa(i) > sb(j)) j += 1
            else { inter += 1; i += 1; j += 1 }
          }
          inter > 0 && inter.toDouble / (sa.length.toLong + sb.length - inter) >= threshold
        case _ => false
      }
    }

  /** [[lshDedupClusters]]' exact-jaccard gate as Spark joins: the edges
    * among `cand` that pass it.
    */
  private def gateLoop(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double,
      cand0: DataFrame): DataFrame = {
    // localCheckpoint, not persist: the candidate pairs feed three
    // downstream consumers (candIds broadcast, two gate joins) and sit on
    // top of the banded self-join plan — checkpointing makes every later
    // action plan against a LogicalRDD instead of re-optimizing that tree
    // (see componentsLoop for the measured planning-cost rationale).
    val cand = cand0.localCheckpoint()
    // The exact-jaccard gate only ever reads shingles of docs that appear
    // in some candidate pair — semi-join BEFORE exploding, so the shingle
    // shuffle is Σ|candidate docs| not Σ|corpus| (at 100 TB the candidate
    // set is a sliver of the corpus; the full-corpus work stays inside the
    // constant-width signature pass above).
    val candIds = cand
      .select(col("a_id").as(idCol))
      .unionByName(cand.select(col("b_id").as(idCol)))
      .distinct()
    // broadcast: candIds is bare 8-byte ids (a sliver of the corpus), and
    // a shuffled semi-join here would move full TEXT BODIES across the
    // exchange — the one thing this operator exists to avoid. If the
    // candidate set ever outgrows a broadcast, swap for a bloom filter on
    // doc_id (same plan shape, approximate pre-filter + exact semi join).
    val sh = df
      .join(broadcast(candIds), Seq(idCol), "left_semi")
      .select(col(idCol), explode(Text.shingleHashes(col(textCol), n)).as("__h"))
      .distinct()
      .localCheckpoint()
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("n_sh"))
    val inter = cand
      .join(sh.select(col(idCol).as("a_id"), col("__h")), Seq("a_id"))
      .join(sh.select(col(idCol).as("b_id"), col("__h")), Seq("b_id", "__h"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col(idCol).as("a_id"), col("n_sh").as("na")), Seq("a_id"))
      .join(sizes.select(col(idCol).as("b_id"), col("n_sh").as("nb")), Seq("b_id"))
      .filter(col("inter").cast("double") / (col("na") + col("nb") - col("inter")) >= threshold)
      .select("a_id", "b_id")
  }

  /** 16-bit simhash per doc over token occurrences. Near-dup = small
    * Hamming distance; bucketing on the simhash value (or bit-chunks of a
    * wider hash) gives the scale path.
    */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = df.select(col(idCol), explode(Text.tokens(col(textCol))).as("tok"))
      .withColumn("h", Text.hash60(col("tok")))
    val votes = (0 until 16).map(j => sum(Text.simhashVote(col("h"), j)).as(s"s$j"))
    val folded = (0 until 16)
      .map(j => when(col(s"s$j") > 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)
    tok.groupBy(col(idCol)).agg(votes.head, votes.tail: _*).select(col(idCol), folded.as("simhash"))
  }
}
