package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Det
import graft.functions.Vectors

/** Approximate & exact nearest-neighbor search over embedding columns.
  *
  * Brute force is the correctness baseline (and is already the right
  * answer when the query set is small: broadcast the queries, stream the
  * corpus — no shuffle of the corpus at all). The LSH variant is the scale
  * path for large query sets: both sides bucket by hyperplane signature,
  * the join key is the bucket, and only intra-bucket pairs are scored.
  */
object Similarity {

  /** Shared top-k tail for every search variant: rank by the *rounded*
    * similarity (stable under FP reassociation) with vec_id tie-break.
    * Expects columns (qid, vec_id, sim). One definition keeps the exact /
    * LSH / IVF variants' ranking semantics in lockstep — they are cross-
    * validated against each other in tests.
    */
  private def topK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("vec_id"))
    scored
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("qid"), col("vec_id"), col("sim"), col("rk"))
  }

  /** Exact top-k neighbors for each query vector. `queries` is expected to
    * be small (it is broadcast); the corpus is never shuffled — the join is
    * a broadcast nested loop, the per-partition top-k is a window with
    * rank-limit pushdown.
    */
  def cosineTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val c = corpus.select(col("vec_id"), col("embedding"))
    val scored = c
      .join(broadcast(q), col("vec_id") =!= col("qid"))
      .withColumn("sim", Det.r4(Vectors.cosine(col("qe"), col("embedding"))))
    topK(scored, k)
  }

  /** All near-duplicate pairs (cosine ≥ threshold) within coarse blocks.
    * `blockCol` is the inverted-file (IVF-style) cell id: here any coarse
    * assignment works — a clustering label, an LSH bucket
    * ([[graft.functions.Vectors.lshBucket]]), or a category column. Only
    * intra-block pairs are scored, so the shuffle is a hash partition on
    * the block id and cost is Σ|block|² instead of n².
    */
  def nearDupPairsBlocked(emb: DataFrame, blockCol: String, threshold: Double): DataFrame = {
    val a = emb.select(col(blockCol).as("blk"), col("vec_id").as("a_id"), col("embedding").as("ae"))
    val b = emb.select(col(blockCol).as("blk"), col("vec_id").as("b_id"), col("embedding").as("be"))
    a.join(b, Seq("blk"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("sim", Det.r4(Vectors.cosine(col("ae"), col("be"))))
      .filter(col("sim") >= threshold)
      .select(col("a_id"), col("b_id"), col("sim"))
  }

  /** Train IVF coarse-quantizer centroids with Lloyd iterations, entirely
    * in DataFrame ops: assignment is a broadcast-centroid cross join +
    * per-vector argmax; the centroid update is an element-wise mean via
    * posexplode → (cell, dim) average → array rebuild. Seeds are the first
    * k vectors (deterministic). Each iteration is two shuffles regardless
    * of corpus size — the standard distributed k-means shape.
    */
  def ivfTrain(emb: DataFrame, k: Int, iters: Int): DataFrame = {
    val spark = emb.sparkSession
    var centroids = emb
      .orderBy(col("vec_id"))
      .limit(k)
      .orderBy(col("vec_id"))
      .select(col("vec_id").as("cid"), col("embedding").cast("array<double>").as("centroid"))
      .withColumn("cid", expr("row_number() over (order by cid)") - 1)
    (1 to iters).foreach { _ =>
      // argmax carries the embedding through the aggregation (any_value is
      // exact under grouping by the key) — no join-back shuffle per round
      val assigned = emb
        .select(col("vec_id"), col("embedding"))
        .crossJoin(broadcast(centroids))
        // r6 snap before the argmax: both engines agree on the rounded
        // value, so assignment (and with it the whole training trajectory)
        // is oracle-reproducible; ties break deterministically on cid
        .withColumn("sim", Det.r6(Vectors.cosine(col("embedding"), col("centroid"))))
        .groupBy(col("vec_id"))
        .agg(
          max_by(col("cid"), struct(col("sim"), -col("cid"))).as("cell"),
          any_value(col("embedding")).as("embedding"))
      centroids = assigned
        .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("cell"), col("pos"))
        // r6 snap per element: the element-wise mean is the only place
        // cross-engine summation order differs; snapping each iteration's
        // output keeps the trajectories bit-aligned
        .agg(Det.r6(avg(col("v"))).as("m"))
        .groupBy(col("cell"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pairs"))
        .select(col("cell").as("cid"), expr("transform(pairs, p -> p.m)").as("centroid"))
        // localCheckpoint: truncates the training lineage so each Lloyd
        // round (and every downstream broadcast of the model) plans
        // against a LogicalRDD instead of re-optimizing the whole
        // trajectory — the k-rows model is loop temp state, executor-local
        // durability is the right class for it (see connectedComponents).
        .localCheckpoint()
    }
    centroids
  }

  /** Nearest-centroid (max cosine) cell per vector. Argmax via `max_by`
    * over (sim, -cid) — a hash aggregate with map-side partials — instead
    * of a row_number window, which would pay a full sort-per-key shuffle
    * for a single winner. Tie-break matches the window form: highest sim,
    * then smallest cid.
    */
  def assignCells(emb: DataFrame, centroids: DataFrame): DataFrame =
    emb
      .select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(centroids))
      .withColumn("sim", Det.r6(Vectors.cosine(col("embedding"), col("centroid"))))
      .groupBy(col("vec_id"))
      .agg(max_by(col("cid"), struct(col("sim"), -col("cid"))).as("cell"))

  /** The materialized IVF index: (cell, vec_id, embedding) — the rows a
    * maintained ANN table persists between searches. One broadcast-
    * centroid assignment pass over the corpus; nothing else.
    */
  def ivfIndex(corpus: DataFrame, centroids: DataFrame): DataFrame =
    assignCells(corpus, centroids)
      .join(corpus, Seq("vec_id"))
      .select(col("cell"), col("vec_id"), col("embedding"))

  /** INCREMENTAL index maintenance: encode ONLY the new slice against the
    * FROZEN centroids and union it in — appending a day's embeddings to a
    * billion-vector index costs one assignment pass over the slice, not a
    * retrain (`ivfTrain`) or a full-corpus re-encode. Because cell
    * assignment is per-vector against fixed centroids, append-then-search
    * is EXACTLY retrain-free search over the union (law-tested in
    * SimilaritySpec; oracle-proved by q193). Pair with [[ivfDriftReport]]
    * to know when accumulated appends have drifted far enough from the
    * frozen codebook that a real retrain is due.
    */
  def ivfAppend(index: DataFrame, slice: DataFrame, centroids: DataFrame): DataFrame =
    index.unionByName(ivfIndex(slice, centroids))

  /** Index-health report for incremental maintenance, per cell:
    * occupancy before/after (`n_old`/`n_new` — growth skew says which
    * cells are hot) and the drift metric — mean cosine of members to
    * their assigned centroid, old members vs appended members (`sim_old`,
    * `sim_new`, `drift` = old − new; a large positive drift means new
    * data lands far from the frozen centroids and a retrain is due).
    * Scale: two broadcast-centroid scoring passes + one #cells-sized agg;
    * the corpus never shuffles.
    */
  def ivfDriftReport(oldIndex: DataFrame, sliceIndex: DataFrame, centroids: DataFrame): DataFrame = {
    def meanSim(idx: DataFrame, nCol: String, simCol: String) = idx
      .join(broadcast(centroids.select(col("cid").as("cell"), col("centroid"))), Seq("cell"))
      .withColumn("sim", Det.r6(Vectors.cosine(col("embedding"), col("centroid"))))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as(nCol), Det.r6(avg(col("sim"))).as(simCol))
    meanSim(oldIndex, "n_old", "sim_old")
      .join(meanSim(sliceIndex, "n_new", "sim_new"), Seq("cell"), "full_outer")
      .select(
        col("cell").cast("long").as("cell"),
        coalesce(col("n_old"), lit(0L)).as("n_old"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        col("sim_old"),
        col("sim_new"),
        // drift is only evidence when BOTH sides exist: a cell with no
        // appended members has nothing to drift (coalescing the missing
        // side to 0 would make exactly the no-evidence cells read as the
        // strongest retrain signals)
        when(
          col("sim_old").isNotNull && col("sim_new").isNotNull,
          Det.r6(col("sim_old") - col("sim_new"))).as("drift"))
      .orderBy(col("cell"))
  }

  /** IVF search over a PREBUILT index ([[ivfIndex]] / [[ivfAppend]]):
    * probe the `nprobe` nearest cells per query, score only vectors in
    * probed cells.
    */
  def ivfTopKIndexed(queries: DataFrame, index: DataFrame, centroids: DataFrame, topK: Int, nprobe: Int): DataFrame = {
    val qScored = queries
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      .crossJoin(broadcast(centroids))
      .withColumn("sim", Det.r6(Vectors.cosine(col("qe"), col("centroid"))))
    val wq = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cid"))
    val probes = qScored
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= nprobe)
      .select(col("qid"), col("qe"), col("cid").as("cell"))
    val scored = index
      .join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("sim", Det.r4(Vectors.cosine(col("qe"), col("embedding"))))
    this.topK(scored, topK)
  }

  /** IVF search: probe the `nprobe` nearest cells per query, score only
    * vectors in probed cells. With nprobe = k this degenerates to exact
    * brute force; smaller nprobe trades recall for a 1/nprobe-ish scan.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, centroids: DataFrame, topK: Int, nprobe: Int): DataFrame =
    ivfTopKIndexed(queries, ivfIndex(corpus, centroids), centroids, topK, nprobe)

  /** Symmetric int8 quantization of a float embedding column: per-vector
    * scale = max |x| / 127, elements snapped with the portable
    * floor(x + 0.5) rule. Returns (scale, int64 array of values in
    * [-127, 127]). At 100 TB this is the standard 4× shrink of the
    * vector corpus — the shuffled/cached bytes drop 4×, and similarity
    * becomes INTEGER arithmetic (exact on every engine, so the only
    * float left is the final normalization).
    */
  def quantize(v: Column): (Column, Column) = {
    val maxAbs = aggregate(v, lit(0.0), (acc, x) => greatest(acc, abs(x.cast("double"))))
    val scale = greatest(maxAbs, lit(1e-30)) // zero-vector guard
    val q = transform(v, x => floor(x.cast("double") * 127.0 / scale + 0.5).cast("long"))
    (scale, q)
  }

  /** Exact-ranking top-k over int8-quantized vectors: same shape as
    * [[cosineTopK]] (broadcast queries, corpus never shuffled) but all
    * dot/norm accumulation is integer — bit-identical across engines —
    * and only the final cosine normalization is floating point (r4
    * snapped). Recall vs full-precision is tested in SimilaritySpec.
    */
  def quantizedCosineTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    def withQ(df: DataFrame, out: String): DataFrame =
      df.withColumn(out, quantize(col("embedding"))._2)
    val q = withQ(queries, "qv").select(col("vec_id").as("qid"), col("qv"))
    val c = withQ(corpus, "cv").select(col("vec_id"), col("cv"))
    def idot(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)
    val scored = c
      .join(broadcast(q), col("vec_id") =!= col("qid"))
      .withColumn(
        "sim",
        Det.r4(
          idot(col("qv"), col("cv")).cast("double") /
            (sqrt(idot(col("qv"), col("qv")).cast("double")) *
              sqrt(idot(col("cv"), col("cv")).cast("double")))))
    topK(scored, k)
  }

  /** Squared L2 distance — the native fused-loop expression
    * ([[graft.plans.L2SqExpr]]): sequential accumulation, bit-identical to
    * [[l2sqHof]] (parity property-tested), cross-engine reproducible
    * modulo the usual r6 snap.
    */
  def l2sq(a: Column, b: Column): Column =
    graft.plans.VectorExpressions.l2Sq(a, b)

  /** The HOF composition the native expression is verified against. */
  def l2sqHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), (acc, x) => acc + x)

  /** (vec_id, m, sv): the M subspace slices of each embedding, cast to
    * double before any arithmetic. One narrow projection — no shuffle.
    */
  def subvectors(emb: DataFrame, mCount: Int, subDim: Int): DataFrame =
    emb
      .select(
        col("vec_id"),
        explode(array((0 until mCount).map(mm =>
          struct(
            lit(mm).as("m"),
            slice(col("embedding"), mm * subDim + 1, subDim).cast("array<double>").as("sv"))): _*))
          .as("p"))
      .select(col("vec_id"), col("p.m").as("m"), col("p.sv").as("sv"))

  /** Train a product-quantization codebook: the embedding is split into
    * `mCount` subspaces of `subDim` dims; each subspace gets its own
    * k-means codebook (`k` codes, one Lloyd step from the first-k-vector
    * seeds — the q49/ivfTrain determinism recipe: r6-snap the assignment
    * distances AND the per-element re-centered means, so the DuckDB oracle
    * replays the identical trajectory). Returns (m, cid, cv).
    *
    * Scale shape: codebooks are (M·K) rows — broadcast-sized by
    * construction; training is two shuffles total (assign argmin is a
    * map-side-combined hash agg over the broadcast codebook; re-center is
    * one (m, code, pos) hash agg). The corpus is never shuffled.
    */
  def pqTrain(emb: DataFrame, mCount: Int, subDim: Int, k: Int): DataFrame = {
    val sv = subvectors(emb, mCount, subDim)
    val seedBase = emb
      .orderBy(col("vec_id"))
      .limit(k)
      .select(col("vec_id"), col("embedding"))
      .withColumn("cid", (expr("row_number() over (order by vec_id)") - 1).cast("long"))
    val seeds = subvectors(seedBase, mCount, subDim)
      .join(seedBase.select(col("vec_id"), col("cid")), Seq("vec_id"))
      .select(col("m"), col("cid"), col("sv").as("cv"))
    // one Lloyd step: argmin assignment (sv carried through the agg — no
    // join-back), then element-wise mean per (m, code)
    val a0 = sv
      .join(broadcast(seeds), Seq("m"))
      .withColumn("d2", Det.r6(l2sq(col("sv"), col("cv"))))
      .groupBy(col("vec_id"), col("m"))
      .agg(
        min_by(col("cid"), struct(col("d2"), col("cid"))).as("code"),
        any_value(col("sv")).as("sv"))
    a0.select(col("m"), col("code"), posexplode(col("sv")).as(Seq("pos", "x")))
      .groupBy(col("m"), col("code"), col("pos"))
      .agg(Det.r6(avg(col("x"))).as("v"))
      .groupBy(col("m"), col("code"))
      .agg(array_sort(collect_list(struct(col("pos"), col("v")))).as("pairs"))
      .select(col("m"), col("code").as("cid"), expr("transform(pairs, p -> p.v)").as("cv"))
  }

  /** PQ / ADC search: encode the corpus as M small codes per vector (the
    * 64× compression that makes billion-vector search feasible), build
    * each query's M×K distance table against the trained codebook, and
    * score candidates by asymmetric distance — Σ over subspaces of the
    * table entry the candidate's code selects.
    *
    * Scale shape: the corpus-side state is only (vec_id, m, code); the
    * query distance tables are broadcast; the ADC sum is a broadcast join
    * + map-side-combined hash agg — the corpus codes are never shuffled,
    * and the raw corpus vectors are read exactly once (to encode).
    */
  def pqTopK(queries: DataFrame, corpus: DataFrame, codebook: DataFrame, mCount: Int, subDim: Int, k: Int): DataFrame = {
    val csv = subvectors(corpus, mCount, subDim)
    val codes = csv
      .join(broadcast(codebook), Seq("m"))
      .withColumn("d2", Det.r6(l2sq(col("sv"), col("cv"))))
      .groupBy(col("vec_id"), col("m"))
      .agg(min_by(col("cid"), struct(col("d2"), col("cid"))).as("code"))
    val dtab = subvectors(queries, mCount, subDim)
      .select(col("vec_id").as("qid"), col("m"), col("sv"))
      .join(broadcast(codebook), Seq("m"))
      .select(col("qid"), col("m"), col("cid").as("code"), Det.r6(l2sq(col("sv"), col("cv"))).as("d2"))
    val scored = codes
      .join(broadcast(dtab), Seq("m", "code"))
      .filter(col("vec_id") =!= col("qid"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(Det.r6(sum(col("d2"))).as("ad"))
    val w = Window.partitionBy(col("qid")).orderBy(col("ad"), col("vec_id"))
    scored
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("qid"), col("vec_id"), col("ad"), col("rk"))
  }

  /** IVF-PQ combined search — the standard billion-scale ANN architecture
    * (FAISS IVFPQ): the coarse quantizer restricts each query to `nprobe`
    * cells, and PQ/ADC ranks only the candidates inside probed cells. The
    * corpus contributes (vec_id, cell) and (vec_id, m, code) — 8-byte
    * rows — to the search; raw vectors are read once each by training,
    * assignment, and encoding, and NEVER shuffle. Candidate generation is
    * a broadcast join on cell; ADC scoring a broadcast join on the query
    * distance tables. With `nprobe` = number of cells this is exactly
    * [[pqTopK]] (equivalence law-tested in SimilaritySpec).
    */
  def ivfPqTopK(
      queries: DataFrame,
      corpus: DataFrame,
      centroids: DataFrame,
      codebook: DataFrame,
      mCount: Int,
      subDim: Int,
      topK: Int,
      nprobe: Int): DataFrame = {
    val cells = assignCells(corpus, centroids)
    val qScored = queries
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      .crossJoin(broadcast(centroids))
      .withColumn("sim", Det.r6(Vectors.cosine(col("qe"), col("centroid"))))
    val wq = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cid"))
    val probes = qScored
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= nprobe)
      .select(col("qid"), col("cid").as("cell"))
    val cand = cells
      .join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"))
    val codes = subvectors(corpus, mCount, subDim)
      .join(broadcast(codebook), Seq("m"))
      .withColumn("d2", Det.r6(l2sq(col("sv"), col("cv"))))
      .groupBy(col("vec_id"), col("m"))
      .agg(min_by(col("cid"), struct(col("d2"), col("cid"))).as("code"))
    val dtab = subvectors(queries, mCount, subDim)
      .select(col("vec_id").as("qid"), col("m"), col("sv"))
      .join(broadcast(codebook), Seq("m"))
      .select(col("qid"), col("m"), col("cid").as("code"), Det.r6(l2sq(col("sv"), col("cv"))).as("d2"))
    val scored = codes
      .join(cand, Seq("vec_id"))
      .join(broadcast(dtab), Seq("qid", "m", "code"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(Det.r6(sum(col("d2"))).as("ad"))
    val w = Window.partitionBy(col("qid")).orderBy(col("ad"), col("vec_id"))
    scored
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= topK)
      .select(col("qid"), col("vec_id"), col("ad"), col("rk"))
  }

  /** ANN top-k via random-hyperplane LSH: corpus and queries bucketed by
    * signature; candidates are same-bucket pairs; rank within candidates.
    * Recall is tunable by `planes` (fewer planes → bigger buckets → higher
    * recall, more compute) and by `probes` (multi-probe: the query also
    * visits `probes - 1` buckets at Hamming distance 1 — near-misses on a
    * single hyperplane are the dominant failure mode, so probing 1-bit
    * flips recovers them at `probes`× the candidate volume, without
    * growing the corpus-side state at all).
    */
  /** A signature bucket plus its 1-bit-flip neighbors (multi-probe LSH):
    * near-misses of the hyperplane signature are the most likely
    * true-neighbor buckets. Shared by [[lshTopK]] and the graph search so
    * build-side and search-side probing can never silently diverge.
    */
  private[llm] def probeBuckets(bucket: Column, planes: Int, probes: Int): Column = {
    val nFlips = math.min(planes, math.max(0, probes - 1))
    array((bucket +: (0 until nFlips).map(b => bucket.bitwiseXOR(lit(1L << b)))): _*)
  }

  /** The id-hash cover bucket graph seeding unions with the LSH bucket,
    * at the LSH bucketing's granularity. Shared by the build, the append
    * and the append kernel.
    */
  private[llm] def coverBucket(id: Column, planes: Int): Column =
    pmod(hash(id), lit(1 << planes)).cast("long")

  // ---- navigable k-NN graph ANN (NSW / HNSW family, Spark-first) -------

  /** Build a bounded-degree k-NN GRAPH over the corpus — the navigable-
    * graph ANN family (HNSW/NSW), re-expressed for Spark's execution
    * model. HNSW's sequential insert is driver-bound by construction; the
    * distributed equivalent is NN-DESCENT (Dong et al., WWW'11): seed
    * each node's neighbor list from its LSH bucket (deterministic
    * hyperplanes — close vectors meet immediately), then iterate the
    * NN-descent observation "a neighbor of my neighbor is probably my
    * neighbor": per round, candidates are the current edges plus
    * neighbor-of-neighbor pairs over the UNDIRECTED edge set (reverse
    * edges carry the who-points-at-me candidates), scored and cut to the
    * best `degree` per node. Each round is a self-join + two vector
    * fetches + one window — a fixed number of shuffles regardless of
    * corpus size, candidate volume bounded by ~4·degree² per node.
    * Deterministic end to end (LSH seeding, r4-snapped sims, id
    * tie-breaks), so the recall of a search over it is a STABLE number.
    * Returns (node, nbr, sim) with ≤ degree rows per node; the caller
    * persists it across search batches.
    */
  /** Capped bucket self-join: the (node, nbr) seed pairs of one bucketing
    * with each bucket's NEIGHBOR side bounded at `cap` by deterministic
    * hash-rank (`row_number` over `hash(vec_id)`, vec_id tie-break — the
    * same rows on every run). Every node of a bucket of size b yields
    * min(b−1, ~cap) pairs, so a bucketing over n vectors seeds O(n·cap)
    * pairs NO MATTER how skewed the buckets are — the law SimilaritySpec
    * pins on an all-one-bucket corpus. Package-visible for that spec.
    */
  private[llm] def seedPairs(bk: DataFrame, cap: Int): DataFrame = {
    val w = Window.partitionBy(col("bucket")).orderBy(hash(col("vec_id")), col("vec_id"))
    val capped = bk
      .select(col("bucket"), col("vec_id"))
      .withColumn("srk", row_number().over(w))
      .filter(col("srk") <= cap)
      .select(col("bucket"), col("vec_id").as("nbr"))
    bk.select(col("bucket"), col("vec_id").as("node"))
      .join(capped, Seq("bucket"))
      .filter(col("node") =!= col("nbr"))
      .select(col("node"), col("nbr"))
  }

  def knnGraph(emb: DataFrame, degree: Int, rounds: Int, planes: Int, dims: Int): DataFrame = {
    val c = emb.select(col("vec_id"), col("embedding"))
    def score(pairs: DataFrame): DataFrame =
      pairs
        .join(c.select(col("vec_id").as("node"), col("embedding").as("ne")), Seq("node"))
        .join(c.select(col("vec_id").as("nbr"), col("embedding").as("be")), Seq("nbr"))
        .withColumn("sim", Det.r4(Vectors.cosine(col("ne"), col("be"))))
        .select(col("node"), col("nbr"), col("sim"))
    def keep(scored: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("node")).orderBy(col("sim").desc, col("nbr"))
      scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= degree).drop("rk")
    }
    // seed from TWO bucketings: the LSH signature (quality — close
    // vectors meet immediately) unioned with id-hash cover buckets of
    // the same granularity (coverage — a vector alone in its LSH bucket
    // would otherwise start edgeless, and NN-descent can only ever reach
    // nodes that have edges)
    val lshB = c.withColumn("bucket", Vectors.lshBucket(col("embedding"), planes, dims))
    val coverB = c.withColumn("bucket", coverBucket(col("vec_id"), planes))
    // per-bucket NBR-SIDE cap before the self-join: real embedding corpora
    // are clustered (that is WHY graph indexes work), so hot LSH buckets
    // are the expected case, and an uncapped bucket self-join is O(|b|²)
    // — a million-vector bucket would seed 10¹² pairs before the degree
    // cut ever ran. Capping only the neighbor side (deterministic
    // hash-rank, the Dedup df-cap discipline) keeps EVERY node seeded —
    // each gets edges to ≤ seedCap in-bucket representatives — while
    // bounding the bucket's pairs at |b|·cap: seeding is O(n·cap) total,
    // corpus-independent per node. cap = 4·degree gives the first degree
    // cut real candidates to choose from; NN-descent rounds then repair
    // any quality the cap cost. Buckets at or under the cap (the healthy
    // regime the `planes` sizing targets) are byte-identical to uncapped.
    def pairsOf(bk: DataFrame): DataFrame = seedPairs(bk, 4 * degree)
    // localCheckpoint per round (the Dedup.connectedComponents loop
    // discipline): an iterative plan that references the previous round
    // TWICE doubles in size per round, and analysis/codegen — not data —
    // becomes the cost; checkpointing keeps every round's plan constant
    var graph = keep(
      score(pairsOf(lshB).unionByName(pairsOf(coverB)).dropDuplicates("node", "nbr")))
      .localCheckpoint()
    (1 to rounds).foreach { _ =>
      val fwd = graph.select(col("node"), col("nbr"))
      val und = fwd.unionByName(graph.select(col("nbr").as("node"), col("node").as("nbr")))
      val cand = und
        .as("x")
        .join(und.as("y"), col("x.nbr") === col("y.node"))
        .select(col("x.node").as("node"), col("y.nbr").as("nbr"))
        .filter(col("node") =!= col("nbr"))
        .unionByName(fwd)
        .dropDuplicates("node", "nbr")
      graph = keep(score(cand)).localCheckpoint()
    }
    // deterministic orphan repair: a node BOTH bucketings left solitary
    // (possible at tiny n or pathological hashing) still must appear —
    // connect it to the corpus's smallest ids so the degree/coverage law
    // holds unconditionally. Expected-empty anti-join; costs nothing when
    // there are no orphans.
    val orphans = c
      .select(col("vec_id").as("node"))
      .join(graph.select(col("node")).distinct(), Seq("node"), "left_anti")
    val anchors = c.orderBy(col("vec_id")).limit(degree + 1).select(col("vec_id").as("nbr"))
    val repaired = keep(
      score(orphans.crossJoin(anchors).filter(col("node") =!= col("nbr"))))
    // checkpoint the RETURNED graph too: a search references it once per
    // hop, and an unmaterialized final union would re-run the orphan-repair
    // anti-join + scoring sub-DAG on EVERY reference (measured on q221:
    // ~17 repeated jobs per search step) — the same plan-growth discipline
    // as the per-round checkpoints, applied to the value handed out.
    // localCheckpoint durability note (ADVICE r18): blocks live on the
    // executors with no lineage — correct for local mode and for loop temp
    // state; a cluster deployment that must survive executor loss should
    // set a checkpoint dir and use reliable checkpoint()/persist+count for
    // the handed-out graph instead.
    graph.unionByName(repaired).localCheckpoint()
  }

  /** Incrementally extend a [[knnGraph]] with a freshly-ingested slice —
    * the `ivfAppend` story for the graph index: a day's embeddings join
    * the index WITHOUT rebuilding it. Work is bounded by the SLICE, never
    * the corpus:
    *
    *  1. SEED: new vectors meet their LSH bucket's members (old and new,
    *     per-bucket capped — the [[seedPairs]] discipline) plus id-hash
    *     cover buckets, so every new node starts with candidates even
    *     when its LSH bucket is otherwise empty; O(|slice|·cap) pairs.
    *  2. REFINE: NN-descent rounds restricted to the NEW-node frontier —
    *     candidates are each new node's neighbors' neighbors through the
    *     UNION graph (old edges + the new ones, undirected), so new nodes
    *     navigate INTO the old graph's neighborhoods; the old graph is
    *     read, never recomputed. ≤ ~4·degree² candidates per new node per
    *     round.
    *  3. BACK-LINK: an old node named by a new edge adopts the new node
    *     into its candidate list and re-cuts to `degree` (cosine is
    *     symmetric — the reversed edge carries the same sim), so searches
    *     entering through old nodes can REACH the slice; old nodes no new
    *     edge touches carry over verbatim.
    *
    * Same orphan repair and determinism guarantees as the build; returns
    * the extended (node, nbr, sim) graph covering corpus ∪ fresh.
    *
    * Two paths, one answer. While the union's vectors and the graph's
    * edges fit [[GraphKernels.maxIndexBytes]] (32 MiB; observed while
    * collecting them), the index is collected and broadcast once and the
    * seeds and each round are one job over the new vectors, back-links and
    * orphan repair run on the driver, and the result is a driver-built
    * frame: a fixed handful of jobs plus one per round. Above the ceiling
    * — the 100 TB case — each step is a join loop: seed self-joins, per
    * round a neighbor-of-neighbor self-join, two vector fetches and a
    * window, `localCheckpoint`ed, and anti-joins that leave the untouched
    * 99.99 % of the graph verbatim. SimilaritySpec pins that both paths
    * return the same edges.
    */
  def knnGraphAppend(
      graph: DataFrame,
      corpus: DataFrame,
      fresh: DataFrame,
      degree: Int,
      rounds: Int,
      planes: Int,
      dims: Int): DataFrame =
    GraphKernels
      .append(graph, corpus, fresh, degree, rounds, planes, dims)
      .getOrElse(knnGraphAppendJoin(graph, corpus, fresh, degree, rounds, planes, dims))

  /** [[knnGraphAppend]] as a join loop, `localCheckpoint` per round. */
  private def knnGraphAppendJoin(
      graph: DataFrame,
      corpus: DataFrame,
      fresh: DataFrame,
      degree: Int,
      rounds: Int,
      planes: Int,
      dims: Int): DataFrame = {
    val all = corpus
      .select(col("vec_id"), col("embedding"))
      .unionByName(fresh.select(col("vec_id"), col("embedding")))
    def score(pairs: DataFrame): DataFrame =
      pairs
        .join(all.select(col("vec_id").as("node"), col("embedding").as("ne")), Seq("node"))
        .join(all.select(col("vec_id").as("nbr"), col("embedding").as("be")), Seq("nbr"))
        .withColumn("sim", Det.r4(Vectors.cosine(col("ne"), col("be"))))
        .select(col("node"), col("nbr"), col("sim"))
    def keep(scored: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("node")).orderBy(col("sim").desc, col("nbr"))
      scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= degree).drop("rk")
    }
    val newIds = fresh.select(col("vec_id"))
    val lshAll = all.withColumn("bucket", Vectors.lshBucket(col("embedding"), planes, dims))
    val coverAll = all.withColumn("bucket", coverBucket(col("vec_id"), planes))
    def newSeeds(bk: DataFrame): DataFrame =
      seedPairs(bk, 4 * degree)
        .join(newIds.select(col("vec_id").as("node")), Seq("node"), "left_semi")
    var newEdges = keep(
      score(newSeeds(lshAll).unionByName(newSeeds(coverAll)).dropDuplicates("node", "nbr")))
      .localCheckpoint()
    (1 to rounds).foreach { _ =>
      val union = graph.unionByName(newEdges)
      val und = union
        .select(col("node"), col("nbr"))
        .unionByName(union.select(col("nbr").as("node"), col("node").as("nbr")))
      val fwd = newEdges.select(col("node"), col("nbr"))
      val cand = fwd
        .as("x")
        .join(und.as("y"), col("x.nbr") === col("y.node"))
        .select(col("x.node").as("node"), col("y.nbr").as("nbr"))
        // reverse candidates INTO new nodes (who points at me) — the
        // NN-descent observation needs both directions
        .unionByName(
          und.join(newIds.select(col("vec_id").as("node")), Seq("node"), "left_semi"))
        .unionByName(fwd)
        .filter(col("node") =!= col("nbr"))
        .dropDuplicates("node", "nbr")
      newEdges = keep(score(cand)).localCheckpoint()
    }
    // back-links: reverse each new→old edge (sim symmetric, carried) and
    // re-cut ONLY the old nodes those edges touch
    val incoming = newEdges
      .join(newIds.select(col("vec_id").as("nbr")), Seq("nbr"), "left_anti")
      .select(col("nbr").as("node"), col("node").as("nbr"), col("sim"))
    val touched = incoming.select(col("node")).distinct()
    val recut = keep(
      graph
        .join(touched, Seq("node"), "left_semi")
        .unionByName(incoming)
        .dropDuplicates("node", "nbr"))
    val untouched = graph.join(touched, Seq("node"), "left_anti")
    // orphan repair for new nodes both bucketings left solitary — the
    // build's unconditional-coverage law, now over the union corpus
    val orphans = newIds
      .select(col("vec_id").as("node"))
      .join(newEdges.select(col("node")).distinct(), Seq("node"), "left_anti")
    val anchors = all.orderBy(col("vec_id")).limit(degree + 1).select(col("vec_id").as("nbr"))
    val repaired = keep(
      score(orphans.crossJoin(anchors).filter(col("node") =!= col("nbr"))))
    // materialized hand-out, as in [[knnGraph]]: the appended graph is
    // searched hop by hop, and the untouched/recut/repaired union would
    // otherwise re-run its anti-joins and re-cut windows per hop
    untouched.unionByName(recut).unionByName(newEdges).unionByName(repaired).localCheckpoint()
  }

  /** Beam search over a [[knnGraph]]: per query, the entry set is the
    * query's own LSH bucket (the same deterministic seeding the build
    * used) plus the corpus-wide smallest `beam` ids (a fixed global entry
    * point, so an empty bucket can't strand a query); each of `steps`
    * hops expands the current per-query beam's graph neighbors, scores
    * only the NEWLY visited nodes against the query, and re-cuts the beam.
    * Returns every (qid, vec_id, sim) VISITED, distinct: `topK` of it is
    * the search result, its per-qid count the visited-work measure a
    * recall/latency evaluation reports. Fixed step count keeps the result
    * deterministic.
    *
    * Two paths, one answer. While the corpus vectors and the graph's
    * (node, nbr) edges fit [[GraphKernels.maxIndexBytes]] (32 MiB;
    * observed while collecting them), they are collected and broadcast
    * once and the whole walk runs per query in ONE stage over the query
    * panel: a fixed handful of jobs whatever `steps` is, and the result is
    * lazy. Above the ceiling — the 100 TB case — each hop is a join loop:
    * the queries broadcast, the corpus touched only to fetch candidate
    * vectors (hash join on vec_id, never scanned per hop), the beam re-cut
    * by a window and `localCheckpoint`ed. SimilaritySpec pins that both
    * paths return the same rows.
    */
  def graphSearchScored(
      graph: DataFrame,
      corpus: DataFrame,
      queries: DataFrame,
      beam: Int,
      steps: Int,
      planes: Int,
      dims: Int,
      probes: Int = 1): DataFrame =
    GraphKernels
      .search(graph, corpus, queries, beam, steps, planes, dims, probes)
      .getOrElse(graphSearchJoin(graph, corpus, queries, beam, steps, planes, dims, probes))

  /** [[graphSearchScored]] as a join loop, `localCheckpoint` per hop. */
  private def graphSearchJoin(
      graph: DataFrame,
      corpus: DataFrame,
      queries: DataFrame,
      beam: Int,
      steps: Int,
      planes: Int,
      dims: Int,
      probes: Int): DataFrame = {
    // multi-probe entries: the query's own LSH bucket plus its 1-bit-flip
    // neighbors ([[probeBuckets]] — shared with lshTopK); a richer entry
    // set is the cheapest recall lever a beam search has
    val qBase = queries
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      .withColumn("bucket0", Vectors.lshBucket(col("qe"), planes, dims))
    val q = qBase.select(
      col("qid"),
      col("qe"),
      explode(probeBuckets(col("bucket0"), planes, probes)).as("probe"))
    val c = corpus.select(col("vec_id"), col("embedding"))
    val cb = c.withColumn("bucket", Vectors.lshBucket(col("embedding"), planes, dims))
    // the query panel is broadcast-joined on EVERY hop: materialize the
    // (tiny) dedup once instead of re-scanning + re-deduping the corpus
    // slice inside each hop's broadcast build (steps+1 repetitions)
    val qVecs = q.select(col("qid"), col("qe")).dropDuplicates("qid").localCheckpoint()
    def scoreCand(cand: DataFrame): DataFrame =
      cand
        .join(c, Seq("vec_id"))
        .join(broadcast(qVecs), Seq("qid"))
        .withColumn("sim", Det.r4(Vectors.cosine(col("qe"), col("embedding"))))
        .select(col("qid"), col("vec_id"), col("sim"))
    def topBeam(scored: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("vec_id"))
      scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= beam).drop("rk")
    }
    val bucketEntries = cb
      .join(
        broadcast(q.select(col("qid"), col("probe").as("bucket")).dropDuplicates("qid", "bucket")),
        Seq("bucket"))
      .select(col("qid"), col("vec_id"))
    val globalEntries = broadcast(qVecs.select(col("qid")))
      .crossJoin(c.orderBy(col("vec_id")).limit(beam).select(col("vec_id")))
    // localCheckpoint per hop: `visited` appears twice per step (frontier
    // + anti-join), so an uncheckpointed loop doubles the plan per hop
    var visited = scoreCand(
      bucketEntries
        .unionByName(globalEntries)
        .filter(col("vec_id") =!= col("qid"))
        .dropDuplicates("qid", "vec_id")).localCheckpoint()
    (1 to steps).foreach { _ =>
      val frontier = topBeam(visited)
      val expand = frontier
        .select(col("qid"), col("vec_id").as("node"))
        .join(graph.select(col("node"), col("nbr")), Seq("node"))
        .select(col("qid"), col("nbr").as("vec_id"))
        .filter(col("vec_id") =!= col("qid"))
        .dropDuplicates("qid", "vec_id")
        .join(visited.select(col("qid"), col("vec_id")), Seq("qid", "vec_id"), "left_anti")
      visited = visited.unionByName(scoreCand(expand)).localCheckpoint()
    }
    visited
  }

  /** The (qid, vec_id, sim, rk) top-k of a [[graphSearchScored]] result —
    * the same ranking semantics every other search variant uses.
    */
  def rankTopK(scored: DataFrame, k: Int): DataFrame = topK(scored, k)

  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int, planes: Int, dims: Int, probes: Int = 1): DataFrame = {
    val qBase = queries
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      .withColumn("bucket0", Vectors.lshBucket(col("qe"), planes, dims))
    val nFlips = math.min(planes, math.max(0, probes - 1))
    val q = qBase
      .select(col("qid"), col("qe"), explode(probeBuckets(col("bucket0"), planes, probes)).as("bucket"))
    val c = corpus
      .select(col("vec_id"), col("embedding"))
      .withColumn("bucket", Vectors.lshBucket(col("embedding"), planes, dims))
    val joined = c
      .join(broadcast(q), Seq("bucket"))
      .filter(col("vec_id") =!= col("qid"))
    // multi-probe can reach the same candidate through several buckets;
    // single-probe cannot — skip the dedup shuffle there
    val candidates = if (nFlips > 0) joined.dropDuplicates("qid", "vec_id") else joined
    topK(candidates.withColumn("sim", Det.r4(Vectors.cosine(col("qe"), col("embedding")))), k)
  }
}
