package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.Text

/** Round-6 additions: format-interchange proof, embedding-quantization
  * audit, k-anonymity governance report, and a distributed power-iteration
  * principal component. Same registry contract as [[Frontier]].
  */
object Frontier2 {

  type Q = (SparkSession, String) => DataFrame

  // -- q180: ORC round-trip fidelity proof ------------------------------

  /** Columnar-interchange law, hash-proved: the full `events` table is
    * written to ORC (zstd, [[graft.sources.Sources.writeOrc]]), read
    * back, and summarized per event type — counts, micro-unit value sums,
    * epoch-microsecond timestamp extrema, exact-distinct users, and a
    * 60-bit content hash over the `props` JSON strings (mod a prime so
    * the sum stays in int64). The ORACLE computes the identical summary
    * straight from the parquet fixture, so a hash match proves the ORC
    * round trip preserved every long/timestamp/string/double bit that
    * feeds the report. At 100 TB this is the format-migration smoke test:
    * the same one-pass aggregate runs on either side of a
    * parquet→ORC conversion and must agree.
    */
  def q180(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    // keyed by data dir AND the Spark app id: concurrent runs over the same
    // fixture (Verify + Bench on one box) must not race on delete-then-
    // rewrite, and distinct data dirs must not collide via hashCode
    val root = new org.apache.hadoop.fs.Path(
      System.getProperty("java.io.tmpdir"),
      s"graft_q180_${java.lang.Integer.toHexString(d.hashCode)}_${s.sparkContext.applicationId}")
    graft.core.Scratch.register(root.toString) // reaped at JVM exit, not leaked
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(root)) fs.delete(root, true)
    graft.sources.Sources.writeOrc(ev, root.toString)
    graft.sources.Sources
      .readOrc(s, root.toString)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        sum(floor(col("value") * lit(1000000.0) + lit(0.5)).cast("long")).as("sum_vu"),
        min(unix_micros(col("ts"))).as("min_ts_us"),
        max(unix_micros(col("ts"))).as("max_ts_us"),
        sum(Text.hash60(col("props")) % lit(1000000007L)).as("props_h"),
        sum(col("event_id")).as("sum_ids"))
      .orderBy(col("event_type"))
  }

  val q180Sql: String =
    s"""SELECT event_type, count(*) AS n,
       |  count(DISTINCT user_id) AS n_users,
       |  CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS sum_vu,
       |  min(epoch_us(ts)) AS min_ts_us,
       |  max(epoch_us(ts)) AS max_ts_us,
       |  CAST(sum(${Text.sqlHash60("props")} % 1000000007) AS BIGINT) AS props_h,
       |  CAST(sum(event_id) AS BIGINT) AS sum_ids
       |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // -- q181: int8 quantization distortion audit -------------------------

  /** Is int8 ANN safe for this corpus? Every embedding is quantized the
    * q79 way (per-vector max-abs scale, floor-snap to [-127, 127]) and
    * scored against its own full-precision self: cosine(x, q) — the
    * per-vector scale cancels, so this IS the reconstruction cosine. The
    * full-precision side is micro-unit snapped first, making every dot
    * and norm an exact int64 sum (max |term| ≈ 5.3e5·127·64 ≈ 4.3e9);
    * only the final ratio is float, snapped to cos·1e6. Per label:
    * vector count, summed / min / mean cosine in micro-units — the
    * decision report for "ship int8 or keep fp32" per data slice.
    * 100 TB shape: one narrow map over vectors (no join, no shuffle
    * beyond the 10-group agg), same as any per-row scoring pass.
    */
  def q181(s: SparkSession, d: String): DataFrame = {
    val xd = "transform(embedding, x -> CAST(x AS DOUBLE))"
    val scale = s"greatest(aggregate($xd, CAST(0.0 AS DOUBLE), (m, x) -> greatest(m, abs(x))), 1e-30)"
    val qv = s"transform($xd, x -> CAST(floor(x / $scale * 127.0 + 0.5) AS BIGINT))"
    val xu = s"transform($xd, x -> CAST(floor(x * 1000000.0 + 0.5) AS BIGINT))"
    Tables
      .embeddings(s, d)
      .select(
        col("label").cast("long").as("label"),
        expr(s"aggregate(zip_with($xu, $qv, (a, b) -> a * b), 0L, (acc, t) -> acc + t)").as("dotp"),
        expr(s"aggregate($xu, 0L, (acc, x) -> acc + x * x)").as("xn"),
        expr(s"aggregate($qv, 0L, (acc, x) -> acc + x * x)").as("qn"))
      .select(
        col("label"),
        floor(
          col("dotp").cast("double") /
            greatest(sqrt(col("xn").cast("double")) * sqrt(col("qn").cast("double")), lit(1e-30)) *
            lit(1000000.0) + lit(0.5)).cast("long").as("cos6"))
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n_vecs"),
        sum(col("cos6")).as("sum_cos6"),
        min(col("cos6")).as("min_cos6"))
      .withColumn(
        "mean_cos6",
        floor(col("sum_cos6").cast("double") / col("n_vecs").cast("double") + lit(0.5)).cast("long"))
      .orderBy(col("label"))
  }

  val q181Sql: String =
    """WITH per AS (
      |  SELECT vec_id, CAST(label AS BIGINT) AS label,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xd
      |  FROM embeddings),
      |qz AS (
      |  SELECT vec_id, label,
      |    list_transform(xd, x -> CAST(floor(x * 1000000.0 + 0.5) AS BIGINT)) AS xu,
      |    list_transform(xd, x -> CAST(floor(
      |      x / greatest(list_max(list_transform(xd, y -> abs(y))), 1e-30) * 127.0 + 0.5)
      |      AS BIGINT)) AS qv
      |  FROM per),
      |acc AS (
      |  SELECT vec_id, label,
      |    CAST(sum(xu[i] * qv[i]) AS BIGINT) AS dotp,
      |    CAST(sum(xu[i] * xu[i]) AS BIGINT) AS xn,
      |    CAST(sum(qv[i] * qv[i]) AS BIGINT) AS qn
      |  FROM qz, LATERAL (SELECT unnest(range(1, 65)) AS i) t
      |  GROUP BY vec_id, label),
      |snapped AS (
      |  SELECT label,
      |    CAST(floor(CAST(dotp AS DOUBLE)
      |      / greatest(sqrt(CAST(xn AS DOUBLE)) * sqrt(CAST(qn AS DOUBLE)), 1e-30)
      |      * 1000000.0 + 0.5) AS BIGINT) AS cos6
      |  FROM acc)
      |SELECT label, count(*) AS n_vecs,
      |  CAST(sum(cos6) AS BIGINT) AS sum_cos6,
      |  min(cos6) AS min_cos6,
      |  CAST(floor(CAST(sum(cos6) AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS mean_cos6
      |FROM snapped GROUP BY label ORDER BY label""".stripMargin

  // -- q182: k-anonymity audit ------------------------------------------

  /** Re-identification risk report over the user behavioral profile — the
    * governance gate that belongs next to the q83 PII scrub: each user is
    * reduced to a quasi-identifier triple (dominant event type with
    * count-desc/name-asc tie-break, event-count decade band, micro-value
    * spend band), users are grouped into equivalence classes, and for
    * each k in {2, 5, 10, 25} the report counts the classes and users
    * whose class is smaller than k — the population that a k-anonymous
    * release at that threshold would have to suppress or generalize.
    * Everything is exact integer arithmetic over two hash-partitioned
    * aggregations (user → profile, profile → class size); at 100 TB both
    * shuffles key on user/profile and the report is 4 rows.
    */
  def q182(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val perType = ev
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
    val dominant = perType
      .withColumn(
        "rk",
        row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("user_id"))
            .orderBy(col("cnt").desc, col("event_type"))))
      .filter(col("rk") === 1)
      .select(col("user_id"), col("event_type").as("fav"))
    val profile = ev
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(floor(col("value") * lit(1000000.0) + lit(0.5)).cast("long")).as("sum_vu"))
      .join(dominant, Seq("user_id"))
      .select(
        col("user_id"),
        col("fav"),
        least(floor(col("n_events") / lit(10)).cast("long"), lit(9L)).as("n_band"),
        least(floor(col("sum_vu") / lit(5000000000L)).cast("long"), lit(9L)).as("v_band"))
    val classes = profile
      .groupBy(col("fav"), col("n_band"), col("v_band"))
      .agg(count(lit(1)).as("class_size"))
    val ks = s.range(0, 4).select(
      element_at(array(lit(2L), lit(5L), lit(10L), lit(25L)), col("id").cast("int") + 1).as("k"))
    classes
      .crossJoin(broadcast(ks))
      .groupBy(col("k"))
      .agg(
        count(lit(1)).as("n_classes"),
        sum(when(col("class_size") < col("k"), lit(1L)).otherwise(lit(0L))).as("classes_below"),
        sum(when(col("class_size") < col("k"), col("class_size")).otherwise(lit(0L))).as("users_below"))
      .orderBy(col("k"))
  }

  val q182Sql: String =
    """WITH pt AS (
      |  SELECT user_id, event_type, count(*) AS cnt
      |  FROM events GROUP BY user_id, event_type),
      |dom AS (
      |  SELECT user_id, event_type AS fav FROM (
      |    SELECT user_id, event_type,
      |      row_number() OVER (PARTITION BY user_id ORDER BY cnt DESC, event_type) AS rk
      |    FROM pt) WHERE rk = 1),
      |prof AS (
      |  SELECT e.user_id, d.fav,
      |    least(CAST(floor(count(*) / 10.0) AS BIGINT), 9) AS n_band,
      |    least(CAST(floor(sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) / 5000000000.0) AS BIGINT), 9) AS v_band
      |  FROM events e JOIN dom d ON d.user_id = e.user_id
      |  GROUP BY e.user_id, d.fav),
      |cls AS (
      |  SELECT fav, n_band, v_band, count(*) AS class_size
      |  FROM prof GROUP BY fav, n_band, v_band)
      |SELECT k, count(*) AS n_classes,
      |  CAST(sum(CASE WHEN class_size < k THEN 1 ELSE 0 END) AS BIGINT) AS classes_below,
      |  CAST(sum(CASE WHEN class_size < k THEN class_size ELSE 0 END) AS BIGINT) AS users_below
      |FROM cls, (SELECT unnest([2, 5, 10, 25]) AS k) kt
      |GROUP BY k ORDER BY k""".stripMargin

  // -- q183: top principal component by power iteration -----------------

  /** Distributed PCA's first step — the top principal direction of the
    * embedding corpus by three unrolled power iterations, every
    * accumulation in exact integer arithmetic so both engines converge
    * bit-identically: vectors are micro-unit snapped (xu ≤ 5.3e5), the
    * direction lives in micro-units (v6 ≤ 1e6), per-vector projections
    * `Σ xu·v6` stay below 3.5e13 and are floor-scaled to milli-units
    * before the back-projection `Σ xu·dot_m` (≤ 1.2e13 summed), whose
    * per-coordinate totals are floor-scaled again before the one float
    * step per iteration (norm + renormalize, IEEE-identical on both
    * engines). Uncentered PCA (the corpus is near-centered); v₀ is the
    * exact uniform direction 1/8 = 0.125.
    *
    * 100 TB shape: each iteration broadcasts the 64-long direction, runs
    * two hash aggregations (vec_id, then pos) over the posexploded
    * corpus — hash-partitioned by vec_id ONCE and then never re-shuffled
    * (the back-projection joins the per-vector aggregate SHUFFLE_HASH on
    * the reused partitioning; that side grows with the corpus, so
    * broadcasting it would not survive a billion vectors) — and syncs 64
    * longs to the driver for the normalize step, exactly the
    * model-parameter sync every distributed ML training loop performs
    * per step. No lineage growth: each iteration restarts from a literal
    * direction.
    */
  def q183(s: SparkSession, d: String): DataFrame = {
    // the exploded corpus is consumed twice per iteration (projection +
    // back-projection) across three iterations — persist it once instead
    // of re-exploding six times (Bench/Verify clearCache() releases it)
    val xu = Tables
      .embeddings(s, d)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(
        col("vec_id"),
        col("pos"),
        floor(col("x").cast("double") * lit(1000000.0) + lit(0.5)).cast("long").as("xu"))
      // hash-partitioned by vec_id ONCE: the projection agg and the
      // back-projection join both reuse this partitioning, so after this
      // single shuffle the corpus never crosses the wire again
      .repartition(col("vec_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    import s.implicits._
    var v: Seq[(Int, Long)] = (0 until 64).map(i => (i, 125000L))
    for (_ <- 1 to 3) {
      val dots = xu
        .join(broadcast(v.toDF("pos", "v6")), Seq("pos"))
        .groupBy(col("vec_id"))
        .agg(floor(sum(col("xu") * col("v6")).cast("double") / lit(1e9)).cast("long").as("dot_m"))
      val w = xu
        // SHUFFLE_HASH: both sides already hash-partitioned on vec_id, so
        // the hash join runs exchange-free AND sort-free (SMJ would add a
        // per-iteration sort of the corpus; broadcast would not survive a
        // billion-vector dots side)
        .join(dots.hint("shuffle_hash"), Seq("vec_id"))
        .groupBy(col("pos"))
        .agg(floor(sum(col("xu") * col("dot_m")).cast("double") / lit(1e6)).cast("long").as("w3"))
        .collect()
        .map(r => (r.getAs[Int]("pos"), r.getAs[Long]("w3")))
      // the direction is a 64-long model parameter: normalize on the
      // driver (identical IEEE double ops to the SQL twin) instead of a
      // two-stage agg + crossJoin per iteration — fewer serialized stages
      // AND the next iteration starts from a literal (no lineage growth)
      val nrm = math.max(math.sqrt(w.map { case (_, x) => x.toDouble * x.toDouble }.sum), 1e-30)
      v = w.map { case (p, x) => (p, math.floor(x.toDouble / nrm * 1000000.0 + 0.5).toLong) }
    }
    v.toDF("pos", "loading_u")
      .select(col("pos").cast("long").as("pos"), col("loading_u"))
      .orderBy(col("pos"))
  }

  val q183Sql: String = {
    def iter(n: Int, prev: String): String =
      s"""d$n AS (
         |  SELECT vec_id,
         |    CAST(floor(CAST(sum(xu.xu * $prev.v6) AS DOUBLE) / 1e9) AS BIGINT) AS dot_m
         |  FROM xu JOIN $prev USING (i) GROUP BY vec_id),
         |w$n AS (
         |  SELECT i,
         |    CAST(floor(CAST(sum(xu.xu * d$n.dot_m) AS DOUBLE) / 1e6) AS BIGINT) AS w3
         |  FROM xu JOIN d$n USING (vec_id) GROUP BY i),
         |n$n AS (SELECT greatest(sqrt(CAST(sum(w3 * w3) AS DOUBLE)), 1e-30) AS nrm FROM w$n),
         |v$n AS (
         |  SELECT i, CAST(floor(CAST(w3 AS DOUBLE) / nrm * 1000000.0 + 0.5) AS BIGINT) AS v6
         |  FROM w$n, n$n)""".stripMargin
    s"""WITH xu AS (
       |  SELECT vec_id, i,
       |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS xu
       |  FROM embeddings, LATERAL (SELECT unnest(range(1, 65)) AS i) t),
       |v0 AS (SELECT unnest(range(1, 65)) AS i, CAST(125000 AS BIGINT) AS v6),
       |${iter(1, "v0")},
       |${iter(2, "v1")},
       |${iter(3, "v2")}
       |SELECT CAST(i - 1 AS BIGINT) AS pos, v6 AS loading_u FROM v3 ORDER BY pos""".stripMargin
  }

  // -- q186: top-3 principal components by power iteration + deflation --

  /** Extends q183 to a top-k PCA (k = 3) by HOTELLING DEFLATION: after
    * component c's direction v is estimated, every vector is replaced by
    * its residual x − (x·v)v and the next component is power-iterated on
    * the deflated corpus. Same exact-integer discipline as q183 (micro-
    * unit vectors and directions, milli-unit projections, floor-scaled
    * back-projections, one IEEE float normalize per iteration), so both
    * engines walk bit-identical states; the deflation subtraction
    * `xu − ⌊dot_m·v6/10³⌋` is itself exact integer arithmetic.
    *
    * 100 TB shape: identical to q183 per component — broadcast the 64-row
    * direction, two keyed hash aggs per iteration; deflation adds one
    * vec_id-keyed join per component. Loop state is only the 64-row
    * direction; each deflated corpus is persisted and feeds the next
    * component's 3 iterations (6 consumptions), then the law
    * Frontier2Spec proves pairwise near-orthogonality of the results.
    */
  def q186(s: SparkSession, d: String): DataFrame = {
    def explodeMicro(df: DataFrame): DataFrame = df
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(
        col("vec_id"),
        col("pos"),
        floor(col("x").cast("double") * lit(1000000.0) + lit(0.5)).cast("long").as("xu"))
    import s.implicits._
    def powerIterate(xu: DataFrame): Seq[(Int, Long)] = {
      var v: Seq[(Int, Long)] = (0 until 64).map(i => (i, 125000L))
      for (_ <- 1 to 3) {
        val dots = xu
          .join(broadcast(v.toDF("pos", "v6")), Seq("pos"))
          .groupBy(col("vec_id"))
          .agg(floor(sum(col("xu") * col("v6")).cast("double") / lit(1e9)).cast("long").as("dot_m"))
        val w = xu
          .join(dots.hint("shuffle_hash"), Seq("vec_id")) // exchange- and sort-free (q183 comment)
          .groupBy(col("pos"))
          .agg(floor(sum(col("xu") * col("dot_m")).cast("double") / lit(1e6)).cast("long").as("w3"))
          .collect()
          .map(r => (r.getAs[Int]("pos"), r.getAs[Long]("w3")))
        // driver-side normalize of the 64-long direction (q183 comment):
        // identical IEEE ops to the SQL twin, fewer serialized stages, and
        // each iteration restarts from a literal (no plan growth)
        val nrm = math.max(math.sqrt(w.map { case (_, x) => x.toDouble * x.toDouble }.sum), 1e-30)
        v = w.map { case (p, x) => (p, math.floor(x.toDouble / nrm * 1000000.0 + 0.5).toLong) }
      }
      v
    }
    def deflate(xu: DataFrame, v: DataFrame): DataFrame = {
      val dots = xu
        .join(broadcast(v), Seq("pos"))
        .groupBy(col("vec_id"))
        .agg(floor(sum(col("xu") * col("v6")).cast("double") / lit(1e9)).cast("long").as("dot_m"))
      xu
        .join(dots.hint("shuffle_hash"), Seq("vec_id")) // exchange- and sort-free (q183 comment)
        .join(broadcast(v), Seq("pos"))
        .select(
          col("vec_id"),
          col("pos"),
          (col("xu") - floor((col("dot_m") * col("v6")).cast("double") / lit(1e3)).cast("long"))
            .as("xu"))
    }
    // Each direction is a 64-row MODEL PARAMETER already materialized on
    // the driver by powerIterate (lineage restart is what keeps the plan
    // tree linear — without it component 3's tree transitively re-inlines
    // everything; measured: analyzer OOM).
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // one corpus shuffle total (q183 comment): vec_id partitioning is
    // reused by every iteration and PRESERVED through deflation
    val caches = scala.collection.mutable.ListBuffer.empty[DataFrame]
    var xu = explodeMicro(Tables.embeddings(s, d)).repartition(col("vec_id")).persist(lvl)
    caches += xu
    var out = List.empty[Seq[(Long, Long, Long)]]
    for (c <- 1 to 3) {
      val v = powerIterate(xu)
      out ::= v.map { case (p, l) => (c.toLong, p.toLong, l) }
      if (c < 3) {
        xu = deflate(xu, v.toDF("pos", "v6")).persist(lvl)
        caches += xu
      }
    }
    // every loading is already collected driver state — the result frame
    // references NONE of the persisted corpora, so release all three now
    // (CacheManager entries outlive the query otherwise: ContextCleaner
    // only reclaims checkpoint blocks, the q172/q187/q188 discipline)
    val res = out.reverse.flatten
      .toDF("component", "pos", "loading_u")
      .orderBy(col("component"), col("pos"))
    caches.foreach(_.unpersist(false))
    res
  }

  val q186Sql: String = {
    // one power iteration over corpus `src`, reading direction `prev`,
    // emitting direction v_c{c}i{n}
    // every CTE MATERIALIZED: DuckDB's default inlining re-expands the
    // multi-referenced corpus/direction CTEs into an exponential tree
    // (measured: "Too many open files" on the parquet source)
    def iter(c: Int, n: Int, prev: String, src: String): String =
      s"""d_c${c}i$n AS MATERIALIZED (
         |  SELECT vec_id,
         |    CAST(floor(CAST(sum($src.xu * $prev.v6) AS DOUBLE) / 1e9) AS BIGINT) AS dot_m
         |  FROM $src JOIN $prev USING (i) GROUP BY vec_id),
         |w_c${c}i$n AS MATERIALIZED (
         |  SELECT i,
         |    CAST(floor(CAST(sum($src.xu * d_c${c}i$n.dot_m) AS DOUBLE) / 1e6) AS BIGINT) AS w3
         |  FROM $src JOIN d_c${c}i$n USING (vec_id) GROUP BY i),
         |n_c${c}i$n AS MATERIALIZED (SELECT greatest(sqrt(CAST(sum(w3 * w3) AS DOUBLE)), 1e-30) AS nrm FROM w_c${c}i$n),
         |v_c${c}i$n AS MATERIALIZED (
         |  SELECT i, CAST(floor(CAST(w3 AS DOUBLE) / nrm * 1000000.0 + 0.5) AS BIGINT) AS v6
         |  FROM w_c${c}i$n, n_c${c}i$n)""".stripMargin
    def component(c: Int, src: String): String =
      Seq(
        s"v_c${c}i0 AS MATERIALIZED (SELECT unnest(range(1, 65)) AS i, CAST(125000 AS BIGINT) AS v6)",
        iter(c, 1, s"v_c${c}i0", src),
        iter(c, 2, s"v_c${c}i1", src),
        iter(c, 3, s"v_c${c}i2", src)).mkString(",\n")
    def deflation(c: Int, src: String, v: String, dst: String): String =
      s"""defl_c$c AS MATERIALIZED (
         |  SELECT vec_id,
         |    CAST(floor(CAST(sum($src.xu * $v.v6) AS DOUBLE) / 1e9) AS BIGINT) AS dot_m
         |  FROM $src JOIN $v USING (i) GROUP BY vec_id),
         |$dst AS MATERIALIZED (
         |  SELECT $src.vec_id, $src.i,
         |    $src.xu - CAST(floor(CAST(defl_c$c.dot_m * $v.v6 AS DOUBLE) / 1e3) AS BIGINT) AS xu
         |  FROM $src JOIN defl_c$c USING (vec_id) JOIN $v USING (i))""".stripMargin
    s"""WITH xu1 AS MATERIALIZED (
       |  SELECT vec_id, i,
       |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS xu
       |  FROM embeddings, LATERAL (SELECT unnest(range(1, 65)) AS i) t),
       |${component(1, "xu1")},
       |${deflation(1, "xu1", "v_c1i3", "xu2")},
       |${component(2, "xu2")},
       |${deflation(2, "xu2", "v_c2i3", "xu3")},
       |${component(3, "xu3")}
       |SELECT component, pos, loading_u FROM (
       |  SELECT CAST(1 AS BIGINT) AS component, CAST(i - 1 AS BIGINT) AS pos, v6 AS loading_u FROM v_c1i3
       |  UNION ALL
       |  SELECT CAST(2 AS BIGINT), CAST(i - 1 AS BIGINT), v6 FROM v_c2i3
       |  UNION ALL
       |  SELECT CAST(3 AS BIGINT), CAST(i - 1 AS BIGINT), v6 FROM v_c3i3)
       |ORDER BY component, pos""".stripMargin
  }

  // -- q187: exact global quantiles by distributed sort-rank ------------

  /** Exact (not approximate) global price quantiles over the biggest
    * fact table — the primitive `percentile` cannot provide at scale
    * (its buffer collects every value into one aggregation state) and
    * `approx_percentile` only approximates. [[graft.operators.Quantiles]]
    * reuses the distributed sort-rank: range-partition on (cents, order,
    * line), rank with per-partition offsets, keep the five rows whose
    * global rank is ⌈p·n⌉. The ORACLE computes the same ranks with a
    * literal row_number window, so the hash gate proves the distributed
    * form reproduces discrete-quantile semantics exactly. At 100 TB:
    * one range shuffle of narrow rows, partition count ∝ rows/2M, five
    * rows out — no single-reducer sort, no per-group value buffering.
    */
  def q187(s: SparkSession, d: String): DataFrame = {
    val li = Tables
      .lineitem(s, d)
      .select(
        floor(col("l_extendedprice") * lit(100.0) + lit(0.5)).cast("long").as("cents"),
        col("l_orderkey"),
        col("l_linenumber"))
    val n = li.count()
    val parts = math.max(1L, math.min(n / 2000000L + 1L, 10000L)).toInt
    val caches = scala.collection.mutable.ListBuffer.empty[DataFrame]
    val out = graft.operators.Quantiles
      .exact(
        li,
        "cents",
        Seq(col("cents").asc, col("l_orderkey").asc, col("l_linenumber").asc),
        Seq(0.25, 0.50, 0.75, 0.90, 0.99),
        n,
        partitions = parts,
        cleanup = caches)
      .select(col("p_pct").cast("long").as("p_pct"), col("cents"))
      .localCheckpoint() // 5 rows; pin before releasing the rank's cache
    caches.foreach(_.unpersist(false))
    out
  }

  val q187Sql: String =
    """WITH s AS (
      |  SELECT CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS cents,
      |         l_orderkey, l_linenumber
      |  FROM lineitem),
      |r AS (SELECT cents,
      |        row_number() OVER (ORDER BY cents, l_orderkey, l_linenumber) AS rk
      |      FROM s),
      |n AS (SELECT count(*) AS n FROM s)
      |SELECT CAST(p.p_pct AS BIGINT) AS p_pct, r.cents
      |FROM (VALUES (25, 0.25), (50, 0.50), (75, 0.75), (90, 0.90), (99, 0.99)) AS p(p_pct, f)
      |JOIN n ON true
      |JOIN r ON r.rk = greatest(1, CAST(ceil(f * n.n - 1e-9) AS BIGINT))
      |ORDER BY p_pct""".stripMargin

  // -- q188: per-group exact quantiles, one stacked sort-rank -----------

  /** q187's primitive generalized per group: exact micro-unit value
    * quantiles PER EVENT TYPE from one stacked distributed sort-rank over
    * (event_type, value_u, event_id) — each type occupies a contiguous
    * global-rank block, so the five per-type quantile ranks are
    * blockOffset + ⌈p·n_type⌉ and one broadcast join picks the 25 result
    * rows ([[graft.operators.Quantiles.exactGrouped]]). The ORACLE is the
    * literal per-partition row_number window. At 100 TB: the same single
    * range shuffle as q187; per-group counts collected to the driver are
    * bounded by the number of types, not rows — where Spark's exact
    * `percentile` would buffer every value of a group in one aggregation
    * state.
    */
  def q188(s: SparkSession, d: String): DataFrame = {
    val ev = Tables
      .events(s, d)
      .select(
        col("event_type"),
        floor(col("value") * lit(1000000.0) + lit(0.5)).cast("long").as("vu"),
        col("event_id"))
    val caches = scala.collection.mutable.ListBuffer.empty[DataFrame]
    val out = graft.operators.Quantiles
      .exactGrouped(
        ev,
        "event_type",
        "vu",
        Seq(col("event_type").asc, col("vu").asc, col("event_id").asc),
        Seq(0.25, 0.50, 0.75, 0.90, 0.99),
        cleanup = caches)
      .select(col("event_type"), col("p_pct").cast("long").as("p_pct"), col("vu"))
      .localCheckpoint() // 25 rows; pin before releasing the rank's cache
    caches.foreach(_.unpersist(false))
    out
  }

  val q188Sql: String =
    """WITH s AS (
      |  SELECT event_type, CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS vu, event_id
      |  FROM events),
      |r AS (SELECT event_type, vu,
      |        row_number() OVER (PARTITION BY event_type ORDER BY vu, event_id) AS rk
      |      FROM s),
      |n AS (SELECT event_type, count(*) AS n FROM s GROUP BY 1)
      |SELECT r.event_type AS event_type, CAST(p.p_pct AS BIGINT) AS p_pct, r.vu
      |FROM (VALUES (25, 0.25), (50, 0.50), (75, 0.75), (90, 0.90), (99, 0.99)) AS p(p_pct, f)
      |JOIN n ON true
      |JOIN r ON r.event_type = n.event_type
      |      AND r.rk = greatest(1, CAST(ceil(f * n.n - 1e-9) AS BIGINT))
      |ORDER BY r.event_type, p_pct""".stripMargin

  // -- q189: in-place compaction is lossless (hash-proved) --------------

  /** The OPTIMIZE lifecycle, hash-proved: per-(day, event_type) stats are
    * written deliberately SCATTERED (no day co-location — every shuffle
    * task slivers every day dir, the layout streaming ingest actually
    * produces), then [[graft.sources.Sources.compactInPlace]] rewrites
    * each multi-file day dir as one fresh-named file against the LIVE
    * path (concurrent per-dir jobs; replaced files archived for pinned
    * readers). The per-day report then reads the COMPACTED latest
    * snapshot, and the ORACLE recomputes it from raw events — a hash
    * match proves in-place compaction is bit-lossless. At 100 TB this is
    * the maintenance pass every streaming-ingested table needs weekly;
    * wall clock is the largest partition, untouched partitions are never
    * opened.
    */
  def q189(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val micro = floor(col("value") * lit(1000000.0) + lit(0.5)).cast("long")
    val root = new org.apache.hadoop.fs.Path(
      System.getProperty("java.io.tmpdir"),
      s"graft_q189_${java.lang.Integer.toHexString(d.hashCode)}_${s.sparkContext.applicationId}")
    graft.core.Scratch.register(root.toString) // reaped at JVM exit, not leaked
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(root)) fs.delete(root, true)
    val stats = ev
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(micro).as("sum_u"))
    graft.sources.Sources.writeParquet(stats.repartition(8), root.toString, Seq("day"))
    graft.sources.Sources.compactInPlace(s, root.toString)
    graft.sources.Snapshots
      .readSnapshot(s, root.toString)
      .groupBy(col("day"))
      .agg(
        count(lit(1)).as("n_types"),
        sum(col("n")).as("n_events"),
        sum(col("sum_u")).as("sum_u"))
      .orderBy(col("day"))
  }

  val q189Sql: String =
    """WITH per AS (
      |  SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n,
      |    CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS sum_u
      |  FROM events GROUP BY 1, 2)
      |SELECT day, count(*) AS n_types,
      |  CAST(sum(n) AS BIGINT) AS n_events,
      |  CAST(sum(sum_u) AS BIGINT) AS sum_u
      |FROM per GROUP BY day ORDER BY day""".stripMargin

  // -- q190: snapshot change feed across a delete (table_changes) -------

  /** The change-feed law, hash-proved: the q184 lifecycle (stats table →
    * manifest v1 → GDPR delete of the `click` class → v2) interrogated
    * through [[graft.sources.Snapshots.diff]] — the `table_changes()`
    * surface. The diff of (v1, v2) must be EXACTLY the per-day click
    * stats rows tagged `removed` and nothing `added`, even though the
    * delete's purge REWROTE shared files: surviving rows appear
    * identically in both snapshots and cancel under `exceptAll`'s
    * multiset semantics.
    * The ORACLE recomputes the click rows from raw events. At 100 TB
    * this is CDC-from-storage: a consumer reconciles two manifests
    * without any change log, cost = two snapshot scans + one
    * hash-partitioned anti-diff.
    */
  def q190(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val micro = floor(col("value") * lit(1000000.0) + lit(0.5)).cast("long")
    val root = new org.apache.hadoop.fs.Path(
      System.getProperty("java.io.tmpdir"),
      s"graft_q190_${java.lang.Integer.toHexString(d.hashCode)}_${s.sparkContext.applicationId}")
    graft.core.Scratch.register(root.toString) // reaped at JVM exit, not leaked
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(root)) fs.delete(root, true)
    val stats = ev
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(micro).as("sum_u"))
    graft.sources.Sources.writeParquet(stats.repartition(col("day")), root.toString, Seq("day"))
    val v1 = graft.sources.Snapshots.commit(s, root.toString)
    graft.sources.Sources.deleteWhere(s, root.toString, col("event_type") === "click")
    graft.sources.Snapshots
      .diff(s, root.toString, v1)
      .select(col("change"), col("day"), col("event_type"), col("n"), col("sum_u"))
      .orderBy(col("change"), col("day"), col("event_type"))
  }

  val q190Sql: String =
    """SELECT 'removed' AS change, CAST(ts AS DATE) AS day, event_type,
      |  count(*) AS n,
      |  CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS sum_u
      |FROM events WHERE event_type = 'click'
      |GROUP BY 2, 3 ORDER BY change, day, event_type""".stripMargin

  // -- q184: manifest-pinned time travel across a GDPR delete -----------

  /** Snapshot-isolation law, hash-proved: a per-(day, event_type) stats
    * table is committed as manifest v1 ([[graft.sources.Snapshots]]),
    * then a GDPR-style [[graft.sources.Sources.deleteWhere]] removes
    * every `click` row — its match plus one purge commit rewrite (or
    * wholly archive) a file in EVERY day partition, committing v2. The
    * query reports each day twice: from the PINNED v1 snapshot (served mostly from archived files the
    * live tree no longer lists) and from the latest manifest. The ORACLE
    * recomputes both sides directly from raw events, so the hash match
    * proves time travel is exact — v1 still shows the deleted rows
    * bit-for-bit, v2 shows none. At 100 TB this is the table-format
    * guarantee that makes maintenance safe to run under live readers:
    * a reader's results depend only on its pinned manifest, never on
    * maintenance timing; the snapshot scan is an explicit file list, so
    * it costs no extra I/O over the directory read it replaces.
    */
  def q184(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val micro = floor(col("value") * lit(1000000.0) + lit(0.5)).cast("long")
    // keyed by data dir AND the Spark app id: concurrent runs over the same
    // fixture (Verify + Bench on one box) must not race on delete-then-
    // rewrite, and distinct data dirs must not collide via hashCode
    val root = new org.apache.hadoop.fs.Path(
      System.getProperty("java.io.tmpdir"),
      s"graft_q184_${java.lang.Integer.toHexString(d.hashCode)}_${s.sparkContext.applicationId}")
    graft.core.Scratch.register(root.toString) // reaped at JVM exit, not leaked
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(root)) fs.delete(root, true)
    val stats = ev
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(micro).as("sum_u"))
    // one file per day dir (a day's stats rows co-located): the GDPR
    // delete below then touches exactly one file per partition instead of
    // every scattered fragment
    graft.sources.Sources.writeParquet(stats.repartition(col("day")), root.toString, Seq("day"))
    val v1 = graft.sources.Snapshots.commit(s, root.toString)
    graft.sources.Sources.deleteWhere(s, root.toString, col("event_type") === "click")
    def perDay(df: DataFrame, nCol: String, uCol: String): DataFrame = df
      .groupBy(col("day"))
      .agg(sum(col("n")).as(nCol), sum(col("sum_u")).as(uCol))
    val pinned = perDay(graft.sources.Snapshots.readSnapshot(s, root.toString, v1), "n_v1", "u_v1")
    val latest = perDay(graft.sources.Snapshots.readSnapshot(s, root.toString), "n_v2", "u_v2")
    pinned
      .join(latest, Seq("day"), "left") // a click-only day vanishes from v2
      .select(
        col("day"),
        col("n_v1"),
        coalesce(col("n_v2"), lit(0L)).as("n_v2"),
        col("u_v1"),
        coalesce(col("u_v2"), lit(0L)).as("u_v2"))
      .orderBy(col("day"))
  }

  val q184Sql: String =
    """SELECT CAST(ts AS DATE) AS day,
      |  count(*) AS n_v1,
      |  CAST(sum(CASE WHEN event_type <> 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_v2,
      |  CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS u_v1,
      |  CAST(sum(CASE WHEN event_type <> 'click'
      |    THEN CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) ELSE 0 END) AS BIGINT) AS u_v2
      |FROM events GROUP BY day ORDER BY day""".stripMargin

  // -- q192: manifest-stats-pruned pinned read (zero-I/O planning) ------

  /** File skipping from the MANIFEST alone, hash-proved: the q184-style
    * per-(day, event_type) stats table commits a v2 manifest recording
    * per-file min/max (here the hive `day=` path value + the `n` footer
    * stat) and the table schema; a pinned day-range read then prunes the
    * file list at PLAN time — no footer is opened for out-of-range days,
    * where v1 manifests relied on parquet footers at scan time. The range
    * is derived from the data (min day + 2 … + 5) so the ORACLE recomputes
    * the identical window from raw events; the hash match proves
    * stats-pruned reads are value-identical to filtering the full
    * snapshot. SnapshotsSpec carries the plan-level assert that only the
    * matching files are opened. At 100 TB: planning a day-range query
    * against a million-file table costs one manifest read instead of a
    * million footer opens — the Iceberg/Delta min-max-skipping economics,
    * from one small file.
    */
  def q192(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val micro = floor(col("value") * lit(1000000.0) + lit(0.5)).cast("long")
    val root = new org.apache.hadoop.fs.Path(
      System.getProperty("java.io.tmpdir"),
      s"graft_q192_${java.lang.Integer.toHexString(d.hashCode)}_${s.sparkContext.applicationId}")
    graft.core.Scratch.register(root.toString) // reaped at JVM exit, not leaked
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(root)) fs.delete(root, true)
    val stats = ev
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(micro).as("sum_u"))
    graft.sources.Sources.writeParquet(stats.repartition(col("day")), root.toString, Seq("day"))
    val v1 = graft.sources.Snapshots.commit(s, root.toString, Seq("day", "n"))
    val m = ev.agg(min(to_date(col("ts"))).as("m")).head.getDate(0).toLocalDate
    val (lo, hi) = (m.plusDays(2).toString, m.plusDays(5).toString)
    graft.sources.Snapshots
      .readSnapshot(s, root.toString, v1, prune = Seq(("day", lo, hi)))
      .groupBy(col("day"))
      .agg(
        count(lit(1)).as("n_types"),
        sum(col("n")).as("n_events"),
        sum(col("sum_u")).as("sum_u"))
      .orderBy(col("day"))
  }

  val q192Sql: String =
    """WITH per AS (
      |  SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n,
      |    CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS sum_u
      |  FROM events GROUP BY 1, 2),
      |b AS (SELECT min(day) AS m FROM per)
      |SELECT day, count(*) AS n_types,
      |  CAST(sum(n) AS BIGINT) AS n_events,
      |  CAST(sum(sum_u) AS BIGINT) AS sum_u
      |FROM per, b
      |WHERE day BETWEEN m + 2 AND m + 5
      |GROUP BY day ORDER BY day""".stripMargin

  // -- q195: metadata-only COUNT from the manifest ----------------------

  /** The dashboard query at its cheapest possible cost, hash-proved:
    * `COUNT(*)` of a day-range over a committed stats table answered from
    * the v2 MANIFEST alone ([[graft.sources.Snapshots.countRows]]) — the
    * per-file row counts recorded at commit time (footer metadata) are
    * summed after manifest-level day pruning; no Spark job runs, no file
    * (not even a footer) is opened. The ORACLE recounts the same window
    * from raw events, so the hash match proves the recorded counts and
    * the pruning are exact. SnapshotsSpec asserts the zero-jobs property
    * with a listener. At 100 TB: the count a dashboard fires every few
    * seconds costs one small-file read instead of a cluster job — the
    * same economics Iceberg/Delta get from manifest row counts.
    */
  def q195(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val micro = floor(col("value") * lit(1000000.0) + lit(0.5)).cast("long")
    val root = new org.apache.hadoop.fs.Path(
      System.getProperty("java.io.tmpdir"),
      s"graft_q195_${java.lang.Integer.toHexString(d.hashCode)}_${s.sparkContext.applicationId}")
    graft.core.Scratch.register(root.toString) // reaped at JVM exit, not leaked
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(root)) fs.delete(root, true)
    val stats = ev
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(micro).as("sum_u"))
    // one file per day dir: manifest-level day pruning is then file-exact,
    // the precondition countRows documents
    graft.sources.Sources.writeParquet(stats.repartition(col("day")), root.toString, Seq("day"))
    val v1 = graft.sources.Snapshots.commit(s, root.toString, Seq("day"))
    val m = ev.agg(min(to_date(col("ts"))).as("m")).head.getDate(0).toLocalDate
    val n = graft.sources.Snapshots.countRows(
      s,
      root.toString,
      v1,
      prune = Seq(("day", m.plusDays(2).toString, m.plusDays(5).toString)))
    import s.implicits._
    Seq(n).toDF("n_rows")
  }

  val q195Sql: String =
    """WITH per AS (SELECT DISTINCT CAST(ts AS DATE) AS day, event_type FROM events),
      |b AS (SELECT min(day) AS m FROM per)
      |SELECT CAST(count(*) AS BIGINT) AS n_rows
      |FROM per, b WHERE day BETWEEN m + 2 AND m + 5""".stripMargin

  // -- q194: per-user exact quantiles, group-count-unbounded ------------

  /** q188's primitive at its REALISTIC grain: exact per-USER value
    * quantiles over events — 10× the group cardinality of the event-type
    * grouping, and the stand-in for per-user/per-series quantiles over
    * millions of groups in a production TSDB. Pins the round-9
    * [[graft.operators.Quantiles.exactGrouped]] rework: block offsets and
    * sizes now come from a distributed keyed agg over the ranked frame
    * (offset = min(rank)−1 under the stacked order) joined back on the
    * globally-unique rank — NO per-group array is ever collected, so group
    * cardinality is bounded by cluster memory, not driver memory
    * (QuantilesSpec proves the driver-fetch bound at 200k groups). Same
    * single range shuffle as q187/q188.
    */
  def q194(s: SparkSession, d: String): DataFrame = {
    val ev = Tables
      .events(s, d)
      .select(
        col("user_id"),
        floor(col("value") * lit(1000000.0) + lit(0.5)).cast("long").as("vu"),
        col("event_id"))
    val caches = scala.collection.mutable.ListBuffer.empty[DataFrame]
    val out = graft.operators.Quantiles
      .exactGrouped(
        ev,
        "user_id",
        "vu",
        Seq(col("user_id").asc, col("vu").asc, col("event_id").asc),
        Seq(0.50, 0.90, 0.99),
        cleanup = caches)
      .select(col("user_id"), col("p_pct").cast("long").as("p_pct"), col("vu"))
      .localCheckpoint() // |users|·3 rows; pin before releasing the rank's cache
    caches.foreach(_.unpersist(false))
    out
  }

  val q194Sql: String =
    """WITH s AS (
      |  SELECT user_id, CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS vu, event_id
      |  FROM events),
      |r AS (SELECT user_id, vu,
      |        row_number() OVER (PARTITION BY user_id ORDER BY vu, event_id) AS rk
      |      FROM s),
      |n AS (SELECT user_id, count(*) AS n FROM s GROUP BY 1)
      |SELECT r.user_id AS user_id, CAST(p.p_pct AS BIGINT) AS p_pct, r.vu
      |FROM (VALUES (50, 0.50), (90, 0.90), (99, 0.99)) AS p(p_pct, f)
      |JOIN n ON true
      |JOIN r ON r.user_id = n.user_id
      |      AND r.rk = greatest(1, CAST(ceil(f * n.n - 1e-9) AS BIGINT))
      |ORDER BY r.user_id, p_pct""".stripMargin

  val queries: Map[String, Q] = Map(
    "q180_orc_roundtrip" -> (q180 _),
    "q181_quantization_audit" -> (q181 _),
    "q182_k_anonymity" -> (q182 _),
    "q183_pca_power" -> (q183 _),
    "q184_time_travel" -> (q184 _),
    "q186_pca_deflation" -> (q186 _),
    "q187_exact_quantiles" -> (q187 _),
    "q188_grouped_quantiles" -> (q188 _),
    "q189_compact_lossless" -> (q189 _),
    "q190_change_feed" -> (q190 _),
    "q192_stats_pruned_read" -> (q192 _),
    "q194_user_quantiles" -> (q194 _),
    "q195_metadata_count" -> (q195 _))

  val oracles: Map[String, String] = Map(
    "q180_orc_roundtrip" -> q180Sql,
    "q181_quantization_audit" -> q181Sql,
    "q182_k_anonymity" -> q182Sql,
    "q183_pca_power" -> q183Sql,
    "q184_time_travel" -> q184Sql,
    "q186_pca_deflation" -> q186Sql,
    "q187_exact_quantiles" -> q187Sql,
    "q188_grouped_quantiles" -> q188Sql,
    "q189_compact_lossless" -> q189Sql,
    "q190_change_feed" -> q190Sql,
    "q192_stats_pruned_read" -> q192Sql,
    "q194_user_quantiles" -> q194Sql,
    "q195_metadata_count" -> q195Sql)
}
