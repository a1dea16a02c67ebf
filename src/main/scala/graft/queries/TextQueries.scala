package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Det, Tables}
import graft.functions.Text
import graft.llm.Dedup

/** Text-analysis / dedup query registry over `documents`.
  *
  * Portable-hash discipline: every hash-bearing query derives hashes from
  * md5 hex ([[Text.hash60]]) so the DuckDB oracle reproduces them exactly;
  * the minhash/simhash SQL twins are *generated* from the same parameter
  * table the Spark side uses ([[Text.minhashParams]]) — one source of
  * truth, no drift.
  */
object TextQueries {

  type Q = (SparkSession, String) => DataFrame

  /** Shared SQL fragments (DuckDB dialect). */
  private val sqlToks = Text.sqlToks

  /** Word-trigram shingle CTEs: d(doc_id, w[]), sh(doc_id, s) distinct. */
  private[queries] val sqlShingleCte =
    s"""d AS (SELECT doc_id, $sqlToks AS w FROM documents),
       |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
       |       FROM d, LATERAL (SELECT unnest(range(1, len(w)-1)) AS i) t)""".stripMargin

  // -- q23: exact dedup ------------------------------------------------

  def q23(s: SparkSession, d: String): DataFrame =
    Dedup
      .exact(Tables.documents(s, d), "doc_id", "text")
      .orderBy(col("text_hash"))

  val q23Sql: String =
    """SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS dup_cnt
      |FROM documents GROUP BY text_hash ORDER BY text_hash""".stripMargin

  // -- q24: exact n-gram jaccard near-dup pairs ------------------------

  def q24(s: SparkSession, d: String): DataFrame =
    Dedup
      .jaccardPairs(Tables.documents(s, d), "doc_id", "text", 3, 0.2)
      .orderBy(col("a_id"), col("b_id"))

  val q24Sql: String =
    s"""WITH $sqlShingleCte,
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |pairs AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY a_id, b_id)
       |SELECT a_id, b_id, CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard,
       |  CAST(inter AS DOUBLE) / least(sa.n, sb.n) AS containment
       |FROM pairs JOIN sizes sa ON sa.doc_id = a_id JOIN sizes sb ON sb.doc_id = b_id
       |WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.2
       |ORDER BY a_id, b_id""".stripMargin

  // -- q24b: the scale-safe (df-capped) jaccard configuration ----------

  /** Same operator as q24 with the stop-shingle skew guard ON, in its
    * corpus-relative form (`maxShingleDfFrac = 0.012`): shingles present
    * in more than ceil(1.2% of documents) are treated as boilerplate —
    * they contribute negligible Jaccard evidence and at 100 TB would
    * concentrate the self-join's shuffle on a handful of hot keys. A
    * fraction rather than an absolute count because df of even legitimate
    * shingles grows with corpus size: an absolute cap tuned at one SF
    * deletes genuine near-dup evidence at 10x that SF (measured here:
    * cap=5 keeps all sf0.01 clusters but zeroes sf0.1). At sf0.01 the cap
    * resolves to 6 and FIRES (max shingle df 7), so the verified rows are
    * the capped semantics: capped shingles leave the intersection while
    * doc sizes stay uncapped — exactly what the oracle replicates.
    */
  def q24b(s: SparkSession, d: String): DataFrame =
    Dedup
      .jaccardPairs(Tables.documents(s, d), "doc_id", "text", 3, 0.2, maxShingleDfFrac = 0.012)
      .orderBy(col("a_id"), col("b_id"))

  val q24bSql: String =
    s"""WITH $sqlShingleCte,
       |freq AS (SELECT s, count(*) AS df FROM sh GROUP BY s),
       |cap AS (SELECT CAST(ceil(0.012 * count(*)) AS BIGINT) AS c FROM documents),
       |flt AS (SELECT sh.doc_id, sh.s FROM sh JOIN freq USING (s), cap WHERE df <= cap.c),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |pairs AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
       |  FROM flt a JOIN flt b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY a_id, b_id)
       |SELECT a_id, b_id, CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard,
       |  CAST(inter AS DOUBLE) / least(sa.n, sb.n) AS containment
       |FROM pairs JOIN sizes sa ON sa.doc_id = a_id JOIN sizes sb ON sb.doc_id = b_id
       |WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.2
       |ORDER BY a_id, b_id""".stripMargin

  // -- q78: near-dup clusters (connected components) -------------------

  /** Pairwise near-dup → CLUSTERS: connected components over the q24 edge
    * set, every doc labeled with its component's smallest doc id and a
    * canonical flag — the actual corpus-dedup deliverable (keep one doc
    * per cluster). The components are the min-label fixpoint: at this
    * size the edge list is collected once and labeled by union-find on
    * the driver; above `Dedup.connectedComponents`' ceiling Spark iterates
    * min-label propagation to it. The oracle computes the same fixpoint
    * with a recursive CTE. The fixpoint is iteration-order independent —
    * deterministic, hence hash-checkable on either path.
    */
  def q78(s: SparkSession, d: String): DataFrame =
    Dedup
      .dedupClusters(Tables.documents(s, d), "doc_id", "text", 3, 0.2)
      .orderBy(col("doc_id"))

  val q78Sql: String =
    s"""WITH RECURSIVE $sqlShingleCte,
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |pr AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY a_id, b_id),
       |p AS (
       |  SELECT a_id, b_id
       |  FROM pr JOIN sizes sa ON sa.doc_id = a_id JOIN sizes sb ON sb.doc_id = b_id
       |  WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.2),
       |edges AS (
       |  SELECT a_id AS src, b_id AS dst FROM p
       |  UNION ALL
       |  SELECT b_id AS src, a_id AS dst FROM p),
       |reach(id, r) AS (
       |  SELECT src AS id, src AS r FROM edges
       |  UNION
       |  SELECT e.dst AS id, reach.r FROM reach JOIN edges e ON e.src = reach.id),
       |lab AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
       |SELECT d.doc_id, coalesce(lab.cluster_id, d.doc_id) AS cluster_id,
       |  CAST(CASE WHEN coalesce(lab.cluster_id, d.doc_id) = d.doc_id
       |       THEN 1 ELSE 0 END AS BIGINT) AS is_canonical
       |FROM documents d LEFT JOIN lab ON lab.id = d.doc_id
       |ORDER BY doc_id""".stripMargin

  // -- q81: token-budget sequence packing ------------------------------

  /** Training-shard packing: assign each doc to a pack of ~2048 tokens,
    * filled in doc_id order WITHIN its source stratum — the sequence-
    * packing step that turns a filtered corpus into fixed-budget training
    * shards. pack_id = floor(tokens_before_this_doc / capacity).
    *
    * The cumulative sum is computed as a DISTRIBUTED two-level prefix sum,
    * not one window over the whole stratum (which would put an entire
    * source — possibly most of a 100 TB corpus — on a single reducer):
    * docs are blocked by doc_id range, block totals get a per-source
    * running sum (one row per block — tiny), and each doc's global prefix
    * is its block's base plus a within-block cumulative sum whose window
    * partition is bounded by the block size. Addition is associative, so
    * the decomposition is exact and the oracle (a plain stratum-wide
    * window) is unchanged.
    */
  def q81(s: SparkSession, d: String): DataFrame =
    graft.operators.Packing
      .tokenBudgetPack(
        Tables
          .documents(s, d)
          .select(
            col("doc_id"),
            col("source"),
            regexp_count(lower(col("text")), lit("[a-z]+|[0-9]+|[^a-z0-9 ]")).cast("long").as("n_tok")),
        "doc_id",
        "source",
        "n_tok",
        capacity = 2048L,
        blockSize = 64L) // block sized so the test SFs exercise multiple blocks
      .select(col("doc_id"), col("source"), col("n_tok"), col("pack_id"))
      .orderBy(col("doc_id"))

  val q81Sql: String =
    """WITH t AS (
      |  SELECT doc_id, source,
      |    CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_tok
      |  FROM documents)
      |SELECT doc_id, source, n_tok,
      |  CAST(floor((sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok) / 2048.0) AS BIGINT) AS pack_id
      |FROM t ORDER BY doc_id""".stripMargin

  // -- q25: minhash signatures ----------------------------------------

  def q25(s: SparkSession, d: String): DataFrame =
    Dedup
      .minhashSignatures(Tables.documents(s, d), "doc_id", "text", 3)
      .orderBy(col("doc_id"))

  val q25Sql: String = {
    val mins = (0 until 16)
      .map(j => s"  min(${Text.sqlMinhashTerm("h", j)}) AS m$j")
      .mkString(",\n")
    s"""WITH $sqlShingleCte,
       |hs AS (SELECT doc_id, ${Text.sqlHash60("s")} AS h FROM sh)
       |SELECT doc_id,
       |$mins
       |FROM hs GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // -- q26: LSH candidate pairs (4 bands x 4 rows) ---------------------

  def q26(s: SparkSession, d: String): DataFrame =
    Dedup
      .lshCandidatePairs(Tables.documents(s, d), "doc_id", "text", 3)
      .orderBy(col("a_id"), col("b_id"))

  val q26Sql: String = {
    val mins = (0 until 16)
      .map(j => s"min(${Text.sqlMinhashTerm("h", j)}) AS m$j")
      .mkString(", ")
    val bandRows = (0 until 4)
      .map { b =>
        val cols = (4 * b until 4 * b + 4).map(j => s"CAST(m$j AS VARCHAR)").mkString(" || ':' || ")
        s"SELECT doc_id, $b AS band, $cols AS bandval FROM sig"
      }
      .mkString("\n  UNION ALL ")
    s"""WITH $sqlShingleCte,
       |hs AS (SELECT doc_id, ${Text.sqlHash60("s")} AS h FROM sh),
       |sig AS (SELECT doc_id, $mins FROM hs GROUP BY doc_id),
       |bands AS (
       |  $bandRows)
       |SELECT DISTINCT l.doc_id AS a_id, r.doc_id AS b_id
       |FROM bands l JOIN bands r ON l.band = r.band AND l.bandval = r.bandval AND l.doc_id < r.doc_id
       |ORDER BY a_id, b_id""".stripMargin
  }

  // -- q123: LSH-blocked dedup clusters (the 100 TB dedup pipeline) -----

  /** The full MinHash-LSH dedup pipeline as one query: banded signatures →
    * candidate pairs → exact-jaccard gate on candidates only → connected
    * components → per-doc cluster labels. q78's exact twin blocks on
    * shared shingles (Σ df² join fan-out); this blocks on LSH bands
    * (constant 128-byte signature per doc) — the shape that survives when
    * even the shingle join is too hot. At this size the candidate pairs
    * and the candidate docs' shingle hashes are collected once and the
    * gate and union-find run on the driver (a fixed number of jobs);
    * above `Dedup.lshDedupClusters`' ceiling the gate is Spark joins and
    * the components a min-label loop, with identical rows. Oracle replays
    * signatures, bands, candidate gate and the component fixpoint
    * (recursive CTE).
    */
  def q123(s: SparkSession, d: String): DataFrame =
    Dedup
      .lshDedupClusters(Tables.documents(s, d), "doc_id", "text", 3, 0.2)
      .orderBy(col("doc_id"))

  val q123Sql: String = {
    val mins = (0 until 16)
      .map(j => s"min(${Text.sqlMinhashTerm("h", j)}) AS m$j")
      .mkString(", ")
    val bandRows = (0 until 4)
      .map { b =>
        val cols = (4 * b until 4 * b + 4).map(j => s"CAST(m$j AS VARCHAR)").mkString(" || ':' || ")
        s"SELECT doc_id, $b AS band, $cols AS bandval FROM sig"
      }
      .mkString("\n  UNION ALL ")
    s"""WITH RECURSIVE $sqlShingleCte,
       |hs AS (SELECT doc_id, ${Text.sqlHash60("s")} AS h FROM sh),
       |sig AS (SELECT doc_id, $mins FROM hs GROUP BY doc_id),
       |bands AS (
       |  $bandRows),
       |cand AS (
       |  SELECT DISTINCT l.doc_id AS a_id, r.doc_id AS b_id
       |  FROM bands l JOIN bands r ON l.band = r.band AND l.bandval = r.bandval AND l.doc_id < r.doc_id),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT c.a_id, c.b_id, count(*) AS inter
       |  FROM cand c JOIN sh a ON a.doc_id = c.a_id JOIN sh b ON b.doc_id = c.b_id AND b.s = a.s
       |  GROUP BY c.a_id, c.b_id),
       |p AS (
       |  SELECT a_id, b_id
       |  FROM inter JOIN sizes sa ON sa.doc_id = a_id JOIN sizes sb ON sb.doc_id = b_id
       |  WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.2),
       |edges AS (
       |  SELECT a_id AS src, b_id AS dst FROM p
       |  UNION ALL
       |  SELECT b_id AS src, a_id AS dst FROM p),
       |reach(id, r) AS (
       |  SELECT src AS id, src AS r FROM edges
       |  UNION
       |  SELECT e.dst AS id, reach.r FROM reach JOIN edges e ON e.src = reach.id),
       |lab AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
       |SELECT d.doc_id, coalesce(lab.cluster_id, d.doc_id) AS cluster_id,
       |  CAST(CASE WHEN coalesce(lab.cluster_id, d.doc_id) = d.doc_id
       |       THEN 1 ELSE 0 END AS BIGINT) AS is_canonical
       |FROM documents d LEFT JOIN lab ON lab.id = d.doc_id
       |ORDER BY doc_id""".stripMargin
  }

  // -- q27: simhash ----------------------------------------------------

  def q27(s: SparkSession, d: String): DataFrame =
    Dedup
      .simhash(Tables.documents(s, d), "doc_id", "text")
      .orderBy(col("doc_id"))

  /** Shared simhash CTE chain (tk → hs → v → sig(doc_id, simhash)): ONE
    * source of truth for the vote/fold SQL so q27 and q60 can never drift
    * apart on the vote rule.
    */
  private[queries] val sqlSimhashSig: String = {
    val votes = (0 until 16)
      .map(j => s"  sum(${Text.sqlSimhashVote("h", j)}) AS s$j")
      .mkString(",\n")
    val fold = (0 until 16)
      .map(j => s"(CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END)")
      .mkString(" + ")
    s"""tk AS (SELECT doc_id, unnest($sqlToks) AS tok FROM documents),
       |hs AS (SELECT doc_id, ${Text.sqlHash60("tok")} AS h FROM tk),
       |v AS (SELECT doc_id,
       |$votes
       |FROM hs GROUP BY doc_id),
       |sig AS (SELECT doc_id, CAST($fold AS BIGINT) AS simhash FROM v)""".stripMargin
  }

  val q27Sql: String =
    s"""WITH $sqlSimhashSig
       |SELECT doc_id, simhash FROM sig ORDER BY doc_id""".stripMargin

  // -- q28: language ID (marker-lexicon scoring) -----------------------

  def q28(s: SparkSession, d: String): DataFrame = {
    val scored = Tables
      .documents(s, d)
      // tokenize once (multiply-referenced alias survives CollapseProject)
      .select(col("doc_id"), col("lang"), Text.tokens(col("text")).as("toks"))
      .select(
        (col("doc_id") +: col("lang").as("actual_lang") +:
          Text.langMarkers.map { case (lg, ms) => Text.markerCount(col("toks"), ms).as(s"sc_$lg") }): _*)
    val langs = Text.langMarkers.map(_._1)
    val pred = langs.init
      .foldRight(lit(langs.last)) { (lg, els) =>
        when(langs.filter(_ != lg).map(o => col(s"sc_$lg") >= col(s"sc_$o")).reduce(_ && _), lit(lg))
          .otherwise(els)
      }
    scored
      .withColumn("pred_lang", pred)
      .orderBy(col("doc_id"))
  }

  val q28Sql: String = {
    val langs = Text.langMarkers.map(_._1)
    val scores = Text.langMarkers
      .map { case (lg, ms) => s"  ${Text.sqlMarkerCount("w", ms)} AS sc_$lg" }
      .mkString(",\n")
    val pred = langs.init
      .foldRight(s"'${langs.last}'") { (lg, els) =>
        val conds = langs.filter(_ != lg).map(o => s"sc_$lg >= sc_$o").mkString(" AND ")
        s"CASE WHEN $conds THEN '$lg' ELSE $els END"
      }
    s"""WITH d AS (SELECT doc_id, lang AS actual_lang, $sqlToks AS w FROM documents),
       |sc AS (SELECT doc_id, actual_lang,
       |$scores
       |FROM d)
       |SELECT doc_id, actual_lang, ${langs.map(l => s"sc_$l").mkString(", ")},
       |  $pred AS pred_lang
       |FROM sc ORDER BY doc_id""".stripMargin
  }

  // -- q29: quality scoring --------------------------------------------

  def q29(s: SparkSession, d: String): DataFrame = {
    Tables
      .documents(s, d)
      .select(col("doc_id"), col("n_chars"), col("text"), Text.tokens(col("text")).as("toks"))
      .select(
        col("doc_id"),
        size(col("toks")).cast("long").as("n_tok"),
        Text.markerCount(col("toks"), Text.stopwords).as("n_stop"),
        regexp_count(lower(col("text")), lit("[^a-z0-9 ]")).cast("long").as("n_punct"),
        col("n_chars"))
      .withColumn("stop_ratio", when(col("n_tok") > 0, col("n_stop").cast("double") / col("n_tok")).otherwise(lit(0.0)))
      .withColumn("avg_tok_len", when(col("n_tok") > 0, col("n_chars").cast("double") / col("n_tok")).otherwise(lit(0.0)))
      .withColumn(
        "quality",
        Det.r4(
          least(col("n_tok").cast("double") / 100.0, lit(1.0)) * 0.5 +
            col("stop_ratio") * 0.3 +
            when(col("avg_tok_len").between(3.0, 8.0), lit(0.2)).otherwise(lit(0.0))))
      .withColumn("stop_ratio", Det.r6(col("stop_ratio")))
      .withColumn("avg_tok_len", Det.r6(col("avg_tok_len")))
      .orderBy(col("doc_id"))
  }

  val q29Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id, n_chars,
       |    CAST(len($sqlToks) AS BIGINT) AS n_tok,
       |    ${Text.sqlMarkerCount(sqlToks, Text.stopwords)} AS n_stop,
       |    CAST(len(regexp_extract_all(lower(text), '[^a-z0-9 ]')) AS BIGINT) AS n_punct
       |  FROM documents),
       |e AS (
       |  SELECT doc_id, n_tok, n_stop, n_punct, n_chars,
       |    CASE WHEN n_tok > 0 THEN CAST(n_stop AS DOUBLE) / n_tok ELSE 0.0 END AS stop_ratio,
       |    CASE WHEN n_tok > 0 THEN CAST(n_chars AS DOUBLE) / n_tok ELSE 0.0 END AS avg_tok_len
       |  FROM d)
       |SELECT doc_id, n_tok, n_stop, n_punct, n_chars,
       |  ${Det.sqlR("stop_ratio", 6)} AS stop_ratio,
       |  ${Det.sqlR("avg_tok_len", 6)} AS avg_tok_len,
       |  ${Det.sqlR(
        "least(CAST(n_tok AS DOUBLE)/100.0, 1.0)*0.5 + stop_ratio*0.3 + (CASE WHEN avg_tok_len BETWEEN 3.0 AND 8.0 THEN 0.2 ELSE 0.0 END)",
        4)} AS quality
       |FROM e ORDER BY doc_id""".stripMargin

  // -- q30: token counting (whitespace + BPE-ish regex) ----------------

  def q30(s: SparkSession, d: String): DataFrame =
    Tables
      .documents(s, d)
      .select(
        col("doc_id"),
        size(Text.tokens(col("text"))).cast("long").as("n_ws"),
        regexp_count(lower(col("text")), lit("[a-z]+|[0-9]+|[^a-z0-9 ]")).cast("long").as("n_bpe"))
      .orderBy(col("doc_id"))

  val q30Sql: String =
    s"""SELECT doc_id,
       |  CAST(len($sqlToks) AS BIGINT) AS n_ws,
       |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_bpe
       |FROM documents ORDER BY doc_id""".stripMargin

  // -- q31: document fingerprint (shingle-hash min/max digest) ---------

  def q31(s: SparkSession, d: String): DataFrame =
    Tables
      .documents(s, d)
      // fused hash explode; distinct on (doc, hash) equals distinct on the
      // shingle strings absent 60-bit collisions (the jaccard contract),
      // and shuffles 8-byte longs instead of shingle text
      .select(col("doc_id"), explode(Text.shingleHashes(col("text"), 3)).as("h"))
      .distinct()
      .groupBy(col("doc_id"))
      .agg(min(col("h")).as("fp_min"), max(col("h")).as("fp_max"), count(lit(1)).as("n_shingles"))
      .orderBy(col("doc_id"))

  val q31Sql: String =
    s"""WITH $sqlShingleCte,
       |hs AS (SELECT doc_id, ${Text.sqlHash60("s")} AS h FROM sh)
       |SELECT doc_id, min(h) AS fp_min, max(h) AS fp_max, count(*) AS n_shingles
       |FROM hs GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** TF-IDF top-3 terms per document. tf and df are integer counts; idf is
    * ln(N/df) of identical doubles on both engines; ranking runs on the
    * rounded score with a term tie-break, so order is deterministic.
    */
  def q56(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val n = docs.count() // dimension-sized count, driver-side by design
    val tf = docs
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    // Document frequency IS the per-token row count of tf (one tf row per
    // (doc, tok)) — a window over tok reuses tf in place of the
    // distinct+groupBy+join detour, saving a persist, a distinct shuffle
    // and a join; at 100 TB the vocab is too big to broadcast anyway, so
    // the window's hash partition on tok is the minimal data movement.
    val wTok = org.apache.spark.sql.expressions.Window.partitionBy(col("tok"))
    val scored = tf
      .withColumn("df", count(lit(1)).over(wTok))
      .withColumn("score", Det.r6(col("tf") * log(lit(n.toDouble) / col("df"))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("tok"))
    scored
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("rk"), col("tok"), col("score"))
      .orderBy(col("doc_id"), col("rk"))
  }

  val q56Sql: String =
    s"""WITH tk AS (SELECT doc_id, unnest($sqlToks) AS tok FROM documents),
       |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tk GROUP BY doc_id, tok),
       |dfreq AS (SELECT tok, count(*) AS df FROM (SELECT DISTINCT doc_id, tok FROM tk) t GROUP BY tok),
       |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
       |scored AS (
       |  SELECT doc_id, tok, ${Det.sqlR("tf * ln(n.n / df)", 6)} AS score
       |  FROM tf JOIN dfreq USING (tok) CROSS JOIN n),
       |rked AS (
       |  SELECT doc_id, tok, score,
       |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, tok) AS BIGINT) AS rk
       |  FROM scored)
       |SELECT doc_id, rk, tok, score FROM rked WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin

  /** Corpus decontamination: drop documents whose text already appears in
    * a reference slice (here: every 7th doc plays the "seen corpus").
    */
  def q58(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val corpus = docs.filter(col("doc_id") % 7 === 0)
    Dedup
      .againstCorpus(docs, "text", corpus, "text")
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy(col("doc_id"))
  }

  val q58Sql: String =
    """SELECT doc_id, lang, source FROM documents d
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM documents c WHERE c.doc_id % 7 = 0 AND md5(c.text) = md5(d.text))
      |ORDER BY doc_id""".stripMargin

  // -- q117: bloom-gated exact decontamination ---------------------------

  /** q58's decontamination routed through the broadcast-Bloom runtime
    * pre-filter ([[graft.llm.Dedup.againstCorpusBloomExact]]): the filter
    * clears the clean bulk shuffle-free, the exact digest anti-join only
    * sees the ~fpp sliver it flags, and the result is bit-identical to the
    * plain anti-join — proven by sharing q58's oracle semantics. At 100 TB
    * this is the difference between shuffling the corpus and shuffling
    * ~1% of it.
    */
  def q117(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val corpus = docs.filter(col("doc_id") % 7 === 0)
    Dedup
      .againstCorpusBloomExact(docs, "text", corpus, "text", expectedItems = 100000L)
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy(col("doc_id"))
  }

  val q117Sql: String =
    """SELECT doc_id, lang, source FROM documents d
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM documents c WHERE c.doc_id % 7 = 0 AND md5(c.text) = md5(d.text))
      |ORDER BY doc_id""".stripMargin

  /** Text normalization pipeline: lowercase → strip non-alnum → collapse
    * whitespace → trim; digest keeps the output narrow.
    */
  def q59(s: SparkSession, d: String): DataFrame =
    Tables
      .documents(s, d)
      .select(
        col("doc_id"),
        md5(trim(regexp_replace(regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " ")))
          .as("norm_hash"),
        length(trim(regexp_replace(regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " ")))
          .cast("long")
          .as("norm_len"))
      .orderBy(col("doc_id"))

  val q59Sql: String =
    """SELECT doc_id,
      |  md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS norm_hash,
      |  CAST(length(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS BIGINT) AS norm_len
      |FROM documents ORDER BY doc_id""".stripMargin

  /** SimHash near-dup pairs: same-language blocking, Hamming distance ≤ 3
    * over the 16-bit signatures (bit_count of xor — identical on both
    * engines). Language blocking bounds the pair space; the full-scale
    * path buckets on signature bands instead.
    */
  def q60(s: SparkSession, d: String): DataFrame = {
    val sig = Dedup
      .simhash(Tables.documents(s, d), "doc_id", "text")
      .join(Tables.documents(s, d).select(col("doc_id"), col("lang")), Seq("doc_id"))
      // both self-join sides scan sig: persist like the other self-joining
      // dedup operators (the signature table is tiny — id + long + lang)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = sig.select(col("lang"), col("doc_id").as("a_id"), col("simhash").as("sa"))
    val b = sig.select(col("lang"), col("doc_id").as("b_id"), col("simhash").as("sb"))
    a.join(b, Seq("lang"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("hamming", bit_count(col("sa").bitwiseXOR(col("sb"))).cast("long"))
      .filter(col("hamming") <= 3)
      .select(col("lang"), col("a_id"), col("b_id"), col("hamming"))
      .orderBy(col("lang"), col("a_id"), col("b_id"))
  }

  val q60Sql: String =
    s"""WITH $sqlSimhashSig,
       |sigl AS (
       |  SELECT sig.doc_id, sig.simhash, d.lang
       |  FROM sig JOIN documents d ON d.doc_id = sig.doc_id)
       |SELECT a.lang, a.doc_id AS a_id, b.doc_id AS b_id,
       |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       |FROM sigl a JOIN sigl b ON a.lang = b.lang AND a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
       |ORDER BY a.lang, a_id, b_id""".stripMargin

  /** Deterministic stratified sampling — down-weight over-represented
    * strata of a training mix reproducibly (hash-gated, not RNG): keep 50%
    * of en, 25% of fr, everything else. Both engines evaluate the same
    * md5-derived uniform, so the kept set is bit-identical.
    */
  def q62(s: SparkSession, d: String): DataFrame =
    Dedup
      .stratifiedSampleByHash(
        Tables.documents(s, d),
        "doc_id",
        "lang",
        Map("en" -> 0.5, "fr" -> 0.25))
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy(col("doc_id"))

  val q62Sql: String = {
    val u = s"(${Text.sqlHash60("CAST(doc_id AS VARCHAR)")} % 1073741824) / 1073741824.0"
    """SELECT doc_id, lang, source FROM documents
      |WHERE UNIF < (CASE lang WHEN 'en' THEN 0.5 WHEN 'fr' THEN 0.25 ELSE 1.0 END)
      |ORDER BY doc_id""".stripMargin.replace("UNIF", u)
  }

  val queries: Map[String, Q] = Map(
    "q62_stratified_sample" -> (q62 _),
    "q60_simhash_neardup" -> (q60 _),
    "q58_dedup_against_corpus" -> (q58 _),
    "q117_bloom_decontaminate" -> (q117 _),
    "q123_lsh_dedup_clusters" -> (q123 _),
    "q59_text_normalize" -> (q59 _),
    "q56_tfidf_top_terms" -> (q56 _),
    "q23_dedup_exact" -> (q23 _),
    "q24_ngram_jaccard_pairs" -> (q24 _),
    "q24b_jaccard_df_capped" -> (q24b _),
    "q78_dedup_clusters" -> (q78 _),
    "q81_token_packing" -> (q81 _),
    "q25_minhash_signatures" -> (q25 _),
    "q26_lsh_candidate_pairs" -> (q26 _),
    "q27_simhash" -> (q27 _),
    "q28_lang_id" -> (q28 _),
    "q29_quality_score" -> (q29 _),
    "q30_token_count" -> (q30 _),
    "q31_doc_fingerprint" -> (q31 _))

  val oracles: Map[String, String] = Map(
    "q62_stratified_sample" -> q62Sql,
    "q60_simhash_neardup" -> q60Sql,
    "q58_dedup_against_corpus" -> q58Sql,
    "q117_bloom_decontaminate" -> q117Sql,
    "q123_lsh_dedup_clusters" -> q123Sql,
    "q59_text_normalize" -> q59Sql,
    "q56_tfidf_top_terms" -> q56Sql,
    "q23_dedup_exact" -> q23Sql,
    "q24_ngram_jaccard_pairs" -> q24Sql,
    "q24b_jaccard_df_capped" -> q24bSql,
    "q78_dedup_clusters" -> q78Sql,
    "q81_token_packing" -> q81Sql,
    "q25_minhash_signatures" -> q25Sql,
    "q26_lsh_candidate_pairs" -> q26Sql,
    "q27_simhash" -> q27Sql,
    "q28_lang_id" -> q28Sql,
    "q29_quality_score" -> q29Sql,
    "q30_token_count" -> q30Sql,
    "q31_doc_fingerprint" -> q31Sql)
}
