package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.llm.{Dedup, Similarity}

/** `corpus`: one client running graft's LLM-pipeline operators in batch
  * over a seeded corpus that never touches the table format.
  *
  * Documents are word salads over a skewed vocabulary; a seeded share are
  * exact copies and another share near-duplicates (a few words changed)
  * of earlier documents. Embeddings are 64-dim vectors around seeded
  * cluster centres. Set-up trains the IVF centroids and builds the k-NN
  * graph; a cycle runs exact dedup, simhash, MinHash-LSH clustering, the
  * prefix-filtered jaccard join, IVF and graph-ANN top-k, and a graph
  * append of a fresh slice.
  *
  * References: the exact-duplicate count comes from the generator, the
  * prefix join must equal the exact `Dedup.jaccardPairs`, and both recall
  * metrics are taken against brute force (`Similarity.cosineTopK`, exact
  * `Dedup.jaccardPairs` with no document-frequency cap).
  */
final class CorpusWorkload(ctx: Ctx) extends Workload {
  import ctx.spark

  private val docsN = if (ctx.small) 200 else 2000
  private val vecsN = if (ctx.small) 200 else 800
  private val sliceN = if (ctx.small) 20 else 64
  private val dims = 64
  private val queriesN = 16
  private val topK = 10
  private val degree = 12
  private val shingle = 3
  private val lshThreshold = 0.5
  private val prefixThreshold = 0.8

  private val rng = new scala.util.Random(ctx.seed)
  private var docs: DataFrame = _
  private var exactDupGroups = 0L
  private var emb: DataFrame = _ // the indexed corpus (fresh slices excluded)
  private var slices: Vector[DataFrame] = Vector.empty
  private var queries: DataFrame = _
  private var centroids: DataFrame = _
  private var graph: DataFrame = _
  private var planes = 0

  // recall inputs, filled by the first run of each operation
  @volatile private var ivfHits = Option.empty[Seq[Row]]
  @volatile private var graphHits = Option.empty[Seq[Row]]
  @volatile private var lshLabels = Option.empty[Map[Long, Long]]
  private lazy val exactTopK: Set[(Long, Long)] =
    Similarity.cosineTopK(queries, emb, topK).select("qid", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
  private lazy val exactPairs: Map[Double, Set[(Long, Long)]] = Seq(lshThreshold, prefixThreshold).map { t =>
    t -> Dedup.jaccardPairs(docs, "doc_id", "text", shingle, t).select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
  }.toMap

  def setup(): Unit = {
    // documents: word salad over a skewed vocabulary; every 20th document
    // is an exact copy and 3 in 20 are near-duplicates of an earlier
    // original (never of a copy, so duplicate clusters stay stars and
    // their shape does not depend on the seed)
    val vocab = (0 until 800).map(i => s"w${Integer.toString(i * 7919 % 100003, 36)}")
    def word() = vocab((vocab.size * math.pow(rng.nextDouble(), 2.5)).toInt)
    val texts = new Array[String](docsN)
    val originals = scala.collection.mutable.ArrayBuffer.empty[Int]
    (0 until docsN).foreach { i =>
      texts(i) =
        if (i < 20 || i % 20 >= 4) {
          originals += i
          Seq.fill(20 + rng.nextInt(60))(word()).mkString(" ")
        } else if (i % 20 == 0) texts(originals(rng.nextInt(originals.size)))
        else {
          val ws = texts(originals(rng.nextInt(originals.size))).split(" ")
          (0 until 1 + rng.nextInt(3)).foreach(_ => ws(rng.nextInt(ws.length)) = word())
          ws.mkString(" ")
        }
    }
    exactDupGroups = texts.groupBy(identity).count(_._2.length > 1).toLong
    docs = spark.createDataFrame(
      texts.toSeq.zipWithIndex.map { case (t, i) => Row(i.toLong, t) }.asJava,
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
      .localCheckpoint()

    // embeddings: 16 seeded centres, vectors scattered around them
    val centres = Vector.fill(16)(Array.fill(dims)(rng.nextGaussian()))
    val vecs = (0 until vecsN + 4 * sliceN).map { i =>
      val c = centres(rng.nextInt(centres.size))
      Row(i.toLong, c.map(x => (x + 0.35 * rng.nextGaussian()).toFloat).toSeq)
    }
    val all = spark.createDataFrame(vecs.asJava, StructType(Seq(
      StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType, containsNull = false)))))
      .localCheckpoint()
    emb = all.where(col("vec_id") < vecsN).localCheckpoint()
    slices = (0 until 4).toVector.map(k =>
      all.where(col("vec_id") >= vecsN + k * sliceN && col("vec_id") < vecsN + (k + 1) * sliceN).localCheckpoint())
    queries = emb.where(col("vec_id") % (vecsN / queriesN) === 0).limit(queriesN).localCheckpoint()
    planes = math.max(4, (math.log(math.max(vecsN / 32.0, 2.0)) / math.log(2.0)).ceil.toInt)
    centroids = Similarity.ivfTrain(emb, k = 16, iters = 2).localCheckpoint()
    graph = Similarity.knnGraph(emb, degree, rounds = 2, planes = planes, dims = dims).localCheckpoint()
  }

  private def hits(rows: Seq[Row]): Long =
    rows.count(r => exactTopK.contains((r.getLong(0), r.getLong(1)))).toLong

  def cycle(n: Int): Seq[Op] = Seq(
    Op("exact_dedup", "read", () => {
      val groups = ctx.span("llm", "exact") {
        Dedup.exact(docs, "doc_id", "text").where(col("dup_cnt") > 1).count()
      }
      Check.now(groups == exactDupGroups)
    }),
    Op("simhash", "read", () => {
      val (rows, ids) = ctx.span("llm", "simhash") {
        val r = Dedup.simhash(docs, "doc_id", "text").agg(count(lit(1)), countDistinct("doc_id")).head()
        (r.getLong(0), r.getLong(1))
      }
      Check.now(rows == docsN && ids == docsN)
    }),
    Op("lsh_dedup", "read", () => {
      val labels = ctx.span("llm", "lshDedupClusters") {
        Dedup.lshDedupClusters(docs, "doc_id", "text", shingle, lshThreshold)
          .select("doc_id", "cluster_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
      Check(() => labels.size == docsN && lshLabels.forall(_ == labels),
        post = () => if (lshLabels.isEmpty) lshLabels = Some(labels))
    }),
    Op("jaccard_prefix", "read", () => {
      val pairs = ctx.span("llm", "jaccardPairsPrefix") {
        Dedup.jaccardPairsPrefix(docs, "doc_id", "text", shingle, prefixThreshold)
          .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      }
      Check(() => pairs == exactPairs(prefixThreshold))
    }),
    Op("ivf_topk", "read", () => {
      val got = ctx.span("llm", "ivfTopK") {
        Similarity.ivfTopK(queries, emb, centroids, topK, nprobe = 3).select("qid", "vec_id").collect().toSeq
      }
      Check(() => got.size == queriesN * topK && hits(got) >= queriesN * topK / 2,
        post = () => if (ivfHits.isEmpty) ivfHits = Some(got))
    }),
    Op("graph_search", "read", () => {
      val got = ctx.span("llm", "graphSearchScored") {
        val visited = Similarity.graphSearchScored(graph, emb, queries, beam = 48, steps = 4, planes, dims,
          probes = planes + 1)
        Similarity.rankTopK(visited, topK).select("qid", "vec_id").collect().toSeq
      }
      Check(() => got.size == queriesN * topK && hits(got) >= queriesN * topK / 2,
        post = () => if (graphHits.isEmpty) graphHits = Some(got))
    }),
    Op("graph_append", "write", () => {
      val slice = slices(n % slices.size)
      val (nodes, fresh) = ctx.span("llm", "knnGraphAppend") {
        val g = Similarity.knnGraphAppend(graph, emb, slice, degree, rounds = 2, planes = planes, dims = dims)
        val r = g.agg(countDistinct("node"), countDistinct(when(col("node") >= vecsN, col("node")))).head()
        (r.getLong(0), r.getLong(1))
      }
      Check.now(nodes == vecsN + sliceN && fresh == sliceN)
    }))

  /** Recall of the first IVF and graph answers against brute force, and of
    * MinHash-LSH clustering against exact jaccard pairs.
    */
  override def endMetrics(): Seq[Metric] = {
    val ann = (ivfHits.toSeq ++ graphHits.toSeq).map(hits).sum.toDouble /
      math.max(1, (ivfHits.size + graphHits.size) * queriesN * topK)
    val pairs = exactPairs(lshThreshold)
    val labels = lshLabels.getOrElse(Map.empty)
    val found = pairs.count { case (a, b) => labels.get(a).exists(l => labels.get(b).contains(l)) }
    val dedup = if (pairs.isEmpty) 1.0 else found.toDouble / pairs.size
    if (ann < 0.5) ctx.fail(f"ann_recall $ann%.3f is below 0.5")
    if (dedup < 0.5) ctx.fail(f"dedup_recall $dedup%.3f is below 0.5")
    Seq(
      Metric("ann_recall", ann, "ratio", s"recall@$topK of IVF and graph-ANN vs cosineTopK"),
      Metric("dedup_recall", dedup, "ratio", s"LSH-clustered pairs / exact pairs at jaccard >= $lshThreshold"))
  }
}
