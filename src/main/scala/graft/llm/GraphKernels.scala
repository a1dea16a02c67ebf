package graft.llm

import scala.collection.mutable
import scala.util.DynamicVariable

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{Collect, Det}
import graft.functions.Vectors
import graft.plans.CosineSimExpr

/** The graph-ANN kernels behind [[Similarity.graphSearchScored]] and
  * [[Similarity.knnGraphAppend]]: the same beam search and append as their
  * join loops, run per query and per new node over ONE broadcast index
  * (the vectors sorted by id plus CSR adjacency) collected once per call.
  * A search is one stage over the query panel whatever its hop count; an
  * append is one job per NN-descent round. The join loops paid about eight
  * AQE stage-jobs and a `localCheckpoint` per hop or round, while the
  * index a hop touches is a few hundred KB — fixed per-job cost, not
  * data, was the price.
  *
  * Every number comes from the join loops' own code: the cosine is
  * [[CosineSimExpr.cosine]], the rounding the scalar [[Det.r4]], and LSH
  * buckets, probe buckets, cover buckets and seed-cap hashes are computed
  * by the join loops' Column expressions inside the collecting query.
  * Every cut uses the join loops' window order (sim descending, id
  * ascending), so both paths return identical rows — the parity law in
  * SimilaritySpec. The join loops stay as that law's reference and as the
  * path for an index above [[maxIndexBytes]].
  */
private[llm] object GraphKernels {

  /** Index byte ceiling of the kernel path. A vector costs 8 bytes per
    * id or long column plus its elements, an edge 8 bytes per column. The
    * size is observed while collecting: at most as many rows as the
    * remaining budget could hold, plus one, are read, and an index over
    * the ceiling (or holding a null, a repeated id or an unexpected type)
    * runs the join loops. A constant; specs force the join loops with
    * `withValue(0L)`.
    */
  val maxIndexBytes = new DynamicVariable[Long](32L << 20)

  /** `(vec_id, embedding, longs...)` rows sorted by id: `ids` ascending and
    * unique, `vecs(i)` the embedding of `ids(i)` in the frame's element
    * type, `cols(k)(i)` its k-th long column.
    */
  final class Vecs(
      val ids: Array[Long],
      val vecs: Array[ArrayData],
      val dbl: Boolean,
      val cols: Array[Array[Long]])
      extends Serializable {
    def size: Int = ids.length
    def indexOf(id: Long): Int = java.util.Arrays.binarySearch(ids, id)

    /** `Det.r4(cosine(q, vecs(i)))`, the join loops' scored sim. */
    def sim(q: ArrayData, qDbl: Boolean, i: Int): Double =
      Det.r4(CosineSimExpr.cosine(q, qDbl, vecs(i), dbl))
  }

  private def elemDouble(df: DataFrame, c: String): Option[Boolean] = df.schema(c).dataType match {
    case ArrayType(DoubleType, _) => Some(true)
    case ArrayType(FloatType, _) => Some(false)
    case _ => None
  }

  private def arrayOf(r: Row, i: Int, dbl: Boolean): ArrayData =
    if (dbl) UnsafeArrayData.fromPrimitiveArray(r.getSeq[Double](i).toArray)
    else UnsafeArrayData.fromPrimitiveArray(r.getSeq[Float](i).toArray)

  /** `df` collected when it has at most `maxRows` rows and no null field. */
  private def collectAtMost(df: DataFrame, maxRows: Long): Option[Array[Row]] =
    Collect.atMost(df, maxRows).filterNot(_.exists(_.anyNull))

  /** A `(vec_id, embedding, longs...)` frame as [[Vecs]] and its bytes,
    * when it fits `budget`. `dims` bounds the rows read: a vector holds at
    * least `dims` elements in the embeddings this is built for, and a
    * shorter one only makes the bound conservative.
    */
  private def vecsOf(df: DataFrame, dims: Int, budget: Long): Option[(Vecs, Long)] =
    for {
      dbl <- elemDouble(df, "embedding")
      if df.schema.fields.zipWithIndex.forall { case (f, i) => i == 1 || f.dataType == LongType }
      longs = df.columns.length - 1
      elem = if (dbl) 8L else 4L
      rows <- collectAtMost(df, budget / (8L * longs + elem * math.max(dims, 1)))
      sorted = rows.sortBy(_.getLong(0))
      ids = sorted.map(_.getLong(0))
      if ids.indices.drop(1).forall(i => ids(i) != ids(i - 1))
      vecs = sorted.map(arrayOf(_, 1, dbl))
      bytes = vecs.map(8L * longs + elem * _.numElements()).sum
      if bytes <= budget
    } yield (new Vecs(ids, vecs, dbl, Array.tabulate(longs - 1)(k => sorted.map(_.getLong(2 + k)))), bytes)

  /** `graph`'s `cols` rows (ids long, sim double) when they fit `budget`. */
  private def edgesOf(graph: DataFrame, cols: Seq[String], budget: Long): Option[Array[Row]] = {
    val want = Map("node" -> LongType, "nbr" -> LongType, "sim" -> DoubleType)
    if (!cols.forall(c => graph.columns.contains(c) && graph.schema(c).dataType == want(c))) None
    else collectAtMost(graph.select(cols.map(col): _*), budget / (8L * cols.size))
  }

  /** Positions `0 until n` in the join loops' window order — sim
    * descending in Spark's double order (NaN first, -0.0 equal to 0.0),
    * then id ascending — cut to the first `k`.
    */
  private def top(n: Int, sim: Int => Double, id: Int => Long, k: Int): Array[Int] =
    Array
      .range(0, n)
      .sortWith { (a, b) =>
        val c = SQLOrderingUtil.compareDoubles(sim(b), sim(a))
        c < 0 || (c == 0 && id(a) < id(b))
      }
      .take(math.max(k, 0))

  /** Compressed sparse rows over vector positions: `adj(off(i) until
    * off(i + 1))` are the targets of position `i`.
    */
  private def csr(n: Int, pairs: Seq[(Int, Int)]): (Array[Int], Array[Int]) = {
    val off = new Array[Int](n + 1)
    pairs.foreach { case (a, _) => off(a + 1) += 1 }
    (0 until n).foreach(i => off(i + 1) += off(i))
    val adj = new Array[Int](pairs.size)
    val fill = off.clone()
    pairs.foreach { case (a, b) => adj(fill(a)) = b; fill(a) += 1 }
    (off, adj)
  }

  private val searchSchema = StructType(
    Seq(StructField("qid", LongType), StructField("vec_id", LongType), StructField("sim", DoubleType)))

  /** The corpus side of a search: vectors (their one long column the LSH
    * bucket), the members of each bucket, and each vector's graph
    * neighbors that are corpus vectors (a neighbor outside the corpus
    * never scores in the join loop either).
    */
  final class SearchIndex(vs: Vecs, off: Array[Int], adj: Array[Int]) extends Serializable {
    private val members: Map[Long, Array[Int]] =
      vs.cols(0).indices.toArray.groupBy(vs.cols(0)(_))

    /** One query's visited `(qid, vec_id, sim)` rows: its probe buckets'
      * members plus the `beam` smallest ids, then `steps` hops, each
      * scoring the unvisited neighbors of the best `beam` visited so far.
      * A null query vector scores every candidate null, as the join
      * loop's null-intolerant cosine does.
      */
    def search(q: Row, qDbl: Boolean, beam: Int, steps: Int): Iterator[Row] = {
      if (q.isNullAt(0)) return Iterator.empty
      val qid = q.getLong(0)
      val qe = if (q.isNullAt(1)) null else arrayOf(q, 1, qDbl)
      val seen = new java.util.BitSet(vs.size)
      val order = mutable.ArrayBuffer.empty[Int]
      val sims = mutable.ArrayBuffer.empty[Double]
      def visit(i: Int): Unit =
        if (vs.ids(i) != qid && !seen.get(i)) {
          seen.set(i)
          order += i
          sims += (if (qe == null) 0.0 else vs.sim(qe, qDbl, i))
        }
      q.getSeq[Any](2).foreach { case b: Long => members.get(b).foreach(_.foreach(visit)); case _ => }
      (0 until math.min(beam, vs.size)).foreach(visit)
      (1 to steps).foreach { _ =>
        top(order.size, sims(_), k => vs.ids(order(k)), beam).map(order(_)).foreach { f =>
          (off(f) until off(f + 1)).foreach(e => visit(adj(e)))
        }
      }
      order.indices.iterator.map(k => Row(qid, vs.ids(order(k)), if (qe == null) null else sims(k)))
    }
  }

  /** [[Similarity.graphSearchScored]] as one stage over the query panel
    * (deduplicated by qid, so partitioned by it), or None when the index
    * does not fit [[maxIndexBytes]].
    */
  def search(
      graph: DataFrame,
      corpus: DataFrame,
      queries: DataFrame,
      beam: Int,
      steps: Int,
      planes: Int,
      dims: Int,
      probes: Int): Option[DataFrame] = {
    val budget = maxIndexBytes.value
    for {
      qDbl <- elemDouble(queries, "embedding")
      if queries.schema("vec_id").dataType == LongType
      (vs, bytes) <- vecsOf(
        corpus.select(col("vec_id"), col("embedding"), Vectors.lshBucket(col("embedding"), planes, dims)),
        dims,
        budget)
      edges <- if (steps > 0) edgesOf(graph, Seq("node", "nbr"), budget - bytes) else Some(Array.empty[Row])
    } yield {
      val pairs = edges.toSeq.flatMap { e =>
        val (a, b) = (vs.indexOf(e.getLong(0)), vs.indexOf(e.getLong(1)))
        if (a >= 0 && b >= 0) Some(a -> b) else None
      }
      val (off, adj) = csr(vs.size, pairs)
      val bc = corpus.sparkSession.sparkContext.broadcast(new SearchIndex(vs, off, adj))
      queries
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        .dropDuplicates("qid")
        .select(
          col("qid"),
          col("qe"),
          Similarity.probeBuckets(Vectors.lshBucket(col("qe"), planes, dims), planes, probes))
        .mapPartitions { rows =>
          val ix = bc.value
          rows.flatMap(ix.search(_, qDbl, beam, steps))
        }(Encoders.row(searchSchema))
    }
  }

  /** The union corpus of an append: vectors (long columns: fresh flag,
    * LSH bucket, cover bucket, seed-cap hash) and the graph's undirected
    * adjacency among them. Each bucket holding a new vector keeps its
    * `cap` representatives in the seed order (hash, then id).
    */
  final class AppendIndex(vs: Vecs, off: Array[Int], adj: Array[Int], degree: Int)
      extends Serializable {
    private val Seq(fresh, lsh, cover, seedHash) = vs.cols.toSeq
    val newNodes: Array[Int] = vs.ids.indices.filter(fresh(_) == 1L).toArray
    private def capped(bucket: Array[Long]): Map[Long, Array[Int]] = {
      val wanted = newNodes.map(bucket).toSet
      vs.ids.indices
        .filter(i => wanted(bucket(i)))
        .groupBy(bucket(_))
        .map { case (b, is) => b -> is.sortBy(i => (seedHash(i), vs.ids(i))).take(4 * degree).toArray }
    }
    private val lshCapped = capped(lsh)
    private val coverCapped = capped(cover)
    private val none = Array.empty[Int]

    def isNew(i: Int): Boolean = fresh(i) == 1L

    /** The best `degree` of `u`'s candidates: `(position, sim)`. */
    def keep(u: Int, cands: Array[Int]): Array[(Int, Double)] = {
      val sims = cands.map(vs.sim(vs.vecs(u), vs.dbl, _))
      top(cands.length, sims(_), k => vs.ids(cands(k)), degree).map(k => cands(k) -> sims(k))
    }

    /** New vector `u`'s seeds: the capped members of its LSH and cover buckets. */
    def seeds(u: Int): Array[Int] =
      (lshCapped.getOrElse(lsh(u), none) ++ coverCapped.getOrElse(cover(u), none)).distinct.filter(_ != u)

    /** New vector `u`'s NN-descent candidates: its neighbors, its
      * neighbors' neighbors, and who points at it, over the undirected
      * union of the graph and the new edges (`out`, reversed in `in`).
      */
    def candidates(u: Int, out: Map[Int, Array[Int]], in: Map[Int, Array[Int]]): Array[Int] = {
      def und(x: Int) = adj.slice(off(x), off(x + 1)) ++ out.getOrElse(x, none) ++ in.getOrElse(x, none)
      val fwd = out.getOrElse(u, none)
      (fwd.flatMap(und) ++ und(u) ++ fwd).distinct.filter(_ != u)
    }
  }

  /** [[Similarity.knnGraphAppend]]: seeds and each NN-descent round are
    * one job over the new vectors; back-links and orphan repair run on
    * the driver, which already holds the graph. None when the index does
    * not fit [[maxIndexBytes]].
    */
  def append(
      graph: DataFrame,
      corpus: DataFrame,
      fresh: DataFrame,
      degree: Int,
      rounds: Int,
      planes: Int,
      dims: Int): Option[DataFrame] = {
    if (graph.columns.toSet != Set("node", "nbr", "sim")) return None
    val budget = maxIndexBytes.value
    val all = corpus
      .select(col("vec_id"), col("embedding"), lit(0L).as("fresh"))
      .unionByName(fresh.select(col("vec_id"), col("embedding"), lit(1L).as("fresh")))
    for {
      (vs, bytes) <- vecsOf(
        all.select(
          col("vec_id"),
          col("embedding"),
          col("fresh"),
          Vectors.lshBucket(col("embedding"), planes, dims),
          Similarity.coverBucket(col("vec_id"), planes),
          hash(col("vec_id")).cast("long")),
        dims,
        budget)
      g <- edgesOf(graph, Seq("node", "nbr", "sim"), budget - bytes)
    } yield {
      val spark = corpus.sparkSession
      val sc = spark.sparkContext
      val gRows = g.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      val (off, adj) = csr(
        vs.size,
        gRows.toSeq.flatMap { case (a, b, _) =>
          val (i, j) = (vs.indexOf(a), vs.indexOf(b))
          if (i >= 0 && j >= 0) Seq(i -> j, j -> i) else Nil
        })
      val ix = new AppendIndex(vs, off, adj, degree)
      val bc = sc.broadcast(ix)
      val nodes =
        sc.parallelize(ix.newNodes.toSeq, math.max(1, math.min(ix.newNodes.length, sc.defaultParallelism)))
      // one job per NN-descent step; the new edges so far ride along as
      // a small per-round broadcast
      def step(cands: (AppendIndex, Int) => Array[Int]): Map[Int, Array[(Int, Double)]] =
        if (ix.newNodes.isEmpty) Map.empty
        else nodes.map(u => u -> bc.value.keep(u, cands(bc.value, u))).collect().toMap
      var edges = step((x, u) => x.seeds(u))
      (1 to rounds).foreach { _ =>
        val out = edges.map { case (u, es) => u -> es.map(_._1) }
        val in = out.toSeq
          .flatMap { case (u, ns) => ns.map(_ -> u) }
          .groupMap(_._1)(_._2)
          .map { case (v, us) => v -> us.toArray }
        val st = sc.broadcast((out, in))
        edges = step((x, u) => x.candidates(u, st.value._1, st.value._2))
        st.destroy()
      }
      bc.destroy()
      val newRows = edges.toSeq.sortBy(_._1).flatMap { case (u, es) => es.map { case (v, s) => (u, v, s) } }
      // back-links: an old vector a new edge names adopts the new vector
      // (cosine is symmetric, so the sim carries) and re-cuts to degree
      val incoming = newRows.collect { case (u, v, s) if !ix.isNew(v) => (vs.ids(v), vs.ids(u), s) }
      val touched = incoming.map(_._1).toSet
      val recut = (gRows.toSeq.filter(e => touched(e._1)) ++ incoming)
        .groupBy(_._1)
        .values
        .flatMap { es =>
          val d = es.distinctBy(_._2).toArray
          top(d.length, d(_)._3, d(_)._2, degree).map(d(_))
        }
      // orphan repair: a new vector neither bucketing seeded links to the
      // smallest ids, the build's unconditional-coverage rule
      val anchors = Array.range(0, math.min(degree + 1, vs.size))
      val repaired = ix.newNodes.toSeq
        .filter(u => edges.get(u).forall(_.isEmpty))
        .flatMap(u => ix.keep(u, anchors.filter(_ != u)).map { case (v, s) => (u, v, s) })
      val rows = gRows.toSeq.filterNot(e => touched(e._1)) ++ recut ++
        (newRows ++ repaired).map { case (u, v, s) => (vs.ids(u), vs.ids(v), s) }
      val schema = StructType(
        Seq(StructField("node", LongType), StructField("nbr", LongType), StructField("sim", DoubleType)))
      spark
        .createDataFrame(sc.parallelize(rows.map { case (a, b, s) => Row(a, b, s) }, sc.defaultParallelism), schema)
        .select(graph.columns.toSeq.map(col): _*)
    }
  }
}
