package graft.llm

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.Vectors

class SimilaritySpec extends SparkSpec {

  private lazy val emb = graft.core.Tables.embeddings(spark, sf)

  test("native cosine expression is bit-identical to the HOF composition") {
    import spark.implicits._
    val pairs = emb
      .select(col("vec_id"), col("embedding").as("a"))
      .crossJoin(emb.limit(3).select(col("embedding").as("b")))
    val diff = pairs
      .select(
        Vectors.cosine(col("a"), col("b")).as("native"),
        Vectors.cosineHof(col("a"), col("b")).as("hof"))
      .filter($"native" =!= $"hof")
    assert(diff.count() == 0)
  }

  test("native L2-squared expression is bit-identical to the HOF composition") {
    import spark.implicits._
    val pairs = emb
      .select(col("vec_id"), col("embedding").cast("array<double>").as("a"))
      .crossJoin(emb.limit(3).select(col("embedding").cast("array<double>").as("b")))
    val diff = pairs
      .select(
        Similarity.l2sq(col("a"), col("b")).as("native"),
        Similarity.l2sqHof(col("a"), col("b")).as("hof"))
      .filter($"native" =!= $"hof")
    assert(diff.count() == 0)
    // mixed float/double operands dispatch correctly too
    val mixed = emb
      .select(col("embedding").as("f"), col("embedding").cast("array<double>").as("d"))
      .select(Similarity.l2sq(col("f"), col("d")).as("m"))
      .filter($"m" =!= 0.0)
    assert(mixed.count() == 0, "x vs itself (float vs exact double cast) must be 0")
  }

  test("native LSH bucket equals the composed-column form") {
    import spark.implicits._
    val diff = emb
      .select(
        Vectors.lshBucket(col("embedding"), 4, 64).as("native"),
        Vectors.lshBucketComposed(col("embedding"), 4, 64).as("composed"))
      .filter($"native" =!= $"composed")
    assert(diff.count() == 0)
  }

  test("cosine of a vector with itself is 1 (up to fp)") {
    import spark.implicits._
    val sims = emb
      .limit(10)
      .select(Vectors.cosine(col("embedding"), col("embedding")).as("s"))
      .collect()
      .map(_.getDouble(0))
    assert(sims.forall(s => math.abs(s - 1.0) < 1e-9))
  }

  test("brute-force top-k: k rows per query, descending sim, no self-match") {
    import spark.implicits._
    val out = Similarity.cosineTopK(emb.filter($"vec_id" < 5), emb, 10)
    val rows = out.orderBy("qid", "rk").collect()
    assert(rows.length == 50)
    rows.groupBy(_.getLong(0)).foreach { case (qid, rs) =>
      assert(rs.length == 10)
      assert(rs.forall(_.getLong(1) != qid), "self excluded")
      val sims = rs.sortBy(_.getLong(3)).map(_.getDouble(2))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b }, "descending")
    }
  }

  test("int8-quantized top-k tracks full precision: high recall, bounded sim error") {
    import spark.implicits._
    val exact = Similarity
      .cosineTopK(emb.filter($"vec_id" < 5), emb, 10)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    val quant = Similarity
      .quantizedCosineTopK(emb.filter($"vec_id" < 5), emb, 10)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    // recall@10: int8 keeps at least 8 of 10 true neighbors per query
    val byQ = exact.keys.groupBy(_._1)
    byQ.foreach { case (q, keys) =>
      val kept = keys.count(quant.contains)
      assert(kept >= 8, s"query $q: only $kept/10 true neighbors survive quantization")
    }
    // where both rank a pair, the quantized sim is within 2e-2 of exact
    quant.foreach { case (k, s) =>
      exact.get(k).foreach(e => assert(math.abs(s - e) <= 0.02, s"$k: $s vs $e"))
    }
  }

  test("planted duplicate vector is every query's top-1") {
    import spark.implicits._
    val dup = emb.filter($"vec_id" < 5).withColumn("vec_id", $"vec_id" + 100000L)
    val corpus = emb.unionByName(dup)
    val out = Similarity
      .cosineTopK(emb.filter($"vec_id" < 5), corpus, 1)
      .collect()
    out.foreach { r =>
      assert(r.getLong(1) == r.getLong(0) + 100000L, s"query ${r.getLong(0)} top-1 = ${r.getLong(1)}")
      assert(r.getDouble(2) == 1.0)
    }
  }

  test("LSH top-k results are a subset of brute-force candidates with correct sims") {
    import spark.implicits._
    val brute = Similarity
      .cosineTopK(emb.filter($"vec_id" < 5), emb, 1000000)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    val approx = Similarity.lshTopK(emb.filter($"vec_id" < 5), emb, 10, planes = 4, dims = 64).collect()
    assert(approx.nonEmpty)
    approx.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      assert(brute.contains(key) && brute(key) == r.getDouble(2), s"sim mismatch at $key")
    }
  }

  test("IVF with nprobe = k is exactly brute force; smaller nprobe stays consistent") {
    import spark.implicits._
    val queries = emb.filter($"vec_id" < 5)
    val centroids = Similarity.ivfTrain(emb, k = 4, iters = 2)
    assert(centroids.count() == 4)
    val exhaustive = Similarity
      .ivfTopK(queries, emb, centroids, topK = 10, nprobe = 4)
      .orderBy("qid", "rk")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val brute = Similarity
      .cosineTopK(queries, emb, 10)
      .orderBy("qid", "rk")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(exhaustive.toSeq == brute.toSeq)

    // partial probing: valid sims (match brute-force values), k rows per query
    val bruteAll = Similarity
      .cosineTopK(queries, emb, 1000000)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    val approx = Similarity.ivfTopK(queries, emb, centroids, topK = 10, nprobe = 2).collect()
    assert(approx.groupBy(_.getLong(0)).forall(_._2.length == 10))
    approx.foreach(r => assert(bruteAll((r.getLong(0), r.getLong(1))) == r.getDouble(2)))
  }

  test("ivfAppend: frozen-centroid append ≡ full re-encode; search and recall unchanged; drift accounted") {
    import spark.implicits._
    val old = emb.filter($"vec_id" % 5 =!= 0)
    val slice = emb.filter($"vec_id" % 5 === 0)
    val centroids = Similarity.ivfTrain(old, k = 8, iters = 2)
    val oldIdx = Similarity.ivfIndex(old, centroids)
    val sliceIdx = Similarity.ivfIndex(slice, centroids)
    val appended = Similarity.ivfAppend(oldIdx, slice, centroids)
    // index identity: appending against frozen centroids lands every
    // vector in the same cell a full re-encode would
    def cellsOf(df: org.apache.spark.sql.DataFrame) = df
      .select(col("cell").cast("long"), col("vec_id"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(cellsOf(appended) == cellsOf(Similarity.ivfIndex(emb, centroids)))
    // search identity: append-then-search ≡ retrain-free search over union
    val qs = emb.filter($"vec_id" < 5)
    def hits(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val viaAppend = hits(Similarity.ivfTopKIndexed(qs, appended, centroids, topK = 10, nprobe = 3))
    assert(viaAppend == hits(Similarity.ivfTopK(qs, emb, centroids, topK = 10, nprobe = 3)))
    // recall vs exact stays in the ANN envelope (the q165-class floor):
    // append introduced no extra approximation beyond nprobe
    val exact = hits(Similarity.cosineTopK(qs, emb, 10)).map(t => (t._1, t._2))
    val got = viaAppend.map(t => (t._1, t._2))
    val recall = (exact & got).size.toDouble / exact.size
    assert(recall >= 0.5, f"appended-index recall@10 $recall%.2f fell out of the ANN envelope")
    // drift report: every member accounted once; drift is the r6 mean-sim gap
    val rep = Similarity.ivfDriftReport(oldIdx, sliceIdx, centroids)
    val tot = rep.agg(sum($"n_old"), sum($"n_new")).head()
    assert(tot.getLong(0) == old.count() && tot.getLong(1) == slice.count())
    rep.collect().foreach { r =>
      (Option(r.getAs[java.lang.Double]("sim_old")), Option(r.getAs[java.lang.Double]("sim_new"))) match {
        case (Some(o), Some(n)) =>
          assert(math.abs(r.getAs[Double]("drift") - math.floor((o - n) * 1e6 + 0.5) / 1e6) < 1e-9)
        case _ =>
          // one-sided cell: NO drift evidence — a null, never a spurious
          // maximal signal from a coalesced 0 baseline
          assert(r.isNullAt(r.fieldIndex("drift")))
      }
    }
  }

  test("multi-probe LSH recall dominates single-probe against the brute-force top-1") {
    import spark.implicits._
    val queries = emb.filter($"vec_id" < 20)
    val bruteTop1 = Similarity
      .cosineTopK(queries, emb, 1)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    def recall(probes: Int): Double = {
      val hits = Similarity
        .lshTopK(queries, emb, 10, planes = 6, dims = 64, probes = probes)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .toSet
      bruteTop1.count { case (q, v) => hits.contains((q, v)) }.toDouble / bruteTop1.size
    }
    val single = recall(1)
    val multi = recall(2)
    assert(multi >= single, s"multi-probe $multi < single $single")
    assert(multi > 0.0)
  }

  test("semdedup: dropped vectors have an in-cell lower-id neighbor above threshold; keepers don't") {
    val r = graft.queries.VectorQueries.q98(spark, sf).collect()
    assert(r.nonEmpty)
    val dropped = r.filter(_.getAs[Long]("dropped") == 1L).map(_.getAs[Long]("vec_id")).toSet
    // recompute ground truth per cell with the same operator primitives
    val centroids = Similarity.ivfTrain(emb, k = 8, iters = 2)
    val withCell = emb.join(Similarity.assignCells(emb, centroids), Seq("vec_id"))
    val pairs = Similarity
      .nearDupPairsBlocked(withCell, "cell", 0.35)
      .collect()
      .map(x => (x.getAs[Long]("a_id"), x.getAs[Long]("b_id")))
    val expectDropped = pairs.map(_._2).toSet
    assert(dropped == expectDropped)
    val cellOf = withCell
      .select(col("vec_id"), col("cell").cast("long"))
      .collect()
      .map(x => x.getLong(0) -> x.getLong(1))
      .toMap
    pairs.foreach { case (a, b) => assert(cellOf(a) == cellOf(b), "pair crosses cells") }
    // every cell keeps at least one member
    r.groupBy(_.getAs[Long]("cell")).foreach { case (_, rows) =>
      assert(rows.exists(_.getAs[Long]("dropped") == 0L), "a cell lost all members")
    }
  }

  test("blocked near-dup pairs stay within blocks and above threshold") {
    import spark.implicits._
    val out = Similarity.nearDupPairsBlocked(emb, "label", 0.35).collect()
    assert(out.forall(_.getDouble(2) >= 0.35))
    val labels = emb.select($"vec_id", $"label").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    out.foreach(r => assert(labels(r.getLong(0)) == labels(r.getLong(1))))
  }

  test("PQ/ADC: codebook shape, full result sets, and recall vs exact L2") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val queries = emb.filter($"vec_id" < 5)
    val cb = Similarity.pqTrain(emb, mCount = 4, subDim = 16, k = 16)
    val cbRows = cb.collect()
    assert(cbRows.length <= 64 && cbRows.length >= 4, s"codebook size ${cbRows.length}")
    assert(cbRows.map(_.getAs[Int]("m")).toSet == Set(0, 1, 2, 3))
    assert(cbRows.forall(_.getAs[Seq[Double]]("cv").length == 16))

    val pq = Similarity.pqTopK(queries, emb, cb, mCount = 4, subDim = 16, k = 10).collect()
    assert(pq.groupBy(_.getLong(0)).forall(_._2.length == 10), "10 rows per query")
    pq.groupBy(_.getLong(0)).values.foreach { rows =>
      val byRk = rows.sortBy(_.getLong(3))
      assert(byRk.sliding(2).forall {
        case Array(a, b) => a.getDouble(2) <= b.getDouble(2)
        case _ => true
      }, "ADC non-decreasing with rank")
    }
    assert(pq.forall(r => r.getLong(0) != r.getLong(1)), "no self-match")

    // recall@10 against exact full-vector L2 (the metric PQ approximates)
    val q = queries.select($"vec_id".as("qid"), $"embedding".cast("array<double>").as("qe"))
    val c = emb.select($"vec_id", $"embedding".cast("array<double>").as("ve"))
    val w = Window.partitionBy($"qid").orderBy($"d2", $"vec_id")
    val exact = c
      .join(broadcast(q), $"vec_id" =!= $"qid")
      .withColumn("d2", Similarity.l2sq($"qe", $"ve"))
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= 10)
      .select($"qid", $"vec_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val hits = pq.count(r => exact.contains((r.getLong(0), r.getLong(1))))
    val recall = hits.toDouble / exact.size
    info(f"PQ recall@10 = $recall%.2f")
    assert(recall >= 0.2, f"PQ recall $recall%.2f below sanity floor (random ≈ 0.02)")
  }

  test("IVF-PQ with nprobe = all cells degenerates to exactly pure PQ/ADC") {
    import spark.implicits._
    // Probing every cell makes the candidate set the whole corpus, so the
    // two-level search must reproduce pqTopK row for row — the coarse
    // quantizer can only ever REMOVE candidates, never rescore them.
    val queries = emb.filter($"vec_id" < 5)
    val centroids = Similarity.ivfTrain(emb, k = 4, iters = 1)
    val cb = Similarity.pqTrain(emb, mCount = 4, subDim = 16, k = 16)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(3))
    def value(r: org.apache.spark.sql.Row) = (r.getLong(1), r.getDouble(2))
    val full = Similarity.pqTopK(queries, emb, cb, 4, 16, 10)
      .collect().map(r => key(r) -> value(r)).toMap
    val ivfpq = Similarity.ivfPqTopK(queries, emb, centroids, cb, 4, 16, 10, nprobe = 4)
      .collect().map(r => key(r) -> value(r)).toMap
    assert(ivfpq == full, "all-cells IVF-PQ diverged from pure PQ")
    // and with fewer probes the result per (qid, vec) is a SUBSET rescored
    // identically: every surviving pair keeps its full-PQ ADC distance
    val narrow = Similarity.ivfPqTopK(queries, emb, centroids, cb, 4, 16, 10, nprobe = 1)
      .collect()
    val fullByPair = full.map { case ((q, _), (v, ad)) => (q, v) -> ad }
    narrow.foreach { r =>
      fullByPair.get((r.getLong(0), r.getLong(1))).foreach { ad =>
        assert(ad == r.getDouble(2), s"ADC distance changed under cell gating for $r")
      }
    }
  }

  test("graph seeding skew law: an all-one-bucket corpus seeds O(n·cap) pairs, never O(n²)") {
    import spark.implicits._
    // the adversarial shape: every vector hashed into ONE bucket (real
    // embedding corpora are clustered — hot buckets are the expected
    // case, not the corner). The per-bucket nbr-side cap must bound the
    // self-join at n·cap pairs; uncapped it would be n·(n−1).
    val n = 500L
    val cap = 48 // 4 × the q221 degree
    val bk = spark.range(n).select(lit(0L).as("bucket"), $"id".as("vec_id"))
    val pairs = Similarity.seedPairs(bk, cap)
    val count = pairs.count()
    // node side uncapped (every node keeps seeds), nbr side capped: each
    // of the n nodes pairs with the cap representatives, minus the cap
    // self-pairs — exactly n·cap − cap
    assert(count == n * cap - cap, s"seeded $count pairs, expected ${n * cap - cap}")
    assert(count < n * (n - 1) / 4, "seeding must stay far below the quadratic")
    // every node still gets seeded — the cap bounds the NEIGHBOR side only
    assert(pairs.select("node").distinct().count() == n)
    // deterministic: the capped representative set is hash-rank-stable
    assert(pairs.exceptAll(Similarity.seedPairs(bk, cap)).count() == 0)
  }

  test("knnGraphAppend: coverage, degree bound, untouched nodes verbatim, recall parity with rebuild") {
    val c = emb.select(col("vec_id"), col("embedding"))
    val n = c.count()
    val planes = 4
    val old = c.filter(col("vec_id") % 5 =!= 0)
    val slice = c.filter(col("vec_id") % 5 === 0)
    val base = Similarity.knnGraph(old, degree = 12, rounds = 3, planes = planes, dims = 64)
    val appended =
      Similarity.knnGraphAppend(base, old, slice, degree = 12, rounds = 2, planes = planes, dims = 64)
    // structural laws over the UNION corpus: every node listed, bounded
    // degree, no self-loops — the build's unconditional-coverage law
    val deg = appended.groupBy("node").count()
    assert(deg.count() == n, "append must cover old and new nodes")
    assert(deg.filter(col("count") > 12).count() == 0, "degree bound violated by append")
    assert(appended.filter(col("node") === col("nbr")).count() == 0, "self-loop")
    // old nodes NO new edge touched carry over verbatim — the O(slice)
    // work argument, checked literally
    val newIds = slice.select(col("vec_id"))
    val touched = appended
      .join(newIds.select(col("vec_id").as("nbr")), Seq("nbr"), "left_semi")
      .select(col("node"))
      .distinct()
    val untouchedNow = appended
      .join(newIds.select(col("vec_id").as("node")), Seq("node"), "left_anti")
      .join(touched, Seq("node"), "left_anti")
    val untouchedBefore = base
      .join(touched, Seq("node"), "left_anti")
    assert(
      untouchedNow.exceptAll(untouchedBefore).count() == 0 &&
        untouchedBefore.exceptAll(untouchedNow).count() == 0,
      "an old node no new edge touched must keep its list verbatim")
    // deterministic: a re-append is edge-identical
    val again =
      Similarity.knnGraphAppend(base, old, slice, degree = 12, rounds = 2, planes = planes, dims = 64)
    assert(appended.exceptAll(again).count() == 0 && again.exceptAll(appended).count() == 0)
    // recall parity: beam search over the appended graph tracks a FULL
    // REBUILD over the union within the ANN envelope (the q193 law, graph
    // edition) — everything deterministic, so these are fixed numbers
    val rebuilt = Similarity.knnGraph(c, degree = 12, rounds = 3, planes = planes, dims = 64)
    val queries = c.filter(col("vec_id") < 16)
    val beam = math.max(48, (n / 16).toInt)
    def meanRecall(g: org.apache.spark.sql.DataFrame): Double = {
      val visited =
        Similarity.graphSearchScored(g, c, queries, beam, steps = 4, planes, 64, probes = planes + 1)
      val approx = Similarity.rankTopK(visited.select(col("qid"), col("vec_id"), col("sim")), 10)
      Similarity
        .cosineTopK(queries, c, 10)
        .select(col("qid"), col("vec_id"))
        .join(approx.select(col("qid"), col("vec_id")), Seq("qid", "vec_id"), "left_semi")
        .count()
        .toDouble / (16 * 10)
    }
    val viaAppend = meanRecall(appended)
    val viaRebuild = meanRecall(rebuilt)
    info(f"append recall $viaAppend%.3f vs rebuild $viaRebuild%.3f")
    assert(viaAppend >= 0.5, f"appended-graph mean recall $viaAppend%.2f below the navigability floor")
    assert(
      viaAppend >= viaRebuild - 0.15,
      f"append recall $viaAppend%.2f fell more than 0.15 below rebuild $viaRebuild%.2f")
  }

  test("navigable k-NN graph: bounded degree, deterministic build, beam-search recall laws") {
    val c = emb.select(col("vec_id"), col("embedding"))
    val n = c.count()
    val planes = 4
    val graph = Similarity.knnGraph(c, degree = 12, rounds = 3, planes = planes, dims = 64)
    // structural laws: bounded out-degree, no self-loops, every node present
    val deg = graph.groupBy("node").count()
    assert(deg.filter(col("count") > 12).count() == 0, "degree bound violated")
    assert(deg.count() == n, "every node must have a neighbor list")
    assert(graph.filter(col("node") === col("nbr")).count() == 0, "self-loop")
    // deterministic: a rebuild is edge-identical
    val graph2 = Similarity.knnGraph(c, degree = 12, rounds = 3, planes = planes, dims = 64)
    assert(graph.exceptAll(graph2).count() == 0 && graph2.exceptAll(graph).count() == 0)
    // search: recall@10 against the exact baseline on a 16-query panel —
    // structureless gaussian data is the navigable-graph worst case, so
    // the floors are deliberately honest: per-query ≥ 0.2, mean ≥ 0.5,
    // and strictly better than chance by orders of magnitude
    val queries = c.filter(col("vec_id") < 16)
    val beam = math.max(48, (n / 16).toInt)
    val visited =
      Similarity.graphSearchScored(c, c, queries, beam, steps = 0, planes, 64) // steps=0: entries only
    val visitedFull =
      Similarity.graphSearchScored(graph, c, queries, beam, steps = 4, planes, 64, probes = planes + 1)
    val approx = Similarity.rankTopK(visitedFull.select(col("qid"), col("vec_id"), col("sim")), 10)
    val exact = Similarity.cosineTopK(queries, c, 10)
    val hits = exact
      .select(col("qid"), col("vec_id"))
      .join(approx.select(col("qid"), col("vec_id")), Seq("qid", "vec_id"), "left_semi")
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("n_hit"))
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    (0L until 16L).foreach { q =>
      assert(hits.getOrElse(q, 0L) >= 2L, s"query $q recall@10 below floor: ${hits.get(q)}")
    }
    val mean = hits.values.sum.toDouble / (16 * 10)
    assert(mean >= 0.5, s"panel mean recall@10 $mean below 0.5")
    // hops help: the full walk recalls at least as much as entries alone
    val entryHits = exact
      .select(col("qid"), col("vec_id"))
      .join(
        Similarity.rankTopK(visited.select(col("qid"), col("vec_id"), col("sim")), 10)
          .select(col("qid"), col("vec_id")),
        Seq("qid", "vec_id"),
        "left_semi")
      .count()
    assert(hits.values.sum >= entryHits, "beam hops must not lose recall vs entries alone")
    // the walk stays sublinear-shaped: nobody visited (nearly) everything
    // the q221 budget bound: visits never exceed the search's own fixed
    // (corpus-independent) budget — the sublinearity claim at scale
    val maxVisited = visitedFull.groupBy("qid").count().agg(max("count")).head().getLong(0)
    val budget = (planes + 1).toLong * 64L + beam.toLong + 4L * beam.toLong * 12L
    assert(maxVisited <= budget, s"a query visited $maxVisited > budget $budget (n=$n)")
  }

  // ---- graph-ANN kernels: parity with the join loops, job counts -------

  private def jobsOf(op: => Unit): Int = org.apache.spark.SpecBus.jobsOf(spark.sparkContext)(op)

  /** Rows with each double as its raw bits: equal means equal to the bit. */
  private def bits(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] =
    df.collect()
      .map(r => (r.getLong(0), r.getLong(1), java.lang.Double.doubleToRawLongBits(r.getDouble(2))))
      .toSeq
      .sorted

  /** The join loops, forced by an index ceiling of zero bytes. */
  private def joinLoop[A](body: => A): A = GraphKernels.maxIndexBytes.withValue(0L)(body)

  test("scalar Det.r4 equals the Column form on exact halves, negatives and NaN") {
    import spark.implicits._
    val xs = Seq(0.0, -0.0, 0.00005, -0.00005, 0.00015, -0.00015, 0.03125, -0.03125, 0.12345, -0.98765,
      1.0, -1.0, 0.99995, -0.99995, 1e-300, -1e-300, 123456.78905, Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, Double.MaxValue, Double.MinPositiveValue)
    val viaColumn = xs.toDF("x").select(graft.core.Det.r4($"x")).collect().map(_.getDouble(0))
    xs.zip(viaColumn).foreach { case (x, c) =>
      val k = graft.core.Det.r4(x)
      assert(java.lang.Double.doubleToRawLongBits(k) == java.lang.Double.doubleToRawLongBits(c), s"r4($x): $k vs $c")
    }
  }

  test("graph search kernel ≡ forced join loop: steps 0/1/4, probes 1/planes+1, tied sims") {
    val c = emb.select(col("vec_id"), col("embedding"))
    val planes = 4
    val graph = Similarity.knnGraph(c, degree = 12, rounds = 2, planes = planes, dims = 64)
    val queries = c.filter(col("vec_id") < 16)
    val beam = math.max(48, (c.count() / 16).toInt)
    def both(g: org.apache.spark.sql.DataFrame, corpus: org.apache.spark.sql.DataFrame, steps: Int, probes: Int) = {
      val kernel = GraphKernels.search(g, corpus, queries, beam, steps, planes, 64, probes)
      assert(kernel.isDefined, "the fixture index must fit the kernel path")
      val join = joinLoop(Similarity.graphSearchScored(g, corpus, queries, beam, steps, planes, 64, probes))
      val (k, j) = (bits(kernel.get), bits(join))
      assert(k.nonEmpty && k == j, s"steps=$steps probes=$probes: kernel ${k.size} rows vs join loop ${j.size}")
    }
    for (steps <- Seq(0, 1, 4); probes <- Seq(1, planes + 1)) both(graph, c, steps, probes)
    // tied sims: every vector twice under two ids, so every sim ties and
    // each beam cut falls on the id tie-break
    val tied = c.unionByName(c.select((col("vec_id") + 100000L).as("vec_id"), col("embedding")))
    both(Similarity.knnGraph(tied, degree = 12, rounds = 1, planes = planes, dims = 64), tied, 4, planes + 1)
  }

  test("graph append kernel ≡ forced join loop: rounds 0/2, a slice with an orphan") {
    import spark.implicits._
    val c = emb.select(col("vec_id"), col("embedding"))
    val planes = 4
    val old = c.filter(col("vec_id") % 5 =!= 0)
    val slice = c.filter(col("vec_id") % 5 === 0)
    val base = Similarity.knnGraph(old, degree = 12, rounds = 2, planes = planes, dims = 64)
    def both(g: org.apache.spark.sql.DataFrame, o: org.apache.spark.sql.DataFrame, f: org.apache.spark.sql.DataFrame,
        degree: Int, rounds: Int) = {
      val kernel = GraphKernels.append(g, o, f, degree, rounds, planes, 64)
      assert(kernel.isDefined, "the fixture index must fit the kernel path")
      val join = joinLoop(Similarity.knnGraphAppend(g, o, f, degree, rounds, planes, 64))
      val (k, j) = (bits(kernel.get), bits(join))
      assert(k.nonEmpty && k == j, s"rounds=$rounds: kernel ${k.size} edges vs join loop ${j.size}")
      k
    }
    Seq(0, 2).foreach(r => both(base, old, slice, 12, r))
    // the orphan: a fresh vector alone in its LSH bucket (opposite to a
    // one-cluster corpus) and in its cover bucket, so neither bucketing
    // seeds it and only orphan repair gives it edges
    val rnd = new scala.util.Random(7)
    def near(sign: Float) = Array.fill(64)(sign * (1f + 0.05f * rnd.nextFloat()))
    val cover = (ids: Seq[Long]) =>
      ids.toDF("vec_id").select(Similarity.coverBucket(col("vec_id"), planes)).as[Long].collect().toSeq
    val oldIds = (0L until 6L)
    val taken = cover(oldIds :+ 6L).toSet
    val orphan = (1000L until 1100L).find(id => !taken(cover(Seq(id)).head)).get
    val small = oldIds.map(i => (i, near(1f))).toDF("vec_id", "embedding")
    val fresh = Seq((6L, near(1f)), (orphan, near(-1f))).toDF("vec_id", "embedding")
    val smallBase = Similarity.knnGraph(small, degree = 3, rounds = 1, planes = planes, dims = 64)
    Seq(0, 2).foreach { r =>
      val edges = both(smallBase, small, fresh, 3, r)
      val repaired = edges.filter(_._1 == orphan).map(_._2)
      assert(repaired == Seq(0L, 1L, 2L), s"orphan $orphan edges $repaired: repair links the smallest ids")
    }
  }

  test("graph-ANN job-count law: a search's jobs do not grow with steps, an append's with rounds + a constant") {
    val c = emb.select(col("vec_id"), col("embedding"))
    val planes = 4
    val graph = Similarity.knnGraph(c, degree = 12, rounds = 2, planes = planes, dims = 64)
    val queries = c.filter(col("vec_id") < 16)
    def search(steps: Int) = jobsOf {
      Similarity
        .rankTopK(Similarity.graphSearchScored(graph, c, queries, 48, steps, planes, 64, probes = planes + 1), 10)
        .collect()
      ()
    }
    val (s1, s4) = (search(1), search(4))
    info(s"search jobs: steps=1 $s1, steps=4 $s4")
    assert(s1 == s4 && s4 <= 8, s"search ran $s1 jobs at steps=1 and $s4 at steps=4")
    val old = c.filter(col("vec_id") % 5 =!= 0)
    val slice = c.filter(col("vec_id") % 5 === 0)
    val base = Similarity.knnGraph(old, degree = 12, rounds = 2, planes = planes, dims = 64)
    val rounds = 2
    val appendJobs = jobsOf {
      Similarity.knnGraphAppend(base, old, slice, 12, rounds, planes, 64).count()
      ()
    }
    info(s"append jobs at rounds=$rounds: $appendJobs")
    assert(appendJobs <= rounds + 10, s"append + count ran $appendJobs jobs at rounds=$rounds")
  }
}
