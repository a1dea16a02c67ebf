package graft.llm

import org.apache.spark.sql.functions._

import graft.SparkSpec

class DedupSpec extends SparkSpec {

  private lazy val docs = graft.core.Tables.documents(spark, sf)

  test("exact dedup is idempotent and conserves rows") {
    import spark.implicits._
    val d1 = Dedup.exact(docs, "doc_id", "text")
    assert(d1.agg(sum($"dup_cnt")).head.getLong(0) == docs.count())
    // applying dedup to the deduped survivors changes nothing
    val survivors = docs.join(d1.select($"keep_id".as("doc_id")), Seq("doc_id"))
    val d2 = Dedup.exact(survivors, "doc_id", "text")
    assert(d2.count() == d1.count())
    assert(d2.filter($"dup_cnt" > 1).count() == 0)
  }

  test("duplicated corpus: every text collapses to one survivor") {
    import spark.implicits._
    val doubled = docs.unionByName(docs.withColumn("doc_id", $"doc_id" + 1000000L))
    val d = Dedup.exact(doubled, "doc_id", "text")
    assert(d.count() == docs.select("text").distinct().count())
    assert(d.filter($"dup_cnt" < 2).count() == 0)
    // min-id survivor: the original, not the shifted copy
    assert(d.filter($"keep_id" >= 1000000L).count() == 0)
  }

  test("LSH candidates cover all true near-duplicate pairs (recall on fixture)") {
    import spark.implicits._
    val truth = Dedup
      .jaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .select("a_id", "b_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(truth.nonEmpty, "fixture should contain planted near-dups")
    val cand = Dedup
      .lshCandidatePairs(docs, "doc_id", "text", 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    // 4 bands x 4 rows at jaccard 0.5: P(collision) = 1-(1-0.5^4)^4 ≈ 0.23 per
    // pair minimum — but planted dups here are ≈0.9+, where recall ≈ 1.
    val high = Dedup
      .jaccardPairs(docs, "doc_id", "text", 3, 0.8)
      .select("a_id", "b_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(high.subsetOf(cand), s"missed: ${high -- cand}")
  }

  test("againstCorpus removes exactly the overlap, keeps the rest") {
    import spark.implicits._
    val corpus = docs.filter($"doc_id" < 100)
    val kept = Dedup.againstCorpus(docs, "text", corpus, "text")
    // corpus texts are gone
    assert(kept.filter($"doc_id" < 100).count() == 0)
    // nothing else lost (all texts distinct in the fixture)
    assert(kept.count() == docs.count() - 100)
    // idempotent
    assert(Dedup.againstCorpus(kept, "text", corpus, "text").count() == kept.count())
  }

  test("stratified hash sample is deterministic and roughly honors fractions") {
    import spark.implicits._
    val fr = Map("en" -> 0.5, "zh" -> 0.0)
    val s1 = Dedup.stratifiedSampleByHash(docs, "doc_id", "lang", fr)
    val s2 = Dedup.stratifiedSampleByHash(docs, "doc_id", "lang", fr)
    assert(s1.orderBy("doc_id").collect().sameElements(s2.orderBy("doc_id").collect()))
    assert(s1.filter($"lang" === "zh").count() == 0)
    val enTotal = docs.filter($"lang" === "en").count().toDouble
    val enKept = s1.filter($"lang" === "en").count().toDouble
    assert(math.abs(enKept / enTotal - 0.5) < 0.15, s"kept ${enKept / enTotal}")
    // unlisted strata keep everything (default fraction 1.0)
    assert(s1.filter($"lang" === "fr").count() == docs.filter($"lang" === "fr").count())
  }

  test("containment threshold surfaces subset pairs that jaccard misses") {
    import spark.implicits._
    // doc B = doc A's text plus a long suffix: A's shingles ⊂ B's shingles
    val a = "alpha beta gamma delta epsilon"
    val b = a + " " + (1 to 40).map(i => s"filler$i").mkString(" ")
    val df = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    // pure jaccard at 0.5: the pair is invisible (inter=3, union=42+)
    assert(Dedup.jaccardPairs(df, "doc_id", "text", 3, 0.5).count() == 0)
    // containment gate finds it: inter / min = 3/3 = 1.0
    val found = Dedup.jaccardPairs(df, "doc_id", "text", 3, 0.5, containmentThreshold = 0.9).collect()
    assert(found.length == 1 && found.head.getDouble(3) == 1.0)
  }

  test("fractional df cap prunes corpus-wide shingles and only shrinks the pair set") {
    import spark.implicits._
    // every doc shares the same boilerplate header; pairs (1,2) and (3,4)
    // are real near-dups beyond it
    val header = "terms of service apply to this document"
    val df = Seq(
      (1L, s"$header quick brown fox jumps over the lazy dog today"),
      (2L, s"$header quick brown fox jumps over the lazy dog tonight"),
      (3L, s"$header completely different payload about spark shuffles here"),
      (4L, s"$header completely different payload about spark shuffles now"),
      (5L, s"$header unrelated text mentioning neither animals nor engines at all"))
      .toDF("doc_id", "text")
    val uncapped = Dedup.jaccardPairs(df, "doc_id", "text", 3, 0.2).collect()
    // cap at 40% of 5 docs = 2: the 5-doc header shingles are pruned
    val capped = Dedup.jaccardPairs(df, "doc_id", "text", 3, 0.2, maxShingleDfFrac = 0.4)
    val cappedPairs = capped.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // real near-dup pairs survive; header-only affinity (e.g. with doc 5) doesn't
    assert(cappedPairs.contains((1L, 2L)) && cappedPairs.contains((3L, 4L)))
    assert(!cappedPairs.exists { case (a, b) => a == 5L || b == 5L })
    // the cap can only shrink jaccard, so the pair set only shrinks
    val uncappedPairs = uncapped.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cappedPairs.subsetOf(uncappedPairs))
  }

  test("bloom decontamination: no false negatives, FP rate bounded, subset of exact") {
    val corpus = docs.filter(col("doc_id") % 7 === 0)
    val exact = Dedup
      .againstCorpus(docs, "text", corpus, "text")
      .select(col("doc_id"))
      .collect()
      .map(_.getLong(0))
      .toSet
    val bloomKept = Dedup
      .againstCorpusBloom(docs, "text", corpus, "text", expectedItems = 1000, fpp = 0.01)
      .select(col("doc_id"))
      .collect()
      .map(_.getLong(0))
      .toSet
    // no false negatives: anything the bloom pass kept, the exact pass kept
    assert(bloomKept.subsetOf(exact), "bloom kept a contaminated doc (false negative)")
    // false positives only shave a bounded sliver off the clean set
    val fpObserved = (exact.size - bloomKept.size).toDouble / math.max(1, exact.size)
    assert(fpObserved <= 0.05, s"bloom over-dropped: observed FP rate $fpObserved > 5%")
    // the bloom-gated EXACT form (pre-filter + confirm join) restores
    // bit-identical anti-join semantics — the registrable q117 contract
    val gatedExact = Dedup
      .againstCorpusBloomExact(docs, "text", corpus, "text", expectedItems = 1000, fpp = 0.01)
      .select(col("doc_id"))
      .collect()
      .map(_.getLong(0))
      .toSet
    assert(gatedExact == exact, "bloom-gated exact decontamination diverged from the anti-join")
  }

  test("LSH dedup clusters refine the exact clusters (candidates ⊆ all pairs)") {
    // LSH can only MISS pairs the exact form finds, never invent them: every
    // LSH cluster must sit inside one exact cluster (refinement), and docs
    // the LSH form clusters must be clustered identically or more coarsely
    // by the exact form.
    val exact = Dedup
      .dedupClusters(docs, "doc_id", "text", 3, 0.2)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    val lsh = Dedup
      .lshDedupClusters(docs, "doc_id", "text", 3, 0.2)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(lsh.keySet == exact.keySet, "both label every document")
    lsh.groupBy(_._2).values.foreach { members =>
      val exactLabels = members.keys.map(exact).toSet
      assert(exactLabels.size == 1, s"LSH cluster spans exact clusters: $members")
    }
    // and at this threshold the banded signatures recover a non-trivial
    // share of the exact clustering (recall sanity, not exactness)
    val exactClustered = exact.count { case (id, c) => id != c }
    val lshClustered = lsh.count { case (id, c) => id != c }
    if (exactClustered > 0)
      assert(lshClustered.toDouble / exactClustered >= 0.5, s"$lshClustered/$exactClustered")
  }

  test("connectedComponents converges on a chain (diameter > 1) and a clique") {
    import spark.implicits._
    // chain 10-11-12-13 forces >1 propagation iteration; clique 20-21-22
    // converges in one; 30-31 is a lone pair
    val edges = Seq(
      (11L, 10L), (11L, 12L), (12L, 13L),
      (20L, 21L), (21L, 22L), (20L, 22L),
      (31L, 30L)).toDF("a", "b")
    val labels = Dedup
      .connectedComponents(edges, "a", "b")
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(Seq(10L, 11L, 12L, 13L).forall(labels(_) == 10L))
    assert(Seq(20L, 21L, 22L).forall(labels(_) == 20L))
    assert(Seq(30L, 31L).forall(labels(_) == 30L))
  }

  test("dedupClusters: one canonical per cluster, members share its label, singletons self-label") {
    val out = Dedup.dedupClusters(docs, "doc_id", "text", 3, 0.2).collect()
    assert(out.length == docs.count())
    val byCluster = out.groupBy(_.getLong(1))
    byCluster.foreach { case (cid, members) =>
      // exactly one canonical per cluster, and it is the min doc_id = cid
      assert(members.count(_.getLong(2) == 1L) == 1, s"cluster $cid")
      assert(members.map(_.getLong(0)).min == cid, s"cluster $cid")
    }
  }

  test("jaccard of an identical pair is 1.0") {
    import spark.implicits._
    // pin the doc by key: limit(1) without order is partition-order-
    // dependent and the two branches may pick different rows
    val one = docs.filter($"doc_id" === 0L)
    val two = one.unionByName(one.withColumn("doc_id", lit(999999L)))
    val p = Dedup.jaccardPairs(two, "doc_id", "text", 3, 0.99).collect()
    assert(p.length == 1 && p.head.getDouble(2) == 1.0)
  }

  test("simhash of identical texts is identical; signature stable across runs") {
    import spark.implicits._
    val s1 = Dedup.simhash(docs, "doc_id", "text").orderBy("doc_id").collect()
    val s2 = Dedup.simhash(docs, "doc_id", "text").orderBy("doc_id").collect()
    assert(s1.sameElements(s2))
    val one = docs.filter($"doc_id" === 0L)
    val two = one.unionByName(one.withColumn("doc_id", lit(999999L)))
    val sh = Dedup.simhash(two, "doc_id", "text").select("simhash").distinct()
    assert(sh.count() == 1)
  }

  test("minhash signatures estimate jaccard for near-identical docs") {
    import spark.implicits._
    val sig = Dedup.minhashSignatures(docs, "doc_id", "text", 3)
    // the 0.98-jaccard planted pair should agree on nearly all components
    val top = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.9).collect()
    if (top.nonEmpty) {
      val (a, b) = (top.head.getLong(0), top.head.getLong(1))
      val ra = sig.filter($"doc_id" === a).head
      val rb = sig.filter($"doc_id" === b).head
      val agree = (1 to 16).count(i => ra.getLong(i) == rb.getLong(i))
      assert(agree >= 12, s"only $agree/16 components agree for pair ($a,$b)")
    }
  }

  test("incrementalAgainstSnapshot equals the full anti-join rescan (snapshot-integrated dedup)") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("dedup_incr").toString
    val dir = s"$base/corpus"
    val corpus = docs.filter($"doc_id" % 10 < 8)
    graft.sources.Sources.writeParquet(corpus.repartition(2), dir)
    val v1 = graft.sources.Snapshots.commit(spark, dir, Seq("doc_id"))
    val fresh = docs.filter($"doc_id" % 10 >= 8)
    val copies = docs
      .filter($"doc_id" % 7 === 0 && $"doc_id" % 10 < 8)
      .withColumn("doc_id", $"doc_id" + lit(10000000L))
    val slice = fresh.unionByName(copies)
    slice.repartition(2).write.mode("append").parquet(dir)
    graft.sources.Snapshots.commit(spark, dir)
    val incr = Dedup
      .incrementalAgainstSnapshot(spark, dir, v1, "text")
      .select($"doc_id")
      .as[Long]
      .collect()
      .sorted
    val full = Dedup
      .againstCorpus(slice, "text", corpus, "text")
      .select($"doc_id")
      .as[Long]
      .collect()
      .sorted
    assert(incr.toSeq == full.toSeq, "incremental path must be bit-identical to the rescan")
    // every planted copy was dropped (fresh docs may also collide with
    // corpus texts naturally — the fixture plants exact dupes — so the
    // survivor count is bounded, not exact)
    assert(incr.forall(_ < 10000000L), "all re-identified copies must be deduped away")
    assert(incr.length <= slice.count() - copies.count())
    assert(incr.nonEmpty)
  }

  // ---- driver path (union-find, driver-side gate) vs the Spark loop ----

  /** The Spark loops, forced by a driver ceiling of zero bytes. */
  private def sparkLoop[A](body: => A): A = Dedup.maxDriverBytes.withValue(0L)(body)

  private def jobsOf(op: => Unit): Int = org.apache.spark.SpecBus.jobsOf(spark.sparkContext)(op)

  /** Space-separated distinct tokens `w<from>` .. `w<until - 1>`. */
  private def words(from: Int, until: Int): String = (from until until).map(i => s"w$i").mkString(" ")

  private def corpusOf(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  // 38 shingles per doc; consecutive docs share 37 (jaccard 37/39 ≈ 0.95),
  // docs two apart 36 (36/40 = 0.9): at 0.92 only neighbours link
  private val chainDocs = (0 until 9).map(i => (i.toLong, words(i, i + 40)))

  /** Name -> (docs, threshold) fixtures for the lshDedupClusters laws. */
  private lazy val clusterFixtures: Seq[(String, org.apache.spark.sql.DataFrame, Double)] = Seq(
    ("chain, diameter 8", corpusOf(chainDocs: _*), 0.92),
    ("clique", corpusOf((0 until 5).map(i => (10L + i, words(0, 30))): _*), 0.9),
    ("singletons", corpusOf((0 until 4).map(i => (20L + i, words(100 * i, 100 * i + 20))): _*), 0.5),
    ("no near-duplicate pair", corpusOf(30L -> words(0, 10), 31L -> words(50, 60)), 0.5),
    // id 40's two rows pool into one 56-shingle set: 41 and 42 each
    // share 28 shingles with it (jaccard 28/57) though each is a near
    // copy of one row; 43 is a copy of 41
    ("repeated doc id", corpusOf(40L -> words(0, 30), 40L -> words(200, 230), 41L -> words(200, 231),
      42L -> words(0, 31), 43L -> words(200, 231)), 0.8),
    ("doc with fewer than n tokens", corpusOf(50L -> "w1 w2", 51L -> words(0, 25), 52L -> words(0, 26),
      53L -> "", 54L -> "w1 w2"), 0.8),
    // 9 shingles inside 10: jaccard 9/10 is exactly the threshold
    ("jaccard equal to the threshold", corpusOf(60L -> words(0, 11), 61L -> words(0, 12)), 0.9))

  test("no near-duplicate pair: every doc labels itself on both paths") {
    import spark.implicits._
    val docs2 = corpusOf(1L -> words(0, 10), 2L -> words(50, 60))
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    for (forced <- Seq(false, true)) {
      def run[A](body: => A): A = if (forced) sparkLoop(body) else body
      assert(run(Dedup.connectedComponents(empty, "a", "b").collect()).isEmpty, s"forced=$forced")
      def labels(rows: Array[org.apache.spark.sql.Row]) = rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val self = Set((1L, 1L, 1L), (2L, 2L, 1L))
      assert(labels(run(Dedup.lshDedupClusters(docs2, "doc_id", "text", 3, 0.5).collect())) == self, s"forced=$forced")
      assert(labels(run(Dedup.dedupClusters(docs2, "doc_id", "text", 3, 0.5).collect())) == self, s"forced=$forced")
    }
  }

  test("clustering parity law: union-find and the driver-side gate equal the Spark loops (rows and schema)") {
    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq.sortBy(_.toString)
    val edgeFixtures = Seq(
      "chain" -> Seq((11L, 10L), (11L, 12L), (12L, 13L), (13L, 14L), (15L, 14L)),
      "clique" -> Seq((20L, 21L), (21L, 22L), (20L, 22L), (23L, 20L), (23L, 21L), (23L, 22L)),
      "singletons" -> Seq((5L, 5L), (7L, 7L)),
      "empty" -> Seq.empty[(Long, Long)],
      "repeated ids" -> Seq((1L, 2L), (1L, 2L), (2L, 1L), (3L, 1L), (3L, 3L), (9L, 3L)))
    val nullable = Seq((Option(4L), Option(3L)), (Option(3L), Option(2L))).toDF("a", "b")
    val withNull = nullable.unionByName(Seq((Option(8L), Option.empty[Long])).toDF("a", "b"))
    for ((name, edges) <- edgeFixtures.map { case (k, es) => k -> es.toDF("a", "b") } ++
        Seq("nullable columns" -> nullable, "a null endpoint" -> withNull)) {
      val driver = Dedup.connectedComponents(edges, "a", "b")
      val loop = sparkLoop(Dedup.connectedComponents(edges, "a", "b"))
      assert(driver.schema == loop.schema, s"$name: ${driver.schema} vs ${loop.schema}")
      assert(rows(driver) == rows(loop), s"$name: components differ")
    }
    for ((name, docs, t) <- clusterFixtures) {
      val driver = Dedup.lshDedupClusters(docs, "doc_id", "text", 3, t)
      val loop = sparkLoop(Dedup.lshDedupClusters(docs, "doc_id", "text", 3, t))
      assert(driver.schema == loop.schema, s"$name: ${driver.schema} vs ${loop.schema}")
      assert(rows(driver) == rows(loop), s"$name: clusters differ")
    }
    // the fixtures exercise what they are named for
    def labels(name: String) = {
      val (_, docs, t) = clusterFixtures.find(_._1 == name).get
      Dedup.lshDedupClusters(docs, "doc_id", "text", 3, t).collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    }
    assert(labels("chain, diameter 8") == (0L until 9L).map(_ -> 0L).toSet)
    assert(labels("clique") == (10L until 15L).map(_ -> 10L).toSet)
    assert(labels("jaccard equal to the threshold") == Set(60L -> 60L, 61L -> 60L))
    assert(labels("repeated doc id") == Set(40L -> 40L, 41L -> 41L, 42L -> 42L, 43L -> 41L))
    assert(labels("doc with fewer than n tokens") ==
      Set(50L -> 50L, 51L -> 51L, 52L -> 51L, 53L -> 53L, 54L -> 54L))
  }

  test("lshDedupClusters job-count law: the same constant number of jobs at diameter 1 and diameter 8") {
    val clique = corpusOf((0 until 9).map(i => (i.toLong, words(0, 40))): _*)
    val chain = corpusOf(chainDocs: _*)
    def jobs(docs: org.apache.spark.sql.DataFrame) =
      jobsOf { Dedup.lshDedupClusters(docs, "doc_id", "text", 3, 0.92).collect(); () }
    val (d1, d8) = (jobs(clique), jobs(chain))
    val (l1, l8) = sparkLoop((jobs(clique), jobs(chain)))
    info(s"driver path: $d1 jobs at diameter 1, $d8 at diameter 8; Spark loop: $l1 and $l8")
    assert(d1 == d8 && d8 <= 8, s"driver path ran $d1 jobs at diameter 1 and $d8 at diameter 8")
    assert(l8 > l1, "the chain fixture must cost the label loop extra rounds")
  }

  test("lshDedupClusters and lshCandidatePairs leave no new cache entry") {
    val docs = corpusOf(chainDocs: _*)
    val runs = Seq[(String, () => Unit)](
      "driver path" -> (() => { Dedup.lshDedupClusters(docs, "doc_id", "text", 3, 0.92).collect(); () }),
      "Spark loop" -> (() => { sparkLoop(Dedup.lshDedupClusters(docs, "doc_id", "text", 3, 0.92).collect()); () }),
      "candidate pairs" -> (() => { Dedup.lshCandidatePairs(docs, "doc_id", "text", 3).collect(); () }))
    for ((name, run) <- runs) {
      val before = org.apache.spark.sql.SpecCache.entries(spark)
      run()
      assert(org.apache.spark.sql.SpecCache.entries(spark) == before, name)
    }
  }
}
