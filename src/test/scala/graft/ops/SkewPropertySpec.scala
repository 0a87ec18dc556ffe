package graft.ops

import graft.SparkSpec

/** Adversarial-skew properties of the near-dup pair generators: one giant
  * duplicate cluster (10% of the corpus identical) is the canonical
  * worst case for inverted-index / LSH blocking — with a cap above the
  * cluster, it alone contributes |C|·(|C|−1)/2 candidate pairs
  * (quadratic), and at corpus scale one such family melts the self-join.
  * The required `maxBucket` / `maxDf` bounds exist exactly for this;
  * these tests pin that they
  * (a) drop the hot blocks, bounding candidates at O(n·cap),
  * (b) leave rare-block pairs untouched, and
  * (c) keep surviving pairs' scores EXACT (computed over all shingles,
  *     not just the surviving blocks).
  * A cap of `n` (the corpus size) is above every group, so it stands in
  * for "no cap" as the reference.
  */
class SkewPropertySpec extends SparkSpec {
  import spark.implicits._

  // 10% giant cluster: 40 of 400 docs share this exact text, so every
  // shingle/band bucket it produces has frequency ≥ 40.
  private val clusterText =
    "tempest prospero miranda ariel caliban ferdinand alonso antonio " +
      "sebastian gonzalo stephano trinculo"
  // planted near-dup pair: differs only in the last word, so 7 of each
  // doc's 8 3-gram shingles are shared and each shared shingle has df=2
  // (rare) — guaranteed to survive blocking with any cap ≥ 2
  private val plantedA =
    "quill vellum parchment scribe codex folio margin gloss rubric incipit"
  private val plantedB =
    "quill vellum parchment scribe codex folio margin gloss rubric colophon"

  private lazy val docs = {
    val cluster = (0 until 40).map(i => (f"dup$i%03d", clusterText))
    // unique filler: every token carries the doc index, so every shingle
    // has df=1 and no accidental hot blocks appear
    val unique = (0 until 358).map(i =>
      (f"uni$i%03d", s"u${i}a u${i}b u${i}c u${i}d u${i}e u${i}f"))
    (cluster ++ unique ++ Seq(("pa", plantedA), ("pb", plantedB)))
      .toDF("doc_id", "text")
  }

  private val clusterPairCount = 40 * 39 / 2 // 780
  private val n = 400 // corpus size: a cap of n never bites

  private def isClusterPair(id1: String, id2: String): Boolean =
    id1.startsWith("dup") && id2.startsWith("dup")

  test("minhashLsh maxBucket drops the giant cluster's buckets and bounds " +
    "candidates at O(n·cap)") {
    val uncapped = DedupOps.minhashLsh(docs, threshold = 0.5, maxBucket = n)
      .select("id1", "id2").as[(String, String)].collect()
    assert(uncapped.count(p => isClusterPair(p._1, p._2)) == clusterPairCount,
      "a cap above every bucket must surface the full quadratic cluster")

    val capped = DedupOps.minhashLsh(docs, threshold = 0.5, maxBucket = 8)
      .select("id1", "id2").as[(String, String)].collect()
    assert(!capped.exists(p => isClusterPair(p._1, p._2)),
      "a 40-doc identical cluster fills every one of its band buckets " +
        "past cap 8 — none of its pairs may be generated")
    // candidate bound: Σ_buckets sz·(sz−1)/2 ≤ cap/2 · Σ sz ≤ cap·n·bands/2
    val bands = 4
    assert(capped.length <= n * bands * 8 / 2,
      s"capped pair count ${capped.length} exceeds the O(n·cap) bound")
  }

  test("ngramJaccard maxDf drops hot-shingle blocks but keeps exact scores " +
    "for rare-block survivors") {
    val uncapped = DedupOps.ngramJaccard(docs, threshold = 0.5, maxDf = n)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(4)))
    assert(uncapped.count(p => isClusterPair(p._1, p._2)) == clusterPairCount)
    val plantedUncapped = uncapped.find(p => p._1 == "pa" && p._2 == "pb")
    assert(plantedUncapped.isDefined, "planted pair missing under cap n")

    val capped = DedupOps.ngramJaccard(docs, threshold = 0.5, maxDf = 8)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(4)))
    assert(!capped.exists(p => isClusterPair(p._1, p._2)),
      "cluster shingles have df=40 > 8 and the cluster shares nothing " +
        "rare — its pairs may not be generated")
    val plantedCapped = capped.find(p => p._1 == "pa" && p._2 == "pb")
    assert(plantedCapped.isDefined,
      "planted pair shares df=2 shingles and must survive the cap")
    // exactness: the cap prunes CANDIDATES, not the score basis — the
    // surviving pair's Jaccard is computed over ALL shingles either way
    assert(plantedCapped.get._3 == plantedUncapped.get._3)
    assert(plantedCapped.get._3 == math.round(7.0 / 9.0 * 1e6) / 1e6)
  }

  test("containmentPairs maxDf shows the same skew discipline") {
    val capped = DedupOps.containmentPairs(docs, threshold = 0.8, maxDf = 8)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(4)))
    assert(!capped.exists(p => isClusterPair(p._1, p._2)))
    val planted = capped.find(p => p._1 == "pa" && p._2 == "pb")
    assert(planted.isDefined)
    assert(planted.get._3 == 0.875) // 7 shared of min(8, 8) shingles
  }

  test("cappedGroupPairs drops an over-cap hot group BEFORE collecting its " +
    "posting list (r17: count window ahead of collect_list)") {
    import spark.implicits._
    // one hot group far over the cap, one group exactly AT the cap, one
    // under it, one with duplicate posting rows (multiplicity semantics),
    // one singleton (no pairs)
    val rows = ((0 until 40).map(i => ("hot", f"h$i%02d")) ++
      (0 until 8).map(i => ("atcap", f"a$i%02d")) ++
      Seq(("small", "s1"), ("small", "s2"), ("small", "s3"),
        ("dups", "d1"), ("dups", "d1"), ("dups", "d2"),
        ("lone", "x1"))).toDF("g", "doc_id")
    val got = DedupOps.cappedGroupPairs(rows, Seq("g"), "doc_id", cap = 8)
    // reference semantics: the strict a<b self-join over capped groups
    val sizes = rows.groupBy("g").count().filter($"count" <= 8).select("g")
    val kept = rows.join(sizes, "g")
    val want = kept.as("a").join(kept.as("b"),
        $"a.g" === $"b.g" && $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("id1"), $"b.doc_id".as("id2"))
      .as[(String, String)].collect().sorted.toSeq
    val gotPairs = got.as[(String, String)].collect().sorted.toSeq
    assert(gotPairs == want, "pair multiset must match the self-join form")
    assert(!gotPairs.exists(_._1.startsWith("h")),
      "the 40-row hot group is over cap 8 and contributes nothing")
    assert(gotPairs.count(p => p._1.startsWith("a")) == 8 * 7 / 2,
      "the exactly-at-cap group survives whole")
    assert(gotPairs.count { case (a, b) => a == "d1" && b == "d2" } == 2,
      "duplicate posting rows keep join multiplicity (m_a·m_b)")
    assert(!gotPairs.contains(("d1", "d1")),
      "a duplicated id never pairs with itself")
    // scale-safety plan shape (VERDICT r16 #1): the hot-group filter is a
    // count window that runs before collect_list, so the over-cap group's
    // list never materializes in one aggregation buffer
    val plan = got.queryExecution.executedPlan.toString
    val lines = plan.linesIterator.toSeq
    val aggAt = lines.indexWhere(_.contains("collect_list"))
    val winAt = lines.indexWhere(_.contains("Window"))
    assert(aggAt >= 0 && winAt > aggAt, // consumers print above producers
      s"count window must feed the collect_list aggregate:\n$plan")
  }

  test("incrementalNearLsh maxBucket drops the corpus cluster's buckets; " +
    "a planted cross pair keeps its exact score") {
    // corpus = the 400-doc skew corpus minus pb; batch = one more copy of
    // the cluster text plus pb. The batch copy's buckets all hit corpus
    // buckets of size 40 > cap 8, so it may pair with nothing.
    val corpus = docs.filter($"doc_id" =!= "pb")
    val batch = Seq(("bdup", clusterText), ("pb", plantedB)).toDF("doc_id", "text")
    def run(cap: Int) = DedupOps.incrementalNearLsh(batch, corpus,
        threshold = 0.5, maxBucket = cap)
      .as[(String, String, Int, Int, Double)].collect()
    val wide = run(n)
    assert(wide.count(_._1 == "bdup") == 40,
      "a cap above every bucket pairs the batch copy with all 40 members")
    val capped = run(8)
    assert(!capped.exists(_._1 == "bdup"),
      "the 40-doc corpus cluster is over cap 8 — its buckets are dropped")
    // 7 shared of 9 distinct 3-gram shingles: the exact Jaccard, as at
    // any cap the pair's band bucket survives
    assert(capped.toSeq == Seq(("pb", "pa", 7, 9, 0.777778)))
    assert(wide.filter(_._1 == "pb").toSeq == capped.toSeq)
  }

  test("dedup_simhash_pairs' cap sits above every fixture's largest " +
    "(band, slice) group") {
    import graft.queries.Dedup.SimhashMaxBucket
    // the query's 4 bands of 8 bits, cut on the driver from the signatures
    def largestGroup(dir: String): Int = {
      val sigs = DedupOps.simhashSignatures(graft.Tables(spark, dir, "documents"))
        .select("simhash").as[Long].collect()
      (0 until 4).flatMap(b => sigs.map(h => (b, (h >> (8 * b)) & 255L)))
        .groupBy(identity).values.map(_.size).max
    }
    val sf01 = new java.io.File(new java.io.File(sf).getParentFile, "sf0.1").getPath
    for (dir <- Seq(sf, sf01)) {
      val largest = largestGroup(dir)
      assert(largest < SimhashMaxBucket,
        s"$dir: largest (band, slice) group $largest reaches the cap " +
          s"$SimhashMaxBucket — the cap would bite and the oracle compare " +
          "would no longer test the unbounded pair set")
    }
  }
}
