package graft.ops

import graft.{SparkSpec, Tables}
import graft.ops.MultimodalOps.StubDecoder
import org.apache.spark.sql.functions._

/** Extension-operator invariants beyond the oracle gate. */
class ExtOpsSpec extends SparkSpec {
  import spark.implicits._

  test("multimodal: mapPartitions stub decoder matches the SQL twin") {
    val docs = Tables(spark, sf, "documents")
    val viaUdf = MultimodalOps.decodeMeta(
      MultimodalOps.withBlob(docs), new StubDecoder)
    val viaSql = MultimodalOps.blobMetaSql(docs)
    assert(viaUdf.exceptAll(viaSql).isEmpty && viaSql.exceptAll(viaUdf).isEmpty)
  }

  test("multimodal: stub decoder matches the SQL twin on NON-ASCII text") {
    // regression: the stub folded UTF-8 BYTES while blobMetaSql folds
    // codepoints — width/height diverged on the first multi-byte char
    val docs = Seq((1L, "café au lait"), (2L, "日本語テキスト"), (3L, "plain ascii"))
      .toDF("doc_id", "text")
    val viaUdf = MultimodalOps.decodeMeta(
      MultimodalOps.withBlob(docs), new StubDecoder)
    val viaSql = MultimodalOps.blobMetaSql(docs)
    assert(viaUdf.exceptAll(viaSql).isEmpty && viaSql.exceptAll(viaUdf).isEmpty)
  }

  test("weightedSample: fractional weights fail loud instead of silently dropping the corpus") {
    // regression: cast-to-long truncation made wmax = 0 for scores in
    // (0,1) and the keep test dropped EVERY row with no error
    val frac = Seq((1L, 0.9), (2L, 0.4)).toDF("doc_id", "quality")
    val e = intercept[Exception] {
      CorpusOps.weightedSample(frac, "quality").collect()
    }
    assert(e.getMessage != null)
    // integral weights pass and the heaviest row is kept with certainty
    val ints = Seq((1L, 900000L), (2L, 400000L)).toDF("doc_id", "quality")
    val kept = CorpusOps.weightedSample(ints, "quality")
      .select("doc_id").as[Long].collect().toSet
    assert(kept.contains(1L))
    // NULL weights are excluded from the sample, not a job abort
    val withNull = Seq((1L, Some(900000L)), (2L, Option.empty[Long]))
      .toDF("doc_id", "quality")
    val sampled = CorpusOps.weightedSample(withNull, "quality")
      .select("doc_id").as[Long].collect().toSet
    assert(sampled == Set(1L))
  }

  test("incrementalBloom: sizing past the session caps raises them for the build only") {
    val bitsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    val itemsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
    val (bits0, items0) = (spark.conf.get(bitsKey), spark.conf.get(itemsKey))
    val batch = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    val corpus = Seq((10L, "a")).toDF("doc_id", "text")
    val out = DedupOps.incrementalBloom(batch, corpus,
      expectedItems = 100000000L, fpp = 0.03)
    assert(out.select("doc_id").as[Long].collect().toSet == Set(2L))
    // the caps were raised only around the filter build and restored —
    // leaving them raised would size the optimizer's own runtime filters
    // on unrelated joins at this caller's ask for the whole session
    assert(spark.conf.get(bitsKey) == bits0)
    assert(spark.conf.get(itemsKey) == items0)
  }

  test("multimodal: feature extraction yields stable fixed-dim vectors usable by ANN") {
    val docs = Tables(spark, sf, "documents").limit(50)
    val feats = MultimodalOps.extractFeatures(MultimodalOps.withBlob(docs), dim = 16)
    assert(feats.columns.toSeq == Seq("vec_id", "embedding"))
    val rows = feats.collect()
    assert(rows.length == 50)
    assert(rows.forall(_.getSeq[Float](1).length == 16))
    // deterministic: second run identical
    val again = MultimodalOps.extractFeatures(MultimodalOps.withBlob(docs), dim = 16).collect()
    assert(rows.map(_.toString).sorted.sameElements(again.map(_.toString).sorted))
    // plugs into similarity search
    val knn = SimilarityOps.bruteForceTopK(feats.limit(2), feats, k = 3)
    assert(knn.count() == 6)
  }

  test("multimodal: frame sampling emits strided windows") {
    import org.apache.spark.sql.functions.{col => c}
    val docs = Tables(spark, sf, "documents").limit(5)
    val frames = MultimodalOps.sampleFrames(MultimodalOps.withBlob(docs))
    assert(frames.columns.toSeq == Seq("doc_id", "frame_idx", "frame_bytes"))
    assert(frames.count() >= 5) // at least one frame per doc
  }

  test("minhash LSH finds every exact duplicate (jaccard 1 pairs)") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"), // exact dup of 1
      (3L, "totally different words here now")
    ).toDF("doc_id", "text")
    val pairs = DedupOps.minhashLsh(docs, threshold = 0.9)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("minhash LSH maxBucket drops giant duplicate clusters from blocking") {
    val cluster = (1L to 30L).map(i => (i, "same text repeated in every copy"))
    val distinct = Seq((100L, "a genuinely different document body"),
      (101L, "a genuinely different document text"))
    val docs = (cluster ++ distinct).toDF("doc_id", "text")
    val uncapped = DedupOps.minhashLsh(docs, threshold = 0.0)
    assert(uncapped.count() >= 30L * 29 / 2) // the cluster dominates
    val capped = DedupOps.minhashLsh(docs, threshold = 0.0, maxBucket = 10)
    val cappedPairs = capped.select("id1", "id2").as[(Long, Long)].collect()
    // cluster buckets (30 docs) dropped; only small-bucket candidates remain
    assert(cappedPairs.forall { case (a, b) => a >= 100L && b >= 100L })
  }

  test("simhash of identical docs is identical; pairs respect hamming bound") {
    val docs = Seq(
      (1L, "one two three four five six"),
      (2L, "one two three four five six"),
      (3L, "completely unrelated content entirely")
    ).toDF("doc_id", "text")
    val sig = DedupOps.simhashSignatures(docs)
      .as[(Long, Long)].collect().toMap
    assert(sig(1L) == sig(2L))
    val pairs = DedupOps.simhashPairs(docs, maxHamming = 3, bands = 4)
      .select("id1", "id2", "hamming").as[(Long, Long, Int)].collect()
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0))
    assert(pairs.forall(_._3 <= 3))
  }

  test("brute-force topK returns k ordered neighbors per query") {
    val emb = Tables(spark, sf, "embeddings")
    val out = SimilarityOps.bruteForceTopK(emb.filter(col("vec_id") < 3), emb, k = 5)
    val byQuery = out.select("query_id", "rank", "cos")
      .as[(Long, Int, Double)].collect().groupBy(_._1)
    assert(byQuery.size == 3)
    byQuery.values.foreach { rows =>
      assert(rows.length == 5)
      val sorted = rows.sortBy(_._2).map(_._3)
      assert(sorted.zip(sorted.tail).forall { case (a, b) => a >= b })
    }
  }

  test("IVF topK: k results per query, ranked, with nonzero brute-force recall") {
    val emb = Tables(spark, sf, "embeddings")
    val qs = emb.filter(col("vec_id") < 3)
    val ivf = SimilarityOps.ivfTopK(qs, emb, k = 5, nlist = 8, nprobe = 3, iters = 2)
      .select("query_id", "rank", "neighbor_id")
      .as[(Long, Int, Long)].collect()
    val brute = SimilarityOps.bruteForceTopK(qs, emb, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val byQuery = ivf.groupBy(_._1)
    assert(byQuery.size == 3)
    byQuery.values.foreach(rows => assert(rows.length == 5))
    val hits = ivf.count(r => brute.contains((r._1, r._3)))
    assert(hits > 0, "IVF should recall at least one true neighbor")
  }

  test("residual IVF-PQ: deterministic, ranked, and recalls true neighbors") {
    val emb = Tables(spark, sf, "embeddings")
    val qs = emb.filter(col("vec_id") < 4)
    def run() = SimilarityOps.ivfPqTopKTrainedInt(qs, emb, k = 5,
      nlist = 4, nprobe = 2, m = 8, ncode = 16, iters = 2)
    val a = run().collect()
    val b = run().collect()
    // training + encoding are order-independent integer arithmetic, so
    // two independent builds must be bit-identical
    assert(a.toSeq == b.toSeq)
    val byQuery = a.groupBy(_.getLong(0))
    assert(byQuery.size == 4)
    byQuery.values.foreach { rows =>
      assert(rows.map(_.getInt(1)).sorted.toSeq == (1 to 5))
      val adcs = rows.sortBy(_.getInt(1)).map(_.getLong(3))
      assert(adcs.zip(adcs.tail).forall { case (x, y) => x <= y })
    }
    val brute = SimilarityOps.bruteForceTopK(qs, emb, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val hits = a.count(r => brute.contains((r.getLong(0), r.getLong(2))))
    assert(hits > 0, "residual IVF-PQ should recall at least one true neighbor")
  }

  test("r16 fused seed collect: driver argmin replica equals the Column path") {
    // ivfPqTopKTrainedInt now derives the PQ seed residuals on the driver
    // (nearestCidLocal) instead of a second corpus-wide TakeOrdered; this
    // pins the replica bit-equal to the cluster-side nearestCoarse column
    // on the real embeddings, for the exact seed rows the fusion touches
    val emb = Tables(spark, sf, "embeddings")
    val corp = emb.select(col("vec_id"),
      SimilarityOps.gridCodes(col("embedding"), 512).as("cv"))
    val seeds = corp.orderBy(col("vec_id")).limit(16)
      .select(col("cv")).collect().map(_.getSeq[Long](0)).toSeq
    val cents = SimilarityOps.trainCoarseInt(corp, "vec_id", 4, 2,
      Some(seeds.take(4)))
    val clusterSide = corp
      .withColumn("cid", SimilarityOps.nearestCoarse(col("cv"), cents))
      .orderBy(col("vec_id")).limit(16)
      .select(col("cv"), col("cid")).collect()
    assert(clusterSide.length == 16)
    clusterSide.foreach { r =>
      assert(SimilarityOps.nearestCidLocal(r.getSeq[Long](0), cents) ==
        r.getInt(1))
    }
  }

  test("trained PQ encode/tabs: argmin codes, tie to lowest, degenerate zeros") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    // m=2 subspaces of sub=2 dims, ncode=2: books laid out
    // [(s*ncode+c)*sub+d] — subspace 0 centroids (0,0)/(10,10),
    // subspace 1 centroids (5,5)/(5,5) (exact tie -> code 0)
    val books = Array[Long](0, 0, 10, 10, 5, 5, 5, 5)
    def arr(xs: Long*) = new GenericArrayData(xs.toArray)
    val codes = graft.functions.PqTrainedExprs.encode(arr(9, 9, 7, 7), books, 2, 2, 2)
    assert(codes.toIntArray().toSeq == Seq(1, 0))
    val tabs = graft.functions.PqTrainedExprs.tabs(arr(9, 9, 7, 7), books, 2, 2, 2)
    val t0 = tabs.getArray(0).toLongArray().toSeq
    val t1 = tabs.getArray(1).toLongArray().toSeq
    assert(t0 == Seq(81L + 81L, 1L + 1L) && t1 == Seq(4L + 4L, 4L + 4L))
    // wrong-length input -> all-zero codes and tables
    assert(graft.functions.PqTrainedExprs.encode(arr(1, 2, 3), books, 2, 2, 2)
      .toIntArray().toSeq == Seq(0, 0))
    assert(graft.functions.PqTrainedExprs.tabs(arr(1, 2, 3), books, 2, 2, 2)
      .getArray(0).toLongArray().toSeq == Seq(0L, 0L))
  }

  test("trained-int IVF: probing every list equals exact integer brute force") {
    val emb = Tables(spark, sf, "embeddings")
    val qs = emb.filter(col("vec_id") < 4)
    // nprobe = nlist probes every inverted list, so the approximate path
    // must coincide exactly with brute force in the same integer space
    // (nlist = 1, iters = 0 puts the whole corpus in one scanned list)
    val full = SimilarityOps.ivfTopKTrainedInt(qs, emb, k = 5,
      nlist = 4, nprobe = 4, iters = 2)
    val brute = SimilarityOps.ivfTopKTrainedInt(qs, emb, k = 5,
      nlist = 1, nprobe = 1, iters = 0)
    assert(full.exceptAll(brute).isEmpty && brute.exceptAll(full).isEmpty)
  }

  test("fixed-centroid IVF: assignment is shuffle-free and results are ranked") {
    val emb = Tables(spark, sf, "embeddings")
    // the nearest-centroid assignment must be a narrow projection: no
    // Exchange anywhere in its physical plan
    val assigned = emb.select(col("vec_id"),
      SimilarityOps.nearestCentroid(col("embedding"),
        SimilarityOps.lcgCentroids(8, 64)).as("cid"))
    val plan = assigned.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"assign plan must not shuffle:\n$plan")
    assert(assigned.select("cid").distinct().count() <= 8)

    val out = SimilarityOps.ivfTopKFixed(emb.filter(col("vec_id") < 3), emb,
      k = 5, nlist = 8, nprobe = 2)
      .select("query_id", "rank", "cos").as[(Long, Int, Double)].collect()
    val byQuery = out.groupBy(_._1)
    assert(byQuery.size == 3)
    byQuery.values.foreach { rows =>
      assert(rows.length == 5)
      val sorted = rows.sortBy(_._2).map(_._3)
      assert(sorted.zip(sorted.tail).forall { case (a, b) => a >= b })
    }
  }

  test("ivfAutoParams: anchored √N rule, clamped and probe-floored") {
    // the SCALE.md anchor points: 8k -> (16, 4); 128k -> (64, 16);
    // 100M -> ~1.8k lists with the probed fraction held at 1/4
    assert(SimilarityOps.ivfAutoParams(8000L) == ((16, 4)))
    assert(SimilarityOps.ivfAutoParams(128000L) == ((64, 16)))
    val (bigList, bigProbe) = SimilarityOps.ivfAutoParams(100000000L)
    assert(bigList == 1789 && bigProbe == bigList / 4)
    // tiny corpus: formula floors at one list (brute force), nprobe at 1;
    // the ≤N clamp guards the regime where rounding could exceed N
    assert(SimilarityOps.ivfAutoParams(2L) == ((1, 1)))
    assert(SimilarityOps.ivfAutoParams(500L) == ((4, 1)))
    // auto variant equals the fixed variant at the derived sizes
    val emb = Tables(spark, sf, "embeddings")
    val (nl, np) = SimilarityOps.ivfAutoParams(emb.count())
    val auto = SimilarityOps.ivfTopKAuto(emb.filter(col("vec_id") < 3), emb, k = 5)
    val fixed = SimilarityOps.ivfTopKFixed(emb.filter(col("vec_id") < 3), emb,
      k = 5, nlist = nl, nprobe = np)
    assert(auto.exceptAll(fixed).isEmpty && fixed.exceptAll(auto).isEmpty)
  }

  test("ngramJaccard df-cap drops hot-shingle blocks but keeps exact scores") {
    // 100 docs all share the universal token; docs (2i, 2i+1) also share a
    // rare pair token. Uncapped blocking would generate 100*99/2 = 4950
    // candidates off the universal token alone.
    val docs = (0 until 100).map { i =>
      (i.toLong, s"universal pair_${i / 2} only_$i")
    }.toDF("doc_id", "text")
    val out = DedupOps.ngramJaccard(docs, threshold = 0.0, n = 1, maxDf = 10)
      .select("id1", "id2", "inter", "uni", "jaccard")
      .as[(Long, Long, Int, Int, Double)].collect()
    // candidates come only from the rare pair tokens: one pair per couple
    assert(out.length == 50)
    // exact Jaccard over ALL shingles: inter=2 (universal + pair), uni=4
    assert(out.forall(r => r._3 == 2 && r._4 == 4 && r._5 == 0.5))
    // uncapped: same pairs at threshold 0.5, plus the hot-only pairs at 0
    val uncapped = DedupOps.ngramJaccard(docs, threshold = 0.0, n = 1)
    assert(uncapped.count() == 4950)
  }

  test("LSH topK result is a subset of brute-force candidates (same bucket)") {
    val emb = Tables(spark, sf, "embeddings")
    val lsh = SimilarityOps.lshTopK(emb.filter(col("vec_id") < 3), emb, k = 5)
    assert(lsh.count() <= 15)
    assert(lsh.filter(col("cos") > 1.0 || col("cos") < -1.0).count() == 0)
  }

  test("sessionize splits on gap and counts sessions monotonically") {
    val base = 1700000000000000L
    val ev = Seq(
      (1L, 1L, base, 1.0),
      (2L, 1L, base + 60L * 1000000, 1.0),            // same session (+1 min)
      (3L, 1L, base + 4000L * 1000000, 1.0),          // new session (+>30 min)
      (4L, 2L, base, 1.0)
    ).toDF("event_id", "user_id", "us", "value")
      .withColumn("ts", timestamp_micros(col("us"))).drop("us")
    val out = SessionOps.sessionStats(ev)
      .select("user_id", "session_seq", "n_events")
      .as[(Long, Long, Long)].collect().toSet
    assert(out == Set((1L, 1L, 2L), (1L, 2L, 1L), (2L, 1L, 1L)))
  }

  test("funnelStages: strict order, greedy first-match, off-funnel events ignored") {
    val base = 1700000000000000L
    def ev(rows: (Long, Long, Long, String)*) =
      rows.toSeq.toDF("event_id", "user_id", "us", "event_type")
        .withColumn("ts", timestamp_micros(col("us"))).drop("us")
    val steps = Seq("view", "click", "purchase")
    val events = ev(
      // user 1: full funnel with noise interleaved
      (1L, 1L, base, "view"), (2L, 1L, base + 1, "error"),
      (3L, 1L, base + 2, "click"), (4L, 1L, base + 3, "purchase"),
      // user 2: purchase BEFORE view/click — order matters, stage 1
      (5L, 2L, base, "purchase"), (6L, 2L, base + 1, "view"),
      // user 3: never enters the funnel
      (7L, 3L, base, "error"),
      // user 4: view then purchase without click — stalls at 1
      (8L, 4L, base, "view"), (9L, 4L, base + 1, "purchase"))
    val out = SessionOps.funnelStages(events, steps)
      .as[(Long, Int)].collect().toMap
    assert(out == Map(1L -> 3, 2L -> 1, 3L -> 0, 4L -> 1))
    // same-timestamp tiebreak is event_id: click(id 10) before purchase(id 11)
    val tie = ev((10L, 9L, base, "view"), (11L, 9L, base + 1, "click"),
      (12L, 9L, base + 1, "purchase"))
    assert(SessionOps.funnelStages(tie, steps).as[(Long, Int)].collect().toMap
      == Map(9L -> 3), "equal-ts events must order by event_id")
  }

  test("cohortRetention: triangle counts by first-active day") {
    val day = 86400000000L
    val events = Seq(
      (1L, 1L, 0L), (2L, 1L, 2 * day),            // user 1: day 0, day 2
      (3L, 2L, 0L), (4L, 2L, 0L + 1L),            // user 2: day 0 twice
      (5L, 3L, day), (6L, 3L, 2 * day)            // user 3: day 1, day 2
    ).toDF("event_id", "user_id", "us")
      .withColumn("ts", timestamp_micros(col("us"))).drop("us")
    val out = SessionOps.cohortRetention(events)
      .as[(Long, Long, Long)].collect().toSet
    assert(out == Set((0L, 0L, 2L), (0L, 2L, 1L), (1L, 0L, 1L), (1L, 1L, 1L)))
  }

  test("split assignment is deterministic, content-stable and exhaustive") {
    val docs = Tables(spark, sf, "documents")
    val out = CorpusOps.splitAssign(docs)
    assert(out.count() == docs.count())
    // every row lands in exactly one named split
    val bySplit = out.groupBy("split").count()
      .as[(String, Long)].collect().toMap
    assert(bySplit.keySet.subsetOf(Set("train", "val", "test")))
    assert(bySplit.values.sum == docs.count())
    assert(bySplit("train") > bySplit.getOrElse("val", 0L))
    // stable under corpus growth: the same doc keeps its split in a subset
    val subset = CorpusOps.splitAssign(docs.limit(100))
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    val full = out.select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(subset.forall { case (id, s) => full(id) == s })
  }

  test("vocabulary: union-of-passes form matches the one-pass countDistinct reference") {
    // r17: vocabulary() computes df from the per-doc-distinct gram pass
    // and tf from the instance pass, unioned into ONE vocab-keyed
    // aggregate (the corpus-scale (term, doc_id) exchange is gone). This
    // pins value equality against the old one-pass spelling on a corpus
    // with within-doc repeats (df must dedup), case variance (lowering),
    // df/tf ties (ordering) and an empty document.
    val docs = Seq(
      (1L, "the The THE cat"),       // 'the' x3 in one doc -> df 1, tf 3
      (2L, "the cat cat"),
      (3L, "dog dog dog dog"),
      (4L, "cat dog bird"),
      (5L, "")                       // no terms
    ).toDF("doc_id", "text")
    val out = CorpusOps.vocabulary(docs, k = 10)
      .as[(String, Long, Long)].collect().toSeq
    val ref = docs.select(col("doc_id"),
        explode(graft.functions.CrossHash.tokens(lower(col("text")))).as("term"))
      .groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).as("df"), count(lit(1)).as("tf"))
      .orderBy(col("df").desc, col("tf").desc, col("term").asc)
      .limit(10).as[(String, Long, Long)].collect().toSeq
    assert(out == ref)
    assert(out.head == (("cat", 3L, 4L)))   // df ties with 'the' (3), tf wins
    assert(out.map(_._1).contains("bird"))
  }

  test("boilerplate fraction flags shared n-grams and keeps short docs") {
    val docs = Seq(
      (1L, "common boiler plate text here"),
      (2L, "common boiler plate text there"),
      (3L, "completely unique words nothing shared"),
      (4L, "ab") // too short for a 3-gram
    ).toDF("doc_id", "text")
    val out = CorpusOps.duplicatedNgramFraction(docs, n = 3)
      .select("doc_id", "n_grams", "n_dup", "dup_fraction")
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    // docs 1/2 share "common boiler plate" and "boiler plate text"
    assert(out(1L)._3 == 2 && out(1L)._2 == 3)
    assert(out(2L)._3 == 2)
    assert(out(3L)._3 == 0 && out(3L)._4 == 0.0)
    assert(out(4L)._2 == 0 && out(4L)._4 == 0.0) // present, zeroed
  }

  test("winnowing: identical docs share all fingerprints, short docs emit none") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"), // identical
      (3L, "totally different words appear in this one here"),
      (4L, "too short") // < n+window-1 tokens → no full window
    ).toDF("doc_id", "text")
    val fps = TextOps.winnowFingerprints(docs)
      .as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(fps(1L) == fps(2L) && fps(1L).nonEmpty)
    assert((fps(1L) & fps(3L)).isEmpty)
    assert(!fps.contains(4L))
    // guaranteed detection: docs sharing a run of ≥ window+n-1 = 6 tokens
    val overlap = Seq(
      (10L, "one two three four five six seven unique1 unique2"),
      (11L, "zz one two three four five six seven other words")
    ).toDF("doc_id", "text")
    val ofps = TextOps.winnowFingerprints(overlap)
      .as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert((ofps(10L) & ofps(11L)).nonEmpty)
  }

  test("winnowPairs finds shared-passage pairs; df cap drops boilerplate fps") {
    val passage = "the quick brown fox jumps over the lazy dog today"
    val docs = Seq(
      (1L, s"intro words here $passage closing remarks"),
      (2L, s"$passage and then some completely different tail content"),
      (3L, "nothing in common with anybody else at all whatsoever here")
    ).toDF("doc_id", "text")
    val pairs = TextOps.winnowPairs(docs, minShared = 2)
      .as[(Long, Long, Long)].collect()
    assert(pairs.map(p => (p._1, p._2)).toSet == Set((1L, 2L)))
    assert(pairs.head._3 >= 2) // long shared run → several shared minima
    // a fingerprint present in every doc is boilerplate: with maxDf = 1
    // nothing survives blocking, so no pairs at all
    val boiler = Seq(
      (1L, passage), (2L, passage), (3L, passage)
    ).toDF("doc_id", "text")
    assert(TextOps.winnowPairs(boiler, minShared = 1, maxDf = 1).isEmpty)
    // identical pair below the cap is found with all fps shared
    val twin = TextOps.winnowPairs(boiler.where("doc_id <= 2"), minShared = 1, maxDf = 2)
      .as[(Long, Long, Long)].collect()
    assert(twin.map(p => (p._1, p._2)).toSet == Set((1L, 2L)))
  }

  test("pqTopK: k rows per query; an exact duplicate achieves the minimum ADC") {
    val emb = Tables(spark, sf, "embeddings")
    val q = emb.filter(col("vec_id") === 3L)
    // plant an exact twin of the query under a fresh id
    val twin = q.select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    val out = SimilarityOps.pqTopK(q,
        emb.select(col("vec_id"), col("embedding")).unionByName(twin), k = 5)
      .as[(Long, Int, Long, Double)].collect().sortBy(_._2)
    assert(out.length == 5 && out.map(_._2).toSeq == (1 to 5))
    // the twin's codes are the argmins of the query's own ADC tables, so
    // nothing can score below it; rank-1 adc == the twin's adc
    val twinAdc = out.find(_._3 == 1000003L).map(_._4)
    assert(twinAdc.contains(out.head._4),
      s"duplicate must achieve the minimal ADC: $twinAdc vs ${out.head._4}")
  }

  test("PqCodesExpr: native codes match the declarative struct-argmin chain") {
    val emb = Tables(spark, sf, "embeddings").limit(200)
    val books = SimilarityOps.pqCodebooks(8, 16, 8)
    val native = SimilarityOps.pqCodes(col("embedding"), 8, 16, 8)
    val chain = (0 until 8).map(s =>
      SimilarityHof.pqCodeHof(col("embedding"), s, 8, books(s)).cast("int"))
    val mismatches = emb.select(col("vec_id"), native.as("n"),
        array(chain: _*).as("h"))
      .filter(col("n") =!= col("h")).count()
    assert(mismatches == 0)
  }

  test("PqAdcTabsExpr: native ADC tables match the declarative fold chains") {
    val emb = Tables(spark, sf, "embeddings").limit(200)
    val books = SimilarityOps.pqCodebooks(8, 16, 8)
    val native = SimilarityOps.pqAdcTabs(col("embedding"), 8, 16, 8)
    val chain = array((0 until 8).map(s => array(books(s).map(cv =>
      SimilarityHof.sliceDist(col("embedding"), s, 8, cv)): _*)): _*)
    val mismatches = emb.select(native.as("n"), chain.as("h"))
      .filter(col("n") =!= col("h")).count()
    assert(mismatches == 0)
  }

  test("ivfPqTopK: duplicate lands in the rank-1 probed list and achieves minimal ADC") {
    val emb = Tables(spark, sf, "embeddings")
    val q = emb.filter(col("vec_id") === 3L)
    val twin = q.select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    val out = SimilarityOps.ivfPqTopK(q,
        emb.select(col("vec_id"), col("embedding")).unionByName(twin), k = 5)
      .as[(Long, Int, Long, Double)].collect().sortBy(_._2)
    assert(out.nonEmpty && out.map(_._2).toSeq == (1 to out.length))
    // identical vector → identical coarse assignment (always probed) and
    // argmin codes of the query's own ADC tables → nothing scores below it
    val twinAdc = out.find(_._3 == 1000003L).map(_._4)
    assert(twinAdc.contains(out.head._4),
      s"duplicate must achieve the minimal ADC: $twinAdc vs ${out.head._4}")
    // probing prunes: results are a subset of the full-scan PQ ranking's pool
    val full = SimilarityOps.pqTopK(q,
        emb.select(col("vec_id"), col("embedding")).unionByName(twin), k = 1000000)
      .as[(Long, Int, Long, Double)].collect().map(r => r._3 -> r._4).toMap
    out.foreach { case (_, _, n, adc) => assert(full(n) == adc) }
  }

  test("quantizeEmbeddings: codes in [0,255], extremes map to ends, constant vec to 0") {
    val vecs = Seq(
      (1L, Seq(0.0f, 0.5f, 1.0f, 0.25f)),
      (2L, Seq(3.0f, 3.0f, 3.0f, 3.0f)) // constant → all 0
    ).toDF("vec_id", "embedding")
    val out = SimilarityOps.quantizeEmbeddings(vecs)
      .as[(Long, Int, Int, Double, Double)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    val v1 = out(1L)
    assert(v1.forall(r => r._3 >= 0 && r._3 <= 255))
    assert(v1(0)._3 == 0)          // min element → 0
    assert(v1(2)._3 >= 254)        // max element → top code (FP div may dip 1)
    assert(v1(1)._3 == 127)        // midpoint → floor(127.5)
    assert(v1.head._4 == 0.0 && v1.head._5 == 1.0)
    assert(out(2L).forall(_._3 == 0))
    // round trip: dequantized value within one step of the original
    v1.foreach { case (_, d, q, mn, mx) =>
      val x = Seq(0.0, 0.5, 1.0, 0.25)(d)
      assert(math.abs(mn + q * (mx - mn) / 255.0 - x) <= (mx - mn) / 255.0 + 1e-12)
    }
  }

  test("oovStats: corpus-relative rarity, zero-token docs kept") {
    // 10 docs: "common" appears in all, "rare7" only in doc 7
    val docs = (1L to 10L).map(i =>
      (i, if (i == 7L) "common rare7 common" else "common common")).toDF("doc_id", "text")
    // threshold 0.15 * 10 docs = df <= 1.5 → only rare7 (df 1) is rare
    val out = TextOps.oovStats(docs, maxDfFraction = 0.15)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(out(7L)._2 == 3 && out(7L)._3 == 1 && out(7L)._4 == 0.333333)
    assert(out(1L)._3 == 0 && out(1L)._4 == 0.0)
    // empty-text doc keeps a row with zeros
    val withEmpty = docs.union(Seq((11L, "")).toDF("doc_id", "text"))
    val e = TextOps.oovStats(withEmpty, maxDfFraction = 0.15)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(e(11L)._2 == 0 && e(11L)._3 == 0 && e(11L)._4 == 0.0)
  }

  test("exact dedup groups identical texts") {
    val docs = Seq((5L, "same"), (9L, "same"), (7L, "other")).toDF("doc_id", "text")
    val out = DedupOps.exact(docs).as[(Long, Long)].collect().toSet
    assert(out == Set((5L, 2L), (7L, 1L)))
    // digest form is row-identical
    val dig = DedupOps.exactByDigest(docs).as[(Long, Long)].collect().toSet
    assert(dig == out)
  }

  test("stratified sample: exactly k per stratum, deterministic, growth-stable") {
    val docs = Tables(spark, sf, "documents")
    val out = CorpusOps.stratifiedSample(docs, k = 5)
      .as[(String, Int, Long)].collect()
    val perLang = out.groupBy(_._1).view.mapValues(_.length).toMap
    assert(perLang.values.forall(_ == 5))
    assert(out.groupBy(_._1).values.forall(_.map(_._2).sorted.sameElements(1 to 5)))
    // growth stability: the picked SET for a stratum only shrinks-or-keeps
    // when other strata change — rerun over a corpus with extra docs of a
    // DIFFERENT lang and the 'en' picks must be unchanged
    val extra = Seq((100001L, "filler filler", "xx", "s", 13L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val grown = CorpusOps.stratifiedSample(docs.unionByName(extra), k = 5)
      .as[(String, Int, Long)].collect()
    assert(grown.filter(_._1 == "en").toSet == out.filter(_._1 == "en").toSet)
  }

  test("length quantiles: monotone per stratum and exact on a known fixture") {
    val docs = Seq(
      (1L, "a b c d"), (2L, "a b"), (3L, "a b c d e f"), (4L, "a")
    ).map { case (i, t) => (i, t, "en") }.toDF("doc_id", "text", "lang")
    val row = CorpusOps.lengthQuantiles(docs, qs = Seq(0.25, 0.5, 0.75))
      .as[(String, Long, Double, Double, Double)].collect().head
    // token counts {1,2,4,6}: p25 = 1.75, p50 = 3.0, p75 = 4.5 (linear interp)
    assert(row == (("en", 4L, 1.75d, 3.0d, 4.5d)))
  }

  test("sequence packing: contiguous offsets, capacity-aligned chunks") {
    val docs = Seq(
      (1L, "a b c", "en"),        // 3 tokens, start 0, chunk 0
      (2L, "d e f g", "en"),      // 4 tokens, start 3, chunk 0
      (3L, "h i", "en"),          // 2 tokens, start 7, chunk 1 (cap 5)
      (4L, "x", "fr")             // separate stratum restarts at 0
    ).toDF("doc_id", "text", "lang")
    val out = CorpusOps.packSequences(docs, capacity = 5)
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._2 -> ((r._1, r._3, r._4, r._5))).toMap
    assert(out(1L) == (("en", 3L, 0L, 0L)))
    assert(out(2L) == (("en", 4L, 3L, 0L)))
    assert(out(3L) == (("en", 2L, 7L, 1L)))
    assert(out(4L) == (("fr", 1L, 0L, 0L)))
  }

  test("semDedup: duplicates in a shared cluster drop, lowest id survives") {
    // identical vectors must land in the same centroid cell and dedup
    // within it; the orthogonal-ish singleton survives untouched
    val v = Seq(1f, 0f, 0f, 0f)
    val w = Seq(0f, 1f, 0f, 0f)
    val embs = Seq((3L, v), (9L, v), (5L, w)).toDF("vec_id", "embedding")
    val out = DedupOps.semDedup(embs, threshold = 0.9, nlist = 2, dims = 4)
      .as[(Long, Int, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(out.size == 3, "one row per input vector")
    assert(out(3L)._2 == out(9L)._2, "identical vectors share a centroid")
    assert(out(3L)._3 && !out(9L)._3, "lower id keeps, duplicate drops")
    assert(out(5L)._3, "non-duplicate survives")
    assert(out.values.forall(r => r._2 >= 0 && r._2 < 2), "cid within nlist")
  }

  test("sorted-neighborhood window: covers the block when wide, adjacency when narrow") {
    // 6 near-identical vectors (one dup family) + 1 orthogonal, all in
    // arbitrary id order — the projection ranks the family adjacently,
    // so even maxPrev=1 must find a chain through the whole family
    val mk = (eps: Float) => Seq(1f, eps, 0f, 0f)
    val family = Seq(40L, 7L, 23L, 91L, 2L, 55L).zipWithIndex.map {
      case (id, i) => (id, mk(i * 1e-4f))
    }
    val embs = (family :+ (77L, Seq(0f, 1f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    // a window at least as wide as the block == the exact all-pairs form
    val exact = DedupOps.embeddingNearDup(embs, threshold = 0.99,
        blockCol = "vec_id", idCol = "vec_id", dims = 4)
    val wide = DedupOps.embeddingNearDup(embs, threshold = 0.99,
        blockCol = "vec_id", idCol = "vec_id", dims = 4, maxPrev = 100)
    assert(exact.collect().toSet == wide.collect().toSet)
    // semDedup with maxPrev=1: adjacent-rank chain still drops every
    // family member except the lowest id reachable through the chain —
    // here projections are monotone in eps, so each drops against its
    // rank predecessor wherever the predecessor has the lower id
    val out = DedupOps.semDedup(embs, threshold = 0.999, nlist = 2,
        dims = 4, maxPrev = 6)
      .as[(Long, Int, Boolean)].collect().map(r => r._1 -> r._3).toMap
    assert(out(77L), "orthogonal singleton survives")
    assert(out(2L), "lowest family id survives")
    assert(Seq(40L, 7L, 23L, 91L, 55L).forall(id => !out(id)),
      "every other family member drops inside the window")
  }

  test("unigramLogProb: exact NLL on a known fixture, split-invariant, empty doc kept") {
    // counts: a=3, b=1, c=1, total=5
    val docs = Seq((1L, "a a b"), (2L, "a c"), (3L, "")).toDF("doc_id", "text")
    def run(frac: Double) = TextOps.unigramLogProb(docs, commonMassFraction = frac)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    val out = run(5e-4)
    // doc1: -(2 ln(3/5) + ln(1/5)) / 3 ; doc2: -(ln(3/5) + ln(1/5)) / 2
    assert(out(1L) == ((1L, 3L, 0.877030)))
    assert(out(2L) == ((2L, 2L, 1.060132)))
    assert(out(3L) == ((3L, 0L, 0.0)))
    // the hot/tail frequency split is a physical choice, never a result
    // change: all-hot (0) and all-tail (1.0) agree with the default
    assert(run(0.0) == out && run(1.0) == out)
  }

  test("containmentPairs: subset doc scores 1.0 where jaccard stays low; hot shingles blocked") {
    val docs = Seq(
      (1L, "x y z w"),  // superset
      (2L, "x y"),      // contained: containment 1.0, jaccard 0.5
      (3L, "q r")       // disjoint
    ).toDF("doc_id", "text")
    val out = DedupOps.containmentPairs(docs, threshold = 0.8, n = 1, maxDf = 10)
      .as[(Long, Long, Int, Int, Double)].collect()
    assert(out.toSeq == Seq((1L, 2L, 2, 2, 1.0)))
    // same pair under jaccard scores 2/4 — below a 0.8 bar
    val jac = DedupOps.ngramJaccard(docs, threshold = 0.8, n = 1, maxDf = 10)
    assert(jac.count() == 0)
    // a blocking cap below the shared-shingle df hides the pair: both
    // shared shingles (x, y) have df 2 > maxDf 1
    val capped = DedupOps.containmentPairs(docs, threshold = 0.8, n = 1, maxDf = 1)
    assert(capped.count() == 0)
  }

  test("knnClassify: majority label wins, ties break on smaller label") {
    val q = Seq((0L, Seq(1f, 0f, 0f, 0f), -1)).toDF("vec_id", "embedding", "label")
    val corpus = Seq(
      (10L, Seq(1f, 0f, 0f, 0f), 1),
      (11L, Seq(0.9f, 0.1f, 0f, 0f), 1),
      (12L, Seq(0.8f, 0.2f, 0f, 0f), 1),
      (13L, Seq(0f, 1f, 0f, 0f), 2),
      (14L, Seq(0f, 0.9f, 0.1f, 0f), 2)
    ).toDF("vec_id", "embedding", "label")
    val k3 = SimilarityOps.knnClassify(q, corpus, k = 3)
      .as[(Long, Int, Long)].collect()
    assert(k3.toSeq == Seq((0L, 1, 3L)), "3 nearest are all label 1")
    // k=5 → 3 votes for 1, 2 for 2; k=4 → 3:1; k=2 → 2:0
    val k5 = SimilarityOps.knnClassify(q, corpus, k = 5)
      .as[(Long, Int, Long)].collect()
    assert(k5.toSeq == Seq((0L, 1, 3L)))
    // force a tie: two corpus points, one of each label, equal distance
    // patterns — tie breaks on label asc
    val tie = SimilarityOps.knnClassify(q,
      Seq((20L, Seq(0f, 1f, 0f, 0f), 7), (21L, Seq(0f, 0f, 1f, 0f), 3))
        .toDF("vec_id", "embedding", "label"), k = 2)
      .as[(Long, Int, Long)].collect()
    assert(tie.toSeq == Seq((0L, 3, 1L)))
  }

  test("knnClassify: labels keep their source type (string labels survive)") {
    // regression: pred_label was force-cast to int, which threw under ANSI
    // for any non-numeric label column — the op is generic over labelCol
    val q = Seq((0L, Seq(1f, 0f, 0f, 0f), "?")).toDF("vec_id", "embedding", "label")
    val corpus = Seq(
      (10L, Seq(1f, 0f, 0f, 0f), "spam"),
      (11L, Seq(0.9f, 0.1f, 0f, 0f), "spam"),
      (12L, Seq(0f, 1f, 0f, 0f), "ham")
    ).toDF("vec_id", "embedding", "label")
    val out = SimilarityOps.knnClassify(q, corpus, k = 3)
    assert(out.schema("pred_label").dataType == org.apache.spark.sql.types.StringType)
    assert(out.as[(Long, String, Long)].collect().toSeq == Seq((0L, "spam", 2L)))
  }

  test("canonicalizeUrl: case, www, ports, fragments, tracking params, slashes") {
    val cases = Seq(
      // scheme+host lowercased; path case preserved
      "HTTPS://Example.COM/Path" -> "https://example.com/Path",
      // www + default port + trailing slash
      "http://www.Example.com:80/" -> "http://example.com",
      "https://example.com:443/a/" -> "https://example.com/a",
      // non-default port survives; :80 not a prefix-match of :8080
      "http://example.com:8080/a" -> "http://example.com:8080/a",
      // fragment dropped
      "https://example.com/a#sec" -> "https://example.com/a",
      // tracking params dropped wherever they sit; real params survive
      "https://example.com/a?utm_source=x" -> "https://example.com/a",
      "https://example.com/a?utm_source=x&id=5" -> "https://example.com/a?id=5",
      "https://example.com/a?id=5&utm_campaign=y&fbclid=z" -> "https://example.com/a?id=5",
      "https://example.com/a?gclid=1&utm_a=2&utm_b=3" -> "https://example.com/a",
      // everything at once
      "HTTP://WWW.Example.COM:80/p/?id=1&utm_x=9#f" -> "http://example.com/p/?id=1")
    val got = cases.map(_._1).toDF("u")
      .select(TextOps.canonicalizeUrl(col("u"))).as[String].collect()
    got.zip(cases).foreach { case (g, (in, want)) =>
      assert(g == want, s"canonicalizeUrl($in) = $g, want $want")
    }
  }

  test("paragraphDedup keeps the globally-first occurrence and rebuilds docs") {
    val docs = Seq(
      (1L, "alpha\n\nshared one\n\nbeta"),
      (2L, "shared one\n\ngamma\n\nshared one"), // dup of doc1's para + self-dup
      (3L, "shared one"),                        // entire doc is a dup → empty rebuild
      (4L, "  \n\n ")                            // whitespace-only paras → no row
    ).toDF("doc_id", "text")
    val out = DedupOps.paragraphDedup(docs)
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 3L, 3L, "alpha\n\nshared one\n\nbeta")))
    assert(out(2L) == ((2L, 3L, 1L, "gamma")))
    assert(out(3L) == ((3L, 1L, 0L, "")))
    assert(!out.contains(4L))
  }

  test("editVerifiedPairs: exact dup at distance 0, small edit within bound, rest cut") {
    val base = "spark table scan join column order small sort fast value hash slow"
    val docs = Seq(
      (1L, base), (2L, base),                       // exact dup -> dist 0
      (3L, base.replace("column", "colunm")),        // transposition-ish edit
      (4L, "the a big merge group stream filter row key vector data window")
    ).toDF("doc_id", "text")
    val out = DedupOps.editVerifiedPairs(docs, maxDist = 10)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(out((1L, 2L)) == 0L)
    // the small edit shifts shingles but few chars: if LSH still blocks
    // the pair, its distance must be the 2-char edit
    out.get((1L, 3L)).foreach(d => assert(d == 2L))
    assert(!out.keySet.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("paragraphDedup matches a driver-side reference on random corpora") {
    // differential fuzz: 3 seeded corpora of word-bag paragraphs with
    // heavy cross-doc repetition vs an in-memory reference implementation
    for (seed <- Seq(7, 21, 99)) {
      val rnd = new scala.util.Random(seed)
      val paraPool = Seq.tabulate(12)(i => s"para pool text ${i}")
      val corpus = Seq.tabulate(40) { d =>
        val n = 1 + rnd.nextInt(5)
        (d.toLong, Seq.fill(n)(paraPool(rnd.nextInt(paraPool.size))).mkString("\n\n"))
      }
      // reference: first (doc, idx) occurrence of each paragraph wins
      val seen = scala.collection.mutable.Set.empty[String]
      val want = corpus.map { case (id, text) =>
        val ps = text.split("\n\n", -1).filter(_.trim.nonEmpty)
        val kept = ps.filter(p => seen.add(p))
        id -> ((ps.length.toLong, kept.length.toLong, kept.mkString("\n\n")))
      }.toMap
      val got = DedupOps.paragraphDedup(corpus.toDF("doc_id", "text"))
        .as[(Long, Long, Long, String)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      assert(got == want, s"seed $seed mismatch")
    }
  }

  test("repetition stats flag degenerate repeated text") {
    val docs = Seq(
      (1L, "spam spam spam spam"),          // one word 4×: top_word_frac 1
      (2L, "the quick brown fox jumps"),    // all distinct
      (3L, "")                              // empty → zeros, no crash
    ).toDF("doc_id", "text")
    val out = TextOps.repetitionStats(docs)
      .as[(Long, Long, Double, Long, Double, Double)]
      .collect().map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 4L, 1.0d, 3L, 1.0d, 1.0d)))
    assert(out(2L)._2 == 5L && out(2L)._3 == 0.2d && out(2L)._6 == 0.0d)
    assert(out(3L) == ((3L, 0L, 0.0d, 0L, 0.0d, 0.0d)))
  }
}
