package graft.ops

import graft.SparkSpec
import graft.Tables
import org.apache.spark.sql.functions._

class GraphOpsSpec extends SparkSpec {
  import spark.implicits._

  test("connectedComponents: multi-hop chain collapses to one min label") {
    // 1-2-3-4-5 chain plus isolated 10: propagation needs several rounds
    // (diameter 4), exercising the convergence loop, not just one step
    val nodes = (Seq(1L, 2L, 3L, 4L, 5L, 10L)).toDF("id")
    val edges = Seq((2L, 1L), (3L, 2L), (4L, 3L), (5L, 4L)).toDF("src", "dst")
    val out = GraphOps.connectedComponents(nodes, edges)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L, 10L -> 10L))
  }

  test("connectedComponents: two components, direction-insensitive edges") {
    val nodes = Seq(7L, 3L, 9L, 20L, 21L).toDF("id")
    val edges = Seq((9L, 3L), (3L, 7L), (21L, 20L)).toDF("src", "dst")
    val out = GraphOps.connectedComponents(nodes, edges)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(3L -> 3L, 7L -> 3L, 9L -> 3L, 20L -> 20L, 21L -> 20L))
  }

  test("components/keepOne agree with a union-find reference on a dense real pair graph") {
    // simhash pairs over the sf0.001 documents: a dense duplicate graph
    // (the oracle-gated queries use the sparse minhash pairs; this covers
    // the dense regime against an independent driver-side union-find)
    val docs = Tables(spark, sf, "documents")
    val pairs = DedupOps.simhashPairs(docs,
        maxBucket = graft.queries.Dedup.SimhashMaxBucket, maxHamming = 3, bands = 4)
      .select(col("id1"), col("id2"))
    val got = GraphOps.components(docs, pairs)
      .as[(Long, Long)].collect().toMap

    // independent reference: path-compressed union-find over collected pairs
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    val edgeList = pairs.as[(Long, Long)].collect()
    edgeList.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val allIds = docs.select(col("doc_id")).as[Long].collect()
    val want = allIds.map(id => id -> find(id)).toMap
    assert(got == want)

    val survivors = GraphOps.keepOne(docs, pairs)
      .as[(Long, Long)].collect().toMap
    val wantSizes = want.groupBy(_._2).map { case (c, m) => c -> m.size.toLong }
    assert(survivors == wantSizes)
    assert(survivors.values.sum == allIds.length)
    // every survivor is its own component representative
    survivors.keys.foreach(k => assert(want(k) == k))
  }

  test("distributed loop and union-find fast path agree (threshold forced to 0)") {
    val nodes = (Seq(1L, 2L, 3L, 4L, 5L, 10L)).toDF("id")
    val edges = Seq((2L, 1L), (3L, 2L), (4L, 3L), (5L, 4L)).toDF("src", "dst")
    val localOut = GraphOps.connectedComponents(nodes, edges)
      .as[(Long, Long)].collect().toMap
    spark.conf.set("spark.graft.cc.localEdgeThreshold", "0")
    try {
      val distOut = GraphOps.connectedComponents(nodes, edges)
        .as[(Long, Long)].collect().toMap
      assert(distOut == localOut)
      assert(distOut == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L, 10L -> 10L))
    } finally spark.conf.unset("spark.graft.cc.localEdgeThreshold")
  }

  test("union-find fast path labels string ids by lexicographic minimum") {
    val nodes = Seq("b", "a", "c", "z").toDF("id")
    val edges = Seq(("b", "a"), ("c", "b")).toDF("src", "dst")
    val out = GraphOps.connectedComponents(nodes, edges)
      .as[(String, String)].collect().toMap
    assert(out == Map("a" -> "a", "b" -> "a", "c" -> "a", "z" -> "z"))
  }

  test("distributed loop handles string ids (join-probe convergence, multi-hop)") {
    // diameter-4 chain: the sum probe is meaningless for strings; the
    // join-based probe must run the full propagation, not stop after one hop
    val nodes = Seq("e", "d", "c", "b", "a", "q").toDF("id")
    val edges = Seq(("b", "a"), ("c", "b"), ("d", "c"), ("e", "d")).toDF("src", "dst")
    spark.conf.set("spark.graft.cc.localEdgeThreshold", "0")
    try {
      val out = GraphOps.connectedComponents(nodes, edges)
        .as[(String, String)].collect().toMap
      assert(out == Map("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "a",
        "e" -> "a", "q" -> "q"))
    } finally spark.conf.unset("spark.graft.cc.localEdgeThreshold")
  }

  test("edge endpoints absent from nodes conduct connectivity on both paths") {
    // 1 and 2 are connected only THROUGH foreign node 99; 0 supplies the
    // min label from outside nodes; only nodes rows come back
    val nodes = Seq(1L, 2L).toDF("id")
    val edges = Seq((1L, 99L), (99L, 2L), (2L, 0L)).toDF("src", "dst")
    val localOut = GraphOps.connectedComponents(nodes, edges)
      .as[(Long, Long)].collect().toMap
    assert(localOut == Map(1L -> 0L, 2L -> 0L))
    spark.conf.set("spark.graft.cc.localEdgeThreshold", "0")
    try {
      val distOut = GraphOps.connectedComponents(nodes, edges)
        .as[(Long, Long)].collect().toMap
      assert(distOut == localOut)
    } finally spark.conf.unset("spark.graft.cc.localEdgeThreshold")
  }

  test("distributed star rounds collapse a 120-node chain (diameter >> round budget)") {
    // the adversarial case for min-label propagation (O(diameter) rounds
    // would blow the 50-round budget); large-star/small-star must converge
    // in O(log² n) rounds
    val n = 120
    val nodes = (0L until n.toLong).toDF("id")
    val edges = (1L until n.toLong).map(i => (i - 1, i)).toDF("src", "dst")
    spark.conf.set("spark.graft.cc.localEdgeThreshold", "0")
    try {
      val out = GraphOps.connectedComponents(nodes, edges)
        .as[(Long, Long)].collect().toMap
      assert(out.size == n && out.values.forall(_ == 0L))
    } finally spark.conf.unset("spark.graft.cc.localEdgeThreshold")
  }

  test("distributed star rounds match union-find on a seeded random graph") {
    val rnd = new scala.util.Random(42)
    val n = 300
    val edgeList = Seq.fill(260)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }
    val nodes = (0L until n.toLong).toDF("id")
    val edges = edgeList.toDF("src", "dst")

    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edgeList.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = (0L until n.toLong).map(id => id -> find(id)).toMap

    spark.conf.set("spark.graft.cc.localEdgeThreshold", "0")
    try {
      val got = GraphOps.connectedComponents(nodes, edges)
        .as[(Long, Long)].collect().toMap
      assert(got == want)
    } finally spark.conf.unset("spark.graft.cc.localEdgeThreshold")
  }

  test("distributed star rounds: giant star + chain grafted on (skew shape)") {
    // one hub with 2000 leaves (the giant-duplicate-cluster shape: a
    // skewed groupBy-min, no collect_list to blow up) with a 30-node
    // chain grafted onto leaf 1500 — both extremes in one graph
    val leaves = (1L to 2000L).map(i => (0L, i))
    val chain = (2001L to 2030L).map(i => (if (i == 2001L) 1500L else i - 1, i))
    val nodes = (0L to 2030L).toDF("id")
    spark.conf.set("spark.graft.cc.localEdgeThreshold", "0")
    try {
      val out = GraphOps.connectedComponents(nodes, (leaves ++ chain).toDF("src", "dst"))
        .as[(Long, Long)].collect()
      assert(out.length == 2031 && out.forall(_._2 == 0L))
    } finally spark.conf.unset("spark.graft.cc.localEdgeThreshold")
  }

  test("connectedComponents handles an empty edge list (all singletons)") {
    val nodes = Seq(4L, 8L).toDF("id")
    val edges = Seq.empty[(Long, Long)].toDF("src", "dst")
    val out = GraphOps.connectedComponents(nodes, edges)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(4L -> 4L, 8L -> 8L))
  }

  test("distributed loop frees every intermediate checkpoint (no block leak)") {
    // A multi-round chain through the star loop: every per-round
    // checkpoint and the mirrored edge table must be unpersisted by the
    // time the result comes back — only the result's own checkpoint may
    // survive (the documented caller-owned block). Regression guard for
    // the unpersist-hook bookkeeping.
    spark.conf.set("spark.graft.cc.localEdgeThreshold", "0")
    try {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val nodes = (1L to 60L).toDF("id")
      val edges = (1L until 60L).map(i => (i, i + 1)).toDF("src", "dst")
      val out = GraphOps.connectedComponents(nodes, edges)
      val fresh = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(fresh.size == 1, s"leaked checkpoint blocks: rdd ids $fresh")
      out.queryExecution.analyzed match {
        case lr: org.apache.spark.sql.execution.LogicalRDD =>
          assert(fresh == Set(lr.rdd.id),
            s"surviving block $fresh is not the result's checkpoint ${lr.rdd.id}")
          lr.rdd.unpersist(false)
        case other => fail(s"result no longer a LogicalRDD: ${other.getClass}")
      }
      assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty)
    } finally spark.conf.unset("spark.graft.cc.localEdgeThreshold")
  }

  test("default local-edge threshold scales with driver heap, not a constant") {
    // the fixed 4M default was tuned on a 48 GiB driver; the same value
    // GC-thrashed a 12 GiB local-cluster driver. The heap-derived default
    // must degrade a THIN driver to the distributed star loop below the
    // old constant, give a fat driver MORE than the old constant, and
    // keep a floor so tiny test heaps still fast-path trivial graphs.
    val thin = GraphOps.defaultLocalEdgeThreshold(4L << 30)   // 4 GiB
    val mid = GraphOps.defaultLocalEdgeThreshold(12L << 30)   // 12 GiB
    val fat = GraphOps.defaultLocalEdgeThreshold(48L << 30)   // 48 GiB
    assert(thin < 4000000L, s"4 GiB driver must gate below the old 4M constant, got $thin")
    assert(fat > 4000000L, s"48 GiB driver should fast-path beyond 4M, got $fat")
    assert(thin < mid && mid < fat)
    assert(GraphOps.defaultLocalEdgeThreshold(1L << 20) == 65536L, "floor")
  }

  test("int-typed edges against long nodes work on both paths (fast-path type gate)") {
    // regression: the long fast path keyed its kernel on the NODES id
    // type but read edge endpoints with getLong — int-typed edge columns
    // threw ClassCastException; they are now cast to the nodes' type
    val nodes = Seq(1L, 2L, 3L, 9L).toDF("id")
    val edges = Seq((2, 1), (3, 2)).toDF("src", "dst") // IntegerType
    val fast = GraphOps.connectedComponents(nodes, edges)
      .as[(Long, Long)].collect().toMap
    assert(fast == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 9L))
    spark.conf.set("spark.graft.cc.localEdgeThreshold", "0")
    try {
      val dist = GraphOps.connectedComponents(nodes, edges)
        .as[(Long, Long)].collect().toMap
      assert(dist == fast)
    } finally spark.conf.unset("spark.graft.cc.localEdgeThreshold")
  }

  test("null edge endpoints conduct nothing on both paths") {
    // a null endpoint never equi-joins in the star rounds; the explicit
    // up-front filter gives the union-find path the same semantics
    // instead of an NPE
    val nodes = Seq(1L, 2L, 3L).toDF("id")
    val edges = Seq((Some(2L), Some(1L)), (Some(3L), None), (None, Some(1L)))
      .toDF("src", "dst")
    val fast = GraphOps.connectedComponents(nodes, edges)
      .as[(Long, Long)].collect().toMap
    assert(fast == Map(1L -> 1L, 2L -> 1L, 3L -> 3L))
    spark.conf.set("spark.graft.cc.localEdgeThreshold", "0")
    try {
      val dist = GraphOps.connectedComponents(nodes, edges)
        .as[(Long, Long)].collect().toMap
      assert(dist == fast)
    } finally spark.conf.unset("spark.graft.cc.localEdgeThreshold")
  }

  test("connectedComponents frees every checkpoint on the non-convergence exception path") {
    // regression: a require(converged) failure (or any mid-round job
    // failure) used to skip the cleanup choreography and leak the und +
    // round checkpoints until session end
    import spark.implicits._
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val nodes = (1L to 200L).toDF("id")
    val pairs = (1L until 200L).map(i => (i, i + 1)).toDF("src", "dst")
    // force the distributed loop (tiny threshold) and starve iterations
    spark.conf.set("spark.graft.cc.localEdgeThreshold", "1")
    try {
      intercept[IllegalArgumentException] {
        GraphOps.connectedComponents(nodes, pairs, maxIter = 1)
      }
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(leaked.isEmpty, s"leaked checkpoint RDDs: $leaked")
    } finally spark.conf.unset("spark.graft.cc.localEdgeThreshold")
  }
}
