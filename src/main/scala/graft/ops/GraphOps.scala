package graft.ops

import scala.collection.mutable.ListBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Duplicate-cluster resolution: turn a pairwise near-duplicate edge list
  * (from [[DedupOps.minhashLsh]], [[DedupOps.simhashPairs]], ...) into
  * connected components and pick one canonical survivor per cluster — the
  * endgame of corpus dedup, where "A≈B, B≈C" must collapse {A,B,C} to one
  * document even though A and C never formed a pair.
  *
  * Scale design: alternating large-star / small-star rounds (Kiveris et
  * al., "Connected Components in MapReduce and Beyond", 2014) over the
  * *pair-induced subgraph only*. At corpus scale the near-dup pair list is
  * orders of magnitude smaller than the corpus (pairs are already
  * blocked/verified), so each round shuffles O(|pairs|) rows, never
  * O(corpus). Documents untouched by any pair are singletons and join back
  * in one broadcast-able pass at the end. Each round is lineage-truncated
  * (local checkpoint) so the plan stays constant-size, and the previous
  * round's blocks are freed as soon as the next is materialized — no cache
  * leak across rounds. The star alternation converges in O(log² n) rounds
  * *regardless of component diameter* — min-label propagation (the naive
  * alternative) needs O(diameter) rounds, which never terminates in
  * practice on the adversarial chain graphs that template-mirror families
  * produce. Both star steps are pure groupBy-min + equi-join — no
  * collect_list, so a giant star (one node with 10⁸ neighbors) is a skewed
  * aggregation AQE can split, not an OOM.
  *
  * Small-graph fast path: when the materialized edge list is under
  * `spark.graft.cc.localEdgeThreshold` directed edges (default derived
  * from the driver's max heap — see [[defaultLocalEdgeThreshold]]), the
  * multi-round shuffle loop costs more in fixed per-job overhead than
  * the whole graph is worth. Like a broadcast join
  * choosing a hash table over a shuffle below a size threshold, we then
  * collect the (already blocked + verified, id-only) edges and run
  * path-compressed union-find on the driver — one job instead of
  * 3×rounds — and ship the label table back as a broadcast join. The
  * distributed loop remains the path for corpus-scale pair lists.
  */
object GraphOps {

  /** Default union-find fast-path gate, in MIRRORED (directed) edges,
    * derived from the driver's heap instead of a fixed constant — a
    * fixed 4M default was measured safe on a 48 GiB driver but
    * GC-thrashed a 12 GiB local-cluster driver before the LongMap fix,
    * and the safe value genuinely depends on heap, not on the graph.
    *
    * Budget model (measured at sf10, round 9): the resident LongMap is
    * ~48 bytes per touched node, and the transient `collect()` of the
    * pair rows peaks at ~100 bytes per pair (Row + two boxed longs);
    * with nodes ≤ mirrored edges that bounds the peak at ~150 bytes per
    * mirrored edge for long ids (generic Comparable ids are heavier,
    * which the /8 headroom absorbs). Spending at most 1/8 of max heap
    * keeps the pass invisible to broadcasts and result collection:
    * threshold = maxHeap / 8 / 150. A 48 GiB driver gets ~42M edges
    * (comfortably above the old 4M), a 12 GiB one ~10M, and a thin
    * 4 GiB driver ~3.5M — degrading to the distributed star loop right
    * where the old constant started to thrash. Floor of 64k edges so a
    * tiny test heap still takes the fast path on trivial graphs.
    */
  private[ops] def defaultLocalEdgeThreshold(
      maxHeapBytes: Long = Runtime.getRuntime.maxMemory): Long =
    math.max(65536L, maxHeapBytes / 8L / 150L)

  /** Minimum-reachable-id connected components over an undirected edge
    * list. Returns one row per node in `nodes`: (id, comp) where `comp` is
    * the smallest id reachable through the edge list (edge endpoints need
    * not appear in `nodes`; they conduct connectivity and may supply the
    * min label, but only `nodes` rows come back). Deterministic for any
    * input order (min is order-insensitive).
    *
    * The returned frame is backed by a materialized local checkpoint (the
    * final round's, or the union-find fast path's label join) —
    * O(|nodes|) rows, spillable storage — which stays alive
    * until the caller is done with it (session end, or
    * `df.queryExecution.analyzed` LogicalRDD unpersist); every
    * intermediate round is freed inside the loop.
    */
  def connectedComponents(nodes: DataFrame, edges: DataFrame,
                          idCol: String = "id", srcCol: String = "src",
                          dstCol: String = "dst",
                          maxIter: Int = 50): DataFrame = {
    // one-direction pair list, materialized ONCE up front: the path
    // decision, the mirror and every propagation round read it, and an
    // upstream pair pipeline (minhash, simhash...) must not re-execute.
    // Null-endpoint edges conduct nothing on either path (null never
    // equi-joins in the star rounds) — drop them here so the union-find
    // fast path never sees one (it would NPE), keeping both paths on the
    // same explicit semantics.
    val p = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .localCheckpoint(true)
    ccPrepared(nodes, p, idCol, maxIter, freeP = true)
  }

  /** [[connectedComponents]] over an ALREADY-checkpointed, null-filtered,
    * (src, dst)-named pair list — the seam that lets [[components]] share
    * ONE pair materialization between its node derivation and the
    * propagation loop (r16: previously two back-to-back localCheckpoints
    * of the same rows, i.e. one redundant materialization action on the
    * expensive pair pipeline's output). With `freeP` the pair checkpoint
    * is freed here on every exit (the public entry's contract); otherwise
    * the caller owns it — it may still back `nodes`, which this method
    * consumes up to its final (materialized) label join.
    */
  private[ops] def ccPrepared(nodes: DataFrame, p: DataFrame, idCol: String,
                              maxIter: Int, freeP: Boolean): DataFrame = {
    val freed = ListBuffer.empty[() => Unit]
    def checkpointed(df: DataFrame): DataFrame = {
      val out = df.localCheckpoint(true) // materialize + cut lineage
      freed += (() => freeCheckpoint(out))
      out
    }
    val pFree = () => if (freeP) freeCheckpoint(p)

    // pFree on EVERY exit of this region via ONE finally — the config
    // parse, the threshold count, the fast path, and the eager und
    // materialization (union+distinct over the mirrored pairs, the
    // likeliest OOM point) can all throw, and each used to leak the
    // pairs checkpoint until session end; every returned value is
    // materialized before the finally runs, so the free is always safe
    val und =
      try {
        val localThreshold = nodes.sparkSession.conf
          .getOption("spark.graft.cc.localEdgeThreshold").map(_.toLong)
          .getOrElse(defaultLocalEdgeThreshold())
        // decide the path BEFORE mirroring: union-find doesn't care about
        // direction or duplicate pairs, so the driver fast path collects
        // the raw pair list directly — skipping the mirror+distinct
        // shuffle and moving HALF the bytes of the old mirrored collect
        // (measured under local-cluster, where the collect is a real wire
        // transfer). 2·|pairs| bounds the mirrored edge count, so the
        // gate is conservative vs the configured threshold's original
        // (mirrored) semantics.
        if (2L * p.count() <= localThreshold)
          return localComponents(nodes, p, idCol)
        // both directions once, deduped — the star rounds need the
        // mirrored form (each endpoint must see its full neighborhood)
        p.union(p.select(col("dst").as("src"), col("src").as("dst")))
          .distinct()
          .localCheckpoint(true)
      } finally pFree()
    val undFree = () => freeCheckpoint(und)

    // alternating large-star / small-star until the edge set is a fixpoint.
    // Invariant at the fixpoint (Kiveris et al., Thm 1): the edges form one
    // star per connected component, rooted at the component MINIMUM — so
    // labels fall straight out of the final edge list. The fixpoint probe
    // (count equal, then set-difference empty) is type-agnostic: no
    // integral-vs-string id special cases.
    var cur = und
    var it = 0
    var converged = false
    var undFreed = false
    // try/finally: a task failure inside a star round, or the
    // non-convergence require, used to skip every cleanup below and
    // leak the und + round checkpoints until session end — the exact
    // cache-leak class this function's choreography exists to prevent
    try {
      while (!converged && it < maxIter) {
        val next = checkpointed(smallStar(largeStar(cur)))
        val stable = next.count() == cur.count() && next.except(cur).isEmpty
        // cur's blocks are dead either way (next is materialized with
        // lineage cut); keep only the newest checkpoint alive
        if (it == 0) { undFree(); undFreed = true }
        freed.dropRight(1).foreach(_.apply())
        freed.remove(0, freed.size - 1)
        cur = next
        it += 1
        converged = stable
      }
      require(converged, s"connectedComponents did not converge in $maxIter rounds")
      // final stars: one (child, root) edge per connected non-root node;
      // roots and singletons label themselves. Only `nodes` rows come back
      // (foreign endpoints conducted; they are not part of the answer);
      // materialized so callers may unpersist upstream checkpoints as soon
      // as this returns
      nodes.select(col(idCol).as("id")).distinct()
        .join(cur.select(col("src").as("id"), col("dst").as("_c")), Seq("id"), "left")
        .select(col("id"), coalesce(col("_c"), col("id")).as("comp"))
        .localCheckpoint(true)
    } finally {
      // the try's last act materialized the result (or threw), so every
      // intermediate checkpoint is dead on either path
      if (!undFreed) undFree()
      freed.foreach(_.apply())
      freed.clear()
    }
  }

  /** Large-star round: every node u attaches its LARGER neighbors to
    * m(u) = min(Γ(u) ∪ {u}). Pure symmetrize → groupBy-min → equi-join —
    * the emitted edge (v, m) always has v > m, so no self-loops survive.
    */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.select(col("src"), col("dst"))
      .union(e.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst")).distinct()
    val mins = sym.groupBy(col("src").as("_u")).agg(min(col("dst")).as("_mv"))
    sym.filter(col("dst") > col("src"))
      .join(mins, col("src") === col("_u"))
      .select(col("dst").as("src"), least(col("_mv"), col("_u")).as("dst"))
      .distinct()
  }

  /** Small-star round: orient every edge large→small; every node u attaches
    * its (all smaller) neighbors AND itself to m(u) = min(Γ(u)). Output is
    * canonical (src > dst), which makes consecutive rounds comparable for
    * the fixpoint probe.
    */
  private def smallStar(e: DataFrame): DataFrame = {
    val o = e.select(greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
    val mins = o.groupBy(col("src").as("_u")).agg(min(col("dst")).as("_mv"))
    o.join(mins, col("src") === col("_u"))
      .select(col("dst").as("src"), col("_mv").as("dst"))
      .filter(col("src") =!= col("dst"))
      .union(mins.select(col("_u").as("src"), col("_mv").as("dst")))
      .distinct()
  }

  /** Driver-side path-compressed union-find over a collected (id-only)
    * edge list, returned as a broadcast-joinable label table. Roots are
    * always the smaller id, so `find` yields the component minimum —
    * identical labels to the distributed min-propagation loop. External
    * row values of every atomic Spark type are `Comparable`, so one
    * ordering covers long/int/string/decimal/timestamp ids.
    */
  private def localComponents(nodes: DataFrame, undRaw: DataFrame,
                              idCol: String): DataFrame = {
    val spark = nodes.sparkSession
    val idType = nodes.schema(nodes.schema.fieldIndex(idCol)).dataType
    // the NODES frame's id type decides the fast-path kernel, so the edge
    // columns must actually be that type before the typed getters run: an
    // int-typed edge list against long nodes (or vice versa) is legal
    // input to the distributed loop, and the cast keeps it legal here —
    // a lossy narrowing fails loudly under ANSI rather than mislabeling
    val und =
      if (undRaw.schema.fields.forall(_.dataType == idType)) undRaw
      else undRaw.select(col("src").cast(idType).as("src"),
        col("dst").cast(idType).as("dst"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", idType),
      org.apache.spark.sql.types.StructField("comp", idType)))
    val rows: java.util.List[org.apache.spark.sql.Row] = new java.util.ArrayList
    if (idType == org.apache.spark.sql.types.LongType) {
      // primitive fast path: the boxed HashMap[Any, Any] form below keeps
      // one Long box + map entry per node for the whole pass, which is
      // what ages into the driver's old generation — measured at sf10
      // under local-cluster, a 12 GiB driver spent whole seconds in GC on
      // this structure (26.6 s -> 11.9 s just by raising the driver heap).
      // LongMap stores unboxed keys, cutting the resident footprint ~3x.
      val parent = new scala.collection.mutable.LongMap[Long](1 << 16)
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != c) { val n = parent(c); parent.update(c, r); c = n }
        r
      }
      und.collect().foreach { row =>
        val (a, b) = (row.getLong(0), row.getLong(1))
        if (!parent.contains(a)) parent.update(a, a)
        if (!parent.contains(b)) parent.update(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) {
          if (ra < rb) parent.update(rb, ra) else parent.update(ra, rb)
        }
      }
      parent.foreachKey(x =>
        rows.add(org.apache.spark.sql.Row(x, find(x))))
    } else {
      val lt = (a: Any, b: Any) => a.asInstanceOf[Comparable[Any]].compareTo(b) < 0
      val parent = scala.collection.mutable.HashMap.empty[Any, Any]
      def find(x: Any): Any = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      und.collect().foreach { row =>
        val (a, b) = (row.get(0), row.get(1))
        parent.getOrElseUpdate(a, a)
        parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) {
          if (lt(ra, rb)) parent(rb) = ra else parent(ra) = rb
        }
      }
      parent.keysIterator.foreach(x =>
        rows.add(org.apache.spark.sql.Row(x, find(x))))
    }
    val labels = spark.createDataFrame(rows, schema)
    // materialize + cut lineage, mirroring the distributed path's output
    // contract: callers may unpersist the upstream pair checkpoint as soon
    // as this returns
    nodes.select(col(idCol).as("id"))
      .join(broadcast(labels), Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
      .localCheckpoint(true)
  }

  /** Component assignment for a whole corpus: every document gets a
    * `component` (= min doc_id of its duplicate cluster; itself when it has
    * no near-dup pair). `pairs` must carry two id columns.
    */
  def components(docs: DataFrame, pairs: DataFrame,
                 idCol: String = "doc_id", id1Col: String = "id1",
                 id2Col: String = "id2"): DataFrame = {
    // run the (expensive) pair pipeline exactly once — node derivation,
    // edge mirroring and every propagation round read this ONE checkpoint
    // (r16: connectedComponents used to re-checkpoint the same rows
    // back-to-back; ccPrepared shares this materialization instead). The
    // null filter is the same one the public entry applies — null
    // endpoints conduct nothing, and they must not reach the union-find
    // fast path or the touched-node derivation.
    val p = pairs.select(col(id1Col).as("src"), col(id2Col).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .localCheckpoint(true)
    val touched = p.select(col("src").as("id"))
      .union(p.select(col("dst").as("id"))).distinct()
    // sub is eagerly materialized by ccPrepared before the finally runs;
    // freed on the exception path too (non-convergence or a mid-round
    // task failure used to leak the pair blocks). freeP=false: touched
    // reads p up to ccPrepared's final materialized label join.
    val sub =
      try ccPrepared(touched, p, "id", maxIter = 50, freeP = false)
      finally freeCheckpoint(p)
    // subgraph results are small (pair-touched docs only) → broadcast-able
    docs.select(col(idCol))
      .join(sub.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .select(col(idCol), coalesce(col("comp"), col(idCol)).as("component"))
  }

  /** One survivor per duplicate cluster: the minimum doc id, with the
    * cluster size. Singletons survive with n_members = 1.
    */
  def keepOne(docs: DataFrame, pairs: DataFrame,
              idCol: String = "doc_id", id1Col: String = "id1",
              id2Col: String = "id2"): DataFrame =
    components(docs, pairs, idCol, id1Col, id2Col)
      .groupBy(col("component").as("keep_id"))
      .agg(count(lit(1)).as("n_members"))

  /** Degree distribution of the near-dup graph — the cluster-health
    * report read before committing to a dedup pass: how many documents
    * have 1, 2, … near-dup neighbors (degree 0 = the clean majority,
    * reported too). A heavy tail here means giant templates/mirrors and
    * predicts both the dedup yield and the blocking cost ([[components]]'
    * propagation rounds grow with the largest cluster).
    *
    * Scale shape: mirror pairs → one keyed count per endpoint (map-side
    * partial) → one count per degree; shuffles carry (id) then (degree) —
    * never text. The degree-0 row folds in as corpus_count − touched
    * (a broadcast single-row aggregate, no driver action). Endpoints
    * mirror via one generator over each pair row — NOT a union of two
    * selects, which evaluates the (expensive) upstream pair pipeline
    * once per branch.
    */
  def degreeHistogram(docs: DataFrame, pairs: DataFrame,
                      idCol: String = "doc_id", id1Col: String = "id1",
                      id2Col: String = "id2"): DataFrame = {
    val ends = pairs.select(explode(array(col(id1Col), col(id2Col))).as("id"))
    // the histogram is over DOCS: a pair endpoint not present in docs
    // (pairs built against a superset corpus) must neither occupy a
    // degree bucket nor shrink the degree-0 row (total - touched could
    // even go negative and drop the bucket entirely)
    val deg = ends.groupBy(col("id")).agg(count(lit(1)).as("degree"))
      .join(docs.select(col(idCol).as("id")), Seq("id"), "left_semi")
    // r16: `touched` is Σ n_docs over the histogram itself, so the
    // degree-0 complement no longer re-evaluates `deg` — which re-ran the
    // whole upstream pair pipeline a second time. The histogram is tiny
    // (one row per distinct degree): materialize it once, read it from
    // both branches, materialize the (equally tiny) result, free the
    // intermediate — same eager-result discipline as [[components]].
    val hist = deg.groupBy(col("degree")).agg(count(lit(1)).as("n_docs"))
      .localCheckpoint(true)
    try {
      // coalesce: sum over an EMPTY histogram is NULL (count was 0), and
      // a null touched would silently drop the degree-0 row entirely
      val touched = hist.agg(coalesce(sum(col("n_docs")), lit(0L)).as("_touched"))
      val total = docs.agg(count(lit(1)).as("_total"))
      val zero = total.crossJoin(touched)
        .select(lit(0L).as("degree"), (col("_total") - col("_touched")).as("n_docs"))
        .filter(col("n_docs") > 0)
      hist.unionByName(zero).localCheckpoint(true)
    } finally freeCheckpoint(hist)
  }

  /** Fixed-iteration PageRank over the undirected near-dup graph, in
    * EXACT fixed-point integer arithmetic — centrality of each document
    * inside its duplicate neighborhood (high rank = the hub copy of a
    * template family; a principled keep-one tiebreak and a crawl-priority
    * signal).
    *
    * Ranks are integer `scale`-units; one step is
    * `r' = (15·scale)/100 + (85·Σ_{u→v} r(u) div deg(u)) / 100` with every
    * division a floor over non-negative longs — deterministic, engine-
    * portable (the DuckDB oracle unrolls the same `iters` steps with `//`)
    * and order-insensitive (integer sums commute exactly, unlike the
    * float formulation whose Σ depends on reduce order). The truncation
    * bleeds ≤1 unit per edge per step — irrelevant at 10⁶-unit scale —
    * and dangling mass is dropped (standard simplification; bounded-iters
    * PageRank is a ranking signal, not a probability).
    *
    * Scale shape: power iteration is inherently one edge-keyed exchange
    * per step — `iters` is a constant (5 here), so the total cost is
    * iters·O(|edges|) shuffle over (id, long) pairs only, never text.
    * Degrees are computed once; each step is contribution join →
    * dst-keyed sum (map-side combine) → left join back to the node set.
    * The rank state is one long per node — a fraction of the pair list
    * the blocking stage already materialized.
    */
  def pageRank(docs: DataFrame, pairs: DataFrame, iters: Int = 5,
               scale: Long = 1000000L, idCol: String = "doc_id",
               id1Col: String = "id1", id2Col: String = "id2"): DataFrame = {
    require(iters >= 1 && iters <= 50, "pageRank: iters must be in [1, 50]")
    require(scale >= 100L, "pageRank: scale must carry the /100 damping")
    import graft.functions.IntMath.floorDiv
    // undirected: mirror each pair once per direction via one generator
    val edges = pairs.select(explode(array(
      struct(col(id1Col).as("src"), col(id2Col).as("dst")),
      struct(col(id2Col).as("src"), col(id1Col).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    // materialize the (edge, out-degree) table ONCE — every iteration
    // joins it, and a lazy lineage re-runs the upstream pair pipeline
    // (the LSH blocking chain) once per iteration: measured 5× the whole
    // query cost at iters=5 before this checkpoint. The degree rides a
    // window count over the same src-keyed exchange (r16; the previous
    // groupBy + self-join form evaluated the pair pipeline twice and
    // shuffled the edges twice)
    val withDeg = edges.withColumn("_deg",
        count(lit(1)).over(Window.partitionBy(col("src"))))
      .localCheckpoint(true)
    try {
    // docs' lineage is joined back EVERY iteration — checkpoint the id
    // column once, the same re-execution discipline as withDeg (a docs
    // frame derived from a cleaning pipeline would otherwise re-run that
    // pipeline iters+1 times). Created INSIDE the try: a failure in this
    // eager job must still free withDeg
    val ids = docs.select(col(idCol).as("id")).localCheckpoint(true)
    try {
    val base = lit(15L * scale / 100L)
    var ranks = ids.select(col("id"), lit(scale).as("r"))
    for (_ <- 1 to iters) {
      val contrib = withDeg
        .join(ranks, col("src") === col("id"))
        .select(col("dst"), floorDiv(col("r"), col("_deg")).as("_c"))
        .groupBy(col("dst")).agg(sum(col("_c")).as("_in"))
      ranks = ids
        .join(contrib, col("id") === col("dst"), "left")
        .select(col("id"),
          (base + floorDiv(lit(85L) * coalesce(col("_in"), lit(0L)), 100L)).as("r"))
    }
    // materialize the result (one job over the iters-level plan, each
    // level reading the cached edge table), then free the checkpoint —
    // the caller gets a lineage-free frame, nothing leaks across calls
    ranks.select(col("id").as(idCol), col("r").as("rank_units"))
      .localCheckpoint(true)
    } finally freeCheckpoint(ids)
    } finally freeCheckpoint(withDeg)
  }

  /** Free the spillable blocks behind a materialized `localCheckpoint`.
    *
    * `Dataset.unpersist` cannot do this: it only drops CacheManager-
    * registered InMemoryRelations, while `localCheckpoint` persists its
    * RDD directly — so a DataFrame-level fallback would be a silent no-op
    * that leaks the blocks. Collect the LogicalRDD nodes anywhere in the
    * analyzed plan (not only at the root, so a wrapping node can't hide
    * them) and unpersist their RDDs; if Spark ever stops exposing any,
    * warn loudly that the blocks outlive this call instead of pretending
    * to free them. GraphOpsSpec pins both the plan shape and the
    * blocks-actually-freed behavior.
    */
  private[ops] def freeCheckpoint(df: DataFrame): Unit = {
    val rdds = df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }
    if (rdds.nonEmpty) rdds.foreach(_.unpersist(false))
    else org.slf4j.LoggerFactory.getLogger(GraphOps.getClass).warn(
      "localCheckpoint plan exposes no LogicalRDD — the checkpointed " +
        "blocks cannot be freed from here and will persist to session end")
  }
}
