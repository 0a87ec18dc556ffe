package graft.ops

import graft.functions.CrossHash._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two tiers, per the standard scale playbook:
  *  - [[bruteForceTopK]] — exact cosine top-k; the query side is tiny and
  *    broadcast, so the corpus is scanned once with no shuffle of vectors.
  *    Right answer at any corpus size when |queries| is small.
  *  - [[lshTopK]] — random-hyperplane LSH bucketing: each vector lands in
  *    one signature bucket, candidates come only from the query's bucket
  *    (equi-join on the signature). At 100 TB the corpus-side bucketing is
  *    a one-off keyed write; per-query work is bucket-local.
  *
  * Broadcast contract (every entry point that takes a `queries` table):
  * the query side is broadcast UNCONDITIONALLY — the hint bypasses
  * `autoBroadcastJoinThreshold`, so the caller owns the ceiling. Budget
  * `|queries| × dims × 8 B` (plus ~2× task-side deserialization) against
  * executor memory; Spark hard-fails broadcasts above 8 GB but a multi-GB
  * query table will stall the driver long before that. Past ~10⁵–10⁶
  * queries, don't broadcast: bucket BOTH sides ([[lshTopK]] with the
  * hint dropped becomes a plain shuffled equi-join) or partition the
  * query set and union the per-chunk top-k.
  */
object SimilarityOps {

  /** Exact cosine top-k per query vector. `queries` and `corpus` both carry
    * (idCol, vecCol); self-matches are excluded. Query side broadcasts
    * unconditionally — see the object-level broadcast contract for the
    * size ceiling the caller owns.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val joined = broadcast(
        queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")))
      .crossJoin(corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv")))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", cosine(col("qv"), col("cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    joined.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("int").as("rank"),
        col("neighbor_id"), round(col("cos"), 6).as("cos"))
  }

  /** k-NN label propagation: classify each query vector by majority vote
    * over the labels of its `k` nearest corpus neighbors (exact cosine) —
    * the standard embedding-space auto-labeling step for quality/domain
    * tagging of unlabeled corpora. Ties break on (votes desc, label asc),
    * neighbor rank ties on (cos desc, id asc) — fully deterministic.
    * Output: (query_id, pred_label, votes).
    *
    * Scale shape mirrors [[bruteForceTopK]]: the query side broadcasts
    * unconditionally (object-level contract — caller owns the ceiling),
    * the labeled corpus is scanned once with vectors never shuffled; the
    * per-query top-k is a group-limit (WindowGroupLimit pushes the k-cut
    * ahead of the exchange), and the vote is a tiny keyed aggregation
    * over ≤ |queries|·k narrow rows.
    */
  def knnClassify(queries: DataFrame, corpus: DataFrame, k: Int,
                  idCol: String = "vec_id", vecCol: String = "embedding",
                  labelCol: String = "label"): DataFrame = {
    val joined = broadcast(
        queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")))
      .crossJoin(corpus.select(col(idCol).as("nid"), col(vecCol).as("cv"),
        col(labelCol).as("lbl")))
      .filter(col("query_id") =!= col("nid"))
      .withColumn("cos", cosine(col("qv"), col("cv")))
    val nn = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("nid").asc)
    val votes = joined.withColumn("rank", row_number().over(nn))
      .filter(col("rank") <= k)
      .groupBy(col("query_id"), col("lbl"))
      .agg(count(lit(1)).as("votes"))
    val top = Window.partitionBy(col("query_id"))
      .orderBy(col("votes").desc, col("lbl").asc)
    votes.withColumn("_rn", row_number().over(top)).filter(col("_rn") === 1)
      // the label keeps its source type: string/long labels must not be
      // forced through an int cast (ANSI would throw on "spam")
      .select(col("query_id"), col("lbl").as("pred_label"), col("votes"))
  }

  /** Sign-of-projection LSH signature: `planes` deterministic hyperplanes
    * (shared with the oracle via the LCG in
    * [[graft.functions.LshBucketExpr.hyperplane]]), one bit each, folded
    * into a long bucket id. Backed by the native
    * codegen'd [[graft.functions.LshBucketExpr]] — one tight loop per row
    * instead of planes×dims interpreted lambda calls.
    */
  def lshBucket(vec: org.apache.spark.sql.Column, planes: Int, dims: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graftshim.ColumnBridge
    ColumnBridge.column(graft.functions.LshBucketExpr(
      ColumnBridge.expression(vec), planes, dims))
  }

  /** Random-projection compression of an embedding column: each vector is
    * projected onto `k` deterministic LCG hyperplanes (the same planes as
    * [[lshBucket]] — which is exactly this projection's sign bits). The
    * standard pre-ANN / pre-storage dimensionality reduction: by
    * Johnson–Lindenstrauss, k projections preserve pairwise geometry to
    * within ~sqrt(1/k), and determinism makes compressed shards
    * reproducible across runs and cluster sizes. A pure narrow projection
    * — one codegen'd loop per row ([[graft.functions.ProjectEmbedExpr]]),
    * no join, no shuffle — so it streams over a 100 TB corpus at scan
    * speed. Output doubles are rounded to 6 places for the portable
    * surface (inputs to both engines are bit-identical dyadic folds).
    */
  def projectEmbeddings(vecs: DataFrame, k: Int = 8, dims: Int = 64,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.graftshim.ColumnBridge
    val proj = ColumnBridge.column(graft.functions.ProjectEmbedExpr(
      ColumnBridge.expression(col(vecCol)), k, dims))
    vecs.select(col(idCol),
      transform(proj, x => round(x, 6)).as("proj"))
  }

  /** Scalar int8 quantization of an embedding column — the storage half
    * of the large-scale ANN playbook (4× over float32, before IVF/PQ):
    * per-vector min/max scaling to [0, 255] codes via `floor`, exploded
    * to (vec_id, dim, q, vmin, vmax) rows so the original value is
    * recoverable to within one step. Every operation (min/max, widen,
    * subtract, scale, divide, floor) is exact IEEE double arithmetic
    * with no round-half ambiguity, so an external engine reproduces the
    * codes bit-for-bit from the formula alone. A pure narrow projection
    * — streams over a 100 TB corpus at scan speed, no join, no shuffle.
    * Degenerate constant vectors (vmax == vmin) quantize to 0.
    */
  def quantizeEmbeddings(vecs: DataFrame, idCol: String = "vec_id",
                         vecCol: String = "embedding"): DataFrame = {
    val vmin = array_min(col(vecCol)).cast("double")
    val vmax = array_max(col(vecCol)).cast("double")
    vecs.select(col(idCol), vmin.as("vmin"), vmax.as("vmax"),
        posexplode(col(vecCol)).as(Seq("dim", "_x")))
      .select(col(idCol), col("dim"),
        when(col("vmax") > col("vmin"),
          least(floor((col("_x").cast("double") - col("vmin")) * lit(255.0d)
            / (col("vmax") - col("vmin"))), lit(255.0d)))
          .otherwise(lit(0.0d)).cast("int").as("q"),
        col("vmin"), col("vmax"))
  }

  /** Per-label centroids of an embedding column, exploded to (label, dim,
    * centroid) rows — class centroids for nearest-centroid classification,
    * k-means seeding, or embedding-drift monitoring.
    *
    * Scale note: the sum is an ORDERED fold over `collect_list` sorted by
    * vec id, which makes the floating-point result bit-reproducible (and
    * oracle-comparable) but forbids map-side partial aggregation — each
    * (label, dim) group's values meet in one task. At 100 TB swap the
    * fold for a plain `sum` (partial-agg friendly, error ~1e-13 relative)
    * — same call shape, declared tolerance; dims are independent rows
    * either way, so parallelism is label×dims regardless.
    */
  def labelCentroids(vecs: DataFrame, idCol: String = "vec_id",
                     vecCol: String = "embedding",
                     labelCol: String = "label"): DataFrame =
    vecs.select(col(labelCol).as("label"), col(idCol).as("_vid"),
        posexplode(col(vecCol)).as(Seq("dim", "_x")))
      .groupBy(col("label"), col("dim"))
      .agg(count(lit(1)).as("n_vecs"),
        aggregate(sort_array(collect_list(struct(col("_vid"), col("_x")))),
          lit(0.0d), (a, s) => a + s.getField("_x").cast("double")).as("_sum"))
      .select(col("label"), col("dim"), col("n_vecs"),
        round(col("_sum") / col("n_vecs"), 6).as("centroid"))

  /** Per-row similarity-to-centroid structs, orderable as (sim desc, cid
    * asc): centroids are driver-side constants, so each struct is a pure
    * narrow projection — nlist codegen'd cosine calls per row, no join,
    * no shuffle, no window.
    */
  private def centroidStructs(vec: org.apache.spark.sql.Column,
                              cents: Seq[(Int, Seq[Double])]) =
    cents.map { case (cid, cv) =>
      struct((-cosine(vec, typedLit(cv))).as("neg"), lit(cid).as("cid"))
    }

  /** Nearest-centroid id as a shuffle-free argmax column. */
  def nearestCentroid(vec: org.apache.spark.sql.Column,
                      cents: Seq[(Int, Seq[Double])]): org.apache.spark.sql.Column =
    array_min(array(centroidStructs(vec, cents): _*)).getField("cid")

  /** Nearest-centroid assignment: one narrow projection over `df`
    * (contrast: a crossJoin-with-centroids + per-row window would shuffle
    * an nlist×-amplified copy of the corpus — fatal at scale).
    */
  private def assignTo(df: DataFrame, cents: Seq[(Int, Seq[Double])],
                       idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol), col(vecCol),
      nearestCentroid(col(vecCol), cents).as("cid"))

  /** The shared probe leg: inverted lists from a narrow assignment, each
    * query probes its `nprobe` nearest lists (equi-join on cid), exact
    * cosine top-k inside the probed candidates. The probe side (queries
    * × nprobe rows) broadcasts unconditionally — object-level contract;
    * the ceiling scales with nprobe as well as |queries|.
    */
  private def probeTopK(queries: DataFrame, corpus: DataFrame,
                        cents: Seq[(Int, Seq[Double])], k: Int, nprobe: Int,
                        idCol: String, vecCol: String): DataFrame = {
    val lists = assignTo(corpus, cents, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"), col("cid"))
    // nprobe nearest centroids per query: sort the tiny struct array and
    // explode its prefix — still no join/window on the query side.
    val probes = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        explode(slice(array_sort(array(centroidStructs(col(vecCol), cents): _*)),
          1, nprobe)).as("_p"))
      .select(col("query_id"), col("qv"), col("_p.cid").as("cid"))
    val joined = broadcast(probes).join(lists, Seq("cid"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", cosine(col("qv"), col("cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    joined.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("int").as("rank"),
        col("neighbor_id"), round(col("cos"), 6).as("cos"))
  }

  /** IVF (inverted-file) ANN: a coarse k-means quantizer over the corpus,
    * then exact cosine top-k probing only the `nprobe` nearest centroid
    * lists per query — the standard scale path when the corpus outgrows
    * brute force.
    *
    * Scale shape: centroids are tiny (nlist × dims doubles) and live on
    * the driver; every corpus pass is a *narrow* nearest-centroid argmax
    * projection (no join, no shuffle of vectors); list membership is a
    * keyed column so the probe is an equi-join on `cid`. Lloyd iterations
    * are fixed (`iters`) with deterministic lowest-id seeding; the only
    * shuffle per iteration is the tiny (cid, dim) partial-agg for means.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int, nlist: Int = 16,
              nprobe: Int = 4, iters: Int = 3, idCol: String = "vec_id",
              vecCol: String = "embedding"): DataFrame = {
    // Deterministic seeding: the nlist lowest-id corpus vectors.
    // (element-wise widening: the column may be array<float> or array<double>)
    var cents: Seq[(Int, Seq[Double])] = corpus.orderBy(col(idCol)).limit(nlist)
      .select(col(vecCol)).collect().zipWithIndex.map { case (r, i) =>
        (i, r.getSeq[Any](0).map {
          case f: Float => f.toDouble
          case d: Double => d
          case other => other.toString.toDouble
        })
      }.toSeq

    // Fixed Lloyd iterations; mean per (centroid, dim) via explode+avg —
    // map-side partial agg reduces each partition to ≤ nlist×dims rows.
    for (_ <- 0 until iters) {
      val means = assignTo(corpus, cents, idCol, vecCol)
        .select(col("cid"), posexplode(col(vecCol)).as(Seq("dim", "x")))
        .groupBy(col("cid"), col("dim"))
        .agg(avg(col("x").cast("double")).as("m"))
        .collect()
      val byCid = means.groupBy(_.getInt(0))
      cents = cents.map { case (cid, old) =>
        byCid.get(cid) match {
          case Some(rows) =>
            val m = old.toArray.clone()
            rows.foreach(r => m(r.getInt(1)) = r.getDouble(2))
            (cid, m.toSeq)
          case None => (cid, old) // empty list keeps its seed
        }
      }
    }
    probeTopK(queries, corpus, cents, k, nprobe, idCol, vecCol)
  }

  /** IVF with an ORACLE-GATED *trained* quantizer: Lloyd k-means run
    * entirely in exact integer arithmetic over a fixed quantization grid
    * — codes are `floor(x · scale)`, the centroid update is an exact
    * floor-div mean, seeding is the `nlist` lowest-id vectors, and every
    * tie breaks on cid. Integer sums commute exactly, so (unlike
    * [[ivfTopK]], whose float `avg` centroids depend on reduction order
    * and stay invariant-tested only) the whole training loop is
    * order-independent and an external engine replays it bit-for-bit by
    * unrolling the fixed `iters`. Distances everywhere (assignment,
    * probe selection, final ranking) are integer squared-L2 on the grid.
    *
    * Same 100 TB shape as [[ivfTopK]]: centroids are tiny driver state,
    * each Lloyd round is one narrow argmin projection + a (cid, dim)
    * partial-agg (≤ nlist×dims rows per partition reach the shuffle),
    * corpus vectors never shuffle, the probe side broadcasts.
    */
  def ivfTopKTrainedInt(queries: DataFrame, corpus: DataFrame, k: Int,
                        nlist: Int = 4, nprobe: Int = 2, iters: Int = 2,
                        scale: Int = 512, idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame = {
    require(iters >= 0 && nlist > 0 && nprobe > 0 && scale > 0)
    val corp = corpus.select(col(idCol), gridCodes(col(vecCol), scale).as("cv"))
    val cents = trainCoarseInt(corp, idCol, nlist, iters)
    val lists = corp.withColumn("cid", nearestCoarse(col("cv"), cents))
      .select(col(idCol).as("neighbor_id"), col("cv").as("nv"), col("cid"))
    val probes = queries
      .select(col(idCol).as("query_id"), gridCodes(col(vecCol), scale).as("qv"))
      .select(col("query_id"), col("qv"),
        coarseProbes(col("qv"), cents, nprobe).as("_p"))
      .select(col("query_id"), col("qv"), col("_p.cid").as("cid"))
    val joined = broadcast(probes).join(lists, Seq("cid"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("dist",
        aggregate(zip_with(col("qv"), col("nv"), (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, v) => acc + v))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dist").asc, col("neighbor_id").asc)
    joined.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("int").as("rank"),
        col("neighbor_id"), col("dist"))
  }

  /** Integer squared-L2 between a grid-code column and one centroid. */
  private def coarseDist(c: Column, cent: Seq[Long]): Column =
    aggregate(zip_with(c, typedLit(cent), (a, b) => (a - b) * (a - b)),
      lit(0L), (acc, v) => acc + v)

  /** Driver-side replica of [[nearestCoarse]]'s exact integer argmin
    * (squared-L2 on the grid, ties to the lowest cid) — used only to
    * derive the handful of PQ seed residuals from the fused seed collect
    * in [[ivfPqTopKTrainedInt]]; must stay bit-equal to the Column form. */
  private[ops] def nearestCidLocal(cv: Seq[Long],
                                   cents: Seq[(Int, Seq[Long])]): Int =
    cents.map { case (cid, c) =>
      var d = 0L
      var i = 0
      while (i < c.length) { val t = cv(i) - c(i); d += t * t; i += 1 }
      (d, cid)
    }.min._2

  /** Nearest trained centroid's cid (ties to the lowest cid). */
  private[ops] def nearestCoarse(c: Column, cents: Seq[(Int, Seq[Long])]): Column =
    element_at(array_sort(array(cents.map { case (cid, cv) =>
      struct(coarseDist(c, cv).as("d"), lit(cid).as("cid")) }: _*)), 1)
      .getField("cid")

  /** The `nprobe` nearest coarse lists per query, as an exploded
    * struct<d,cid> column. */
  private def coarseProbes(qv: Column, cents: Seq[(Int, Seq[Long])],
                           nprobe: Int): Column =
    explode(slice(array_sort(array(cents.map { case (cid, cv) =>
      struct(coarseDist(qv, cv).as("d"), lit(cid).as("cid")) }: _*)),
      1, nprobe))

  /** The coarse integer-Lloyd quantizer shared by [[ivfTopKTrainedInt]]
    * and [[ivfPqTopKTrainedInt]]: seeds = the `nlist` lowest-id grid-code
    * vectors, each round one exact floor-div mean update per (cid, dim),
    * empty lists keep their centroid, ties to the lowest cid — fully
    * order-independent, so both callers replay bit-for-bit in the oracle.
    * Driver state is nlist×dims longs; each round's post-shuffle
    * aggregate is ≤ nlist×dims rows regardless of corpus size. */
  private[ops] def trainCoarseInt(corp: DataFrame, idCol: String, nlist: Int,
                             iters: Int,
                             preSeeds: Option[Seq[Seq[Long]]] = None): Seq[(Int, Seq[Long])] = {
    // r16: same pre-collected-seeds seam as trainPqBooksInt
    var cents: Seq[(Int, Seq[Long])] = preSeeds
      .getOrElse(corp.orderBy(col(idCol)).limit(nlist)
        .select(col("cv")).collect().map(_.getSeq[Long](0)).toSeq)
      .zipWithIndex.map { case (cv, i) => (i, cv) }
    for (_ <- 0 until iters) {
      val means = corp.withColumn("cid", nearestCoarse(col("cv"), cents))
        .select(col("cid"), posexplode(col("cv")).as(Seq("dim", "x")))
        .groupBy(col("cid"), col("dim"))
        .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
        .select(col("cid"), col("dim"),
          graft.functions.IntMath.floorDiv(col("s"), col("n")).as("m"))
        .collect()
      val byCid = means.groupBy(_.getInt(0))
      cents = cents.map { case (cid, old) =>
        byCid.get(cid) match {
          case Some(rows) =>
            val m = old.toArray.clone()
            rows.foreach(r => m(r.getInt(1)) = r.getLong(2))
            (cid, m.toSeq)
          case None => (cid, old) // empty list keeps its centroid
        }
      }
    }
    cents
  }

  /** Deterministic LCG centroids (same exact-rational generator as the
    * LSH hyperplanes) — every value is a dyadic rational, so an external
    * engine derives bit-identical centroids from the formula alone.
    */
  def lcgCentroids(nlist: Int, dims: Int): Seq[(Int, Seq[Double])] =
    (0 until nlist).map { c =>
      (c, (0 until dims).map(d =>
        graft.functions.LshBucketExpr.hyperplane(c.toLong * dims + d)))
    }

  /** IVF with *fixed* centroids — no k-means, fully order-independent and
    * cross-engine reproducible (the oracle derives the same centroids
    * from the LCG formula). The production pattern: train the quantizer
    * once offline, reuse it for every incremental index build.
    */
  def ivfTopKFixed(queries: DataFrame, corpus: DataFrame, k: Int,
                   nlist: Int = 8, nprobe: Int = 2, dims: Int = 64,
                   idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame =
    probeTopK(queries, corpus, lcgCentroids(nlist, dims), k, nprobe, idCol, vecCol)

  /** The standard IVF sizing rule (`nlist ∝ √N`, `nprobe/nlist` held
    * constant — see SCALE.md's two-table derivation at sf1/sf10) as an
    * executable default instead of prose: anchored at the measured
    * (nlist=16, nprobe=4) @ N=8k point, so recall is governed by an
    * unchanged probed fraction and per-query cost by an unchanged probed
    * count as the corpus grows. `nlist` is clamped to [1, N]; `nprobe`
    * floors at 1. The centroid table stays a driver-side constant
    * (nlist × dims doubles) through nlist ≈ 10⁵, i.e. any plausible
    * corpus (100M vectors → nlist ≈ 1.8k).
    */
  def ivfAutoParams(corpusCount: Long): (Int, Int) = {
    require(corpusCount > 0, "ivfAutoParams: empty corpus")
    val nlist = math.max(1L, math.min(corpusCount,
      math.round(16.0 * math.sqrt(corpusCount.toDouble / 8000.0)))).toInt
    (nlist, math.max(1, nlist / 4))
  }

  /** [[ivfTopKFixed]] with nlist/nprobe DERIVED from the corpus count via
    * [[ivfAutoParams]] — the menu entry that survives a caller who never
    * read the sizing guidance. Costs one count() over the corpus (a
    * metadata-only scan for parquet sources).
    */
  def ivfTopKAuto(queries: DataFrame, corpus: DataFrame, k: Int,
                  dims: Int = 64, idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame = {
    val (nlist, nprobe) = ivfAutoParams(corpus.count())
    ivfTopKFixed(queries, corpus, k, nlist, nprobe, dims, idCol, vecCol)
  }

  /** All `m` PQ codes in one native codegen'd pass (array<int>). */
  def pqCodes(vec: org.apache.spark.sql.Column, m: Int, ncode: Int,
              sub: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graftshim.ColumnBridge
    ColumnBridge.column(graft.functions.PqCodesExpr(
      ColumnBridge.expression(vec), m, ncode, sub))
  }

  /** The query's m×ncode ADC distance tables in one native node
    * (array<array<double>>) — one plan node instead of m·ncode·sub,
    * which is what keeps driver-side planning O(1) in the PQ shape. */
  def pqAdcTabs(vec: org.apache.spark.sql.Column, m: Int, ncode: Int,
                sub: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graftshim.ColumnBridge
    ColumnBridge.column(graft.functions.PqAdcTabsExpr(
      ColumnBridge.expression(vec), m, ncode, sub))
  }

  /** Product-quantization ANN top-k — the memory-compression search tier
    * for corpora whose float vectors no longer fit the cluster: each
    * corpus vector is encoded once into `m` subspace codes (here 8×16 —
    * 4 bits/subspace, 64× smaller than float32), and each query scans
    * CODES, not vectors, with an asymmetric-distance (ADC) lookup table
    * of `m`×`ncode` precomputed subspace distances.
    *
    * Scale shape: encoding is a narrow scan-speed projection (codebooks
    * are literals — no join, no shuffle, like [[nearestCentroid]]); the
    * scan side is a broadcast of the tiny query table against the
    * code-only corpus projection — the shuffle carries (query_id,
    * neighbor_id, adc) and the window is the same pre-shuffle
    * group-limited top-k as every other ANN tier here. Compose with the
    * IVF probe for sublinear scans (IVF-ADC); approximate by
    * construction — recall depends on codebook fit, rank ties broken by
    * neighbor id. The ADC-table side (m×ncode doubles per query)
    * broadcasts unconditionally — object-level contract.
    */
  def pqTopK(queries: DataFrame, corpus: DataFrame, k: Int, m: Int = 8,
             ncode: Int = 16, dims: Int = 64, idCol: String = "vec_id",
             vecCol: String = "embedding"): DataFrame = {
    require(dims % m == 0, "dims must divide into m subspaces")
    val sub = dims / m
    val codes = corpus.select(col(idCol).as("neighbor_id"),
      pqCodes(col(vecCol), m, ncode, sub).as("_codes"))
    // per-query ADC tables: distances from the query's slice s to every
    // centroid of subspace s, in code order
    val qtabs = queries.select(col(idCol).as("query_id"),
      pqAdcTabs(col(vecCol), m, ncode, sub).as("_tabs"))
    pqAdcRank(broadcast(qtabs).crossJoin(codes), m, k,
      seed = lit(0.0d), finish = round(_, 6))
  }

  /** PQ with ORACLE-GATED *trained* codebooks — the recall fix for
    * [[pqTopK]]: fixed LCG codebooks sit off the data manifold (unit
    * vectors have subspace-slice norms ~1/√m ≈ 0.35 while the LCG
    * centroids' are ~0.82), so quantization error swamps the
    * between-neighbor gaps and recall@10 measured 0.02 on the sf1
    * embeddings. Training per-subspace codebooks on the corpus the same
    * way [[ivfTopKTrainedInt]] trains its coarse quantizer — Lloyd
    * k-means in exact integer arithmetic over the quantization grid
    * (codes `floor(x·scale)`, floor-div means, lowest-id seeds, ties to
    * the lowest code) — lifts recall@10 to ~0.95 with identical query
    * cost, and keeps the whole build order-independent so the DuckDB
    * oracle replays the training bit-for-bit with subspaces as DATA
    * (one assignment/update CTE pair per iteration covers all m books).
    *
    * Scale shape: every Lloyd round is one narrow projection + one
    * partial-agg whose post-shuffle size is ≤ m·ncode·sub rows (1024
    * here) regardless of corpus size; codebooks are tiny driver state;
    * the search itself is [[pqTopK]]'s — encode at scan speed, broadcast
    * the query ADC tables, rank codes. Corpus vectors never shuffle.
    */
  def pqTopKTrainedInt(queries: DataFrame, corpus: DataFrame, k: Int,
                       m: Int = 8, ncode: Int = 16, iters: Int = 2,
                       scale: Int = 512, dims: Int = 64,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    require(dims % m == 0, "dims must divide into m subspaces")
    require(iters >= 0 && ncode > 0 && scale > 0)
    val sub = dims / m
    val corp = corpus.select(col(idCol), gridCodes(col(vecCol), scale).as("cv"))
    val books = trainPqBooksInt(corp, "cv", idCol, m, ncode, sub, iters)
    val lists = corp.select(col(idCol).as("neighbor_id"),
      pqEncodeTrained(col("cv"), books, m, ncode, sub).as("_codes"))
    val qtabs = queries
      .select(col(idCol).as("query_id"), gridCodes(col(vecCol), scale).as("qv"))
      .select(col("query_id"),
        pqAdcTrained(col("qv"), books, m, ncode, sub).as("_tabs"))
    pqAdcRank(broadcast(qtabs).crossJoin(lists), m, k)
  }

  /** `floor(x·scale)` integer quantization-grid codes — the exact-integer
    * domain every trained variant works in. */
  def gridCodes(vec: Column, scale: Int): Column =
    transform(vec, x => floor(x.cast("double") * scale).cast("long"))

  /** Trained-books PQ encode (array of m argmin codes) — native compiled
    * loop, one plan node at any `ncode`. */
  def pqEncodeTrained(cv: Column, books: Array[Long], m: Int, ncode: Int,
                      sub: Int): Column = {
    import org.apache.spark.sql.graftshim.ColumnBridge
    ColumnBridge.column(graft.functions.PqEncodeExpr(
      ColumnBridge.expression(cv), books, m, ncode, sub))
  }

  /** Trained-books ADC tables (m×ncode integer squared-L2). */
  def pqAdcTrained(cv: Column, books: Array[Long], m: Int, ncode: Int,
                   sub: Int): Column = {
    import org.apache.spark.sql.graftshim.ColumnBridge
    ColumnBridge.column(graft.functions.PqAdcTrainedExpr(
      ColumnBridge.expression(cv), books, m, ncode, sub))
  }

  /** Shared ADC ranking tail: sum the per-subspace table lookups, rank
    * ascending with neighbor-id ties, keep top k. Input must carry
    * `query_id`, `neighbor_id`, `_tabs`, `_codes`. The trained (integer)
    * tiers fold from a 0L seed and emit the exact sum; the float tiers
    * fold from 0.0 and round the output to 6 places (oracle parity). */
  private def pqAdcRank(joined: DataFrame, m: Int, k: Int,
                        seed: Column = lit(0L),
                        finish: Column => Column = identity): DataFrame = {
    val adc = (0 until m).map(s =>
        element_at(element_at(col("_tabs"), s + 1),
          element_at(col("_codes"), s + 1) + 1))
      .foldLeft(seed)(_ + _)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").asc, col("neighbor_id").asc)
    joined.filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("adc", adc)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("int").as("rank"),
        col("neighbor_id"), finish(col("adc")).as("adc"))
  }

  /** Per-subspace integer Lloyd: trains all m codebooks in ONE aggregate
    * per iteration. Seeds are the `ncode` lowest-id rows' slices; the
    * update is an exact floor-div mean per (subspace, code, dim); empty
    * codes keep their centroid; assignment ties take the lowest code —
    * fully order-independent, so a SQL oracle replays it with subspaces
    * as data. Post-shuffle aggregate size is ≤ m·ncode·sub rows
    * regardless of corpus size; the returned flat array (layout
    * `[(s·ncode + c)·sub + d]`) is tiny driver state.
    */
  private def trainPqBooksInt(codes: DataFrame, cvCol: String, idCol: String,
                              m: Int, ncode: Int, sub: Int, iters: Int,
                              preSeeds: Option[Seq[Seq[Long]]] = None): Array[Long] = {
    // r16: a caller that already holds the `ncode` lowest-id vectors
    // (ivfPqTopKTrainedInt collects one seed batch for BOTH quantizers)
    // passes them in and skips this collect — one fewer Spark action
    val seeds = preSeeds.getOrElse(
      codes.orderBy(col(idCol)).limit(ncode)
        .select(col(cvCol)).collect().map(_.getSeq[Long](0)).toSeq)
    require(seeds.length == ncode,
      s"trainPqBooksInt: corpus has ${seeds.length} < ncode=$ncode vectors")
    val books = new Array[Long](m * ncode * sub)
    for (s <- 0 until m; c <- 0 until ncode; d <- 0 until sub)
      books((s * ncode + c) * sub + d) = seeds(c)(s * sub + d)
    for (_ <- 0 until iters) {
      // snapshot the books for this round's lazily-evaluated assignment
      val enc = pqEncodeTrained(col(cvCol), books.clone(), m, ncode, sub)
      val means = codes.withColumn("_codes", enc)
        .select(posexplode(col(cvCol)).as(Seq("dim", "x")), col("_codes"))
        .select((col("dim") / sub).cast("int").as("s"),
          pmod(col("dim"), lit(sub)).cast("int").as("d"), col("x"),
          element_at(col("_codes"), (col("dim") / sub).cast("int") + 1)
            .as("code"))
        .groupBy(col("s"), col("code"), col("d"))
        .agg(sum(col("x")).as("sm"), count(lit(1)).as("n"))
        .select(col("s"), col("code"), col("d"),
          graft.functions.IntMath.floorDiv(col("sm"), col("n")).as("mv"))
        .collect()
      means.foreach(r =>
        books((r.getInt(0) * ncode + r.getInt(1)) * sub + r.getInt(2)) =
          r.getLong(3))
    }
    books
  }

  /** Residual IVF-PQ with BOTH quantizers trained, all in exact integer
    * arithmetic — the composition that actually recovers recall on
    * clustered corpora: [[pqTopKTrainedInt]] spends its entire bit
    * budget encoding which cluster a vector sits in (measured recall@10
    * 0.04 on the sf1 embeddings — barely above the untrained 0.02),
    * while encoding the RESIDUAL `cv − coarse_centroid` gives all
    * m·log₂(ncode) bits to within-cluster structure (0.39 at the same
    * 32-bit budget, see SCALE.md). This is the standard IVF-ADC residual
    * design; residuals stay exact integers (grid-code subtraction), so
    * the whole build — coarse Lloyd, residual books, encoding, probe,
    * ADC — replays bit-for-bit in the DuckDB oracle.
    *
    * Scale shape: coarse training is [[ivfTopKTrainedInt]]'s (≤
    * nlist×dims driver rows per round), book training is
    * [[trainPqBooksInt]]'s (≤ m·ncode·sub rows per round), the search is
    * an equi-join on `cid` of the broadcast probe side (queries ×
    * nprobe, each with its per-probe residual ADC tables) against the
    * code-only corpus projection. Corpus vectors never shuffle.
    */
  def ivfPqTopKTrainedInt(queries: DataFrame, corpus: DataFrame, k: Int,
                          nlist: Int = 4, nprobe: Int = 2, m: Int = 8,
                          ncode: Int = 16, iters: Int = 2, scale: Int = 512,
                          dims: Int = 64, idCol: String = "vec_id",
                          vecCol: String = "embedding"): DataFrame = {
    require(dims % m == 0, "dims must divide into m subspaces")
    require(iters >= 0 && nlist > 0 && nprobe > 0 && ncode > 0 && scale > 0)
    val sub = dims / m
    val corp = corpus.select(col(idCol), gridCodes(col(vecCol), scale).as("cv"))

    // r16: ONE fused seed collect feeds both quantizers. The nseed
    // lowest-id grid codes give the coarse seeds directly; the PQ seeds
    // (the ncode lowest-id RESIDUALS) are re-derived on the driver from
    // the trained centroids with the same exact integer arithmetic the
    // cluster uses (squared-L2 argmin, ties to the lowest cid, plain
    // subtraction) — this drops a whole corpus-wide residual projection
    // + TakeOrdered action from the build. Bit-identical by the oracle
    // gate (the DuckDB replay still derives seeds the original way).
    val nseed = math.max(nlist, ncode)
    val seedCvs: Seq[Seq[Long]] = corp.orderBy(col(idCol)).limit(nseed)
      .select(col("cv")).collect().map(_.getSeq[Long](0)).toSeq

    // coarse quantizer: the SAME integer Lloyd as ivfTopKTrainedInt
    val cents = trainCoarseInt(corp, idCol, nlist, iters,
      Some(seedCvs.take(nlist)))

    // integer residuals: rv = cv − centroid(cid) (centroids as one
    // cid-indexed literal — no join)
    val centLit = typedLit(cents.sortBy(_._1).map(_._2))
    def residual(cv: Column, cid: Column): Column =
      zip_with(cv, element_at(centLit, cid + 1), (a, b) => a - b)
    val rcodes = corp.withColumn("cid", nearestCoarse(col("cv"), cents))
      .select(col(idCol), col("cid"),
        residual(col("cv"), col("cid")).as("rv"))
    val centByCid = cents.toMap
    val pqSeeds = seedCvs.take(ncode).map { cv =>
      val cent = centByCid(nearestCidLocal(cv, cents))
      cv.indices.map(d => cv(d) - cent(d))
    }
    val books = trainPqBooksInt(rcodes, "rv", idCol, m, ncode, sub, iters,
      Some(pqSeeds))

    val lists = rcodes.select(col(idCol).as("neighbor_id"), col("cid"),
      pqEncodeTrained(col("rv"), books, m, ncode, sub).as("_codes"))
    // probes: nprobe nearest coarse lists per query, ADC tables on the
    // PER-PROBE query residual (qv − centroid_l)
    val probes = queries
      .select(col(idCol).as("query_id"), gridCodes(col(vecCol), scale).as("qv"))
      .select(col("query_id"), col("qv"),
        coarseProbes(col("qv"), cents, nprobe).as("_p"))
      .select(col("query_id"), col("_p.cid").as("cid"),
        pqAdcTrained(residual(col("qv"), col("_p.cid")), books, m, ncode, sub)
          .as("_tabs"))
    pqAdcRank(broadcast(probes).join(lists, Seq("cid")), m, k)
  }

  /** IVF-ADC (IVF-PQ) ANN top-k — the standard corpus-scale composition:
    * the coarse quantizer prunes the scan to each query's `nprobe`
    * inverted lists (sublinear scan), and distances inside the probed
    * lists come from PQ codes via the query's ADC tables (compressed
    * memory). Coarse assignment is the cosine argmax used by the IVF
    * tier; in-list ranking is subspace-L2 ADC — both from fixed LCG
    * parameters here (cross-engine reproducible); production trains
    * both offline and nothing downstream changes.
    *
    * Scale shape: both encodings are narrow scan-speed projections; the
    * probe is an equi-join on `cid` against a code-only corpus
    * projection; the top-k window group-limits before its exchange. The
    * probe side (queries × nprobe rows, each carrying its ADC tables)
    * broadcasts unconditionally — object-level contract.
    */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                nlist: Int = 8, nprobe: Int = 2, m: Int = 8, ncode: Int = 16,
                dims: Int = 64, idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame = {
    require(dims % m == 0, "dims must divide into m subspaces")
    val sub = dims / m
    val cents = lcgCentroids(nlist, dims)
    val lists = corpus.select(col(idCol).as("neighbor_id"),
      nearestCentroid(col(vecCol), cents).as("cid"),
      pqCodes(col(vecCol), m, ncode, sub).as("_codes"))
    val probes = queries.select(col(idCol).as("query_id"),
        explode(slice(array_sort(array(centroidStructs(col(vecCol), cents): _*)),
          1, nprobe)).as("_p"),
        pqAdcTabs(col(vecCol), m, ncode, sub).as("_tabs"))
      .withColumn("cid", col("_p.cid")).drop("_p")
    pqAdcRank(broadcast(probes).join(lists, Seq("cid")), m, k,
      seed = lit(0.0d), finish = round(_, 6))
  }

  /** ANN top-k restricted to the query's LSH bucket. Approximate: recall
    * depends on `planes`; exact within the bucket. Query side broadcasts
    * unconditionally (object-level contract); this is also the tier that
    * degrades gracefully past the ceiling — drop the hint and the same
    * plan is a plain shuffled equi-join on `bucket`.
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int, planes: Int = 4,
              dims: Int = 64, idCol: String = "vec_id",
              vecCol: String = "embedding"): DataFrame = {
    val cb = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      lshBucket(col(vecCol), planes, dims).as("bucket"))
    val qb = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      lshBucket(col(vecCol), planes, dims).as("bucket"))
    val joined = broadcast(qb).join(cb, Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", cosine(col("qv"), col("cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    joined.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("int").as("rank"),
        col("neighbor_id"), round(col("cos"), 6).as("cos"))
  }
}
