package graft.ops

import graft.functions.CrossHash._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-management operators for training-data pipelines: deterministic
  * split assignment and corpus-level boilerplate detection. Both are
  * narrow/blocked designs — nothing materializes O(n²) and the only
  * shuffles are keyed aggregates with map-side partial combine.
  */
object CorpusOps {

  /** Deterministic train/val/test split by content-stable hash:
    * `bucket = polyHash(id) % 100`, then named ranges by cumulative
    * percentage. Reproducible across runs, engines and cluster sizes (no
    * RNG, no row order dependence), and stable under corpus growth — a
    * document never changes split when others are added, which is the
    * property `randomSplit` cannot give you.
    */
  def splitAssign(docs: DataFrame,
                  fractions: Seq[(String, Int)] = Seq("train" -> 98, "val" -> 1, "test" -> 1),
                  idCol: String = "doc_id"): DataFrame = {
    require(fractions.map(_._2).sum == 100, "fractions must sum to 100")
    require(fractions.nonEmpty)
    val bucket = polyHash(col(idCol).cast("string")) % lit(100L)
    val cumEnds = fractions.scanLeft(0) { case (acc, (_, p)) => acc + p }.tail
    val first = when(bucket < cumEnds.head, lit(fractions.head._1))
    val split = fractions.tail.zip(cumEnds.tail).dropRight(1)
      .foldLeft(first) { case (acc, ((name, _), end)) =>
        acc.when(bucket < end, lit(name))
      }
      .otherwise(lit(fractions.last._1))
    docs.select(col(idCol), bucket.cast("int").as("bucket"),
      (if (fractions.size == 1) lit(fractions.head._1) else split).as("split"))
  }

  /** Deterministic domain-mixture resampling: downsample each stratum
    * (source/domain) to a target rate so the surviving corpus matches a
    * desired mixture — the standard final step of an LLM data pipeline
    * (e.g. downweight web crawl, keep all books/code). Keep decisions are
    * per-document Bernoulli trials driven by a content-stable hash, so
    * they are reproducible across runs, engines and cluster sizes, and a
    * document's fate never changes when the corpus around it grows —
    * exactly what RNG-based `sample()` cannot guarantee. A pure narrow
    * filter: no shuffle, no state; at 100 TB it runs at scan speed and
    * composes with partition pruning on the stratum column.
    *
    * `rates` maps stratum value → keep rate in [0, 1]; absent strata use
    * `defaultRate`. The keep test is exact integer arithmetic:
    * `polyHash(id:salt) mod 1e6 < rate·1e6` (rates are exact at 1e-6
    * granularity, matching the oracle bit-for-bit).
    */
  def mixtureSample(docs: DataFrame, rates: Map[String, Double],
                    defaultRate: Double = 1.0,
                    strataCol: String = "source", idCol: String = "doc_id",
                    salt: String = "mix"): DataFrame = {
    require((rates.values ++ Seq(defaultRate)).forall(r => r >= 0 && r <= 1),
      "keep rates must be in [0, 1]")
    val u = polyHash(concat(col(idCol).cast("string"), lit(":" + salt))) % lit(1000000L)
    def thr(rate: Double): Column = lit(math.round(rate * 1000000L))
    val cut = rates.toSeq.sortBy(_._1)
      .foldLeft(lit(null).cast("long")) { case (acc, (s, r)) =>
        when(col(strataCol) === s, thr(r)).otherwise(acc)
      }
    docs.select(col(idCol), col(strataCol), u.cast("int").as("u_bucket"))
      .filter(col("u_bucket") < coalesce(cut, thr(defaultRate)))
  }

  /** Deterministic WEIGHTED sampling — keep each document with
    * probability proportional to a per-row weight (token count, quality
    * score ×1e6, …), scaled so the heaviest row is kept with certainty.
    * The keep test stays exact integer arithmetic — `u·w_max <
    * w·1 000 000` with `u = polyHash(id:salt) mod 1e6` — so decisions
    * reproduce across runs, engines and cluster sizes, and a document's
    * fate never changes as the corpus grows (modulo a changed w_max,
    * which is part of the sampling design, not nondeterminism).
    *
    * Scale shape: one broadcast single-row max + one narrow filter — the
    * weighted complement of [[mixtureSample]]'s fixed per-stratum rates.
    *
    * Precondition: weights must stay ≤ Long.MaxValue / 10⁶ (≈ 9.2·10¹²)
    * so `u · w_max` cannot overflow Long and silently flip keep
    * decisions; a codegen'd `assert_true` on the broadcast max enforces
    * it at run time (rescale heavier weights before sampling).
    */
  def weightedSample(docs: DataFrame, weightCol: String,
                     idCol: String = "doc_id",
                     salt: String = "wsample"): DataFrame = {
    val u = polyHash(concat(col(idCol).cast("string"), lit(":" + salt))) % lit(1000000L)
    val wmax = docs.agg(max(col(weightCol)).cast("long").as("_wmax"))
    // assert_true returns NULL when the bound holds (→ coalesce keeps the
    // row alive) and throws on the first evaluated row when it doesn't
    val wmaxBound = Long.MaxValue / 1000000L
    // a NULL _wmax (all weights null) is an EMPTY sample, not an abort:
    // the keep test's null comparison filters every row
    val guard = coalesce(
      assert_true(col("_wmax").isNull ||
          (col("_wmax") <= lit(wmaxBound) && col("_wmax") >= 1L),
        when(col("_wmax") < 1L,
          lit(s"weightedSample: max($weightCol) < 1 after long truncation — " +
            "fractional scores must be pre-scaled (e.g. x1e6) or the whole " +
            "corpus is silently dropped"))
          .otherwise(lit(s"weightedSample: max($weightCol) exceeds $wmaxBound — " +
            "u*wmax would overflow Long; rescale weights before sampling"))),
      lit(true))
    // integrality guard: cast-to-long TRUNCATES, so a fractional weight
    // (2.7 -> 2) would silently bias keep probabilities
    // double-compare is exact here: weights are bounded ≤ 9.2e12 < 2^53.
    // NULL weights pass the guard (and fail the keep test naturally —
    // null-weight docs are simply never sampled, the pre-guard behavior).
    val rowGuard = coalesce(
      assert_true(col(weightCol).isNull || (col(weightCol) >= 0 &&
          col(weightCol).cast("double") === col(weightCol).cast("long").cast("double")),
        lit(s"weightedSample: $weightCol must be a non-negative integer " +
          "value — scale fractional scores (e.g. x1e6) before sampling")),
      lit(true))
    docs.select(col(idCol), col(weightCol), u.cast("long").as("_u"))
      .crossJoin(broadcast(wmax))
      .filter(guard && rowGuard &&
        col("_u") * col("_wmax") < col(weightCol).cast("long") * lit(1000000L))
      .select(col(idCol), col(weightCol).cast("long").as("weight"),
        col("_u").cast("int").as("u_bucket"))
  }

  /** Corpus vocabulary head: the `k` highest-document-frequency terms with
    * their document and occurrence counts — the standard first look at a
    * corpus before tokenizer training / stopword selection.
    *
    * Scale shape (r17, guide §2.3 "aggregate before you shuffle"): the
    * one-pass `countDistinct(doc_id)` form planned as a two-level
    * aggregate whose FIRST exchange is keyed (term, doc_id) — one row per
    * distinct (doc, term) pair, i.e. a corpus-scale shuffle (15.9 MB at
    * sf1, linear in the corpus). Instead, document frequency rides the
    * native per-doc-DISTINCT gram pass (`wordGrams` n=1 — the same
    * dedup-inside-the-row trick as [[TextOps.oovStats]]) and term
    * frequency the plain instance pass; both legs pre-aggregate by term
    * map-side, so the single exchange carries vocabulary-sized partials
    * (#terms × tasks), never corpus-scale rows. Two scans instead of one,
    * but the shuffle no longer grows with the corpus. df/tf values are
    * identical: Σ_docs [term ∈ doc] ≡ countDistinct(doc_id), and the
    * union legs' zero-tags drop out of the sums.
    */
  def vocabulary(docs: DataFrame, k: Int = 20, textCol: String = "text"): DataFrame = {
    val perDoc = docs.select(explode(wordGrams(lower(col(textCol)), 1)).as("term"))
      .select(col("term"), lit(1L).as("_d"), lit(0L).as("_t"))
    val inst = docs.select(explode(tokens(lower(col(textCol)))).as("term"))
      .select(col("term"), lit(0L).as("_d"), lit(1L).as("_t"))
    perDoc.unionByName(inst)
      .groupBy(col("term"))
      .agg(sum(col("_d")).as("df"), sum(col("_t")).as("tf"))
      .orderBy(col("df").desc, col("tf").desc, col("term").asc)
      .limit(k)
  }

  /** Deterministic stratified sample: the `k` documents per stratum with
    * the smallest content-stable hash — a reproducible "random" pick that
    * never changes for a document when the corpus around it grows (the
    * property `df.stat.sampleBy` cannot give you). One keyed window; at
    * scale the per-stratum top-k plans as a pre-shuffle group-limit, so
    * only ≤k rows per stratum per map task reach the exchange.
    */
  def stratifiedSample(docs: DataFrame, k: Int,
                       strataCol: String = "lang",
                       idCol: String = "doc_id"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(strataCol))
      .orderBy(col("_h").asc, col(idCol).asc)
    docs.select(col(strataCol), col(idCol),
        polyHash(col(idCol).cast("string")).as("_h"))
      .withColumn("pick_rank", row_number().over(w).cast("int"))
      .filter(col("pick_rank") <= k)
      .select(col(strataCol), col("pick_rank"), col(idCol))
  }

  /** Exact token-length quantiles per stratum (corpus sizing / truncation
    * budgets). Uses the exact `percentile` aggregate — one keyed shuffle;
    * per-group state is the sorted length multiset, bounded by the stratum
    * row count. For 100 TB corpora swap in `percentile_approx` (t-digest,
    * constant memory) — same call shape, declared tolerance.
    */
  def lengthQuantiles(docs: DataFrame,
                      qs: Seq[Double] = Seq(0.25, 0.5, 0.75, 0.95),
                      strataCol: String = "lang",
                      textCol: String = "text"): DataFrame = {
    val n = size(tokens(col(textCol)))
    val pct = percentile(col("_n"), lit(qs.toArray))
    docs.select(col(strataCol), n.cast("long").as("_n"))
      .groupBy(col(strataCol))
      .agg(count(lit(1)).as("n_docs"), pct.as("_q"))
      .select(col(strataCol) +: col("n_docs") +:
        qs.zipWithIndex.map { case (q, i) =>
          round(element_at(col("_q"), i + 1), 6)
            .as(s"p${(q * 100).round.toInt}")
        }: _*)
  }

  /** Concat-and-chunk sequence packing (the standard LLM pre-training
    * batching scheme): documents are laid out back-to-back in `orderCol`
    * order within each stratum, and every document is assigned the
    * context-window chunk its first token lands in
    * (`chunk_id = start_offset div capacity`). Deterministic — no RNG, no
    * row-order dependence — so shards are reproducible across runs and
    * cluster sizes.
    *
    * Parallelism comes from the strata: the running offset is a per-
    * stratum window cumsum (one keyed sort). Pack by split/source/shard —
    * a `None` stratum is a single global sequence and therefore a single
    * sort task; fine for one shard, wrong for a whole corpus. A
    * CdcOps.bucketedRank-style distributed cumsum was built and
    * benchmarked at sf10 (1.6 s vs 0.9 s here — the double evaluation /
    * materialization of the tokenized base outweighs the parallel sort
    * while per-stratum partitions fit a task); reuse that shape when
    * they no longer do.
    */
  def packSequences(docs: DataFrame, capacity: Long,
                    strataCol: Option[String] = Some("lang"),
                    orderCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    require(capacity > 0, "capacity must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(strataCol.map(col).toSeq: _*)
      .orderBy(col(orderCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val keep = strataCol.map(col).toSeq :+ col(orderCol)
    docs.select(keep :+ size(tokens(col(textCol))).cast("long").as("n_tokens"): _*)
      .withColumn("start_off", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .withColumn("chunk_id",
        graft.functions.IntMath.floorDiv(col("start_off"), capacity))
  }

  /** Greedy quality-first corpus selection under a token budget — the
    * data-selection step of an LLM pipeline ("take the best documents
    * until N tokens"): order by (`scoreCol` DESC, `idCol` ASC) and keep
    * the maximal prefix whose cumulative token count stays ≤ `budget`.
    * Output: kept docs with token count, score and exact global
    * cumulative tokens.
    *
    * Scale shape: the naive form is a single-partition global window —
    * the classic scale trap. This is a distributed prefix sum instead:
    * (1) a 1-row stats pass fixes the score range as literals (and
    * rejects NULL/NaN scores up front); (2) one pass builds an
    * `nBuckets`-bin score histogram (per-bucket token sums; ≤ nBuckets
    * driver rows — the IVF-centroid analogy), whose exclusive bucket
    * offsets ship back as a literal array; (3) a window PARTITIONED BY
    * BUCKET computes the
    * within-bucket cumsum in parallel. Result is identical to the global
    * window (equal scores share a bucket; ties break by id inside it) —
    * the oracle twin IS the naive global cumsum, so the equivalence is
    * checked, not assumed. Degenerate case: all scores equal → one bucket
    * → one sort task (same caveat as [[packSequences]]' `None` stratum).
    */
  def selectByBudget(docs: DataFrame, budget: Long, nBuckets: Int = 1024,
                     scoreCol: String = "score", tokensCol: String = "n_tokens",
                     idCol: String = "doc_id"): DataFrame = {
    require(budget >= 0, "budget must be non-negative")
    require(nBuckets > 0, "nBuckets must be positive")
    val s = docs.select(col(idCol), col(scoreCol),
      col(tokensCol).cast("long").as(tokensCol))
    // One 1-row stats pass replaces the min/max subquery that both
    // downstream jobs would otherwise each recompute, and doubles as the
    // NULL/NaN guard: a NULL score would produce a NULL bucket key (NPE
    // in the driver-side hist collect) and NaN ordering diverges between
    // engines — both are caller errors, surfaced here before any heavy
    // job runs (the weightedSample precondition style) at zero per-row
    // cost (a per-row assert_true filter measured ~30% on this query).
    val stats = s.agg(
      min(col(scoreCol)).as("_lo"), max(col(scoreCol)).as("_hi"),
      count(lit(1)).as("_n"), count(col(scoreCol)).as("_nonnull"),
      count(when(isnan(col(scoreCol).cast("double")), lit(1))).as("_nan"))
      .head()
    require(stats.getLong(3) == stats.getLong(2) && stats.getLong(4) == 0L,
      s"selectByBudget: $scoreCol must be non-null and non-NaN — " +
        "filter or impute scores before budget selection")
    val b =
      if (stats.getLong(2) == 0L || stats.get(0) == stats.get(1))
        s.withColumn("_b", lit(0))
      else {
        val lo = lit(stats.get(0))
        val hi = lit(stats.get(1))
        s.withColumn("_b",
          least(floor((hi - col(scoreCol)) / (hi - lo) * nBuckets),
            lit(nBuckets - 1)).cast("int"))
      }
    val hist = b.groupBy(col("_b")).agg(sum(col(tokensCol)).as("_t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    // offsets(i) = token mass in strictly-better buckets (< i), 0-indexed
    val offsets = (0 until nBuckets)
      .scanLeft(0L)((acc, i) => acc + hist.getOrElse(i, 0L))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("_b"))
      .orderBy(col(scoreCol).desc, col(idCol).asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    b.withColumn("cum_tokens",
        element_at(typedLit(offsets), col("_b") + 1) + sum(col(tokensCol)).over(w))
      .filter(col("cum_tokens") <= budget)
      .select(col(idCol), col(tokensCol), col(scoreCol), col("cum_tokens"))
  }

  /** Top merge candidates for BPE-style tokenizer training: the `k`
    * highest-frequency adjacent token pairs in the corpus — exactly the
    * statistic the first BPE merge step maximizes (and re-runs of this op
    * over re-tokenized text drive subsequent merges). One shingle pass,
    * one keyed hash-aggregate with map-side partial combine, one top-k —
    * the same 100 TB shape as [[vocabulary]].
    */
  def bpePairCandidates(docs: DataFrame, k: Int = 20,
                        textCol: String = "text"): DataFrame = {
    // Non-distinct bigrams from one codegen'd pass (the interpreted
    // transform/element_at chain re-tokenized the document per element —
    // measured >10x slower); tokens never contain spaces, so splitting
    // the gram back apart after the aggregate is exact.
    docs.select(explode(wordGramsAll(lower(col(textCol)), 2)).as("_g"))
      .groupBy(col("_g"))
      .agg(count(lit(1)).as("n_pairs"))
      .select(split(col("_g"), " ").getItem(0).as("left_tok"),
        split(col("_g"), " ").getItem(1).as("right_tok"), col("n_pairs"))
      .orderBy(col("n_pairs").desc, col("left_tok").asc, col("right_tok").asc)
      .limit(k)
  }

  /** Z-order write path — [[zorderLayout]] made physical: range-partition
    * the corpus by the Morton key (sampled bounds balance skew), sort
    * inside each partition, and write one file per range. Files then
    * carry DISJOINT zvalue ranges, so parquet min/max stats prune reads
    * on BOTH underlying dimensions — the property the spec asserts
    * directly on the written files.
    */
  def exportZOrdered(docs: DataFrame, path: String, nFiles: Int,
                     bits: Int = 16, idCol: String = "doc_id",
                     charsCol: String = "n_chars",
                     textCol: String = "text"): Unit = {
    require(nFiles > 0, "nFiles must be positive")
    zorderLayout(docs, bits = bits, idCol = idCol, charsCol = charsCol,
      textCol = textCol)
      .repartitionByRange(nFiles, col("zvalue"), col(idCol))
      .sortWithinPartitions(col("zvalue"), col(idCol))
      .write.mode("overwrite").parquet(path)
  }

  /** Byte-pair-encoding tokenizer training — the full iterative merge
    * loop, not just the first-merge statistic ([[bpePairCandidates]]):
    * learn `nMerges` merges over the corpus and return them in order with
    * their frequencies at merge time. Standard BPE over word-internal
    * symbols: words split to characters plus a `</w>` end marker, and
    * each round merges the most frequent adjacent symbol pair (ties break
    * lexicographically — deterministic across runs and engines).
    *
    * Scale shape — the word-frequency compression that makes distributed
    * BPE cheap: pair statistics are identical over (distinct word,
    * count) as over the raw corpus, so the heavy corpus pass happens
    * ONCE (explode tokens → one keyed count; vocabulary-sized output).
    * Each learn round then runs over the cached vocab table: a per-word
    * HOF fold applies the previous merges (greedy left-to-right — the
    * fold's accumulator tail IS the "just merged" state), a pair explode
    * + keyed count weighted by word frequency finds the next merges, and
    * only a top-`O(batch)` slice ever reaches the driver. Round cost is
    * O(vocab), independent of corpus size; the loop is driver-side
    * control flow, never driver-side data.
    *
    * Merge batching — the scalable-BPE trick that keeps a production
    * 32k-merge vocabulary from costing 32k sequential Spark jobs: each
    * round selects a PREFIX of the ranked pair list that is provably
    * greedy-equivalent, applies all of it in one vocab pass, and only
    * then recounts. The selection rule is exact, not heuristic:
    *  - the prefix must be pairwise symbol-disjoint (including each
    *    pair's concatenated merge symbol), so no selected merge can
    *    create, destroy, or re-trigger another's occurrences — counts of
    *    everything selected are unchanged from the round's snapshot and
    *    the sorted order IS the greedy order;
    *  - a pair is only admitted while its count strictly exceeds an
    *    interference bound B = max over already-selected (a,b) of
    *    A + E, where A bounds NEW pairs a merge can create (count(x,ab)
    *    ≤ count(x,a), count(ab,y) ≤ count(b,y) — both visible in the
    *    collected slice) and E bounds PRE-EXISTING pairs involving a
    *    symbol literally equal to the concatenation "ab"; counts below
    *    the collected slice are bounded by the slice's minimum. Any
    *    pair the batch might promote therefore stays strictly below
    *    every admitted pair, so greedy would have picked the same
    *    prefix in the same order. Batching degrades to batch=1 exactly
    *    on adversarial distributions and wins big on Zipfian ones
    *    (real corpora: tens of merges per round).
    *
    * Two-tier execution — the same design as [[GraphOps]]' thresholded
    * connected components, and what production tokenizer trainers
    * (SentencePiece, HF tokenizers) do: the corpus-sized work is ALWAYS
    * distributed (the one explode→count pass), but when the resulting
    * word-frequency table fits comfortably on the driver
    * (`localVocabThreshold` rows) the merge loop itself runs locally
    * with incremental pair-count maintenance — zero per-round Spark
    * jobs, exact same greedy sequence. Above the threshold the
    * distributed round loop runs, with merge layers applied lazily and
    * checkpointed every `checkpointEvery` rounds so a round normally
    * costs one job, not two. Even a 100 TB multilingual corpus rarely
    * exceeds ~100M distinct words, so the local tier is the common case;
    * the distributed tier is the correctness-preserving escape hatch,
    * not a different algorithm.
    */
  def bpeLearn(docs: DataFrame, nMerges: Int = 10,
               textCol: String = "text", batch: Int = 32,
               checkpointEvery: Int = 8,
               localVocabThreshold: Long = 1000000L): Seq[(String, String, Long)] = {
    require(nMerges > 0, "nMerges must be positive")
    require(batch > 0, "batch must be positive")
    require(checkpointEvery > 0, "checkpointEvery must be positive")
    val words = docs
      .select(explode(tokens(lower(col(textCol)))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .select(
        // word → its character symbols + end-of-word marker (filter
        // guards the trailing "" Java's limit=-1 split appends)
        concat(filter(split(col("w"), ""), c => length(c) > 0),
          array(lit("</w>"))).as("syms"),
        col("cnt"))
    val ckpt = words.localCheckpoint(true)
    def unpersist(df: DataFrame): Unit = df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
      case _ => ()
    }
    if (ckpt.count() <= localVocabThreshold) {
      // Local tier: vocab fits on the driver — collect (syms, cnt) once
      // and run the exact incremental merge loop with no further jobs.
      val rows = ckpt.collect()
        .map(r => (r.getSeq[String](0).toArray, r.getLong(1)))
      unpersist(ckpt)
      bpeLearnLocal(rows, nMerges)
    } else bpeLearnDistributed(ckpt, nMerges, batch, checkpointEvery, unpersist)
  }

  /** Local tier of [[bpeLearn]]: the classic incremental BPE trainer over
    * an in-memory (symbols, count) word table. Pair counts live in one
    * hash map and an inverted occurrence index (pair → word ids) confines
    * each merge's update to the words that actually contain the pair —
    * the same bookkeeping SentencePiece/HF trainers use, so a merge costs
    * O(occurrences), not O(vocab). Selection order (count desc, then
    * left/right ascending in UTF-8 byte order) matches the distributed
    * tier's Spark `orderBy` on UTF8String exactly, so both tiers emit the
    * identical merge sequence (BpeLearnSpec fuzzes the equivalence).
    */
  private[graft] def bpeLearnLocal(words: Array[(Array[String], Long)],
      nMerges: Int): Seq[(String, String, Long)] = {
    import scala.collection.mutable
    val syms = words.map(_._1)
    val cnts = words.map(_._2)
    val pc = mutable.HashMap.empty[(String, String), Long]
    val occ = mutable.HashMap.empty[(String, String), mutable.HashSet[Int]]
    def index(wi: Int, sign: Long): Unit = {
      val w = syms(wi); val c = cnts(wi); var i = 0
      while (i < w.length - 1) {
        val k = (w(i), w(i + 1))
        val nv = pc.getOrElse(k, 0L) + sign * c
        if (nv == 0L) pc.remove(k) else pc.update(k, nv)
        if (sign > 0) occ.getOrElseUpdate(k, mutable.HashSet.empty) += wi
        else occ.get(k).foreach { s => s -= wi; if (s.isEmpty) occ.remove(k) }
        i += 1
      }
    }
    syms.indices.foreach(index(_, 1L))
    // UTF-8 byte order = Spark's UTF8String binary comparison; Java's
    // String.compareTo (UTF-16 code units) differs past the BMP
    def utf8Lt(x: String, y: String): Boolean =
      java.util.Arrays.compareUnsigned(
        x.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        y.getBytes(java.nio.charset.StandardCharsets.UTF_8)) < 0
    val merges = mutable.ArrayBuffer.empty[(String, String, Long)]
    while (merges.size < nMerges && pc.nonEmpty) {
      var best: ((String, String), Long) = null
      for (e <- pc.iterator)
        if (best == null || e._2 > best._2 ||
            (e._2 == best._2 && (utf8Lt(e._1._1, best._1._1) ||
              (e._1._1 == best._1._1 && utf8Lt(e._1._2, best._1._2)))))
          best = e
      val ((a, b), n) = best
      val ab = a + b
      merges += ((a, b, n))
      // re-derive each affected word: un-index, greedy left-to-right
      // merge (identical semantics to the distributed fold: merge when
      // the accumulator tail is `a` and the next symbol is `b`), re-index
      for (wi <- occ(a -> b).toArray) {
        index(wi, -1L)
        val w = syms(wi)
        val out = new mutable.ArrayBuffer[String](w.length)
        var i = 0
        while (i < w.length) {
          if (out.nonEmpty && out.last == a && w(i) == b)
            out(out.length - 1) = ab
          else out += w(i)
          i += 1
        }
        syms(wi) = out.toArray
        index(wi, 1L)
      }
    }
    merges.toSeq
  }

  /** Distributed tier of [[bpeLearn]] — see its Scaladoc for the batching
    * proof and the lazy-checkpoint cost model. `ckpt` is the materialized
    * (syms, cnt) word-frequency table.
    */
  private def bpeLearnDistributed(ckpt: DataFrame, nMerges: Int, batch: Int,
      checkpointEvery: Int,
      unpersist: DataFrame => Unit): Seq[(String, String, Long)] = {
    // Deferred materialization: merge application is stacked LAZILY onto
    // the plan and only checkpointed every `checkpointEvery` rounds, so a
    // round normally costs ONE job (the pair count, which evaluates the
    // pending merge layers in its scan) instead of two. On adversarial
    // distributions where the interference bound degrades batching to one
    // merge per round this halves the job count; the price is re-running
    // up to checkpointEvery-1 cheap per-word fold layers inside the next
    // pair scans, which is O(vocab) work against a saved cluster-wide
    // job launch + materialization.
    var lastCkpt = ckpt
    var vocab: DataFrame = lastCkpt
    var pendingLayers = 0
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    // the slice must hold the batch candidates PLUS the adjacent pairs
    // that feed the interference bound; 8x is comfortably past both
    val kSlice = math.max(batch * 8, 64)
    var exhausted = false
    while (merges.size < nMerges && !exhausted) {
      val pairs = vocab
        .select(posexplode(slice(col("syms"), lit(1),
            greatest(size(col("syms")) - 1, lit(0))))
          .as(Seq("_i", "left_sym")), col("syms"), col("cnt"))
        .select(col("left_sym"),
          element_at(col("syms"), col("_i") + lit(2)).as("right_sym"), col("cnt"))
        .groupBy(col("left_sym"), col("right_sym"))
        .agg(sum(col("cnt")).as("n_pairs"))
        .orderBy(col("n_pairs").desc, col("left_sym").asc, col("right_sym").asc)
        .limit(kSlice)
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      if (pairs.isEmpty) exhausted = true
      else {
        // pairs below the collected slice are invisible; their counts are
        // bounded by the slice minimum (0 when the slice is exhaustive)
        val floorBelow = if (pairs.length == kSlice) pairs.last._3 else 0L
        val selected = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
        val usedSyms = scala.collection.mutable.Set.empty[String]
        var bound = -1L // head is always exact — greedy's own first pick
        var stop = false
        val wanted = math.min(batch, nMerges - merges.size)
        var i = 0
        while (!stop && selected.size < wanted && i < pairs.length) {
          val (a, b, n) = pairs(i)
          val ab = a + b
          if (selected.nonEmpty &&
              (usedSyms(a) || usedSyms(b) || usedSyms(ab) || n <= bound)) stop = true
          else {
            // A: new pairs this merge can create — (x,ab) ≤ count(x,a),
            // (ab,y) ≤ count(b,y); E: pre-existing pairs on a symbol
            // equal to the concatenation. Both capped from the slice,
            // with floorBelow covering anything ranked out of it.
            // no self-exclusion: for a != b the pair never matches its
            // own adjacency forms, and for (a,a) it MUST contribute n —
            // runs of a's make (aa,a) as frequent as (a,a) itself
            val adjA = pairs.iterator
              .filter(q => q._2 == a || q._1 == b)
              .map(_._3).foldLeft(floorBelow)(math.max)
            val adjE = pairs.iterator
              .filter(q => q._1 == ab || q._2 == ab)
              .map(_._3).foldLeft(floorBelow)(math.max)
            bound = math.max(bound, adjA + adjE)
            usedSyms ++= Seq(a, b, ab)
            selected += ((a, b, n))
          }
          i += 1
        }
        merges ++= selected
        // greedy left-to-right merge of the whole (symbol-disjoint) batch
        // in one pass: if the accumulator's tail is some selected left
        // symbol and the next symbol is its partner, replace the tail
        // with the concatenation — a fresh merged tail can't re-trigger
        // any batch pair because merge symbols are disjoint from all
        // selected left/right symbols by construction
        val mRight = map(selected.flatMap(p =>
          Seq(lit(p._1), lit(p._2))).toSeq: _*)
        val mJoin = map(selected.flatMap(p =>
          Seq(lit(p._1), lit(p._1 + p._2))).toSeq: _*)
        val merged = aggregate(col("syms"),
          array().cast("array<string>"),
          (acc, x) => when(
            size(acc) > 0 && element_at(mRight, element_at(acc, -1)) === x,
            concat(slice(acc, lit(1), size(acc) - 1),
              array(element_at(mJoin, element_at(acc, -1)))))
            .otherwise(concat(acc, array(x))))
        vocab = vocab.select(merged.as("syms"), col("cnt"))
        pendingLayers += 1
        if (pendingLayers >= checkpointEvery && merges.size < nMerges) {
          val next = vocab.localCheckpoint(true)
          unpersist(lastCkpt)
          lastCkpt = next
          vocab = next
          pendingLayers = 0
        }
      }
    }
    unpersist(lastCkpt)
    merges.toSeq
  }

  /** Tokenize with a learned merge list — [[bpeLearn]]'s inference side:
    * every document becomes its BPE subword symbols and their count. The
    * merges ride the plan as native-expression state
    * ([[graft.functions.BpeApplyExpr]], one codegen'd pass per row), so
    * tokenization is a narrow scan-speed projection — no join against a
    * merges table, no UDF, nothing shuffles.
    */
  def bpeTokenize(docs: DataFrame, merges: Seq[(String, String)],
                  idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.graftshim.ColumnBridge
    val pieces = ColumnBridge.column(graft.functions.BpeApplyExpr(
      ColumnBridge.expression(tokens(lower(col(textCol)))), merges))
    docs.select(col(idCol), pieces.as("pieces"))
      .withColumn("n_pieces", size(col("pieces")).cast("long"))
  }

  /** Deterministic shard export — the last mile of a training-data
    * pipeline: write the corpus as `nShards` stable shards, one file per
    * shard, rows ordered inside each file. Shard membership is the
    * content-stable hash (`polyHash(id) mod nShards`), so re-exports and
    * different cluster sizes produce byte-stable shard membership and a
    * document never migrates when the corpus grows.
    *
    * Shape: one hash repartition on the shard key (all rows of a shard
    * land in one task because equal keys co-locate), an in-partition sort
    * (no global sort), and a directory-per-shard write. At 100 TB pick
    * `nShards` so a shard fits a trainer's reader budget; for multi-file
    * shards compose with `maxRecordsPerFile` instead of one-file-per-
    * shard.
    */
  def exportShards(docs: DataFrame, path: String, nShards: Int,
                   idCol: String = "doc_id"): Unit = {
    require(nShards > 0, "nShards must be positive")
    docs
      .withColumn("shard",
        pmod(polyHash(col(idCol).cast("string")), lit(nShards.toLong)).cast("int"))
      .repartition(nShards, col("shard"))
      .sortWithinPartitions(col("shard"), col(idCol))
      .write.mode("overwrite").partitionBy("shard").parquet(path)
  }

  /** Z-order (Morton) layout key over two numeric dimensions — the
    * multi-dimensional clustering step before writing a corpus that is
    * filtered along several axes at read time (length bands × token
    * budgets, quality × language, …). Interleaving the bits of the two
    * clamped `bits`-bit dimensions gives a single sort key whose ranges
    * are rectangles in (x, y) space, so range-partitioned files prune on
    * BOTH predicates from parquet min/max stats — the Delta/Iceberg
    * OPTIMIZE ZORDER trick, as a deterministic column.
    *
    * Output per document: the clamped dims, the Morton key, and an
    * equal-width key-range bucket (`zbucket = zvalue >> (2·bits − log₂
    * buckets)`) — fully narrow, no shuffle, bit-exact across engines. At
    * write time, layout = `repartitionByRange(col("zvalue"))` +
    * `sortWithinPartitions` (sampled range bounds balance skewed keys;
    * the equal-width bucket here stays deterministic for the oracle gate
    * and for stable shard manifests).
    */
  def zorderLayout(docs: DataFrame, bits: Int = 16, nBuckets: Int = 16,
                   idCol: String = "doc_id", charsCol: String = "n_chars",
                   textCol: String = "text"): DataFrame = {
    require(bits > 0 && bits <= 31, "bits must be in [1, 31]")
    require(nBuckets > 0 && (nBuckets & (nBuckets - 1)) == 0,
      "nBuckets must be a power of two (equal-width key ranges)")
    val maxV = (1L << bits) - 1
    val zx = least(col(charsCol).cast("long"), lit(maxV))
    val zy = least(size(tokens(col(textCol))).cast("long"), lit(maxV))
    val zvalue = (0 until bits).map { b =>
      shiftleft(shiftright(col("zx"), b).bitwiseAND(lit(1L)), 2 * b)
        .bitwiseOR(shiftleft(shiftright(col("zy"), b).bitwiseAND(lit(1L)), 2 * b + 1))
    }.reduce(_ bitwiseOR _)
    val bucketShift = 2 * bits - (31 - Integer.numberOfLeadingZeros(nBuckets))
    docs.select(col(idCol), zx.as("zx"), zy.as("zy"))
      .withColumn("zvalue", zvalue)
      .withColumn("zbucket", shiftright(col("zvalue"), bucketShift).cast("int"))
  }

  /** Boilerplate/duplication score: the fraction of a document's distinct
    * word n-grams that occur in more than `dfCap` documents. High values
    * flag template/near-boilerplate text — the corpus-level complement to
    * pairwise near-dup (one explode, one df aggregate, one join back;
    * never a pair join).
    */
  def duplicatedNgramFraction(docs: DataFrame, n: Int = 3, dfCap: Int = 1,
                              idCol: String = "doc_id",
                              textCol: String = "text"): DataFrame = {
    val ex = docs.select(col(idCol), explode(wordGrams(col(textCol), n)).as("g"))
    // r16: the df count rides a window over the SAME g-keyed exchange the
    // old groupBy+join-back form shuffled twice — and the join form also
    // re-evaluated the tokenize+explode pipeline once per leg (guide §2;
    // same restructure as pageRank's degree). Identical per-gram counts.
    val per = ex
      .withColumn("_df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("g"))))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("_df") > dfCap, 1L).otherwise(0L)).as("n_dup"))
    // left join back: documents too short for any n-gram still get a row
    docs.select(col(idCol))
      .join(per, Seq(idCol), "left")
      .na.fill(0L, Seq("n_grams", "n_dup"))
      .withColumn("dup_fraction",
        round(col("n_dup").cast("double") / greatest(col("n_grams"), lit(1L)), 6))
  }
}
