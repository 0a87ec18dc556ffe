package graft.ops

import graft.functions.CrossHash._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Document deduplication for large-scale training-data pipelines.
  *
  * Scale design: every variant is candidate-generation-by-blocking — the
  * only joins are equi-joins on a small blocking key (content hash, LSH
  * band bucket, SimHash band slice), so the shuffle is keyed and bounded
  * and no O(n²) comparison ever materializes. Pairwise verification runs
  * only within candidate buckets. Every candidate-pair generator takes a
  * REQUIRED bound, applied by one of three forms: [[capGroups]] (drop
  * groups over a cap), [[cappedGroupPairs]] (capped groups → in-group
  * pairs) or [[sortedNeighborhoodPairs]] (a rank window). No blocking
  * key is ever self-joined unbounded.
  *
  * Implementation shape: shingles/tokens are *exploded to rows* and hashed
  * once by the codegen'd [[graft.functions.PolyHashExpr]]; signatures are
  * grouped aggregates (hash-aggregate, partial/map-side combine for free).
  * The equivalent nested array-HOF formulation is ~100× slower at scale:
  * interpreted lambda evaluation costs microseconds per element and
  * Catalyst's CollapseProject re-inlines single-use array columns,
  * recomputing them once per permutation/bit.
  *
  * Eager/ownership contract: [[minhashLsh]], [[ngramJaccard]],
  * [[containmentPairs]] and [[incrementalNearLsh]] run their Spark jobs
  * EAGERLY at DataFrame-construction time — building the frame executes
  * the full shingle/LSH pipelines via `localCheckpoint(true)` — and the
  * RETURNED frame is itself backed by a local checkpoint. Intermediate
  * checkpoints are freed before return; the returned one is owned by the
  * CALLER: its blocks persist until the caller drops the frame (GC +
  * ContextCleaner, or Bench's per-query drain) — long-lived sessions
  * constructing these repeatedly should free or drop results promptly.
  * The other operators here stay lazy.
  */
object DedupOps {

  /** Exact dedup by full content: keep the lowest-id doc per distinct text.
    * Use [[exactByDigest]] at scale — this form shuffles the full text.
    */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.groupBy(col(textCol))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"))

  /** Exact dedup, 100 TB form: group on a SHA-256 content digest so the
    * shuffle carries 64 hex bytes per row instead of the document body.
    * Collision probability at 2^60 documents is ≈ 2^-136 — far below
    * hardware error rates — so digest-equality IS content-equality for
    * any physical corpus; output matches [[exact]] row-for-row.
    */
  def exactByDigest(docs: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame =
    docs.select(col(idCol), sha2(col(textCol), 256).as("_digest"))
      .groupBy(col("_digest"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"))

  /** Corpus-wide paragraph-level exact dedup (the RefinedWeb / CCNet
    * sub-document pass): split every document on `sep`, keep only the
    * globally-first occurrence of each distinct paragraph (lowest doc id,
    * then lowest in-doc position), and rebuild each document from its
    * surviving paragraphs. Boilerplate shared across thousands of pages —
    * nav text, footers, license blocks — dies here even though no two
    * whole documents are equal. Output: one row per document with at
    * least one non-empty paragraph (doc id, paragraph count before/after,
    * rebuilt text; a document whose every paragraph lost its race rebuilds
    * to the empty string).
    *
    * Scale shape: one narrow split pass → explode to paragraph rows →
    * keep-flag via a window over the paragraph's SHA-256 digest (every
    * row survives — losers still count toward n_paras — so this is a full
    * window, not a group-limit) → one per-doc rebuild aggregate. Two keyed exchanges total; the digest
    * window's key is 64 hex bytes. Paragraph text rides both exchanges —
    * at ~100 TB prefer cutting the rebuild to a digest join against a
    * kept-set if paragraphs are huge; at typical web-paragraph sizes the
    * single-pass window form wins (no second scan, no join).
    */
  def paragraphDedup(docs: DataFrame, sep: String = "\n\n",
                     idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_digest")).orderBy(col(idCol), col("_idx"))
    docs
      .select(col(idCol), posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep))))
      .withColumnRenamed("pos", "_idx").withColumnRenamed("col", "_para")
      .filter(trim(col("_para")) =!= "")
      .withColumn("_digest", sha2(col("_para"), 256))
      .withColumn("_keep", row_number().over(w) === 1)
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_paras"),
        sum(col("_keep").cast("long")).as("n_kept"),
        concat_ws(sep, transform(
          array_sort(collect_list(when(col("_keep"), struct(col("_idx"), col("_para"))))),
          x => x("_para"))).as("text_kept"))
  }

  /** Exact duplicated-substring spans — the span-level signal behind
    * suffix-array substring dedup (Lee et al. 2022, arXiv:2107.06499:
    * training data repeats *passages* far more often than whole
    * documents): every `k`-token window of every document, aggregated to
    * the spans that occur in at least `minDocs` distinct documents, with
    * their document and occurrence counts. The output is the removal
    * work-list a span-level deduper consumes (cut or keep-first each
    * span), and a corpus-health report on its own.
    *
    * Scale shape: one codegen'd sliding-window pass per document
    * ([[graft.functions.WordGramsExpr]], non-distinct) → explode → one
    * hash-aggregate. The group key is a k-token span (bounded ~k·avg-word
    * bytes — NOT the unbounded document body), and the df/occurrence pair
    * plans as partial_count + partial distinct-count with map-side
    * combine, so the exchange carries each map-side-distinct span once
    * per partition. The `minDocs` filter cannot push below the aggregate
    * (df is what's being computed), but the output it gates is exactly
    * the corpus's repeated-span mass — the thing that must be small for
    * the corpus to be worth training on. A suffix array finds maximal
    * repeats of any length; fixed-`k` windows are the blocked
    * approximation that needs no global order: any repeat of length
    * ≥ k tokens is guaranteed to surface as ≥ 1 shared window.
    */
  def duplicatedSpans(docs: DataFrame, k: Int = 8, minDocs: Int = 2,
                      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(k > 0 && minDocs > 0, "k and minDocs must be positive")
    docs.select(col(idCol), explode(wordGramsAll(lower(col(textCol)), k)).as("span"))
      .groupBy(col("span"))
      .agg(countDistinct(col(idCol)).as("n_docs"),
        count(lit(1)).as("n_occurrences"))
      .filter(col("n_docs") >= minDocs)
  }

  /** Duplicated-span REMOVAL — [[duplicatedSpans]]'s apply side and the
    * Lee et al. 2022 endgame: every occurrence of a repeated `k`-token
    * span except the globally-first one (lowest doc id, then lowest
    * offset) is cut from its document. Output: one row per document with
    * the rebuilt (lowercased, space-joined) text and how many tokens were
    * removed. Overlapping cut regions union naturally. Greedy
    * PER-OCCURRENCE semantics: each duplicated span's canonical
    * occurrence is never cut FOR THAT SPAN, but a DIFFERENT span's cut
    * interval that overlaps it still removes the shared tokens — so under
    * adversarial overlaps a span's last intact copy can be destroyed
    * (same one-pass greedy trade-off as Lee et al.'s implementation; an
    * intact-copy guarantee needs an iterative fixpoint that re-protects
    * canonicals against every overlapping cut, at a per-iteration
    * full-corpus cost this operator deliberately does not pay).
    *
    * Scale shape: one windowed-gram pass → occurrence rows (id, pos,
    * span) → self-aggregated duplicate filter → per-span canonical pick
    * (window top-1, plans WindowGroupLimit) → cut-start lists collected
    * per doc (bounded by per-doc duplicate mass) → one narrow rebuild
    * pass with a 2-arg transform (token index vs cut intervals). Spans
    * shuffle as bounded k-token keys; full text only rides the final
    * per-doc rebuild join.
    */
  def removeDuplicatedSpans(docs: DataFrame, k: Int = 8,
                            idCol: String = "doc_id",
                            textCol: String = "text"): DataFrame = {
    require(k > 0, "k must be positive")
    import org.apache.spark.sql.expressions.Window
    val occ = docs.select(col(idCol),
      posexplode(wordGramsAll(lower(col(textCol)), k)).as(Seq("pos", "span")))
    val w = Window.partitionBy(col("span")).orderBy(col(idCol).asc, col("pos").asc)
    // r16: the duplicate filter rides a count window over the SAME
    // span-keyed exchange the canonical-pick window already needs — the
    // old [occurrence-count groupBy + join-back] evaluated the
    // windowed-gram pass twice and shuffled the occurrences twice
    // (guide §2; same restructure as pageRank's degree). Row set
    // identical: all occurrences of every span occurring ≥ 2 times.
    val cuts = occ
      .withColumn("_occ", count(lit(1)).over(Window.partitionBy(col("span"))))
      .filter(col("_occ") >= 2)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") > 1) // every occurrence but the canonical one
      .groupBy(col(idCol))
      .agg(collect_list(col("pos")).as("_starts"))
    docs.select(col(idCol), tokens(lower(col(textCol))).as("_tk"))
      .join(cuts, Seq(idCol), "left")
      .withColumn("_starts", coalesce(col("_starts"), array().cast("array<int>")))
      .withColumn("_kept", filter(
        transform(col("_tk"), (t, i) =>
          when(exists(col("_starts"), s => i >= s && i <= s + lit(k - 1)),
            lit(null)).otherwise(t)),
        x => x.isNotNull))
      .select(col(idCol),
        size(col("_tk")).cast("long").as("n_tokens"),
        (size(col("_tk")) - size(col("_kept"))).cast("long").as("n_removed"),
        concat_ws(" ", col("_kept")).as("cleaned_text"))
  }

  /** Incremental exact dedup — the recurring-crawl shape: dedup a new
    * `batch` of documents internally (keep the lowest id per distinct
    * content) and against an already-ingested `corpus`, keeping only
    * batch documents whose content digest the corpus has never seen.
    *
    * Scale: both sides reduce to 64-hex-byte digests before any exchange,
    * so the anti-join shuffles digests + ids, never document bodies. The
    * corpus side at 100 TB is itself huge — a shuffled hash anti-join on
    * the digest key is the right plan (both sides hash-partition on
    * `digest`; AQE picks broadcast automatically when the corpus digest
    * set is small). Collision math as in [[exactByDigest]].
    */
  def incremental(batch: DataFrame, corpus: DataFrame,
                  idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val batchD = batch
      .select(col(idCol), sha2(col(textCol), 256).as("digest"))
      .groupBy(col("digest")).agg(min(col(idCol)).as(idCol))
    val corpusD = corpus.select(sha2(col(textCol), 256).as("digest"))
    batchD.join(corpusD, Seq("digest"), "left_anti")
      .select(col(idCol), col("digest"))
  }

  /** [[incremental]] with a Bloom-filter prescreen — the shape that wins
    * when the ingested corpus dwarfs every batch (the steady state of a
    * recurring crawl): build a Bloom filter over the corpus digests once
    * (distributed `bloom_filter_agg`, bit-OR merge — order-insensitive,
    * deterministic), broadcast its bytes, and split the batch with a
    * narrow `might_contain` pass. Definite-new digests (no false
    * negatives exist) skip the join entirely; only the `might_contain`
    * hits — true dups plus an `fpp` sliver of the batch — pay the exact
    * digest anti-join. Result is row-identical to [[incremental]].
    *
    * Sizing: the filter costs ~`-ln(fpp)/ln²2` bits per expected item
    * (≈7.3 bits at 3%) — 1 B corpus digests ≈ 0.9 GB, the practical
    * broadcast ceiling; beyond that, partition the corpus and OR-merge
    * per-range filters, or fall back to [[incremental]]'s shuffled
    * anti-join. The single-value driver fetch of the filter bytes is the
    * broadcast-variable pattern, not a per-row collect.
    */
  def incrementalBloom(batch: DataFrame, corpus: DataFrame,
                       idCol: String = "doc_id", textCol: String = "text",
                       expectedItems: Long = 1000000L,
                       fpp: Double = 0.03): DataFrame = {
    require(fpp > 0 && fpp < 1, "fpp must be in (0, 1)")
    import org.apache.spark.sql.graftshim.ColumnBridge
    val batchD = batch
      .select(col(idCol), sha2(col(textCol), 256).as("digest"))
      .groupBy(col("digest")).agg(min(col(idCol)).as(idCol))
    val corpusD = corpus.select(sha2(col(textCol), 256).as("digest"))
    // The filter is built by a per-partition sketch.BloomFilter pass +
    // pairwise merge, NOT via catalyst's BloomFilterAggregate (nor
    // stat.bloomFilter, which delegates to it in Spark 4 — measured:
    // a 7.3e8-bit request comes back clamped to the session's 64M-bit
    // runtime-filter cap). The aggregate SILENTLY clamps its size to the
    // session caps (maxNumBits default 8 MB, maxNumItems 4M), and
    // raising those caps around the build mutates SESSION-GLOBAL conf —
    // a concurrent query in the same session could build oversized
    // injected runtime filters during the window, and two interleaved
    // raise/restore pairs could race save/restore and leave a raised cap
    // behind for the rest of the session. The direct build reads no conf
    // at all, sizes from (expectedItems, fpp) exactly, creates each
    // partition's filter locally (no multi-MB zero value shipped with
    // the closure), and writes the same sketch wire format with the same
    // putLong hashing that BloomFilterMightContain's mightContainLong
    // reads — the codegen'd might_contain predicate below is unchanged.
    // An empty corpus yields an empty filter: might_contain is false
    // everywhere and every batch row lands on the definite-new side.
    val expected = math.max(1L, expectedItems)
    val hashedRdd = corpusD.select(xxhash64(col("digest")).as("_h"))
      .queryExecution.toRdd
    // merge profile matters as much as the build: a plain reduce() would
    // ship EVERY partition's full-size filter to the driver as task
    // results (at the scaladoc's own 1e8-item example that is ~91 MB ×
    // partitions — spark.driver.maxResultSize aborts long before the
    // documented ceiling). Shuffling the partials to ONE merge task and
    // collecting the single merged filter restores the executor-side
    // merge + one-filter-to-driver profile BloomFilterAggregate had.
    val partials = hashedRdd.mapPartitions { rows =>
      val f = org.apache.spark.util.sketch.BloomFilter.create(expected, fpp)
      rows.foreach(r => f.putLong(r.getLong(0)))
      Iterator.single(f)
    }
    val bf = (if (hashedRdd.getNumPartitions <= 1) partials // nothing to merge
      else partials.repartition(1).mapPartitions { fs =>
        // streaming merge: at most two partials resident at once
        if (!fs.hasNext) Iterator.empty
        else { val h = fs.next(); fs.foreach(h.mergeInPlace); Iterator.single(h) }
      }).collect().headOption
      .getOrElse(org.apache.spark.util.sketch.BloomFilter.create(expected, fpp))
    val bloomBytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray
    }
    val mightContain = ColumnBridge.column(
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        org.apache.spark.sql.catalyst.expressions.Literal(
          bloomBytes, org.apache.spark.sql.types.BinaryType),
        ColumnBridge.expression(xxhash64(col("digest")))))
    val definiteNew = batchD.filter(!mightContain)
    val verified = batchD.filter(mightContain)
      .join(corpusD, Seq("digest"), "left_anti")
    definiteNew.select(col(idCol), col("digest"))
      .unionByName(verified.select(col(idCol), col("digest")))
  }

  /** Incremental NEAR-dup — [[incremental]]'s fuzzy sibling: flag new
    * `batch` documents that are near-duplicates (MinHash-LSH candidates,
    * verified exact n-gram Jaccard ≥ `threshold`) of any already-ingested
    * `corpus` document. Returns verified cross-side pairs
    * (batch_id, corpus_id, inter, uni, jaccard).
    *
    * Scale: candidates are generated ONLY across sides — batch band
    * buckets equi-join corpus band buckets — never within a side, so a
    * recurring crawl pays O(|batch|) signature work plus one blocked join
    * against the corpus bucket index (which a real deployment computes
    * once and persists; it is pure column arithmetic over the corpus).
    * `maxBucket` drops hot corpus buckets exactly as in [[minhashLsh]]:
    * the corpus band rows pass [[capGroups]] — a count window, not a
    * count joined back — so the corpus signature pipeline is evaluated
    * once, and a sort-merge cross-side join reuses the window's
    * (band, bucket) partitioning. Jaccard verification
    * ([[jaccardVerify]]) touches only candidate pairs' shingle rows.
    */
  def incrementalNearLsh(batch: DataFrame, corpus: DataFrame,
                         threshold: Double, maxBucket: Int, n: Int = 3,
                         k: Int = 8, bands: Int = 4, idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame = {
    val be = minhashBandRows(batch, n, k, bands, idCol, textCol)
    val ce = capGroups(minhashBandRows(corpus, n, k, bands, idCol, textCol),
      Seq("band_idx", "bucket"), maxBucket)
    // the pair list feeds both the intersection and the final left join;
    // re-deriving it would re-run BOTH sides' signature pipelines
    val cands = be.withColumnRenamed(idCol, "batch_id")
      .join(ce.withColumnRenamed(idCol, "corpus_id"), Seq("band_idx", "bucket"))
      .select(col("batch_id"), col("corpus_id"))
      .distinct().localCheckpoint(true)
    try jaccardVerify(cands, shingleRows(batch, n, idCol, textCol),
      shingleRows(corpus, n, idCol, textCol), "batch_id", "corpus_id",
      threshold).localCheckpoint(true)
    finally GraphOps.freeCheckpoint(cands)
  }

  /** Distinct (doc, word-n-gram-shingle) rows — the shared base of the
    * near-dup variants. One narrow pass; the arrays never leave the scan
    * stage. */
  private def shingleRows(docs: DataFrame, n: Int, idCol: String,
                          textCol: String): DataFrame =
    docs.select(col(idCol), explode(wordGrams(col(textCol), n)).as("g"))

  /** Exploded LSH band rows (id, band_idx, bucket) — the blocking index
    * every MinHash consumer joins on. The whole grams → minima → bucket
    * chain lives INSIDE the posexplode as one fused native expression
    * ([[graft.functions.MinHashBandsExpr]], null for shingle-less docs):
    * with an aliased signature column instead, `InferFiltersFromGenerate`
    * plus predicate pushdown substitute the full chain into a
    * size-guard Filter below the generate and re-evaluate it per row
    * (measured ~2× on every band query at sf0.1).
    */
  def minhashBandRows(docs: DataFrame, n: Int = 3, k: Int = 8, bands: Int = 4,
                      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol),
      posexplode(minHashBands(wordGrams(col(textCol), n), k, bands))
        .as(Seq("band_idx", "bucket")))

  /** MinHash-LSH near-duplicate pairs: candidates share ≥1 band bucket;
    * verified with exact Jaccard over shingle sets ≥ `threshold`.
    *
    * `maxBucket` caps the blocking-bucket size: a band bucket holding more
    * than `maxBucket` documents (a giant duplicate cluster) is dropped
    * from candidate generation, bounding in-bucket pair generation at
    * O(n·maxBucket) instead of the cluster's n². At corpus scale, route such clusters to
    * [[exactByDigest]] first — they are exact-dup families, not near-dups.
    *
    * Plan note: unlike [[containmentPairs]], the verify legs here are
    * NOT semi-join-pruned to candidate docs — all three variants were
    * measured at sf10 under the same solo protocol (plain prune 14.0 s,
    * checkpointed prune 14.8 s, unpruned 13.0 s): with 4-band minhash
    * blocking the candidate-doc set is a large enough corpus fraction
    * that building and applying the prune costs what the saved exchange
    * volume buys back. Containment's single-shingle maxDf blocking
    * yields a far tighter candidate set, which is why the same prune
    * wins ~4× there.
    */
  def minhashLsh(docs: DataFrame, threshold: Double, maxBucket: Int,
                 n: Int = 3, k: Int = 8, bands: Int = 4,
                 idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val ex = shingleRows(docs, n, idCol, textCol)
    // r16: the candidate list is read by BOTH the intersection and the
    // final left join — it is bounded by the hot-bucket cap (O(n·cap),
    // two longs per row), so materialize it once instead of running the
    // signature+blocking pipeline twice; the verified result is
    // materialized before the checkpoint is freed, so nothing leaks past
    // the query.
    val cands = minhashCandidates(docs, maxBucket, n, k, bands, idCol, textCol)
      .localCheckpoint(true)
    try jaccardVerify(cands, ex, ex, "id1", "id2", threshold).localCheckpoint(true)
    finally GraphOps.freeCheckpoint(cands)
  }

  /** Exact shingle-set Jaccard over a candidate pair list: the verify
    * stage of [[minhashLsh]] (`a` and `b` are the same rows) and
    * [[incrementalNearLsh]] (batch against corpus). `cands` holds
    * (`idA`, `idB`); `a` and `b` are (id, shingle) rows of each side. The
    * intersection joins only candidate pairs' shingles (no all-pairs
    * join); a candidate sharing no shingle scores inter 0. Output:
    * (`idA`, `idB`, inter, uni, jaccard) for jaccard ≥ `threshold`. */
  private def jaccardVerify(cands: DataFrame, a: DataFrame, b: DataFrame,
                            idA: String, idB: String,
                            threshold: Double): DataFrame = {
    // sizes aggregate under the side's own column names and rename on
    // top, so that with a == b both legs are one subtree (exchange reuse)
    def sizes(e: DataFrame, id: String, sz: String) =
      e.groupBy(col(e.columns.head)).agg(count(lit(1)).as("sz")).toDF(id, sz)
    val inter = cands.join(a.toDF(idA, "g"), idA)
      .join(b.toDF("_idB", "g2"), col(idB) === col("_idB") && col("g") === col("g2"))
      .groupBy(col(idA), col(idB))
      .agg(count(lit(1)).as("inter_cnt"))
    jaccardScored(cands
      .join(inter, Seq(idA, idB), "left")
      .na.fill(0L, Seq("inter_cnt"))
      .join(sizes(a, idA, "sz1"), idA)
      .join(sizes(b, idB, "sz2"), idB), idA, idB, threshold)
  }

  /** Jaccard score, threshold and output shape over per-pair
    * (inter_cnt, sz1, sz2) counts — shared by [[jaccardVerify]] and
    * [[ngramJaccard]]. */
  private def jaccardScored(counted: DataFrame, idA: String, idB: String,
                            threshold: Double): DataFrame =
    counted
      .withColumn("uni_cnt", col("sz1") + col("sz2") - col("inter_cnt"))
      .filter(col("uni_cnt") > 0)
      .withColumn("jaccard", col("inter_cnt").cast("double") / col("uni_cnt"))
      .filter(col("jaccard") >= threshold)
      .select(col(idA), col(idB), col("inter_cnt").cast("int").as("inter"),
        col("uni_cnt").cast("int").as("uni"), round(col("jaccard"), 6).as("jaccard"))

  /** The group cap every count-bounded blocking stage shares: rows of
    * groups (over `keys`) holding more than `cap` rows are dropped — the
    * candidate count is Σ group², so one degenerate group (boilerplate
    * shingles, an exact-dup family's LSH bucket) otherwise dominates the
    * whole stage. A `count(*) over (partition by keys)` rides a keyed
    * exchange (WindowExec buffers per group spill to disk) and over-cap
    * groups leave as plain rows; a consumer keyed on the same `keys`
    * (a collect, a join) reuses that partitioning. */
  private[ops] def capGroups(rows: DataFrame, keys: Seq[String],
                             cap: Int): DataFrame =
    rows
      .withColumn("_gcnt", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(keys.map(col): _*)))
      .filter(col("_gcnt") <= cap)
      .drop("_gcnt")

  /** All ordered (id1 < id2) pairs within each size-capped group,
    * generated IN-GROUP from a collected posting list (r16, guide §2/§3):
    * ONE keyed exchange of the posting rows replaces the three-exchange
    * [group-count + join-back + self-join] blocking form — which also
    * re-evaluated the expensive upstream (tokenize + explode/signature)
    * pipeline once per join leg, up to 40 corpus scans in one plan
    * (dedup_containment, r16 baseline). Groups over `cap` are dropped
    * BEFORE pair generation ([[capGroups]]); the list is sorted so pair
    * generation is order-independent; the pair SET is identical to the
    * self-join form over the capped rows. Per-group work is bounded by
    * cap²/2, and the two-level explode streams ≤ cap ids per emitted
    * row — no quadratic single-row array ever materializes.
    *
    * r17 (VERDICT r16 #1): the cap is applied BEFORE the list collects,
    * so a skewed blocking key (stop-word shingle, hot LSH bucket with
    * 10⁸⁺ postings at 100 TB) can never materialize its full posting
    * list in one aggregation buffer. The groupBy reuses the window's
    * partitioning: still ONE exchange. */
  private[ops] def cappedGroupPairs(rows: DataFrame, groupCols: Seq[String],
                                    idCol: String, cap: Int): DataFrame = {
    val lists = capGroups(rows, groupCols, cap)
      .groupBy(groupCols.map(col): _*)
      .agg(collect_list(col(idCol)).as("_ids"))
      .select(array_sort(col("_ids")).as("_ids"))
    lists
      .select(col("_ids"), posexplode(col("_ids")).as(Seq("_i", "id1")))
      .select(col("id1"),
        explode(slice(col("_ids"), col("_i") + lit(2),
          size(col("_ids")) - col("_i") - lit(1))).as("id2"))
      // a group holding the same id twice (callers with non-distinct
      // posting rows) must not emit an (x, x) pair — the self-join form's
      // strict a < b never did; pair multiplicity for id1 ≠ id2 matches
      // the join form exactly (m_a · m_b position pairs)
      .filter(col("id1") =!= col("id2"))
  }

  /** LSH candidate pairs only (band blocking with the hot-bucket cap):
    * the blocking stage shared by [[minhashLsh]] (Jaccard verify) and
    * [[editVerifiedPairs]] (edit-distance verify). One ordered (id1 < id2)
    * row per candidate pair; ids only — no text, no signatures — in the
    * exchange. One exchange of the band rows with in-bucket pair
    * generation (r16) — replaces [bucket-count + join-back + self-join],
    * which evaluated the per-doc minhash signature pipeline four times
    * per plan.
    */
  def minhashCandidates(docs: DataFrame, maxBucket: Int, n: Int = 3,
                        k: Int = 8, bands: Int = 4, idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame =
    cappedGroupPairs(minhashBandRows(docs, n, k, bands, idCol, textCol),
      Seq("band_idx", "bucket"), idCol, maxBucket).distinct()

  /** Fuzzy dedup, record-linkage style: LSH candidate pairs verified by
    * EDIT DISTANCE instead of shingle Jaccard — the verifier of choice
    * when near-dups differ by small in-place edits (OCR noise, template
    * fills, typo farms) that shift every containing n-gram but few
    * characters. Output: candidate pairs within `maxDist` Levenshtein
    * distance over the first `prefixLen` chars.
    *
    * Scale shape: candidates are LSH-blocked ([[minhashCandidates]],
    * hot-bucket-capped) — never all-pairs; the verify join ships only
    * `prefixLen`-char prefixes. The DP itself is guarded twice: a
    * length-difference prescreen (|len₁−len₂| > maxDist ⇒ distance >
    * maxDist — insertions alone exceed the bound) kills most random
    * candidates with two already-computed integers, and survivors run
    * Spark's THRESHOLD Levenshtein — banded DP, O(prefixLen·maxDist)
    * instead of O(prefixLen²), returning -1 past the bound (filtered with
    * the survivors). Measured 27× on the sf1 fixture (48 s → 1.8 s): LSH
    * bands over a small shared vocabulary collide far more often than
    * they find near-dups, so the prescreen carries the query. The prefix
    * bound is what makes edit distance admissible at corpus scale at all
    * — full-text Levenshtein on 100 KB docs would be 10¹⁰ cell updates
    * per pair.
    */
  def editVerifiedPairs(docs: DataFrame, maxBucket: Int, maxDist: Long = 60,
                        prefixLen: Int = 200, n: Int = 3, k: Int = 8,
                        bands: Int = 4, idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    require(maxDist >= 0 && prefixLen > 0, "maxDist/prefixLen must be positive")
    require(maxDist <= Int.MaxValue, "maxDist must fit in Int")
    val cands = minhashCandidates(docs, maxBucket, n, k, bands, idCol, textCol)
      // The candidate set is BYTE-small (two longs per row) but each row
      // carries a banded-DP evaluation downstream — exactly the shape
      // where AQE's size-based partition coalescing guesses wrong: it
      // folds the post-distinct exchange to ONE partition and serializes
      // the whole verify leg (measured 14 s single-task at sf1). An
      // explicit partition count is exempt from AQE coalescing and
      // restores compute parallelism for two-long rows — the cheapest
      // exchange in the plan.
      .repartition(docs.sparkSession.sessionState.conf.numShufflePartitions)
    // one (id, prefix) frame, joined once per side under renames
    val prefixes = docs.select(col(idCol), substring(col(textCol), 1, prefixLen))
    cands
      .join(prefixes.toDF("id1", "_t1"), "id1")
      .join(prefixes.toDF("id2", "_t2"), "id2")
      .filter(abs(length(col("_t1")) - length(col("_t2"))) <= maxDist)
      .withColumn("edit_dist",
        levenshtein(col("_t1"), col("_t2"), maxDist.toInt).cast("long"))
      // threshold Levenshtein already returns -1 past maxDist, so the
      // single >= 0 conjunct is the complete bound — a redundant
      // `<= maxDist` becomes a SECOND DP evaluation when predicate
      // pushdown substitutes the expression into the join residual
      .filter(col("edit_dist") >= 0)
      .select(col("id1"), col("id2"), col("edit_dist"))
  }

  /** Exact n-gram Jaccard over pairs sharing ≥1 *blocking* shingle
    * (inverted-index blocking — quadratic only in per-shingle document
    * frequency).
    *
    * `maxDf` caps that frequency: shingles appearing in more than `maxDf`
    * documents are dropped from candidate generation (standard hot-token
    * blocking practice — one stopword shingle otherwise makes its block
    * near-global and the self-join ~n²). Jaccard is then computed exactly
    * over ALL shingles for the surviving candidates, so a pair that
    * shares any rare shingle gets its true score; only pairs whose
    * overlap is hot-shingles-only are (deliberately, documentedly)
    * missed — at corpus scale those are the "both contain 'the'" pairs.
    */
  def ngramJaccard(docs: DataFrame, threshold: Double, maxDf: Int, n: Int = 3,
                   idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    // shared posting-list blocking + exact overlap core (r16)
    jaccardScored(cappedPairCounts(docs, n, maxDf, idCol, textCol),
      "id1", "id2", threshold)

  /** Shared core of the df-capped exact-overlap verifiers
    * ([[ngramJaccard]] and [[containmentPairs]]): shingle
    * posting lists → in-group candidate pairs ([[cappedGroupPairs]],
    * maxDf = the blocking cap) → exact intersection + per-doc shingle
    * sizes over the candidates' shingles. One row per candidate pair:
    * (id1, id2, inter_cnt, sz1, sz2). An inner join covers every
    * candidate: a capped pair shares its (low-df) blocking shingle by
    * construction, so inter_cnt ≥ 1.
    *
    * r16 restructure (guide §2/§6): the previous join-chain re-evaluated
    * the tokenize+explode pipeline once per join leg — 40 corpus scans in
    * the containment plan, zero exchange reuse. Now the candidate pair
    * list and the candidate-pruned shingle rows are each materialized
    * ONCE as spillable local checkpoints (both bounded: near-dup
    * candidates and their shingles — the same semi-join prune as before,
    * measured ~4× for containment), every downstream leg reads those, and
    * the corpus is scanned exactly twice. The returned counts frame is
    * materialized as well, so both intermediates are freed before this
    * returns — nothing leaks past the query.
    */
  private def cappedPairCounts(docs: DataFrame, n: Int, maxDf: Int,
                               idCol: String, textCol: String): DataFrame = {
    val ex0 = shingleRows(docs, n, idCol, textCol)
    val cands = cappedGroupPairs(ex0, Seq("g"), idCol, maxDf)
      .distinct().localCheckpoint(true)
    try {
      val candIds = cands.select(col("id1").as("_cid"))
        .union(cands.select(col("id2").as("_cid"))).distinct()
      val ex = ex0.join(candIds, col(idCol) === col("_cid"), "left_semi")
        .localCheckpoint(true)
      try {
        val sizes = ex.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
        val inter = cands.join(ex.toDF("id1", "g"), "id1")
          .join(ex.toDF("_id2", "g2"),
            col("id2") === col("_id2") && col("g") === col("g2"))
          .groupBy(col("id1"), col("id2"))
          .agg(count(lit(1)).as("inter_cnt"))
        inter
          .join(sizes.toDF("id1", "sz1"), "id1")
          .join(sizes.toDF("id2", "sz2"), "id2")
          .localCheckpoint(true)
      } finally GraphOps.freeCheckpoint(ex)
    } finally GraphOps.freeCheckpoint(cands)
  }

  /** Containment near-dup pairs: |A∩B| / min(|A|,|B|) ≥ threshold over
    * distinct word n-gram shingle sets. Containment is the asymmetric
    * complement to Jaccard ([[ngramJaccard]]): a short document pasted
    * inside a longer one scores ~1.0 here while its Jaccard stays low —
    * the quote/excerpt/boilerplate-wrapper case Jaccard-only dedup
    * misses (the measure behind suffix-style subset dedup in
    * Lee et al. 2022, arXiv:2107.06499).
    *
    * Same scale shape as [[ngramJaccard]]: inverted-index blocking with
    * hot shingles (document frequency > `maxDf`) dropped from candidate
    * generation — containment's use-case is exactly the corpora where
    * boilerplate shingles are near-global. Scores are then exact over
    * ALL shingles for surviving candidates; only pairs overlapping
    * solely in hot shingles are (documentedly) missed.
    */
  def containmentPairs(docs: DataFrame, threshold: Double, maxDf: Int,
                       n: Int = 3, idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame =
    // shared posting-list blocking + exact overlap core (r16) — the
    // containment score is the only part not in common with ngramJaccard
    cappedPairCounts(docs, n, maxDf, idCol, textCol)
      .withColumn("containment",
        col("inter_cnt").cast("double") / least(col("sz1"), col("sz2")))
      .filter(col("containment") >= threshold)
      .select(col("id1"), col("id2"), col("inter_cnt").cast("int").as("inter"),
        least(col("sz1"), col("sz2")).cast("int").as("min_sz"),
        round(col("containment"), 6).as("containment"))

  /** Per-document 32-bit SimHash fingerprints — a pure per-document
    * function of the distinct-token set, so it runs as one native loop
    * per row ([[graft.functions.SimHashExpr]]) inside the scan stage:
    * no explode, no keyed exchange (the grouped-conditional-sums form
    * this replaces shuffled 32 vote columns per document). The size>0
    * filter keeps the explode → groupBy form's semantics (token-less
    * docs emit no row). */
  def simhashSignatures(docs: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame =
    docs.select(col(idCol), wordGrams(col(textCol), 1).as("_t"))
      .filter(size(col("_t")) > 0)
      .select(col(idCol), simHash(col("_t")).as("simhash"))

  /** SimHash near-dup pairs with Hamming distance ≤ maxHamming, using
    * band blocking: the 32-bit fingerprint is cut into `bands` slices;
    * by pigeonhole any pair within maxHamming (< bands) shares ≥1 exact
    * slice, so candidate generation is in-group pairing on (band, slice)
    * through [[cappedGroupPairs]]: a slice group holding more than
    * `maxBucket` documents is dropped. The posting entries are
    * (id, simhash) structs, so each pair carries both fingerprints and
    * the Hamming test needs no join back to the signatures.
    */
  def simhashPairs(docs: DataFrame, maxBucket: Int, maxHamming: Int = 3,
                   bands: Int = 4, idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    require(bands > maxHamming, "bands must exceed maxHamming for exact recall")
    val bits = 32 / bands
    val sliced = simhashSignatures(docs, idCol, textCol).select(
      struct(col(idCol).as("id"), col("simhash").as("h")).as("_d"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)), b =>
        pmod(shiftrighthelper(col("simhash"), b, bits), lit(1L << bits))))
        .as(Seq("band_idx", "slice")))
    // array_sort orders the structs by id first, so id1 < id2 holds
    cappedGroupPairs(sliced, Seq("band_idx", "slice"), "_d", maxBucket)
      .select(col("id1.id").as("id1"), col("id2.id").as("id2"),
        bit_count(col("id1.h").bitwiseXOR(col("id2.h"))).cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  // simhash is non-negative (32-bit in a long), so subtract-mod division is
  // an arithmetic right shift — portable to the oracle as h // 2^s.
  private def shiftrighthelper(h: org.apache.spark.sql.Column, band: org.apache.spark.sql.Column,
                               bits: Int) = {
    val p = element_at(lit(POW2), (band * bits).cast("int") + lit(1))
    ((h - pmod(h, p)) / p).cast("long")
  }

  /** Index base of the sorted-neighborhood projection direction in the
    * shared LCG space — far past any (plane·dims + dim) or
    * (centroid·dims + dim) index either LSH or the coarse quantizer can
    * reach, so the direction is independent of both. */
  private[ops] val SortDirBase = 987654321L

  /** The fixed unit-free LCG direction sorted-neighborhood ranks against
    * (dyadic rationals — an external engine derives the identical vector
    * from the formula alone, like the LSH planes and IVF centroids). */
  private def sortDirection(dims: Int): Seq[Double] =
    (0 until dims).map(d => graft.functions.LshBucketExpr.hyperplane(SortDirBase + d))

  /** Sorted-neighborhood candidate generation (Hernández & Stolfo's
    * sorted-neighborhood blocking, adapted to embeddings): within each
    * block, rows are ranked by cosine against a fixed LCG direction —
    * near-duplicate vectors project to near-equal values and land on
    * adjacent ranks — and each row pairs only with the `maxPrev` rows
    * ranked immediately before it.
    *
    * This is the bound that makes FIXED-cardinality blocks (labels,
    * coarse quantizer cells, LSH buckets) safe at scale: tight clusters
    * collapse into one block at any quantizer resolution, so in-block
    * all-pairs is quadratic no matter how nlist/planes are sized; the
    * rank window caps work at O(n·maxPrev) regardless of the block-size
    * distribution, and concentrates the budget exactly where near-dups
    * sit (adjacent projections). The sf10 rehearsal measured the
    * uncapped forms at 12–14× for 10× data; capped they are linear.
    *
    * Banded responsibility pairing: every row lands in its own rank band
    * (band width = maxPrev) as an "a" (earlier-rank) candidate and in
    * the PREVIOUS band as a "b"-only ghost, so each within-maxPrev pair
    * meets in exactly one (block, band) group — no dedup pass. r16: the
    * pairs are generated IN-GROUP from the collected (block, band)
    * posting rows instead of the previous lo/hi self-join, which
    * re-evaluated the whole rank-window subtree (scan + block exchange +
    * sort) once per side and exchanged it twice more for the join. One
    * window evaluation, one (block, band) exchange; groups are ≤
    * 2·maxPrev rows, so the collected state is bounded by the cap, not
    * the block-size distribution. Pair set identical (in-block ranks are
    * unique, so the sorted list's position order IS the rank order).
    * Output: one row per pair, sides as structs `a` (earlier rank) and
    * `b` — callers' col("a.<field>") references resolve as struct field
    * access exactly like the old join-alias references.
    *
    * The per-block `row_number` keeps each block in one task — fine for
    * any block that fits a partition; past that, swap the rank for the
    * distributed bucket-prefix-sum ranking used by
    * [[CorpusOps.selectByBudget]] (same contract, no single-task block).
    */
  private def sortedNeighborhoodPairs(e: DataFrame, blockCol: String,
                                      idCol: String, vecCol: String,
                                      dims: Int, maxPrev: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(maxPrev > 0, s"maxPrev ($maxPrev) must be positive")
    val rn = row_number().over(
      Window.partitionBy(col(blockCol))
        .orderBy(cosine(col(vecCol), typedLit(sortDirection(dims))), col(idCol)))
    val band = floor(col("_rn") / maxPrev)
    // pos 0 = the row's own band (its "a" role); pos 1 = the previous
    // band, where it is reachable as a "b" by that band's earlier rows
    val tagged = e.withColumn("_rn", rn)
      .select(col(blockCol).as("_blk"),
        struct(e.columns.toSeq.map(col): _*).as("_p"), col("_rn"),
        posexplode(array(band, band - 1)).as(Seq("_own", "_band")))
    val lists = tagged.groupBy(col("_blk"), col("_band"))
      .agg(array_sort(collect_list(struct(col("_rn"), col("_own"), col("_p"))))
        .as("_rows"))
    lists
      .select(col("_rows"), posexplode(col("_rows")).as(Seq("_i", "_x")))
      .filter(col("_x._own") === 0)
      .select(col("_x"), explode(slice(col("_rows"), col("_i") + lit(2),
        size(col("_rows")) - col("_i") - lit(1))).as("_y"))
      .filter(col("_y._rn") <= col("_x._rn") + lit(maxPrev))
      .select(col("_x._p").as("a"), col("_y._p").as("b"))
  }

  /** Embedding near-duplicates blocked by random-hyperplane LSH bucket —
    * the label-free form of [[embeddingNearDup]]: the bucket is computed
    * from the vector itself, so no external clustering key is needed.
    *
    * `maxPrev` bounds in-bucket work by sorted-neighborhood rank window
    * (see [[sortedNeighborhoodPairs]]).
    */
  def embeddingNearDupLsh(embs: DataFrame, threshold: Double, maxPrev: Int,
                          planes: Int = 4, dims: Int = 64,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding"): DataFrame = {
    val withBucket = embs.select(col(idCol), col(vecCol),
      SimilarityOps.lshBucket(col(vecCol), planes, dims).as("_bucket"))
    cosinePairs(sortedNeighborhoodPairs(withBucket, "_bucket", idCol, vecCol,
      dims, maxPrev), threshold, idCol, vecCol)
  }

  /** Pairs (sides `a`, `b`) whose cosine reaches `threshold`, as ordered
    * (id1 < id2, cos) rows. */
  private def cosinePairs(pairs: DataFrame, threshold: Double, idCol: String,
                          vecCol: String): DataFrame =
    pairs
      .withColumn("cos", cosine(col(s"a.$vecCol"), col(s"b.$vecCol")))
      .filter(col("cos") >= threshold)
      .select(least(col(s"a.$idCol"), col(s"b.$idCol")).as("id1"),
        greatest(col(s"a.$idCol"), col(s"b.$idCol")).as("id2"),
        round(col("cos"), 6).as("cos"))

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — semantic dedup at
    * the embedding level: cluster the corpus with a coarse quantizer,
    * then inside each cluster drop every example that is within cosine
    * `threshold` of an earlier (lower-id) example, keeping the first of
    * each semantic-duplicate family. This is the paper's per-cluster
    * upper-triangular similarity thresholding with id order standing in
    * for the paper's (arbitrary) example order; the quantizer here is the
    * deterministic LCG centroid set shared with the IVF tier
    * ([[SimilarityOps.lcgCentroids]] — train-once-offline pattern), so
    * the whole decision is cross-engine reproducible.
    *
    * Returns every input row as (idCol, cid, keep) — the keep/drop
    * verdict per example plus its cluster for audit.
    *
    * Scale shape: assignment is a narrow shuffle-free argmax projection
    * (centroids are literals); pair generation is blocked by `cid` — the
    * paper's own trick for making semantic dedup tractable: pairs only
    * form inside a cluster. Tight clusters collapse into one cell at any
    * nlist, so the in-cell check is bounded by the `maxPrev` rank window
    * ([[sortedNeighborhoodPairs]], O(n·maxPrev)). The verdict join back
    * is keyed on id. No all-pairs, and only (id, cid) pairs plus the
    * in-cluster vectors ever shuffle.
    */
  def semDedup(embs: DataFrame, threshold: Double, maxPrev: Int,
               nlist: Int = 8, dims: Int = 64, idCol: String = "vec_id",
               vecCol: String = "embedding"): DataFrame = {
    val cents = SimilarityOps.lcgCentroids(nlist, dims)
    val assigned = embs.select(col(idCol), col(vecCol),
      SimilarityOps.nearestCentroid(col(vecCol), cents).as("cid"))
    // a row drops when a LOWER-id mate within threshold exists (the
    // paper's example order); only window-mates are checked, so the
    // higher-id side of each qualifying pair drops
    val dropped =
      sortedNeighborhoodPairs(assigned, "cid", idCol, vecCol, dims, maxPrev)
        .filter(cosine(col(s"a.$vecCol"), col(s"b.$vecCol")) >= threshold)
        .select(greatest(col(s"a.$idCol"), col(s"b.$idCol")).as(idCol))
        .distinct()
    assigned
      .join(dropped.withColumn("_dup", lit(1)), Seq(idCol), "left")
      .select(col(idCol), col("cid"), col("_dup").isNull.as("keep"))
  }

  /** Embedding near-duplicates: cosine ≥ threshold within blocking key
    * `blockCol` (e.g. a coarse cluster/label or LSH bucket) — the blocked
    * form of brute-force pair generation.
    *
    * `blockCol` cardinality is a DATA property, not a tuning knob — a
    * fixed-cardinality key (labels) makes in-block all-pairs quadratic,
    * so in-block work is bounded by the `maxPrev` sorted-neighborhood
    * rank window ([[sortedNeighborhoodPairs]], O(n·maxPrev)).
    */
  def embeddingNearDup(embs: DataFrame, threshold: Double, maxPrev: Int,
                       blockCol: String = "label", idCol: String = "vec_id",
                       vecCol: String = "embedding",
                       dims: Int = 64): DataFrame =
    cosinePairs(sortedNeighborhoodPairs(
      embs.select(col(idCol), col(blockCol), col(vecCol)), blockCol, idCol,
      vecCol, dims, maxPrev), threshold, idCol, vecCol)
}
