package graft.ops

import graft.functions.CrossHash._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text analysis for training-data pipelines: language ID, quality
  * scoring, token counting, document fingerprinting. All pure narrow
  * expressions — no shuffle, fully pipelined inside the scan stage.
  */
object TextOps {

  /** Tiny per-language stopword lists for the n-gram/stopword heuristic
    * language guesser. Shared verbatim with the oracle SQL; single source
    * of truth lives next to the native scorer. */
  val stopwords: Seq[(String, Seq[String])] =
    graft.functions.LangScoresExpr.stopwords

  private def countIn(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words.map(lit): _*)))

  /** All language scores in one pass — native [[graft.functions.LangScoresExpr]]
    * (one loop + word→langs lookup) instead of one interpreted HOF filter
    * pass per language. */
  def langScores(toks: Column): Column = {
    import org.apache.spark.sql.graftshim.ColumnBridge
    ColumnBridge.column(
      graft.functions.LangScoresExpr(ColumnBridge.expression(toks)))
  }

  /** Guess a language by stopword hit counts; ties break on language code
    * ascending (deterministic). One native argmax expression — no
    * per-language column that CollapseProject would re-inline (and with
    * it, re-tokenize) once per language. */
  def languageId(docs: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.graftshim.ColumnBridge
    val best = ColumnBridge.column(graft.functions.LangBestExpr(
      ColumnBridge.expression(tokens(lower(col(textCol))))))
    docs.select(col(idCol), best.as("_b"))
      .select(col(idCol), col("_b.lang").as("guessed_lang"),
        col("_b.score").cast("int").as("score"))
  }

  /** Quality metrics: lengths, token stats, stopword/distinct ratios and a
    * composite score — exact rational arithmetic, rounded for comparison. */
  def qualityScore(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    val allStop = stopwords.flatMap(_._2).distinct
    val t = tokens(lower(col(textCol)))
    docs.select(
        col(idCol),
        length(col(textCol)).cast("long").as("n_chars"),
        t.as("_toks"))
      .withColumn("n_tokens", size(col("_toks")).cast("long"))
      .withColumn("n_distinct", size(array_distinct(col("_toks"))).cast("long"))
      .withColumn("n_stop", countIn(col("_toks"), allStop).cast("long"))
      .withColumn("avg_token_len",
        round(aggregate(col("_toks"), lit(0L), (a, x) => a + length(x)).cast("double")
          / greatest(col("n_tokens"), lit(1L)), 6))
      .withColumn("distinct_ratio",
        round(col("n_distinct").cast("double") / greatest(col("n_tokens"), lit(1L)), 6))
      .withColumn("stopword_ratio",
        round(col("n_stop").cast("double") / greatest(col("n_tokens"), lit(1L)), 6))
      .withColumn("quality",
        round(least(col("n_tokens").cast("double") / lit(50.0), lit(1.0)) * lit(0.4)
          + col("distinct_ratio") * lit(0.4) + col("stopword_ratio") * lit(0.2), 6))
      .drop("_toks")
  }

  /** Token counts: whitespace tokens plus a BPE-ish subword estimate
    * (alnum runs + punctuation marks counted separately; ~chars/4 for long
    * words — here: ceil(len/4) pieces per token).
    */
  def tokenCounts(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    val t = tokens(col(textCol))
    docs.select(col(idCol), t.as("_toks"))
      .withColumn("ws_tokens", size(col("_toks")).cast("long"))
      .withColumn("bpe_tokens",
        aggregate(col("_toks"), lit(0L),
          (a, x) => a + ceil(length(x).cast("double") / lit(4.0)).cast("long")))
      .drop("_toks")
  }

  /** Top-`k` salient terms per document by linear TF-IDF (tf × N/df).
    * Deliberately log-free: the score stays a ratio of exact integers, so
    * the DuckDB oracle matches bit-for-bit (libm `log` is not correctly
    * rounded and differs across engines). Shape: one exploded token pass,
    * two keyed aggregates, one window top-k — no O(n²) anywhere.
    */
  def tfidfTopTerms(docs: DataFrame, k: Int = 5, idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    import graft.functions.CrossHash.wordGrams
    import org.apache.spark.sql.expressions.Window
    val terms = docs.select(col(idCol),
      explode(wordGrams(lower(col(textCol)), 1)).as("term"))
    // wordGrams(_,1) is distinct per doc → per-doc tf needs the raw tokens
    val raw = docs.select(col(idCol),
      explode(graft.functions.CrossHash.tokens(lower(col(textCol)))).as("term"))
    val tf = raw.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val df_ = terms.groupBy(col("term")).agg(count(lit(1)).as("df"))
    // Corpus size as a broadcast 1-row agg folded into the plan — one job,
    // not a separate driver-side count() action per invocation.
    val nDf = docs.agg(count(lit(1)).cast("double").as("_n"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("term").asc)
    tf.join(df_, "term")
      .crossJoin(broadcast(nDf))
      .withColumn("score", col("tf").cast("double") * col("_n") / col("df"))
      .drop("_n")
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), col("rank").cast("int").as("rank"), col("term"),
        round(col("score"), 6).as("score"))
  }

  /** Web-artifact detection for quality/PII filtering: counts of
    * URL-looking and email-looking tokens (prefix/containment tests —
    * deliberately regex-free so the oracle twin is engine-portable and
    * the hot path stays in simple string predicates).
    */
  def webMarks(docs: DataFrame, idCol: String = "doc_id",
               textCol: String = "text"): DataFrame = {
    val toks = tokens(lower(col(textCol)))
    docs.select(col(idCol), toks.as("_t"))
      .withColumn("n_urls", size(filter(col("_t"), t =>
        t.startsWith("http://") || t.startsWith("https://") || t.startsWith("www."))).cast("long"))
      .withColumn("n_emails", size(filter(col("_t"), t =>
        t.contains("@") && t.contains("."))).cast("long"))
      .withColumn("has_web", (col("n_urls") + col("n_emails")) > 0)
      .drop("_t")
  }

  /** Canonical form of a URL for dedup keys — the normalization CCNet /
    * web-crawl pipelines apply before URL-level dedup, as one codegen'd
    * chain of regexp rewrites (pure narrow projection; zero exchanges
    * until whatever aggregation consumes the key):
    *
    *  1. scheme + authority lowercased (path/query case is significant);
    *  2. leading `www.` stripped from the host;
    *  3. default ports `:80` / `:443` dropped;
    *  4. fragment dropped;
    *  5. tracking parameters (`utm_*`, `gclid`, `fbclid`) dropped, with
    *     dangling `?`/`&` separators cleaned up;
    *  6. trailing slashes dropped.
    *
    * Contract: input should look like `scheme://authority[/path][?q][#f]`;
    * parameter VALUES containing literal `utm_...=` text are out of scope
    * (they'd need a real parser, not a rewrite chain). Every step is RE2-
    * compatible (no lookaround, `(?:...)` + inline `(?i)` only) so the
    * DuckDB oracle twin runs the same patterns.
    */
  def canonicalizeUrl(u: Column): Column = {
    val lowPfx = concat(
      lower(regexp_extract(u, "^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)", 1)),
      regexp_replace(u, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*", ""))
    val noWww = regexp_replace(lowPfx, "^([a-z][a-z0-9+.-]*://)www\\.", "$1")
    val noPort = regexp_replace(noWww,
      "^([a-z][a-z0-9+.-]*://[^/?#:]*):(?:80|443)([/?#]|$)", "$1$2")
    val noFrag = regexp_replace(noPort, "#.*", "")
    val noTrk = regexp_replace(noFrag,
      "(?i)([?&])(?:utm_[a-z0-9]*|gclid|fbclid)=[^&#]*", "$1")
    val clean = regexp_replace(
      regexp_replace(regexp_replace(noTrk, "\\?&+", "?"), "&&+", "&"),
      "[?&]+$", "")
    regexp_replace(clean, "/+$", "")
  }

  /** Polynomial-rolling-hash fingerprint of the normalized (lowercased,
    * whitespace-collapsed) document text. */
  def fingerprint(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame =
    docs.select(col(idCol),
      polyHash(concat_ws(" ", tokens(lower(col(textCol))))).as("fingerprint"))

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD 2003 —
    * the MOSS scheme): hash the ordered word n-gram sequence, slide a
    * `window` over the hashes, keep each window's minimum, emit the
    * distinct minima as (doc, fp) rows. Guarantees any shared run of
    * ≥ window+n-1 tokens yields a shared fingerprint, with a ~2/(window+1)
    * selection density — the standard local fingerprinting for partial /
    * passage-level overlap detection (exact docs share all fps, disjoint
    * docs share none). Documents shorter than one full window emit no
    * rows. Narrow per-row computation; joins on `fp` are blocked
    * equi-joins like every other near-dup family here.
    */
  def winnowFingerprints(docs: DataFrame, n: Int = 3, window: Int = 4,
                         idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.graftshim.ColumnBridge
    val fps = ColumnBridge.column(graft.functions.WinnowExpr(
      ColumnBridge.expression(tokens(lower(col(textCol)))), n, window))
    docs.select(col(idCol), explode(fps).as("fp"))
  }

  /** Passage-level duplication candidates: document pairs sharing at
    * least `minShared` distinct winnowing fingerprints — the
    * copied-paragraph / shared-boilerplate detector that whole-document
    * dedup misses (exact substring dedup's blocked approximation: any
    * shared run of ≥ window+n-1 tokens is guaranteed a shared
    * fingerprint, so long copied passages surface with high shared
    * counts).
    *
    * Scale shape: candidate generation is a blocked equi-join on `fp`
    * (inverted-index blocking, like the MinHash/SimHash families — never
    * all-pairs), with fingerprints whose document frequency exceeds
    * `maxDf` dropped first: a fingerprint appearing in d documents
    * induces d² candidate rows, and high-df fingerprints are corpus
    * boilerplate, not passage copies. The cap keeps per-fingerprint work
    * O(maxDf²) while shared counts over surviving fingerprints stay
    * exact. Shared text never shuffles — only (fp, id) pairs do.
    */
  def winnowPairs(docs: DataFrame, maxDf: Int, n: Int = 3, window: Int = 4,
                  minShared: Int = 2, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    val fps = winnowFingerprints(docs, n, window, idCol, textCol)
    // r16: in-group pair generation over fp posting lists — one keyed
    // exchange of the fingerprint rows replaces the [df-count + join-back
    // + self-join] form, which evaluated the per-doc winnow pipeline four
    // times per plan (DedupOps.cappedGroupPairs; pair multiset identical,
    // so the shared_fps counts are unchanged)
    DedupOps.cappedGroupPairs(fps, Seq("fp"), idCol, maxDf)
      .groupBy(col("id1").as("id_a"), col("id2").as("id_b"))
      .agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= minShared)
  }

  /** Corpus-relative rare-token statistics — the OOV-rate quality signal
    * (CCNet-style corpus-relative filtering): per document, the token
    * instances whose corpus document frequency is at or below
    * `maxDfFraction` of the corpus size, and their fraction. High rare
    * fractions flag gibberish, OCR noise, and code/markup salad without
    * any external lexicon — the corpus itself is the reference.
    *
    * Scale shape: rare tokens are the unbounded tail, but COMMON tokens
    * (df above the fraction threshold) are bounded independent of corpus
    * size — at most (avg distinct tokens per doc) / maxDfFraction types
    * can each appear in more than that fraction of documents. So instead
    * of joining the per-(doc, token) table back on token (a wide type-row
    * re-shuffle that grows with the corpus), build the small common set
    * (type dedup + df count: two keyed shuffles over type rows) and
    * broadcast it; rare instances are then the complement in one narrow
    * broadcast join + per-doc count with map-side combine. The corpus
    * size folds in as a broadcast single-row aggregate (no driver-side
    * count job), and no shuffle ever carries text.
    *
    * Sizing constraint: the broadcast common set holds at most
    * (avg distinct tokens per doc) / `maxDfFraction` token types — 200×
    * the per-doc average at the 0.005 default. On a very diverse corpus
    * (large per-doc vocabularies, tiny `maxDfFraction`) that bound can
    * exceed the broadcast limit; raise `maxDfFraction` (the set shrinks
    * as 1/fraction) before reaching for a shuffle join — a common set
    * that can't broadcast means the threshold no longer separates
    * "common" from the tail at all.
    */
  def oovStats(docs: DataFrame, maxDfFraction: Double = 0.005,
               idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val inst = docs.select(col(idCol), explode(tokens(lower(col(textCol)))).as("tok"))
    // document frequency via the native per-doc-DISTINCT gram pass
    // (wordGrams n=1): the row-level `inst.distinct()` it replaces was a
    // full token-instance exchange (~600M rows at sf10, the query's
    // dominant cost) to dedup pairs that each document can dedup inside
    // its own row at scan speed. Same (doc, token) set, term for term.
    val dfTbl = docs
      .select(explode(wordGrams(lower(col(textCol)), 1)).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("_df"))
    val nDocs = docs.agg(count(lit(1)).cast("double").as("_ndocs"))
    val common = dfTbl.crossJoin(broadcast(nDocs))
      .filter(col("_df") > col("_ndocs") * lit(maxDfFraction))
      .select(col("tok"), lit(1).as("_common"))
    val agg = inst.join(broadcast(common), Seq("tok"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("_common").isNull, lit(1L)).otherwise(lit(0L))).as("n_rare"))
    docs.select(col(idCol)).join(agg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_rare"), lit(0L)).as("n_rare"))
      .withColumn("rare_fraction",
        round(col("n_rare").cast("double") / greatest(col("n_tokens"), lit(1L)), 6))
  }

  /** Corpus-unigram LM quality score — the perplexity-proxy filter from
    * the CCNet pipeline (Wenzek et al. 2020), with the corpus itself as
    * the language model: per document, the mean negative log-probability
    * of its tokens under the corpus unigram distribution. Low = fluent,
    * high = gibberish/OCR noise relative to the corpus. Output:
    * (id, n_tokens, avg_nll).
    *
    * Scale shape: the unigram table is one token-keyed count shuffle
    * (inherent). Scoring then needs every instance row's probability —
    * but a plain instance⋈vocab join on token is maximally skewed
    * (every "the" instance lands on one reducer). Split by frequency
    * instead: tokens holding more than `commonMassFraction` of total
    * mass number at most 1/fraction types (bounded independent of corpus
    * size), so their log-probs broadcast and the hot keys never shuffle;
    * the tail joins by token with per-key cardinality ≤
    * commonMassFraction·total — skew-free by construction. Both legs
    * carry only (id, logprob); text never shuffles.
    */
  def unigramLogProb(docs: DataFrame, commonMassFraction: Double = 5e-4,
                     idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val inst = docs.select(col(idCol), explode(tokens(lower(col(textCol)))).as("tok"))
    val counts = inst.groupBy(col("tok")).agg(count(lit(1)).as("_cnt"))
    val total = counts.agg(sum(col("_cnt")).cast("double").as("_tot"))
    val lp = counts.crossJoin(broadcast(total))
      .select(col("tok"), col("_cnt"), col("_tot"),
        log(col("_cnt").cast("double") / col("_tot")).as("_lp"))
    val hot = lp.filter(col("_cnt") > col("_tot") * lit(commonMassFraction))
      .select(col("tok"), col("_lp"))
    val tail = lp.filter(col("_cnt") <= col("_tot") * lit(commonMassFraction))
      .select(col("tok"), col("_lp"))
    val viaHot = inst.join(broadcast(hot), Seq("tok"), "left")
    val resolved = viaHot.filter(col("_lp").isNotNull).select(col(idCol), col("_lp"))
      .unionByName(viaHot.filter(col("_lp").isNull).drop("_lp")
        .join(tail, Seq("tok")).select(col(idCol), col("_lp")))
    val agg = resolved.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), avg(-col("_lp")).as("_nll"))
    docs.select(col(idCol)).join(agg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        round(coalesce(col("_nll"), lit(0d)), 6).as("avg_nll"))
  }

  /** Corpus-bigram LM score — [[unigramLogProb]]'s context-aware sibling:
    * per document, the mean negative log of P(w₂|w₁) = c(w₁w₂)/c(w₁·)
    * under the corpus bigram distribution, with c(w₁·) the bigram-prefix
    * count (so probabilities normalize exactly and every in-corpus
    * bigram has mass — the corpus is its own model, no smoothing
    * needed). Separates fluent word ORDER from fluent word CHOICE: word
    * salad with common words fools the unigram score but not this one.
    *
    * Scale shape: one non-distinct bigram pass feeds both the count
    * table and the instance stream; prefix counts ride a sum window on
    * the count table's own _w1 exchange (r17 — vocabulary-sized, not
    * corpus-sized, and no join-back). The instance⋈model join splits
    * hot/tail by mass exactly like [[unigramLogProb]] — hot bigrams
    * broadcast, the tail joins skew-free, and no shuffle ever carries
    * text.
    */
  def bigramLogProb(docs: DataFrame, commonMassFraction: Double = 5e-4,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val inst = docs.select(col(idCol),
      explode(wordGramsAll(lower(col(textCol)), 2)).as("bg"))
    val counts = inst.groupBy(col("bg")).agg(count(lit(1)).as("_c12"))
    val total = counts.agg(sum(col("_c12")).cast("double").as("_tot"))
    // r17 (guide §2, the r16 §7 pattern): the bigram-prefix count c(w₁·)
    // was a second aggregate over `counts` joined back on _w1 — an
    // aggregate-join-back on its own key, whose join leg re-evaluated the
    // corpus bigram explode (no exchange reuse: column pruning
    // differentiates the two legs' subtrees). It now rides
    // `sum(_c12) over (partition by _w1)` on one _w1-keyed exchange of
    // the VOCABULARY-sized count table: prefix aggregate + join deleted
    // and one whole corpus explode pass gone. Window group state is
    // bounded by a prefix's distinct-successor count (vocabulary-scale,
    // not corpus-scale — unlike the tfidf window form this round
    // rejected), and every counts row keeps its group sum (inner join on
    // own key ≡ window sum; prefix groups are non-empty by construction),
    // so the log quotient is bit-equal.
    val lp = counts
      .withColumn("_w1", substring_index(col("bg"), " ", 1))
      .withColumn("_c1", sum(col("_c12")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("_w1"))))
      .crossJoin(broadcast(total))
      .select(col("bg"), col("_c12"), col("_tot"),
        log(col("_c12").cast("double") / col("_c1").cast("double")).as("_lp"))
    val hot = lp.filter(col("_c12") > col("_tot") * lit(commonMassFraction))
      .select(col("bg"), col("_lp"))
    val tail = lp.filter(col("_c12") <= col("_tot") * lit(commonMassFraction))
      .select(col("bg"), col("_lp"))
    val viaHot = inst.join(broadcast(hot), Seq("bg"), "left")
    val resolved = viaHot.filter(col("_lp").isNotNull).select(col(idCol), col("_lp"))
      .unionByName(viaHot.filter(col("_lp").isNull).drop("_lp")
        .join(tail, Seq("bg")).select(col(idCol), col("_lp")))
    val agg = resolved.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), avg(-col("_lp")).as("_nll"))
    docs.select(col(idCol)).join(agg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        round(coalesce(col("_nll"), lit(0d)), 6).as("avg_nll2"))
  }

  /** CCNet head/middle/tail bucketing — the final step of the CCNet
    * pipeline (Wenzek et al. 2020): per language, documents are cut into
    * equal thirds by corpus-LM quality ([[unigramLogProb]]'s avg_nll —
    * head = most fluent), and downstream training keeps head+middle.
    *
    * Buckets are RANK-based (ntile over the per-language order), not
    * threshold-based: a float quantile threshold makes the doc sitting
    * exactly at the cut engine-dependent, while ranking over the rounded
    * score with a doc-id tiebreak is a deterministic total order on both
    * engines. One keyed sort per language — exact tertiles need the
    * total order; at 100 TB swap to `percentile_approx` thresholds
    * (declared tolerance) if a per-language sort is too hot.
    */
  def ccnetBuckets(docs: DataFrame, strataCol: String = "lang",
                   idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = unigramLogProb(docs, idCol = idCol, textCol = textCol)
    // Plain per-language ntile window, kept BY MEASUREMENT: a
    // CdcOps.bucketedRank-style distributed ntile (score-bucketed prefix
    // sum + arithmetic tile split) was built and benchmarked at sf10 —
    // 7.7 s vs 4.6 s here — because the scored frame then feeds three
    // subplans and must be materialized (localCheckpoint), and that tax
    // exceeds what the parallel sort saves while per-language partitions
    // still fit a task. The swap point is when they don't: at 100 TB
    // reuse the bucketedRank shape (or percentile_approx thresholds with
    // a declared tolerance) — both documented, neither free.
    val w = Window.partitionBy(col(strataCol))
      .orderBy(col("avg_nll").asc, col(idCol).asc)
    docs.select(col(idCol), col(strataCol))
      .join(scored, idCol)
      .withColumn("_b", ntile(3).over(w))
      .select(col(idCol), col(strataCol), col("avg_nll"),
        when(col("_b") === 1, "head").when(col("_b") === 2, "middle")
          .otherwise("tail").as("ccnet_bucket"))
  }

  /** Benchmark decontamination (the training-data hygiene step from the
    * GPT-3/PaLM reports): flag corpus documents that share at least
    * `minHits` distinct word `n`-grams with any document of an
    * evaluation/benchmark set. Output: one row per contaminated document
    * — (id, n_hits = distinct overlapping n-grams).
    *
    * Scale shape: benchmarks are thousands of documents while the corpus
    * is billions, so the eval side's distinct n-grams are broadcast; the
    * corpus side is one narrow explode → broadcast-hash join → keyed count
    * with map-side partial aggregation. No shuffle ever carries document
    * text and nothing is all-pairs. [[graft.functions.WordGramsExpr]]
    * emits *distinct* grams per document in a single codegen'd pass, so
    * the count is a distinct-hit count without a dedup step.
    */
  def decontaminate(docs: DataFrame, evalDocs: DataFrame, n: Int = 5,
                    minHits: Int = 1, idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    val evalGrams = evalDocs
      .select(explode(wordGrams(lower(col(textCol)), n)).as("g"))
      .distinct()
    docs.select(col(idCol), explode(wordGrams(lower(col(textCol)), n)).as("g"))
      .join(broadcast(evalGrams), "g")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hits"))
      .filter(col("n_hits") >= minHits)
  }

  /** Email-looking spans: local@domain.tld (letters/digits/._%+- local
    * part). Kept RE2-compatible (no backrefs/lookaround) so the DuckDB
    * oracle runs the identical pattern. */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** Dotted-quad IPv4-looking spans (word-bounded). */
  val ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** Long bare digit runs (7+): phone/account/SSN-ish identifiers. Word
    * bounds keep IP octets (≤3 digits between dots) and digits embedded in
    * alphanumeric tokens from matching. */
  val numRunRe = "\\b\\d{7,}\\b"

  /** PII detection + redaction: count email / IPv4 / long-number spans and
    * rewrite them to `<EMAIL>` / `<IP>` / `<NUM>` placeholders (applied in
    * that order; counts are measured on the original text). Pure narrow
    * regexp expressions — fully pipelined in the scan stage, no shuffle;
    * the patterns are RE2-safe so the oracle twin runs them verbatim.
    */
  def piiRedact(docs: DataFrame, idCol: String = "doc_id",
                textCol: String = "text"): DataFrame =
    docs.select(col(idCol),
      regexp_count(col(textCol), lit(emailRe)).cast("long").as("n_emails"),
      regexp_count(col(textCol), lit(ipv4Re)).cast("long").as("n_ips"),
      regexp_count(col(textCol), lit(numRunRe)).cast("long").as("n_numbers"),
      regexp_replace(
        regexp_replace(
          regexp_replace(col(textCol), lit(emailRe), lit("<EMAIL>")),
          lit(ipv4Re), lit("<IP>")),
        lit(numRunRe), lit("<NUM>")).as("redacted"))

  /** Composite quality filter — the C4/Gopher-style keep/drop decision
    * layer over the scalar signals: token-count bounds, mean-word-length
    * band, distinct-token ratio, stopword-ratio floor, and web-artifact
    * cap, each surfaced as its own flag plus the final `keep` verdict
    * (kept docs fire no flag). One narrow pass — every signal reduces a
    * token array produced once per row; nothing shuffles, the filter
    * pipelines inside the scan stage at any corpus size. Ratio rules
    * compare IEEE doubles built from exact integer counts, so the
    * decision is bit-reproducible across engines (same division, same
    * comparison — no rounding step involved).
    */
  def corpusFilter(docs: DataFrame,
                   minTokens: Long = 10L, maxTokens: Long = 100000L,
                   minAvgLen: Double = 2.0, maxAvgLen: Double = 12.0,
                   minDistinctRatio: Double = 0.1, minStopRatio: Double = 0.0,
                   maxWebMarks: Long = Long.MaxValue,
                   idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val allStop = stopwords.flatMap(_._2).distinct
    def ratio(num: Column, den: Column) = num.cast("double") / greatest(den, lit(1L))
    // NULL text folds to zero tokens (→ f_short, keep = false): raw flags
    // over a null text are all NULL, and a null keep makes the doc vanish
    // from BOTH filter(keep) and filter(!keep) — breaking keep + drop =
    // total accounting
    val flagged = docs.select(col(idCol),
        coalesce(tokens(lower(col(textCol))),
          array().cast("array<string>")).as("_tk"))
      .withColumn("_n", size(col("_tk")).cast("long"))
      .withColumn("_avg", ratio(
        aggregate(col("_tk"), lit(0L), (a, x) => a + length(x)), col("_n")))
      .withColumn("_dr", ratio(size(array_distinct(col("_tk"))).cast("long"), col("_n")))
      .withColumn("_sr", ratio(countIn(col("_tk"), allStop).cast("long"), col("_n")))
      .withColumn("_web", size(filter(col("_tk"), t =>
        t.startsWith("http://") || t.startsWith("https://") || t.startsWith("www.") ||
          (t.contains("@") && t.contains(".")))).cast("long"))
      .select(col(idCol), col("_n").as("n_tokens"),
        (col("_n") < minTokens).as("f_short"),
        (col("_n") > maxTokens).as("f_long"),
        (col("_avg") < minAvgLen || col("_avg") > maxAvgLen).as("f_word_len"),
        (col("_dr") < minDistinctRatio).as("f_low_distinct"),
        (col("_sr") < minStopRatio).as("f_low_stopword"),
        (col("_web") > maxWebMarks).as("f_web"))
    flagged.withColumn("keep",
      !(col("f_short") || col("f_long") || col("f_word_len") ||
        col("f_low_distinct") || col("f_low_stopword") || col("f_web")))
  }

  /** Hashing-trick linear text classifier — the fastText-style model-based
    * quality filter of CCNet/LLaMA-class pipelines, with the model reduced
    * to its deterministic skeleton: each token maps to one of `dims`
    * feature buckets via the portable polynomial hash, each bucket carries
    * a fixed LCG-derived weight in [-0.5, 0.5), and the document logit is
    * the mean bucket weight plus `bias`. Swapping in real learned weights
    * is a one-line change (join or literal map); the Spark-side shape is
    * what matters at 100 TB: a pure narrow projection, no shuffle, one
    * sequential fold per document in the scan stage.
    *
    * Exact cross-engine parity: the weight is a dyadic rational, the fold
    * is a strict left fold in token order, and the mean divides by the
    * token count — the oracle's list_reduce computes bit-identical
    * doubles. Empty documents score `bias` alone.
    */
  def classifierScore(docs: DataFrame, dims: Int = 1024, bias: Double = 0.0,
                      idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame = {
    val tk = tokens(lower(col(textCol)))
    def weight(t: Column): Column = {
      val lcg = (lit(1103515245L) * (polyHash(t) % lit(dims.toLong)) + lit(12345L)) % lit(2147483648L)
      lcg.cast("double") / lit(2147483648.0d) - lit(0.5d)
    }
    docs.select(col(idCol), tk.as("_tk"))
      .withColumn("clf_logit",
        when(size(col("_tk")) > 0,
          lit(bias) + aggregate(col("_tk"), lit(0.0d), (a, t) => a + weight(t))
            / size(col("_tk")).cast("double"))
          .otherwise(lit(bias)))
      // keep derives from the ROUNDED logit: the published (logit, keep)
      // pair must be self-consistent — deciding on the raw value could
      // report (0.0, true) for a logit of +4e-7 and any consumer
      // recomputing keep from the 6dp surface would disagree
      .select(col(idCol), round(col("clf_logit"), 6).as("clf_logit"),
        (round(col("clf_logit"), 6) > 0).as("clf_keep"))
  }

  /** Character-distribution statistics — the encoding-level quality
    * signals that token-level rules miss: codepoint Shannon entropy
    * (natural language ~2.5–4.5 nats; base64/minified/OCR noise lands
    * outside), digit fraction, and uppercase fraction. One narrow pass:
    * entropy is the codegen'd [[graft.functions.CharEntropyExpr]] (single
    * histogram loop per row), the fractions are regexp counts — nothing
    * shuffles, the pass pipelines inside the scan at any corpus size.
    * Entropy folds codepoints in ascending order (= the oracle's
    * `list(... ORDER BY c)` fold), so the value matches cross-engine up
    * to libm `ln`, absorbed by the rounding.
    */
  def charStats(docs: DataFrame, idCol: String = "doc_id",
                textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.graftshim.ColumnBridge
    val ent = ColumnBridge.column(
      graft.functions.CharEntropyExpr(ColumnBridge.expression(col(textCol))))
    val len = greatest(length(col(textCol)).cast("long"), lit(1L))
    docs.select(col(idCol),
      length(col(textCol)).cast("long").as("n_chars"),
      round(ent, 6).as("char_entropy"),
      round(regexp_count(col(textCol), lit("[0-9]")).cast("double") / len, 6)
        .as("digit_frac"),
      round(regexp_count(col(textCol), lit("[A-Z]")).cast("double") / len, 6)
        .as("upper_frac"))
  }

  /** Within-document repetition metrics (the Gopher/C4 quality-rule
    * family): top-word fraction, top-bigram fraction, and the fraction of
    * bigram occurrences that are duplicates inside the same document.
    * High values flag degenerate generated/boilerplate text that plain
    * length/stopword rules miss.
    *
    * Shape: explode → (doc, term) keyed count → (doc) rollup — two keyed
    * hash-aggregates with map-side partial combine, linear in corpus token
    * count, whole-stage codegen. (A narrow no-shuffle alternative — sort
    * each doc's token array and fold run-lengths — trades shuffle for
    * per-row O(L log L); the exploded form wins once aggregate pushdown
    * halves the exchange.)
    */
  def repetitionStats(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame = {
    // one fused compiled pass per document (native RepStatsExpr) — the
    // former explode → groupBy(doc, term) chains shuffled every token
    // and bigram occurrence (two exchanges of ~50× the document count);
    // this is map-only, zero exchanges, same counts term-for-term
    val st = {
      import org.apache.spark.sql.graftshim.ColumnBridge
      ColumnBridge.column(graft.functions.RepStatsExpr(
        ColumnBridge.expression(lower(col(textCol)))))
    }
    def frac(num: Column, den: Column) =
      round(num.cast("double") / greatest(den, lit(1L)), 6)
    // NULL text → NULL struct → all-zero counts, matching the join form's
    // left-join + na.fill(0)
    def f(n: String) = coalesce(col(s"_st.$n"), lit(0L))
    docs.select(col(idCol), st.as("_st"))
      .select(col(idCol), f("n_words").as("n_words"),
        frac(f("top_w"), f("n_words")).as("top_word_frac"),
        f("n_bigrams").as("n_bigrams"),
        frac(f("top_b"), f("n_bigrams")).as("top_bigram_frac"),
        frac(f("dup_b"), f("n_bigrams")).as("dup_bigram_frac"))
  }

  /** Fixed-token-window chunking with stride overlap — the context-window
    * segmentation step that turns long documents into training sequences
    * (stride < window ⇒ overlapping chunks, the standard LM windowing).
    * Emits one row per (doc, start offset): chunk index, token count and
    * the re-joined chunk text; the tail chunk may be shorter than
    * `window`; empty documents emit nothing.
    *
    * Scale shape: map-only — tokenize once per row, explode the stride
    * grid, slice the token array per chunk. No shuffle, no state; output
    * cardinality is Σ ceil(len/stride), and every expression (sequence/
    * slice/array_join) is codegen'd, so this pipelines inside the scan
    * stage at any corpus size. Chunk starts derive from the array itself,
    * so the operator never materializes overlapping text more than the
    * stride ratio requires.
    */
  def chunkTokens(docs: DataFrame, window: Int = 40, stride: Int = 30,
                  idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(window > 0 && stride > 0,
      s"chunkTokens: window ($window) and stride ($stride) must be positive")
    docs
      .select(col(idCol), tokens(lower(col(textCol))).as("_tk"))
      .select(col(idCol), col("_tk"),
        explode(sequence(lit(0), greatest(size(col("_tk")) - 1, lit(0)),
          lit(stride))).as("_st"))
      .filter(col("_st") < size(col("_tk")))
      .select(col(idCol),
        graft.functions.IntMath.floorDiv(col("_st").cast("long"), stride.toLong)
          .cast("int").as("chunk_idx"),
        slice(col("_tk"), col("_st") + 1, lit(window)).as("_chunk"))
      .select(col(idCol), col("chunk_idx"),
        size(col("_chunk")).cast("long").as("n_tokens"),
        array_join(col("_chunk"), " ").as("chunk_text"))
  }

  /** BM25 relevance scores for a fixed bag of query `terms` (Robertson/
    * Okapi, k1/b defaults) — keyword search over the corpus. Emits every
    * document matching ≥1 term with its hit count and 6-dp-rounded score.
    *
    * Scale shape: per-term tf is a map-side `filter(tk, =term)` count —
    * the query is tiny, so no token explode and no (doc, term) shuffle
    * ever happens; corpus stats (N, Σdl, per-term df) are ONE 1-row
    * aggregate broadcast back via crossJoin (the same 1-row-stats pattern
    * as [[graft.ops.CorpusOps.selectByBudget]]). Two scans total, both
    * fully codegen'd; nothing shuffles but the 1-row stats exchange.
    * Float determinism: idf/score arithmetic is ordered exactly as the
    * oracle SQL writes it (left-to-right term sum, parenthesized
    * mul/div), and the only rounding is the final 6-dp gate — the same
    * discipline as [[unigramLogProb]].
    */
  def bm25(docs: DataFrame, terms: Seq[String],
           k1: Double = 1.2, b: Double = 0.75,
           idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(terms.nonEmpty && terms.distinct.length == terms.length,
      "bm25: terms must be non-empty and distinct")
    val base = docs
      .select(col(idCol), tokens(lower(col(textCol))).as("_tk"))
      .select(col(idCol), size(col("_tk")).cast("long").as("_dl"),
        struct(terms.zipWithIndex.map { case (term, i) =>
          size(filter(col("_tk"), x => x === lit(term))).cast("long").as(s"tf$i")
        }: _*).as("_tf"))
    val statAggs =
      sum(col("_dl")).as("_toktot") +:
        terms.indices.map(i =>
          sum((col("_tf")(s"tf$i") > 0).cast("long")).as(s"_df$i"))
    val stats = base.agg(count(lit(1)).as("_n"), statAggs: _*)
    val scored = base.crossJoin(broadcast(stats))
    val nD = col("_n").cast("double")
    val avgdl = col("_toktot").cast("double") / nD
    val score = terms.indices.map { i =>
      val dfD = col(s"_df$i").cast("double")
      val tfD = col("_tf")(s"tf$i").cast("double")
      val idf = log(lit(1.0) + ((nD - dfD) + lit(0.5)) / (dfD + lit(0.5)))
      when(col("_tf")(s"tf$i") > 0,
        ((idf * tfD) * lit(k1 + 1.0)) /
          (tfD + lit(k1) * (lit(1.0 - b) + (lit(b) * col("_dl").cast("double")) / avgdl)))
        .otherwise(lit(0.0))
    }.reduce(_ + _)
    scored
      .filter(terms.indices.map(i => col("_tf")(s"tf$i") > 0).reduce(_ || _))
      .select(col(idCol),
        terms.indices.map(i => (col("_tf")(s"tf$i") > 0).cast("long"))
          .reduce(_ + _).as("n_hits"),
        round(score, 6).as("bm25"))
  }
}
