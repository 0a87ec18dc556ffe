package graft

import org.apache.spark.sql.DataFrame

/** Physical-plan regression tests: the properties that make these queries
  * scale (pushdown, pruning, broadcast dimension joins, pre-shuffle window
  * limits) are asserted, not assumed — a refactor that silently loses one
  * fails here, not at 100 TB.
  */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  private def q(name: String): DataFrame = SparkEntry.queries(name)(spark, sf)

  /** Every EXECUTED plan a query runs, in order — including the eager
    * localCheckpoint sub-jobs of the r16 checkpoint-choreographed
    * operators (containment/jaccard/minhash-pairs/degree/...): their
    * RETURNED frame is the materialized `Scan ExistingRDD`, which would
    * make a final-plan pin vacuous, so the scale properties are asserted
    * against the sub-plans that actually shuffled the data.
    * QueryExecutionListener delivery is async — poll until the capture
    * count stabilizes. */
  private def executedPlans(name: String): Seq[String] = {
    val plans = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          d: Long): Unit = plans.add(qe.executedPlan.toString)
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      SparkEntry.queries(name)(spark, sf)
        .write.format("noop").mode("overwrite").save()
      var last = -1
      var stable = 0
      val deadline = System.nanoTime() + 10_000_000_000L
      while (stable < 3 && System.nanoTime() < deadline) {
        Thread.sleep(100)
        val n = plans.size()
        if (n == last) stable += 1 else { stable = 0; last = n }
      }
    } finally spark.listenerManager.unregister(l)
    import scala.jdk.CollectionConverters._
    plans.asScala.toSeq
  }

  /** The final-plan section of a captured executed plan (an executed
    * AdaptiveSparkPlan prints `isFinalPlan=true` followed by an
    * `== Initial Plan ==` copy that would double-count operators). */
  private def finalSection(p: String): String =
    p.split("== Initial Plan ==").head

  test("q1: shipdate filter is pushed to the parquet scan; schema pruned") {
    val p = plan("q1_pricing_summary")
    assert(p.contains("PushedFilters:") && p.contains("LessThanOrEqual(l_shipdate"),
      s"filter not pushed:\n$p")
    // projection pruning: the scan must not read unused lineitem columns
    assert(p.contains("ReadSchema") && !p.contains("l_comment"),
      s"scan reads unused columns:\n$p")
  }

  test("q5: dimension chain broadcasts; only the fact join shuffles") {
    val p = plan("q5_region_revenue")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).length
    assert(broadcasts >= 3, s"expected broadcast dimension joins, got $broadcasts:\n$p")
  }

  test("a2 dedup: window top-1 is planned with a pre-shuffle group limit") {
    val p = plan("a2_dedup_pk")
    assert(p.contains("WindowGroupLimit"),
      s"row_number()=1 should plan WindowGroupLimit (map-side top-1):\n$p")
  }

  test("q3 top-k: global sort is a TakeOrderedAndProject, not a full sort") {
    val p = plan("q3_top_orders")
    assert(p.contains("TakeOrderedAndProject"), s"limit+orderBy degenerated:\n$p")
  }

  test("signature ops are narrow scan-speed passes: zero exchanges, native exprs") {
    // a document signature is a pure per-row function of the token set —
    // the plan must contain NO shuffle at all (the explode → groupBy
    // formulation this guards against costs a keyed exchange)
    for (name <- Seq("dedup_minhash_sig", "dedup_simhash")) {
      val p = plan(name)
      assert(!p.contains("Exchange"),
        s"$name must be shuffle-free — signatures are per-row functions:\n$p")
    }
    assert(plan("dedup_minhash_sig").contains("graft_minhash"),
      "minhash must run as the native expression")
    assert(plan("dedup_simhash").contains("graft_simhash"),
      "simhash must run as the native expression")
  }

  test("decontaminate: eval-set n-grams broadcast (corpus side never shuffles text)") {
    val p = plan("text_decontaminate")
    assert(p.contains("BroadcastHashJoin"),
      s"eval grams must broadcast — a shuffled join ships the corpus grams:\n$p")
    assert(p.contains("partial_count"),
      s"hit counting must partial-aggregate map-side:\n$p")
  }

  test("dedup_incremental: digest anti-join, no document text in the exchange") {
    val p = plan("dedup_incremental")
    assert(p.contains("LeftAnti"), s"corpus screening must plan an anti-join:\n$p")
    // the exchange carries (digest, id) — never the document body
    val exchangeLines = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    assert(!exchangeLines.contains("text#"),
      s"anti-join exchange must carry digests, not text:\n$exchangeLines")
  }

  test("corpus_filter and text_pii: single narrow pass, zero exchanges") {
    for (name <- Seq("corpus_filter", "text_pii")) {
      val p = plan(name)
      assert(!p.contains("Exchange"),
        s"$name is per-row scoring — any shuffle is a regression:\n$p")
      // executedPlan.toString marks whole-stage-codegen spans as "*(n)"
      assert(p.contains("*("), s"$name fell out of codegen entirely:\n$p")
    }
  }

  test("mixture, classifier, embedding sketch: narrow scan-speed passes, zero exchanges") {
    for (name <- Seq("corpus_mixture", "text_classifier", "embed_project")) {
      val p = plan(name)
      assert(!p.contains("Exchange"),
        s"$name must stream at scan speed — any shuffle is a regression:\n$p")
      assert(p.contains("*("), s"$name fell out of codegen entirely:\n$p")
    }
  }

  test("winnowPairs: blocked equi-joins only — no nested-loop, no text in exchanges") {
    val p = plan("dedup_winnow_pairs")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"candidate generation must be fp-blocked, never all-pairs:\n$p")
    val exchangeLines = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    assert(!exchangeLines.contains("text#"),
      s"pair exchanges must carry (fp, id), not document text:\n$exchangeLines")
    assert(p.contains("partial_count"),
      s"shared-fp counting must partial-aggregate map-side:\n$p")
  }

  test("bpe pairs: one codegen'd gram pass, partial-agg, top-k not full sort") {
    val p = plan("corpus_bpe_pairs")
    assert(p.contains("graft_word_grams"), s"pair source must be the native expression:\n$p")
    assert(p.contains("partial_count"), s"pair counting must partial-aggregate:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-k degenerated to a global sort:\n$p")
  }

  test("oovStats: no exchange carries text; common set broadcast, never re-shuffled") {
    val p = plan("text_oov")
    val exchangeLines = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    assert(!exchangeLines.contains("text#"),
      s"oov shuffles must carry (id, token) rows, not text:\n$exchangeLines")
    assert(p.contains("partial_count"),
      s"per-doc counting must partial-aggregate before the exchange:\n$p")
    // the bounded common-token set joins the instance stream as a broadcast
    // hash join — the instance table is never re-shuffled on token
    assert(p.contains("BroadcastHashJoin"),
      s"common-set membership must be a broadcast join:\n$p")
    // scope to token-keyed joins: the final per-doc agg legitimately
    // re-joins docs on doc_id and may sort-merge there
    val smjTok = p.linesIterator
      .filter(l => l.contains("SortMergeJoin") && l.contains("tok#")).mkString("\n")
    assert(smjTok.isEmpty,
      s"instance rows must never sort-merge against the common set:\n$smjTok")
  }

  test("unigram LM: no exchange carries text; hot tokens broadcast; map-side partials") {
    val p = plan("text_unigram_lp")
    val ex = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    assert(!ex.contains("text#"),
      s"unigram shuffles must carry (id, token) rows, not text:\n$ex")
    assert(p.contains("BroadcastHashJoin"),
      s"the bounded hot-token set must broadcast-join the instance stream:\n$p")
    assert(p.contains("partial_count"),
      s"token counting must partial-aggregate before the exchange:\n$p")
  }

  test("knn classify: broadcast query side, group-limit k-cut, vectors never shuffle") {
    val p = plan("embed_knn_classify")
    assert(p.contains("WindowGroupLimit"),
      s"per-query k-cut must group-limit before the exchange:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the scan is a broadcast of the tiny query table, never a sorted shuffle:\n$p")
    val ex = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    assert(!ex.contains("embedding#") && !ex.contains("cv#") && !ex.contains("qv#"),
      s"the vote must shuffle (query_id, label, cos) rows, not vectors:\n$ex")
  }

  test("containment: candidate blocking is df-capped; no exchange carries text") {
    // r16: the operator is checkpoint-choreographed — assert over every
    // executed sub-plan, not the returned materialized frame
    val ps = executedPlans("dedup_containment")
    assert(ps.size >= 3,
      s"expected the checkpoint sub-jobs to be captured, got ${ps.size}")
    val ex = ps.flatMap(_.linesIterator).filter(_.contains("Exchange"))
      .mkString("\n")
    assert(!ex.contains("text#"),
      s"containment shuffles carry (id, shingle) rows, not text:\n$ex")
    assert(ps.exists(_.contains("partial_count")),
      "df/intersection counts must partial-aggregate")
    // the df cap itself (r17, VERDICT r16 #1): the hot-group filter is a
    // count WINDOW that runs BEFORE collect_list in the same plan — an
    // over-cap group is dropped as plain rows and never materializes its
    // posting list in one aggregation buffer
    val blocking = ps.find(_.contains("collect_list")).getOrElse(
      fail("df-capped posting-list blocking missing from the executed plans"))
    assert(blocking.contains("Window"),
      s"hot-group cap must be a count window ahead of collect_list:\n$blocking")
    val winAt = blocking.linesIterator.indexWhere(_.contains("Window"))
    val aggAt = blocking.linesIterator.indexWhere(_.contains("collect_list"))
    // executedPlan.toString prints consumers above producers: the window
    // (producer of the cap filter) must appear BELOW the collect aggregate
    assert(winAt > aggAt && aggAt >= 0,
      s"count window must feed (sit below) the collect_list aggregate:\n$blocking")
  }

  test("incremental near-dup: the corpus-side cap is a count window; " +
    "each side's minhash bands are evaluated once") {
    // checkpoint-choreographed (candidates, then the verified result):
    // assert over the executed sub-plans, final sections only
    val ps = executedPlans("dedup_incremental_near").map(finalSection)
    val blocking = ps.filter(_.contains("graft_minhash_bands"))
    assert(blocking.size == 1,
      s"one sub-plan should block on band buckets:\n${ps.mkString("\n----\n")}")
    val p = blocking.head
    assert(p.contains("Window"),
      s"the corpus-side bucket cap must be a count window:\n$p")
    val evals = p.linesIterator.count(_.contains("graft_minhash_bands"))
    assert(evals == 2,
      s"band buckets must be evaluated once per side (batch, corpus), got $evals:\n$p")
  }

  test("pq ANN tiers: code-only scan exchanges, pre-shuffle top-k, equi-join probe") {
    val pq = plan("ann_pq_topk")
    assert(pq.contains("WindowGroupLimit"),
      s"per-query top-k must group-limit before the exchange:\n$pq")
    assert(!pq.contains("SortMergeJoin"),
      s"the code scan is a broadcast of the tiny query table, never a sorted shuffle:\n$pq")
    // the ranking exchange carries (query_id, neighbor_id, adc) — codes,
    // never corpus float vectors
    val ex = pq.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    assert(!ex.contains("embedding#"),
      s"ADC ranking must shuffle scores, not vectors:\n$ex")
    val ivfpq = plan("ann_ivfpq_topk")
    assert(ivfpq.contains("BroadcastHashJoin"),
      s"the probe must be an equi-join on cid (broadcast probes):\n$ivfpq")
    assert(ivfpq.contains("WindowGroupLimit"), s"top-k degenerated:\n$ivfpq")
  }

  test("trained IVF: search leg keeps the fixed-quantizer shape (broadcast " +
    "probe join, corpus vectors never shuffle)") {
    // the Lloyd training loop runs before this plan is built (its state
    // is a broadcast-sized means table); the SEARCH plan must look
    // exactly like the fixed-quantizer tier's — an equi-join on cid with
    // the probe side broadcast, pre-shuffle top-k, and no corpus
    // embedding arrays in any exchange
    val p = plan("ann_ivf_trained_topk")
    assert(p.contains("BroadcastHashJoin"),
      s"probe must broadcast into the cid-blocked corpus:\n$p")
    assert(p.contains("WindowGroupLimit"), s"top-k degenerated:\n$p")
    val ex = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    assert(!ex.contains("embedding#"),
      s"ranking must shuffle scores, never corpus vectors:\n$ex")
  }

  test("corpus_mixture: the keep predicate reaches the scan as a data filter") {
    val p = plan("corpus_mixture")
    // the Bernoulli test is a Filter over the scan output (not post-agg),
    // and the scan reads only the columns the operator needs
    assert(p.contains("Filter"), s"mixture keep-test missing from plan:\n$p")
    assert(p.contains("ReadSchema") && !p.contains("n_chars"),
      s"scan reads unused document columns:\n$p")
  }

  test("duplicatedSpans: one aggregate pass over bounded span keys, no joins") {
    val p = plan("dedup_substring_spans")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"span counting is a pure groupBy — any join is a regression:\n$p")
    assert(p.contains("partial_count"),
      s"occurrence counting must partial-aggregate map-side:\n$p")
    // the exchange key is the k-token span, never the document body
    val ex = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    assert(!ex.contains("text#"),
      s"span exchanges carry spans (bounded k tokens), not text:\n$ex")
  }

  test("corpus_zorder: the layout key is a pure narrow pass, zero exchanges") {
    val p = plan("corpus_zorder")
    assert(!p.contains("Exchange"),
      s"the Morton key is per-row bit arithmetic — any shuffle is a regression:\n$p")
    assert(p.contains("*("), s"zorder fell out of codegen entirely:\n$p")
  }

  test("event_rate_sliding: map-side window expansion + partial agg, no join") {
    val p = plan("event_rate_sliding")
    assert(!p.contains("Join"),
      s"window assignment must be a generator, not a join against a window table:\n$p")
    assert(p.contains("partial_count"),
      s"per-window counts must partial-aggregate before the exchange:\n$p")
  }

  test("pivot: explicit values avoid the distinct-values job; both aggs partial") {
    val p = plan("q14_pivot")
    // declared value list → no Expand and no eager collect of distinct
    // priorities; the plan is group-compress (status, priority) then
    // pivotfirst per status — the second exchange carries one row per
    // (status, priority) group, not source rows
    assert(!p.contains("Expand"),
      s"pivot with a declared value list must not expand rows:\n$p")
    assert(p.contains("partial_sum") && p.contains("partial_pivotfirst"),
      s"both pivot aggregates must combine map-side:\n$p")
    assert("Exchange".r.findAllIn(p).length == 2,
      s"pivot is two keyed aggregates — extra exchanges are a regression:\n$p")
  }

  test("window family: both sort orders share ONE customer exchange") {
    val p = plan("q16_window_funcs")
    // time-ordered (lag/lead/seq) and price-ordered (rank/ntile/dist)
    // windows partition on the same key: re-sorting is fine, re-shuffling
    // is a regression
    assert("Exchange".r.findAllIn(p).length == 1,
      s"two sort orders over one partition key need exactly one exchange:\n$p")
    assert(p.contains("Window"), s"window operators missing:\n$p")
  }

  test("graph degree: corpus count folds in as broadcast agg, no text shuffles") {
    // r16: eager (tiny histogram checkpoint) — assert over the executed
    // sub-plans, final sections only (the initial-plan copies an executed
    // AdaptiveSparkPlan prints would double-count operators)
    val ps = executedPlans("dedup_graph_degree").map(finalSection)
    assert(ps.size >= 2,
      s"expected the checkpoint sub-jobs to be captured, got ${ps.size}")
    val ex = ps.flatMap(_.linesIterator).filter(_.contains("Exchange"))
      .mkString("\n")
    assert(!ex.contains("text#"),
      s"degree exchanges carry ids and degrees, never text:\n$ex")
    assert(ps.exists(_.contains("partial_count")),
      "degree counting must partial-aggregate map-side")
    assert(ps.map(p => p.linesIterator.count(_.contains("CartesianProduct"))).sum <= 1,
      s"only the 1x1 zero-row cross join may be non-equi:\n${ps.mkString("\n----\n")}")
  }

  test("props JSON: schema-declared parse in a single agg pass, no extra exchange") {
    val p = plan("event_props_json")
    assert(p.contains("from_json"), s"parse must be the declared-schema path:\n$p")
    assert(p.contains("partial_count"),
      s"per-type stats must partial-aggregate map-side:\n$p")
    assert("Exchange".r.findAllIn(p).length == 1,
      s"one keyed exchange for the type rollup:\n$p")
  }

  test("rate anomaly: per-type stats broadcast back; no window-table join") {
    val p = plan("event_rate_anomaly")
    assert(p.contains("BroadcastHashJoin"),
      s"the tiny per-type stats table must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"joining window counts to per-type stats must never sort-merge:\n$p")
  }

  test("session paths: one user-keyed collect, top-k never global-sorts") {
    val p = plan("session_paths")
    assert(p.contains("TakeOrderedAndProject"),
      s"path top-k degenerated to a full sort:\n$p")
    val ex = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    assert(!ex.contains("props#") && !ex.contains("value#"),
      s"path mining shuffles (user, ts, type) rows only:\n$ex")
  }

  test("session stats: ONE user-keyed exchange; the rollup reuses the " +
    "window's partitioning (user ⊂ (user, session_seq))") {
    val p = plan("session_stats")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(shuffles == 1,
      s"sessionize + rollup must share a single user-keyed shuffle, got $shuffles:\n$p")
  }

  test("budget select: the cumsum window is bucket-partitioned, never global") {
    val p = plan("corpus_budget_select")
    assert(p.contains("Exchange hashpartitioning(_b"),
      s"prefix-sum window must partition by score bucket:\n$p")
    // the only SinglePartition exchange allowed is the 1-row min/max agg
    val sp = "Exchange SinglePartition".r.findAllIn(p).length
    assert(sp <= 1, s"unexpected single-partition exchanges ($sp):\n$p")
  }

  test("q21: ONE lineitem scan (window reformulation, not aggregate self-join)") {
    val p = plan("q21_waiting_supplier")
    val liScans = "FileScan parquet \\[l_orderkey".r.findAllIn(p).length
    assert(liScans == 1,
      s"waiting-supplier must scan lineitem once, got $liScans:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"orders (status-filtered) and supplier must broadcast:\n$p")
  }

  test("q18: the HAVING-filtered aggregate broadcasts into the join-back") {
    val p = plan("q18_large_orders")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      s"both the dimension and the filtered-agg sides must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"no side of q18 warrants a sorted shuffle at this shape:\n$p")
  }

  test("span removal: rebuild join broadcasts cuts; no text or token arrays shuffle") {
    val p = plan("dedup_span_removal")
    val ex = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    assert(!ex.contains("text#") && !ex.contains("_tk#"),
      s"document bodies must only ride the broadcast rebuild join:\n$ex")
    assert(p.contains("BroadcastHashJoin"),
      s"the bounded cut-list side must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"no all-pairs anywhere:\n$p")
  }

  test("cube: all grouping sets share one Expand + one partial aggregate") {
    val p = plan("q15_cube")
    assert(p.contains("Expand"), s"CUBE must plan via Expand:\n$p")
    assert(p.contains("partial_count"),
      s"grouping sets must partial-aggregate before the exchange:\n$p")
    assert("Exchange".r.findAllIn(p).length == 1,
      s"CUBE is one keyed exchange over the expanded rows:\n$p")
  }

  test("range_join: bucketed equi-join on (bucket, user); never a nested loop") {
    // the whole point of the responsibility-bucket design: whatever join
    // strategy Catalyst picks at a given SF (broadcast here, sort-merge at
    // scale), the join must stay an EQUI join keyed on the time bucket +
    // user — a BETWEEN-only formulation degenerates to
    // BroadcastNestedLoopJoin and melts at 100 TB
    val p = plan("range_join")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"range join degenerated to a non-equi strategy:\n$p")
    val joinKeyed = p.linesIterator.exists(l =>
      l.contains("Join [") && l.contains("_b#") && l.contains("user_id#"))
    assert(joinKeyed, s"join keys must include the time bucket and user:\n$p")
    assert(p.contains("Generate explode"),
      s"interval side must expand to its covering buckets:\n$p")
    // the interval side reads only purchases — pushed to its scan
    assert(p.contains("EqualTo(event_type,purchase)"),
      s"purchase filter must reach the parquet scan:\n$p")
  }

  test("q17 intersect: semi-join with both status filters pushed; one exchange") {
    val p = plan("q17_intersect")
    assert(p.contains("LeftSemi"), s"INTERSECT must plan as a semi-join:\n$p")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"intersect degenerated:\n$p")
    for (status <- Seq("F", "O"))
      assert(p.contains(s"EqualTo(o_orderstatus,$status)"),
        s"status=$status filter must reach its parquet scan:\n$p")
    // distinct is ONE custkey exchange; the semi-join itself broadcasts
    // at this shape (two filtered projections of the same narrow column)
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"expected exactly the distinct's keyed exchange:\n$p")
  }

  test("edit verify: candidate leg pins its parallelism against AQE coalescing") {
    // candidate rows are two longs but each carries a banded-DP
    // Levenshtein downstream — AQE's size-based coalescing folded this
    // to ONE task (14 s serial at sf1) until the explicit repartition;
    // REPARTITION_BY_NUM is the coalescing-exempt marker that keeps it
    val p = plan("dedup_edit_verify")
    assert(p.contains("REPARTITION_BY_NUM"),
      s"verify leg must carry a user repartition (AQE-coalescing-exempt):\n$p")
    assert(p.contains("RoundRobinPartitioning(" +
        spark.sessionState.conf.numShufflePartitions + ")"),
      s"verify leg must fan out to the configured parallelism:\n$p")
    // the reject path (join residual, where almost every candidate pair
    // dies) must run the threshold-DP exactly ONCE — the duplicated-
    // bound formulation this guards against ran it twice per rejected
    // pair. A second evaluation in the output Project touches only the
    // few surviving near-dup pairs, which is the right trade.
    val residualEvals = p.linesIterator
      .filter(l => l.contains("Join ") && l.contains("levenshtein"))
      .map(l => "levenshtein".r.findAllIn(l).length).toSeq
    assert(residualEvals == Seq(1),
      s"reject path must evaluate threshold-levenshtein exactly once:\n$p")
  }

  test("corpus_chunk: map-only pipeline, zero exchanges") {
    val p = plan("corpus_chunk")
    assert(!p.contains("Exchange"),
      s"chunking is tokenize→grid→slice per row — any shuffle is a regression:\n$p")
    assert(p.contains("Generate explode"),
      s"the stride grid must expand via a generator:\n$p")
  }

  test("text_bm25: stats broadcast back, no token explode, no text in exchanges") {
    val p = plan("text_bm25")
    // the 1-row corpus-stats aggregate must come back as a broadcast
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"1-row stats must crossJoin via broadcast:\n$p")
    assert(!p.contains("Generate explode"),
      s"per-term tf is an array filter — a token explode shuffles the corpus:\n$p")
    val exchangeLines = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    assert(!exchangeLines.contains("text#") && !exchangeLines.contains("_tk#"),
      s"exchanges must carry counters only, never text/tokens:\n$exchangeLines")
  }

  test("heavy hitters: probe filter runs before the exact-count exchange") {
    val p = plan("sketch_heavy_hitters")
    // the returned plan is phase 2: the count-min probe is a literal-array
    // lookup filter — no join against a sketch table
    assert(!p.contains("Join"), s"the sketch probe must be a lookup, not a join:\n$p")
    assert(p.contains("partial_count"),
      s"exact count must partial-aggregate map-side:\n$p")
    // the exchange carries (tok, partial count) of candidates only — the
    // CM-probe filter (the least-of-element_at lookup) must sit below it
    // (map side), not above
    val lines = p.linesIterator.toSeq
    val exchangeIdx = lines.indexWhere(_.contains("Exchange hashpartitioning"))
    val probeIdx = lines.indexWhere(l =>
      l.contains("Filter") && l.contains("least(") && l.contains("element_at"))
    assert(exchangeIdx >= 0 && probeIdx > exchangeIdx,
      s"probe filter must be below the exchange (map side):\n$p")
  }

  test("session_attribution: both window passes share one user exchange") {
    val p = plan("session_attribution")
    val userExchanges = p.linesIterator
      .filter(l => l.contains("Exchange hashpartitioning") && l.contains("user_id#"))
      .length
    assert(userExchanges == 1,
      s"first- and last-touch windows must reuse the same user partitioning:\n$p")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"the lookback must be a window, not an inequality join:\n$p")
  }

  test("graph_pagerank: result is a materialized checkpoint (edges run once)") {
    // the op localCheckpoints the edge table and the result: the returned
    // plan must be a lineage-free RDD scan — a live iterative lineage
    // would re-run the LSH pair pipeline once per iteration downstream
    val p = plan("graph_pagerank")
    assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"),
      s"pageRank result must be checkpoint-materialized:\n$p")
    assert(!p.contains("Exchange"),
      s"consuming the rank table must not re-shuffle anything:\n$p")
  }
}
