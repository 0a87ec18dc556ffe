package graft.queries

import graft.{Bench, SparkEntry}
import org.scalatest.funsuite.AnyFunSuite

/** Pins the registry's derived views (`SparkEntry.queries`,
  * `SparkEntry.oracleSql`, `Bench.headline`) to the hand-kept lists they
  * replaced. No Spark session: only names and SQL text are compared. */
class QueryRegistrySpec extends AnyFunSuite {

  /** Every query with a SHA-256 prefix of its oracle SQL, benched ones in
    * the headline order the hand-kept list had (families interleaved),
    * then the three specs that are not benched. */
  private val pinned: Seq[(String, String)] = Seq(
    "q1_pricing_summary" -> "4991b175da74d623",
    "q2_part_supplier" -> "1b3903cfd6b31905",
    "q3_top_orders" -> "26c18209aa2663d8",
    "q5_region_revenue" -> "5a75426ea278c8cb",
    "q4_exists_orders" -> "d8191e79861a496b",
    "q7_window_running" -> "b99df20f56bd494f",
    "q8_rollup_revenue" -> "b7d179e6c8e69011",
    "q9_distinct_agg" -> "7ae355fc67dda723",
    "q10_except" -> "c97f5547c965e9d4",
    "q11_topk_per_group" -> "1ca01bd22a18b157",
    "q12_correlated_avg" -> "d85f7e8a538bcaa9",
    "q13_disjunctive" -> "1c49c61744640098",
    "s3_snapshot_sign" -> "0071555e1b20a126",
    "t2_filter_tables" -> "4ef138bc929d1fe7",
    "t3_filter_dml" -> "81bdceb3dd0dc619",
    "t4_split_updates" -> "1ad217c0d187d1bd",
    "t6_normalize" -> "a6efd22357a32548",
    "t7_decimal_stringify" -> "b3baccfaa074668c",
    "a1_microbatch" -> "1e54710ed388dfa6",
    "a2_dedup_pk" -> "41a26484342e47da",
    "a2_dedup_pk_salted" -> "41a26484342e47da",
    "a3_sign_collapse" -> "779f488e8356d218",
    "a4_apply_order" -> "f4145d26ad7c84a2",
    "a5_count_check" -> "61cfc9d458b5b9bc",
    "engine_mergetree" -> "c1ddd5f1b84f75b4",
    "engine_replacing" -> "c1ddd5f1b84f75b4",
    "engine_collapsing" -> "7aebc002557e0cbd",
    "engine_versioned_collapsing" -> "0762300033884b83",
    "engine_replacing_compact" -> "c1ddd5f1b84f75b4",
    "engine_versioned_collapsing_compact" -> "0762300033884b83",
    "dedup_exact" -> "9a5f87dc612ca17f",
    "dedup_exact_digest" -> "9a5f87dc612ca17f",
    "dedup_minhash_sig" -> "70cdde6b29a0cbf8",
    "dedup_minhash_pairs" -> "9fed63c76b3143cc",
    "dedup_simhash" -> "0b4f34c25f73e11c",
    "dedup_embedding" -> "150c66ffd2fc6ae1",
    "dedup_embedding_lsh" -> "bf806caec0c1ae7c",
    "ann_topk" -> "6ccf9f3d422bd6c9",
    "ann_lsh_topk" -> "be63a4cdca30fe85",
    "ann_ivf_topk" -> "19c81b4d00a7b262",
    "ann_pq_topk" -> "5ff12a75c45c632d",
    "ann_ivfpq_topk" -> "345154cd9b0f6e4d",
    "text_langid" -> "bc9415dccc2e2090",
    "text_quality" -> "529e04733136e037",
    "text_tokens" -> "709dfc658c3163bc",
    "text_fingerprint" -> "08f993d0e03add06",
    "text_tfidf" -> "27393ae4e57055ab",
    "split_assign" -> "393997e985ab7d8c",
    "text_boilerplate" -> "6dab4ad67ee8a026",
    "text_winnow" -> "e660af15d1d96ae1",
    "text_webmarks" -> "99834cb2800f2a86",
    "corpus_vocab" -> "4663fe53a518386b",
    "session_stats" -> "c25e58b3ad30bfd4",
    "multimodal_meta" -> "f79078f3bdb4c1eb",
    "dedup_components" -> "4ea0fb74037351ff",
    "dedup_keep_one" -> "64c35f3d5919d51a",
    "asof_join" -> "62c4bd890d70a889",
    "asof_join_forward" -> "7eb3a2e115810b16",
    "asof_join_nearest" -> "26cf69cc4b0b054b",
    "range_join" -> "62e8b8d3bbeac2c1",
    "sample_stratified" -> "41aa91be44244c1d",
    "corpus_quantiles" -> "2fae4bdc36ca867a",
    "corpus_pack" -> "18e32fe1bb84902a",
    "text_repetition" -> "a74df1f557d8a014",
    "text_decontaminate" -> "ff9a870f980856df",
    "text_pii" -> "79fa6a2a2db25cc1",
    "dedup_incremental" -> "f4c01bb032bb34bd",
    "corpus_filter" -> "2527575358fba8a4",
    "dedup_incremental_near" -> "e96167d41c939cb7",
    "corpus_mixture" -> "ccf5c440de33651f",
    "text_classifier" -> "dc1d9cc8be0b9716",
    "embed_project" -> "bb430439a4347d57",
    "dedup_incremental_bloom" -> "f4c01bb032bb34bd",
    "corpus_bpe_pairs" -> "644d5c594e4431c7",
    "corpus_bpe_learn100" -> "7783d92d1a24079a",
    "embed_centroids" -> "0540e0e72ef0b85e",
    "dedup_winnow_pairs" -> "0e4ea6a6ffbf896f",
    "multimodal_frames" -> "a4faba7b9fcc4809",
    "text_oov" -> "3f3e121a2fdcfd15",
    "embed_quantize" -> "26e82ba17a084687",
    "dedup_semantic" -> "718a1c800a0ef825",
    "text_unigram_lp" -> "f3f4b20651fdec67",
    "embed_knn_classify" -> "406f7e8730d2ad86",
    "dedup_containment" -> "932bb6a2a8e89314",
    "session_funnel" -> "fa8cd2b86daf720f",
    "session_retention" -> "3889f3483974930f",
    "q14_pivot" -> "a83c699d6cc54983",
    "q15_cube" -> "4bc7f375925d90eb",
    "dedup_substring_spans" -> "76a0d12b9a9dbd58",
    "corpus_zorder" -> "82a8f04c303196ff",
    "event_rate_sliding" -> "0412bd5c9305d444",
    "q16_window_funcs" -> "916f6c5c7ae1953c",
    "q17_intersect" -> "5be95bb82fcf9a8f",
    "dedup_graph_degree" -> "2cbb97c5e50db128",
    "asof_join_tolerance" -> "219f1dce0cae4fd9",
    "text_entropy" -> "7c76533c386fb94c",
    "event_rate_anomaly" -> "3291bf0c03b21c35",
    "session_paths" -> "69025c410318e09c",
    "event_props_json" -> "c5338a023b8c7052",
    "corpus_ccnet_buckets" -> "8eb85fca0cb23d75",
    "dedup_span_removal" -> "538b8e0953fa8658",
    "multimodal_features" -> "46c13ea25423a5b8",
    "q6_forecast_revenue" -> "fa12e134adcdec48",
    "q18_large_orders" -> "c5c2d8f4225e596c",
    "q19_anti_join" -> "374b4b2c0dfc28f8",
    "interval_join" -> "2d885cb0c307558b",
    "sketch_hll_users" -> "e3c99b02d7a95c64",
    "sketch_cm_counts" -> "6bac9a087249dc09",
    "sketch_hist_quantiles" -> "60a50fc441b5d4e6",
    "multimodal_resize" -> "48fbea5ab45fe5b5",
    "text_bigram_lp" -> "8bfaecf93545ed4b",
    "corpus_sample_weighted" -> "f0db9b9a4380cc33",
    "q20_above_avg" -> "a1ac01ad03173055",
    "q21_waiting_supplier" -> "9b7b05d17bba043d",
    "q22_idle_customers" -> "d172f5f6fa33415f",
    "dedup_paragraph" -> "11642d5564d625b4",
    "dedup_url_canonical" -> "81857240a466b654",
    "corpus_budget_select" -> "65ae861d849a360f",
    "dedup_edit_verify" -> "67d63acedf5a8ec0",
    "ann_ivf_trained_topk" -> "038c62eda665cc83",
    "multimodal_meta_codec" -> "ef41e933b7bedde4",
    "corpus_chunk" -> "daebeebe1d23a72c",
    "text_bm25" -> "3218bd613ccfcef0",
    "sketch_heavy_hitters" -> "dfaeae71181f0678",
    "session_attribution" -> "8083636c75b68598",
    "graph_pagerank" -> "04cfc94bb4362764",
    "envelope_wal2json" -> "83a20521a7ba8bae",
    "envelope_debezium" -> "49c5694db11c54aa",
    "ann_ivfpq_trained_topk" -> "47680d7e458029be",
    "ann_ivf_auto_topk" -> "330280c1dd86c596",
    "dedup_ngram_jaccard" -> "f75517b17c43cec9",
    "dedup_simhash_pairs" -> "e24081095f5aa571",
    "ann_ivf_auto_topk_half" -> "42427e1b62c38bae"
  )
  private val notBenched = Set("dedup_ngram_jaccard", "dedup_simhash_pairs", "ann_ivf_auto_topk_half")

  /** perfbench's `Suite.family` rule: the operator family of a query name. */
  private val families = Seq("q", "cdc", "engine", "dedup", "ann", "text", "corpus", "graph",
    "sketch", "session", "event", "embed", "multimodal", "join", "envelope")
  private def family(name: String): String = {
    val prefix = name.takeWhile(_ != '_')
    if (name.matches("q\\d+_.*")) "q"
    else if (name.matches("(s|t|a)\\d_.*")) "cdc"
    else if (name == "split_assign" || name == "sample_stratified") "corpus"
    else if (families.contains(prefix)) prefix
    else if (name.contains("join")) "join"
    else "other"
  }

  private def sha(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString.take(16)

  test("133 unique names; the registry refuses a repeated one") {
    val names = SparkEntry.specs.map(_.name)
    assert(names.size === 133)
    assert(names.distinct.size === names.size)
    val q = SparkEntry.specs.head
    val e = intercept[IllegalArgumentException](QuerySpec.registry(Seq(q), Seq(q)))
    assert(e.getMessage.contains(q.name))
  }

  test("queries and oracleSql are keyed by the same names") {
    assert(SparkEntry.queries.keySet === SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.keySet === pinned.map(_._1).toSet)
  }

  test("each oracle SQL text is byte-equal to the pinned one") {
    val changed = pinned.collect {
      case (n, d) if sha(SparkEntry.oracleSql(n)) != d => s"$n: now ${sha(SparkEntry.oracleSql(n))}"
    }
    assert(changed.isEmpty, changed.mkString("oracle SQL changed: ", "; ", ""))
  }

  test("the headline is every query but the three non-benched ones") {
    assert(SparkEntry.specs.filterNot(_.benched).map(_.name).toSet === notBenched)
    assert(Bench.headline.toSet === pinned.map(_._1).toSet -- notBenched)
    assert(Bench.headline.distinct.size === Bench.headline.size)
  }

  test("each family keeps its relative order in the headline") {
    val was = pinned.map(_._1).filterNot(notBenched)
    for (f <- families)
      assert(Bench.headline.filter(family(_) == f) === was.filter(family(_) == f), f)
  }

  test("each family file holds exactly one perfbench family") {
    val files = Seq(Q.specs -> "q", Cdc.specs -> "cdc", Engine.specs -> "engine",
      Dedup.specs -> "dedup", Ann.specs -> "ann", Text.specs -> "text", Corpus.specs -> "corpus",
      Session.specs -> "session", Multimodal.specs -> "multimodal", Join.specs -> "join",
      Embed.specs -> "embed", Event.specs -> "event", Sketch.specs -> "sketch",
      Graph.specs -> "graph", Envelope.specs -> "envelope")
    for ((specs, f) <- files) assert(specs.map(q => family(q.name)).toSet === Set(f))
    assert(files.map(_._1.size).sum === SparkEntry.specs.size)
  }

  test("perfbench's first query of each family, in order") {
    val first = Bench.headline.groupBy(family).values.map(_.head).toSet
    assert(Bench.headline.filter(first) === Seq("q1_pricing_summary", "s3_snapshot_sign",
      "engine_mergetree", "dedup_exact", "ann_topk", "text_langid", "split_assign",
      "session_stats", "multimodal_meta", "asof_join", "embed_project", "event_rate_sliding",
      "sketch_hll_users", "graph_pagerank", "envelope_wal2json"))
  }
}
