package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Decontamination, PII redaction, and incremental dedup — synthetic
  * fixtures with known answers (the oracle gate covers the parquet
  * corpus; these pin the operator semantics directly).
  */
class PipelineOpsSpec extends SparkSpec {
  import spark.implicits._

  test("decontaminate: flags docs sharing >= minHits n-grams with the eval set") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"), // contains eval 5-gram
      (2L, "completely unrelated text with no overlap at all"),
      (3L, "quick brown fox jumps over and over again"), // shares one 5-gram
      (4L, "short doc")                                   // < n tokens: no grams
    ).toDF("doc_id", "text")
    val eval_ = Seq((100L, "the quick brown fox jumps over me")).toDF("doc_id", "text")

    val hits = TextOps.decontaminate(docs, eval_, n = 5, minHits = 1)
      .as[(Long, Long)].collect().toMap
    // doc 1 shares "the quick brown fox jumps" + "quick brown fox jumps over";
    // doc 3 shares only "quick brown fox jumps over"
    assert(hits == Map(1L -> 2L, 3L -> 1L))

    val strict = TextOps.decontaminate(docs, eval_, n = 5, minHits = 2)
      .as[(Long, Long)].collect().toMap
    assert(strict == Map(1L -> 2L))
  }

  test("decontaminate: n-gram hits are distinct per doc (repetition does not inflate)") {
    val docs = Seq((1L, "a b c a b c a b c")).toDF("doc_id", "text")
    val eval_ = Seq((9L, "a b c")).toDF("doc_id", "text")
    val hits = TextOps.decontaminate(docs, eval_, n = 3, minHits = 1)
      .as[(Long, Long)].collect().toMap
    // "a b c" occurs 3x in doc 1 but is ONE distinct contaminated gram
    assert(hits == Map(1L -> 1L))
  }

  test("piiRedact: counts and redacts emails, IPs, and long digit runs") {
    val docs = Seq(
      (1L, "mail a.user+tag@sub.example.org or admin@x.io from 192.168.0.1 acct 12345678"),
      (2L, "no pii here, just 123 and 1.2 numbers"),
      (3L, "v4 10.0.0.255 twice 10.0.0.254 and phone 5551234567")
    ).toDF("doc_id", "text")
    val out = TextOps.piiRedact(docs).collect().map(r =>
      r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap

    assert(out(1L)._1 == 2 && out(1L)._2 == 1 && out(1L)._3 == 1)
    assert(out(1L)._4 == "mail <EMAIL> or <EMAIL> from <IP> acct <NUM>")
    assert(out(2L) == ((0L, 0L, 0L, "no pii here, just 123 and 1.2 numbers")))
    assert(out(3L)._2 == 2 && out(3L)._3 == 1)
    assert(out(3L)._4 == "v4 <IP> twice <IP> and phone <NUM>")
  }

  test("piiRedact: IP octets are not double-counted as digit runs") {
    val docs = Seq((1L, "ip 10.20.30.40 end")).toDF("doc_id", "text")
    val r = TextOps.piiRedact(docs).collect().head
    assert(r.getLong(2) == 1 && r.getLong(3) == 0) // 1 IP, 0 bare digit runs
  }

  test("incremental: batch dedups internally then anti-joins corpus digests") {
    val corpus = Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "alpha"),  // already in corpus → dropped
      (11L, "gamma"),  // new, first copy
      (12L, "gamma"),  // within-batch duplicate → collapsed into 11
      (13L, "delta")   // new
    ).toDF("doc_id", "text")
    val kept = DedupOps.incremental(batch, corpus)
      .select(col("doc_id")).as[Long].collect().sorted
    assert(kept.sameElements(Array(11L, 13L)))
  }

  test("corpusFilter: each rule fires independently and keep = no flag") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today fine"), // clean
      (2L, "tiny"),                                                    // f_short
      (3L, "aa " * 40 + "aa"),                                         // f_low_distinct + f_word_len
      (4L, "the antidisestablishmentarianism of extraordinarily incomprehensible " +
        "internationalization considerations notwithstanding hereinafter whereupon"), // f_word_len
      (5L, "visit www.spam.example now for the greatest deals around here") // f_web
    ).toDF("doc_id", "text")
    val out = TextOps.corpusFilter(docs, minTokens = 5L, maxTokens = 100L,
      minAvgLen = 3.0, maxAvgLen = 8.0, minDistinctRatio = 0.5,
      minStopRatio = 0.0, maxWebMarks = 0L)
      .collect().map(r => r.getLong(0) -> r).toMap
    def flags(id: Long): Seq[String] =
      Seq("f_short", "f_long", "f_word_len", "f_low_distinct", "f_web")
        .filter(f => out(id).getBoolean(out(id).fieldIndex(f)))
    assert(out(1L).getBoolean(out(1L).fieldIndex("keep")))
    assert(flags(2L) == Seq("f_short"))
    assert(flags(3L) == Seq("f_word_len", "f_low_distinct"))
    assert(flags(4L) == Seq("f_word_len"))
    assert(flags(5L) == Seq("f_web"))
    assert(Seq(2L, 3L, 4L, 5L).forall(id => !out(id).getBoolean(out(id).fieldIndex("keep"))))
  }

  test("incrementalNearLsh: flags batch docs near-duplicating the corpus, across sides only") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight nine ten")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta iota"),  // near-dup of 1
      (11L, "completely different content in every single position"),
      (12L, "alpha beta gamma delta epsilon zeta eta iota")   // near-dup of 1 too
    ).toDF("doc_id", "text")
    // a cap of the corpus size (2) is above every corpus bucket
    val pairs = DedupOps.incrementalNearLsh(batch, corpus, threshold = 0.5,
        maxBucket = 2)
      .select(col("batch_id"), col("corpus_id")).as[(Long, Long)].collect().toSet
    assert(pairs == Set((10L, 1L), (12L, 1L)))
    // batch docs 10 and 12 are identical to each other — but within-side
    // pairs must NOT appear (that's minhashLsh's job, not the cross join)
    assert(!pairs.exists(p => p._1 >= 10 && p._2 >= 10))
  }

  test("incrementalBloom is row-identical to incremental on the real corpus") {
    val docs = graft.Tables(spark, sf, "documents")
    val batch = docs.filter(col("doc_id") % 3 === 0)
    val corpus = docs.filter(col("doc_id") % 10 < 8)
    val exact = DedupOps.incremental(batch, corpus)
      .as[(Long, String)].collect().toSet
    // tiny filter (64 bits) forces a high false-positive rate: the exact
    // verification of might-contain hits must still erase every FP
    for (items <- Seq(100000L, 1L)) {
      val got = DedupOps.incrementalBloom(batch, corpus, expectedItems = items)
        .as[(Long, String)].collect().toSet
      assert(got == exact, s"expectedItems=$items diverged")
    }
  }

  test("incrementalBloom: empty corpus keeps the whole deduped batch (null filter)") {
    val batch = Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("doc_id", "text")
    val corpus = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val out = DedupOps.incrementalBloom(batch, corpus).as[(Long, String)].collect()
    assert(out.map(_._1).sorted.toSeq == Seq(1L, 2L))
  }

  test("incremental: empty corpus keeps the whole deduped batch") {
    val corpus = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val batch = Seq((1L, "x"), (2L, "x"), (3L, "y")).toDF("doc_id", "text")
    val kept = DedupOps.incremental(batch, corpus)
      .select(col("doc_id")).as[Long].collect().sorted
    assert(kept.sameElements(Array(1L, 3L)))
  }

  test("selectByBudget: quality-first prefix, exact cutoff, id tie-break") {
    // scores force the order 4, 2, 1, 3; budget 25 cuts inside doc 1
    val docs = Seq(
      (1L, 1.0, 10L), (2L, 2.0, 10L), (3L, 0.5, 10L), (4L, 3.0, 5L)
    ).toDF("doc_id", "score", "n_tokens")
    val got = CorpusOps.selectByBudget(docs, budget = 25L, nBuckets = 4)
      .as[(Long, Long, Double, Long)].collect().sortBy(_._4)
    assert(got.map(_._1).toSeq == Seq(4L, 2L, 1L))
    assert(got.map(_._4).toSeq == Seq(5L, 15L, 25L)) // exact boundary kept
  }

  test("selectByBudget: equal scores fall into one bucket and break ties by id") {
    val docs = (1L to 6L).map(i => (i, 1.5, 10L)).toDF("doc_id", "score", "n_tokens")
    val got = CorpusOps.selectByBudget(docs, budget = 35L, nBuckets = 8)
      .as[(Long, Long, Double, Long)].collect().sortBy(_._4)
    assert(got.map(_._1).toSeq == Seq(1L, 2L, 3L)) // 3 fit under 35 tokens
    assert(CorpusOps.selectByBudget(docs, budget = 0L).count() == 0)
  }

  test("selectByBudget: NULL and NaN scores are rejected before any heavy job") {
    val withNull = Seq((1L, Some(1.0), 10L), (2L, None, 10L))
      .toDF("doc_id", "score", "n_tokens")
    val e1 = intercept[IllegalArgumentException] {
      CorpusOps.selectByBudget(withNull, budget = 100L)
    }
    assert(e1.getMessage.contains("non-null"))
    val withNan = Seq((1L, 1.0, 10L), (2L, Double.NaN, 10L))
      .toDF("doc_id", "score", "n_tokens")
    val e2 = intercept[IllegalArgumentException] {
      CorpusOps.selectByBudget(withNan, budget = 100L)
    }
    assert(e2.getMessage.contains("NaN"))
  }

  test("selectByBudget: empty input yields an empty result, not a failure") {
    val docs = Seq.empty[(Long, Double, Long)].toDF("doc_id", "score", "n_tokens")
    val out = CorpusOps.selectByBudget(docs, budget = 100L)
    assert(out.count() == 0)
    assert(out.columns.toSeq == Seq("doc_id", "n_tokens", "score", "cum_tokens"))
  }
}
