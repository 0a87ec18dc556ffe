package graft.queries

import graft.OracleSql
import graft.ops.{CorpusOps, TextOps}
import org.apache.spark.sql.functions._
import Shared.t

/** Per-document text operators: language id, quality and LM scores,
  * tokenization stats, fingerprints, PII redaction, decontamination, the
  * C4/Gopher keep/drop filter, chunking and BM25 search. */
object Text {

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("text_langid", (s, dir) =>
      TextOps.languageId(t(s, dir, "documents")), {
      s"""WITH ${OracleSql.toksCte(lower = true)},
         |sc AS (SELECT doc_id, ${OracleSql.langScores} FROM toks)
         |SELECT doc_id, ${OracleSql.langArgmax} AS guessed_lang,
         |       CAST(greatest(s_de, s_en, s_es, s_fr, s_zh) AS INT) AS score
         |FROM sc""".stripMargin
    }),

    QuerySpec("text_quality", (s, dir) =>
      TextOps.qualityScore(t(s, dir, "documents")), {
      s"""WITH base AS (SELECT doc_id, length(text) AS n_chars,
         |              ${OracleSql.tokens("lower(text)")} AS tk FROM documents),
         |m AS (SELECT doc_id, n_chars, len(tk) AS n_tokens,
         |      len(list_distinct(tk)) AS n_distinct,
         |      len(list_filter(tk, t -> list_contains(${OracleSql.allStopList}, t))) AS n_stop,
         |      list_reduce(list_prepend(CAST(0 AS BIGINT),
         |        list_transform(tk, t -> CAST(length(t) AS BIGINT))), (a, x) -> a + x) AS sum_len
         |      FROM base),
         |r AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
         |      CAST(n_tokens AS BIGINT) AS n_tokens,
         |      CAST(n_distinct AS BIGINT) AS n_distinct,
         |      CAST(n_stop AS BIGINT) AS n_stop,
         |      round(CAST(sum_len AS DOUBLE) / greatest(n_tokens, 1), 6) AS avg_token_len,
         |      round(CAST(n_distinct AS DOUBLE) / greatest(n_tokens, 1), 6) AS distinct_ratio,
         |      round(CAST(n_stop AS DOUBLE) / greatest(n_tokens, 1), 6) AS stopword_ratio
         |      FROM m)
         |SELECT doc_id, n_chars, n_tokens, n_distinct, n_stop, avg_token_len,
         |       distinct_ratio, stopword_ratio,
         |       round(least(CAST(n_tokens AS DOUBLE) / 50.0, 1.0) * 0.4
         |             + distinct_ratio * 0.4 + stopword_ratio * 0.2, 6) AS quality
         |FROM r""".stripMargin
    }),

    QuerySpec("text_tokens", (s, dir) =>
      TextOps.tokenCounts(t(s, dir, "documents")), {
      s"""WITH ${OracleSql.toksCte(lower = false)}
         |SELECT doc_id, CAST(len(tk) AS BIGINT) AS ws_tokens,
         |       list_reduce(list_prepend(CAST(0 AS BIGINT),
         |         list_transform(tk, t -> CAST(ceil(length(t) / 4.0) AS BIGINT))),
         |         (a, x) -> a + x) AS bpe_tokens
         |FROM toks""".stripMargin
    }),

    QuerySpec("text_fingerprint", (s, dir) =>
      TextOps.fingerprint(t(s, dir, "documents")), {
      s"""WITH ${OracleSql.toksCte(lower = true)}
         |SELECT doc_id, ${OracleSql.ph("array_to_string(tk, ' ')")} AS fingerprint
         |FROM toks""".stripMargin
    }),

    QuerySpec("text_tfidf", (s, dir) =>
      TextOps.tfidfTopTerms(t(s, dir, "documents"), k = 5), {
      s"""WITH raw AS (SELECT doc_id, unnest(${OracleSql.tokens("lower(text)")}) AS term FROM documents),
         |dist AS (SELECT DISTINCT doc_id, term FROM raw),
         |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM raw GROUP BY 1, 2),
         |dfreq AS (SELECT term, COUNT(*) AS df FROM dist GROUP BY 1),
         |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
         |scored AS (SELECT doc_id, term,
         |           CAST(tf AS DOUBLE) * (SELECT n FROM n) / df AS score
         |           FROM tf JOIN dfreq USING (term)),
         |r AS (SELECT doc_id, term, score,
         |      CAST(row_number() OVER (PARTITION BY doc_id
         |        ORDER BY score DESC, term ASC) AS INT) AS rank
         |      FROM scored)
         |SELECT doc_id, rank, term, round(score, 6) AS score
         |FROM r WHERE rank <= 5""".stripMargin
    }),

    // corpus-level boilerplate detection (fraction of shared n-grams)
    QuerySpec("text_boilerplate", (s, dir) =>
      CorpusOps.duplicatedNgramFraction(t(s, dir, "documents")), {
      s"""WITH ${OracleSql.toksCte(lower = false)},
         |sh AS (SELECT doc_id, list_distinct(${OracleSql.shingles(3)}) AS sh FROM toks),
         |inv AS (SELECT doc_id, unnest(sh) AS g FROM sh),
         |dfreq AS (SELECT g, COUNT(*) AS df FROM inv GROUP BY g),
         |per AS (SELECT i.doc_id, COUNT(*) AS n_grams,
         |        SUM(CASE WHEN f.df > 1 THEN 1 ELSE 0 END) AS n_dup
         |        FROM inv i JOIN dfreq f USING (g) GROUP BY i.doc_id)
         |SELECT d.doc_id,
         |       CAST(coalesce(p.n_grams, 0) AS BIGINT) AS n_grams,
         |       CAST(coalesce(p.n_dup, 0) AS BIGINT) AS n_dup,
         |       round(CAST(coalesce(p.n_dup, 0) AS DOUBLE)
         |             / greatest(coalesce(p.n_grams, 0), 1), 6) AS dup_fraction
         |FROM documents d LEFT JOIN per p ON d.doc_id = p.doc_id""".stripMargin
    }),

    // winnowing (MOSS) local fingerprints for passage-overlap detection
    QuerySpec("text_winnow", (s, dir) =>
      TextOps.winnowFingerprints(t(s, dir, "documents")), {
      s"""WITH ${OracleSql.toksCte(lower = true)},
         |h AS (SELECT doc_id,
         |        list_transform(${OracleSql.shingles(3)}, s -> ${OracleSql.ph("s")}) AS hs,
         |        greatest(len(tk) - 2, 0) AS m
         |      FROM toks),
         |w AS (SELECT doc_id,
         |        list_distinct(list_transform(range(1, greatest(m - 3, 0) + 1),
         |          i -> list_min(hs[CAST(i AS INT) : CAST(i AS INT) + 3]))) AS fps
         |      FROM h)
         |SELECT doc_id, unnest(fps) AS fp FROM w""".stripMargin
    }),

    // URL/email token detection (quality & PII-ish filtering)
    QuerySpec("text_webmarks", (s, dir) =>
      TextOps.webMarks(t(s, dir, "documents")), {
      s"""WITH ${OracleSql.toksCte(lower = true)}
         |SELECT doc_id,
         |  CAST(len(list_filter(tk, t -> starts_with(t, 'http://')
         |       OR starts_with(t, 'https://') OR starts_with(t, 'www.'))) AS BIGINT) AS n_urls,
         |  CAST(len(list_filter(tk, t -> contains(t, '@') AND contains(t, '.'))) AS BIGINT) AS n_emails,
         |  (len(list_filter(tk, t -> starts_with(t, 'http://')
         |       OR starts_with(t, 'https://') OR starts_with(t, 'www.')))
         |   + len(list_filter(tk, t -> contains(t, '@') AND contains(t, '.')))) > 0 AS has_web
         |FROM toks""".stripMargin
    }),

    // Gopher/C4-style within-document repetition metrics
    QuerySpec("text_repetition", (s, dir) =>
      TextOps.repetitionStats(t(s, dir, "documents")), {
      val bigrams = {
        // shingles() reads the token list column `tk`
        OracleSql.shingles(2)
      }
      s"""WITH ${OracleSql.toksCte(lower = true)},
         |wc AS (SELECT doc_id, t, COUNT(*) AS c
         |       FROM (SELECT doc_id, unnest(tk) AS t FROM toks) GROUP BY 1, 2),
         |w AS (SELECT doc_id, SUM(c) AS n_words, MAX(c) AS topw FROM wc GROUP BY doc_id),
         |bc AS (SELECT doc_id, t, COUNT(*) AS c
         |       FROM (SELECT doc_id, unnest($bigrams) AS t FROM toks) GROUP BY 1, 2),
         |b AS (SELECT doc_id, SUM(c) AS n_bigrams, MAX(c) AS topb,
         |      SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS dupb FROM bc GROUP BY doc_id)
         |SELECT d.doc_id, CAST(coalesce(w.n_words, 0) AS BIGINT) AS n_words,
         |  round(CAST(coalesce(w.topw, 0) AS DOUBLE)
         |        / greatest(coalesce(w.n_words, 0), 1), 6) AS top_word_frac,
         |  CAST(coalesce(b.n_bigrams, 0) AS BIGINT) AS n_bigrams,
         |  round(CAST(coalesce(b.topb, 0) AS DOUBLE)
         |        / greatest(coalesce(b.n_bigrams, 0), 1), 6) AS top_bigram_frac,
         |  round(CAST(coalesce(b.dupb, 0) AS DOUBLE)
         |        / greatest(coalesce(b.n_bigrams, 0), 1), 6) AS dup_bigram_frac
         |FROM documents d
         |LEFT JOIN w ON d.doc_id = w.doc_id
         |LEFT JOIN b ON d.doc_id = b.doc_id""".stripMargin
    }),

    // Eval set = every 17th document — the "benchmark" whose 5-grams must
    // not leak into training data. Hits are dominated by the eval docs
    // themselves plus their near-copies; bystander overlap at n=5 is rare.
    QuerySpec("text_decontaminate", (s, dir) => {
      val docs = t(s, dir, "documents")
      TextOps.decontaminate(docs, docs.filter(col("doc_id") % 17 === 0),
        n = 5, minHits = 1)
    }, {
      s"""WITH ${OracleSql.toksCte(lower = true)},
         |sh AS (SELECT doc_id, list_distinct(${OracleSql.shingles(5)}) AS sh FROM toks),
         |ev AS (SELECT DISTINCT unnest(sh) AS g FROM sh WHERE doc_id % 17 = 0),
         |dg AS (SELECT doc_id, unnest(sh) AS g FROM sh)
         |SELECT dg.doc_id, CAST(count(*) AS BIGINT) AS n_hits
         |FROM dg JOIN ev ON dg.g = ev.g
         |GROUP BY dg.doc_id HAVING count(*) >= 1""".stripMargin
    }),

    // The synthetic corpus carries no real PII, so the fixture plants a
    // deterministic email / IP / account-number per document (built from
    // doc_id identically here and in the oracle SQL) before redacting.
    QuerySpec("text_pii", (s, dir) =>
      TextOps.piiRedact(t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"), lit(" reach user"), col("doc_id").cast("string"),
          lit("@mail.example.com via 10.0."), (col("doc_id") % 256).cast("string"),
          lit(".7 acct "), (lit(10000000L) + col("doc_id") * 7).cast("string"))
          .as("text"))), {
      // DuckDB single-quoted literals keep backslashes verbatim, so the
      // Scala-side patterns embed unchanged — same regex, both engines.
      val email = TextOps.emailRe
      val ip = TextOps.ipv4Re
      val num = TextOps.numRunRe
      s"""WITH p AS (SELECT doc_id,
         |  text || ' reach user' || CAST(doc_id AS VARCHAR)
         |       || '@mail.example.com via 10.0.' || CAST(doc_id % 256 AS VARCHAR)
         |       || '.7 acct ' || CAST(10000000 + doc_id * 7 AS VARCHAR) AS text
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '$email')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(text, '$ip')) AS BIGINT) AS n_ips,
         |  CAST(len(regexp_extract_all(text, '$num')) AS BIGINT) AS n_numbers,
         |  regexp_replace(regexp_replace(regexp_replace(text,
         |    '$email', '<EMAIL>', 'g'), '$ip', '<IP>', 'g'), '$num', '<NUM>', 'g')
         |    AS redacted
         |FROM p""".stripMargin
    }),

    // fastText-style hashing-trick quality classifier (linear skeleton)
    QuerySpec("text_classifier", (s, dir) =>
      TextOps.classifierScore(t(s, dir, "documents")), {
      val w = OracleSql.lcgUnit(s"(${OracleSql.ph("t")}) % 1024")
      s"""WITH ${OracleSql.toksCte(lower = true)},
         |s AS (SELECT doc_id,
         |      CASE WHEN len(tk) > 0 THEN
         |        0.0 + list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |          list_transform(tk, t -> $w)), (a, x) -> a + x)
         |          / len(tk)
         |      ELSE 0.0 END AS logit FROM toks)
         |SELECT doc_id, round(logit, 6) AS clf_logit,
         |       round(logit, 6) > 0 AS clf_keep
         |FROM s""".stripMargin
    }),

    // corpus-relative rare-token (OOV-rate) stats; the corpus is its own
    // lexicon. 10% threshold brackets the fixture df distribution (one
    // token at 5% df, the rest >= 75%) so the rule actually fires
    QuerySpec("text_oov", (s, dir) =>
      TextOps.oovStats(t(s, dir, "documents"), maxDfFraction = 0.1), {
      s"""WITH ${OracleSql.toksCte(lower = true)},
         |ti AS (SELECT doc_id, unnest(tk) AS tok FROM toks),
         |pd AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS n_inst
         |       FROM ti GROUP BY 1, 2),
         |dfq AS (SELECT tok, count(*) AS df FROM pd GROUP BY 1),
         |agg AS (SELECT pd.doc_id,
         |          CAST(sum(pd.n_inst) AS BIGINT) AS n_tokens,
         |          CAST(sum(CASE WHEN dfq.df <= 0.1 * (SELECT count(*) FROM documents)
         |                        THEN pd.n_inst ELSE 0 END) AS BIGINT) AS n_rare
         |        FROM pd JOIN dfq USING (tok) GROUP BY 1)
         |SELECT d.doc_id,
         |  coalesce(a.n_tokens, CAST(0 AS BIGINT)) AS n_tokens,
         |  coalesce(a.n_rare, CAST(0 AS BIGINT)) AS n_rare,
         |  round(CAST(coalesce(a.n_rare, 0) AS DOUBLE)
         |        / greatest(coalesce(a.n_tokens, 0), 1), 6) AS rare_fraction
         |FROM documents d LEFT JOIN agg a USING (doc_id)""".stripMargin
    }),

    // corpus-unigram LM score (CCNet perplexity proxy); the hot/tail
    // frequency split keeps the token join skew-free at corpus scale
    QuerySpec("text_unigram_lp", (s, dir) =>
      TextOps.unigramLogProb(t(s, dir, "documents")), {
      s"""WITH ${OracleSql.toksCte(lower = true)},
         |ti AS (SELECT doc_id, unnest(tk) AS tok FROM toks),
         |cnt AS (SELECT tok, count(*) AS c FROM ti GROUP BY 1),
         |tot AS (SELECT CAST(sum(c) AS DOUBLE) AS t FROM cnt),
         |agg AS (SELECT ti.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |        avg(-ln(CAST(c AS DOUBLE) / (SELECT t FROM tot))) AS nll
         |        FROM ti JOIN cnt USING (tok) GROUP BY 1)
         |SELECT d.doc_id,
         |  coalesce(a.n_tokens, CAST(0 AS BIGINT)) AS n_tokens,
         |  round(coalesce(a.nll, 0), 6) AS avg_nll
         |FROM documents d LEFT JOIN agg a USING (doc_id)""".stripMargin
    }),

    // codepoint entropy + digit/upper fractions (encoding-level quality)
    QuerySpec("text_entropy", (s, dir) =>
      TextOps.charStats(t(s, dir, "documents")),
      """WITH ch AS (
        |  SELECT doc_id, unnest(list_transform(range(1, length(text)+1),
        |         i -> substr(text, CAST(i AS INT), 1))) AS c
        |  FROM documents),
        |cc AS (SELECT doc_id, c, COUNT(*) AS cnt FROM ch GROUP BY doc_id, c),
        |tot AS (SELECT doc_id, SUM(cnt) AS n, list(cnt ORDER BY c) AS cl
        |        FROM cc GROUP BY doc_id),
        |e AS (SELECT doc_id, n,
        |      list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |        list_transform(cl, k -> -(k/n)*ln(k/n))), (a, x) -> a + x) AS ent
        |      FROM tot)
        |SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS n_chars,
        |       round(coalesce(e.ent, 0), 6) AS char_entropy,
        |       round(CAST(len(regexp_extract_all(d.text, '[0-9]')) AS DOUBLE)
        |             / greatest(length(d.text), 1), 6) AS digit_frac,
        |       round(CAST(len(regexp_extract_all(d.text, '[A-Z]')) AS DOUBLE)
        |             / greatest(length(d.text), 1), 6) AS upper_frac
        |FROM documents d LEFT JOIN e ON e.doc_id = d.doc_id""".stripMargin),

    // context-aware LM score: mean -ln P(w2|w1) under the corpus bigram
    // model (word-order fluency, not just word choice)
    QuerySpec("text_bigram_lp", (s, dir) =>
      TextOps.bigramLogProb(t(s, dir, "documents")), {
      s"""WITH ${OracleSql.toksCte(lower = true)},
         |bi AS (SELECT doc_id, unnest(${OracleSql.shingles(2)}) AS bg FROM toks),
         |cnt AS (SELECT bg, count(*) AS c12 FROM bi GROUP BY 1),
         |pre AS (SELECT split_part(bg, ' ', 1) AS w1, SUM(c12) AS c1
         |        FROM cnt GROUP BY 1),
         |lp AS (SELECT cnt.bg,
         |         ln(CAST(cnt.c12 AS DOUBLE) / CAST(pre.c1 AS DOUBLE)) AS l
         |       FROM cnt JOIN pre ON pre.w1 = split_part(cnt.bg, ' ', 1)),
         |agg AS (SELECT bi.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |        avg(-lp.l) AS nll
         |        FROM bi JOIN lp USING (bg) GROUP BY 1)
         |SELECT d.doc_id,
         |  coalesce(a.n_bigrams, CAST(0 AS BIGINT)) AS n_bigrams,
         |  round(coalesce(a.nll, 0), 6) AS avg_nll2
         |FROM documents d LEFT JOIN agg a USING (doc_id)""".stripMargin
    }),

    // keyword search: BM25 over a fixed query bag — per-term tf is a
    // map-side array filter (no token explode), corpus stats are one
    // broadcast 1-row aggregate
    QuerySpec("text_bm25", (s, dir) =>
      TextOps.bm25(t(s, dir, "documents"),
        terms = Seq("customer", "vector", "slow")), {
      // identical arithmetic order to TextOps.bm25 (left-to-right term sum,
      // parenthesized mul/div) — the only rounding is the final 6-dp gate
      val terms = Seq("customer", "vector", "slow")
      val k1 = 1.2; val b = 0.75
      val tfs = terms.zipWithIndex.map { case (tm, i) =>
        s"CAST(len(list_filter(tk, t -> t = '$tm')) AS BIGINT) AS tf$i"
      }.mkString(",\n  ")
      val dfs = terms.indices.map(i =>
        s"CAST(SUM(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df$i")
        .mkString(",\n  ")
      val avgdl = "(CAST(toktot AS DOUBLE) / CAST(n AS DOUBLE))"
      val score = terms.indices.map { i =>
        val idf = s"ln(1.0 + ((CAST(n AS DOUBLE) - CAST(df$i AS DOUBLE)) + 0.5)" +
          s" / (CAST(df$i AS DOUBLE) + 0.5))"
        s"""(CASE WHEN tf$i > 0 THEN (($idf * CAST(tf$i AS DOUBLE)) * ${k1 + 1.0})
           |  / (CAST(tf$i AS DOUBLE) + $k1 * (${1.0 - b}
           |     + ($b * CAST(dl AS DOUBLE)) / $avgdl)) ELSE 0.0 END)""".stripMargin
      }.reduce((a, b2) => s"($a + $b2)")
      val hits = terms.indices.map(i => s"(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END)")
        .reduce((a, b2) => s"($a + $b2)")
      s"""WITH ${OracleSql.toksCte(lower = true)},
         |base AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl,
         |  $tfs FROM toks),
         |st AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |  CAST(SUM(dl) AS BIGINT) AS toktot,
         |  $dfs FROM base)
         |SELECT doc_id, CAST($hits AS BIGINT) AS n_hits, round($score, 6) AS bm25
         |FROM base CROSS JOIN st
         |WHERE ${terms.indices.map(i => s"tf$i > 0").mkString(" OR ")}""".stripMargin
    })
  )
}
