package graft.queries

import graft.OracleSql
import graft.ops.{DedupOps, GraphOps, TextOps}
import org.apache.spark.sql.functions._
import Shared.{t, graphPairs}

/** Training-data deduplication (SURVEY.md §7.5): exact, span, paragraph
  * and URL dedup, MinHash/SimHash/embedding near-dup blocking, incremental
  * (cross-corpus) dedup and the duplicate-graph resolutions. */
object Dedup {

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("dedup_exact", (s, dir) =>
      DedupOps.exact(t(s, dir, "documents")),
      "SELECT min(doc_id) AS keep_id, count(*) AS n_copies FROM documents GROUP BY text"),

    // same contract as dedup_exact; the shuffle key is a 256-bit digest
    // instead of the document body (the 100 TB form)
    QuerySpec("dedup_exact_digest", (s, dir) =>
      DedupOps.exactByDigest(t(s, dir, "documents")),
      // the digest groups exactly the content groups (collision-free spec)
      "SELECT min(doc_id) AS keep_id, count(*) AS n_copies FROM documents GROUP BY text"),

    QuerySpec("dedup_minhash_sig", (s, dir) =>
      DedupOps.minhashBandRows(t(s, dir, "documents")), {
      s"""WITH ${OracleSql.toksCte(lower = false)},
         |sh0 AS (SELECT doc_id, list_distinct(${OracleSql.shingles(3)}) AS sh FROM toks),
         |sigs AS (SELECT doc_id, sh, ${OracleSql.minhash(8)} AS mh FROM sh0),
         |withb AS (SELECT doc_id, ${OracleSql.bands(4, 2)} AS bl FROM sigs)
         |SELECT doc_id, CAST(t.b AS INT) AS band_idx, bl[CAST(t.b AS INT)+1] AS bucket
         |FROM withb, range(0,4) t(b)""".stripMargin
    }),

    // maxBucket=64 drops giant-cluster band buckets from candidate
    // generation (those are exact-dup families for exactByDigest, not
    // near-dups) and is mirrored in the oracle — uncapped, the sf1
    // scale rehearsal measured this query 13x for 10x data (in-bucket
    // candidates grow quadratically with bucket size); capped it is
    // the O(n·cap) plan that survives 100 TB
    QuerySpec("dedup_minhash_pairs", (s, dir) =>
      DedupOps.minhashLsh(t(s, dir, "documents"), threshold = 0.0,
        maxBucket = 64), {
      val li = "len(list_intersect(s1, s2))"
      val un = s"len(s1) + len(s2) - $li"
      s"""WITH ${OracleSql.toksCte(lower = false)},
         |sh0 AS (SELECT doc_id, list_distinct(${OracleSql.shingles(3)}) AS sh FROM toks),
         |sigs AS (SELECT doc_id, sh, ${OracleSql.minhash(8)} AS mh FROM sh0),
         |expl AS (SELECT doc_id, CAST(t.b AS INT) AS band_idx, bl[CAST(t.b AS INT)+1] AS bucket
         |         FROM (SELECT doc_id, ${OracleSql.bands(4, 2)} AS bl FROM sigs), range(0,4) t(b)),
         |keep AS (SELECT band_idx, bucket FROM expl
         |         GROUP BY 1, 2 HAVING count(*) <= 64),
         |bexpl AS (SELECT expl.doc_id, expl.band_idx, expl.bucket
         |          FROM expl JOIN keep USING (band_idx, bucket)),
         |pairs AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
         |          FROM bexpl a JOIN bexpl b
         |            ON a.band_idx = b.band_idx AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
         |j AS (SELECT p.id1, p.id2, x.sh AS s1, y.sh AS s2
         |      FROM pairs p JOIN sh0 x ON x.doc_id = p.id1 JOIN sh0 y ON y.doc_id = p.id2)
         |SELECT id1, id2, CAST($li AS INT) AS inter, CAST($un AS INT) AS uni,
         |       round(CAST($li AS DOUBLE) / ($un), 6) AS jaccard
         |FROM j WHERE $un > 0 AND CAST($li AS DOUBLE) / ($un) >= 0.0""".stripMargin
    }),

    // maxDf caps hot-shingle blocking (the scale guard); 1000 is above any
    // df in the sf0.01 oracle fixture, so the gated result is exact.
    // Not benched: all-pairs stress query. On the synthetic corpus (tiny
    // shared vocabulary) it is intentionally quadratic; it runs in the
    // correctness gate only.
    QuerySpec("dedup_ngram_jaccard", (s, dir) =>
      DedupOps.ngramJaccard(t(s, dir, "documents"), threshold = 0.5, n = 1,
        maxDf = 1000), {
      // mirrors the Spark op's maxDf=1000 blocking exactly: candidates
      // need a shared shingle with df <= 1000, then Jaccard is scored
      // over ALL shingles — so the oracle stays row-identical at every
      // scale factor, including where the cap actually bites
      s"""WITH ${OracleSql.toksCte(lower = false)},
         |sh0 AS (SELECT doc_id, list_distinct(tk) AS sh FROM toks),
         |inv AS (SELECT doc_id, len(sh) AS l, unnest(sh) AS g FROM sh0),
         |keep AS (SELECT g FROM inv GROUP BY g HAVING count(*) <= 1000),
         |binv AS (SELECT inv.doc_id, inv.g FROM inv JOIN keep USING (g)),
         |cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
         |         FROM binv a JOIN binv b ON a.g = b.g AND a.doc_id < b.doc_id),
         |pc AS (SELECT c.id1, c.id2, count(*) AS inter,
         |       any_value(a.l) AS l1, any_value(b.l) AS l2
         |       FROM cand c
         |       JOIN inv a ON a.doc_id = c.id1
         |       JOIN inv b ON b.doc_id = c.id2 AND b.g = a.g
         |       GROUP BY 1, 2)
         |SELECT id1, id2, CAST(inter AS INT) AS inter,
         |       CAST(l1 + l2 - inter AS INT) AS uni,
         |       round(CAST(inter AS DOUBLE) / (l1 + l2 - inter), 6) AS jaccard
         |FROM pc WHERE CAST(inter AS DOUBLE) / (l1 + l2 - inter) >= 0.5""".stripMargin
    }, benched = false),

    QuerySpec("dedup_simhash", (s, dir) =>
      DedupOps.simhashSignatures(t(s, dir, "documents")), {
      s"""WITH ${OracleSql.toksCte(lower = false)}
         |SELECT doc_id, ${OracleSql.simhash} AS simhash FROM toks""".stripMargin
    }),

    // Not benched: all-pairs stress query. On the synthetic corpus (tiny
    // shared vocabulary) it is intentionally quadratic; it runs in the
    // correctness gate only.
    QuerySpec("dedup_simhash_pairs", (s, dir) =>
      DedupOps.simhashPairs(t(s, dir, "documents"), maxHamming = 3, bands = 4), {
      val pow2 = graft.functions.CrossHash.POW2.mkString("[", ",", "]")
      s"""WITH ${OracleSql.toksCte(lower = false)},
         |sh AS (SELECT doc_id, ${OracleSql.simhash} AS simhash FROM toks),
         |sl AS (SELECT doc_id, simhash, CAST(t.b AS INT) AS band_idx,
         |       CAST((simhash // ($pow2)[CAST(t.b AS INT)*8+1]) % 256 AS BIGINT) AS slice
         |       FROM sh, range(0,4) t(b)),
         |pairs AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
         |          a.simhash AS h1, b.simhash AS h2
         |          FROM sl a JOIN sl b
         |            ON a.band_idx = b.band_idx AND a.slice = b.slice AND a.doc_id < b.doc_id)
         |SELECT id1, id2, CAST(bit_count(xor(h1, h2)) AS INT) AS hamming
         |FROM pairs WHERE bit_count(xor(h1, h2)) <= 3""".stripMargin
    }, benched = false),

    // maxPrev=64: label is fixed-cardinality, so in-block all-pairs is
    // quadratic (sf10 measured 13.5x for 10x data — embeddings grow 4x
    // per 10x, i.e. ~quadratic in vectors); the sorted-neighborhood rank
    // window bounds it at O(n·64), mirrored in the oracle
    QuerySpec("dedup_embedding", (s, dir) =>
      DedupOps.embeddingNearDup(t(s, dir, "embeddings"), threshold = 0.35,
        maxPrev = 64), {
      // rank-window mirror: rn per label by (projection, id); a pair
      // qualifies when the ranks are within 64 — the sorted-neighborhood
      // bound the Spark side applies via its banded responsibility join
      val cos = OracleSql.cosine("a.embedding", "b.embedding")
      s"""WITH rk AS (
         |  SELECT vec_id, label, embedding,
         |         row_number() OVER (PARTITION BY label
         |           ORDER BY ${OracleSql.sortProj("embedding", 64)} ASC,
         |                    vec_id ASC) AS rn
         |  FROM embeddings)
         |SELECT least(a.vec_id, b.vec_id) AS id1,
         |       greatest(a.vec_id, b.vec_id) AS id2, round($cos, 6) AS cos
         |FROM rk a JOIN rk b
         |  ON a.label = b.label AND a.rn < b.rn AND a.rn >= b.rn - 64
         |WHERE $cos >= 0.35""".stripMargin
    }),

    // same sorted-neighborhood bound as dedup_embedding: 16 fixed LSH
    // buckets collapse tight clusters whole, so in-bucket pairs were
    // quadratic in vectors (sf10: 14.3x for 10x data) — capped at O(n·64)
    QuerySpec("dedup_embedding_lsh", (s, dir) =>
      DedupOps.embeddingNearDupLsh(t(s, dir, "embeddings"), threshold = 0.3,
        maxPrev = 64), {
      val cos = OracleSql.cosine("a.embedding", "b.embedding")
      s"""WITH eb AS (SELECT vec_id, embedding,
         |            ${OracleSql.lshBucket("embedding", 4, 64)} AS bucket
         |            FROM embeddings),
         |rk AS (
         |  SELECT vec_id, bucket, embedding,
         |         row_number() OVER (PARTITION BY bucket
         |           ORDER BY ${OracleSql.sortProj("embedding", 64)} ASC,
         |                    vec_id ASC) AS rn
         |  FROM eb)
         |SELECT least(a.vec_id, b.vec_id) AS id1,
         |       greatest(a.vec_id, b.vec_id) AS id2, round($cos, 6) AS cos
         |FROM rk a JOIN rk b
         |  ON a.bucket = b.bucket AND a.rn < b.rn AND a.rn >= b.rn - 64
         |WHERE $cos >= 0.3""".stripMargin
    }),

    // duplicate-cluster resolution: pair list → connected components
    // (transitive closure of "A≈B"); every doc gets its cluster's min id
    QuerySpec("dedup_components", (s, dir) => {
      val docs = t(s, dir, "documents")
      GraphOps.components(docs, graphPairs(docs))
    },
      s"""WITH RECURSIVE ${OracleSql.minhashPairsCte()},
         |${OracleSql.componentsCte}
         |SELECT doc_id, component FROM comp""".stripMargin),

    // dedup endgame: one surviving doc per duplicate cluster + cluster size
    QuerySpec("dedup_keep_one", (s, dir) => {
      val docs = t(s, dir, "documents")
      GraphOps.keepOne(docs, graphPairs(docs))
    },
      s"""WITH RECURSIVE ${OracleSql.minhashPairsCte()},
         |${OracleSql.componentsCte}
         |SELECT component AS keep_id, COUNT(*) AS n_members
         |FROM comp GROUP BY component""".stripMargin),

    // Recurring-crawl dedup: 80% of docs (doc_id % 10 < 8) are the
    // already-ingested corpus; the new batch (every 3rd doc, overlapping
    // the corpus) is deduped internally and anti-joined against the
    // corpus digests — survivors are batch docs the corpus never saw
    // (doc_id % 30 ∈ {9, 18}; scale-proportional at every sf).
    QuerySpec("dedup_incremental", (s, dir) => {
      val docs = t(s, dir, "documents")
      DedupOps.incremental(docs.filter(col("doc_id") % 3 === 0),
        docs.filter(col("doc_id") % 10 < 8))
    },
      s"""WITH b AS (SELECT min(doc_id) AS doc_id, sha256(text) AS digest
         |           FROM documents WHERE doc_id % 3 = 0 GROUP BY sha256(text))
         |SELECT doc_id, digest FROM b
         |WHERE NOT EXISTS (SELECT 1 FROM documents c
         |                  WHERE c.doc_id % 10 < 8 AND sha256(c.text) = b.digest)""".stripMargin),

    // Cross-corpus near-dup: the batch (every 3rd doc) is screened against
    // the ingested corpus (80% of docs) — LSH candidates across sides
    // only, exact Jaccard verification; overlap docs surface as
    // jaccard=1.0 self-matches. maxBucket=64 drops giant corpus band
    // buckets (exact-dup families — [[DedupOps.incremental]]'s job), the
    // same cap dedup_minhash_pairs carries: uncapped, the sf10 rehearsal
    // measured this query 38x for 10x data (corpus dup families grow
    // linearly, so batch-side hits against them grow super-linearly).
    QuerySpec("dedup_incremental_near", (s, dir) => {
      val docs = t(s, dir, "documents")
      DedupOps.incrementalNearLsh(docs.filter(col("doc_id") % 3 === 0),
        docs.filter(col("doc_id") % 10 < 8), threshold = 0.0,
        maxBucket = 64)
    }, {
      val li = "len(list_intersect(s1, s2))"
      val un = s"len(s1) + len(s2) - $li"
      s"""WITH ${OracleSql.toksCte(lower = false)},
         |sh0 AS (SELECT doc_id, list_distinct(${OracleSql.shingles(3)}) AS sh FROM toks),
         |sigs AS (SELECT doc_id, sh, ${OracleSql.minhash(8)} AS mh FROM sh0),
         |expl AS (SELECT doc_id, CAST(t.b AS INT) AS band_idx, bl[CAST(t.b AS INT)+1] AS bucket
         |         FROM (SELECT doc_id, ${OracleSql.bands(4, 2)} AS bl FROM sigs), range(0,4) t(b)),
         |ckeep AS (SELECT band_idx, bucket FROM expl WHERE doc_id % 10 < 8
         |          GROUP BY 1, 2 HAVING count(*) <= 64),
         |pairs AS (SELECT DISTINCT a.doc_id AS batch_id, b.doc_id AS corpus_id
         |          FROM expl a JOIN expl b
         |            ON a.band_idx = b.band_idx AND a.bucket = b.bucket
         |          JOIN ckeep k
         |            ON b.band_idx = k.band_idx AND b.bucket = k.bucket
         |          WHERE a.doc_id % 3 = 0 AND b.doc_id % 10 < 8),
         |j AS (SELECT p.batch_id, p.corpus_id, x.sh AS s1, y.sh AS s2
         |      FROM pairs p JOIN sh0 x ON x.doc_id = p.batch_id
         |                   JOIN sh0 y ON y.doc_id = p.corpus_id)
         |SELECT batch_id, corpus_id, CAST($li AS INT) AS inter, CAST($un AS INT) AS uni,
         |       round(CAST($li AS DOUBLE) / ($un), 6) AS jaccard
         |FROM j WHERE $un > 0 AND CAST($li AS DOUBLE) / ($un) >= 0.0""".stripMargin
    }),

    // same contract through the Bloom prescreen (definite-new digests skip
    // the anti-join; might-contain hits verify exactly) — row-identical
    QuerySpec("dedup_incremental_bloom", (s, dir) => {
      val docs = t(s, dir, "documents")
      DedupOps.incrementalBloom(docs.filter(col("doc_id") % 3 === 0),
        docs.filter(col("doc_id") % 10 < 8), expectedItems = 100000L)
    },
      // the Bloom prescreen is an internal optimization — exact anti-join twin
      s"""WITH b AS (SELECT min(doc_id) AS doc_id, sha256(text) AS digest
         |           FROM documents WHERE doc_id % 3 = 0 GROUP BY sha256(text))
         |SELECT doc_id, digest FROM b
         |WHERE NOT EXISTS (SELECT 1 FROM documents c
         |                  WHERE c.doc_id % 10 < 8 AND sha256(c.text) = b.digest)""".stripMargin),

    // passage-duplication pairs: docs sharing >=2 winnow fingerprints,
    // df-capped inverted-index blocking (never all-pairs)
    QuerySpec("dedup_winnow_pairs", (s, dir) =>
      TextOps.winnowPairs(t(s, dir, "documents"), minShared = 2, maxDf = 64), {
      s"""WITH ${OracleSql.toksCte(lower = true)},
         |h AS (SELECT doc_id,
         |        list_transform(${OracleSql.shingles(3)}, s -> ${OracleSql.ph("s")}) AS hs,
         |        greatest(len(tk) - 2, 0) AS m
         |      FROM toks),
         |w AS (SELECT doc_id,
         |        list_distinct(list_transform(range(1, greatest(m - 3, 0) + 1),
         |          i -> list_min(hs[CAST(i AS INT) : CAST(i AS INT) + 3]))) AS fps
         |      FROM h),
         |f AS (SELECT doc_id, unnest(fps) AS fp FROM w),
         |keep AS (SELECT fp FROM f GROUP BY fp HAVING count(*) <= 64),
         |ff AS (SELECT f.doc_id, f.fp FROM f JOIN keep USING (fp))
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared_fps
         |FROM ff a JOIN ff b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY 1, 2
         |HAVING count(*) >= 2""".stripMargin
    }),

    // SemDeDup: cluster-blocked semantic dedup — keep the first example
    // of each in-cluster near-duplicate family (fixed LCG quantizer).
    // maxPrev=64 bounds the in-cell pair check the same way: tight
    // clusters collapse into one LCG cell at any nlist, so the exact
    // in-cell check is quadratic in vectors (sf10: 12.5x for 10x data)
    QuerySpec("dedup_semantic", (s, dir) =>
      DedupOps.semDedup(t(s, dir, "embeddings"), threshold = 0.3,
        nlist = 8, dims = 64, maxPrev = 64), {
      val cosAssign = OracleSql.cosine("e.embedding", "c.cvec")
      val cosPair = OracleSql.cosine("a.embedding", "b.embedding")
      s"""WITH cents AS (
         |  SELECT CAST(c AS INT) AS cid,
         |         list_transform(range(0, 64), d -> ${OracleSql.lcgUnit("c*64+d")}) AS cvec
         |  FROM range(0, 8) t(c)),
         |asgn AS (
         |  SELECT vec_id, embedding, cid FROM (
         |    SELECT e.vec_id, e.embedding, c.cid,
         |           row_number() OVER (PARTITION BY e.vec_id
         |             ORDER BY $cosAssign DESC, c.cid ASC) AS rn
         |    FROM embeddings e, cents c) WHERE rn = 1),
         |rk AS (
         |  SELECT vec_id, embedding, cid,
         |         row_number() OVER (PARTITION BY cid
         |           ORDER BY ${OracleSql.sortProj("embedding", 64)} ASC,
         |                    vec_id ASC) AS srn
         |  FROM asgn),
         |drp AS (
         |  SELECT DISTINCT greatest(a.vec_id, b.vec_id) AS vec_id
         |  FROM rk a JOIN rk b
         |    ON a.cid = b.cid AND a.srn < b.srn AND a.srn >= b.srn - 64
         |  WHERE $cosPair >= 0.3)
         |SELECT a.vec_id, a.cid, (d.vec_id IS NULL) AS keep
         |FROM asgn a LEFT JOIN drp d USING (vec_id)""".stripMargin
    }),

    // containment (asymmetric overlap): same df-capped blocking as the
    // jaccard form; catches excerpt/subset pairs jaccard misses
    QuerySpec("dedup_containment", (s, dir) =>
      DedupOps.containmentPairs(t(s, dir, "documents"), threshold = 0.8,
        n = 1, maxDf = 1000), {
      // same df<=1000 blocking as dedup_ngram_jaccard; the score divides
      // by the smaller shingle-set size instead of the union
      s"""WITH ${OracleSql.toksCte(lower = false)},
         |sh0 AS (SELECT doc_id, list_distinct(tk) AS sh FROM toks),
         |inv AS (SELECT doc_id, len(sh) AS l, unnest(sh) AS g FROM sh0),
         |keep AS (SELECT g FROM inv GROUP BY g HAVING count(*) <= 1000),
         |binv AS (SELECT inv.doc_id, inv.g FROM inv JOIN keep USING (g)),
         |cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
         |         FROM binv a JOIN binv b ON a.g = b.g AND a.doc_id < b.doc_id),
         |pc AS (SELECT c.id1, c.id2, count(*) AS inter,
         |       any_value(a.l) AS l1, any_value(b.l) AS l2
         |       FROM cand c
         |       JOIN inv a ON a.doc_id = c.id1
         |       JOIN inv b ON b.doc_id = c.id2 AND b.g = a.g
         |       GROUP BY 1, 2)
         |SELECT id1, id2, CAST(inter AS INT) AS inter,
         |       CAST(least(l1, l2) AS INT) AS min_sz,
         |       round(CAST(inter AS DOUBLE) / least(l1, l2), 6) AS containment
         |FROM pc WHERE CAST(inter AS DOUBLE) / least(l1, l2) >= 0.8""".stripMargin
    }),

    // span-level exact-dup work-list: every 8-token window repeated
    // across >= 2 distinct documents (the substring-dedup signal)
    QuerySpec("dedup_substring_spans", (s, dir) =>
      DedupOps.duplicatedSpans(t(s, dir, "documents"), k = 8),
      s"""WITH ${OracleSql.toksCte(lower = true)},
         |sp AS (SELECT doc_id, unnest(${OracleSql.shingles(8)}) AS span FROM toks)
         |SELECT span, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_occurrences
         |FROM sp GROUP BY span
         |HAVING COUNT(DISTINCT doc_id) >= 2""".stripMargin),

    // near-dup graph health: documents per neighbor-degree (0 included)
    QuerySpec("dedup_graph_degree", (s, dir) => {
      val docs = t(s, dir, "documents")
      GraphOps.degreeHistogram(docs, graphPairs(docs))
    },
      s"""WITH ${OracleSql.minhashPairsCte()},
         |ends AS (SELECT id1 AS id FROM pairs UNION ALL SELECT id2 FROM pairs),
         |deg AS (SELECT id, COUNT(*) AS degree FROM ends
         |        WHERE id IN (SELECT doc_id FROM documents) GROUP BY id),
         |hist AS (SELECT degree, COUNT(*) AS n_docs FROM deg GROUP BY degree),
         |zero AS (SELECT CAST(0 AS BIGINT) AS degree,
         |         (SELECT COUNT(*) FROM documents) - (SELECT COUNT(*) FROM deg) AS n_docs)
         |SELECT degree, n_docs FROM hist
         |UNION ALL SELECT degree, n_docs FROM zero WHERE n_docs > 0""".stripMargin),

    // the apply side: cut every repeated span occurrence except the
    // globally-first one and rebuild the document
    QuerySpec("dedup_span_removal", (s, dir) =>
      DedupOps.removeDuplicatedSpans(t(s, dir, "documents"), k = 8), {
      val gram = (0 until 8).map(o =>
        if (o == 0) "tk[CAST(i AS INT)]" else s"tk[CAST(i AS INT)+$o]")
        .mkString(" || ' ' || ")
      s"""WITH ${OracleSql.toksCte(lower = true)},
         |occ AS (SELECT doc_id, CAST(i AS INT) - 1 AS pos, $gram AS span
         |        FROM toks, LATERAL unnest(range(1, greatest(len(tk)-7, 0)+1)) t(i)),
         |dup AS (SELECT span FROM occ GROUP BY span HAVING COUNT(*) >= 2),
         |ranked AS (SELECT o.doc_id, o.pos,
         |             row_number() OVER (PARTITION BY o.span
         |               ORDER BY o.doc_id ASC, o.pos ASC) AS rn
         |           FROM occ o JOIN dup USING (span)),
         |cuts AS (SELECT doc_id, list(pos) AS starts
         |         FROM ranked WHERE rn > 1 GROUP BY doc_id),
         |built AS (SELECT t.doc_id, t.tk,
         |            coalesce(c.starts, []) AS starts
         |          FROM toks t LEFT JOIN cuts c USING (doc_id)),
         |kept AS (SELECT doc_id, tk,
         |           list_filter(tk, (x, i) ->
         |             len(list_filter(starts,
         |               s -> i - 1 >= s AND i - 1 <= s + 7)) = 0) AS kp
         |         FROM built)
         |SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
         |       CAST(len(tk) - len(kp) AS BIGINT) AS n_removed,
         |       coalesce(array_to_string(kp, ' '), '') AS cleaned_text
         |FROM kept""".stripMargin
    }),

    // paragraph-level pass: the synthetic corpus has no newlines, so the
    // fixture splits on " the " (a frequent vocab word) — the operator is
    // separator-parameterized and the oracle mirrors the same separator
    QuerySpec("dedup_paragraph", (s, dir) =>
      DedupOps.paragraphDedup(t(s, dir, "documents"), sep = " the "),
      // paragraph split mirrors Spark's literal " the " separator;
      // PARTITION BY the paragraph itself groups exactly the sha2-digest
      // classes the Spark side uses (collision-free spec); list indexes are
      // 1-based here vs posexplode's 0-based — only the ORDER matters
      """WITH p0 AS (SELECT doc_id,
        |              unnest(list_transform(string_split(text, ' the '),
        |                                    (x, i) -> {'idx': i, 'para': x})) AS u
        |            FROM documents),
        |p AS (SELECT doc_id, u.idx AS idx, u.para AS para FROM p0
        |      WHERE trim(u.para) <> ''),
        |k AS (SELECT doc_id, idx, para,
        |             (row_number() OVER (PARTITION BY para
        |                ORDER BY doc_id ASC, idx ASC)) = 1 AS keep
        |      FROM p)
        |SELECT doc_id, COUNT(*) AS n_paras,
        |       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |       COALESCE(string_agg(CASE WHEN keep THEN para END, ' the '
        |                           ORDER BY idx), '') AS text_kept
        |FROM k GROUP BY doc_id""".stripMargin),

    // URL-level dedup: raw URLs are synthesized deterministically from
    // doc_id in BOTH engines — scheme-case, www, :443, trailing-slash,
    // utm/fragment variants over a deliberately small (scheme, path, query)
    // space — then collapsed through TextOps.canonicalizeUrl, so many raw
    // forms genuinely merge per canonical key
    QuerySpec("dedup_url_canonical", (s, dir) => {
      val raw = concat(
        element_at(
          typedLit(Seq("https://", "HTTP://", "https://WWW.", "http://www.")),
          (pmod(col("doc_id"), lit(4)) + 1).cast("int")),
        lit("Example.COM"),
        when(pmod(col("doc_id"), lit(5)) === 0, ":443").otherwise(""),
        lit("/p"), pmod(col("doc_id"), lit(5)).cast("string"),
        when(pmod(col("doc_id"), lit(2)) === 0, "/").otherwise(""),
        when(pmod(col("doc_id"), lit(3)) === 0,
          concat(lit("?utm_source=feed&id="), pmod(col("doc_id"), lit(5)).cast("string")))
          .when(pmod(col("doc_id"), lit(3)) === 1,
            concat(lit("?id="), pmod(col("doc_id"), lit(5)).cast("string"),
              lit("&utm_campaign=x")))
          .otherwise(""),
        when(pmod(col("doc_id"), lit(7)) === 0, "#sec").otherwise(""))
      t(s, dir, "documents")
        .select(col("doc_id"), raw.as("_raw"))
        .withColumn("url", TextOps.canonicalizeUrl(col("_raw")))
        .groupBy(col("url"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"),
          countDistinct(col("_raw")).as("n_raw_forms"))
    },
      // same deterministic raw-URL synthesis, then the same RE2-compatible
      // canonicalization chain as TextOps.canonicalizeUrl (DuckDB needs the
      // explicit 'g' flag where Spark's regexp_replace is global by default)
      """WITH r AS (SELECT doc_id,
        |    (CASE doc_id % 4 WHEN 0 THEN 'https://' WHEN 1 THEN 'HTTP://'
        |                     WHEN 2 THEN 'https://WWW.' ELSE 'http://www.' END)
        |    || 'Example.COM'
        |    || (CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END)
        |    || '/p' || CAST(doc_id % 5 AS VARCHAR)
        |    || (CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END)
        |    || (CASE WHEN doc_id % 3 = 0
        |             THEN '?utm_source=feed&id=' || CAST(doc_id % 5 AS VARCHAR)
        |             WHEN doc_id % 3 = 1
        |             THEN '?id=' || CAST(doc_id % 5 AS VARCHAR) || '&utm_campaign=x'
        |             ELSE '' END)
        |    || (CASE WHEN doc_id % 7 = 0 THEN '#sec' ELSE '' END) AS raw
        |  FROM documents),
        |c1 AS (SELECT doc_id, raw,
        |    lower(regexp_extract(raw, '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1))
        |      || regexp_replace(raw, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', '') AS u
        |  FROM r),
        |c2 AS (SELECT doc_id, raw,
        |    regexp_replace(u, '^([a-z][a-z0-9+.-]*://)www\.', '\1') AS u FROM c1),
        |c3 AS (SELECT doc_id, raw,
        |    regexp_replace(u, '^([a-z][a-z0-9+.-]*://[^/?#:]*):(?:80|443)([/?#]|$)',
        |                   '\1\2') AS u FROM c2),
        |c4 AS (SELECT doc_id, raw, regexp_replace(u, '#.*', '') AS u FROM c3),
        |c5 AS (SELECT doc_id, raw,
        |    regexp_replace(u, '(?i)([?&])(?:utm_[a-z0-9]*|gclid|fbclid)=[^&#]*',
        |                   '\1', 'g') AS u FROM c4),
        |c6 AS (SELECT doc_id, raw,
        |    regexp_replace(regexp_replace(regexp_replace(u, '\?&+', '?'),
        |                                  '&&+', '&', 'g'),
        |                   '[?&]+$', '') AS u FROM c5),
        |c7 AS (SELECT doc_id, raw, regexp_replace(u, '/+$', '') AS url FROM c6)
        |SELECT url, COUNT(*) AS n_docs, MIN(doc_id) AS first_doc,
        |       COUNT(DISTINCT raw) AS n_raw_forms
        |FROM c7 GROUP BY url""".stripMargin),

    // same LSH blocking as dedup_minhash_pairs, but verified by bounded
    // Levenshtein over 200-char prefixes (the record-linkage verifier)
    QuerySpec("dedup_edit_verify", (s, dir) =>
      DedupOps.editVerifiedPairs(t(s, dir, "documents"), maxDist = 60,
        maxBucket = 64),
      // identical candidate CTE chain to dedup_minhash_pairs; the verifier
      // is DuckDB's levenshtein over the same 200-char prefixes
      s"""WITH ${OracleSql.toksCte(lower = false)},
         |sh0 AS (SELECT doc_id, list_distinct(${OracleSql.shingles(3)}) AS sh FROM toks),
         |sigs AS (SELECT doc_id, sh, ${OracleSql.minhash(8)} AS mh FROM sh0),
         |expl AS (SELECT doc_id, CAST(t.b AS INT) AS band_idx, bl[CAST(t.b AS INT)+1] AS bucket
         |         FROM (SELECT doc_id, ${OracleSql.bands(4, 2)} AS bl FROM sigs), range(0,4) t(b)),
         |keep AS (SELECT band_idx, bucket FROM expl
         |         GROUP BY 1, 2 HAVING count(*) <= 64),
         |bexpl AS (SELECT expl.doc_id, expl.band_idx, expl.bucket
         |          FROM expl JOIN keep USING (band_idx, bucket)),
         |pairs AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
         |          FROM bexpl a JOIN bexpl b
         |            ON a.band_idx = b.band_idx AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
         |j AS (SELECT p.id1, p.id2,
         |             CAST(levenshtein(substr(x.text, 1, 200),
         |                              substr(y.text, 1, 200)) AS BIGINT) AS edit_dist
         |      FROM pairs p JOIN documents x ON x.doc_id = p.id1
         |                   JOIN documents y ON y.doc_id = p.id2
         |      WHERE abs(length(substr(x.text, 1, 200))
         |                - length(substr(y.text, 1, 200))) <= 60)
         |SELECT id1, id2, edit_dist FROM j WHERE edit_dist <= 60""".stripMargin)
  )
}
