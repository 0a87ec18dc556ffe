package graft

import graft.functions.CrossHash
import graft.ops.TextOps

/** DuckDB-dialect SQL fragments that mirror the engine's cross-portable
  * expressions bit-for-bit (see [[graft.functions.CrossHash]]): exact
  * integer hashing, identical left-fold order for floating point. Built
  * from the same constants as the Spark side — single source of truth.
  */
object OracleSql {

  val P: Long = CrossHash.P
  private val aList = CrossHash.A.mkString("[", ",", "]")
  private val bList = CrossHash.B.mkString("[", ",", "]")
  private val pow2List = CrossHash.POW2.mkString("[", ",", "]")

  /** Polynomial rolling hash of a string expression. */
  def ph(s: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |  list_transform(range(1, length($s)+1),
       |    ii -> CAST(ascii(substr($s, CAST(ii AS INT), 1)) AS BIGINT))),
       |  (a, c) -> (a*31 + c) % $P)""".stripMargin

  /** Whitespace tokens with empties removed, of a text expression. */
  def tokens(text: String): String =
    s"list_filter(string_split(trim($text), ' '), t -> length(t) > 0)"

  /** toks CTE over documents (raw-case and lower-case variants). */
  def toksCte(lower: Boolean): String = {
    val txt = if (lower) "lower(text)" else "text"
    s"toks AS (SELECT doc_id, ${tokens(txt)} AS tk FROM documents)"
  }

  /** Word n-gram shingles of the `tk` token list. */
  def shingles(n: Int): String = {
    val parts = (0 until n).map(o =>
      if (o == 0) "tk[CAST(i AS INT)]" else s"tk[CAST(i AS INT)+$o]").mkString(" || ' ' || ")
    s"list_transform(range(1, greatest(len(tk)-${n - 1},0)+1), i -> $parts)"
  }

  /** MinHash signature list (k entries) over the `sh` shingle list. */
  def minhash(k: Int): String =
    s"""list_transform(range(0, $k), j ->
       |  list_min(list_transform(sh, s ->
       |    (${ph("s")} * ($aList)[CAST(j AS INT)+1]
       |     + ($bList)[CAST(j AS INT)+1]) % $P)))""".stripMargin

  /** Band bucket list over the `mh` signature list. */
  def bands(bandsN: Int, rowsPerBand: Int): String =
    s"""list_transform(range(0, $bandsN), b ->
       |  list_reduce(list_prepend(CAST(b AS BIGINT),
       |    mh[CAST(b AS INT)*$rowsPerBand+1 : CAST(b AS INT)*$rowsPerBand+$rowsPerBand]),
       |    (a, v) -> (a*31 + v) % $P))""".stripMargin

  /** 32-bit SimHash over the `tk` token list. */
  val simhash: String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(0,32), b ->
       |  CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(list_transform(list_distinct(tk), t -> ${ph("t")}),
       |        hh -> CASE WHEN hh % (($pow2List)[CAST(b AS INT)+1]*2) >= ($pow2List)[CAST(b AS INT)+1]
       |              THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END)),
       |      (a,x) -> a+x) > 0
       |  THEN ($pow2List)[CAST(b AS INT)+1] ELSE CAST(0 AS BIGINT) END)),
       |  (a,x) -> a+x)""".stripMargin

  /** Strict-left-fold double sum over a list expression. */
  def foldSum(listExpr: String): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), $listExpr), (s, v) -> s+v)"

  /** Exact cosine between two embedding expressions (same fold order as
    * CrossHash.cosine). */
  def cosine(a: String, b: String): String = {
    val dot = foldSum(
      s"list_transform(range(1, len($a)+1), i -> CAST($a[CAST(i AS INT)] AS DOUBLE) * CAST($b[CAST(i AS INT)] AS DOUBLE))")
    def norm(v: String) = foldSum(s"list_transform($v, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))")
    s"($dot / (sqrt(${norm(a)}) * sqrt(${norm(b)})))"
  }

  /** Deterministic LCG weight in [-0.5, 0.5) for an integer index
    * expression — the dyadic-rational mirror of
    * [[graft.functions.LshBucketExpr.hyperplane]]. */
  def lcgUnit(idx: String): String =
    s"(CAST((1103515245*($idx)+12345) % 2147483648 AS DOUBLE)/2147483648.0 - 0.5)"

  /** The sorted-neighborhood projection of `vec`: cosine against the
    * fixed LCG direction at [[graft.ops.DedupOps.SortDirBase]] — the
    * rank key of the bounded embedding pair generators. */
  def sortProj(vec: String, dims: Int): String =
    cosine(vec,
      s"list_transform(range(0, $dims), d -> ${lcgUnit("987654321 + d")})")

  /** LSH bucket of `vec` via deterministic LCG hyperplanes. */
  def lshBucket(vec: String, planes: Int, dims: Int): String = {
    val dot =
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |  list_transform(range(0, $dims), d ->
         |    CAST($vec[CAST(d AS INT)+1] AS DOUBLE) *
         |    (CAST((1103515245*(pl*$dims+d)+12345) % 2147483648 AS DOUBLE)/2147483648.0 - 0.5))),
         |  (s, v) -> s+v)""".stripMargin
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |  list_transform(range(0, $planes), pl ->
       |    CASE WHEN $dot >= 0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END)),
       |  (a, x) -> a*2 + x)""".stripMargin
  }

  /** CTE chain `toks → sh0 → sigs → expl → keep → bexpl → pairs`
    * producing the MinHash LSH candidate pair list (id1 < id2) over
    * `documents` — the shared blocking front-end of the connected-
    * component / PageRank queries. Buckets holding more than `maxBucket`
    * documents are dropped before the self-join, mirroring
    * [[graft.ops.DedupOps.minhashCandidates]]' required hot-bucket cap
    * (the sf10 rehearsal caught the uncapped front-end's in-bucket
    * quadratic blow-up). */
  def minhashPairsCte(maxBucket: Int = 64): String =
    s"""${toksCte(lower = false)},
       |sh0 AS (SELECT doc_id, list_distinct(${shingles(3)}) AS sh FROM toks),
       |sigs AS (SELECT doc_id, sh, ${minhash(8)} AS mh FROM sh0),
       |expl AS (SELECT doc_id, CAST(t.b AS INT) AS band_idx, bl[CAST(t.b AS INT)+1] AS bucket
       |         FROM (SELECT doc_id, ${bands(4, 2)} AS bl FROM sigs), range(0,4) t(b)),
       |keep AS (SELECT band_idx, bucket FROM expl
       |         GROUP BY 1, 2 HAVING count(*) <= $maxBucket),
       |bexpl AS (SELECT expl.doc_id, expl.band_idx, expl.bucket
       |          FROM expl JOIN keep USING (band_idx, bucket)),
       |pairs AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
       |          FROM bexpl a JOIN bexpl b
       |            ON a.band_idx = b.band_idx AND a.bucket = b.bucket AND a.doc_id < b.doc_id)""".stripMargin

  /** Recursive min-label closure over the `pairs` CTE: every document's
    * smallest reachable doc_id (= duplicate-cluster component). The
    * `r.c < e.dst` guard prunes propagation to strictly-smaller labels. */
  def componentsCte: String =
    s"""e AS (SELECT id1 AS src, id2 AS dst FROM pairs
       |       UNION SELECT id2, id1 FROM pairs),
       |r(id, c) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.dst, r.c FROM r JOIN e ON e.src = r.id WHERE r.c < e.dst),
       |comp AS (SELECT id AS doc_id, min(c) AS component FROM r GROUP BY id)""".stripMargin

  /** Per-language stopword score columns over the `tk` list. */
  def langScores: String =
    TextOps.stopwords.map { case (lang, words) =>
      val lst = words.map(w => s"'$w'").mkString("[", ",", "]")
      s"len(list_filter(tk, t -> list_contains($lst, t))) AS s_$lang"
    }.mkString(",\n  ")

  /** CASE argmax over language scores, tie → alphabetical language. */
  def langArgmax: String = {
    val langs = TextOps.stopwords.map(_._1).sorted
    val cases = langs.init.zipWithIndex.map { case (l, i) =>
      val rest = langs.drop(i + 1)
      val conds = rest.map(r => s"s_$l >= s_$r").mkString(" AND ")
      s"WHEN $conds THEN '$l'"
    }
    s"CASE ${cases.mkString(" ")} ELSE '${langs.last}' END"
  }

  val allStopList: String =
    TextOps.stopwords.flatMap(_._2).distinct.map(w => s"'$w'").mkString("[", ",", "]")

  /** Unrolled exact-greedy BPE learn: `nMerges` chained CTE steps, each
    * one pair-count → deterministic argmax → greedy merge apply. The
    * iterative loop the Spark side batches ([[graft.ops.CorpusOps.bpeLearn]])
    * is pure SQL here because the greedy left-to-right single-pair merge
    * is EXACTLY DuckDB's non-overlapping left-to-right `replace` when a
    * symbol list is encoded as `' ' || join(syms, '  ') || ' '` (double
    * spaces separate symbols, and each match consumes one pad space from
    * each neighbour, so consecutive matches still fire; tokens are
    * space-split so symbols never contain ' '). `AS MATERIALIZED` is
    * load-bearing: each step CTE is referenced twice (pair count + next
    * state), and DuckDB 1.0 inlines by default — unmaterialized, the
    * chain re-evaluates exponentially. Runtime ~4.5 s for 100 steps at
    * sf0.1 (vocab-sized state, corpus-independent after the first scan).
    */
  /** Unrolled fixed-point PageRank over the `pairs` CTE (both directions),
    * `iters` chained steps mirroring [[graft.ops.GraphOps.pageRank]]
    * exactly: integer `scale` units, `r' = 15·scale/100 +
    * (85·Σ r(u)//deg(u)) // 100`, all floor divisions over non-negative
    * integers, so the BIGINT rank matches bit-for-bit. */
  def pageRankUnrolled(iters: Int, scale: Long): String = {
    val base = 15L * scale / 100L
    val head =
      s"""e AS MATERIALIZED (SELECT id1 AS src, id2 AS dst FROM pairs
         |     UNION ALL SELECT id2 AS src, id1 AS dst FROM pairs),
         |deg AS MATERIALIZED (SELECT src, count(*) AS d FROM e GROUP BY 1),
         |r0 AS (SELECT doc_id AS id, CAST($scale AS BIGINT) AS r FROM documents)""".stripMargin
    val steps = (1 to iters).map { k =>
      s"""r$k AS (SELECT n.doc_id AS id,
         |  CAST($base + (85 * coalesce(s.c, 0)) // 100 AS BIGINT) AS r
         |  FROM documents n LEFT JOIN (
         |    SELECT e.dst AS id, SUM(r.r // deg.d) AS c
         |    FROM e JOIN r${k - 1} r ON r.id = e.src
         |    JOIN deg ON deg.src = e.src
         |    GROUP BY 1) s ON s.id = n.doc_id)""".stripMargin
    }
    (head +: steps).mkString(",\n")
  }

  def bpeLearnUnrolled(nMerges: Int): String = {
    val chars = "list_transform(range(1, length(w)+1), i -> substr(w, CAST(i AS INT), 1))"
    val head =
      s"""WITH wd AS MATERIALIZED (
         |  SELECT w, COUNT(*) AS cnt FROM (
         |    SELECT unnest(${tokens("lower(text)")}) AS w FROM documents) GROUP BY w),
         |v0 AS MATERIALIZED (
         |  SELECT ' ' || array_to_string($chars || ['</w>'], '  ') || ' ' AS s, cnt FROM wd)""".stripMargin
    val steps = (1 to nMerges).map { k =>
      s"""p$k AS MATERIALIZED (
         |  SELECT pr.l AS l, pr.r AS r, SUM(cnt) AS n
         |  FROM (SELECT unnest(list_transform(range(1, greatest(len(tk)-1, 0)+1),
         |                 i -> struct_pack(l := tk[CAST(i AS INT)],
         |                                  r := tk[CAST(i AS INT)+1]))) AS pr, cnt
         |        FROM (SELECT string_split(trim(s), '  ') AS tk, cnt FROM v${k - 1}))
         |  GROUP BY 1, 2),
         |m$k AS MATERIALIZED (
         |  SELECT l, r, n FROM p$k ORDER BY n DESC, l ASC, r ASC LIMIT 1),
         |v$k AS MATERIALIZED (
         |  SELECT replace(v.s, ' ' || m.l || '  ' || m.r || ' ', ' ' || m.l || m.r || ' ') AS s, v.cnt
         |  FROM v${k - 1} v CROSS JOIN m$k m)""".stripMargin
    }
    val sel = (1 to nMerges).map { k =>
      s"SELECT CAST(${k - 1} AS INT) AS merge_idx, l AS left_sym, r AS right_sym, CAST(n AS BIGINT) AS n_pairs FROM m$k"
    }.mkString("\nUNION ALL\n")
    (head +: steps).mkString(",\n") + "\n" + sel + "\nORDER BY merge_idx"
  }
}
