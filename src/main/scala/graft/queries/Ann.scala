package graft.queries

import graft.OracleSql
import graft.ops.SimilarityOps
import org.apache.spark.sql.functions._
import Shared.t

/** Approximate nearest-neighbour search: brute force, LSH, IVF (fixed,
  * auto-sized and trained quantizers), PQ and IVF-PQ top-k over the
  * `embeddings` table, each with the first 8 vectors as queries. */
object Ann {

  /** Oracle for the auto-sized IVF menu entry: re-derives (nlist, nprobe)
    * from count(*) with the same anchored √N rule as
    * [[graft.ops.SimilarityOps.ivfAutoParams]] (round half-up on a double
    * sqrt — identical IEEE arithmetic on both engines), then runs the
    * fixed-LCG IVF pipeline under those sizes. DuckDB's `range` refuses
    * subquery bounds, so centroid ids come from a 4096-wide superset
    * filtered by the derived nlist (the rule reaches 4096 only past
    * N ≈ 5×10¹⁰ — far beyond any oracle-checked table). */
  private def ivfAutoOracle(corpusWhere: String): String = {
    val cosAssign = OracleSql.cosine("e.embedding", "c.cvec")
    val cosPair = OracleSql.cosine("p.qv", "a.embedding")
    val nlistExpr = "CAST(LEAST(n, GREATEST(1, round(16 * sqrt(n / 8000.0)))) AS INT)"
    s"""WITH corpus AS (SELECT * FROM embeddings $corpusWhere),
       |params AS (
       |  SELECT $nlistExpr AS nlist, GREATEST(1, $nlistExpr // 4) AS nprobe
       |  FROM (SELECT count(*) AS n FROM corpus)),
       |cents AS (
       |  SELECT CAST(c AS INT) AS cid,
       |         list_transform(range(0, 64), d -> ${OracleSql.lcgUnit("c*64+d")}) AS cvec
       |  FROM range(0, 4096) t(c), params WHERE c < params.nlist),
       |asgn AS (
       |  SELECT vec_id, embedding, cid FROM (
       |    SELECT e.vec_id, e.embedding, c.cid,
       |           row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY $cosAssign DESC, c.cid ASC) AS rn
       |    FROM corpus e, cents c) WHERE rn = 1),
       |probes AS (
       |  SELECT vec_id AS query_id, embedding AS qv, cid FROM (
       |    SELECT e.vec_id, e.embedding, c.cid,
       |           row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY $cosAssign DESC, c.cid ASC) AS rn
       |    FROM (SELECT * FROM corpus WHERE vec_id < 8) e, cents c)
       |  WHERE rn <= (SELECT nprobe FROM params)),
       |j AS (SELECT p.query_id, a.vec_id AS neighbor_id, $cosPair AS cos
       |      FROM probes p JOIN asgn a ON p.cid = a.cid AND p.query_id <> a.vec_id),
       |r AS (SELECT query_id, neighbor_id, cos,
       |      CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS INT) AS rank
       |      FROM j)
       |SELECT query_id, rank, neighbor_id, round(cos, 6) AS cos
       |FROM r WHERE rank <= 10""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("ann_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      SimilarityOps.bruteForceTopK(emb.filter(col("vec_id") < 8), emb, k = 10)
    }, {
      val cos = OracleSql.cosine("q.embedding", "c.embedding")
      s"""WITH j AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, $cos AS cos
         |  FROM (SELECT * FROM embeddings WHERE vec_id < 8) q, embeddings c
         |  WHERE q.vec_id <> c.vec_id),
         |r AS (SELECT query_id, neighbor_id, cos,
         |      CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS INT) AS rank
         |      FROM j)
         |SELECT query_id, rank, neighbor_id, round(cos, 6) AS cos
         |FROM r WHERE rank <= 10""".stripMargin
    }),

    QuerySpec("ann_lsh_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      SimilarityOps.lshTopK(emb.filter(col("vec_id") < 8), emb, k = 10,
        planes = 4, dims = 64)
    }, {
      val cos = OracleSql.cosine("q.embedding", "c.embedding")
      s"""WITH eb AS (SELECT vec_id, embedding,
         |            ${OracleSql.lshBucket("embedding", 4, 64)} AS bucket
         |            FROM embeddings),
         |j AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, $cos AS cos
         |      FROM (SELECT * FROM eb WHERE vec_id < 8) q
         |      JOIN eb c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id),
         |r AS (SELECT query_id, neighbor_id, cos,
         |      CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS INT) AS rank
         |      FROM j)
         |SELECT query_id, rank, neighbor_id, round(cos, 6) AS cos
         |FROM r WHERE rank <= 10""".stripMargin
    }),

    // IVF scale path, fixed-centroid form: the quantizer is a deterministic
    // LCG (train-once-offline pattern), so the whole pipeline — assignment,
    // probe selection, top-k — is cross-engine reproducible and oracle-gated.
    // The float k-means variant (ivfTopK) stays float-order-dependent and is
    // invariant-tested in ExtOpsSpec; its TRAINED path is gated below via
    // the integer-grid form.
    QuerySpec("ann_ivf_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      SimilarityOps.ivfTopKFixed(emb.filter(col("vec_id") < 8), emb, k = 10,
        nlist = 8, nprobe = 2)
    }, {
      val cosAssign = OracleSql.cosine("e.embedding", "c.cvec")
      val cosPair = OracleSql.cosine("p.qv", "a.embedding")
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
         |probes AS (
         |  SELECT vec_id AS query_id, embedding AS qv, cid FROM (
         |    SELECT e.vec_id, e.embedding, c.cid,
         |           row_number() OVER (PARTITION BY e.vec_id
         |             ORDER BY $cosAssign DESC, c.cid ASC) AS rn
         |    FROM (SELECT * FROM embeddings WHERE vec_id < 8) e, cents c) WHERE rn <= 2),
         |j AS (SELECT p.query_id, a.vec_id AS neighbor_id, $cosPair AS cos
         |      FROM probes p JOIN asgn a ON p.cid = a.cid AND p.query_id <> a.vec_id),
         |r AS (SELECT query_id, neighbor_id, cos,
         |      CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS INT) AS rank
         |      FROM j)
         |SELECT query_id, rank, neighbor_id, round(cos, 6) AS cos
         |FROM r WHERE rank <= 10""".stripMargin
    }),

    // product-quantization ANN: corpus scanned as 8x4-bit codes with a
    // per-query ADC lookup table (the memory-compression search tier;
    // fixed LCG codebooks — cross-engine reproducible)
    QuerySpec("ann_pq_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      SimilarityOps.pqTopK(emb.filter(col("vec_id") < 8), emb, k = 10)
    }, {
      // per-subspace distance list of `embedding`'s slice s to each of
      // the 16 LCG centroids, in code order (the exact fold PqCodesExpr
      // and PqAdcTabsExpr perform)
      def dl(s: Int): String = {
        val xd = s"CAST(embedding[CAST(${s * 8} + d AS INT)+1] AS DOUBLE)"
        val w = OracleSql.lcgUnit(s"((${s}*16+c)*8+d)")
        s"list_transform(range(0, 16), c -> list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
          s"list_transform(range(0, 8), d -> (($xd - $w) * ($xd - $w)))), (a, x) -> a + x))"
      }
      val codeCols = (0 until 8).map(s =>
        s"CAST(list_position(${dl(s)}, list_min(${dl(s)})) - 1 AS INT) AS c$s")
        .mkString(",\n  ")
      val tabCols = (0 until 8).map(s => s"${dl(s)} AS t$s").mkString(",\n  ")
      val adcExpr = (0 until 8).map(s => s"t$s[c$s+1]").mkString(" + ")
      s"""WITH codes AS (SELECT vec_id AS neighbor_id,
         |  $codeCols
         |FROM embeddings),
         |qt AS (SELECT vec_id AS query_id,
         |  $tabCols
         |FROM embeddings WHERE vec_id < 8),
         |pairs AS (SELECT query_id, neighbor_id, $adcExpr AS adc
         |          FROM qt, codes WHERE query_id <> neighbor_id),
         |r AS (SELECT query_id, neighbor_id, adc,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY adc ASC, neighbor_id ASC) AS rnk FROM pairs)
         |SELECT query_id, CAST(rnk AS INT) AS rank, neighbor_id, round(adc, 6) AS adc
         |FROM r WHERE rnk <= 10""".stripMargin
    }),

    // IVF-PQ composition: nprobe inverted lists prune the scan, ADC
    // codes rank inside the probed lists (sublinear AND compressed —
    // the faiss-default shape)
    QuerySpec("ann_ivfpq_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      SimilarityOps.ivfPqTopK(emb.filter(col("vec_id") < 8), emb, k = 10)
    }, {
      // coarse cosine quantizer (as in ann_ivf_topk) + the PQ code/ADC
      // fragments (as in ann_pq_topk), composed
      def dl(s: Int): String = {
        val xd = s"CAST(embedding[CAST(${s * 8} + d AS INT)+1] AS DOUBLE)"
        val w = OracleSql.lcgUnit(s"((${s}*16+c)*8+d)")
        s"list_transform(range(0, 16), c -> list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
          s"list_transform(range(0, 8), d -> (($xd - $w) * ($xd - $w)))), (a, x) -> a + x))"
      }
      val codeCols = (0 until 8).map(s =>
        s"CAST(list_position(${dl(s)}, list_min(${dl(s)})) - 1 AS INT) AS c$s")
        .mkString(",\n  ")
      val tabCols = (0 until 8).map(s => s"${dl(s)} AS t$s").mkString(",\n  ")
      val adcExpr = (0 until 8).map(s => s"q.t$s[l.c$s+1]").mkString(" + ")
      val cosAssign = OracleSql.cosine("e.embedding", "c.cvec")
      s"""WITH cents AS (
         |  SELECT CAST(c AS INT) AS cid,
         |         list_transform(range(0, 64), d -> ${OracleSql.lcgUnit("c*64+d")}) AS cvec
         |  FROM range(0, 8) t(c)),
         |asgn AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT e.vec_id, c.cid,
         |           row_number() OVER (PARTITION BY e.vec_id
         |             ORDER BY $cosAssign DESC, c.cid ASC) AS rn
         |    FROM embeddings e, cents c) WHERE rn = 1),
         |codes AS (SELECT vec_id,
         |  $codeCols
         |FROM embeddings),
         |lists AS (SELECT a.vec_id AS neighbor_id, a.cid,
         |          c0, c1, c2, c3, c4, c5, c6, c7
         |          FROM asgn a JOIN codes USING (vec_id)),
         |probes AS (
         |  SELECT vec_id AS query_id, cid FROM (
         |    SELECT e.vec_id, c.cid,
         |           row_number() OVER (PARTITION BY e.vec_id
         |             ORDER BY $cosAssign DESC, c.cid ASC) AS rn
         |    FROM (SELECT * FROM embeddings WHERE vec_id < 8) e, cents c) WHERE rn <= 2),
         |qt AS (SELECT vec_id AS query_id,
         |  $tabCols
         |FROM embeddings WHERE vec_id < 8),
         |j AS (SELECT p.query_id, l.neighbor_id, $adcExpr AS adc
         |      FROM probes p
         |      JOIN lists l ON p.cid = l.cid AND p.query_id <> l.neighbor_id
         |      JOIN qt q ON q.query_id = p.query_id),
         |r AS (SELECT query_id, neighbor_id, adc,
         |      CAST(row_number() OVER (PARTITION BY query_id
         |        ORDER BY adc ASC, neighbor_id ASC) AS INT) AS rank FROM j)
         |SELECT query_id, rank, neighbor_id, round(adc, 6) AS adc
         |FROM r WHERE rank <= 10""".stripMargin
    }),

    // IVF with a TRAINED quantizer, oracle-gated: Lloyd k-means in exact
    // integer arithmetic (quantization-grid codes, floor-div means,
    // lowest-id seeds, cid tiebreaks) — order-independent, so the oracle
    // replays both training iterations by unrolling them in SQL
    QuerySpec("ann_ivf_trained_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      SimilarityOps.ivfTopKTrainedInt(emb.filter(col("vec_id") < 8), emb,
        k = 10, nlist = 4, nprobe = 2, iters = 2, scale = 512)
    }, {
      // integer squared-L2 on the quantization grid (1-based list index)
      def d(a: String, b: String) =
        s"CAST(list_sum(list_transform(range(1, 65), i -> ($a[i] - $b[i]) * ($a[i] - $b[i]))) AS BIGINT)"
      // nearest-centroid assignment of `src` rows against `cents`
      def asgn(src: String, cents: String) =
        s"""SELECT vec_id, cv, cid FROM (
           |    SELECT c.vec_id, c.cv, s.cid,
           |           row_number() OVER (PARTITION BY c.vec_id
           |             ORDER BY ${d("c.cv", "s.cv")} ASC, s.cid ASC) AS rn
           |    FROM $src c, $cents s) WHERE rn = 1""".stripMargin
      // exact-floor mean per (cid, dim); empty clusters keep prev centroid
      def step(asgnName: String, prev: String) =
        s"""SELECT p.cid, COALESCE(mm.cv, p.cv) AS cv
           |  FROM $prev p LEFT JOIN (
           |    SELECT cid, list((s - ((s % n) + n) % n) // n ORDER BY i) AS cv
           |    FROM (SELECT cid, i, sum(cv[i]) AS s, count(*) AS n
           |          FROM $asgnName, range(1, 65) t(i) GROUP BY cid, i)
           |    GROUP BY cid) mm USING (cid)""".stripMargin
      s"""WITH codes AS (
         |  SELECT vec_id,
         |         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 512) AS BIGINT)) AS cv
         |  FROM embeddings),
         |seed AS (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, cv
         |  FROM (SELECT * FROM codes ORDER BY vec_id LIMIT 4)),
         |a0 AS (${asgn("codes", "seed")}),
         |c1 AS (${step("a0", "seed")}),
         |a1 AS (${asgn("codes", "c1")}),
         |c2 AS (${step("a1", "c1")}),
         |a2 AS (${asgn("codes", "c2")}),
         |lists AS (SELECT vec_id AS neighbor_id, cv AS nv, cid FROM a2),
         |probes AS (
         |  SELECT vec_id AS query_id, cv AS qv, cid FROM (
         |    SELECT c.vec_id, c.cv, s.cid,
         |           row_number() OVER (PARTITION BY c.vec_id
         |             ORDER BY ${d("c.cv", "s.cv")} ASC, s.cid ASC) AS rn
         |    FROM (SELECT * FROM codes WHERE vec_id < 8) c, c2 s) WHERE rn <= 2),
         |j AS (SELECT p.query_id, l.neighbor_id, ${d("p.qv", "l.nv")} AS dist
         |      FROM probes p JOIN lists l
         |        ON p.cid = l.cid AND p.query_id <> l.neighbor_id)
         |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, dist FROM (
         |  SELECT query_id, neighbor_id, dist,
         |         row_number() OVER (PARTITION BY query_id
         |           ORDER BY dist ASC, neighbor_id ASC) AS rank
         |  FROM j) WHERE rank <= 10""".stripMargin
    }),

    // residual IVF-PQ with BOTH quantizers trained (integer Lloyd coarse
    // + per-subspace residual codebooks), oracle-gated end-to-end: the
    // coarse training, residual book training, encoding, probe and ADC
    // ranking are all exact integer arithmetic, so the oracle unrolls
    // the whole build in SQL (subspaces as data — one assign/update CTE
    // pair per Lloyd round covers all 8 books)
    QuerySpec("ann_ivfpq_trained_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      SimilarityOps.ivfPqTopKTrainedInt(emb.filter(col("vec_id") < 8), emb,
        k = 10, nlist = 4, nprobe = 2, m = 8, ncode = 16, iters = 2,
        scale = 512)
    }, {
      // the full residual IVF-PQ build replayed in SQL: coarse integer
      // Lloyd (same CTEs as ann_ivf_trained_topk), integer residuals,
      // per-subspace book training with SUBSPACES AS DATA (s = 0..7
      // rides every row, so one assign/update pair per round trains all
      // 8 books), then probe + ADC ranking. All arithmetic is exact
      // integer; ties break (dist, cid) / (dist, code) like the engine.
      def d64(a: String, b: String) =
        s"CAST(list_sum(list_transform(range(1, 65), i -> ($a[i] - $b[i]) * ($a[i] - $b[i]))) AS BIGINT)"
      def d8(a: String, b: String) =
        s"CAST(list_sum(list_transform(range(1, 9), i -> ($a[i] - $b[i]) * ($a[i] - $b[i]))) AS BIGINT)"
      def asgn(src: String, cents: String) =
        s"""SELECT vec_id, cv, cid FROM (
           |    SELECT c.vec_id, c.cv, s.cid,
           |           row_number() OVER (PARTITION BY c.vec_id
           |             ORDER BY ${d64("c.cv", "s.cv")} ASC, s.cid ASC) AS rn
           |    FROM $src c, $cents s) WHERE rn = 1""".stripMargin
      def step(asgnName: String, prev: String) =
        s"""SELECT p.cid, COALESCE(mm.cv, p.cv) AS cv
           |  FROM $prev p LEFT JOIN (
           |    SELECT cid, list((s - ((s % n) + n) % n) // n ORDER BY i) AS cv
           |    FROM (SELECT cid, i, sum(cv[i]) AS s, count(*) AS n
           |          FROM $asgnName, range(1, 65) t(i) GROUP BY cid, i)
           |    GROUP BY cid) mm USING (cid)""".stripMargin
      // per-(vec, subspace) argmin code against books `bk`
      def passign(src: String, bk: String) =
        s"""SELECT vec_id, s, sv, code FROM (
           |    SELECT r.vec_id, r.s, r.sv, b.code,
           |           row_number() OVER (PARTITION BY r.vec_id, r.s
           |             ORDER BY ${d8("r.sv", "b.bv")} ASC, b.code ASC) AS rn
           |    FROM $src r JOIN $bk b ON b.s = r.s) WHERE rn = 1""".stripMargin
      // floor-div mean update per (s, code, d); empty codes keep bv
      def pstep(asgnName: String, prev: String) =
        s"""SELECT p.s, p.code, COALESCE(mm.bv, p.bv) AS bv
           |  FROM $prev p LEFT JOIN (
           |    SELECT s, code, list((sm - ((sm % n) + n) % n) // n ORDER BY d) AS bv
           |    FROM (SELECT s, code, d, sum(sv[d]) AS sm, count(*) AS n
           |          FROM $asgnName, range(1, 9) t(d) GROUP BY s, code, d)
           |    GROUP BY s, code) mm USING (s, code)""".stripMargin
      s"""WITH codes AS (
         |  SELECT vec_id,
         |         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 512) AS BIGINT)) AS cv
         |  FROM embeddings),
         |seed AS (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, cv
         |  FROM (SELECT * FROM codes ORDER BY vec_id LIMIT 4)),
         |a0 AS (${asgn("codes", "seed")}),
         |c1 AS (${step("a0", "seed")}),
         |a1 AS (${asgn("codes", "c1")}),
         |c2 AS (${step("a1", "c1")}),
         |a2 AS (${asgn("codes", "c2")}),
         |res AS (
         |  SELECT a.vec_id, a.cid,
         |         list_transform(range(1, 65), i -> a.cv[i] - c.cv[i]) AS rv
         |  FROM a2 a JOIN c2 c USING (cid)),
         |rsl AS (
         |  SELECT vec_id, CAST(t.s AS INT) AS s,
         |         list_transform(range(1, 9), d -> rv[t.s * 8 + d]) AS sv
         |  FROM res, range(0, 8) t(s)),
         |b0 AS (
         |  SELECT CAST(t.s AS INT) AS s,
         |         CAST(row_number() OVER (PARTITION BY t.s ORDER BY vec_id) - 1 AS INT) AS code,
         |         list_transform(range(1, 9), d -> rv[t.s * 8 + d]) AS bv
         |  FROM (SELECT * FROM res ORDER BY vec_id LIMIT 16), range(0, 8) t(s)),
         |pa0 AS (${passign("rsl", "b0")}),
         |b1 AS (${pstep("pa0", "b0")}),
         |pa1 AS (${passign("rsl", "b1")}),
         |b2 AS (${pstep("pa1", "b1")}),
         |pa2 AS (${passign("rsl", "b2")}),
         |lists AS (
         |  SELECT p.vec_id AS neighbor_id, r.cid, p.s, p.code
         |  FROM pa2 p JOIN res r USING (vec_id)),
         |probes AS (
         |  SELECT vec_id AS query_id, cid FROM (
         |    SELECT c.vec_id, s.cid,
         |           row_number() OVER (PARTITION BY c.vec_id
         |             ORDER BY ${d64("c.cv", "s.cv")} ASC, s.cid ASC) AS rn
         |    FROM (SELECT * FROM codes WHERE vec_id < 8) c, c2 s) WHERE rn <= 2),
         |qrsl AS (
         |  SELECT p.query_id, p.cid, CAST(t.s AS INT) AS s,
         |         list_transform(range(1, 9), d -> q.cv[t.s * 8 + d] - cc.cv[t.s * 8 + d]) AS sv
         |  FROM probes p
         |  JOIN codes q ON q.vec_id = p.query_id
         |  JOIN c2 cc ON cc.cid = p.cid, range(0, 8) t(s)),
         |j AS (
         |  SELECT q.query_id, l.neighbor_id,
         |         CAST(sum(${d8("q.sv", "b.bv")}) AS BIGINT) AS adc
         |  FROM qrsl q
         |  JOIN lists l ON l.cid = q.cid AND l.s = q.s
         |              AND l.neighbor_id <> q.query_id
         |  JOIN b2 b ON b.s = l.s AND b.code = l.code
         |  GROUP BY q.query_id, l.neighbor_id)
         |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, adc FROM (
         |  SELECT query_id, neighbor_id, adc,
         |         row_number() OVER (PARTITION BY query_id
         |           ORDER BY adc ASC, neighbor_id ASC) AS rank
         |  FROM j) WHERE rank <= 10""".stripMargin
    }),

    // IVF with AUTO-derived sizing (nlist ∝ √N, nprobe = nlist/4 — the
    // SCALE.md rule as the executable default): gated at TWO corpus
    // sizes (full table, and the even-id half) so the derived
    // (nlist, nprobe) pair is itself part of the oracle gate — the SQL
    // re-derives it from count(*) and must land on the same centroids
    QuerySpec("ann_ivf_auto_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      SimilarityOps.ivfTopKAuto(emb.filter(col("vec_id") < 8), emb, k = 10)
    },
      ivfAutoOracle("")),

    // Not benched: the second corpus size of the auto-sizing gate above;
    // the operator is benched as ann_ivf_auto_topk.
    QuerySpec("ann_ivf_auto_topk_half", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val corpus = emb.filter(col("vec_id") % 2 === 0)
      SimilarityOps.ivfTopKAuto(corpus.filter(col("vec_id") < 8), corpus, k = 10)
    },
      ivfAutoOracle("WHERE vec_id % 2 = 0"), benched = false)
  )
}
