package graft.queries

import graft.OracleSql
import graft.ops.SketchOps
import org.apache.spark.sql.functions._
import Shared.t

/** Verifiable sketches: histogram quantiles, count-min, HyperLogLog and
  * count-min-prescreened heavy hitters, each reproducible in the oracle. */
object Sketch {

  val specs: Seq[QuerySpec] = Seq(
    // portable-hash HyperLogLog (64 registers) vs the exact count —
    // a verifiable sketch: every register reproduces in the oracle
    QuerySpec("sketch_hll_users", (s, dir) => {
      val ev = t(s, dir, "events")
      SketchOps.hllDistinct(ev, "user_id", Seq("event_type"))
        .join(ev.groupBy(col("event_type"))
          .agg(countDistinct(col("user_id")).as("n_exact")), "event_type")
    }, {
      val pow2 = (0 to 32).map(b => 1L << b).mkString("[", ",", "]")
      val h = OracleSql.ph("CAST(user_id AS VARCHAR)")
      s"""WITH h0 AS (
         |  SELECT event_type, $h AS h0 FROM events WHERE user_id IS NOT NULL),
         |hashed AS (
         |  SELECT event_type,
         |    ((h0 * h0 + 12345) % ${OracleSql.P} * 1103515245 + 12345)
         |      % ${OracleSql.P} AS h FROM h0),
         |rr AS (
         |  SELECT event_type, CAST(h % 64 AS INT) AS reg,
         |    CASE WHEN h // 64 = 0 THEN CAST(32 AS BIGINT)
         |         ELSE list_reduce(list_prepend(CAST(32 AS BIGINT), range(0, 32)),
         |           (acc, b) -> CASE WHEN acc = 32
         |               AND ((h // 64) // ($pow2)[CAST(b AS INT)+1]) % 2 = 1
         |             THEN b + 1 ELSE acc END)
         |    END AS rho
         |  FROM hashed),
         |regs AS (SELECT event_type, reg, MAX(rho) AS m
         |         FROM rr GROUP BY event_type, reg),
         |est AS (
         |  SELECT event_type,
         |    SUM(1.0 / CAST(($pow2)[CAST(m AS INT)+1] AS DOUBLE)) AS s,
         |    COUNT(*) AS nreg
         |  FROM regs GROUP BY event_type)
         |SELECT e.event_type,
         |  round(CASE WHEN 0.709 * 64 * 64 / (e.s + CAST(64 - e.nreg AS DOUBLE))
         |               <= 2.5 * CAST(64 AS DOUBLE) AND e.nreg < 64
         |        THEN CAST(64 AS DOUBLE)
         |             * ln(CAST(64 AS DOUBLE) / CAST(64 - e.nreg AS DOUBLE))
         |        ELSE 0.709 * 64 * 64 / (e.s + CAST(64 - e.nreg AS DOUBLE)) END, 6)
         |    AS hll_estimate,
         |  x.n_exact
         |FROM est e JOIN (SELECT event_type, COUNT(DISTINCT user_id) AS n_exact
         |                 FROM events GROUP BY event_type) x USING (event_type)""".stripMargin
    }),

    // count-min frequency estimates for the heaviest users — all-integer
    // sketch, estimate >= exact by construction (one-sided CM guarantee)
    QuerySpec("sketch_cm_counts", (s, dir) => {
      val ev = t(s, dir, "events")
      val top = ev.groupBy(col("user_id")).agg(count(lit(1)).as("n_exact"))
        .orderBy(col("n_exact").desc, col("user_id").asc).limit(10)
      SketchOps.countMin(ev, "user_id", top.select(col("user_id")))
        .join(top, "user_id")
    }, {
      val aL = graft.functions.CrossHash.A.take(4).mkString("[", ",", "]")
      val bL = graft.functions.CrossHash.B.take(4).mkString("[", ",", "]")
      val h = OracleSql.ph("CAST(user_id AS VARCHAR)")
      def cellCte(src: String, name: String) =
        s"""$name AS (
           |  SELECT user_id, CAST(t.r AS INT) AS row,
           |    ((((((($h) * ($h) + 12345) % ${OracleSql.P}
           |          * 1103515245 + 12345) % ${OracleSql.P})
           |        * ($aL)[CAST(t.r AS INT)+1] + ($bL)[CAST(t.r AS INT)+1])
           |      % ${OracleSql.P}) % 256) AS col
           |  FROM $src, range(0, 4) t(r))""".stripMargin
      s"""WITH ${cellCte("events", "cells")},
         |sketch AS (SELECT row, col, COUNT(*) AS cnt FROM cells GROUP BY 1, 2),
         |exact AS (SELECT user_id, COUNT(*) AS n_exact FROM events GROUP BY 1),
         |top AS (SELECT user_id, n_exact FROM exact
         |        ORDER BY n_exact DESC, user_id ASC LIMIT 10),
         |${cellCte("top", "pc")},
         |est AS (SELECT pc.user_id, MIN(COALESCE(s.cnt, 0)) AS cm_estimate
         |        FROM pc LEFT JOIN sketch s USING (row, col) GROUP BY pc.user_id)
         |SELECT e.user_id, e.cm_estimate, t.n_exact
         |FROM est e JOIN top t USING (user_id)""".stripMargin
    }),

    // constant-state quantile estimates: 64-bucket token-length histogram
    // per language, p50/p95 as covering-bucket upper edges (all-integer)
    QuerySpec("sketch_hist_quantiles", (s, dir) => {
      import graft.functions.CrossHash.{tokens => tok}
      // null-text docs are excluded ON THE TEXT COLUMN (not on n_tok):
      // under legacy sizeOfNull, size(null) is -1 rather than null, and
      // an n_tok-based exclusion would silently diverge from the oracle
      // on a legacy-compat session
      val withLen = t(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("lang"), size(tok(col("text"))).cast("long").as("n_tok"))
      SketchOps.histogramQuantiles(withLen, "n_tok", Seq("lang"),
        maxValue = 128L, nBuckets = 64)
    },
      s"""WITH n AS (SELECT lang,
         |           CAST(len(${OracleSql.tokens("text")}) AS BIGINT) AS v
         |           FROM documents WHERE text IS NOT NULL),
         |b AS (SELECT lang, CAST(least(greatest((v * 64) // 128, 0), 63) AS INT) AS bk
         |     FROM n WHERE v IS NOT NULL),
         |h AS (SELECT lang, bk, COUNT(*) AS c FROM b GROUP BY 1, 2),
         |cum AS (SELECT lang, bk, c,
         |        SUM(c) OVER (PARTITION BY lang ORDER BY bk
         |          ROWS UNBOUNDED PRECEDING) AS cm,
         |        SUM(c) OVER (PARTITION BY lang) AS nn FROM h),
         |p50 AS (SELECT lang, MIN((bk + 1) * 128 // 64) AS p50
         |        FROM cum WHERE cm * 100 >= nn * 50 GROUP BY lang),
         |p95 AS (SELECT lang, MIN((bk + 1) * 128 // 64) AS p95
         |        FROM cum WHERE cm * 100 >= nn * 95 GROUP BY lang)
         |SELECT p50.lang, p50.p50, p95.p95
         |FROM p50 JOIN p95 USING (lang)""".stripMargin),

    // exact heavy hitters via count-min prescreen: the probe filter runs
    // map-side against the broadcast d×w sketch (no false negatives —
    // count-min only overestimates), so the exact-count shuffle carries
    // candidate tokens only, never the full vocabulary
    QuerySpec("sketch_heavy_hitters", (s, dir) => {
      import graft.functions.CrossHash.{tokens => tok}
      SketchOps.heavyHitters(
        t(s, dir, "documents").select(explode(tok(lower(col("text")))).as("tok")),
        "tok", threshold = 900L)
    },
      // the Spark side is exact (count-min prescreen has no false
      // negatives, survivors are exactly counted) — the oracle is the
      // plain exact formulation
      s"""WITH ${OracleSql.toksCte(lower = true)},
         |ti AS (SELECT unnest(tk) AS tok FROM toks)
         |SELECT tok, CAST(count(*) AS BIGINT) AS n
         |FROM ti GROUP BY tok HAVING count(*) >= 900""".stripMargin)
  )
}
