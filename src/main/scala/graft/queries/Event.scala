package graft.queries

import graft.ops.SessionOps
import Shared.t

/** Event-stream rates over `events`: sliding windows, hourly anomalies
  * and JSON property rollups. */
object Event {

  val specs: Seq[QuerySpec] = Seq(
    // overlapping 10-min/5-min windows, map-side window expansion — the
    // batch twin of the streaming sliding aggregation
    QuerySpec("event_rate_sliding", (s, dir) =>
      SessionOps.slidingRates(t(s, dir, "events")),
      // each event belongs to exactly window/slide = 2 sliding windows:
      // the one starting at its slide-grid floor and the one before it
      """WITH e AS (
        |  SELECT event_type, CAST(value AS DECIMAL(28,2)) AS v,
        |         epoch_us(ts) - epoch_us(ts) % 300000000 AS base
        |  FROM events),
        |w AS (SELECT event_type, v,
        |             unnest([base, base - 300000000]) AS win_start_us
        |      FROM e)
        |SELECT win_start_us, event_type, COUNT(*) AS n_events,
        |       CAST(SUM(v) AS DOUBLE) AS total_value
        |FROM w GROUP BY 1, 2""".stripMargin),

    // hourly windows deviating >2 sigma from their type's mean — the
    // z-test multiplied through to exact integer arithmetic
    QuerySpec("event_rate_anomaly", (s, dir) =>
      SessionOps.rateAnomalies(t(s, dir, "events")),
      """WITH wc AS (
        |  SELECT epoch_us(ts) - epoch_us(ts) % 3600000000 AS win_start_us,
        |         event_type, COUNT(*) AS n_events
        |  FROM events GROUP BY 1, 2),
        |st AS (SELECT event_type, COUNT(*) AS n, SUM(n_events) AS s,
        |              SUM(CAST(n_events AS HUGEINT)*n_events) AS ss
        |       FROM wc GROUP BY 1)
        |SELECT wc.win_start_us, wc.event_type, wc.n_events
        |FROM wc JOIN st USING (event_type)
        |WHERE (CAST(wc.n_events AS HUGEINT)*st.n - st.s)
        |        *(CAST(wc.n_events AS HUGEINT)*st.n - st.s)
        |      > 4*(CAST(st.n AS HUGEINT)*st.ss - CAST(st.s AS HUGEINT)*st.s)""".stripMargin),

    // schema-declared JSON property extraction + per-type rollup
    QuerySpec("event_props_json", (s, dir) =>
      SessionOps.propsStats(t(s, dir, "events")),
      """SELECT event_type, COUNT(*) AS n_events,
        |  COUNT(json_extract(props, '$.k')) AS n_with_k,
        |  CAST(SUM(CAST(json_extract(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
        |  CAST(MIN(CAST(json_extract(props, '$.k') AS INTEGER)) AS INTEGER) AS min_k,
        |  CAST(MAX(CAST(json_extract(props, '$.k') AS INTEGER)) AS INTEGER) AS max_k
        |FROM events GROUP BY event_type""".stripMargin)
  )
}
