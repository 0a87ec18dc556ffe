package graft.queries

import graft.ops.SessionOps
import Shared.t

/** Clickstream sessions over `events`: session stats, ordered funnel,
  * retention triangle, top paths and conversion attribution. */
object Session {

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("session_stats", (s, dir) =>
      SessionOps.sessionStats(t(s, dir, "events")),
      """WITH ordered AS (
        |  SELECT user_id, event_id, ts, value,
        |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |flagged AS (
        |  SELECT *, CASE WHEN prev IS NULL
        |                   OR epoch_us(ts) - epoch_us(prev) > 1800000000
        |                 THEN 1 ELSE 0 END AS ns
        |  FROM ordered),
        |sess AS (
        |  SELECT *, CAST(SUM(ns) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        |  FROM flagged)
        |SELECT user_id, session_seq, COUNT(*) AS n_events,
        |       MAX(epoch_us(ts)) - MIN(epoch_us(ts)) AS duration_us,
        |       CAST(SUM(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS total_value
        |FROM sess GROUP BY user_id, session_seq""".stripMargin),

    // ordered funnel (view → click → purchase), greedy first-match:
    // one keyed shuffle + a per-user sorted fold, no per-step self-join
    QuerySpec("session_funnel", (s, dir) =>
      SessionOps.funnelStages(t(s, dir, "events"),
        steps = Seq("view", "click", "purchase")),
      """WITH ue AS (
        |  SELECT user_id,
        |         list_sort(list(struct_pack(us := epoch_us(ts),
        |                                    eid := event_id,
        |                                    et := event_type))) AS evs
        |  FROM events GROUP BY 1),
        |cd AS (
        |  SELECT user_id,
        |         list_transform(evs, e -> CASE WHEN e.et = 'view' THEN 1
        |                                       WHEN e.et = 'click' THEN 2
        |                                       WHEN e.et = 'purchase' THEN 3
        |                                       ELSE 0 END) AS codes
        |  FROM ue)
        |SELECT user_id,
        |  CAST(list_reduce(list_prepend(0, codes),
        |    (st, x) -> CASE WHEN x = st + 1 THEN st + 1 ELSE st END) AS INT) AS stage
        |FROM cd""".stripMargin),

    // retention triangle over epoch days; shuffles carry (user, day) only
    QuerySpec("session_retention", (s, dir) =>
      SessionOps.cohortRetention(t(s, dir, "events")),
      """WITH ud AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
        |coh AS (SELECT user_id, min(day) AS cohort_day FROM ud GROUP BY 1)
        |SELECT c.cohort_day, u.day - c.cohort_day AS day_offset,
        |       count(DISTINCT u.user_id) AS n_users
        |FROM ud u JOIN coh c USING (user_id)
        |GROUP BY 1, 2""".stripMargin),

    // top-20 observed session paths (funnel discovery complement)
    QuerySpec("session_paths", (s, dir) =>
      SessionOps.topPaths(t(s, dir, "events")),
      """WITH ordered AS (
        |  SELECT user_id, event_id, ts, event_type,
        |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |flagged AS (
        |  SELECT *, CASE WHEN prev IS NULL
        |                   OR epoch_us(ts) - epoch_us(prev) > 1800000000
        |                 THEN 1 ELSE 0 END AS ns
        |  FROM ordered),
        |sess AS (
        |  SELECT *, CAST(SUM(ns) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        |  FROM flagged),
        |p AS (SELECT user_id, session_seq,
        |             array_to_string(list(event_type ORDER BY ts, event_id), '>') AS path
        |      FROM sess GROUP BY 1, 2)
        |SELECT path, COUNT(*) AS n_sessions FROM p GROUP BY path
        |ORDER BY n_sessions DESC, path ASC LIMIT 20""".stripMargin),

    // first-/last-touch conversion attribution: both window passes share
    // ONE user-keyed exchange; the rollup is channels×channels tiny
    QuerySpec("session_attribution", (s, dir) =>
      SessionOps.attribution(t(s, dir, "events")),
      """WITH w AS (
        |  SELECT user_id, event_id, ts, event_type, value,
        |    first_value(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ft,
        |    last_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lt
        |  FROM events)
        |SELECT ft AS first_touch, coalesce(lt, 'direct') AS last_touch,
        |       CAST(count(*) AS BIGINT) AS n_conversions,
        |       CAST(SUM(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS revenue
        |FROM w WHERE event_type = 'purchase' GROUP BY 1, 2""".stripMargin)
  )
}
