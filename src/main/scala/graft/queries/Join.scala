package graft.queries

import graft.ops.JoinOps
import org.apache.spark.sql.functions._
import Shared.{t, tsUs}

/** Temporal joins over `events` and `orders`: as-of joins (backward,
  * bounded, forward, nearest) and bucketed range / interval joins. */
object Join {

  val specs: Seq[QuerySpec] = Seq(
    // backward as-of join (events ← most recent order at-or-before ts):
    // union-merge plan, one exchange, no row amplification
    QuerySpec("asof_join", (s, dir) => {
      val ev = t(s, dir, "events").select(col("event_id"), col("user_id"), col("ts"))
      JoinOps.asofJoin(ev, t(s, dir, "orders"),
          leftKey = "user_id", rightKey = "o_custkey",
          leftTs = "ts", rightTs = "o_orderdate",
          payloadCols = Seq("o_orderkey", "o_totalprice", "o_orderdate"),
          tieBreak = "o_orderkey")
        .select(col("event_id"), col("user_id"), tsUs(col("ts")).as("ts_us"),
          col("o_orderkey"), col("o_totalprice"),
          tsUs(col("o_orderdate")).as("o_orderdate_us"))
    },
      // reference (row-amplifying) formulation of the same as-of semantics;
      // the engine's union-merge plan must agree row-for-row
      """WITH j AS (
        |  SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us,
        |         o.o_orderkey, o.o_totalprice,
        |         epoch_us(o.o_orderdate) AS o_orderdate_us,
        |         row_number() OVER (PARTITION BY e.event_id
        |           ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
        |  FROM events e JOIN orders o
        |    ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts)
        |SELECT event_id, user_id, ts_us, o_orderkey, o_totalprice, o_orderdate_us
        |FROM j WHERE rn = 1""".stripMargin),

    // forward as-of: each order's FIRST event at-or-after its date (same
    // union-merge plan scanning time descending; this orientation is the
    // nonempty one on the fixture — orders predate every event)
    QuerySpec("asof_join_forward", (s, dir) => {
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      JoinOps.asofJoin(o, t(s, dir, "events"),
          leftKey = "o_custkey", rightKey = "user_id",
          leftTs = "o_orderdate", rightTs = "ts",
          payloadCols = Seq("event_id", "ts"),
          tieBreak = "event_id", direction = "forward")
        .select(col("o_orderkey"), col("o_custkey"),
          tsUs(col("o_orderdate")).as("o_orderdate_us"),
          col("event_id"), tsUs(col("ts")).as("event_ts_us"))
    },
      """WITH j AS (
        |  SELECT o.o_orderkey, o.o_custkey,
        |         epoch_us(o.o_orderdate) AS o_orderdate_us,
        |         e.event_id, epoch_us(e.ts) AS event_ts_us,
        |         row_number() OVER (PARTITION BY o.o_orderkey
        |           ORDER BY e.ts ASC, e.event_id DESC) AS rn
        |  FROM orders o JOIN events e
        |    ON o.o_custkey = e.user_id AND e.ts >= o.o_orderdate)
        |SELECT o_orderkey, o_custkey, o_orderdate_us, event_id, event_ts_us
        |FROM j WHERE rn = 1""".stripMargin),

    // nearest as-of: each event's closest same-user purchase by absolute
    // gap (both scan directions live inside the events time range;
    // backward preferred on exact ties)
    QuerySpec("asof_join_nearest", (s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
          col("event_id").as("p_event_id"))
      JoinOps.asofJoin(
          ev.select(col("event_id"), col("user_id"), col("ts")), purchases,
          leftKey = "user_id", rightKey = "p_user",
          leftTs = "ts", rightTs = "p_ts",
          payloadCols = Seq("p_event_id", "p_ts"),
          tieBreak = "p_event_id", direction = "nearest")
        .select(col("event_id"), col("user_id"), tsUs(col("ts")).as("ts_us"),
          col("p_event_id"), tsUs(col("p_ts")).as("p_ts_us"))
    },
      """WITH p AS (SELECT user_id AS p_user, ts AS p_ts, event_id AS p_event_id
        |           FROM events WHERE event_type = 'purchase'),
        |j AS (
        |  SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us,
        |         p.p_event_id, epoch_us(p.p_ts) AS p_ts_us,
        |         row_number() OVER (PARTITION BY e.event_id ORDER BY
        |           abs(epoch_us(p.p_ts) - epoch_us(e.ts)) ASC,
        |           CASE WHEN p.p_ts <= e.ts THEN 0 ELSE 1 END ASC,
        |           p.p_event_id DESC) AS rn
        |  FROM events e JOIN p ON e.user_id = p.p_user)
        |SELECT event_id, user_id, ts_us, p_event_id, p_ts_us
        |FROM j WHERE rn = 1""".stripMargin),

    // bucketed point-in-interval range join (attribution: events inside a
    // 2h window after a same-user purchase) — equi-join on (key, bucket),
    // never a nested-loop
    QuerySpec("range_join", (s, dir) => {
      val ev = t(s, dir, "events")
      val pts = ev.select(col("event_id"), col("event_type"), col("user_id"),
        tsUs(col("ts")).as("ts_us"))
      val iv = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
          tsUs(col("ts")).as("start_us"),
          (tsUs(col("ts")) + lit(7200000000L)).as("end_us"))
      JoinOps.rangeJoin(pts, iv, "ts_us", "start_us", "end_us",
          bucket = 3600000000L, leftKey = Some("user_id"),
          rightKey = Some("p_user"))
        .filter(col("event_id") =!= col("purchase_id"))
        .select(col("event_id"), col("event_type"), col("user_id"),
          col("ts_us"), col("purchase_id"), col("start_us"))
    },
      // reference formulation: plain key + BETWEEN join; the bucketed plan
      // must agree row-for-row
      """WITH p AS (SELECT event_id, event_type, user_id, epoch_us(ts) AS ts_us
        |           FROM events),
        |i AS (SELECT event_id AS purchase_id, user_id AS p_user,
        |             epoch_us(ts) AS start_us, epoch_us(ts) + 7200000000 AS end_us
        |      FROM events WHERE event_type = 'purchase')
        |SELECT p.event_id, p.event_type, p.user_id, p.ts_us,
        |       i.purchase_id, i.start_us
        |FROM p JOIN i ON p.user_id = i.p_user
        |             AND p.ts_us BETWEEN i.start_us AND i.end_us
        |WHERE p.event_id <> i.purchase_id""".stripMargin),

    // bounded-lookback as-of (pandas merge_asof tolerance): matches
    // farther back than the bound drop. 7.5e14 µs splits the fixture's
    // event→order gaps (7.1e14..8.5e14 — events are decades after the
    // TPC-H order dates) so both arms are exercised.
    QuerySpec("asof_join_tolerance", (s, dir) => {
      val ev = t(s, dir, "events").select(col("event_id"), col("user_id"), col("ts"))
      JoinOps.asofJoin(ev, t(s, dir, "orders"),
          leftKey = "user_id", rightKey = "o_custkey",
          leftTs = "ts", rightTs = "o_orderdate",
          payloadCols = Seq("o_orderkey", "o_totalprice", "o_orderdate"),
          tieBreak = "o_orderkey", tolerance = Some(750000000000000L))
        .select(col("event_id"), col("user_id"), tsUs(col("ts")).as("ts_us"),
          col("o_orderkey"), col("o_totalprice"),
          tsUs(col("o_orderdate")).as("o_orderdate_us"))
    },
      // the tolerance re-ranks over the SAME candidates then drops
      // out-of-bound winners (not "rank among in-bound") — matching the
      // operator's null-out-after-window semantics and pandas merge_asof
      """WITH j AS (
        |  SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us,
        |         o.o_orderkey, o.o_totalprice,
        |         epoch_us(o.o_orderdate) AS o_orderdate_us,
        |         row_number() OVER (PARTITION BY e.event_id
        |           ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
        |  FROM events e JOIN orders o
        |    ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts)
        |SELECT event_id, user_id, ts_us, o_orderkey, o_totalprice, o_orderdate_us
        |FROM j WHERE rn = 1 AND ts_us - o_orderdate_us <= 750000000000000""".stripMargin),

    // interval-interval overlap (view windows x purchase windows, same
    // user) — bucket-blocked with a responsibility bucket, no dedup pass
    QuerySpec("interval_join", (s, dir) => {
      val ev = t(s, dir, "events")
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("user_id"),
          tsUs(col("ts")).as("v_start_us"),
          (tsUs(col("ts")) + lit(1800000000L)).as("v_end_us"))
      val buys = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
          tsUs(col("ts")).as("p_start_us"),
          (tsUs(col("ts")) + lit(7200000000L)).as("p_end_us"))
      JoinOps.intervalJoin(views, buys,
          "v_start_us", "v_end_us", "p_start_us", "p_end_us",
          bucket = 3600000000L, leftKey = Some("user_id"),
          rightKey = Some("p_user"))
        .select(col("view_id"), col("user_id"), col("v_start_us"),
          col("purchase_id"), col("p_start_us"))
    },
      // naive overlap-join reference: the engine's bucketed plan must agree
      // row-for-row with the O(n*m) formulation
      """WITH v AS (
        |  SELECT event_id AS view_id, user_id,
        |         epoch_us(ts) AS v_start_us, epoch_us(ts) + 1800000000 AS v_end_us
        |  FROM events WHERE event_type = 'view'),
        |p AS (
        |  SELECT event_id AS purchase_id, user_id,
        |         epoch_us(ts) AS p_start_us, epoch_us(ts) + 7200000000 AS p_end_us
        |  FROM events WHERE event_type = 'purchase')
        |SELECT v.view_id, v.user_id, v.v_start_us, p.purchase_id, p.p_start_us
        |FROM v JOIN p ON v.user_id = p.user_id
        |  AND v.v_start_us <= p.p_end_us AND p.p_start_us <= v.v_end_us""".stripMargin)
  )
}
