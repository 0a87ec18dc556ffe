package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Event-time streaming operators — watermarks + windows. The reference has
  * no event-time semantics at all (SURVEY.md §2.7: ordering is producer
  * wall-clock, late data applied in arrival order); these are north-star
  * extensions (§7.5) for the training-data pipeline side, built on
  * Structured Streaming's native session and sliding windows.
  */
object StreamOps {

  /** Gap-based sessionization over a stream (the streaming twin of
    * [[graft.ops.SessionOps.sessionize]]): state is bounded by the
    * watermark; output appends one row per closed session.
    */
  def sessionStats(events: DataFrame, gap: String = "30 minutes",
                   watermark: String = "1 hour",
                   userCol: String = "user_id", tsCol: String = "ts",
                   valueCol: String = "value"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(col(userCol), session_window(col(tsCol), gap))
      .agg(count(lit(1)).as("n_events"),
        sum(col(valueCol).cast("decimal(28,2)")).cast("double").as("total_value"))
      .select(col(userCol),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("total_value"))

  /** Cross-batch streaming dedup by event id, state bounded by the
    * watermark — upgrades the at-least-once broker leg to exactly-once
    * event delivery without unbounded state (the reference can only dedup
    * within one flush buffer, synch/writer/merge_tree.py:63-85).
    */
  def dedupEvents(events: DataFrame, idCols: Seq[String] = Seq("event_id"),
                  tsCol: String = "ts", watermark: String = "1 hour"): DataFrame = {
    require(idCols.nonEmpty, "dedupEvents needs at least one id column")
    events.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(idCols.head, idCols.tail: _*)
  }

  /** Sliding (overlapping) window rates per type — the streaming twin of
    * [[graft.ops.SessionOps.slidingRates]], with identical window
    * assignment, so a batch backfill reconciles with the live stream
    * row-for-row. State is (windows open within the watermark) × types —
    * bounded; each event updates size/slide window states map-side.
    */
  def slidingRates(events: DataFrame, size: String = "10 minutes",
                   slide: String = "5 minutes", watermark: String = "1 hour",
                   tsCol: String = "ts", typeCol: String = "event_type",
                   valueCol: String = "value"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(org.apache.spark.sql.functions.window(col(tsCol), size, slide),
        col(typeCol))
      .agg(count(lit(1)).as("n_events"),
        sum(col(valueCol).cast("decimal(28,2)")).cast("double").as("total_value"))
      .select(col("window.start").as("window_start"), col(typeCol),
        col("n_events"), col("total_value"))

  /** Streaming funnel progression — the stateful twin of
    * [[graft.ops.SessionOps.funnelStages]], built on
    * `flatMapGroupsWithState` (the custom-state escape hatch for
    * semantics windows/joins can't express: monotone per-key progress
    * that must survive across micro-batches). State per user is ONE int
    * (the stage reached); each batch folds its events in event-time
    * order and emits a row only when the stage advances — so output is
    * the user's progress edge, not a per-event firehose.
    *
    * State is bounded by the distinct-user count, not event volume, and
    * a production deployment adds `GroupStateTimeout` eviction for
    * dormant users (kept NoTimeout here so the spec is deterministic).
    *
    * Ids are handled GENERICALLY (r13 review): the key travels as its
    * string form and is cast back to the input column's type on output,
    * so non-numeric user/event ids work exactly as they do in the batch
    * twin (the old `cast("long")` crashed every batch on string ids with
    * a non-nullable-field error). Within-batch ties at equal event time
    * break by the event id's NATURAL order — numeric ids numerically
    * (via the long leg), everything else by string order — matching the
    * batch twin's array_sort on the untyped id.
    *
    * Reconciliation bound vs the batch twin: events are folded in
    * event-time order WITHIN a micro-batch, but a step-k event arriving
    * in a LATER batch than a step-k+1 event cannot retroactively reorder
    * — streaming state is monotone in arrival order across batches (the
    * reference's own CDC ordering model). A backfill over the final data
    * reconciles whenever cross-batch arrival respects event time (the
    * broker leg's per-partition ordering); for sources that reorder
    * across micro-batches, treat the batch twin as the authority.
    */
  def funnelStages(events: DataFrame, steps: Seq[String],
                   userCol: String = "user_id", tsCol: String = "ts",
                   typeCol: String = "event_type",
                   idCol: String = "event_id"): DataFrame = {
    require(steps.nonEmpty && steps.distinct.length == steps.length,
      "funnel steps must be non-empty and distinct")
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val userType = events.schema(userCol).dataType
    // (key-as-string, event µs, id numeric leg, id string leg, type):
    // the numeric leg carries the id ONLY when the column's TYPE is
    // numeric — matching the batch twin's array_sort on the untyped id
    // exactly. A value-level try_cast would numerically order numeric-
    // LOOKING string ids ("9" before "10") where the batch twin sorts
    // them as strings — the dbf125e meta-review catch; string-typed ids
    // keep a constant numeric leg so the string leg alone decides. The
    // leg is decimal(38,18), not long (6c9d783 meta-review): a long leg
    // truncated fractional ids (-1.5 and -1.4 tied) and nulled
    // DECIMAL(20,0) ids past Long range — both re-broke twin parity —
    // and try_cast (not cast) keeps an ANSI session from throwing on
    // the rare unrepresentable value (NaN, >1e20), which falls to the
    // string leg instead.
    val idNumeric = events.schema(idCol).dataType
      .isInstanceOf[org.apache.spark.sql.types.NumericType]
    val zeroDec = new java.math.BigDecimal(0)
    val numLeg0 = col(idCol).try_cast("decimal(38,18)")
    // decimal-UNREPRESENTABLE numeric ids (double NaN/±Infinity/|x|≥1e20,
    // decimal(38,0) ≥ 1e20) can't interleave by value — rank them where
    // the batch twin's native sort puts them: negatives before every
    // representable value, positives and NaN after (Spark sorts NaN
    // greatest; `NaN < 0` is false so it lands at +1). Ties AMONG
    // unrepresentables of the same sign fall to the string leg — the one
    // documented divergence from the batch twin's native order, bounded
    // to same-user same-µs pairs of such ids.
    val idRank =
      if (idNumeric)
        // null ids rank LOWEST (-2): the batch twin's struct sort puts a
        // null eid first at a given µs, and without the rank a null id's
        // coalesced numeric leg (0) sorted after every negative id
        when(col(idCol).isNull, lit(-2)).otherwise(
          when(numLeg0.isNull,
            when(col(idCol) < 0, lit(-1)).otherwise(lit(1))).otherwise(lit(0)))
      else lit(0)
    val idNumLeg = if (idNumeric) coalesce(numLeg0, lit(zeroDec)) else lit(zeroDec)
    val typed = events.select(
      col(userCol).cast("string"), unix_micros(col(tsCol)), idRank,
      idNumLeg,
      // null-safe string leg: Ordering[String] NPEs on a null id, which
      // killed the whole query for same-µs null-id pairs (the batch
      // twin's array_sort handles them); "" sorts first like null does
      coalesce(col(idCol).cast("string"), lit("")), col(typeCol))
      .as[(String, Long, Int, BigDecimal, String, String)]
    val stepIdx = steps.zipWithIndex.map { case (s, i) => s -> (i + 1) }.toMap
    def advance(user: String, rows: Iterator[(String, Long, Int, BigDecimal, String, String)],
                state: GroupState[Int]): Iterator[(String, Int)] = {
      val start = state.getOption.getOrElse(0)
      var stage = start
      // deterministic within-batch order: (event time, event id)
      rows.toSeq.sortBy(r => (r._2, r._3, r._4, r._5)).foreach { r =>
        if (stepIdx.get(r._6).contains(stage + 1)) stage += 1
      }
      if (stage != start) { state.update(stage); Iterator((user, stage)) }
      else Iterator.empty
    }
    typed.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(advance)
      .toDF(userCol, "stage")
      .withColumn(userCol, col(userCol).cast(userType))
  }

  /** Watermarked stream-stream interval join — "a `right` event follows
    * a `left` event by the same key within `withinSec`" (click-follows-
    * view, purchase-follows-click). Both sides carry watermarks and the
    * join condition bounds event time on BOTH ends, so Spark derives a
    * state-retention bound for each side and evicts matched/expired rows
    * — the state never grows beyond (watermark + withinSec) of stream
    * history per key. Without the time bound this join would be
    * unbounded-state and Spark rejects it in append mode; the bound IS
    * the scale story.
    */
  def joinWithin(left: DataFrame, right: DataFrame, withinSec: Long,
                 keyCol: String = "user_id", tsCol: String = "ts",
                 watermark: String = "1 hour",
                 idCol: String = "event_id"): DataFrame = {
    require(withinSec > 0, "withinSec must be positive")
    val l = left.withWatermark(tsCol, watermark).alias("l")
    val r = right.withWatermark(tsCol, watermark).alias("r")
    l.join(r,
      col(s"l.$keyCol") === col(s"r.$keyCol") &&
        col(s"r.$tsCol") >= col(s"l.$tsCol") &&
        col(s"r.$tsCol") <= col(s"l.$tsCol") + expr(s"INTERVAL $withinSec SECONDS"))
      .select(col(s"l.$keyCol").as(keyCol),
        col(s"l.$idCol").as("lead_id"), col(s"l.$tsCol").as("lead_ts"),
        col(s"r.$idCol").as("follow_id"), col(s"r.$tsCol").as("follow_ts"))
  }
}
