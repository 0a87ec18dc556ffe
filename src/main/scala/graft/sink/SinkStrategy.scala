package graft.sink

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** ClickHouse table-engine semantics re-realized for Spark sinks.
  *
  * The reference delegates upsert/delete/collapse semantics to ClickHouse
  * *merge-time* behavior (synch/writer/{merge_tree,replacing_merge_tree,
  * collapsing_merge_tree,versioned_collapsing_merge_tree}.py). A Spark sink
  * has no background merge, so each engine's contract is realized either
  * eagerly at write time (MergeTree) or lazily at read time over an
  * append-only change log (Replacing/Collapsing/VersionedCollapsing) — the
  * append-only forms are the 100 TB-friendly ones: every micro-batch is a
  * blind parquet append, and resolution is one keyed window per read (or a
  * periodic compaction job that rewrites `resolve(log)` as the new base).
  *
  * All functions are pure DataFrame transforms; storage is the caller's
  * concern (see [[ParquetStateStore]] and [[graft.run.Consume]]).
  */
final case class SinkKeys(
    pkCols: Seq[String],
    versionCol: String = "event_unixtime",
    tieBreakers: Seq[String] = Seq("action_seq"))

object SinkStrategy {

  private def orderDesc(k: SinkKeys) =
    (k.versionCol +: k.tieBreakers).map(c => col(c).desc)

  /** Latest event per PK in a batch (operator A2 applied across actions:
    * the final action for a key decides its fate).
    */
  def latestPerKey(batch: DataFrame, k: SinkKeys): DataFrame = {
    val w = Window.partitionBy(k.pkCols.map(col): _*).orderBy(orderDesc(k): _*)
    batch.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
  }

  // -------------------------------------------------------------------
  // MergeTree: eager delete-then-insert (reference merge_tree.py flush
  // path: ALTER ... DELETE WHERE pk IN (...) followed by bulk INSERT).
  /** Merge one deduplicated micro-batch into the current state:
    * rows whose final action is delete vanish; others replace/insert.
    * The batch side is orders of magnitude smaller than the state at
    * scale, so its key set is broadcast for the anti-join.
    *
    * `latest` is deliberately NOT cached even though it feeds two legs:
    * both legs are cheap keyed plans, and a cache here would leak into
    * executor storage on every micro-batch of a long-running stream
    * (nobody downstream can unpersist a plan-internal cache). This is the
    * eager form used by the JDBC leg and the `engine_mergetree` oracle
    * query; the streaming store path appends deltas instead — see
    * [[graft.run.Consume.applyBatch]].
    */
  def mergeTreeApply(state: DataFrame, batch: DataFrame, k: SinkKeys,
                     actionCol: String = "action"): DataFrame = {
    val latest = latestPerKey(batch, k)
    val touchedKeys = latest.select(k.pkCols.map(col): _*).distinct()
    val survivors = state.join(broadcast(touchedKeys), k.pkCols, "left_anti")
    val upserts = latest.filter(col(actionCol) =!= "delete")
      .select(state.columns.toSeq.map(col): _*)
    survivors.unionByName(upserts)
  }

  // -------------------------------------------------------------------
  // ReplacingMergeTree(version): append-only upsert log; read-time view
  // keeps the max-version row per key (replacing_merge_tree.py:10-41).
  /** Read-time resolution of an append-only upsert log. Deletes are
    * represented as tombstone rows (action='delete') and filtered after
    * picking the winner, matching ClickHouse `FINAL` + `is_deleted`-style
    * usage.
    */
  def replacingResolve(log: DataFrame, k: SinkKeys,
                       actionCol: String = "action"): DataFrame = {
    val w = Window.partitionBy(k.pkCols.map(col): _*).orderBy(orderDesc(k): _*)
    val winner = log.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
    if (winner.columns.contains(actionCol)) winner.filter(col(actionCol) =!= "delete")
    else winner
  }

  /** COMPACT-time fold of an upsert log: the per-key winner INCLUDING
    * delete-winner tombstone rows. The read-time view ([[replacingResolve]])
    * filters tombstones; the fold must NOT — a compacted base without them
    * forgets that a key was deleted, and a later-arriving EARLIER batch
    * (a dead-letter drain replaying below the base, the r16 drain property
    * generator's trial-43 find) re-inserts the key with nothing left to
    * outrank it: the deleted row resurrects. Keeping the tombstone costs
    * one row per deleted-and-never-reinserted key (standard LSM tombstone
    * retention); a later fold drops it automatically once a newer live row
    * wins the key. */
  def replacingFold(log: DataFrame, k: SinkKeys): DataFrame = {
    val w = Window.partitionBy(k.pkCols.map(col): _*).orderBy(orderDesc(k): _*)
    log.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
  }

  // -------------------------------------------------------------------
  // CollapsingMergeTree(sign): signed append; a key is visible iff its
  // sign-sum is positive; visible value = latest +1 row
  // (collapsing_merge_tree.py:12-58).
  def collapsingResolve(log: DataFrame, k: SinkKeys,
                        signCol: String = "sign"): DataFrame = {
    val valueCols = log.columns.filterNot(c => k.pkCols.contains(c))
    // visible value = latest +1 row: cancel (-1) rows vote in the net sum
    // but must not donate their (stale/tombstone) row image, so the max_by
    // key is nulled for them (max_by ignores null keys)
    val pos = col(signCol) > 0
    log.filter(col(signCol) =!= 0)
      .groupBy(k.pkCols.map(col): _*)
      .agg(sum(col(signCol).cast("long")).as("_net"),
           max_by(when(pos, struct(valueCols.toSeq.map(col): _*)),
             when(pos, struct((k.versionCol +: k.tieBreakers).map(col): _*))).as("_last"))
      .filter(col("_net") > 0)
      .select(k.pkCols.map(col) ++ valueCols.map(c => col(s"_last.$c").as(c)): _*)
  }

  /** COMPACT-time fold for the sign engines, ClickHouse-merge-conformant
    * (r16): a merge keeps ONE `sign=+1` row for a positive-net group, ONE
    * `sign=-1` row for a negative-net group, and nothing for a fully
    * collapsed group — it does NOT erase negative nets the way the
    * read-time view hides them. The old fold reused [[collapsingResolve]]
    * (net > 0 only), so an uncancelled cancel (-1 arriving before its +1,
    * e.g. while that +1 sat parked in the dead letter) vanished at the
    * next compaction and the late +1 replay resurrected a row the stream
    * had deleted. `groupCols` is the collapse scope: pk for
    * CollapsingMergeTree, pk + version for VersionedCollapsing (the old
    * VCMT fold ALSO truncated to the top version per pk, so an ordinary
    * later cancel of that top version had no older version left to
    * reveal). Net magnitudes beyond ±1 truncate to one row, exactly like
    * a ClickHouse merge (documented there: post-merge state cancels with
    * a single row). */
  def collapsingFold(log: DataFrame, k: SinkKeys, groupCols: Seq[String],
                     signCol: String = "sign"): DataFrame = {
    val valueCols = log.columns.filterNot(c => groupCols.contains(c))
    val pos = col(signCol) > 0
    val ord = struct((k.versionCol +: k.tieBreakers).map(col): _*)
    val folded = log.filter(col(signCol) =!= 0)
      .groupBy(groupCols.map(col): _*)
      .agg(sum(col(signCol).cast("long")).as("_net"),
           max_by(when(pos, struct(valueCols.toSeq.map(col): _*)), when(pos, ord)).as("_pos"),
           max_by(when(!pos, struct(valueCols.toSeq.map(col): _*)), when(!pos, ord)).as("_neg"))
      .filter(col("_net") =!= 0)
      .withColumn("_row", when(col("_net") > 0, col("_pos")).otherwise(col("_neg")))
    folded.select(groupCols.map(col) ++ valueCols.map(c =>
        (if (c == signCol) when(col("_net") > 0, lit(1)).otherwise(lit(-1))
          .cast("tinyint").as(signCol)
         else col(s"_row.$c").as(c))): _*)
  }

  // -------------------------------------------------------------------
  // VersionedCollapsingMergeTree(sign, version): same, but cancellation is
  // version-aware — a (-1) row cancels the (+1) row of the *same version*
  // regardless of arrival order (versioned_collapsing_merge_tree.py:10-31).
  def versionedCollapsingResolve(log: DataFrame, k: SinkKeys,
                                 signCol: String = "sign"): DataFrame = {
    val valueCols = log.columns.filterNot(c => k.pkCols.contains(c))
    log.groupBy((k.pkCols :+ k.versionCol).map(col): _*)
      .agg(sum(col(signCol).cast("long")).as("_net"),
           max_by(struct(valueCols.toSeq.map(col): _*), col(signCol)).as("_row"))
      .filter(col("_net") > 0)
      .withColumn("_rn", row_number().over(
        Window.partitionBy(k.pkCols.map(col): _*).orderBy(col(k.versionCol).desc)))
      .filter(col("_rn") === 1)
      .select(k.pkCols.map(col) ++ valueCols.map(c => col(s"_row.$c").as(c)): _*)
  }

  /** When-to-compact policy for the append-only engines — the scheduling
    * half of ClickHouse's background merge / OPTIMIZE, which the
    * reference leans on implicitly (its writers only ever INSERT and let
    * the server merge, e.g. replacing_merge_tree.py). Two classic LSM
    * triggers, either sufficient:
    *
    *   - `maxDeltaVersions`: read-time resolution unions every committed
    *     delta, so the version count bounds both the file-listing cost
    *     and the resolve fan-in under continuous ingest;
    *   - `maxDeltaToBaseRatio`: compaction rewrites O(state) bytes, so it
    *     must not run per batch — only once the accumulated deltas are a
    *     meaningful fraction of the base does the rewrite amortize
    *     (size-ratio policy; with no base yet, the count trigger rules).
    *
    * Pure decision over [[ParquetStateStore.versionStats]] — callers own
    * the actual [[graft.run.Consume.compact]] call.
    */
  final case class CompactionPolicy(
      maxDeltaVersions: Int = 8,
      maxDeltaToBaseRatio: Double = 1.0)

  def shouldCompact(stats: Seq[(Long, Long, Boolean)],
                    policy: CompactionPolicy): Boolean = {
    val (bases, deltas) = stats.partition(_._3)
    val baseBytes = bases.map(_._2).sum
    val deltaBytes = deltas.map(_._2).sum
    deltas.size > policy.maxDeltaVersions ||
      (baseBytes > 0 && deltaBytes > policy.maxDeltaToBaseRatio * baseBytes)
  }
}
