package graft.run

import graft.sink.ParquetStateStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet dead-letter table for C3 skip-error mode.
  *
  * The reference's error handling stops at "log and continue"
  * (synch/replication/continuous.py:150-156); the Spark-idiomatic
  * completion (SURVEY §2.6: "try/catch + dead-letter table") persists the
  * failed slice so it is INSPECTABLE (what failed, with which error, in
  * which batch) and REPLAYABLE (re-apply once the cause — a bad row, an
  * unreachable sink, a schema mismatch — is fixed) instead of gone.
  *
  * Layout: one [[ParquetStateStore]] per failed table under
  * `root/<schema>/<table>` (DDL failures under `root/<schema>/_ddl`),
  * versioned by the ORIGINAL micro-batch id. That store's committed-batch
  * idempotence gives exactly-once recording across foreachBatch replays —
  * a retried batch that fails again overwrites the same uncommitted
  * version rather than duplicating rows.
  *
  * Replay keeps the original batch ids: the target table store never
  * committed those versions (the apply failed before commit), so
  * re-applying under the same id preserves end-to-end effectively-once —
  * and a crash between re-apply and [[clear]] is absorbed by the same
  * idempotence on the next drain.
  *
  * Poison-row taxonomy — what parks, and which repair heals it:
  *   - transient sink outage: nothing to fix, [[drain]] as-is;
  *   - wrong sync config (bad PK / engine): fix the [[TableSync]], drain
  *     with the corrected one and `overridePins = true` so the correction
  *     beats the park-time key pins (DeadLetterSpec's first test);
  *   - malformed rows: [[read]] to inspect (`_error` names the cause),
  *     repair or drop the offending rows in the parked store, drain;
  *   - schema mismatch after DDL: restart the stream with the widened
  *     schema (DdlMidStreamSpec story), then drain under it;
  *   - unparseable/failing DDL: parks under `<schema>/_ddl`,
  *     [[drainDdl]] after fixing the target.
  */
final class DeadLetter(spark: SparkSession, root: String) {

  private def storeFor(schema: String, table: String) =
    new ParquetStateStore(spark, s"$root/$schema/$table")

  /** Record one table's slice of a failed micro-batch (canonical event
    * columns), stamped with the batch id and the error. Idempotent per
    * (table, batchId).
    *
    * `preSync` is the table's sync state AS OF THE START of this batch
    * (the `tCur` the live apply parsed under): the r13 park/drain
    * property test found that chaining schemas through parked slices
    * alone is wrong whenever parked batches STRADDLE a batch that
    * applied live — that batch's ALTER was never parked, so the drain's
    * chain missed it and every later parked batch re-parsed with the new
    * column silently nulled. Recording each park's own pre-batch schema
    * makes the drain independent of what happened between parks.
    *
    * r14 (advisor): the pin covers the KEY COLUMN NAMES too
    * (`_pre_pk`, `_pre_version`), not just the value schema — a
    * live-applied CHANGE that renames a pk or version column between two
    * parks used to replay the later parks with the caller's stale names
    * (from_json finds no such field → null keys). `_pre_version` null on
    * a pin-bearing park (non-null `_pre_pk`) means "no version column",
    * not "unknown". */
  def record(events: DataFrame, schema: String, table: String,
             batchId: Long, error: String,
             preSync: Option[TableSync] = None): Unit =
    storeFor(schema, table).append(
      events.withColumn("_batch_id", lit(batchId))
        .withColumn("_error", lit(error))
        .withColumn("_pre_schema",
          lit(preSync.map(_.valueSchema.json).orNull).cast("string"))
        .withColumn("_pre_pk",
          preSync.map(s => typedLit(s.pkCols))
            .getOrElse(lit(null).cast("array<string>")))
        .withColumn("_pre_version",
          lit(preSync.flatMap(_.versionColumn).orNull).cast("string")),
      batchId)

  /** Record DDL statements that failed to parse or apply. `action_seq`
    * preserves the statements' position within the batch: binlog
    * timestamps are coarse, and replaying a same-second ADD + MODIFY pair
    * out of order would fail (or worse, produce the wrong final schema). */
  def recordDdl(schema: String, failures: Seq[(String, Long, String)],
                batchId: Long): Unit =
    if (failures.nonEmpty) {
      import spark.implicits._
      record(
        failures.zipWithIndex
          .map { case ((stmt, eu, err), i) => (stmt, eu, err, i) }
          .toDF("values", "event_unixtime", "_ddl_error", "_seq")
          .select(lit(schema).as("schema"), lit("_ddl").as("table"),
            lit("query").as("action"), col("values"),
            col("event_unixtime"), col("_seq").as("action_seq"),
            col("_ddl_error")),
        schema, "_ddl", batchId, error = "ddl")
    }

  /** Park envelope documents the CDC adapters exclude from the event
    * stream ([[graft.sources.CdcEnvelopes.debeziumDropped]] /
    * `wal2jsonDropped`): truncate/message ops and unparseable documents.
    * These are not replayable through the DML path — truncate has no
    * canonical event — so they land under the reserved `_envelope` table
    * for inspection ([[read]]`("_envelope", "_dropped")`): an operator
    * sees the truncate and re-bootstraps the affected table deliberately,
    * instead of the reference's silent drop. Idempotent per batch id like
    * every other record path. */
  def recordDropped(docs: DataFrame, batchId: Long): Unit =
    storeFor("_envelope", "_dropped").append(
      docs.withColumn("_batch_id", lit(batchId))
        .withColumn("_error", lit("unsupported-envelope-op")),
      batchId)

  /** Dead rows currently parked for a table (None when none). */
  def read(schema: String, table: String): Option[DataFrame] =
    storeFor(schema, table).readLog()

  /** Drop a table's dead rows (after a successful drain). */
  def clear(schema: String, table: String): Unit =
    storeFor(schema, table).truncateAfter(-1L)

  /** Re-apply every parked batch of `table` through the normal apply path
    * (original batch ids, original intra-batch order), then clear exactly
    * the replayed batches. Rows that fail AGAIN stay parked: the drain
    * aborts on the first failing batch, leaving it and everything after
    * it in place (nothing was cleared yet).
    *
    * Slices parked by the r13+ consume loop carry their own PRE-BATCH
    * schema (`_pre_schema`, see [[record]]), so each batch replays under
    * exactly the schema the live apply would have parsed it with — even
    * when parked batches straddle a successfully-applied batch whose
    * ALTER was therefore never parked (the r13 property-test finding:
    * the old parked-slices-only schema chain missed that ALTER and
    * nulled the later parked batches' new columns). For stamp-less
    * legacy parks, pass `t` with the schema as of the FIRST parked
    * batch and the drain falls back to chaining through the parked
    * slices' own DDL rows (which is correct whenever no live-applied
    * DDL sits between parks).
    *
    * Contract on `t` when parks carry pins (every r13+ park): `t` is
    * the CURRENT live sync — which is what every production call site
    * passes. Since r15 its key names are load-bearing again: a key
    * rename that applied live AFTER the last park is visible only as
    * the diff between the last pin and `t`, and the end-of-drain rename
    * compact heals the replayed rows through it (advisor r15). The
    * first-parked-batch convention above applies ONLY to pin-less
    * legacy queues, where that tail diff never engages.
    *
    * Driver memory bound: the only driver-side materialization is the
    * version-id list, a pure directory listing — O(#parked micro-batches)
    * longs, never the rows (plus the parked DDL statements, one string
    * per ALTER). Each batch re-applies as an ordinary distributed job
    * over its own parked version dir — one scan per batch, not a
    * filter over the full merged log per batch (DeadLetterSpec's volume
    * test replays a 1M-row, 12-batch backlog through this path).
    *
    * Safe against a LIVE skip-error stream parking new batches while the
    * drain runs: the bounded clear ([[ParquetStateStore.dropThrough]])
    * removes only the batches this drain replayed.
    */
  def drain(t: TableSync, stateRoot: String,
            overridePins: Boolean = false): Unit = {
    // Same refusal as Consume.start (r14): while a rewind's mutation
    // window is open (crashed between store truncation and checkpoint
    // seek), the stores are half-rewound — a drain here would apply
    // parked batches into a store whose checkpoint still plans past the
    // target, and a drain that runs its end-of-drain rename compact
    // would fold versions PAST the rewind target, after which the
    // mandatory re-run of the rewind refuses on its own compaction
    // guard: consume refuses on the sentinel, rewind refuses on the
    // compaction — the system is wedged short of a re-bootstrap.
    // Finish the rewind first; the drain composes cleanly after it
    // (RewindDrainSpec proves both orders).
    Resume.rewindInProgress(spark, stateRoot).foreach { info =>
      throw new IllegalStateException(
        s"drain refused: a rewind is in progress (or crashed mid-mutation) " +
          s"under $stateRoot [${info.trim.replace('\n', ' ')}] — re-run the " +
          "same rewind to completion before draining (RUNBOOK §3)")
    }
    val parked = storeFor(t.schema, t.table)
    val batchIds = parked.versionIds()
    if (batchIds.isEmpty) return
    val target = new ParquetStateStore(
      spark, s"$stateRoot/${t.schema}/${t.table}")
    // overridePins forces pinned=None for every slice, which also blanks
    // the pin-diff rename bookkeeping below (r15 advisor): a queue whose
    // recorded key pins DISAGREE across parks straddles a live-applied
    // key rename, and replaying every park under ONE overridden key set
    // would null the pre-rename parks' keys with no compact to heal
    // them. Refuse BEFORE any replay (this scan mutates nothing): the
    // operator drains the pre-rename parks first (inspect with read(),
    // clear selectively), then the rest. Agreeing pins are safe — the
    // override replaces one uniform key set with another, no old-name
    // rows exist to compact.
    if (overridePins) {
      val keyPins = batchIds.flatMap { bid =>
        parked.readVersion(bid).flatMap { slice =>
          if (!slice.columns.contains("_pre_pk")) None
          else slice.select(col("_pre_pk"), col("_pre_version"))
            .limit(1).collect().headOption
            .filter(!_.isNullAt(0))
            .map(r => (r.getSeq[String](0).toList, Option(r.getString(1))))
        }
      }.distinct
      if (keyPins.size > 1)
        throw new IllegalStateException(
          s"drain(overridePins): the parked batches' recorded key pins " +
            s"disagree (${keyPins.mkString("; ")}) — the queue straddles a " +
            "live-applied pk/version rename, and overriding every park " +
            "with one key set would null the pre-rename parks' keys; " +
            "drain the pre-rename batches first (read() to inspect, " +
            "clear selectively), then drain the rest")
    }
    // positional key-name diff between two sync states (the pk SET can't
    // change mid-stream, only names can — evolveTable maps in place)
    def keyRenames(prev: TableSync, next: TableSync): Seq[(String, String)] = {
      val pk =
        if (prev.pkCols.length == next.pkCols.length)
          prev.pkCols.zip(next.pkCols).filter { case (o, n) => o != n }
        else Nil
      val vc = (prev.versionColumn, next.versionColumn) match {
        case (Some(o), Some(n)) if o != n => Seq((o, n))
        case _ => Nil
      }
      pk ++ vc
    }
    var cur = t
    // Store-side rename half (r14): rows replayed under a pre-rename
    // schema land with the OLD column name, while later batches (and the
    // live store) carry the new one — the live loop fixes this with a
    // rename compact at the DDL batch (Consume.start's renamesIn hook),
    // which a drain-time replay misses. Collect every rename the drain
    // can see — (a) CHANGEs parked in the slices themselves, (b) key-name
    // diffs between consecutive parks' pins (a rename that applied LIVE
    // between two parks is visible ONLY there) — and run ONE composed
    // rename compact at the end, BEFORE the queue clears: a crash
    // in between re-runs the whole drain idempotently (replays no-op on
    // committed versions, the compact transforms are coalesce-based
    // no-ops once applied). Mid-drain compacts would be unsafe: compact
    // folds version dirs into the max-version base, so a crashed drain's
    // re-replay of a folded batch id would duplicate rows.
    var prevEff: Option[TableSync] = None // post-batch sync of the last pin-rooted replay
    val renames = scala.collection.mutable.ListBuffer.empty[(String, String)]
    batchIds.foreach { bid =>
      parked.readVersion(bid).foreach { slice =>
        val r = replaySlice(slice, t, cur, target, bid, overridePins)
        // key renames that applied live between parks are visible ONLY
        // as diffs between consecutive parks' pins
        for (prev <- prevEff; pin <- r.pinned) renames ++= keyRenames(prev, pin)
        // refuse the one composition renameTransform can't express: this
        // batch re-ADDing a name an EARLIER batch renamed away from — the
        // end-of-drain coalesce would swallow the re-added column's data.
        // (An ADD + CHANGE of the same name WITHIN one batch is the
        // generator's normal shape and composes fine — the check is
        // against renames from strictly earlier batches.)
        val readded = renames.iterator.map(_._1).toSet
          .intersect(r.parkedAdds.toSet)
        if (readded.nonEmpty)
          throw new IllegalStateException(
            s"drain: parked batch $bid re-adds column(s) ${readded.mkString(", ")} " +
              "after an earlier rename away from the same name — the " +
              "end-of-drain rename compact cannot compose these; drain the " +
              "pre-re-add batches first (inspect with read(), clear " +
              "selectively), then drain the rest")
        renames ++= r.parkedRenames
        if (r.pinned.isDefined) prevEff = Some(r.next)
        cur = r.next
      }
    }
    // Tail half of the between-parks diff (r15 advisor, medium): a key
    // rename that applied LIVE after the LAST park is invisible to the
    // consecutive-pin diffs — the last park replays under its pin's old
    // key name into a store the live loop already rename-compacted to
    // the new one. The caller's `t` IS the current live key state (the
    // drain contract), so diffing the last pin-rooted replay's post-sync
    // against it closes the tail exactly like the pin-diffs close the
    // middle. Skipped under overridePins: there the caller's keys differ
    // from the pins BY INTENT (wrong-config repair), not by rename — and
    // the pre-replay scan above already refused the straddle shape.
    // (A parked CHANGE in the last park is already in parkedRenames and
    // in prevEff's post-state, so it never double-counts here; distinct
    // below absorbs any residual overlap.)
    if (!overridePins) prevEff.foreach(prev => renames ++= keyRenames(prev, t))
    val rs = renames.toList.distinct
    if (rs.nonEmpty) {
      // the compact resolves on the sync's key names, which must be the
      // POST-rename ones: `cur` chained through the parks' own DDLs, but
      // tail renames (live, after the last park) are not in that chain —
      // map cur's keys through the composed rename pairs
      val post = rs.foldLeft(cur) { case (s, (o, n)) =>
        s.copy(pkCols = s.pkCols.map(c => if (c == o) n else c),
          versionColumn = s.versionColumn.map(c => if (c == o) n else c))
      }
      Consume.compact(post, target,
        rs.foldLeft((df: DataFrame) => df) { case (f, (o, n)) =>
          f.andThen(Consume.renameTransform(o, n))
        })
    }
    parked.dropThrough(batchIds.max)
  }

  /** One parked batch's replay (the drain loop body; package-visible so
    * the crash-shape property test re-runs a prefix through the SAME
    * code). Returns the post-batch TableSync (for the legacy-chain
    * fallback) plus what [[drain]]'s end-of-drain rename compact needs:
    * the park's pin when it decided the keys, the CHANGE renames and ADD
    * column names parked in this slice (event order within each list). */
  private[run] def replaySlice(slice: DataFrame, t: TableSync,
                               chained: TableSync, target: ParquetStateStore,
                               bid: Long, overridePins: Boolean = false): DeadLetter.Replayed = {
    // slices parked since r12 carry their original _src_file/_src_seq
    // stamps (Consume parks from the stamped frame): collectDdl's
    // stampSourceOrder sees them and keeps the ORIGINAL staged order
    // for same-second ALTERs — re-stamping here would follow parquet
    // part-file layout instead. Pre-r12 slices lack the columns and
    // fall back to the old re-stamp (drop() is lenient about absent
    // names).
    val stamped = slice.drop(
      "_batch_id", "_error", "_pre_schema", "_pre_pk", "_pre_version")
    // r13: prefer the park's own recorded pre-batch schema (see
    // [[record]]); the chained value is the legacy-park fallback. r14:
    // the pin extends to pk/version column NAMES — a live-applied rename
    // between two parks used to replay later parks with the caller's
    // stale names. Pins win by default; `overridePins` is the
    // wrong-config repair path (taxonomy above): the operator fixed the
    // TableSync's keys and wants the correction applied to every parked
    // batch (the schema pin still applies — it must match the parked
    // bytes; the keys are config).
    val have = slice.columns.toSet
    val pinRow =
      if (have("_pre_schema"))
        slice.select(
          col("_pre_schema"),
          (if (have("_pre_pk")) col("_pre_pk")
           else lit(null).cast("array<string>")).as("_pre_pk"),
          (if (have("_pre_version")) col("_pre_version")
           else lit(null).cast("string")).as("_pre_version"))
          .limit(1).collect().headOption
      else None
    val pinned: Option[TableSync] =
      pinRow.flatMap(r => Option(r.getString(0))).flatMap { json =>
        val withSchema = t.copy(valueSchema = org.apache.spark.sql.types
          .DataType.fromJson(json).asInstanceOf[org.apache.spark.sql.types.StructType])
        val r = pinRow.get
        if (overridePins || r.isNullAt(1)) {
          // legacy r13 park (no key pin) or operator override: schema
          // from the pin, keys from the caller — NOT pin-rooted, so the
          // drain's pin-diff never trusts it
          None
        } else Some(withSchema.copy(
          pkCols = r.getSeq[String](1),
          versionColumn = Option(r.getString(2))))
      }
    val cur = pinned.getOrElse {
      pinRow.flatMap(r => Option(r.getString(0))) match {
        case Some(json) => t.copy(valueSchema = org.apache.spark.sql.types
          .DataType.fromJson(json).asInstanceOf[org.apache.spark.sql.types.StructType])
        case None => chained
      }
    }
    val ddls = Consume.collectDdl(stamped, t.schema)
    val events = stamped.drop("_src_file", "_src_seq")
    val next = Consume.evolveTable(cur, ddls)
    Consume.applyBatch(next, target, Consume.tableChangelog(events, cur, ddls), bid)
    DeadLetter.Replayed(
      next, pinned,
      parkedRenames = Consume.renamesIn(ddls).collect {
        case (tbl, o, n) if tbl == t.table => (o, n)
      },
      parkedAdds = Consume.altersOf(t, ddls).collect {
        case (graft.ddl.AlterParser.AddColumn(c, _, _, _, _, _), _) => graft.ddl.AlterParser.bare(c)
      })
  }

  /** Re-run every parked DDL statement of a schema via `runDdl`, in
    * original order (batch, event time, intra-batch position). Statements
    * that fail or still don't parse are RE-PARKED under their original
    * batch id with the fresh error; everything that applied is cleared.
    * Unlike [[drain]], one failure doesn't abort the rest — DDL replay is
    * not idempotent (re-running an applied ADD COLUMN throws), so
    * abort-and-retry-all would wedge the queue on its own first success.
    * Order-dependent failures simply stay parked for the next drain. */
  def drainDdl(schema: String, runDdl: String => Unit): Unit =
    read(schema, "_ddl").foreach { dead =>
      val rows = dead.select("values", "event_unixtime", "action_seq", "_batch_id")
        .orderBy("_batch_id", "event_unixtime", "action_seq").collect()
      val store = storeFor(schema, "_ddl")
      // PER-BATCH clear-and-repark: clearing the whole queue before
      // re-parking would make a crash in that window lose every still-
      // failing statement; per batch the loss window shrinks to one
      // batch's re-park (and a crash after an apply but before its clear
      // re-runs the non-idempotent DDL on the next drain, which FAILS
      // VISIBLY — "already exists" re-parks with that error rather than
      // disappearing).
      rows.groupBy(_.getLong(3)).toSeq.sortBy(_._1).foreach { case (bid, batch) =>
        val failures = batch.flatMap { r =>
          val stmt = r.getString(0); val eu = r.getLong(1)
          graft.ddl.AlterParser.toSparkSql(schema, stmt) match {
            case Some(sql) =>
              try { runDdl(sql); None }
              catch { case e: Exception =>
                Some((stmt, eu, Option(e.getMessage).getOrElse(e.getClass.getName))) }
            case None => Some((stmt, eu, "unparseable"))
          }
        }
        store.deleteVersion(bid)
        if (failures.nonEmpty) recordDdl(schema, failures.toSeq, bid)
      }
    }
}

object DeadLetter {
  /** [[DeadLetter.replaySlice]]'s outcome — see its scaladoc. */
  private[run] final case class Replayed(next: TableSync,
                                         pinned: Option[TableSync],
                                         parkedRenames: Seq[(String, String)],
                                         parkedAdds: Seq[String])
}
