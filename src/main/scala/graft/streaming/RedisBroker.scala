package graft.streaming

import graft.sources.RespClient
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime

/** Redis-Streams broker transport (reference operator S4's Redis form,
  * synch/broker/redis.py): one stream per schema at
  * `{prefix}:{alias}:{schema}`, XADD capped with `MAXLEN ~`, XREAD
  * micro-batch polls from the last committed id, commit = HSET into
  * `{prefix}:{alias}:last_msg_id` — the same key layout, offset store,
  * and at-least-once contract as the reference (crash between file
  * staging and commit re-delivers; the store's batch-id idempotence
  * absorbs it downstream, exactly as the reference leans on
  * ReplacingMergeTree).
  *
  * Design: a Redis stream is one totally-ordered key, so the source is
  * inherently single-partition — a custom DSv2 MicroBatchStream would
  * add code, not parallelism (contrast Kafka, where partitions exist
  * broker-side). The bridge therefore polls into staged wire-JSON files
  * and [[EventSource.files]] owns Spark-side checkpointing; parallelism
  * begins, as always, at the first downstream exchange. Staged file
  * names are derived from the entry-id range, so a crash-induced
  * re-poll overwrites the same file with identical content instead of
  * duplicating events.
  */
final class RedisBroker(host: String, port: Int, alias: String,
                        prefix: String = "synch",
                        queueMaxLen: Long = 200000,
                        db: Int = 0,
                        password: Option[String] = None) extends AutoCloseable {
  private val client = new RespClient(host, port)
  password.foreach(p => client.command("AUTH", p))
  if (db != 0) client.command("SELECT", db.toString)

  /** mtime (ms) of the last file this broker staged. Spark's file source
    * orders new files by millisecond mtime and breaks ties in listing
    * order, so two polls staged within one millisecond could land in the
    * wrong micro-batch order; each staged file gets an mtime strictly
    * after the previous one's. */
  private var lastStagedMs = 0L

  private def queueKey(schema: String) = s"$prefix:$alias:$schema"
  private def lastIdKey = s"$prefix:$alias:last_msg_id"

  /** XADD one wire-JSON message (reference RedisBroker.send) — returns
    * the broker-assigned stream id. */
  def send(schema: String, msgJson: String): String =
    client.command("XADD", queueKey(schema), "MAXLEN", "~",
      queueMaxLen.toString, "*", "msg", msgJson).asInstanceOf[String]

  /** Pipelined XADD of (schema, wire-JSON) events in sequence order: one
    * network round-trip per call instead of per event, preserving
    * per-stream ordering (RESP replies arrive in command order). This is
    * where the Spark producer beats the reference's one-XADD-per-event
    * loop (synch/redis_mixin.py:46-82) without changing the contract. */
  def sendBatch(events: Seq[(String, String)]): Unit =
    if (events.nonEmpty) {
      client.pipeline(events.map { case (schema, msg) =>
        Seq("XADD", queueKey(schema), "MAXLEN", "~",
          queueMaxLen.toString, "*", "msg", msg)
      })
      ()
    }

  /** [[sendBatch]] with EXPLICIT entry ids — the idempotent produce leg.
    * Ids are `<batchId>-<seq>` (Redis entry-id format: two u64s, strictly
    * increasing per stream), so a crash-replayed micro-batch re-sends the
    * same ids and Redis rejects the already-delivered prefix with
    * "equal or smaller ID", which is swallowed here: duplicates are
    * impossible by construction instead of absorbed downstream. Any other
    * error still throws. The swallow is only safe when rejections really
    * ARE replays — callers follow the [[producedBatch]] protocol
    * (send only when batchId > the broker-side commit, with
    * [[guardForeignTop]] against auto-id/foreign streams, and
    * [[commitProduced]]/[[commitProducedAll]] after the last chunk) so
    * that rejections can only be this run's own pre-crash partials.
    *
    * Returns the schemas for which the broker ACTUALLY APPLIED at least
    * one XADD (replay rejections excluded) — the produce commit uses it
    * to record the trim-relevant cap exactly for the runs whose XADDs
    * could have trimmed. */
  def sendBatchAt(events: Seq[(String, String, String)]): Set[String] =
    sendBatchAtTracked(events)._1

  /** [[sendBatchAt]] that also RETURNS the reject-swallowed (schema, id)
    * pairs instead of discarding them (r13): a rejection is legitimate
    * ONLY for a crash-replay id at or below the schema's surviving
    * prefix top — an id rejected ABOVE that top proves the entry it
    * collided with was deleted (XDEL never lowers the stream's
    * last-generated id), and swallowing it silently loses the event.
    * The produce loop validates every returned pair against its prefix
    * bounds. */
  def sendBatchAtTracked(events: Seq[(String, String, String)])
      : (Set[String], Seq[(String, String)]) =
    if (events.isEmpty) (Set.empty, Nil)
    else {
      val applied = scala.collection.mutable.Set.empty[String]
      val rejected = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      client.pipelineEither(events.map { case (schema, id, msg) =>
        Seq("XADD", queueKey(schema), "MAXLEN", "~",
          queueMaxLen.toString, id, "msg", msg)
      }).zip(events).foreach {
        case (Left(e), (schema, id, _))
            if e.getMessage.contains("equal or smaller") =>
          rejected += ((schema, id)) // replay — caller validates
        case (Left(e), _) => throw e
        case (Right(_), (schema, _, _)) => applied += schema
      }
      (applied.toSet, rejected.toSeq)
    }

  /** The newest entry of a schema's stream as (id, msg) — None when
    * empty; a top entry WITHOUT a `msg` field (foreign producer) still
    * yields its id, with an empty msg. */
  def lastEntry(schema: String): Option[(String, String)] =
    entryAt(client.command("XREVRANGE", queueKey(schema), "+", "-", "COUNT", "1"))

  private def entryAt(reply: Any): Option[(String, String)] = reply match {
    case s: Seq[_] if s.nonEmpty =>
      val e = s.head.asInstanceOf[Seq[Any]]
      val id = e.head.asInstanceOf[String]
      val msg = e(1).asInstanceOf[Seq[String]].grouped(2)
        .collectFirst { case Seq("msg", v) => v }
      Some(id -> msg.getOrElse(""))
    case _ => None
  }

  /** The OLDEST surviving entry of a schema's stream as (id, msg) —
    * None when empty. Together with [[firstEntryOfBatch]] this lets the
    * produce SKIP verification tell "MAXLEN trimmed the batch's head"
    * from "the stream's copy of the batch starts later than ours". */
  def firstEntry(schema: String): Option[(String, String)] =
    entryAt(client.command("XRANGE", queueKey(schema), "-", "+", "COUNT", "1"))

  /** The oldest SURVIVING entry of batch `batchId` in a schema's stream
    * (MAXLEN trimming eats from the head, so this may be later than the
    * batch's true first entry) — None when the whole batch was trimmed. */
  def firstEntryOfBatch(schema: String, batchId: Long): Option[(String, String)] =
    entryAt(client.command("XRANGE", queueKey(schema),
      s"$batchId-0", batchId.toString, "COUNT", "1"))

  /** ALL surviving entries of batch `batchId` as (seq, msg), oldest
    * first — the send-mode crash-replay prefix the producer verifies
    * byte-by-byte (r12; see [[graft.run.Produce.toRedis]]). Fetched
    * only when a stream's top already sits inside the batch being
    * produced (a crash replay), never on the steady-state path, and
    * bounded by the batch size the A1 trigger contract already bounds. */
  def entriesOfBatch(schema: String, batchId: Long): Seq[(Long, String)] =
    client.command("XRANGE", queueKey(schema),
      s"$batchId-0", batchId.toString) match {
      case s: Seq[_] => s.map { e0 =>
        val e = e0.asInstanceOf[Seq[Any]]
        val id = e.head.asInstanceOf[String]
        val msg = e(1).asInstanceOf[Seq[String]].grouped(2)
          .collectFirst { case Seq("msg", v) => v }.getOrElse("")
        (id.dropWhile(_ != '-').drop(1).toLong, msg)
      }
      case _ => Nil
    }

  private def producedKey = s"$prefix:$alias:produced_batch"

  /** The highest batch id FULLY produced into a schema's stream (-1 when
    * none) — the produce-side analogue of the reference's consumer
    * `last_msg_id` commit. [[commitProduced]] advances it after the last
    * XADD of a batch, which is what makes the replay-vs-reset decision
    * unambiguous for the producer (see [[graft.run.Produce.toRedis]]):
    *  - batchId <  produced: a RESET checkpoint (a healthy lineage only
    *    ever replays its LAST batch) — fail loudly;
    *  - batchId == produced: the batch is already fully in the stream —
    *    verify the first and last surviving batch entries byte-identical
    *    (plus the count bound, plus the replayed rows' content digest
    *    against [[producedDigest]]) and SKIP (no re-send, so no stream
    *    pollution on mismatch) — see [[graft.run.Produce.toRedis]];
    *  - batchId >  produced: send; any "equal or smaller ID" rejection
    *    can only be this run's OWN partial pre-crash attempt of this
    *    same deterministic batch (a completed earlier production would
    *    have advanced `produced`), so swallowing it is provably safe —
    *    PROVIDED the stream top is not beyond this batch, which
    *    [[guardForeignTop]] checks (foreign auto-ids / reset remnants).
    */
  def producedBatch(schema: String): Long =
    Option(client.command("HGET", producedKey, schema))
      .map(_.asInstanceOf[String].toLong).getOrElse(-1L)

  /** Single-schema [[commitProducedAll]]; `applied` = did this run
    * actually apply (not reject-swallow) any XADD for the schema.
    * Deliberately NO default: the flag exists to distinguish the
    * cap-stamping path from the max-record path, and defaulting it
    * would silently opt callers into the hazardous branch. */
  def commitProduced(schema: String, batchId: Long, applied: Boolean,
                     digest: Long): Unit =
    commitProducedAll(Seq(schema), batchId,
      if (applied) Set(schema) else Set.empty, Map(schema -> digest))

  private def digestKey = s"$prefix:$alias:produced_digest"
  private def stateKey = s"$prefix:$alias:produced_state"

  /** The schema's stream state as one (firstId, lastId, length) triple —
    * what [[commitProducedAll]] pins and the skip replay re-reads. */
  def streamState(schema: String): (String, String, Long) =
    (firstEntry(schema).map(_._1).getOrElse(""),
      lastEntry(schema).map(_._1).getOrElse(""),
      length(schema))

  /** [[streamState]] for many schemas in ONE pipeline round-trip — the
    * commit-time snapshot runs on the steady-state hot path, and 3N
    * serial round-trips per micro-batch would dominate commit latency on
    * a remote broker (the same reason commitProducedAll pipelines its
    * replay-cap HGETs). */
  def streamStates(schemas: Seq[String]): Map[String, (String, String, Long)] =
    if (schemas.isEmpty) Map.empty
    else {
      val replies = client.pipeline(schemas.flatMap(s => Seq(
        Seq("XRANGE", queueKey(s), "-", "+", "COUNT", "1"),
        Seq("XREVRANGE", queueKey(s), "+", "-", "COUNT", "1"),
        Seq("XLEN", queueKey(s)))))
      schemas.zipWithIndex.map { case (s, i) =>
        s -> ((entryAt(replies(i * 3)).map(_._1).getOrElse(""),
          entryAt(replies(i * 3 + 1)).map(_._1).getOrElse(""),
          replies(i * 3 + 2).asInstanceOf[Long]))
      }.toMap
    }

  /** The stream-state snapshot recorded with the produce commit:
    * (batchId, firstId, lastId, length). The freeze argument (r13,
    * closing the skip half of the trimPlausible lazy-`~` window): Redis
    * removes stream entries ONLY inside an XADD carrying `MAXLEN ~`
    * (this protocol never XDELs/XTRIMs), and between
    * `commitProducedAll(batchId)` and any skip replay of that same
    * batch this lineage issues NO XADD for the schema — skip mode
    * means produced == batchId, which only holds before the NEXT
    * batch's sends. So a faithful stream is bit-FROZEN across that
    * window and the replay can demand exact state equality instead of
    * trim-plausibility heuristics: any drift is foreign interference,
    * refused loudly. Absent for pre-r13 streams (skip verification
    * falls back to the heuristics). */
  def producedState(schema: String): Option[(Long, String, String, Long)] =
    Option(client.command("HGET", stateKey, schema)).map { v =>
      val s = v.asInstanceOf[String]
      val Array(bid, first, last, len) = s.split(":", 4)
      (bid.toLong, first, last, len.toLong)
    }

  /** Upgrade a LEGACY stream (produced before the r13 state pin existed)
    * to pinned WITHOUT waiting for the next produce cycle: record the
    * stream's CURRENT (first, last, length) under its committed batch id.
    * Returns the written pin, or None when there is nothing to do — the
    * schema was never produced, or a pin for the committed (or a
    * forward-dated crashed) batch already exists.
    *
    * Soundness: the freeze argument ([[producedState]]) covers the whole
    * commit→replay window — a faithful stream shows the SAME state at
    * any point T inside it, so a pin taken at T verifies exactly like
    * one taken at the commit. What changes is coverage: tampering AFTER
    * T is now refused exactly; tampering BEFORE T gets pinned as truth —
    * the same shape as waiver #2's "the pin records whatever exists at
    * commit time", and strictly no weaker than the legacy fallback
    * (every heuristic check still runs as an independent condition; the
    * pin only ADDS a refusal). RUNBOOK §6 waiver #1 is retired per
    * schema the moment this (or any r13+ produce commit) runs.
    *
    * Operator tool: must not run concurrently with a live producer for
    * this alias — a pin taken mid-batch would record a partial send as
    * frozen truth. Since r15 that requirement is a MECHANISM, not a
    * runbook sentence: after writing the pin, the stream state is
    * re-read, and if the stream MOVED during the pinning the pin is
    * deleted (only if still ours — a racing producer COMMIT legitimately
    * overwrites it with the true frozen state) and the call refuses
    * loudly. A producer idle across both reads by coincidence is not
    * mid-batch for this schema at pin time — the pinned state is then a
    * valid point-in-time T of the freeze window by the soundness
    * argument above. `midPin` is the test seam: runs between the HSET
    * and the re-read (ProduceProtocolSpec races an XADD through it). */
  def pinExistingState(schema: String): Option[(Long, String, String, Long)] =
    pinExistingState(schema, () => ())

  private[graft] def pinExistingState(schema: String, midPin: () => Unit)
      : Option[(Long, String, String, Long)] = {
    val produced = producedBatch(schema)
    if (produced < 0) None
    else producedState(schema) match {
      // bid == produced: already pinned. bid > produced: a crashed
      // commit's forward-dated pin — the next produce overwrites it,
      // and stamping current state under the OLD batch id would claim
      // the crashed attempt's partial XADDs as batch-`produced` state.
      case Some((bid, _, _, _)) if bid >= produced => None
      case _ =>
        val before = streamState(schema)
        val (f, l, n) = before
        val mine = s"$produced:$f:$l:$n"
        client.command("HSET", stateKey, schema, mine)
        midPin()
        if (streamState(schema) != before) {
          val cur = Option(client.command("HGET", stateKey, schema))
            .map(_.asInstanceOf[String])
          if (cur.contains(mine)) client.command("HDEL", stateKey, schema)
          throw new IllegalStateException(
            s"pinExistingState($schema): stream ${queueKey(schema)} moved " +
              s"during the pinning ($before -> ${streamState(schema)}) — a " +
              "producer is live for this alias and the pin would have " +
              "recorded a mid-batch partial as frozen truth; the pin was " +
              "removed. Stop the producer, then re-run " +
              "`Main streams --upgrade` (RUNBOOK §6 waiver #1)")
        }
        Some((produced, f, l, n))
    }
  }

  /** The per-schema batch-content digest recorded with the produce
    * commit, as (batchId, digest) — None for streams produced before
    * the record existed (r12). The digest is an order-sensitive O(1)
    * rolling fold over the batch's entry payloads in XADD order
    * ([[graft.run.Produce.contentDigest]]); the skip-replay
    * verification compares it against the digest of the REPLAYED rows,
    * which closes the one reset shape first+last+count cannot see:
    * identical endpoints around a diverged interior. Non-cryptographic
    * (FNV-1a): the threat model is accidental divergence detection, not
    * forgery resistance — see the digest comment in
    * [[graft.run.Produce]] (ADVICE r12). */
  def producedDigest(schema: String): Option[(Long, Long)] =
    Option(client.command("HGET", digestKey, schema)).map { v =>
      val s = v.asInstanceOf[String]
      val i = s.indexOf(':')
      (s.take(i).toLong, java.lang.Long.parseUnsignedLong(s.drop(i + 1), 16))
    }

  /** [[commitProduced]] for every schema of a batch in one pipelined
    * round-trip (HSET takes multiple field/value pairs).
    *
    * Alongside the produced commit, each schema's trim-relevant cap is
    * recorded for [[trimPlausible]]:
    *  - `trimExposed` schemas (this run ACTUALLY APPLIED XADDs for
    *    them, per [[sendBatchAt]]'s return) get the cap in force — the
    *    exact cap their trims ran under;
    *  - reject-only replays get `max(existing record, current cap)`:
    *    the batch's XADDs were applied by a CRASHED attempt whose cap
    *    is unknown and any existing record belongs to an OLDER batch —
    *    stamping the replay's own (possibly lowered) cap would launder
    *    a tampered head as a trim, and KEEPING a stale lower record
    *    would do the same after a cap raise; max errs only toward a
    *    loud false refusal. An absent record fills with the current
    *    cap.
    * Residual, NARROWED in r13: the old 4-condition cap-lowering window
    * (crash post-XADD pre-commit, reject-only replay, cap lowered in
    * between, then tampering) is closed on its POST-COMMIT half — the
    * replay's own commit now records a stream-state pin
    * ([[producedState]]) that any later tampering breaks exactly,
    * regardless of what the cap record says. What survives is tampering
    * BETWEEN the crash and the replay, confined by the r13 gap checks
    * to leading-entries-only deletions on a stream still at/above the
    * replayer's configured cap — a forgery byte-indistinguishable from
    * the physical trim process; RUNBOOK §6 carries the formal waiver.
    * Cap and digest records FIRST, produced commit LAST ("produced
    * implies cap+digest recorded" survives a mid-pipeline crash); the
    * produced HSET stays the single atomic commit point for all schemas
    * of the batch.
    *
    * `digests` carries each schema's batch-content digest
    * ([[producedDigest]]); schemas absent from the map keep any prior
    * record (never written blank — a skip replay must not launder its
    * own unverified digest over the producer's). */
  def commitProducedAll(schemas: Iterable[String], batchId: Long,
                        trimExposed: Set[String],
                        digests: Map[String, Long],
                        states: Map[String, (String, String, Long)] = Map.empty): Unit =
    if (schemas.nonEmpty) {
      val ss = schemas.toSeq
      val (exposed, replayOnly) = ss.partition(trimExposed)
      val replayCaps =
        if (replayOnly.isEmpty) Nil
        else client.pipeline(replayOnly.map(s => Seq("HGET", maxlenKey, s)))
          .zip(replayOnly).map { case (v, s) =>
            s -> math.max(Option(v).map(_.asInstanceOf[String].toLong)
              .getOrElse(queueMaxLen), queueMaxLen)
          }
      val caps = exposed.map(_ -> queueMaxLen) ++ replayCaps
      val digested = ss.filter(digests.contains)
      // state pins ride the same pipeline, before the produced HSET
      // commit point — "produced implies state recorded" survives a
      // mid-pipeline crash exactly like the cap and digest records.
      // Never written blank: a skip replay must not launder its own
      // observed state over the producer's frozen record.
      val stated = ss.filter(states.contains)
      client.pipeline(Seq(
        "HSET" +: maxlenKey +: caps.flatMap { case (s, c) => Seq(s, c.toString) }) ++
        (if (digested.isEmpty) Nil else Seq(
          "HSET" +: digestKey +: digested.flatMap(s =>
            Seq(s, s"$batchId:${java.lang.Long.toHexString(digests(s))}")))) ++
        (if (stated.isEmpty) Nil else Seq(
          "HSET" +: stateKey +: stated.flatMap { s =>
            val (f, l, n) = states(s); Seq(s, s"$batchId:$f:$l:$n")
          })) ++
        Seq("HSET" +: producedKey +: ss.flatMap(s => Seq(s, batchId.toString))))
      ()
    }

  /** Fail loudly when a stream's top entry is from beyond `batchId`:
    * with `producedBatch < batchId` that cannot be this lineage's work —
    * the stream carries foreign auto-generated ids or a reset's
    * remnants, and the send path's replay tolerance would silently
    * swallow every add as already-delivered. */
  def guardForeignTop(schema: String, batchId: Long): Unit =
    guardForeignTop(schema, batchId, lastEntry(schema))

  /** [[guardForeignTop]] against a top the caller already fetched — one
    * XREVRANGE serves both the guard and the caller's own top analysis,
    * and both see the SAME top (a foreign XADD racing between two
    * fetches would otherwise make the second analysis misdiagnose). */
  def guardForeignTop(schema: String, batchId: Long,
                      top: Option[(String, String)]): Unit =
    top.foreach { case (id, _) =>
      val topMs = id.takeWhile(_ != '-').toLong
      if (topMs > batchId)
        throw new IllegalStateException(
          s"stream ${queueKey(schema)} top entry $id is ahead of produce " +
            s"batch $batchId: the producer checkpoint was reset or the " +
            "stream carries foreign ids — refusing to silently drop events " +
            "(re-point the checkpoint, or start a fresh stream)")
    }

  def length(schema: String): Long =
    client.command("XLEN", queueKey(schema)).asInstanceOf[Long]

  private def maxlenKey = s"$prefix:$alias:produced_maxlen"

  /** Could MAXLEN trimming have removed entries from this stream?
    * Nothing else deletes entries in this protocol (no XDEL), and
    * `MAXLEN ~ N` never trims BELOW N — so a current length under the
    * cap PROVES no trim ever happened. The produce SKIP verification
    * uses this to refuse a missing batch head it would otherwise have
    * to attribute to trimming.
    *
    * The comparison uses the cap RECORDED at produce time
    * ([[commitProduced]]/[[commitProducedAll]] persist it next to the
    * batch commit), not this broker's configured cap: the stream's
    * history was trimmed under the cap in force THEN. Without the
    * record, a replay under a RAISED cap would loudly refuse a genuine
    * trim, and a replay under a LOWERED cap would silently tolerate a
    * diverged stream's missing head — the recorded cap removes both
    * directions. Falls back to the configured cap for streams produced
    * before the record existed.
    *
    * Necessity caveat (ADVICE r11, pinned in RedisBrokerSpec):
    * `length >= recordedCap` proves a trim was REACHABLE, not that one
    * occurred — real Redis trims `MAXLEN ~` lazily at macro-node
    * granularity, so a never-trimmed stream can sit at or above the cap
    * and a tampered (XDEL'd) batch head on such a stream reads as a
    * trim. Redis exposes no signal that separates the two
    * (`entries-added - length` counts removals but the tamper IS a
    * removal; `max-deleted-entry-id` moves on both). Since r13 the SKIP
    * path no longer depends on this heuristic at all when the commit
    * carries a [[producedState]] pin (exact frozen-state equality —
    * ProduceProtocolSpec pins the closure); the heuristic remains the
    * fallback for pre-r13 streams, and [[trimPlausibleNow]]'s variant
    * gates send-mode leading gaps. The surviving windows are enumerated
    * as a formal waiver in RUNBOOK §6. */
  def trimPlausible(schema: String): Boolean = {
    val producedCap = Option(client.command("HGET", maxlenKey, schema))
      .map(_.asInstanceOf[String].toLong).getOrElse(queueMaxLen)
    length(schema) >= producedCap
  }

  /** [[trimPlausible]] against THIS lineage's configured cap — the right
    * question for a send-mode crash replay's leading gap (r13): the
    * trims being explained ran during the crashed attempt, i.e. under
    * the replayer's own config, while the maxlen RECORD still describes
    * the previous committed batch's cap (a deliberate cap change
    * between batches would otherwise falsely refuse — or falsely
    * tolerate — a legitimate replay). A cap changed between the crash
    * and the replay itself still shifts this comparison; that residual
    * is loud-false-refusal-or-waiver territory, enumerated in
    * RUNBOOK §6. */
  def trimPlausibleNow(schema: String): Boolean =
    length(schema) >= queueMaxLen

  /** The committed resume position ("0" = from the beginning) — the
    * reference's `_get_last_msg_id` HGET. */
  def lastCommittedId(schema: String): String =
    Option(client.command("HGET", lastIdKey, schema))
      .map(_.asInstanceOf[String]).getOrElse("0")

  /** The reference's `commit`: persist the consume position broker-side. */
  def commit(schema: String, msgId: String): Unit =
    client.command("HSET", lastIdKey, schema, msgId)

  /** One micro-batch poll (reference `msgs` loop, redis.py:25-38): XREAD
    * up to `count` entries strictly after the committed id, stage them
    * as ONE text file of wire-JSON lines (tmp write + atomic rename)
    * for [[EventSource.files]], then HSET the new high-water id.
    * Returns the number of staged events (0 = stream drained).
    */
  def pollToStaging(schema: String, stagingDir: String,
                    count: Int = 20000): Int = {
    val last = lastCommittedId(schema)
    val reply = client.command("XREAD", "COUNT", count.toString,
      "STREAMS", queueKey(schema), last)
    reply match {
      case null => 0
      case streams: Seq[_] =>
        // [[key, [[id, [field, value, ...]], ...]]] — first (only) stream
        val entries = streams.head.asInstanceOf[Seq[Any]](1)
          .asInstanceOf[Seq[Seq[Any]]]
        if (entries.isEmpty) 0
        else {
          val lines = entries.map { e =>
            val fields = e(1).asInstanceOf[Seq[String]]
            // field list is (name, value) pairs; the broker writes only
            // the single "msg" field (reference send), but scan anyway
            fields.grouped(2).collectFirst {
              case Seq("msg", v) => v
            }.getOrElse(throw new IllegalStateException(
              s"stream entry ${e.head} has no msg field"))
          }
          val firstId = entries.head.head.asInstanceOf[String]
          val lastId = entries.last.head.asInstanceOf[String]
          Files.createDirectories(Paths.get(stagingDir))
          // zero-padded ids so LEXICOGRAPHIC file-name order equals
          // chronological poll order ("0-10" would sort before "0-9"
          // raw) — the consume loop's cross-file DDL tiebreak sorts on
          // the staged file name (Consume.collectDdlAll)
          def pad(id: String): String = id.split("-") match {
            case Array(ms, sq) => f"${ms.toLong}%020d-${sq.toLong}%020d"
            case _ => id
          }
          val name = s"$schema-${pad(firstId)}-${pad(lastId)}.txt"
          // Naming-version boundary: a poll that crashed under the old
          // UNPADDED naming re-stages under this name, and the stale
          // legacy file would double-ingest its overlap. Deleting it here
          // is WORSE — Spark's file-source offset log may already
          // reference the legacy path for an uncommitted batch, and
          // deleting a referenced file kills the restarted query. The
          // upgrade procedure (RUNBOOK §3) is to stop producer+consumer
          // cleanly and drain or clear the staging dir across a naming
          // change; this code never deletes staged files — but since r12
          // it REFUSES to stage over a skipped runbook step instead of
          // silently duplicating events (ADVICE r11):
          refuseLegacyOverlap(schema, stagingDir,
            idTuple(firstId), idTuple(lastId))
          val tmp = Paths.get(stagingDir, s".$name.tmp")
          Files.write(tmp, lines.mkString("", "\n", "\n").getBytes(UTF_8))
          val mtime = synchronized {
            lastStagedMs = math.max(System.currentTimeMillis(), lastStagedMs + 1)
            lastStagedMs
          }
          Files.setLastModifiedTime(tmp, FileTime.fromMillis(mtime))
          Files.move(tmp, Paths.get(stagingDir, name),
            StandardCopyOption.ATOMIC_MOVE,
            StandardCopyOption.REPLACE_EXISTING)
          commit(schema, lastId)
          lines.length
        }
    }
  }

  private def idTuple(id: String): (Long, Long) = id.split("-") match {
    case Array(ms, sq) => (ms.toLong, sq.toLong)
    case _ => (-1L, -1L)
  }

  /** Refuse to stage a file whose entry-id range overlaps a LEGACY
    * (pre-padding) staged file for the same schema: that shape means the
    * RUNBOOK §3 naming-upgrade procedure was skipped across a crashed
    * poll, and staging would double-ingest the overlap. Never deletes
    * the legacy file (the file-source offset log may reference it) —
    * the loud refusal is the point. Padded siblings are exempt: a
    * re-poll of the same range legitimately overwrites its own file. */
  private[streaming] def refuseLegacyOverlap(schema: String, stagingDir: String,
                                  first: (Long, Long), last: (Long, Long)): Unit = {
    // Scanned on EVERY poll, deliberately uncached: the invariant is
    // "no staged file may overlap a legacy file present AT STAGING
    // TIME", and any cache window lets an overlap staged during it be
    // COMMITTED past (polls read strictly after the committed id, so a
    // later rescan can never re-detect it). Two r12 review rounds tried
    // a cache and each bought a correctness hole; the listing cost is
    // one readdir per poll, and the recommended long-horizon config
    // (`EventSource.files(cleanSource=delete)`, RUNBOOK §2) keeps the
    // dir bounded anyway. A FAILED listing fails CLOSED: the refusal
    // runs before the tmp write and the commit, so throwing retries
    // the same range on the next poll (the production poller catches
    // and retries) — failing open would be the one permanently
    // undetectable double-ingest window left.
    val legacy = Option(new java.io.File(stagingDir).listFiles()) match {
      case None =>
        throw new IllegalStateException(
          s"cannot list staging dir $stagingDir for the legacy-overlap " +
            "check — refusing to stage unguarded (transient FS errors " +
            "retry on the next poll; nothing was committed)")
      case Some(files) =>
        // legacy naming = raw (unpadded) id components; the padded
        // format always prints 20 digits per component
        files.iterator.map(_.getName)
          .filter(_.endsWith(".txt"))
          .flatMap { n =>
            val parts = n.stripSuffix(".txt").split("-")
            if (parts.length >= 5 &&
                parts.takeRight(4).forall(p => p.nonEmpty && p.forall(_.isDigit)) &&
                parts.takeRight(4).exists(_.length != 20))
              Some((parts.dropRight(4).mkString("-"), parts.takeRight(4).toSeq))
            else None
          }.toSeq
    }
    if (legacy.isEmpty) return
    val ord = implicitly[Ordering[(Long, Long)]]
    // a legacy-shaped component too long for a Long can't be a real
    // Redis id: such a file gets its OWN refusal naming the corrupt
    // filename — diagnosing it as an overlap would send the operator
    // to the naming-upgrade drain procedure for a file that needs
    // deleting, not draining. Scoped to THIS schema's prefix (like the
    // overlap branch): a corrupt-named stray for schema X is inert for
    // every other schema's staging (it names no real range, so it can
    // never be the source of a cross-schema double-ingest), and an
    // unscoped refusal let one junk file halt the whole transport —
    // every schema's staging — until an operator deleted it. The stray
    // still fails loudly the moment ITS schema is polled.
    val (parseable, corrupt0) = legacy.partition(_._2.forall(_.toLongOption.isDefined))
    val corrupt = corrupt0.filter(_._1 == schema)
    if (corrupt.nonEmpty)
      throw new IllegalStateException(
        s"staging dir $stagingDir holds legacy-shaped file(s) with " +
          s"UNPARSEABLE id components " +
          corrupt.map { case (sch, ids) => s"$sch-${ids.mkString("-")}.txt" }
            .mkString(", ") +
          " — not a real staged range (ids overflow a Redis entry id); " +
          "remove or rename the stray file(s), then restart the poll " +
          "(nothing was committed)")
    val conflicts = parseable.collect {
      case (sch, ids) if sch == schema && {
        val Seq(a, b, c, d) = ids.map(_.toLong)
        !(ord.lt((c, d), first) || ord.gt((a, b), last))
      } => s"$sch-${ids.mkString("-")}.txt"
    }
    if (conflicts.nonEmpty)
      throw new IllegalStateException(
        s"staging dir $stagingDir holds LEGACY-named file(s) " +
          s"${conflicts.mkString(", ")} overlapping the id range being " +
          s"staged for schema $schema: the pre-padding naming upgrade " +
          "was not drained (RUNBOOK §3) and staging would double-ingest " +
          "the overlap — stop the consumer, drain or clear the staging " +
          "dir, then restart (this code never deletes staged files: the " +
          "offset log may reference them)")
  }

  /** Drain the stream into staging until a poll comes back empty. */
  def drainToStaging(schema: String, stagingDir: String,
                     count: Int = 20000): Long = {
    var total = 0L
    var n = pollToStaging(schema, stagingDir, count)
    while (n > 0) { total += n; n = pollToStaging(schema, stagingDir, count) }
    total
  }

  override def close(): Unit = client.close()
}
