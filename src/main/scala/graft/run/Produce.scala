package graft.run

import graft.ops.CdcOps
import graft.streaming.EventSource
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The produce leg (reference `synch produce`, §3.2): ingest a raw CDC
  * feed, normalize to canonical ChangeEvents, apply the producer-side
  * filters, and route to the broker partitioned per schema (X1).
  *
  * The reference tails a binlog in-process; Spark-natively the capture
  * agent (Debezium or similar) lands raw events on a topic/directory and
  * this query normalizes + routes. Producer position persistence
  * (synch/redis_mixin.py:46-82) is replaced by the checkpoint.
  */
object Produce {

  /** Normalize + filter a raw canonical-JSON stream (T2/T3 pushdown
    * happens here, before the broker, exactly like the reference's
    * producer-side only_schemas/only_tables/skip_dmls).
    */
  def normalize(raw: DataFrame,
                schemas: Seq[String] = Nil, tables: Seq[String] = Nil,
                skipDmls: Set[String] = Set.empty,
                skipDeleteTables: Set[String] = Set.empty,
                skipUpdateTables: Set[String] = Set.empty): DataFrame =
    CdcOps.filterDml(
      CdcOps.filterTables(raw, schemas, tables),
      skipDmls, skipDeleteTables, skipUpdateTables)

  /** Start producing to a Kafka broker, keyed by schema so each schema is
    * one ordered partition stream (X1, synch/broker/kafka.py:32-38).
    */
  def toKafka(events: DataFrame, bootstrap: String,
              topic: String, checkpoint: String,
              triggerInterval: String = "1 second"): StreamingQuery =
    kafkaProjection(events)
      .writeStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("topic", topic)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime(triggerInterval))
      .start()

  /** The Kafka leg's (key, value) projection, factored out so its wire
    * fidelity is pinned without a broker (ProduceSpec): key = schema
    * (per-schema partition ordering, X1) and value = the SAME
    * [[EventSource.wireStruct]] JSON the file and Redis legs emit, so
    * every transport is byte-interchangeable. The broker handoff itself
    * ships option-threading-verified only in this container — see the
    * waiver in RUNBOOK §6 (no Kafka connector jar, no egress). */
  private[run] def kafkaProjection(events: DataFrame): DataFrame =
    events.select(col("schema").cast("string").as("key"),
      EventSource.wireStruct(events).as("value"))

  /** Start producing to a Redis-Streams broker (the reference's default
    * transport, synch/broker/redis.py:19-23): one XADD-capped stream per
    * schema. A Redis stream's order IS its XADD order and the reference's
    * producer is a single serial connection, so each micro-batch is
    * sorted by (event_unixtime, action_seq) and sent through one
    * driver-side connection via a sorted `toLocalIterator` in pipelined
    * 512-command chunks — order-correct by construction, memory-bounded
    * by the A1 trigger contract (`insert_num` events per flush), and
    * ~2 orders of magnitude past the reference's one-RTT-per-event
    * producer against a remote broker.
    *
    * Delivery is EXACTLY-ONCE into the stream: entry ids are explicit
    * `<batchId>-<seq>` over a TOTAL (deterministic) sort, so a crash
    * between partial XADD and checkpoint commit replays the same ids and
    * Redis rejects the already-delivered prefix
    * ([[graft.streaming.RedisBroker.sendBatchAt]]) — `stop()` interrupts
    * mid-batch (see [[Lifecycle]]), so without this the replayed batch
    * would re-XADD under fresh auto-ids, land as NEW downstream batches,
    * and a Collapsing-family table would keep a net +2 row no single
    * delete can ever cancel. `brokerF` is a factory so each batch gets a
    * fresh connection (a long-lived socket would not survive driver
    * restarts).
    */
  def toRedis(events: DataFrame,
              brokerF: () => graft.streaming.RedisBroker, checkpoint: String,
              triggerInterval: String = "1 second"): StreamingQuery =
    events.select(col("schema").cast("string").as("schema"),
        EventSource.wireStruct(events).as("value"),
        col("event_unixtime"), col("action_seq"))
      .writeStream
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        val broker = brokerF()
        try {
          // the trailing (schema, value) keys make the sort TOTAL, so a
          // replayed batch assigns every event the same id it got before
          // the crash — ties on (time, seq) must not reorder across runs
          val it = df.orderBy(col("event_unixtime").asc, col("action_seq").asc,
              col("schema").asc, col("value").asc)
            .select(col("schema"), col("value")).toLocalIterator()
          import scala.jdk.CollectionConverters._
          produceBatch(broker,
            it.asScala.map(r => (r.getString(0), r.getString(1))), batchId)
        } finally broker.close()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime(triggerInterval))
      .start()

  /** One micro-batch of the exactly-once Redis produce protocol, over
    * the batch's rows in TOTAL (deterministic, replay-stable) order.
    * Package-private so the crash-matrix spec can drive every crash
    * point × resume directly (ProduceProtocolSpec).
    */
  private[run] def produceBatch(broker: graft.streaming.RedisBroker,
                                rows: Iterator[(String, String)],
                                batchId: Long): Unit = {
    // pipelined chunks: ordering is per XADD sequence, so chunking
    // only amortizes round-trips, it never reorders
    val buf = scala.collection.mutable.ArrayBuffer.empty[(String, String, String)]
    // Per-schema mode from the broker-side produce commit
    // (RedisBroker.producedBatch — see its scaladoc for the replay/
    // reset/foreign case analysis):
    //   batchId >  produced → SEND (guard the top against foreign
    //                         ids first; when the top sits INSIDE
    //                         this batch's id space it must be this
    //                         run's own pre-crash partial — verify
    //                         byte-identity at EVERY surviving
    //                         prefix entry (r12; top-only left an
    //                         interior slot for a crafted foreign
    //                         entry under a byte-exact foreign
    //                         top), so prefix rejections are then
    //                         provably our own pre-crash partials)
    //   batchId == produced → SKIP: the batch is fully in the
    //                         stream; verify byte-identity at the
    //                         stream's FIRST surviving batch entry
    //                         and at its top WITHOUT sending, so a
    //                         reset that landed on the same batch
    //                         id fails loudly with zero pollution.
    //                         Interior entries are verified in O(1)
    //                         space against the content digest the
    //                         producing run committed (r12), and the
    //                         stream's (first, last, length) must
    //                         EQUAL the state pinned at the commit
    //                         (r13: the stream is provably frozen in
    //                         between — no XADD, hence no trim). The
    //                         pin and the trim-plausibility heuristic
    //                         are INDEPENDENT necessary conditions:
    //                         the pin covers the post-commit window,
    //                         the heuristic the pre-commit one.
    //   batchId <  produced → reset checkpoint: fail loudly
    val sendMode = scala.collection.mutable.Map.empty[String, Boolean]
    // SKIP schemas: the stream top's (seq, msg); byte-verified when
    // this run's event at that seq passes, pending until then
    val skipTops = scala.collection.mutable.Map.empty[String, (Long, String)]
    // SKIP schemas: the oldest SURVIVING batch entry's (seq, msg,
    // trimCouldExplain) — a missing batch head is tolerated ONLY when
    // trimming can actually explain it: no pre-batch entries survive
    // AND the stream sits at its MAXLEN cap (nothing else deletes
    // entries, and `MAXLEN ~` never trims below the cap, so a stream
    // under the cap PROVES no trim ever happened — a gap there is a
    // diverged reset, not a trim)
    val skipFirsts = scala.collection.mutable.Map.empty[String, (Long, String, Boolean)]
    val firstSeen = scala.collection.mutable.Set.empty[String]
    val pending = scala.collection.mutable.Set.empty[String]
    // SEND schemas whose stream top sits inside this batch's id space:
    // a genuine replay's stream prefix is this run's own pre-crash
    // partial — EVERY surviving prefix entry is byte-verified as this
    // run's sequence passes it (r12; top-only verification left an
    // interior slot where a crafted foreign entry under a byte-exact
    // foreign top could ride the reject-swallow). The queue is the
    // batch's surviving entries oldest-first; fetched only on crash
    // replays, never on the steady-state path.
    val sendPrefix =
      scala.collection.mutable.Map.empty[String, scala.collection.mutable.ArrayDeque[(Long, String)]]
    // the ORIGINAL (first, last) surviving seqs of each send prefix —
    // the deque is consumed as it verifies, but the gap classification
    // below needs the fetch-time bounds: a missing seq BELOW the first
    // surviving entry is the trim shape (MAXLEN eats oldest), a missing
    // seq strictly INSIDE the bounds is one no trim can produce (r13:
    // an interior XDEL used to reject-swallow silently)
    val prefixBounds = scala.collection.mutable.Map.empty[String, (Long, Long)]
    // leading-gap tolerance, one probe per schema: no pre-batch
    // survivors (headIntact) AND length >= the configured cap
    val leadTrimOk = scala.collection.mutable.Map.empty[String, Boolean]
    // first in-range prefix hole per schema — the interior-hole proof
    // completes when a LATER prefix entry byte-verifies (see the walk)
    val gapBefore = scala.collection.mutable.Map.empty[String, Long]
    val sent = scala.collection.mutable.Set.empty[String]
    // schemas whose XADDs this run ACTUALLY APPLIED (not reject-swallowed
    // replays): only these could have trimmed, so only these get the cap
    // in force stamped EXACTLY at commit; reject-only schemas get the
    // conservative max(existing, current) instead — see
    // RedisBroker.commitProducedAll's record policy
    val trimExposed = scala.collection.mutable.Set.empty[String]
    // Per-schema order-sensitive content digest over this run's rows,
    // folded O(1) per event. SEND schemas record it with the commit;
    // SKIP schemas compare it against the record the ORIGINAL producer
    // committed — closing the one reset shape first+last+count cannot
    // see (identical endpoints around a diverged interior, formerly
    // the pinned residual in ProduceProtocolSpec). Threat model
    // (ADVICE r12): FNV-1a is not cryptographic, so this detects
    // NON-ADVERSARIAL divergence — a checkpoint reset onto a
    // same-shape stream — not a deliberate forgery; an adversary who
    // can write the matching endpoints can also collide or overwrite
    // the digest record itself. The adversarial interior-insert shape
    // is closed separately where it is actually reachable: the SEND
    // path byte-verifies every surviving prefix entry. The digest is
    // over the producer's deterministic row sequence, not the stream,
    // so MAXLEN trimming never weakens it.
    val digests = scala.collection.mutable.Map.empty[String, Long]
    // SKIP schemas: the committed (batch-matching) digest to verify
    // against after the loop; absent for pre-r12 streams (fall back to
    // the endpoint checks alone)
    val skipDigests = scala.collection.mutable.Map.empty[String, Long]
    def flush(): Unit = {
      val (applied, rejectedIds) = broker.sendBatchAtTracked(buf.toSeq)
      // r13 (meta-review of e0d092e): a reject-swallow is legitimate
      // ONLY at or below the schema's surviving prefix top — XDEL never
      // lowers the stream's last-generated id, so a rejection ABOVE the
      // fetched top proves the colliding entry was deleted after the
      // crash (a TRAILING deletion the gap classification below cannot
      // see); swallowing it would silently lose the event
      rejectedIds.foreach { case (schema, id) =>
        val rseq = id.dropWhile(_ != '-').drop(1).toLong
        if (!prefixBounds.get(schema).exists { case (_, lastS) => rseq <= lastS })
          throw new IllegalStateException(
            s"stream for schema $schema rejected the XADD of $id as " +
              "already-assigned, but the id sits ABOVE the surviving " +
              s"prefix top${prefixBounds.get(schema).fold(" (no surviving prefix at all)")(
                b => s" ${batchId}-${b._2}")}: the entry it collided " +
              "with was deleted after the crash (deletion never lowers " +
              "the last-generated id) — refusing to reject-swallow the " +
              "replay (the event would be silently lost)")
      }
      trimExposed ++= applied
      buf.clear()
    }
    // do any entries OLDER than this batch survive? `MAXLEN ~` eats
    // oldest-first, so a surviving pre-batch entry PROVES no trim ever
    // reached the batch head — the shared refinement both gap-tolerance
    // legs apply (one helper on purpose: the e0d092e meta-review found
    // the send path silently lacking it precisely because it was
    // hand-copied logic)
    def headIntact(schema: String): Boolean =
      broker.firstEntry(schema).exists(
        _._1.takeWhile(_ != '-').toLong < batchId)
    var seq = 0L
    while (rows.hasNext) {
      val (schema, value) = rows.next()
      seq += 1
      val send = sendMode.getOrElseUpdate(schema, {
        val produced = broker.producedBatch(schema)
        if (batchId < produced)
          throw new IllegalStateException(
            s"schema $schema was already produced through batch " +
              s"$produced but this run is at batch $batchId: the " +
              "producer checkpoint was reset — refusing to silently " +
              "drop events (re-point the checkpoint, or clear the " +
              "stream AND its produced_batch commit)")
        else if (batchId == produced) {
          // a top BEYOND the committed batch is a foreign entry
          // XADDed after the commit — skipping unverified against
          // it would be the silent-drop shape again. A top BELOW the
          // batch (or an empty stream) is IMPOSSIBLE under trimming:
          // MAXLEN eats the OLDEST entries first, so the committed
          // batch's entries — the newest at commit time — can never
          // vanish while older entries (or nothing at all) survive.
          // That shape means the stream was restored from a pre-batch
          // backup or its key deleted/XTRIMmed while the commit hash
          // survived — skipping would silently lose the whole batch.
          val streamTop = broker.lastEntry(schema) // ONE fetch: guard and
          broker.guardForeignTop(schema, batchId, streamTop) // match agree
          streamTop match {
            case Some((top, msg))
                if top.takeWhile(_ != '-').toLong == batchId =>
              skipTops(schema) =
                (top.dropWhile(_ != '-').drop(1).toLong, msg)
              pending += schema
              // r13 freeze pin: between the produce commit and this skip
              // replay the protocol issues no XADD for the schema, and
              // Redis trims only inside XADD — so the state recorded at
              // commit must still hold EXACTLY. Any drift (moved head,
              // moved top, changed length) is foreign interference; the
              // trim-plausibility heuristics below become a pre-r13
              // fallback only.
              broker.producedState(schema).foreach { case (bid, f, l, n) =>
                if (bid == batchId) {
                  val cur = broker.streamState(schema)
                  if (cur != ((f, l, n)))
                    throw new IllegalStateException(
                      s"schema $schema: stream state changed since the " +
                        s"batch-$batchId produce commit (recorded " +
                        s"first=$f last=$l len=$n, found first=${cur._1} " +
                        s"last=${cur._2} len=${cur._3}) — the stream is " +
                        "frozen between a produce commit and its replay " +
                        "(nothing XADDs, so nothing can trim); entries " +
                        "were deleted or injected by a foreign actor — " +
                        "refusing to silently drop events")
                }
              }
              broker.firstEntryOfBatch(schema, batchId).foreach {
                case (fid, fmsg) =>
                  // the state pin above and this heuristic are
                  // INDEPENDENT necessary conditions, never substitutes
                  // (meta-review of e0d092e caught the || form): the pin
                  // proves nothing moved SINCE the commit, while
                  // trimPlausible (length >= recorded cap) is what makes
                  // a head already missing AT commit attributable to the
                  // batch's own MAXLEN sends — a pre-commit deletion on
                  // an under-cap stream pins cleanly yet was never a trim
                  val trimCouldExplain =
                    !headIntact(schema) && broker.trimPlausible(schema)
                  skipFirsts(schema) =
                    (fid.dropWhile(_ != '-').drop(1).toLong, fmsg,
                      trimCouldExplain)
              }
              broker.producedDigest(schema).foreach { case (bid, d) =>
                if (bid == batchId) skipDigests(schema) = d
              }
            case other =>
              throw new IllegalStateException(
                s"schema $schema: produced_batch says batch $batchId is " +
                  "fully in the stream, but the stream " +
                  other.fold("is empty")(t => s"tops out at ${t._1}, below it") +
                  " — trimming removes oldest entries first and cannot " +
                  "produce this shape; the stream was restored from a " +
                  "pre-batch backup or its key was deleted while the " +
                  "commit survived — refusing to silently drop the batch " +
                  "(restore the stream, or clear BOTH the stream and its " +
                  "produced_batch commit and re-point the checkpoint)")
          }
          false
        } else {
          val streamTop = broker.lastEntry(schema)
          broker.guardForeignTop(schema, batchId, streamTop)
          streamTop.foreach { case (top, _) =>
            if (top.takeWhile(_ != '-').toLong == batchId) {
              val entries = broker.entriesOfBatch(schema, batchId)
              sendPrefix(schema) =
                scala.collection.mutable.ArrayDeque.from(entries)
              if (entries.nonEmpty)
                prefixBounds(schema) = (entries.head._1, entries.last._1)
            }
          }
          true
        }
      })
      digests(schema) =
        digestFold(digests.getOrElse(schema, DigestSeed), value)
      if (send) {
        sendPrefix.get(schema).foreach { pre =>
          // entries our strictly-increasing sequence has PASSED without
          // reproducing cannot be our pre-crash partial — fail BEFORE
          // any id beyond them can flush (ids at/below the stream top
          // are reject-swallowed, never re-added)
          if (pre.headOption.exists(_._1 < seq))
            throw new IllegalStateException(
              s"stream for schema $schema holds a batch-$batchId " +
                s"entry at seq ${pre.head._1} this run's events never " +
                "reproduced: a foreign producer wrote into this " +
                "batch's id space — refusing to silently drop events")
          if (pre.headOption.exists(_._1 == seq)) {
            val (_, preMsg) = pre.removeHead()
            // a VERIFIED surviving entry after an in-range hole proves
            // the hole is interior (r13): the crashed attempt XADDed a
            // strictly increasing contiguous prefix and MAXLEN eats
            // oldest-first, so no legitimate history has a hole between
            // two of its own entries — one was deleted after the crash,
            // and its replay would reject-swallow silently. (A hole
            // whose following entries never verify is the foreign-top
            // shape, refused by the never-reproduced checks instead.)
            gapBefore.get(schema).foreach(g =>
              throw new IllegalStateException(
                s"stream for schema $schema is missing the batch-$batchId " +
                  s"entry at seq $g INSIDE its surviving prefix (a later " +
                  s"prefix entry at seq $seq byte-verified): trimming " +
                  "removes oldest entries first and cannot leave an " +
                  "interior hole — an entry was deleted from this " +
                  "batch's pre-crash partial; refusing to reject-swallow " +
                  "the replay (the event would be silently lost)"))
            if (value != preMsg)
              throw new IllegalStateException(
                s"stream for schema $schema holds a DIFFERENT event at " +
                  s"the replayed id $batchId-$seq: a foreign producer " +
                  "wrote into this batch's id space, or the checkpoint " +
                  "was reset onto a diverged stream — refusing to " +
                  "silently drop events")
          } else prefixBounds.get(schema).foreach { case (firstS, lastS) =>
            // this seq is absent from the surviving prefix: an in-range
            // miss is RECORDED (the interior-hole proof completes only
            // when a later entry verifies, above); a miss BELOW the
            // first surviving entry is the trim shape, plausible only
            // when the stream sits at/above this lineage's cap
            // (`MAXLEN ~` never trims below the cap — a leading gap on
            // an under-cap stream means deletion, r13).
            if (seq > firstS && seq < lastS)
              gapBefore.getOrElseUpdate(schema, seq)
            if (seq < firstS && !leadTrimOk.getOrElseUpdate(schema,
                  !headIntact(schema) && broker.trimPlausibleNow(schema)))
              throw new IllegalStateException(
                s"stream for schema $schema is missing batch-$batchId " +
                  s"entries below its first surviving seq $firstS, and " +
                  "MAXLEN trimming cannot explain the gap (pre-batch " +
                  "entries survive — oldest are eaten first — or the " +
                  "stream sits under its configured cap, which `MAXLEN " +
                  "~` never trims below): the leading entries were " +
                  "deleted; refusing to reject-swallow the replay (if " +
                  "the cap was deliberately raised since the crash, " +
                  "verify the stream content by hand — this is then a " +
                  "false refusal)")
          }
        }
        buf += ((schema, s"$batchId-$seq", value))
        sent += schema
        if (buf.size >= 512) flush()
      } else {
        // first-entry leg: this run's FIRST event for a SKIP schema
        // must sit at the stream's first surviving batch entry
        if (firstSeen.add(schema))
          skipFirsts.get(schema).foreach { case (fs, fmsg, trimCouldExplain) =>
            if (seq == fs) {
              if (value != fmsg)
                throw new IllegalStateException(
                  s"stream for schema $schema already holds a DIFFERENT " +
                    s"event at id $batchId-$seq: the producer checkpoint " +
                    "was reset onto an existing stream — refusing to " +
                    "silently drop events")
            } else if (seq > fs)
              throw new IllegalStateException(
                s"schema $schema: the stream's copy of batch $batchId " +
                  s"starts at $batchId-$fs, BEFORE this run's first event " +
                  s"at seq $seq: producer checkpoint reset onto an " +
                  "existing stream — refusing to silently drop events")
            else if (!trimCouldExplain)
              throw new IllegalStateException(
                s"schema $schema: the stream's copy of batch $batchId " +
                  s"starts at $batchId-$fs but this run's first event is " +
                  s"at seq $seq, and MAXLEN trimming cannot explain the " +
                  "gap (pre-batch entries survive, or the stream sits " +
                  "under its cap so nothing was ever trimmed): producer " +
                  "checkpoint reset onto an existing stream — refusing " +
                  "to silently drop events")
            // else: MAXLEN trimmed into the batch head — trust the
            // produced-batch commit (the top leg still verifies)
          }
        skipTops.get(schema).foreach { case (topSeq, topMsg) =>
          // a faithful replay's LAST event for this schema sits at
          // exactly topSeq — a row beyond it means this run's batch
          // has MORE events than the produced copy (reset onto a
          // superset source): fail, never silently drop the tail
          if (seq > topSeq)
            throw new IllegalStateException(
              s"schema $schema: this run's batch $batchId has events " +
                s"beyond the produced copy's last entry $batchId-$topSeq: " +
                "producer checkpoint reset onto an existing stream — " +
                "refusing to silently drop events")
          if (seq == topSeq) {
            if (value != topMsg)
              throw new IllegalStateException(
                s"stream for schema $schema already holds a DIFFERENT " +
                  s"event at id $batchId-$seq: the producer checkpoint " +
                  "was reset onto an existing stream — refusing to " +
                  "silently drop events")
            pending -= schema // byte-identical: a completed batch
          }
        }
      }
    }
    // a SEND schema with surviving prefix entries this run's sequence
    // never reached (our batch has FEWER events than the stream's
    // partial): they cannot be our pre-crash work — a foreign entry
    // occupies our id space, and sending would let the id-rejection
    // swallow real events as already-delivered. Checked BEFORE the
    // final flush so nothing lands post-facto.
    val unvisited = sendPrefix.collect {
      case (schema, pre) if pre.nonEmpty => schema
    }
    if (unvisited.nonEmpty)
      throw new IllegalStateException(
        s"streams ${unvisited.mkString(",")} hold batch-$batchId " +
          "entries this run's events never reproduced: a foreign " +
          "producer wrote into this batch's id space — refusing to " +
          "silently drop events")
    flush()
    // a SKIP schema whose top seq never matched: the stream's copy
    // of this batch has MORE events than ours — reset, nothing sent
    if (pending.nonEmpty)
      throw new IllegalStateException(
        s"streams ${pending.mkString(",")} hold batch-$batchId " +
          s"entries this run's $seq events never reproduced: producer " +
          "checkpoint reset onto an existing stream — refusing to " +
          "silently drop events")
    // interior-divergence check: each SKIP schema's replayed content
    // digest must equal the digest the producing run committed —
    // endpoints and count already matched above, so a mismatch here is
    // precisely a diverged interior (reset onto a same-shape stream)
    skipDigests.foreach { case (schema, recorded) =>
      val replayed = digests.getOrElse(schema, DigestSeed)
      if (replayed != recorded)
        throw new IllegalStateException(
          s"schema $schema: batch $batchId content digest mismatch " +
            s"(recorded ${java.lang.Long.toHexString(recorded)} at the " +
            s"produce commit, replay computes " +
            s"${java.lang.Long.toHexString(replayed)}): the replayed " +
            "batch's INTERIOR diverges from the produced copy even " +
            "though its endpoints and count match — producer checkpoint " +
            "reset onto a diverged stream; refusing to silently drop " +
            "events")
    }
    // r13 state pin: snapshot each sent schema's (first, last, length)
    // AFTER the final flush and record it with the commit — the stream
    // is frozen from here until any skip replay of this batch (no XADD,
    // hence no trim), so the replay verifies exact equality instead of
    // trim plausibility. A foreign XADD racing this snapshot would be
    // frozen INTO the record, but its entry sits beyond our top, so the
    // skip replay's top/pending content legs still refuse it.
    val states = broker.streamStates(sent.toSeq)
    broker.commitProducedAll(sent, batchId, trimExposed.toSet,
      sent.iterator.map(s => s -> digests(s)).toMap, states)
  }

  /** FNV-1a seed for [[contentDigest]]'s rolling fold. */
  private[run] val DigestSeed = 0xcbf29ce484222325L

  /** One O(1) digest step: fold the next entry payload into the
    * schema's running digest. Order-sensitive (the running value is
    * multiplied before the xor), so reordered or substituted interior
    * entries change the result even when endpoints and count agree. */
  private[run] def digestFold(d: Long, value: String): Long =
    (d * 0x100000001b3L) ^ fnv64(value)

  /** The content digest of a whole payload sequence — the value
    * [[graft.streaming.RedisBroker.commitProducedAll]] records per
    * schema (spec helper; the produce loop folds incrementally). */
  private[run] def contentDigest(values: Iterable[String]): Long =
    values.foldLeft(DigestSeed)(digestFold)

  /** FNV-1a 64-bit over UTF-8 bytes. */
  private[run] def fnv64(s: String): Long = {
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) { h ^= bytes(i) & 0xffL; h *= 0x100000001b3L; i += 1 }
    h
  }

  /** Hermetic broker stand-in: JSON files partitioned by schema — same
    * routing contract (one directory per schema, FIFO within). */
  def toFiles(events: DataFrame, dir: String,
              checkpoint: String,
              triggerInterval: String = "1 second"): StreamingQuery =
    events.select(col("schema"), EventSource.wireStruct(events).as("value"))
      .writeStream
      .format("text")
      .partitionBy("schema")
      .option("path", dir)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime(triggerInterval))
      .start()
}
