package graft.run

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable

/** Throughput monitoring (reference operator A6: producer/consumer counters
  * flushed to a `synch.log` table every interval — synch/reader/
  * __init__.py:73-86, synch/factory.py:129-151).
  *
  * Spark-native shape: `df.observe` metrics evaluated inside the stream
  * (no extra action) + a [[StreamingQueryListener]] that collects one row
  * per micro-batch. Rows carry (query, batch, events, wall-clock) — the
  * same information as the reference's monitoring rows (type 1=producer,
  * 2=consumer) — plus where the batch's time went.
  */
object Monitor {

  /** One monitoring row. `phases` is the batch's
    * `StreamingQueryProgress.durationMs`: Spark's per-trigger phase
    * durations in ms (`latestOffset`, `getBatch`, `queryPlanning`,
    * `addBatch`, `walCommit`, `commitOffsets`, `triggerExecution`, ...);
    * empty on error rows. */
  final case class BatchMetric(queryName: String, batchId: Long,
                               numEvents: Long, timestampMs: Long,
                               error: Option[String] = None,
                               phases: Map[String, Long] = Map.empty)

  /** Attach an observation named `graft_monitor` counting events. */
  def observed(df: DataFrame): DataFrame =
    df.observe("graft_monitor", count(lit(1)).as("events"))

  /** Collects per-batch metrics in memory; for durable metrics use
    * [[PersistingListener]]. The buffer is bounded (oldest rows drop once
    * `maxRetained` is hit) so a weeks-long 1 s-trigger stream cannot grow
    * driver heap without bound.
    */
  class CollectingListener(maxRetained: Int = 10000) extends StreamingQueryListener {
    private val metrics: mutable.Buffer[BatchMetric] = mutable.Buffer.empty
    // query id → configured name, captured at start: terminated events
    // carry only the UUID, and a C6 error row keyed by UUID cannot be
    // correlated with the named stream it belongs to (r13 review)
    private val names = mutable.Map.empty[java.util.UUID, String]

    /** A consistent snapshot of the collected metrics — the buffer
      * itself is private (r13 review: an exposed mutable buffer made
      * every external read race the listener-bus thread's append/evict
      * under its own lock). */
    def snapshot(): Seq[BatchMetric] = metrics.synchronized(metrics.toSeq)

    /** Returns the metric it appended so subclasses can act on exactly
      * that row — re-reading the last element outside the lock races
      * with concurrent callbacks from other queries.
      */
    protected def record(m: BatchMetric): BatchMetric = {
      metrics.synchronized {
        metrics += m
        if (metrics.size > maxRetained) metrics.remove(0, metrics.size - maxRetained)
      }
      m
    }

    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      names.synchronized { names(e.id) = Option(e.name).getOrElse(e.id.toString) }
    /** C6 — error alerting: a terminal failure becomes a metric row with
      * the exception recorded (the reference mails it; here it lands in
      * the same monitoring stream/table for the operator's alerting to
      * pick up), keyed by the query's NAME like every progress row. */
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
      // resolve-and-EVICT: a weeks-long driver restarting queries would
      // otherwise grow the map one UUID per start, forever (a restart
      // re-fires onQueryStarted, so eviction loses nothing)
      val name = names.synchronized(
        names.remove(e.id).getOrElse(e.id.toString))
      e.exception.foreach { err =>
        record(BatchMetric(name, batchId = -1L,
          numEvents = 0L, System.currentTimeMillis(), error = Some(err)))
      }
    }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val observed = Option(p.observedMetrics.get("graft_monitor"))
      val events = observed.map(_.getAs[Long]("events"))
        .getOrElse(p.numInputRows)
      import scala.jdk.CollectionConverters._
      record(BatchMetric(Option(p.name).getOrElse(p.id.toString),
        p.batchId, events, System.currentTimeMillis(),
        phases = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
  }

  /** A6 with persistence: appends one parquet row per micro-batch to a
    * metrics table — the role of the reference's `synch.log` inserts every
    * monitoring interval (synch/factory.py:129-151). Rows are tiny and
    * cadence is per-trigger, so the append is a single small file per
    * batch; compact/TTL the table like any other log.
    */
  final class PersistingListener(spark: SparkSession, path: String,
                                 private[run] val queueCapacity: Int = 4096)
      extends CollectingListener {
    // The write runs on a DEDICATED daemon thread, never on the listener
    // bus: a parquet append is a full (tiny) Spark job, and several
    // 1 s-trigger queries writing inline from the shared AsyncEventQueue
    // thread can outrun the trigger cadence, fill the queue (default
    // 10k), and make Spark silently DROP listener events — starving every
    // other listener on the bus (the very anti-pattern AlertingListener's
    // contract below warns about). The queue is bounded; when the writer
    // cannot keep up the overflow row is dropped from PERSISTENCE with a
    // stderr warning (it stays in the in-memory buffer) — monitoring
    // must degrade before it degrades the stream.
    private val queue = new java.util.concurrent.LinkedBlockingQueue[BatchMetric](queueCapacity)
    // error rows are never dropped for queue pressure: a full main queue
    // sends them to this dedicated overflow, drained alongside every
    // writer batch. (The old poll-and-reoffer displacement on the shared
    // queue had a narrow race: if the queue refilled between poll and
    // re-offer, the polled victim — possibly ANOTHER query's terminal
    // error row — was dropped silently, and a re-offered error row moved
    // to the tail, reordering persisted metrics.)
    private val errorOverflow =
      new java.util.concurrent.LinkedBlockingQueue[BatchMetric](1024)
    // persist() runs ONLY on the writer thread (its loop and its
    // interrupt-drain path; the shutdown hook merely joins it) — no
    // concurrent appends to the shared parquet path
    private def persist(batch: Seq[BatchMetric]): Unit =
      try spark.createDataFrame(batch)
        .coalesce(1).write.mode("append").parquet(path)
      catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[monitor] metrics append failed: ${e.getMessage}")
      }
    // stop signal OUTSIDE the interrupt flag: Spark's FileFormatWriter
    // wraps an interrupt landing mid-append into a NonFatal
    // SparkException that persist() absorbs — the flag would be consumed
    // and the loop would re-block forever; the volatile survives that
    @volatile private var stopping = false
    private val writer = new Thread(() => {
      while (!stopping) {
        try {
          // poll-with-timeout, not take(): stopWriter() must be able to
          // stop the loop WITHOUT interrupting — an interrupt landing
          // inside persist()'s Spark write is wrapped NonFatal and the
          // in-flight batch (possibly the terminal-error row) is lost
          val head = queue.poll(200, java.util.concurrent.TimeUnit.MILLISECONDS)
          if (head == null) {
            // idle tick: overflow only fills while the main queue is
            // full, but drain it anyway so no path can strand a row
            val spill = new java.util.ArrayList[BatchMetric]()
            errorOverflow.drainTo(spill)
            import scala.jdk.CollectionConverters._
            if (!spill.isEmpty) persist(spill.asScala.toSeq)
          } else {
            // drain whatever accumulated so a burst lands as ONE file
            val batch = new java.util.ArrayList[BatchMetric]()
            batch.add(head); queue.drainTo(batch)
            errorOverflow.drainTo(batch)
            import scala.jdk.CollectionConverters._
            persist(batch.asScala.toSeq)
          }
        } catch { case _: InterruptedException => stopping = true }
      }
      // final drain on EITHER exit path (poll interrupted, or the stop
      // flag caught by the loop condition)
      val rest = new java.util.ArrayList[BatchMetric]()
      queue.drainTo(rest)
      errorOverflow.drainTo(rest)
      import scala.jdk.CollectionConverters._
      if (!rest.isEmpty) persist(rest.asScala.toSeq)
    }, "graft-metrics-writer")
    writer.setDaemon(true); writer.start()
    // JVM-exit drain: without it the queue's contents die with the daemon
    // writer — including the terminal-error row the C6 alerting contract
    // exists for, which is recorded at exactly the moment the process is
    // likely exiting. The stop flag routes the writer into its
    // drain-and-exit path; best-effort (Spark itself may already be
    // shutting down).
    private def stopWriter(): Unit = {
      stopping = true
      // no eager interrupt: the poll timeout wakes the loop within
      // 200 ms and lets an in-flight persist COMPLETE (an interrupt
      // inside the Spark write would lose that batch); interrupt only
      // a writer that is genuinely hung
      try {
        writer.join(10000)
        if (writer.isAlive) { writer.interrupt(); writer.join(10000) }
      } catch { case _: InterruptedException => () }
    }
    private val drainHook = new Thread(() => stopWriter())
    Runtime.getRuntime.addShutdownHook(drainHook)

    /** Detach for long-lived drivers creating many listeners: stops the
      * writer (which drains and persists what's queued) and removes the
      * shutdown hook so instances don't accumulate in the Runtime. */
    def close(): Unit = {
      try Runtime.getRuntime.removeShutdownHook(drainHook)
      catch { case _: IllegalStateException => () } // already shutting down
      stopWriter()
    }

    // Persist exactly the row this callback recorded — progress rows and
    // error rows both flow through record(), and using its return value
    // (not metrics.last) keeps concurrent queries from duplicating or
    // dropping each other's rows. Everything rides the queue: the
    // listener-bus thread must never run a Spark job inline (the
    // anti-pattern AlertingListener's contract warns about), and the
    // shutdown drain above is what makes rows durable at exit. A full
    // queue drops PROGRESS rows, never the terminal-ERROR row the C6
    // contract reads — that one rides the dedicated errorOverflow queue,
    // which never touches (so never races or reorders) the main queue
    // (queue-full correlates with exactly the distress that produces
    // terminal errors).
    override protected def record(m: BatchMetric): BatchMetric = {
      val appended = super.record(m)
      if (!queue.offer(appended)) {
        if (appended.error.isDefined) {
          if (!errorOverflow.offer(appended))
            System.err.println(
              s"[monitor] metrics queue full; error row for ${m.queryName} not persisted")
        } else System.err.println(
          s"[monitor] metrics queue full; dropping persisted row for batch ${m.batchId}")
      }
      appended
    }

    /** Test seam (package-private): drive the record path directly. */
    private[run] def recordDirect(m: BatchMetric): BatchMetric = record(m)
  }

  /** C6 — the alert dispatch hook. The reference mails terminal errors
    * (synch/factory.py:113-126); core deliberately owns no SMTP — the
    * transport plugs in here instead.
    *
    * Contract:
    *  - `onAlert` is invoked EXACTLY ONCE per query terminated with an
    *    exception, with the same error metric row that was recorded
    *    (`batchId == -1`, `error == Some(message)`). Progress rows never
    *    alert.
    *  - It runs on the streaming listener-bus thread: keep it fast and
    *    non-blocking (enqueue to your mailer/webhook executor; don't do
    *    network I/O inline or you delay every listener on the bus).
    *  - A throwing callback is swallowed: a broken alert transport must
    *    never lose the metric row or detach monitoring. The row is
    *    recorded BEFORE dispatch, so dead-lettering is ordered — the
    *    metrics table is the source of truth, alerting is best-effort.
    */
  class AlertingListener(onAlert: BatchMetric => Unit,
                         maxRetained: Int = 10000)
      extends CollectingListener(maxRetained) {
    override protected def record(m: BatchMetric): BatchMetric = {
      val appended = super.record(m)
      if (appended.error.isDefined) {
        try onAlert(appended)
        catch { case scala.util.control.NonFatal(_) => () }
      }
      appended
    }
  }

  /** Read the persisted metrics table; schema-merged, so rows appended
    * before `phases` existed read alongside newer ones (as null). */
  def metricsTable(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)
}
