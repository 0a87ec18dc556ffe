package perfbench

import graft.run.{Consume, FullEtl}
import graft.sink.ParquetStateStore
import graft.streaming.EventSource
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.atomic.AtomicBoolean
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The two replication workloads: the consume loop (`Consume.start` over
  * `EventSource.files`, after `Consume.bootstrap`) fed by the seeded
  * [[CdcGen]], with replica reads through `Consume.currentState`. */
object Cdc {

  final case class Setup(gen: CdcGen, dir: Path, bootstrapMs: Double, snapshotRows: Long,
                         bootstrapBytes: Double, stagedEvents: Long) {
    def stateRoot: String = s"$dir/state"
    def eventsDir: String = s"$dir/events"
    def ckpt: String = s"$dir/ckpt"
    def store(spark: SparkSession, t: CdcTable) = new ParquetStateStore(spark, s"$stateRoot/db/${t.name}")
  }

  def rmrf(p: Path): Unit = if (Files.exists(p))
    Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))

  /** Write one wire file under a hidden temp name, then rename it into
    * the source directory, so the file source never lists a partial file.
    * `mtimeMs` orders the file for the source (it picks oldest first). */
  def publish(dir: String, name: String, lines: Seq[String], mtimeMs: Option[Long] = None): Unit = {
    val tmp = java.nio.file.Paths.get(dir, s".$name.tmp")
    Files.write(tmp, lines.asJava)
    mtimeMs.foreach(ms => Files.setLastModifiedTime(tmp, java.nio.file.attribute.FileTime.fromMillis(ms)))
    Files.move(tmp, java.nio.file.Paths.get(dir, name), StandardCopyOption.ATOMIC_MOVE)
  }

  /** Fresh work directory, snapshots written, replica bootstrapped. The
    * `stage` callback then writes whatever inputs the workload pre-stages. */
  def setup(spark: SparkSession, dir: Path, seed: Long, scale: Double, zipf: Boolean)
           (stage: (CdcGen, String) => Long): Setup = {
    rmrf(dir)
    Files.createDirectories(dir.resolve("events"))
    val gen = new CdcGen(seed, scale, zipf)
    val rows = gen.tables.map(t => gen.writeSnapshot(spark, t, s"$dir/snap/${t.name}")).sum
    val sources = gen.tables.map(t =>
      ("db", t.name) -> (FullEtl.ParquetSource(s"$dir/snap/${t.name}"): FullEtl.Source)).toMap
    val (_, ms) = Stats.timed(Consume.bootstrap(spark, gen.tables.map(_.sync), s"$dir/state", sources))
    val bytes = gen.tables.map(t => new ParquetStateStore(spark, s"$dir/state/db/${t.name}")
      .versionStats().map(_._2).sum).sum.toDouble
    val staged = stage(gen, s"$dir/events")
    Setup(gen, dir, ms, rows, bytes, staged)
  }

  /** Set up `n` times from scratch (the last one is kept), reporting the
    * median set-up and bootstrap times. */
  def setups(spark: SparkSession, conf: Conf, rep: Report, zipf: Boolean)
            (stage: (CdcGen, String) => Long): Setup = {
    val runs = (1 to conf.setups).map { _ =>
      val (s, ms) = Stats.timed(setup(spark, conf.work.resolve("cdc"), conf.seed, conf.cdcScale, zipf)(stage))
      (s, ms)
    }
    val s = runs.last._1
    rep.e2e("setup_s") = (Stats.median(runs.map(_._2)) / 1000, "s")
    rep.named("setup_s") = rep.e2e("setup_s")
    rep.named("bootstrap_s") = (Stats.median(runs.map(_._1.bootstrapMs)) / 1000, "s")
    rep.layer("etl.snapshot_rows_per_s", s.snapshotRows / (Stats.median(runs.map(_._1.bootstrapMs)) / 1000), "1/s")
    rep.layer("etl.write_bytes", s.bootstrapBytes, "bytes")
    s
  }

  /** The consume query, exactly as the `consume` command wires it (no
    * compaction policy), with one observation on the parsed event stream:
    * count and min/max `event_unixtime` per micro-batch, which place every
    * event in the batch that applied it. */
  def start(spark: SparkSession, s: Setup, trigger: String, maxFiles: Int): StreamingQuery = {
    val events = EventSource.files(spark, s.eventsDir, maxFilesPerTrigger = maxFiles)
      .observe("perfbench", count(lit(1)).as("n"),
        min("event_unixtime").as("lo"), max("event_unixtime").as("hi"))
    Consume.start(spark, events, s.gen.tables.map(_.sync), s.stateRoot, s.ckpt,
      triggerInterval = trigger)
  }

  final case class Batch(id: Long, startMs: Double, endMs: Double, inputRows: Long,
                         parsed: Long, lo: Long, hi: Long, d: Map[String, Double]) {
    def ms: Double = endMs - startMs
  }

  def batches(q: StreamingQuery): Seq[Batch] = batches(q.recentProgress.toSeq)

  def batches(ps: Seq[StreamingQueryProgress]): Seq[Batch] =
    ps.filter(_.numInputRows > 0).map { p =>
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }.toMap
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val obs = Option(p.observedMetrics.get("perfbench"))
      Batch(p.batchId, start, start + d.getOrElse("triggerExecution", 0.0), p.numInputRows,
        obs.map(_.getLong(0)).getOrElse(0L),
        obs.flatMap(r => Option(r.get(1))).map(_.asInstanceOf[Long]).getOrElse(-1L),
        obs.flatMap(r => Option(r.get(2))).map(_.asInstanceOf[Long]).getOrElse(-1L), d)
    }.sortBy(_.id)

  /** The query's batches as the StreamingQueryListener received them,
    * once the asynchronous listener bus has caught up with the query. */
  def listened(r: Recorder, q: StreamingQuery): Seq[Batch] = {
    val deadline = System.nanoTime() + 5000000000L
    def mine = r.progressRecs.filter(_.id == q.id)
    while (mine.size < q.recentProgress.length && System.nanoTime() < deadline) Thread.sleep(20)
    batches(mine)
  }

  /** Final-state check: each table's `currentState` equals the model. */
  def checkFinal(spark: SparkSession, s: Setup, rep: Report): Unit =
    s.gen.tables.foreach { t =>
      val errs = try {
        Consume.currentState(t.sync, s.store(spark, t)) match {
          case None => Seq(s"${t.name}: replica is empty")
          case Some(df) =>
            val cols = s.gen.columns(t)
            val missing = cols.filterNot(df.columns.contains)
            if (missing.nonEmpty) Seq(s"${t.name}: replica lacks columns ${missing.mkString(",")}")
            else s.gen.check(t, df.select(cols.map(col): _*).collect())
        }
      } catch { case e: Exception => Seq(s"${t.name}: ${e.getClass.getSimpleName}: ${e.getMessage}") }
      rep.check(s"final_state.${t.name}", errs)
    }

  /** Store-level sink counters at the end of a run. */
  def sinkVersions(spark: SparkSession, s: Setup, rep: Report): Unit = {
    val stats = s.gen.tables.map(t => s.store(spark, t).versionStats())
    rep.layer("sink.delta_versions", stats.map(_.count(!_._3)).sum.toDouble, "count")
  }

  // ---------------------------------------------------------------- trickle

  /** Open-loop trickle: every `periodMs` the generator thread writes one
    * file holding the events created since the last one, each stamped with
    * its creation time; one closed-loop reader queries the replica. */
  def trickle(spark: SparkSession, conf: Conf, tracer: Tracer, rec: Option[Recorder],
              rep: Report): Unit = {
    val rate = conf.trickleRate
    val periodMs = 200
    val perFile = rate * periodMs / 1000
    val stepUs = 1000000L / rate
    val s = setups(spark, conf, rep, zipf = true)((_, _) => 0L)
    val window = rec.map(_ => new SparkCounters.Window(conf.cores))

    val q = start(spark, s, "1 second", maxFiles = math.max(1, 20000 / perFile))
    val stop = new AtomicBoolean(false)
    val baseUs = (Clock.nowMs * 1000).toLong + 200000L
    val warmUs = baseUs + conf.warmupMs * 1000L
    val endUs = warmUs + conf.seconds * 1000000L
    val lateness = mutable.ArrayBuffer.empty[Double]
    val written = mutable.ArrayBuffer.empty[(Double, Long)] // (publish ms, events so far)
    val genErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val genThread = new Thread(() => try {
      var j = 0L
      while (!stop.get()) {
        val dueUs = baseUs + (j + 1) * perFile * stepUs
        val waitMs = dueUs / 1000.0 - Clock.nowMs
        if (waitMs > 0) Thread.sleep(waitMs.toLong, ((waitMs % 1) * 1e6).toInt)
        if (!stop.get()) {
          val lines = (0L until perFile).map(i => s.gen.next(baseUs + (j * perFile + i) * stepUs))
          Cdc.publish(s.eventsDir, f"part-$j%08d.json", lines)
          val now = Clock.nowMs
          lateness.synchronized {
            lateness += now - dueUs / 1000.0
            written += ((now, (j + 1) * perFile))
          }
          j += 1
        }
      }
    } catch { case e: Throwable => genErr.set(e) }, "perfbench-generator")

    // closed-loop reader: an aggregate plus a hot-key point lookup
    final case class Read(startUs: Long, ms: Double, constructMs: Double, versions: Int)
    val reads = mutable.ArrayBuffer.empty[Read]
    val readErrs = mutable.ArrayBuffer.empty[String]
    val hot = s.gen.hotOrderKey
    val readerThread = new Thread(() => {
      spark.sparkContext.setLocalProperty("perfbench.layer", "read")
      val store = s.store(spark, s.gen.orders)
      while (!stop.get()) {
        val t0Us = (Clock.nowMs * 1000).toLong
        val t0 = System.nanoTime()
        try {
          val versions = if (tracer.enabled) store.versionStats().size else 0
          tracer.span("read") { root =>
            val (df, cMs) = Stats.timed(tracer.span("read.construct", root)(_ =>
              Consume.currentState(s.gen.orders.sync, store)))
            tracer.span("read.exec", root) { _ =>
              df.foreach { d =>
                val agg = d.agg(count(lit(1)), sum("o_totalprice")).collect()
                val hit = d.filter(col("o_orderkey") === hot).collect()
                if (agg.head.getLong(0) <= 0 || hit.length > 1)
                  readErrs.synchronized(readErrs += s"read at ${t0Us}us: count ${agg.head.getLong(0)}, ${hit.length} rows for key $hot")
              }
            }
            reads.synchronized(reads += Read(t0Us, Stats.msSince(t0), cMs, versions))
          }
        } catch {
          case e: Exception if !stop.get() =>
            readErrs.synchronized(readErrs += s"read: ${e.getClass.getSimpleName}: ${e.getMessage}")
        }
      }
    }, "perfbench-reader")
    genThread.setDaemon(true); readerThread.setDaemon(true)
    genThread.start(); readerThread.start()

    val measureEndMs = endUs / 1000.0
    while (Clock.nowMs < measureEndMs && q.isActive && genErr.get() == null) Thread.sleep(50)
    stop.set(true)
    genThread.join(); readerThread.join()
    q.processAllAvailable()
    q.stop(); q.awaitTermination()
    Option(genErr.get()).foreach(e => throw e)

    // every event sits in exactly one batch: lag = batch end - creation
    val bs = batches(q)
    val lags = mutable.ArrayBuffer.empty[Double]
    var contiguous = true
    bs.foreach { b =>
      if (b.lo >= 0) {
        val (iLo, iHi) = ((b.lo - baseUs) / stepUs, (b.hi - baseUs) / stepUs)
        if (iHi - iLo + 1 != b.parsed) contiguous = false
        var i = iLo
        while (i <= iHi) {
          val stamp = baseUs + i * stepUs
          if (stamp >= warmUs && stamp < endUs) lags += b.endMs - stamp / 1000.0
          i += 1
        }
      }
    }
    val emitted = written.lastOption.map(_._2).getOrElse(0L)
    val ingested = bs.map(_.inputRows).sum
    rep.check("batches_hold_contiguous_event_ranges",
      if (contiguous) Nil else Seq("a micro-batch held a non-contiguous event range"))
    rep.check("every_event_applied",
      if (ingested == emitted && bs.map(_.parsed).sum == emitted) Nil
      else Seq(s"emitted $emitted, ingested $ingested, parsed ${bs.map(_.parsed).sum}"))
    val late = lateness.toSeq
    val lateMax = if (late.isEmpty) 0.0 else late.max
    rep.named("generator_late_p99_ms") = (Stats.pct(late, 0.99), "ms")
    rep.named("generator_late_max_ms") = (lateMax, "ms")
    rep.check("generator_on_schedule",
      if (lateMax <= conf.maxLatenessMs) Nil
      else Seq(f"generator fell $lateMax%.0f ms behind schedule (limit ${conf.maxLatenessMs} ms)"))
    checkFinal(spark, s, rep)
    rep.check("replica_reads", readErrs.toSeq)

    val measured = reads.toSeq.filter(r => r.startUs >= warmUs && r.startUs < endUs)
    val readMs = measured.map(_.ms)
    rep.attempted += emitted + reads.size
    rep.failed += readErrs.size
    rep.named("lag_p50_ms") = (Stats.median(lags.toSeq), "ms")
    rep.named("lag_p90_ms") = (Stats.pct(lags.toSeq, 0.9), "ms")
    if (Stats.supportedTail(lags.size, Seq(0.99)) == 0.99)
      rep.named("lag_p99_ms") = (Stats.pct(lags.toSeq, 0.99), "ms")
    rep.named("read_p50_ms") = (Stats.median(readMs), "ms")
    rep.named("read_p90_ms") = (Stats.pct(readMs, 0.9), "ms")
    if (readMs.size < 100) rep.notes += s"read_p90_ms rests on ${readMs.size} reads, fewer than ten beyond p90"
    rep.named("lag_samples") = (lags.size.toDouble, "count")
    rep.named("read_samples") = (readMs.size.toDouble, "count")
    rep.e2e("p50_ms") = rep.named("lag_p50_ms")
    // events applied per second of trigger time: the replica's apply rate
    // while busy, which falls below the offered rate when it cannot keep up
    val inWindow = bs.filter(b => b.lo >= warmUs && b.hi < endUs)
    rep.named("apply_events_per_s") = (inWindow.map(_.inputRows).sum / (inWindow.map(_.ms).sum / 1000), "1/s")
    rep.e2e("rate_per_s") = rep.named("apply_events_per_s")

    rec.foreach { r =>
      streamLayers(r, listened(r, q), written.toSeq, tracer, rep)
      rep.layer("read.construct_ms", Stats.median(measured.map(_.constructMs)), "ms")
      rep.layer("read.exec_ms", Stats.median(measured.map(x => x.ms - x.constructMs)), "ms")
      rep.layer("read.versions_scanned", Stats.median(measured.map(_.versions.toDouble)), "count")
      val store = s.store(spark, s.gen.orders)
      val logRows = store.readLog().map(_.count()).getOrElse(0L)
      val liveRows = Consume.currentState(s.gen.orders.sync, store).map(_.count()).getOrElse(1L)
      rep.layer("read.amplification", logRows.toDouble / math.max(1L, liveRows), "ratio")
      window.foreach(w => w.metrics(r).foreach { case (n, v, u) => rep.layer(n, v, u) })
    }
    sinkVersions(spark, s, rep)
  }

  // ---------------------------------------------------------------- backlog

  /** Pre-staged backlog: `files` wire files of `perFile` near-uniform
    * events with two `ADD COLUMN` DDL events mid-stream, drained with a
    * 0 s trigger, one file per micro-batch. */
  def backlog(spark: SparkSession, conf: Conf, tracer: Tracer, rec: Option[Recorder],
              rep: Report): Unit = {
    val perFile = conf.backlogFileEvents
    val files = conf.backlogFiles
    val s = setups(spark, conf, rep, zipf = false) { (gen, dir) =>
      val total = perFile.toLong * files
      val ddlAt = Map(total / 3 -> ((gen.orders, "o_note")), 2 * total / 3 -> ((gen.customer, "c_phone")))
      var stamp = 1000000L
      var n = 0L
      val t0 = System.currentTimeMillis() - files * 1000L
      (0 until files).foreach { f =>
        val lines = mutable.ArrayBuffer.empty[String]
        (0 until perFile).foreach { _ =>
          ddlAt.get(n).foreach { case (t, c) => stamp += 1; lines += gen.addColumn(t, c, stamp) }
          stamp += 1; n += 1
          lines += gen.next(stamp)
        }
        Cdc.publish(dir, f"part-$f%08d.json", lines.toSeq, Some(t0 + f * 1000L))
      }
      n
    }
    val window = rec.map(_ => new SparkCounters.Window(conf.cores))
    val t0 = System.nanoTime()
    val q = tracer.span("cdc.drain") { _ =>
      val q = start(spark, s, "0 seconds", maxFiles = 1)
      q.processAllAvailable()
      q
    }
    val drainS = Stats.msSince(t0) / 1000
    q.stop(); q.awaitTermination()

    val bs = batches(q)
    val ingested = bs.map(_.inputRows).sum
    val expected = s.stagedEvents + 2 // the two DDL events ride the stream too
    rep.check("every_event_applied",
      if (ingested == expected && bs.map(_.parsed).sum == expected) Nil
      else Seq(s"staged $expected, ingested $ingested, parsed ${bs.map(_.parsed).sum}"))
    checkFinal(spark, s, rep)
    rep.attempted += expected

    val bms = bs.map(_.ms)
    rep.named("drain_events_per_s") = (ingested / drainS, "1/s")
    rep.named("batch_p50_ms") = (Stats.median(bms), "ms")
    rep.named("batch_p90_ms") = (Stats.pct(bms, 0.9), "ms")
    rep.notes += s"batch_p90_ms rests on ${bms.size} micro-batches, fewer than ten beyond p90"
    rep.named("batches") = (bms.size.toDouble, "count")
    rep.e2e("p50_ms") = rep.named("batch_p50_ms")
    rep.e2e("rate_per_s") = rep.named("drain_events_per_s")
    rec.foreach { r =>
      streamLayers(r, listened(r, q), Seq((0.0, s.stagedEvents)), tracer, rep)
      window.foreach(w => w.metrics(r).foreach { case (n, v, u) => rep.layer(n, v, u) })
    }
    sinkVersions(spark, s, rep)
  }

  // ------------------------------------------------------------ layer split

  private val storePath = """/db/([a-z]+)/v=(-?\d+)/?$""".r.unanchored

  /** Per-layer metrics of the stream from the listeners: `durationMs`
    * phases, the jobs each batch ran, and the store writes it made. Also
    * records the batch spans and checks that the layers add up to the
    * trigger's wall time. */
  def streamLayers(r: Recorder, bs: Seq[Batch], written: Seq[(Double, Long)],
                   tracer: Tracer, rep: Report): Unit = {
    def d(b: Batch, k: String) = b.d.getOrElse(k, 0.0)
    val jobs = r.jobRecs.filter(_._1.tag == "stream")
    val actions = r.actionRecs
    val perBatch = bs.map { b =>
      val js = jobs.filter { case (j, _) => j.startMs >= b.startMs - 1 && j.startMs <= b.endMs + 1 }
      (b, js)
    }
    val med = (f: ((Batch, Seq[(JobRec, TaskAgg)])) => Double) => Stats.median(perBatch.map(f))
    rep.layer("streaming.source_ms", med(x => d(x._1, "latestOffset") + d(x._1, "getBatch")), "ms")
    rep.layer("streaming.rows_per_batch", med(_._1.inputRows.toDouble), "count")
    var seen = 0L
    val backlog = bs.map { b =>
      val avail = written.filter(_._1 <= b.startMs).lastOption.map(_._2).getOrElse(0L)
      val x = (avail - seen).toDouble
      seen += b.inputRows
      x
    }
    rep.layer("streaming.backlog_events", Stats.median(backlog), "count")
    rep.layer("streaming.wal_commit_ms", med(x => d(x._1, "walCommit") + d(x._1, "commitOffsets")), "ms")
    val rows = bs.map(_.inputRows).sum.toDouble
    rep.layer("streaming.parse_drop_ratio", 1 - bs.map(_.parsed).sum / math.max(1.0, rows), "ratio")
    rep.layer("consume.add_batch_ms", med(x => d(x._1, "addBatch")), "ms")
    rep.layer("consume.plan_ms", med(x => d(x._1, "queryPlanning")), "ms")
    rep.layer("consume.jobs_per_batch", med(_._2.size.toDouble), "count")
    rep.layer("consume.tasks_per_batch", med(_._2.map(_._2.tasks).sum.toDouble), "count")
    val active = perBatch.map { case (b, js) =>
      Intervals.unionMs(js.map(j => (j._1.startMs, j._1.endMs)), b.startMs, b.endMs) }
    rep.layer("consume.job_active_ms", Stats.median(active), "ms")
    rep.layer("consume.driver_gap_ms",
      Stats.median(perBatch.zip(active).map { case ((b, _), a) => math.max(0, d(b, "addBatch") - a) }), "ms")
    // the batch's first job is collectDdlAll over the freshly cached batch,
    // so it also carries the source read, parse and cache fill
    rep.layer("consume.ddl_collect_ms", med(_._2.headOption.map(_._1.ms).getOrElse(0.0)), "ms")
    val writes = actions.flatMap(a => a.outputPath.collect {
      case storePath(t, v) if v.toLong >= 0 => (t, v.toLong, a.durationMs) })
    Seq("orders", "lineitem", "customer").foreach { t =>
      rep.layer(s"consume.apply_ms.$t", Stats.median(writes.filter(_._1 == t).map(_._3)), "ms")
    }
    val streamOut = jobs.map(_._2)
    rep.layer("sink.rows_out_per_event", streamOut.map(_.recordsOut).sum / math.max(1.0, rows), "ratio")
    rep.layer("sink.bytes_per_event", streamOut.map(_.bytesOut).sum / math.max(1.0, rows), "bytes")
    val compactions = actions.filter(_.outputPath.exists(_.contains(".compact_stage_v=")))
    rep.layer("sink.compactions", compactions.size.toDouble, "count")
    rep.layer("sink.compact_ms", compactions.map(_.durationMs).sum, "ms")

    Trace.checkCoverage(tracer.layerCoverage(batchSpans(tracer, jobs, bs)), "trigger", rep)
  }

  /** Batch spans for the trace: the trigger, its `durationMs` phases in
    * execution order (each measured by Spark on its own, so together they
    * must account for the trigger's wall time), and the busy intervals of
    * the jobs inside addBatch. Returns the trigger spans. */
  def batchSpans(tracer: Tracer, jobs: Seq[(JobRec, TaskAgg)], bs: Seq[Batch]): Seq[Span] = {
    val order = Seq("latestOffset" -> "streaming.source", "walCommit" -> "streaming.wal",
      "getBatch" -> "streaming.source", "queryPlanning" -> "consume.plan",
      "addBatch" -> "consume.add_batch", "commitOffsets" -> "streaming.wal")
    val roots = bs.map { b =>
      val root = tracer.add(s"cdc.batch.${b.id}", 0L, b.startMs, b.endMs)
      var t = b.startMs
      order.foreach { case (k, name) =>
        val ms = b.d.getOrElse(k, 0.0)
        val id = tracer.add(name, root, t, t + ms)
        if (k == "addBatch")
          Intervals.merge(jobs.filter(j => j._1.startMs >= t && j._1.startMs <= t + ms)
            .map(j => (j._1.startMs, j._1.endMs)))
            .foreach { case (a, c) => tracer.add("spark.jobs", id, math.max(a, t), math.min(c, t + ms)) }
        t += ms
      }
      root
    }.toSet
    tracer.spans.filter(s => roots(s.id))
  }
}
