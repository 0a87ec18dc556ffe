package graft.run

import graft.model.Engine
import graft.sink.ParquetStateStore
import graft.sink.SinkStrategy.CompactionPolicy
import graft.streaming.EventSource
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.types.{StringType, StructType}
import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** The consume loop's crash and long-horizon rehearsal: bootstrap
  * snapshot → wire-format event replay → engine-resolved state, at
  * sf-scale volume, checked exactly against batch-computed expectations.
  *
  * Workload (mirrors the reference's envelope, synch.yaml
  * `insert_interval: 60` / `insert_num: 20000`): the `orders` table is
  * snapshotted into a MergeTree (`orders_mt`) and a ReplacingMergeTree
  * (`orders_rt`) store — one stream, two engines, the concurrent-apply
  * path. A mutation stream over DISJOINT keys (~60% updates / 20%
  * deletes / 20% new-key inserts over a third of the table) is spread
  * over `batches` wire files, one per micro-batch. Every
  * [[ddlEvery]]-th file is a DDL-only batch against `orders_rt`
  * (alternating ADD/DROP of a scratch column) while `orders_mt` never
  * sees DDL — an in-run A/B; every 4th DDL slot is unparseable and must
  * park in the dead letter.
  *
  *  - `kills = 0`: one in-process run. The file source deletes each file
  *    once the next batch is planned (as the Redis bridge's staging is
  *    consumed). The first half of the files lands and drains, the query
  *    stops, the newest commit marker is deleted ([[injectCrashWindow]]),
  *    the rest lands and the restart replays that batch into the store's
  *    batch-id idempotence before draining the rest. A sampler prints one `soak_sample` line per 30 s
  *    (RSS, heap, version counts, parked DDL, window batch rate).
  *  - `kills > 0`: the consumer runs in a child JVM (this object in its
  *    `--worker` role) that is SIGKILLed after each [[killTargets]]
  *    entry, then restarted; batch ids must never regress across
  *    restarts. Odd kills land a seeded random way into the next batch,
  *    even kills inside the next compaction; each kill's [[killPhase]]
  *    is reported. A second phase parks a synthetic backlog and
  *    SIGKILLs >= 2 dead-letter drains, at least one provably
  *    mid-replay, then asserts exactly-once convergence.
  *
  * Both end with the same checks: [[finalStateFailures]], parked DDL
  * statements against the schedule, store versions against 2x the
  * policy's `maxDeltaVersions`, and the page-supply bracket. One
  * `summary` JSON line carries the run's numbers and `state_checks`.
  *
  * Usage: Rehearsal <sfDir> <workDir> [batches=5000] [kills=0]
  * (through tools/run-main.sh; the child JVM gets the parent's classpath
  * and JVM flags, see [[childJvmFlags]]). A `kills > 0` run holds two
  * JVMs, each up to the parent's -Xmx: give it at most half the box.
  */
object Rehearsal {

  /** In-process policy: maxDeltaVersions 64 keeps the count trigger the
    * active one at every sf (~20k-row deltas against a 1.5M-15M-row base
    * never trip the size ratio), so read fan-in stays bounded at ~65
    * versions while the O(base) rewrite amortizes over many batches. */
  private[run] val SoakPolicy = CompactionPolicy(maxDeltaVersions = 64, maxDeltaToBaseRatio = 1.0)
  /** Under kills: every batch adds a delta to every table, so each
    * compacts at least every 17th batch and a kill that waits for a
    * compaction finds one within 18 batches. */
  private[run] val KillPolicy = CompactionPolicy(maxDeltaVersions = 16, maxDeltaToBaseRatio = 1.0)

  /** Fewest batches per kill window: the last target leaves at least
    * three quarters of a window, 24 batches, to drain: room for a kill
    * that waits up to 18 batches for a compaction, at any scale. */
  private[run] val MinBatchesPerKill = 2 * KillPolicy.maxDeltaVersions
  /** Below this, [[ddlEvery]] leaves no DML file between DDL slots. */
  private[run] val MinBatches = 16
  private val KillSeed = 0xC5A15L // fixed: failures must reproduce
  private val SigKillExit = 128 + 9
  private val Unparseable = "ALTER TABLE db.orders_rt FROBNICATE 42"

  private[run] def mutations(orders: DataFrame, maxKey: Long): DataFrame = {
    // key-disjoint mutation classes off a third of the table:
    // m in [0,6) update, [6,8) delete, [8,10) insert under a fresh key
    val base = orders.filter(col("o_orderkey") % 3 === 0)
      .withColumn("_m", (col("o_orderkey") / 3) % 10)
    val upd = base.filter(col("_m") < 6)
      .withColumn("o_totalprice", col("o_totalprice") + lit(1.0))
      .withColumn("action", lit("update"))
    val del = base.filter(col("_m") >= 6 && col("_m") < 8)
      .withColumn("action", lit("delete"))
    val ins = base.filter(col("_m") >= 8)
      .withColumn("o_orderkey", col("o_orderkey") + lit(maxKey + 1L))
      .withColumn("action", lit("insert"))
    upd.unionByName(del).unionByName(ins)
  }

  private[run] def wireLines(muts: DataFrame, table: String): DataFrame = {
    val valueCols = muts.columns.filter(c => c != "action" && c != "_m")
    EventSource.serialize(
      muts.select(
        lit("db").as("schema"), lit(table).as("table"), col("action"),
        to_json(struct(valueCols.toSeq.map(col): _*)).as("values"),
        (lit(1000000L) + col("o_orderkey")).as("event_unixtime"),
        when(col("action") === "delete", lit(1)).otherwise(lit(2)).as("action_seq")))
  }

  /** The two replicas every run syncs, MergeTree first. */
  private[run] def tableSyncs(orders: StructType): Seq[TableSync] = Seq(
    TableSync("db", "orders_mt", orders, Seq("o_orderkey"), Engine.MergeTree),
    TableSync("db", "orders_rt", orders, Seq("o_orderkey"), Engine.ReplacingMergeTree))

  /** DDL-slot spacing: every 250th batch at the 5000-batch default, and
    * at a reduced size often enough that the run still reaches ADD, DROP
    * and a parked statement (the first four slots). */
  private[run] def ddlEvery(batches: Int): Int = math.min(250, batches / 8)

  /** A staged and bootstrapped workload: the cached mutation set (the
    * final-state oracle's input), the orders base and its highest key,
    * the replicas, the event files in batch order and the DDL statements
    * in schedule order. */
  private[run] final case class Staged(muts: DataFrame, nMut: Long, orders: DataFrame, maxKey: Long,
                                       tables: Seq[TableSync], files: Seq[String],
                                       ddl: Seq[String], bootstrapSec: Double) {
    def expectedParks: Int = ddl.count(_ == Unparseable)
  }

  /** Stage `batches` event files into `dest` (batch order = name order)
    * and bootstrap both stores under `workDir/state` from the orders
    * parquet. With `withDdl`, every [[ddlEvery]]-th file is one DDL
    * statement and the rest carry all the mutation events. Also sizes
    * the session's progress ring so no [[drain]] phase overflows it. */
  private[run] def stage(spark: SparkSession, sfDir: String, workDir: String,
                         dest: String, batches: Int, withDdl: Boolean = true): Staged = {
    import spark.implicits._
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    val maxKey = orders.agg(max("o_orderkey")).as[Long].head()
    val every = if (withDdl) ddlEvery(batches) else Int.MaxValue
    val dmlFiles = batches - batches / every
    val muts = mutations(orders, maxKey).cache()
    val nMut = muts.count()
    val parts = s"$workDir/stage"
    wireLines(muts, "orders_mt").unionByName(wireLines(muts, "orders_rt"))
      .repartition(dmlFiles).write.mode("overwrite").text(parts)
    val dml = Files.list(Paths.get(parts)).toArray.map(_.toString)
      .filter(_.endsWith(".txt")).sorted
    require(dml.length == dmlFiles, s"${dml.length} != $dmlFiles staged files")

    Files.createDirectories(Paths.get(dest))
    val ddl = ArrayBuffer.empty[String]
    var noteExists = false
    val dmlIt = dml.iterator
    val stagedAt = System.currentTimeMillis()
    val files = (0 until batches).map { k =>
      val dst = Paths.get(dest, f"f$k%05d.txt")
      if ((k + 1) % every == 0) {
        val stmt =
          if (ddl.length % 4 == 3) Unparseable
          else if (!noteExists) { noteExists = true; "ALTER TABLE db.orders_rt ADD COLUMN note VARCHAR(20)" }
          else { noteExists = false; "ALTER TABLE db.orders_rt DROP COLUMN note" }
        ddl += stmt
        val line = s"""{"schema":"db","table":"orders_rt","action":"query","values":"$stmt","event_unixtime":${2000000000L + k},"action_seq":0}"""
        Files.write(dst, (line + "\n").getBytes("UTF-8"))
      } else
        Files.copy(Paths.get(dmlIt.next()), dst, StandardCopyOption.REPLACE_EXISTING)
      // the file source orders by millisecond mtime and breaks ties in
      // listing order: one millisecond per file keeps batch order = name order
      Files.setLastModifiedTime(dst, java.nio.file.attribute.FileTime.fromMillis(stagedAt + k))
      dst.toString
    }
    println(s"""{"stage":"staged","batches":$batches,"dml_files":$dmlFiles,"ddl_files":${ddl.length},"events":${nMut * 2},"expected_parks":${ddl.count(_ == Unparseable)}}""")
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", (batches * 2 + 200).toString)

    val tables = tableSyncs(orders.schema)
    val t0 = System.nanoTime()
    Consume.bootstrap(spark, tables, s"$workDir/state",
      tables.map(t => (t.schema, t.table) -> FullEtl.ParquetSource(s"$sfDir/orders.parquet")).toMap)
    Staged(muts, nMut, orders, maxKey, tables, files, ddl.toSeq, (System.nanoTime() - t0) / 1e9)
  }

  /** Start the consume loop over `workDir/events`: one file per
    * trigger, each file deleted once the next batch is planned, failing
    * slices and unparseable DDL parked in the dead letter (skip-error),
    * the store compacted by `policy`. It subscribes with the
    * store-widened schema ([[widened]]) — the RUNBOOK restart procedure
    * after live DDL. */
  private[run] def consume(spark: SparkSession, workDir: String, tables: Seq[TableSync],
                           policy: CompactionPolicy): StreamingQuery = {
    val stateRoot = s"$workDir/state"
    Consume.start(spark,
      EventSource.files(spark, s"$workDir/events", maxFilesPerTrigger = 1,
        cleanSource = Some("delete")),
      tables.map(widened(spark, stateRoot, _)), stateRoot, s"$workDir/ckpt",
      triggerInterval = "0 seconds", skipError = true, ddlSink = Some(_ => ()),
      deadLetter = Some(new DeadLetter(spark, s"$workDir/deadletter")),
      compactionPolicy = Some(policy))
  }

  /** The RUNBOOK restart procedure as code: a consumer restarting after
    * live DDL subscribes with the WIDENED schema. The workload's only
    * ALTER shape is ADD/DROP of `note VARCHAR(20)` on orders_rt; the
    * widened schema (note present) is idempotent against both
    * directions — evolveSchema tolerates a re-ADD of an existing
    * column, and a DROP finds the column present. Derived from the
    * store (the operator's source of truth after a crash), never from
    * the DDL schedule. */
  private def widened(spark: SparkSession, stateRoot: String, t: TableSync): TableSync =
    new ParquetStateStore(spark, s"$stateRoot/${t.schema}/${t.table}").readLog() match {
      case Some(df) =>
        val extra = df.columns.toSet -- t.valueSchema.fieldNames.toSet --
          Set("sign", "_batch", "_version", "action", "event_unixtime", "action_seq")
        extra.foldLeft(t)((acc, c) => acc.copy(valueSchema = acc.valueSchema.add(c, StringType)))
      case None => t
    }

  private[run] final case class PhaseStats(name: String, batches: Int, rows: Long,
                                           wallSec: Double, batchSecs: Seq[Double],
                                           firstBatchId: Long, lastBatchId: Long)

  /** Drain every file present, then stop. Stopping on an idle query
    * leaves no next batch planned, so the file source has not yet
    * deleted the last batch's file and [[injectCrashWindow]]'s replay
    * re-reads it; a batch planned before the stop would have deleted it
    * and made the replay empty. */
  private[run] def drain(q: StreamingQuery, name: String): PhaseStats = {
    val t0 = System.nanoTime()
    q.processAllAvailable()
    q.stop()
    q.awaitTermination()
    val wall = (System.nanoTime() - t0) / 1e9
    // every entry counts for batch-id accounting; rates count only the
    // batches that read rows (an idle trigger reports 0)
    val all = q.recentProgress
    // overflow = silent undercount of the published rates — refuse
    val cap = q.sparkSession.conf
      .get("spark.sql.streaming.numRecentProgressUpdates").toInt
    require(all.length < cap,
      s"phase '$name' filled the $cap-entry progress buffer — its stats " +
        "would silently undercount; raise numRecentProgressUpdates")
    val prog = all.filter(_.numInputRows > 0)
    PhaseStats(name, prog.length, prog.map(_.numInputRows).sum, wall,
      prog.map(_.durationMs.get("triggerExecution").toDouble / 1000.0).toSeq,
      if (all.isEmpty) -1L else all.map(_.batchId).min,
      if (all.isEmpty) -1L else all.map(_.batchId).max)
  }

  /** The crash window's evidence across the two phases of a run that
    * staged `lines` wire lines: the restart re-ran a batch phase 1 had
    * committed (`p2_first_batch <= p1_last_batch`) AND re-read its input
    * (`replayed_rows > 0`), so the duplicate reached the store's
    * batch-id idempotence. */
  private[run] def crashReplay(p1: PhaseStats, p2: PhaseStats, lines: Long): Seq[(String, String)] = {
    val replayedRows = p1.rows + p2.rows - lines
    Seq("crash_replayed_batch" -> s"${p2.firstBatchId <= p1.lastBatchId && replayedRows > 0}",
      "p1_last_batch" -> s"${p1.lastBatchId}", "p2_first_batch" -> s"${p2.firstBatchId}",
      "replayed_rows" -> s"$replayedRows")
  }

  private[run] def phaseJson(p: PhaseStats): String = {
    val sorted = p.batchSecs.sorted
    def pct(q: Double) =
      if (sorted.isEmpty) 0.0 else sorted(math.min(sorted.length - 1,
        (q * sorted.length).toInt))
    f"""{"phase":"${p.name}","batches":${p.batches},"events":${p.rows},""" +
      f""""wall_sec":${p.wallSec}%.2f,"events_per_sec":${p.rows / p.wallSec}%.0f,""" +
      f""""batch_p50_sec":${pct(0.5)}%.3f,"batch_p95_sec":${pct(0.95)}%.3f}"""
  }

  /** Simulate the real at-least-once crash window: the sink committed
    * batch N but the query died before the offset commit landed. Deleting
    * the newest commit marker forces the restart to re-run that batch;
    * the store's batch-id idempotence must absorb the duplicate. This is
    * deterministic, unlike hoping a stop interrupts mid-batch. */
  private[run] def injectCrashWindow(ckpt: String): Unit = {
    def deleteWithCrc(log: String)(n: Long): Unit = {
      Files.delete(Paths.get(ckpt, log, s"$n"))
      // the local checksum FS keeps a ".N.crc" sibling; leaving it behind
      // fails the re-commit rename on restart
      Files.deleteIfExists(Paths.get(ckpt, log, s".$n.crc"))
    }
    logIds(s"$ckpt/commits").maxOption.foreach { n =>
      deleteWithCrc("commits")(n)
      // also drop any NEWER planned-but-uncommitted offsets entries: the
      // restart must re-execute the batch that WAS applied (offsets N,
      // no commit N), not just the in-flight one that never touched the
      // store — otherwise no duplicate reaches the idempotence layer
      logIds(s"$ckpt/offsets").filter(_ > n).foreach(deleteWithCrc("offsets"))
    }
  }

  /** The batch ids of a checkpoint log dir (`offsets`, `commits`). */
  private def logIds(dir: String): Seq[Long] = Option(new File(dir).list()).toSeq.flatten
    .filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong)

  /** Exact final-state checks against batch-computed expectations —
    * empty means every table resolved to exactly the mutated truth. */
  private[run] def finalStateFailures(spark: SparkSession, muts: DataFrame,
      orders: DataFrame, tables: Seq[TableSync], stateRoot: String): Seq[String] = {
    val updKeys = muts.filter(col("action") === "update")
      .select(col("o_orderkey"), col("o_totalprice").as("exp_price"))
    val delKeys = muts.filter(col("action") === "delete").select("o_orderkey")
    val expCount = orders.count() -
      delKeys.count() + muts.filter(col("action") === "insert").count()
    tables.flatMap { t =>
      val st = Consume.currentState(t,
        new ParquetStateStore(spark, s"$stateRoot/${t.schema}/${t.table}")).get.cache()
      val n = st.count()
      val deletedSurvive = st.join(delKeys, Seq("o_orderkey")).count()
      val updWrong = st.join(updKeys, Seq("o_orderkey"))
        .filter(col("o_totalprice") =!= col("exp_price")).count()
      st.unpersist()
      Seq(
        Option.when(n != expCount)(s"${t.table}: count $n != $expCount"),
        Option.when(deletedSurvive != 0L)(s"${t.table}: $deletedSurvive deleted keys survive"),
        Option.when(updWrong != 0L)(s"${t.table}: $updWrong updates not applied")).flatten
    }
  }

  /** Version count of store `db.table` under `root`. */
  private def versionCount(spark: SparkSession, root: String, table: String): Int =
    new ParquetStateStore(spark, s"$root/db/$table").versionIds().size

  /** Every check a staged run ends with: the exact final state, parked
    * DDL against the schedule, and each table's version peak against the
    * policy's contract — never more than maxDeltaVersions plus one
    * compaction interval of deltas. Parked STATEMENTS, not batches: a
    * kill can fold two scheduled DDL files into one engine batch on
    * restart, parking both under one batch id. Returns the parked count
    * with the failures. */
  private[run] def runChecks(spark: SparkSession, st: Staged, workDir: String,
                             policy: CompactionPolicy,
                             peaks: Map[String, Int]): (Long, Seq[String]) = {
    val parked = new ParquetStateStore(spark, s"$workDir/deadletter/db/_ddl").readLog()
      .map(_.count()).getOrElse(0L)
    val failures = finalStateFailures(spark, st.muts, st.orders, st.tables, s"$workDir/state") ++
      Option.when(parked != st.expectedParks.toLong)(
        s"dead-letter: $parked parked DDL statements != scheduled ${st.expectedParks}") ++
      st.tables.map(_.table).flatMap { t =>
        val peak = math.max(peaks.getOrElse(t, 0), versionCount(spark, s"$workDir/state", t))
        Option.when(peak > policy.maxDeltaVersions * 2)(
          s"$t versions peaked at $peak (> 2x policy bound)")
      }
    (parked, failures)
  }

  /** End-of-run base/delta version counts per table. */
  private[run] def stateVersions(spark: SparkSession, stateRoot: String,
                                 tables: Seq[TableSync]): String =
    tables.map { t =>
      val (bases, deltas) = new ParquetStateStore(
        spark, s"$stateRoot/${t.schema}/${t.table}").versionStats().partition(_._3)
      s""""${t.table}":{"bases":${bases.size},"deltas":${deltas.size}}"""
    }.mkString("{", ",", "}")

  /** Quiescent page-supply bracket ([[graft.SettleGuard.memProbeSec]]),
    * taken outside the consume loop: a run's throughput rows are citable
    * only under a healthy first-touch path. A trip is perf-citability,
    * not correctness — convergence holds on a sick host too — so it is
    * its own named `state_checks` line the reader can waive for the
    * state half. */
  private[run] final case class MemBracket(start: Double, end: Double) {
    def fields: Seq[(String, String)] = Seq(
      "mem_canary_start_sec" -> f"$start%.3f", "mem_canary_end_sec" -> f"$end%.3f")
    def failure: Option[String] =
      Option.when(Seq(start, end).exists(m => m > 1.0 || m < 0))(
        f"mem canary start=$start%.3f end=$end%.3f outside (0, 1.0] — " +
          "throughput rows not citable (state checks unaffected)")
  }

  /** One run's summary line: `fields` (values already JSON) and the
    * `state_checks` verdict. */
  private[run] def summary(name: String, fields: Seq[(String, String)],
                           failures: Seq[String]): String = {
    val checks = if (failures.isEmpty) "\"pass\"" else failures.mkString("\"", "; ", "\"")
    ((("summary" -> s""""$name"""") +: fields) :+ ("state_checks" -> checks))
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
  }

  private def rssMb(): Long =
    scala.util.Try {
      Files.readAllLines(Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmRSS")).map(_.split("\\s+")(1).toLong / 1024).getOrElse(-1L)
    }.getOrElse(-1L)

  /** Samples an in-process run's bounds every 30 s, one `soak_sample`
    * line each: driver RSS and heap (file-source seen-files map,
    * checkpoint logs, listener buffers — anything that leaks shows as a
    * slope), version counts, parked DDL batches, and the WINDOW batch
    * rate — a growing per-trigger cost (e.g. source-listing growth)
    * shows as a downward slope even when memory stays flat, where the
    * end-of-run average would dilute it away. The under-load page-supply
    * probe is slope context only: a loaded consume loop legitimately
    * inflates first-touch. */
  private final class Sampler(spark: SparkSession, workDir: String) {
    @volatile private var query: StreamingQuery = _
    private val done = new CountDownLatch(1)
    private val t0 = System.nanoTime()
    val peaks = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    var maxRss = 0L
    var maxMemProbe = -1.0
    val windowRates = ArrayBuffer.empty[Double]
    private val thread = new Thread(() => {
      var prevB = -1L; var prevT = System.nanoTime()
      do {
        try {
          val rss = rssMb()
          val mt = versionCount(spark, s"$workDir/state", "orders_mt")
          val rt = versionCount(spark, s"$workDir/state", "orders_rt")
          val dlc = versionCount(spark, s"$workDir/deadletter", "_ddl")
          val heap = (Runtime.getRuntime.totalMemory - Runtime.getRuntime.freeMemory) / (1024 * 1024)
          maxRss = math.max(maxRss, rss)
          peaks("orders_mt") = math.max(peaks("orders_mt"), mt)
          peaks("orders_rt") = math.max(peaks("orders_rt"), rt)
          val b = Option(query).flatMap(q => Option(q.lastProgress)).map(_.batchId).getOrElse(-1L)
          val mem = graft.SettleGuard.memProbeSec()
          maxMemProbe = math.max(maxMemProbe, mem)
          val now = System.nanoTime()
          val winRate =
            if (prevB >= 0 && b > prevB) (b - prevB) / ((now - prevT) / 1e9) else 0.0
          if (winRate > 0) windowRates += winRate
          prevB = b; prevT = now
          println(f"""{"soak_sample":$b,"wall_sec":${(now - t0) / 1e9}%.0f,"rss_mb":$rss,"heap_mb":$heap,"mt_versions":$mt,"rt_versions":$rt,"dl_ddl_batches":$dlc,"window_batches_per_sec":$winRate%.2f,"mem_probe_sec":$mem%.3f}""")
        } catch { case _: Exception => () }
      } while (!done.await(30, TimeUnit.SECONDS))
    }, "soak-sampler")
    thread.setDaemon(true); thread.start()

    def watch(q: StreamingQuery): StreamingQuery = { query = q; q }
    /** Stops sampling; the fields above are safe to read after it. */
    def stop(): Unit = { done.countDown(); thread.join() }

    /** Latency-drift bound: the last window quarter must hold at least
      * half the rate of the first quarter (compaction sawtooth and DDL
      * batches make windows noisy; a real leak-driven drift is monotonic
      * and far below 0.5×). */
    def drift: Option[String] =
      if (windowRates.length < 8) None
      else {
        val quarter = windowRates.length / 4
        val early = windowRates.take(quarter).sum / quarter
        val late = windowRates.takeRight(quarter).sum / quarter
        Option.when(late < early * 0.5)(
          f"batch-rate drift: first-quarter ${early}%.2f -> last-quarter ${late}%.2f batches/s")
      }
  }

  /** `kills = 0`: the in-process run. Returns the summary fields and the
    * failed checks. */
  private[run] def soak(spark: SparkSession, sfDir: String, workDir: String,
                        batches: Int): (Seq[(String, String)], Seq[String]) = {
    val st = stage(spark, sfDir, workDir, s"$workDir/pending", batches)
    val events = Files.createDirectories(Paths.get(workDir, "events"))
    def land(files: Seq[String]): Unit = files.map(Paths.get(_))
      .foreach(f => Files.move(f, events.resolve(f.getFileName)))
    val memStart = graft.SettleGuard.memProbeSec()
    val sampler = new Sampler(spark, workDir)
    // the first half ends on a DML file, so the crash window replays
    // mutations into the stores' idempotence, not a lone DDL statement
    val half = Iterator.from(batches / 2).find(_ % ddlEvery(batches) != 0).get
    val t0 = System.nanoTime()
    land(st.files.take(half))
    val p1 = drain(sampler.watch(consume(spark, workDir, st.tables, SoakPolicy)),
      "phase1_first_half")
    injectCrashWindow(s"$workDir/ckpt")
    land(st.files.drop(half))
    val p2 = drain(sampler.watch(consume(spark, workDir, st.tables, SoakPolicy)),
      "phase2_restart_drain")
    val wall = (System.nanoTime() - t0) / 1e9
    sampler.stop()
    val mem = MemBracket(memStart, graft.SettleGuard.memProbeSec())

    val (parked, checks) = runChecks(spark, st, workDir, SoakPolicy, sampler.peaks.toMap)
    st.muts.unpersist()
    println(phaseJson(p1))
    println(phaseJson(p2))
    val nEvents = st.nMut * 2
    val fields = Seq(
      "sf_dir" -> s""""$sfDir"""", "batches" -> s"$batches", "events" -> s"$nEvents",
      "bootstrap_sec" -> f"${st.bootstrapSec}%.2f",
      "wall_sec" -> f"$wall%.1f", "events_per_sec" -> f"${nEvents / wall}%.0f",
      "batches_per_sec" -> f"${batches / wall}%.2f",
      "window_rates_first_to_last" -> sampler.windowRates.map(r => f"$r%.2f").mkString("\"", ",", "\""),
      "max_rss_mb" -> s"${sampler.maxRss}", "final_rss_mb" -> s"${rssMb()}",
      "max_versions" -> st.tables.map(t => s""""${t.table}":${sampler.peaks(t.table)}""").mkString("{", ",", "}"),
      "state_versions" -> stateVersions(spark, s"$workDir/state", st.tables),
      "ddl_files" -> s"${st.ddl.length}",
      "dl_ddl_statements" -> s"$parked", "expected_parks" -> s"${st.expectedParks}") ++
      crashReplay(p1, p2, nEvents + st.ddl.length) ++ mem.fields :+
      ("mem_probe_max_under_load_sec" -> f"${sampler.maxMemProbe}%.3f")
    (fields, checks ++ sampler.drift ++ mem.failure)
  }

  /** Batch ids at which the kills land: kill k near k·batches/(kills+1),
    * jittered by up to a quarter of that spacing with a fixed seed, so
    * the targets strictly increase and all fall inside [1, batches). */
  private[run] def killTargets(batches: Int, kills: Int, seed: Long = KillSeed): Seq[Long] = {
    val min = MinBatchesPerKill * (kills + 1)
    require(kills >= 1 && batches >= min,
      s"$kills kills need batches >= $min ($MinBatchesPerKill per kill window), got $batches")
    val rnd = new scala.util.Random(seed)
    val spacing = batches.toLong / (kills + 1)
    val jitter = spacing / 4
    (1 to kills).map(k => k * spacing + rnd.nextLong(2 * jitter + 1) - jitter)
  }

  /** A child JVM's output, appended to `log` by a reader thread that
    * keeps the highest `crashsoak_progress` batch id THIS child reported
    * (-1 none) and the last one's `trigger_ms`. Per child, not
    * cumulative, which keeps the monotonicity check honest: a cumulative
    * max is >= its own past by construction, so a worker restarting from
    * a reset checkpoint and re-reporting batch 0 would sail through it. */
  private[run] final class ChildOutput(in: java.io.InputStream, log: File) {
    @volatile var max = -1L
    @volatile var lastTriggerMs = 0L
    private val Progress = """"crashsoak_progress":(\d+),"trigger_ms":(\d+)""".r
    private val reader = new Thread(() => {
      val out = new java.io.PrintWriter(new java.io.FileWriter(log, true), true)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().foreach { line =>
        out.println(line)
        Progress.findFirstMatchIn(line).foreach { m =>
          max = math.max(max, m.group(1).toLong)
          lastTriggerMs = m.group(2).toLong
        }
      } finally out.close()
    }, "child-output")
    reader.setDaemon(true); reader.start()

    /** Returns once the child's output ended (it exited). */
    def join(): Unit = reader.join()
  }

  /** The parent's JVM flags a child JVM starts with: all but an initial
    * heap size (a pinned heap in each of two JVMs doubles what the run
    * pins), a flight recording (the child would write the parent's file)
    * and agents (a fixed debug port would refuse the child's start).
    * -Xmx is kept. */
  private[run] def childJvmFlags(parent: Seq[String]): Seq[String] =
    parent.filterNot(f => Seq("-Xms", "-XX:InitialHeapSize", "-XX:StartFlightRecording",
      "-XX:FlightRecorderOptions", "-agentlib:", "-agentpath:", "-javaagent:").exists(f.startsWith))

  /** The directories of `workDir`'s stores that no log entry names
    * ([[ParquetStateStore.unnamedDirs]]), each as `<table>/<dir>`. */
  private[run] def unnamedDirs(spark: SparkSession, workDir: String,
                               tables: Seq[TableSync]): Set[String] =
    tables.flatMap(t => store(spark, workDir, t).unnamedDirs().map(d => s"${t.table}/$d")).toSet

  private def store(spark: SparkSession, workDir: String, t: TableSync): ParquetStateStore =
    new ParquetStateStore(spark, s"$workDir/state/${t.schema}/${t.table}")

  /** Some store of `workDir` holds a compaction directory that no entry
    * names and that is not among `stale`, the unnamed directories found
    * when the worker started: a compaction is in flight (or was, in a
    * killed worker). */
  private def compacting(spark: SparkSession, workDir: String, tables: Seq[TableSync],
                         stale: Set[String]): Boolean =
    (unnamedDirs(spark, workDir, tables) -- stale)
      .exists(_.contains(s"/${ParquetStateStore.CompactPrefix}"))

  /** Where in the micro-batch a killed worker died, read off its
    * checkpoint and the stores' logs: `between_batches` (the newest
    * planned batch is committed), else, for the planned-but-uncommitted
    * batch b, `compaction` (see [[compacting]]), `after_apply` (every
    * store's newest entry holds b: DDL, compaction check or commit
    * write), `apply` (some store has a `v=b` directory no entry names,
    * and that is not among `stale`) or `before_apply` (planning, input
    * read). */
  private[run] def killPhase(spark: SparkSession, workDir: String, tables: Seq[TableSync],
                             stale: Set[String]): String = {
    val committed = logIds(s"$workDir/ckpt/commits").maxOption
    logIds(s"$workDir/ckpt/offsets").maxOption.filter(b => committed.forall(_ < b)) match {
      case None => "between_batches"
      case Some(b) =>
        if (compacting(spark, workDir, tables, stale)) "compaction"
        else if (tables.forall(t => store(spark, workDir, t).committed(b))) "after_apply"
        else if ((unnamedDirs(spark, workDir, tables) -- stale).exists(_.endsWith(s"/v=$b"))) "apply"
        else "before_apply"
    }
  }

  /** Run this object in a child JVM with [[childJvmFlags]] and the
    * parent's classpath, its output read by a [[ChildOutput]] into
    * `log`. */
  private def spawn(args: Seq[String], log: File): (Process, ChildOutput) = {
    val jvmFlags = childJvmFlags(java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq)
    val cmd = Seq(s"${sys.props("java.home")}/bin/java") ++ jvmFlags ++
      Seq("-cp", sys.props("java.class.path"), getClass.getName.stripSuffix("$")) ++ args
    val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    (p, new ChildOutput(p.getInputStream, log))
  }

  /** The killable child of a `kills > 0` run: the consume loop over the
    * staged workload (`--worker`), or one dead-letter drain of orders_mt
    * (`--drain`). The consume loop prints one `crashsoak_progress` line
    * per batch, with its `triggerExecution` ms, for the parent's kill
    * schedule, kill delay and monotonicity check.
    * Exits 0 once its work is drained; a throw exits nonzero, which the
    * parent treats as a failure. */
  private def worker(role: String, sfDir: String, workDir: String): Unit = {
    val spark = graft.Tables.session()
    val tables = tableSyncs(spark.read.parquet(s"$sfDir/orders.parquet").schema)
    if (role == "--drain")
      new DeadLetter(spark, s"$workDir/deadletter")
        .drain(widened(spark, s"$workDir/state", tables.head), s"$workDir/state")
    else {
      def report(p: StreamingQueryProgress): Unit = {
        val ms = p.durationMs.getOrDefault("triggerExecution", 0L)
        println(s"""{"crashsoak_progress":${p.batchId},"trigger_ms":$ms}""")
      }
      spark.streams.addListener(new StreamingQueryListener {
        override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
          report(e.progress)
        override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      })
      val q = consume(spark, workDir, tables, KillPolicy)
      q.processAllAvailable()
      Option(q.lastProgress).foreach(report)
      q.stop(); q.awaitTermination()
    }
    spark.stop()
  }

  /** `kills > 0`: the consumer under SIGKILLs in child JVMs, then the
    * drain-kill phase. Returns the summary fields and the failed checks. */
  private def crash(spark: SparkSession, sfDir: String, workDir: String,
                    batches: Int, kills: Int): (Seq[(String, String)], Seq[String]) = {
    val targets = killTargets(batches, kills)
    val st = stage(spark, sfDir, workDir, s"$workDir/events", batches)
    val stateRoot = s"$workDir/state"
    val log = new File(s"$workDir/worker.log")
    val memStart = graft.SettleGuard.memProbeSec()
    val t0 = System.nanoTime()

    // ---- phase 1: consume under SIGKILLs ----
    var killsDone = 0; var gen = 0; var maxSeen = -1L
    val uptimes = ArrayBuffer.empty[Double]
    val phases = ArrayBuffer.empty[String]
    val delays = new scala.util.Random(KillSeed)
    var consumed = false
    while (!consumed) {
      gen += 1
      val before = maxSeen // cumulative max over all PRIOR generations
      val stale = unnamedDirs(spark, workDir, st.tables)
      val (p, progress) = spawn(Seq("--worker", sfDir, workDir), log)
      val started = System.nanoTime()
      while (killsDone < kills && p.isAlive && progress.max < targets(killsDone))
        p.waitFor(50, TimeUnit.MILLISECONDS)
      // the target batch committed. An odd kill lands a seeded random way
      // into the next batch, up to the last batch's length; an even one
      // as soon as a compaction is in flight (a batch phase too short for
      // a random delay to hit at small scale), or 18 batches on. A worker
      // that exits first is not killed and counts as done.
      val killIssued = killsDone < kills && p.isAlive
      if (killIssued) {
        if (killsDone % 2 == 0)
          p.waitFor(delays.nextLong(progress.lastTriggerMs + 1), TimeUnit.MILLISECONDS)
        else {
          val giveUp = targets(killsDone) + KillPolicy.maxDeltaVersions + 2
          while (p.isAlive && !compacting(spark, workDir, st.tables, stale) && progress.max < giveUp)
            p.waitFor(10, TimeUnit.MILLISECONDS)
        }
        p.destroyForcibly()
      }
      val exit = p.waitFor()
      progress.join()
      val phase = if (killIssued && exit == SigKillExit) killPhase(spark, workDir, st.tables, stale) else ""
      if (phase.nonEmpty) {
        killsDone += 1
        uptimes += (System.nanoTime() - started) / 1e9
        phases += phase
      } else if (exit != 0)
        sys.error(s"gen $gen: worker exit $exit without a kill — see $log")
      else consumed = true
      // THIS generation's own reported max: a restart that re-reports a
      // batch id below everything already committed means the checkpoint
      // went backwards — the double-apply shape. A generation that
      // reported nothing (-1) is fine; Structured Streaming
      // legitimately RETRIES the killed batch id itself, so `>= before`
      // (not `> before`) is the bound.
      val genMax = progress.max
      if (genMax >= 0 && genMax < before)
        sys.error(s"gen $gen: progress REGRESSED across restart " +
          s"(cumulative $before -> this generation reported $genMax)")
      maxSeen = math.max(maxSeen, genMax)
      println(s"""{"crashsoak_gen":$gen,"kills":$killsDone,"max_batch":$maxSeen,"consumed":$consumed,"kill_phase":"$phase"}""")
    }
    // Completion is proven by the SOURCE offset, not the engine batch id:
    // a kill landing between the file source's metadata-log write and the
    // engine's offset-log write makes the restart swallow the source's
    // pre-planned entries into ONE engine batch (a 20-kill run ended clean
    // at engine batch 4996 whose offset was source logOffset 4999, nothing
    // lost — the exact-state oracle below is the ground-truth completion
    // proof over every staged mutation).
    val offsets = s"$workDir/ckpt/offsets"
    val lastLogOffset = """"logOffset":(\d+)""".r
      .findFirstMatchIn(Files.readString(Paths.get(s"$offsets/${logIds(offsets).max}")))
      .map(_.group(1).toLong)
    require(lastLogOffset.contains(batches - 1L),
      s"worker exited clean at source offset $lastLogOffset, expected " +
        s"${batches - 1} (engine batch $maxSeen)")
    println(s"""{"crashsoak_final_source_offset":${lastLogOffset.get},"engine_batch":$maxSeen,"batch_id_slips":${batches - 1 - maxSeen}}""")
    val leftover = Files.list(Paths.get(s"$workDir/events")).toArray
      .map(_.toString).count(_.endsWith(".txt"))
    println(s"""{"crashsoak_leftover_files":$leftover}""")

    val (parked, checks) = runChecks(spark, st, workDir, KillPolicy, Map.empty)
    val phase1 = checks ++ Option.when(killsDone < kills)(
      s"only $killsDone of $kills kills landed — raise batches") ++
      Option.when(kills >= 2 && !phases.contains("compaction"))(
        s"no kill landed inside a compaction (phases ${phases.mkString(",")}) — " +
          "the crash-resumable swap went unexercised")

    // ---- phase 2: SIGKILL a dead-letter DRAIN mid-replay, re-run, converge ----
    // park a synthetic insert backlog for orders_mt under FRESH batch ids
    // (above everything consumed), then drain it in a child, kill the
    // child mid-drain, drain again to completion.
    import spark.implicits._
    val t = st.tables.head
    val mtStore = new ParquetStateStore(spark, s"$stateRoot/db/orders_mt")
    val dl = new DeadLetter(spark, s"$workDir/deadletter")
    val parkBatches = 60; val rowsPerBatch = 200
    val base = maxSeen + 1000
    // key range DISJOINT from the workload's own inserts (those also sit
    // above maxKey): the phase-2 exactly-once count must see only the
    // synthetic backlog
    val synthBase = st.maxKey + 10000000L
    (0 until parkBatches).foreach { i =>
      val rows = (0 until rowsPerBatch).map { j =>
        val k = synthBase + i * rowsPerBatch + j
        ("db", "orders_mt", "insert",
          s"""{"o_orderkey":$k,"o_custkey":1,"o_orderstatus":"O","o_totalprice":1.0,"o_orderdate":"2020-01-01 00:00:00","o_orderpriority":"1-URGENT"}""",
          3000000000L + i, 2, "park", 1L)
      }
      dl.record(rows.toDF("schema", "table", "action", "values",
        "event_unixtime", "action_seq", "_src_file", "_src_seq"),
        "db", "orders_mt", base + i, "synthetic backlog", preSync = Some(t))
    }
    val preDrainCount = Consume.currentState(t, mtStore).get.count()
    val dlog = new File(s"$workDir/drain.log")
    // >= 2 drain-phase kills: each attempt replays the still-parked
    // backlog batch-by-batch (each its own Spark job), so a kill lands
    // mid-replay and the next attempt resumes from what stayed parked. A
    // kill that lands before the child replayed anything (still inside
    // JVM/Spark init) is counted but the delay base grows so the next
    // one reaches the replay loop; the mid-replay evidence is asserted
    // separately below.
    val rnd = new scala.util.Random(KillSeed)
    val drainKillTarget = 2
    var drainKills = 0; var drainAttempts = 0
    // initial delay sits past the child's JVM+Spark init (~12-18 s) and
    // inside the ~60-batch replay window
    var delayBaseMs = 15000
    var midReplayKills = 0
    // replay progress = COMMITTED versions in the synthetic batch-id
    // range on the TARGET store (applyBatch commits per batch) — the
    // parked queue itself is useless as a progress signal because drain
    // clears it only at the very end, which a killed drain never reaches
    def replayedBatches(): Int = mtStore.versionIds().count(_ >= base)
    var prevReplayed = 0
    var drainDone = false
    while (!drainDone) {
      drainAttempts += 1
      val (dp, _) = spawn(Seq("--drain", sfDir, workDir), dlog)
      // keep killing until BOTH the kill quota is met and at least one
      // kill provably landed mid-replay (capped: a box too fast/slow for
      // any window proceeds and fails the named check loudly below)
      val killing = (drainKills < drainKillTarget || midReplayKills < 1) && drainAttempts <= 10
      if (killing && !dp.waitFor(delayBaseMs + rnd.nextInt(8000), TimeUnit.MILLISECONDS)) {
        dp.destroyForcibly(); dp.waitFor()
        drainKills += 1
        val replayed = replayedBatches()
        if (replayed > prevReplayed && replayed < parkBatches) midReplayKills += 1
        else if (replayed == prevReplayed) delayBaseMs += 6000 // init — widen
        println(s"""{"crashsoak_drain_attempt":$drainAttempts,"killed":true,"batches_replayed":$replayed}""")
        prevReplayed = replayed
      } else {
        require(dp.waitFor() == 0, s"drain worker exit ${dp.exitValue()} — see $dlog")
        drainDone = true
      }
    }
    val postState = Consume.currentState(t, mtStore).get.cache()
    val postDrainCount = postState.count()
    val newKeys = postState.filter(col("o_orderkey") >= synthBase)
    val newCount = newKeys.count()
    val newDistinct = newKeys.select("o_orderkey").distinct().count()
    postState.unpersist()
    val queueLeft = dl.read("db", "orders_mt").map(_.count()).getOrElse(0L)
    val phase2 = Seq(
      Option.when(drainKills < drainKillTarget)(
        s"only $drainKills of $drainKillTarget drain kills landed — " +
          "window too narrow, raise parkBatches"),
      Option.when(midReplayKills < 1)(
        s"no drain kill landed MID-REPLAY (all inside child init or after " +
          s"full drain) — the re-apply/clear crash window went unexercised"),
      Option.when(newCount != (parkBatches * rowsPerBatch).toLong)(
        s"drained rows: $newCount != ${parkBatches * rowsPerBatch} parked"),
      Option.when(newDistinct != newCount)(
        s"drained keys duplicated: $newDistinct distinct of $newCount — " +
          "the killed drain double-applied"),
      Option.when(postDrainCount != preDrainCount + parkBatches * rowsPerBatch)(
        s"table count $postDrainCount != $preDrainCount + ${parkBatches * rowsPerBatch}"),
      Option.when(queueLeft != 0L)(s"$queueLeft rows still parked after the re-drain")).flatten

    val mem = MemBracket(memStart, graft.SettleGuard.memProbeSec())
    val wall = (System.nanoTime() - t0) / 1e9
    st.muts.unpersist()
    val fields = Seq(
      "sf_dir" -> s""""$sfDir"""", "batches" -> s"$batches", "events" -> s"${st.nMut * 2}",
      "wall_sec" -> f"$wall%.1f", "kills" -> s"$killsDone", "generations" -> s"$gen",
      "kill_targets" -> targets.mkString("\"", ",", "\""),
      "kill_uptimes_sec" -> uptimes.map(u => f"$u%.0f").mkString("\"", ",", "\""),
      "kill_phases" -> phases.mkString("\"", ",", "\""),
      "max_batch" -> s"$maxSeen", "dl_ddl_statements" -> s"$parked",
      "expected_parks" -> s"${st.expectedParks}",
      "state_versions" -> stateVersions(spark, stateRoot, st.tables),
      "drain_kills" -> s"$drainKills", "drain_mid_replay_kills" -> s"$midReplayKills",
      "drain_attempts" -> s"$drainAttempts", "drained_rows" -> s"$newCount") ++ mem.fields
    (fields, phase1 ++ phase2 ++ mem.failure)
  }

  def main(args: Array[String]): Unit = args.toSeq match {
    case Seq(role @ ("--worker" | "--drain"), sfDir, workDir) => worker(role, sfDir, workDir)
    case _ =>
      graft.SettleGuard.install()
      require(args.length >= 2, "usage: Rehearsal <sfDir> <workDir> [batches=5000] [kills=0] " +
        "(kills > 0 runs two JVMs, each up to this one's -Xmx: give it at most half the box)")
      val (sfDir, workDir) = (args(0), args(1))
      val batches = if (args.length > 2) args(2).toInt else 5000
      val kills = if (args.length > 3) args(3).toInt else 0
      require(batches >= MinBatches, s"batches must be >= $MinBatches, got $batches")
      if (kills > 0) killTargets(batches, kills) // refuse a too-small size before any work
      val spark = graft.Tables.session()
      val (fields, failures) =
        if (kills == 0) soak(spark, sfDir, workDir, batches)
        else crash(spark, sfDir, workDir, batches, kills)
      println(summary(if (kills == 0) "rehearsal" else "crash_rehearsal", fields, failures))
      if (failures.nonEmpty) sys.exit(1)
      spark.stop()
  }
}
