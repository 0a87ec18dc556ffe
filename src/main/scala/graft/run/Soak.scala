package graft.run

import graft.model.Engine
import graft.sink.ParquetStateStore
import graft.streaming.EventSource
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths, StandardCopyOption}

/** Long-horizon soak of the consume loop (VERDICT r10 #4): ~5,000
  * micro-batches over sf-scale data — 10× past the 500-batch rehearsal
  * horizon — with a mixed DML + periodic-DDL schedule, tracking the
  * bounds a weeks-long deployment lives or dies by:
  *
  *  - state-store version count (the compaction policy must keep read
  *    fan-in bounded forever, not just for 500 batches);
  *  - dead-letter volume (an unparseable ALTER is injected every 4th
  *    DDL slot; parks must accumulate exactly on schedule, nothing else);
  *  - driver RSS + JVM heap over time (file-source seen-files map,
  *    checkpoint logs, listener buffers — anything that leaks shows up
  *    as a slope here);
  *  - batch latency drift (p50 over each sample window: a growing
  *    per-trigger cost — e.g. source-listing growth — shows up as drift
  *    even when memory is flat).
  *
  * Schedule: every 250th micro-batch is a DDL-only batch against
  * `orders_rt` (alternating ADD/DROP of a scratch column, so the live
  * schema-evolution path churns 10× more than any spec) while
  * `orders_mt` never sees DDL — an in-run A/B. Every 4th DDL slot is
  * unparseable and must park. The file source runs with
  * `cleanSource=delete` so the staging directory is consumed like the
  * Redis bridge's staging would be.
  *
  * Prints one `soak_sample` JSON line per interval and a final
  * `soak_summary` line with max/final RSS, version-count maxima, the
  * dead-letter count vs its schedule, and exact final-state checks —
  * the numbers SCALE.md cites.
  */
object Soak {

  /** Output of [[stageWorkload]]: the cached mutation set (final-state
    * oracle input), its count, the scheduled unparseable-DDL park count,
    * the orders base frame, and the two table syncs. */
  private[run] final case class Staged(muts: org.apache.spark.sql.DataFrame,
                                       nMut: Long, expectedParks: Int,
                                       orders: org.apache.spark.sql.DataFrame,
                                       tables: Seq[TableSync])

  /** Stage the soak workload under `workDir` and bootstrap the state
    * root — EXACTLY the logic the 5,000-batch soak has run since r10
    * (lifted verbatim so [[CrashSoak]] drives the same workload through
    * kill/restart cycles): ALL mutation events spread over the DML
    * batches, a DDL-only file at every `ddlEvery`-th slot (lexicographic
    * names = batch order), every 4th DDL slot unparseable (must park). */
  private[run] def stageWorkload(spark: SparkSession, sfDir: String,
                                 workDir: String, batches: Int,
                                 ddlEvery: Int): Staged = {
    import spark.implicits._
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    val maxKey = orders.agg(max("o_orderkey")).as[Long].head()
    val stage = s"$workDir/stage"; val eventsDir = s"$workDir/events"
    val stateRoot = s"$workDir/state"
    Files.createDirectories(Paths.get(eventsDir))

    val ddlSlots = (1 to batches).count(_ % ddlEvery == 0)
    val dmlFiles = batches - ddlSlots
    val muts = StreamRehearsal.mutations(orders, maxKey).cache()
    val nMut = muts.count()
    val lines = StreamRehearsal.wireLines(muts, "orders_mt")
      .unionByName(StreamRehearsal.wireLines(muts, "orders_rt"))
    lines.repartition(dmlFiles).write.mode("overwrite").text(stage)
    val staged = Files.list(Paths.get(stage)).toArray.map(_.toString)
      .filter(_.endsWith(".txt")).sorted
    require(staged.length == dmlFiles, s"${staged.length} != $dmlFiles staged files")

    def ddlLine(stmt: String, ts: Long): String = {
      val esc = stmt.replace("\"", "\\\"")
      s"""{"schema":"db","table":"orders_rt","action":"query","values":"$esc","event_unixtime":$ts,"action_seq":0}"""
    }
    var ddlIdx = 0; var noteExists = false
    var expectedParks = 0
    val dml = staged.iterator
    (0 until batches).foreach { k =>
      val dst = Paths.get(eventsDir, f"f$k%05d.txt")
      if ((k + 1) % ddlEvery == 0) {
        val stmt =
          if (ddlIdx % 4 == 3) { expectedParks += 1; "ALTER TABLE db.orders_rt FROBNICATE 42" }
          else if (!noteExists) { noteExists = true; "ALTER TABLE db.orders_rt ADD COLUMN note VARCHAR(20)" }
          else { noteExists = false; "ALTER TABLE db.orders_rt DROP COLUMN note" }
        ddlIdx += 1
        Files.write(dst, (ddlLine(stmt, 2000000000L + k) + "\n").getBytes("UTF-8"))
      } else
        Files.copy(Paths.get(dml.next()), dst, StandardCopyOption.REPLACE_EXISTING)
      ()
    }
    println(s"""{"stage":"soak_staged","batches":$batches,"dml_files":$dmlFiles,"ddl_files":$ddlSlots,"events":${nMut * 2},"expected_parks":$expectedParks}""")

    val tables = Seq(
      TableSync("db", "orders_mt", orders.schema, Seq("o_orderkey"), Engine.MergeTree),
      TableSync("db", "orders_rt", orders.schema, Seq("o_orderkey"), Engine.ReplacingMergeTree))
    Consume.bootstrap(spark, tables, stateRoot,
      Map(("db", "orders_mt") -> FullEtl.ParquetSource(s"$sfDir/orders.parquet"),
          ("db", "orders_rt") -> FullEtl.ParquetSource(s"$sfDir/orders.parquet")))
    Staged(muts, nMut, expectedParks, orders, tables)
  }

  private def rssMb(): Long =
    scala.util.Try {
      Files.readAllLines(Paths.get("/proc/self/status")).toArray
        .map(_.toString).find(_.startsWith("VmRSS")) match {
          case Some(l) => l.split("\\s+")(1).toLong / 1024
          case None => -1L
        }
    }.getOrElse(-1L)

  def main(args: Array[String]): Unit = {
    graft.SettleGuard.install()
    require(args.length >= 2, "usage: Soak <sfDir> <workDir> [batches]")
    val (sfDir, workDir) = (args(0), args(1))
    val batches = if (args.length > 2) args(2).toInt else 5000
    val ddlEvery = 250
    val spark = graft.Tables.session()
    import spark.implicits._

    val staged0 = stageWorkload(spark, sfDir, workDir, batches, ddlEvery)
    val Staged(muts, nMut, expectedParks, orders, tables) = staged0
    val eventsDir = s"$workDir/events"
    val stateRoot = s"$workDir/state"; val ckpt = s"$workDir/ckpt"
    val dlRoot = s"$workDir/deadletter"

    val policy = graft.sink.SinkStrategy.CompactionPolicy(
      maxDeltaVersions = 64, maxDeltaToBaseRatio = 1.0)
    val dl = new DeadLetter(spark, dlRoot)
    val q = Consume.start(spark,
      EventSource.files(spark, eventsDir, maxFilesPerTrigger = 1,
        cleanSource = Some("delete")),
      tables, stateRoot, ckpt, triggerInterval = "0 seconds",
      skipError = true, ddlSink = Some(_ => ()), deadLetter = Some(dl),
      compactionPolicy = Some(policy))

    // --- sampler: bounds over time ---
    def versionCount(table: String): Int =
      new ParquetStateStore(spark, s"$stateRoot/db/$table").versionIds().size
    def dlCount(): Int =
      new ParquetStateStore(spark, s"$dlRoot/db/_ddl").versionIds().size
    @volatile var maxRss = 0L
    @volatile var maxMt = 0; @volatile var maxRt = 0
    @volatile var maxMemProbe = -1.0
    // quiescent page-supply bracket (r16, VERDICT r15 #4): the r15 host
    // degradation mode (first-touch collapse) was invisible in soak
    // artifacts; memStart/memEnd run OUTSIDE the consume loop and gate
    // perf citability below. Per-sample probes run UNDER load, so they
    // measure host + own-contention — recorded for slope context, not
    // gated (a 32-core consume loop legitimately inflates first-touch).
    val memStart = graft.SettleGuard.memProbeSec()
    val windowRates = scala.collection.mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    val sampler = new Thread(() => {
      var prevB = -1L; var prevT = System.nanoTime()
      while (q.isActive) {
        try {
          val rss = rssMb(); val mt = versionCount("orders_mt")
          val rt = versionCount("orders_rt"); val dlc = dlCount()
          val heap = (Runtime.getRuntime.totalMemory - Runtime.getRuntime.freeMemory) / (1024 * 1024)
          maxRss = math.max(maxRss, rss)
          maxMt = math.max(maxMt, mt); maxRt = math.max(maxRt, rt)
          val b = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
          val mem = graft.SettleGuard.memProbeSec()
          maxMemProbe = math.max(maxMemProbe, mem)
          val now = System.nanoTime()
          // per-WINDOW batch rate: latency drift (e.g. a growing
          // per-trigger source-listing cost) shows here as a downward
          // slope even when memory stays flat — the end-of-run average
          // would dilute it away
          val winRate =
            if (prevB >= 0 && b > prevB) (b - prevB) / ((now - prevT) / 1e9) else 0.0
          if (winRate > 0) windowRates.synchronized { windowRates += winRate }
          prevB = b; prevT = now
          val wall = (now - t0) / 1e9
          println(f"""{"soak_sample":$b,"wall_sec":$wall%.0f,"rss_mb":$rss,"heap_mb":$heap,"mt_versions":$mt,"rt_versions":$rt,"dl_ddl_batches":$dlc,"window_batches_per_sec":$winRate%.2f,"mem_probe_sec":$mem%.3f}""")
        } catch { case _: Exception => () }
        Thread.sleep(30000)
      }
    }, "soak-sampler")
    sampler.setDaemon(true); sampler.start()

    q.processAllAvailable(); q.stop(); q.awaitTermination()
    val wall = (System.nanoTime() - t0) / 1e9
    val memEnd = graft.SettleGuard.memProbeSec()

    // --- bounds + exact state checks ---
    val dlFinal = dlCount()
    // latency-drift bound: the last window quarter must hold at least
    // half the rate of the first quarter (compaction sawtooth and DDL
    // batches make windows noisy; a real leak-driven drift is monotonic
    // and far below 0.5×)
    val drift = windowRates.synchronized {
      val rs = windowRates.toSeq
      if (rs.length < 8) None
      else {
        val quarter = rs.length / 4
        val early = rs.take(quarter).sum / quarter
        val late = rs.takeRight(quarter).sum / quarter
        Option.when(late < early * 0.5)(
          f"batch-rate drift: first-quarter ${early}%.2f -> last-quarter ${late}%.2f batches/s")
      }
    }
    val failures = StreamRehearsal.finalStateFailures(spark, muts, orders, tables, stateRoot) ++
      drift.toSeq ++
      Seq(
        Option.when(dlFinal != expectedParks)(
          s"dead-letter: $dlFinal parked DDL batches != scheduled $expectedParks"),
        // the policy's contract: never more than maxDeltaVersions + one
        // compaction interval of deltas visible at any sample
        Option.when(maxMt > policy.maxDeltaVersions * 2)(
          s"orders_mt versions peaked at $maxMt (> 2x policy bound)"),
        Option.when(maxRt > policy.maxDeltaVersions * 2)(
          s"orders_rt versions peaked at $maxRt (> 2x policy bound)"),
        // perf-citability, not correctness: state checks above hold on a
        // sick host too — this line names the claim that dies (the
        // throughput/latency rows), mirroring regress.py MEM_CANARY_BAD
        Option.when(memStart > 1.0 || memStart < 0 || memEnd > 1.0 || memEnd < 0)(
          f"mem canary start=$memStart%.3f end=$memEnd%.3f outside (0, 1.0] — " +
            "throughput rows not citable (state checks unaffected)")).flatten
    muts.unpersist()
    val events = nMut * 2
    println(f"""{"summary":"soak","sf_dir":"$sfDir","batches":$batches,"events":$events,""" +
      f""""wall_sec":$wall%.1f,"events_per_sec":${events / wall}%.0f,""" +
      f""""batches_per_sec":${batches / wall}%.2f,""" +
      s""""window_rates_first_to_last":"${windowRates.synchronized {
        windowRates.map(r => f"$r%.2f").mkString(",")}}",""" +
      s""""max_rss_mb":$maxRss,"final_rss_mb":${rssMb()},""" +
      s""""max_versions":{"orders_mt":$maxMt,"orders_rt":$maxRt},""" +
      s""""final_versions":{"orders_mt":${versionCount("orders_mt")},"orders_rt":${versionCount("orders_rt")}},""" +
      s""""dl_ddl_batches":$dlFinal,"expected_parks":$expectedParks,""" +
      f""""mem_canary_start_sec":$memStart%.3f,"mem_canary_end_sec":$memEnd%.3f,""" +
      f""""mem_probe_max_under_load_sec":$maxMemProbe%.3f,""" +
      s""""state_checks":${if (failures.isEmpty) "\"pass\"" else failures.mkString("\"", "; ", "\"")}}""")
    if (failures.nonEmpty) sys.exit(1)
    spark.stop()
  }
}
