package graft.run

import graft.sink.ParquetStateStore
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit

/** Crash-under-load soak (VERDICT r14 directive #6): the 5,000-batch
  * soak proves steady state at volume and RewindDrainSpec proves seeded
  * crash interleavings at test scale — nothing yet proved crash recovery
  * AT volume. This orchestrator drives the EXACT soak workload
  * ([[Soak.stageWorkload]], byte-identical staging) through a consumer
  * that runs in a CHILD JVM, SIGKILLs it at random points across the
  * run (an aggressive compaction policy — maxDeltaVersions 16 vs the
  * soak's 64 — keeps ~300 compaction swaps in flight to land kills in),
  * restarts it, and asserts the converge-or-refuse closure end-to-end:
  *
  *  - progress is monotone across restarts (a batch id reported by any
  *    restart generation never regresses — checkpoint idempotence);
  *  - a worker may die only by OUR kill; any other nonzero exit fails
  *    the run (no legitimate refusal exists in this workload);
  *  - after the last restart drains the backlog, the final state passes
  *    the SAME exact-state oracle as the soak
  *    ([[StreamRehearsal.finalStateFailures]]) plus the dead-letter
  *    schedule and version bounds;
  *  - a second phase parks a synthetic DML backlog and SIGKILLs >= 2
  *    successive DRAIN attempts (at least one provably mid-replay:
  *    the parked count strictly shrank but did not reach zero), then
  *    re-runs to completion and asserts exactly-once convergence
  *    (count + per-key uniqueness) — the crash window between re-apply
  *    and clear, at volume (r16: plural kills per VERDICT r15 #1).
  *
  * Worker restart follows the RUNBOOK operator procedure for
  * DDL-mid-stream restarts ("restart with the widened schema"): the
  * worker widens its TableSync from the store before subscribing
  * ([[CrashSoakWorker.widened]]).
  *
  * Usage: CrashSoak <sfDir> <workDir> [batches=5000] [kills=20]
  * (run via tools/run-main.sh so the child inherits the right classpath)
  */
object CrashSoak {

  private[run] val Policy = graft.sink.SinkStrategy.CompactionPolicy(
    maxDeltaVersions = 16, maxDeltaToBaseRatio = 1.0)

  private def addOpens: Seq[String] =
    Seq("java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
      "java.base/java.nio", "java.base/java.util",
      "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar")
      .flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  private def spawn(main: String, args: Seq[String], log: java.io.File): Process = {
    val cmd = Seq("java", "-Xmx8g", "-Xms8g") ++ addOpens ++ Seq(
      "-cp", System.getProperty("java.class.path"), main) ++ args
    new ProcessBuilder(cmd: _*)
      .redirectErrorStream(true)
      .redirectOutput(ProcessBuilder.Redirect.appendTo(log))
      .start()
  }

  /** Highest `crashsoak_progress` batch id in the worker log AT or AFTER
    * byte `from` (-1 none). The caller passes the log's length from
    * before a generation spawned, so the max is THAT generation's own
    * report — reading the whole cumulative log would make the parent's
    * monotonicity check vacuous (a cumulative max is >= its own past by
    * construction; a worker restarting from a reset checkpoint and
    * re-reporting batch 0 would sail through). */
  private def maxProgress(log: java.io.File, from: Long = 0L): Long =
    if (!log.exists()) -1L
    else {
      // streamed line-by-line (r16, ADVICE r15): the per-generation
      // segment of a redirectErrorStream(true) log can exceed 2 GiB of
      // verbose Spark output on a long-lived generation — a single
      // Array[Byte] materialization would overflow its Int length
      val re = """"crashsoak_progress":(\d+)""".r
      val raf = new java.io.RandomAccessFile(log, "r")
      try {
        raf.seek(math.min(from, raf.length()))
        val in = new java.io.BufferedReader(new java.io.InputStreamReader(
          new java.io.FileInputStream(raf.getFD), "UTF-8"))
        var best = -1L
        var line = in.readLine()
        while (line != null) {
          re.findAllMatchIn(line).foreach(m => best = math.max(best, m.group(1).toLong))
          line = in.readLine()
        }
        best
      } finally raf.close()
    }

  def main(args: Array[String]): Unit = {
    graft.SettleGuard.install()
    require(args.length >= 2, "usage: CrashSoak <sfDir> <workDir> [batches] [kills]")
    val (sfDir, workDir) = (args(0), args(1))
    val batches = if (args.length > 2) args(2).toInt else 5000
    val kills = if (args.length > 3) args(3).toInt else 20
    val spark = graft.Tables.session()

    val Soak.Staged(muts, nMut, expectedParks, orders, tables) =
      Soak.stageWorkload(spark, sfDir, workDir, batches, ddlEvery = 250)
    val eventsDir = s"$workDir/events"
    val stateRoot = s"$workDir/state"; val dlRoot = s"$workDir/deadletter"
    val log = new java.io.File(s"$workDir/worker.log")
    val rnd = new scala.util.Random(0xC5A15L) // fixed: failures must reproduce
    // page-supply probe bracketing the run (r16, VERDICT r15 #4): the
    // soak's throughput rows are citable only when the host's first-touch
    // path was healthy — the r15 degradation mode is invisible to every
    // CPU-side signal. Gated into state_checks below (perf-citability,
    // not correctness: convergence holds on a sick host too, so a trip
    // is reported as its own named failure line the reader can waive
    // for the correctness half).
    val memStart = graft.SettleGuard.memProbeSec()
    val t0 = System.nanoTime()

    // ---- phase 1: consume under SIGKILLs ----
    var killsDone = 0; var gen = 0; var maxSeen = -1L
    val uptimes = scala.collection.mutable.ArrayBuffer.empty[Double]
    var consumed = false
    while (!consumed) {
      gen += 1
      val before = maxSeen // cumulative max over all PRIOR generations
      val logLenAtSpawn = if (log.exists()) log.length() else 0L
      val p = spawn("graft.run.CrashSoakWorker", Seq(sfDir, workDir), log)
      val started = System.nanoTime()
      if (killsDone < kills) {
        val delayMs = 30000 + rnd.nextInt(150000) // uniform 30-180 s
        val exited = p.waitFor(delayMs, TimeUnit.MILLISECONDS)
        if (!exited) {
          p.destroyForcibly(); p.waitFor()
          killsDone += 1
          uptimes += (System.nanoTime() - started) / 1e9
        } else if (p.exitValue() != 0)
          sys.error(s"gen $gen: worker died on its own with exit ${p.exitValue()} " +
            s"(no kill was issued) — see $log")
        else consumed = true // drained everything before the kill window hit
      } else {
        p.waitFor()
        if (p.exitValue() != 0)
          sys.error(s"gen $gen: worker exit ${p.exitValue()} after kills done — see $log")
        consumed = true
      }
      // THIS generation's own reported max (its log segment only): a
      // restart that re-reports a batch id below everything already
      // committed means the checkpoint went backwards — the double-apply
      // shape. A generation killed before its first 5 s report (-1) is
      // fine; Structured Streaming legitimately RETRIES the killed
      // batch id itself, so `>= before` (not `> before`) is the bound.
      val genMax = maxProgress(log, logLenAtSpawn)
      if (genMax >= 0 && genMax < before)
        sys.error(s"gen $gen: progress REGRESSED across restart " +
          s"(cumulative $before -> this generation reported $genMax)")
      maxSeen = math.max(maxSeen, genMax)
      println(s"""{"crashsoak_gen":$gen,"kills":$killsDone,"max_batch":$maxSeen,"consumed":$consumed}""")
    }
    // Completion is proven by the SOURCE offset, not the engine batch id
    // (r16 volume-run finding): a kill landing between the file source's
    // metadata-log write and the engine's offset-log write makes the
    // restart swallow the source's pre-planned entries into ONE engine
    // batch — the first 20-kill run ended clean at engine batch 4996
    // whose offset was source logOffset 4999, three id slips for 20
    // kills with nothing lost (the exact-state oracle below is the
    // ground-truth completion proof over every staged mutation).
    val lastOffsetFile = Files.list(Paths.get(s"$workDir/ckpt/offsets")).toArray
      .map(_.toString.split('/').last).filter(_.forall(_.isDigit))
      .map(_.toLong).max
    val lastLogOffset =
      Files.readAllLines(Paths.get(s"$workDir/ckpt/offsets/$lastOffsetFile"))
        .toArray.map(_.toString).collectFirst {
          case l if l.contains("logOffset") =>
            """"logOffset":(\d+)""".r.findFirstMatchIn(l).get.group(1).toLong
        }
    require(lastLogOffset.contains(batches - 1L),
      s"worker exited clean at source offset $lastLogOffset, expected " +
        s"${batches - 1} (engine batch $maxSeen)")
    println(s"""{"crashsoak_final_source_offset":${lastLogOffset.get},"engine_batch":$maxSeen,"batch_id_slips":${batches - 1 - maxSeen}}""")
    val leftover = Files.list(Paths.get(eventsDir)).toArray
      .map(_.toString).count(_.endsWith(".txt"))
    println(s"""{"crashsoak_leftover_files":$leftover}""")

    // ---- phase 1 checks: the soak's own exact-state oracle ----
    def versionCount(table: String): Int =
      new ParquetStateStore(spark, s"$stateRoot/db/$table").versionIds().size
    // STATEMENT count, not version count (r16): a kill can collapse two
    // scheduled DDL files into one engine batch on restart (the source-
    // offset slip above), parking both statements under one batch id
    val dlDdl = new ParquetStateStore(spark, s"$dlRoot/db/_ddl").readLog()
      .map(_.count()).getOrElse(0L)
    val phase1 = StreamRehearsal.finalStateFailures(spark, muts, orders, tables, stateRoot) ++
      Seq(
        Option.when(dlDdl != expectedParks.toLong)(
          s"dead-letter: $dlDdl parked DDL statements != scheduled $expectedParks"),
        Option.when(versionCount("orders_mt") > Policy.maxDeltaVersions * 2)(
          s"orders_mt versions ${versionCount("orders_mt")} > 2x policy bound"),
        Option.when(versionCount("orders_rt") > Policy.maxDeltaVersions * 2)(
          s"orders_rt versions ${versionCount("orders_rt")} > 2x policy bound"),
        Option.when(killsDone < kills)(
          s"only $killsDone of $kills kills landed — raise batches or lower delays")).flatten

    // ---- phase 2: SIGKILL a dead-letter DRAIN mid-replay, re-run, converge ----
    // park a synthetic insert backlog for orders_mt under FRESH batch ids
    // (above everything consumed), then drain it in a child, kill the
    // child mid-drain, drain again to completion.
    import spark.implicits._
    val t = tables.find(_.table == "orders_mt").get
    val maxKey = orders.agg(max("o_orderkey")).as[Long].head()
    val dl = new DeadLetter(spark, dlRoot)
    val parkBatches = 60; val rowsPerBatch = 200
    val base = maxSeen + 1000
    // key range DISJOINT from the workload's own inserts (those also sit
    // above maxKey): the phase-2 exactly-once count must see only the
    // synthetic backlog
    val synthBase = maxKey + 10000000L
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
    val preDrainCount = Consume.currentState(t,
      new ParquetStateStore(spark, s"$stateRoot/db/orders_mt")).get.count()
    val dlog = new java.io.File(s"$workDir/drain.log")
    // >= 2 drain-phase kills (r16, VERDICT r15 #1: the volume claim
    // includes kills landing inside DRAINS, plural). Each attempt
    // replays the still-parked backlog batch-by-batch (each its own
    // Spark job), so a kill lands mid-replay and the next attempt
    // resumes from what stayed parked. A kill that lands before the
    // child replayed anything (still inside JVM/Spark init) is counted
    // but the delay base grows so the next one reaches the replay loop;
    // the mid-replay evidence is asserted separately below.
    val drainKillTarget = 2
    var drainKills = 0; var drainAttempts = 0
    // initial delay sits past the child's JVM+Spark init (~12-18 s on
    // this box — the r16 smoke showed 6-12 s kills all landing in init)
    // and inside the ~60-batch replay window; a kill that still lands in
    // init (parked count unchanged) widens the next delay
    var delayBaseMs = 15000
    var midReplayKills = 0
    // replay progress = COMMITTED versions in the synthetic batch-id
    // range on the TARGET store (applyBatch commits per batch) — the
    // parked queue itself is useless as a progress signal because drain
    // clears it only at the very end, which a killed drain never reaches
    def replayedBatches(): Int =
      new ParquetStateStore(spark, s"$stateRoot/db/orders_mt")
        .versionIds().count(_ >= base)
    var prevReplayed = 0
    var drainDone = false
    while (!drainDone) {
      drainAttempts += 1
      val dp = spawn("graft.run.CrashSoakWorker",
        Seq(sfDir, workDir, "--drain", (base + parkBatches - 1).toString), dlog)
      // keep killing until BOTH the kill quota is met and at least one
      // kill provably landed mid-replay (capped: a box too fast/slow for
      // any window proceeds and fails the named check loudly below)
      if ((drainKills < drainKillTarget || midReplayKills < 1) && drainAttempts <= 10) {
        val exited = dp.waitFor(delayBaseMs + rnd.nextInt(8000), TimeUnit.MILLISECONDS)
        if (!exited) {
          dp.destroyForcibly(); dp.waitFor()
          drainKills += 1
          val replayed = replayedBatches()
          if (replayed > prevReplayed && replayed < parkBatches) midReplayKills += 1
          else if (replayed == prevReplayed) delayBaseMs += 6000 // init — widen
          println(s"""{"crashsoak_drain_attempt":$drainAttempts,"killed":true,"batches_replayed":$replayed}""")
          prevReplayed = replayed
        } else {
          require(dp.exitValue() == 0,
            s"drain worker exit ${dp.exitValue()} — see $dlog")
          drainDone = true
        }
      } else {
        dp.waitFor()
        require(dp.exitValue() == 0,
          s"drain re-run exit ${dp.exitValue()} — see $dlog")
        drainDone = true
      }
    }
    val postState = Consume.currentState(t,
      new ParquetStateStore(spark, s"$stateRoot/db/orders_mt")).get.cache()
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

    val memEnd = graft.SettleGuard.memProbeSec()
    // perf-citability gate (r16): a collapsed page-supply path does not
    // break convergence, but it makes the wall/uptime numbers dead —
    // its own named line so the reader sees WHICH claim died
    val memTrip = Seq(memStart, memEnd).filter(m => m > 1.0 || m < 0)
    val memCheck = Option.when(memTrip.nonEmpty)(
      s"mem canary start=$memStart end=$memEnd outside (0, 1.0] — " +
        "throughput rows not citable (convergence checks unaffected)")
    val failures = phase1 ++ phase2 ++ memCheck
    val wall = (System.nanoTime() - t0) / 1e9
    muts.unpersist()
    println(f"""{"summary":"crash_soak","sf_dir":"$sfDir","batches":$batches,""" +
      f""""events":${nMut * 2},"wall_sec":$wall%.1f,"kills":$killsDone,"generations":$gen,""" +
      s""""kill_uptimes_sec":"${uptimes.map(u => f"$u%.0f").mkString(",")}",""" +
      s""""max_batch":$maxSeen,"dl_ddl_statements":$dlDdl,"expected_parks":$expectedParks,""" +
      s""""final_versions":{"orders_mt":${versionCount("orders_mt")},"orders_rt":${versionCount("orders_rt")}},""" +
      s""""drain_kills":$drainKills,"drain_mid_replay_kills":$midReplayKills,""" +
      s""""drain_attempts":$drainAttempts,"drained_rows":$newCount,""" +
      f""""mem_canary_start_sec":$memStart%.3f,"mem_canary_end_sec":$memEnd%.3f,""" +
      s""""state_checks":${if (failures.isEmpty) "\"pass\"" else failures.mkString("\"", "; ", "\"")}}""")
    if (failures.nonEmpty) sys.exit(1)
    spark.stop()
  }
}

/** The killable child of [[CrashSoak]]: either the consume loop over the
  * staged soak workload (default) or one dead-letter drain (`--drain`).
  * Prints `{"crashsoak_progress":<batchId>}` lines for the parent's
  * monotonicity check. Exits 0 when its work is drained; any throw
  * propagates as a nonzero exit the parent treats as a failure. */
object CrashSoakWorker {
  def main(args: Array[String]): Unit = {
    val (sfDir, workDir) = (args(0), args(1))
    val stateRoot = s"$workDir/state"
    val spark = graft.Tables.session()
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    val tables = Seq(
      TableSync("db", "orders_mt", orders.schema, Seq("o_orderkey"), graft.model.Engine.MergeTree),
      TableSync("db", "orders_rt", orders.schema, Seq("o_orderkey"), graft.model.Engine.ReplacingMergeTree))
      .map(widened(spark, stateRoot, _))

    if (args.length > 2 && args(2) == "--drain") {
      new DeadLetter(spark, s"$workDir/deadletter")
        .drain(tables.find(_.table == "orders_mt").get, stateRoot)
      spark.stop()
      return
    }

    val dl = new DeadLetter(spark, s"$workDir/deadletter")
    val q = Consume.start(spark,
      graft.streaming.EventSource.files(spark, s"$workDir/events",
        maxFilesPerTrigger = 1, cleanSource = Some("delete")),
      tables, stateRoot, s"$workDir/ckpt", triggerInterval = "0 seconds",
      skipError = true, ddlSink = Some(_ => ()), deadLetter = Some(dl),
      compactionPolicy = Some(CrashSoak.Policy))
    val reporter = new Thread(() => {
      while (q.isActive) {
        Option(q.lastProgress).foreach(p =>
          println(s"""{"crashsoak_progress":${p.batchId}}"""))
        Thread.sleep(5000)
      }
    }, "crashsoak-reporter")
    reporter.setDaemon(true); reporter.start()
    q.processAllAvailable()
    Option(q.lastProgress).foreach(p =>
      println(s"""{"crashsoak_progress":${p.batchId}}"""))
    q.stop(); q.awaitTermination()
    spark.stop()
  }

  /** The RUNBOOK restart procedure as code: a consumer restarting after
    * live DDL subscribes with the WIDENED schema. The soak's only ALTER
    * shape is ADD/DROP of `note VARCHAR(20)` on orders_rt; the widened
    * schema (note present) is idempotent against both directions —
    * evolveSchema tolerates a re-ADD of an existing column, and a DROP
    * finds the column present. Derived from the store (the operator's
    * source of truth after a crash), never from the DDL schedule. */
  private def widened(spark: SparkSession, stateRoot: String, t: TableSync): TableSync = {
    val store = new ParquetStateStore(spark, s"$stateRoot/${t.schema}/${t.table}")
    store.readLog() match {
      case Some(df) =>
        val extra = df.columns.toSet -- t.valueSchema.fieldNames.toSet --
          Set("sign", "_batch", "_version", "action", "event_unixtime", "action_seq")
        extra.foldLeft(t)((acc, c) => acc.copy(valueSchema =
          acc.valueSchema.add(c, org.apache.spark.sql.types.StringType)))
      case None => t
    }
  }
}
