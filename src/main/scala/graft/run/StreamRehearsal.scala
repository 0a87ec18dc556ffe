package graft.run

import graft.model.Engine
import graft.sink.ParquetStateStore
import graft.streaming.EventSource
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths, StandardCopyOption}

/** Streaming-path scale rehearsal (SCALE.md round-7 section): the full
  * consume loop — bootstrap snapshot → wire-format event replay →
  * engine-resolved state — at sf1/sf2 event volumes, with an
  * interrupted-and-restarted query in the middle so checkpoint replay is
  * exercised at the same volume, not just in unit tests.
  *
  * Shape of the experiment (mirrors the reference's envelope,
  * synch.yaml `insert_interval: 60` / `insert_num: 20000` — one flush of
  * ≤20k events per table per minute, i.e. a ~333 events/s floor):
  *  - the `orders` table is snapshotted as the bootstrap base (1.5M rows
  *    at sf1, 3M at sf2);
  *  - a mutation stream over DISJOINT keys (each key touched at most
  *    once: ~60% updates / 20% deletes / 20% new-key inserts over a
  *    third of the table) is serialized to the wire JSON and replayed
  *    through the file source in ~20k-event micro-batches
  *    (`maxFilesPerTrigger = 1` ≈ `insert_num`) into BOTH a MergeTree
  *    and a ReplacingMergeTree table — two engines, two stores, one
  *    stream, the C5 concurrent-apply path;
  *  - phase 1 replays half the files and is STOPPED mid-stream from a
  *    watcher thread (an in-flight foreachBatch dies with the query;
  *    the restart replays it from the checkpoint and the store's
  *    batch-id idempotence absorbs the duplicate — the crash contract
  *    at volume);
  *  - phase 2 restarts from the checkpoint, drains the rest — with
  *    compaction scheduled by the live [[graft.sink.SinkStrategy.shouldCompact]]
  *    policy (version-count / size-ratio triggers), not a fixed cadence —
  *    and the final resolved state is checked EXACTLY against
  *    batch-computed expectations (counts, zero surviving deleted keys,
  *    every updated row carrying the updated price), with end-of-run
  *    state-version counts reported as the bounded-file-count evidence.
  *
  * Prints one JSON line per phase plus a `summary` line with aggregate
  * events/s — the numbers SCALE.md cites.
  */
object StreamRehearsal {

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
        to_json(struct(valueCols.map(col): _*)).as("values"),
        (lit(1000000L) + col("o_orderkey")).as("event_unixtime"),
        when(col("action") === "delete", lit(1)).otherwise(lit(2)).as("action_seq")))
  }

  private[run] final case class PhaseStats(name: String, batches: Int, rows: Long,
                                      wallSec: Double, batchSecs: Seq[Double],
                                      firstBatchId: Long, lastBatchId: Long)

  private[run] def drain(q: org.apache.spark.sql.streaming.StreamingQuery,
                    name: String, stopAfterBatches: Int = Int.MaxValue): PhaseStats = {
    val t0 = System.nanoTime()
    if (stopAfterBatches == Int.MaxValue) q.processAllAvailable()
    else {
      // watcher: stop mid-stream once enough batches committed — the
      // in-flight batch dies with the query and must replay on restart
      while (q.isActive &&
             q.recentProgress.count(_.numInputRows > 0) < stopAfterBatches)
        Thread.sleep(50)
      q.stop()
    }
    if (q.isActive) q.stop()
    q.awaitTermination()
    val wall = (System.nanoTime() - t0) / 1e9
    // a restart's re-executed batch reports numInputRows = 0 (the engine
    // re-runs it from the source log, not as "new" rows) — keep the 0-row
    // entries for batch-id accounting, count only real rows for rates
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

  /** Simulate the real at-least-once crash window: the sink committed
    * batch N but the query died before the offset commit landed. Deleting
    * the newest commit marker forces the restart to re-run that batch;
    * the store's batch-id idempotence must absorb the duplicate. This is
    * deterministic, unlike hoping the watcher interrupts mid-batch. */
  private[run] def injectCrashWindow(ckpt: String): Unit = {
    def logEntries(dir: java.nio.file.Path) = Files.list(dir).toArray
      .map(_.toString).map(Paths.get(_))
      .filter(_.getFileName.toString.forall(_.isDigit))
      .sortBy(_.getFileName.toString.toLong)
    def deleteWithCrc(p: java.nio.file.Path): Unit = {
      Files.delete(p)
      // the local checksum FS keeps a ".N.crc" sibling; leaving it behind
      // fails the re-commit rename on restart
      Files.deleteIfExists(p.resolveSibling("." + p.getFileName.toString + ".crc"))
    }
    logEntries(Paths.get(ckpt, "commits")).lastOption.foreach { c =>
      val n = c.getFileName.toString.toLong
      deleteWithCrc(c)
      // also drop any NEWER planned-but-uncommitted offsets entries: the
      // restart must re-execute the batch that WAS applied (offsets N,
      // no commit N), not just the in-flight one that never touched the
      // store — otherwise no duplicate reaches the idempotence layer
      logEntries(Paths.get(ckpt, "offsets"))
        .filter(_.getFileName.toString.toLong > n).foreach(deleteWithCrc)
    }
  }

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

  private[run] def phaseJson(p: PhaseStats): String = {
    val sorted = p.batchSecs.sorted
    def pct(q: Double) =
      if (sorted.isEmpty) 0.0 else sorted(math.min(sorted.length - 1,
        (q * sorted.length).toInt))
    f"""{"phase":"${p.name}","batches":${p.batches},"events":${p.rows},""" +
      f""""wall_sec":${p.wallSec}%.2f,"events_per_sec":${p.rows / p.wallSec}%.0f,""" +
      f""""batch_p50_sec":${pct(0.5)}%.3f,"batch_p95_sec":${pct(0.95)}%.3f}"""
  }

  def main(args: Array[String]): Unit = {
    graft.SettleGuard.install()
    require(args.length >= 2, "usage: StreamRehearsal <sfDir> <workDir> [eventsPerFile]")
    val (sfDir, workDir) = (args(0), args(1))
    val perFile = if (args.length > 2) args(2).toInt else 20000
    val spark = graft.Tables.session()
    import spark.implicits._

    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    val maxKey = orders.agg(max("o_orderkey")).as[Long].head()
    val stage = s"$workDir/stage"; val eventsDir = s"$workDir/events"
    val stateRoot = s"$workDir/state"; val ckpt = s"$workDir/ckpt"
    Files.createDirectories(Paths.get(eventsDir))

    // --- stage the wire files (not timed: this is the producer's job) ---
    val muts = mutations(orders, maxKey).cache()
    val nMut = muts.count()
    val lines = wireLines(muts, "orders_mt").unionByName(wireLines(muts, "orders_rt"))
    val nFiles = math.max(1, math.ceil(nMut * 2.0 / perFile).toInt)
    lines.repartition(nFiles).write.mode("overwrite").text(stage)
    val staged = Files.list(Paths.get(stage)).toArray.map(_.toString)
      .filter(_.endsWith(".txt")).sorted
    // r13 review: with ONE staged file, half = 0 staged nothing for
    // phase 1 and the watcher waited forever for a batch that could
    // never arrive — refuse loudly instead of hanging
    require(staged.length >= 2,
      s"rehearsal needs >= 2 staged files (got ${staged.length}): lower " +
        s"eventsPerFile (currently $perFile) or raise the data scale")
    println(s"""{"stage":"produced","files":${staged.length},"events":${nMut * 2}}""")

    // one batch per file (maxFilesPerTrigger=1) + restarts: size the
    // progress ring to every file plus slack so no phase can overflow it
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates",
      (staged.length * 2 + 200).toString)

    val tables = Seq(
      TableSync("db", "orders_mt", orders.schema, Seq("o_orderkey"), Engine.MergeTree),
      TableSync("db", "orders_rt", orders.schema, Seq("o_orderkey"), Engine.ReplacingMergeTree))

    // --- bootstrap: snapshot both stores from the parquet source ---
    val t0 = System.nanoTime()
    Consume.bootstrap(spark, tables, stateRoot,
      Map(("db", "orders_mt") -> FullEtl.ParquetSource(s"$sfDir/orders.parquet"),
          ("db", "orders_rt") -> FullEtl.ParquetSource(s"$sfDir/orders.parquet")))
    val bootstrapSec = (System.nanoTime() - t0) / 1e9

    // Compaction is the r8 POLICY (version-count / size-ratio triggers
    // over live versionStats), not a fixed cadence — this run is where
    // the policy meets real ingest. maxDeltaVersions=64 keeps the count
    // trigger the active one at every sf (~20k-row deltas against a
    // 1.5M-15M-row base never trip the size ratio): read fan-in stays
    // bounded at ~65 versions while the O(base) rewrite amortizes over
    // ~1.3M ingested rows per compaction.
    val policy = graft.sink.SinkStrategy.CompactionPolicy(
      maxDeltaVersions = 64, maxDeltaToBaseRatio = 1.0)
    def startQuery() = Consume.start(spark, EventSource.files(spark, eventsDir,
      maxFilesPerTrigger = 1), tables, stateRoot, ckpt,
      triggerInterval = "0 seconds", compactionPolicy = Some(policy))

    // quiescent page-supply bracket (r16, VERDICT r15 #4): the rehearsal's
    // events/s bands are citable only under a healthy first-touch path —
    // the r15 run's 17.7k/108.8k leg was below band exactly because the
    // host was degraded, and nothing in the artifact showed it
    val memStart = graft.SettleGuard.memProbeSec()

    // --- phase 1: first half of the files, interrupted mid-stream ---
    val half = staged.length / 2
    staged.take(half).foreach(f => Files.copy(Paths.get(f),
      Paths.get(eventsDir, Paths.get(f).getFileName.toString),
      StandardCopyOption.REPLACE_EXISTING))
    val p1 = drain(startQuery(), "phase1_interrupted",
      stopAfterBatches = math.max(1, half / 2))

    injectCrashWindow(ckpt)

    // --- phase 2: restart from checkpoint (replays the crashed batch),
    //     then the rest of the files land and drain to the end ---
    staged.drop(half).foreach(f => Files.copy(Paths.get(f),
      Paths.get(eventsDir, Paths.get(f).getFileName.toString),
      StandardCopyOption.REPLACE_EXISTING))
    val p2 = drain(startQuery(), "phase2_restart_drain")

    // --- exact final-state checks against batch-computed expectations ---
    val failures = finalStateFailures(spark, muts, orders, tables, stateRoot)
    muts.unpersist()

    println(phaseJson(p1))
    println(phaseJson(p2))
    // state-file bound: the shouldCompact policy's observable contract is
    // that delta-version count never outruns maxDeltaVersions by more
    // than one compaction interval — report the end-of-run counts
    val versionJson = tables.map { t =>
      val stats = new ParquetStateStore(
        spark, s"$stateRoot/${t.schema}/${t.table}").versionStats()
      val (bases, deltas) = stats.partition(_._3)
      s""""${t.table}":{"bases":${bases.size},"deltas":${deltas.size}}"""
    }.mkString("{", ",", "}")
    val totalEvents = p1.rows + p2.rows
    val totalWall = p1.wallSec + p2.wallSec
    val memEnd = graft.SettleGuard.memProbeSec()
    println(f"""{"summary":"stream_rehearsal","sf_dir":"$sfDir","bootstrap_sec":$bootstrapSec%.2f,""" +
      f""""events":$totalEvents,"wall_sec":$totalWall%.2f,""" +
      f""""events_per_sec":${totalEvents / totalWall}%.0f,""" +
      f""""mem_canary_start_sec":$memStart%.3f,"mem_canary_end_sec":$memEnd%.3f,""" +
      s""""crash_replayed_batch":${p2.firstBatchId <= p1.lastBatchId},""" +
      s""""p1_last_batch":${p1.lastBatchId},"p2_first_batch":${p2.firstBatchId},""" +
      s""""compaction":"policy maxDeltaVersions=${policy.maxDeltaVersions} ratio=${policy.maxDeltaToBaseRatio}",""" +
      s""""state_versions":$versionJson,""" +
      s""""state_checks":${if (failures.isEmpty) "\"pass\"" else failures.mkString("\"", "; ", "\"")}}""")
    if (failures.nonEmpty) sys.exit(1)
    spark.stop()
  }
}
