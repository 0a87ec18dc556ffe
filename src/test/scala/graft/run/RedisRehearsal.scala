package graft.run

import graft.model.Engine
import graft.sink.ParquetStateStore
import graft.sources.FakeRedisServer
import graft.streaming.{EventSource, RedisBroker}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** [[StreamRehearsal]] routed through the REAL Redis-Streams transport
  * (VERDICT r10 #3): the same sf-scale mutation workload, but instead of
  * copying staged wire files into the source directory, every event
  * travels produce → RESP broker → consume:
  *
  *  - produce: [[Produce.produceBatch]] (the exactly-once protocol —
  *    explicit `<batchId>-<seq>` ids, produced-batch commit) XADDs each
  *    staged file as one batch into a [[FakeRedisServer]] over a real
  *    socket, then REPLAYS the last batch (skip-mode verification at
  *    volume: first+last byte identity, count bound);
  *  - transport: [[RedisBroker.drainToStaging]] (XREAD → staged wire
  *    file + broker-side position commit) runs CONCURRENTLY with the
  *    consume query, exactly the S4 bridge a deployment runs;
  *  - consume: the same two-engine consume loop, killed mid-stream in
  *    phase 1 with the same commit-marker crash window, restarted from
  *    the checkpoint in phase 2; final state checked exactly.
  *
  * Lives in test scope because the hermetic RESP server is a test
  * double (`sbt "Test/runMain graft.run.RedisRehearsal <sfDir> <work>"`).
  * Prints the same per-phase + summary JSON as StreamRehearsal, plus
  * produce/drain transport legs, for the SCALE.md row.
  */
object RedisRehearsal {

  def main(args: Array[String]): Unit = {
    graft.SettleGuard.install()
    require(args.length >= 2, "usage: RedisRehearsal <sfDir> <workDir> [eventsPerFile]")
    val (sfDir, workDir) = (args(0), args(1))
    val perFile = if (args.length > 2) args(2).toInt else 20000
    val spark = graft.Tables.session()
    // the progress ring is the phase accounting: StreamRehearsal.drain
    // refuses a phase that fills it
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "1200")
    import spark.implicits._

    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    val maxKey = orders.agg(max("o_orderkey")).as[Long].head()
    val stage = s"$workDir/stage"; val eventsDir = s"$workDir/events"
    val stateRoot = s"$workDir/state"; val ckpt = s"$workDir/ckpt"
    Files.createDirectories(Paths.get(eventsDir))

    // --- stage the wire files (the capture agent's output) ---
    val muts = StreamRehearsal.mutations(orders, maxKey).cache()
    val nMut = muts.count()
    val lines = StreamRehearsal.wireLines(muts, "orders_mt")
      .unionByName(StreamRehearsal.wireLines(muts, "orders_rt"))
    val nFiles = math.max(1, math.ceil(nMut * 2.0 / perFile).toInt)
    lines.repartition(nFiles).write.mode("overwrite").text(stage)
    val staged = Files.list(Paths.get(stage)).toArray.map(_.toString)
      .filter(_.endsWith(".txt")).sorted
    println(s"""{"stage":"staged","files":${staged.length},"events":${nMut * 2}}""")

    // hermetic RESP broker; maxlen sized above the full event volume so
    // the rehearsal measures the transport, not the trim policy (trim
    // semantics are pinned in ProduceProtocolSpec/FakeRedisFidelitySpec)
    val server = new FakeRedisServer
    def broker() = new RedisBroker("127.0.0.1", server.port, alias = "rehearsal",
      queueMaxLen = math.max(5000000L, nMut * 4))

    // --- produce leg: the exactly-once protocol, one batch per file ---
    def produceFiles(files: Seq[String], fromBatch: Int): Double = {
      val t0 = System.nanoTime()
      val b = broker()
      try files.zipWithIndex.foreach { case (f, i) =>
        val fileLines = Files.readAllLines(Paths.get(f)).asScala
        Produce.produceBatch(b,
          fileLines.iterator.map(l => ("db", l)), (fromBatch + i).toLong)
      } finally b.close()
      (System.nanoTime() - t0) / 1e9
    }

    // --- transport leg: XREAD → staging, concurrent with the query ---
    def drainAll(): Double = {
      val t0 = System.nanoTime()
      val b = broker()
      try b.drainToStaging("db", eventsDir, count = perFile)
      finally b.close()
      (System.nanoTime() - t0) / 1e9
    }

    val tables = Seq(
      TableSync("db", "orders_mt", orders.schema, Seq("o_orderkey"), Engine.MergeTree),
      TableSync("db", "orders_rt", orders.schema, Seq("o_orderkey"), Engine.ReplacingMergeTree))

    val t0 = System.nanoTime()
    Consume.bootstrap(spark, tables, stateRoot,
      Map(("db", "orders_mt") -> FullEtl.ParquetSource(s"$sfDir/orders.parquet"),
          ("db", "orders_rt") -> FullEtl.ParquetSource(s"$sfDir/orders.parquet")))
    val bootstrapSec = (System.nanoTime() - t0) / 1e9

    val policy = graft.sink.SinkStrategy.CompactionPolicy(
      maxDeltaVersions = 64, maxDeltaToBaseRatio = 1.0)
    def startQuery() = Consume.start(spark, EventSource.files(spark, eventsDir,
      maxFilesPerTrigger = 1), tables, stateRoot, ckpt,
      triggerInterval = "0 seconds", compactionPolicy = Some(policy))

    // quiescent page-supply bracket (r16, VERDICT r15 #4): the rehearsal's
    // produce/apply events/s bands are citable only under a healthy
    // first-touch path — the r15 leg ran 17.7k/108.8k (below the 22-31k /
    // 166-216k bands) on the documented degraded host with nothing in
    // the artifact showing it
    val memStart = graft.SettleGuard.memProbeSec()

    // --- phase 1: first half produced + drained, query killed mid-stream ---
    val half = staged.length / 2
    val prod1Sec = produceFiles(staged.take(half), 0)

    // --- waiver #1 retirement leg (VERDICT r14 #7), run FOR REAL at
    // volume: strip the produce-time state pin so the stream is exactly
    // an r12-era (pre-pin) one, audit it LEGACY via `Main streams`, run
    // `Main streams --upgrade`, audit again (zero legacy), and let the
    // skip replay just below verify EXACT state against the UPGRADED pin
    // instead of the legacy heuristics. RUNBOOK §6 waiver #1 is thereby
    // retired operationally for this config, not just spec-proven.
    locally {
      val raw = new graft.sources.RespClient("127.0.0.1", server.port)
      try { raw.command("HDEL", "synch:rehearsal:produced_state", "db"); () }
      finally raw.close()
      val props =
        s"""source.0.alias=rehearsal
           |source.0.db_type=mysql
           |source.0.url=parquet:$sfDir
           |source.0.database.0=db
           |source.0.database.0.table.0=orders_mt
           |""".stripMargin
      val cfgPath = s"$workDir/rehearsal.properties"
      Files.write(Paths.get(cfgPath), props.getBytes("UTF-8"))
      val uri = s"redis:127.0.0.1:${server.port}"
      println("[rehearsal] waiver #1 leg: r12-era (pre-pin) stream audit:")
      graft.Main.main(Array("streams", cfgPath, uri))
      graft.Main.main(Array("streams", cfgPath, uri, "--upgrade"))
      println("[rehearsal] post-upgrade audit:")
      graft.Main.main(Array("streams", cfgPath, uri))
      val b = broker()
      try require(b.producedState("db").exists(_._1 == b.producedBatch("db")),
        "upgrade did not pin the committed batch")
      finally b.close()
    }

    // produce-crash window at volume: replay the last produced batch —
    // the skip path must verify and send nothing; since the waiver leg
    // above, this verification runs against the UPGRADED exact-state pin
    val replaySec = produceFiles(staged.slice(half - 1, half), half - 1)
    val q1 = startQuery()
    val drain1Sec = drainAll() // stages while the query applies
    val p1 = StreamRehearsal.drain(q1, "phase1_interrupted",
      stopAfterBatches = math.max(1, half / 2))

    StreamRehearsal.injectCrashWindow(ckpt)

    // --- phase 2: rest produced + drained, restart replays the crashed
    //     batch, everything drains to the end ---
    val prod2Sec = produceFiles(staged.drop(half), half)
    val q2 = startQuery()
    val drain2Sec = drainAll()
    val p2 = StreamRehearsal.drain(q2, "phase2_restart_drain")

    val failures = StreamRehearsal.finalStateFailures(spark, muts, orders, tables, stateRoot)
    muts.unpersist()

    println(StreamRehearsal.phaseJson(p1))
    println(StreamRehearsal.phaseJson(p2))
    val versionJson = tables.map { t =>
      val stats = new ParquetStateStore(
        spark, s"$stateRoot/${t.schema}/${t.table}").versionStats()
      val (bases, deltas) = stats.partition(_._3)
      s""""${t.table}":{"bases":${bases.size},"deltas":${deltas.size}}"""
    }.mkString("{", ",", "}")
    val totalEvents = p1.rows + p2.rows
    val totalWall = p1.wallSec + p2.wallSec
    val prodRate = (nMut * 2) / (prod1Sec + prod2Sec)
    println(f"""{"summary":"redis_rehearsal","sf_dir":"$sfDir","bootstrap_sec":$bootstrapSec%.2f,""" +
      f""""events":$totalEvents,"wall_sec":$totalWall%.2f,""" +
      f""""events_per_sec":${totalEvents / totalWall}%.0f,""" +
      f""""produce_sec":${prod1Sec + prod2Sec}%.2f,"produce_events_per_sec":$prodRate%.0f,""" +
      f""""produce_replay_skip_sec":$replaySec%.2f,""" +
      f""""drain_sec":${drain1Sec + drain2Sec}%.2f,""" +
      f""""mem_canary_start_sec":$memStart%.3f,"mem_canary_end_sec":${graft.SettleGuard.memProbeSec()}%.3f,""" +
      s""""crash_replayed_batch":${p2.firstBatchId <= p1.lastBatchId},""" +
      s""""p1_last_batch":${p1.lastBatchId},"p2_first_batch":${p2.firstBatchId},""" +
      s""""state_versions":$versionJson,""" +
      s""""state_checks":${if (failures.isEmpty) "\"pass\"" else failures.mkString("\"", "; ", "\"")}}""")
    server.close()
    if (failures.nonEmpty) sys.exit(1)
    spark.stop()
  }
}
