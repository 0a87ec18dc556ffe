package graft.run

import graft.sources.FakeRedisServer
import graft.streaming.RedisBroker
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** [[Rehearsal]]'s workload routed through the REAL Redis-Streams
  * transport (VERDICT r10 #3): the same staging, bootstrap, consume loop
  * and checks, but instead of landing the staged wire files in the
  * source directory, every event travels produce → RESP broker →
  * consume:
  *
  *  - produce: [[Produce.produceBatch]] (the exactly-once protocol —
  *    explicit `<batchId>-<seq>` ids, produced-batch commit) XADDs each
  *    staged file as one batch into a [[FakeRedisServer]] over a real
  *    socket, then REPLAYS the last batch (skip-mode verification at
  *    volume: first+last byte identity, count bound);
  *  - transport: [[RedisBroker.drainToStaging]] (XREAD → staged wire
  *    file + broker-side position commit) runs CONCURRENTLY with the
  *    consume query, exactly the S4 bridge a deployment runs;
  *  - consume: [[Rehearsal.consume]], stopped after the first half with
  *    the commit-marker crash window, restarted from the checkpoint in
  *    phase 2; final state checked exactly.
  *
  * The workload carries no DDL: the broker regroups events into staged
  * files of its own size, so a DDL slot would not stay its own batch.
  *
  * Lives in test scope because the hermetic RESP server is a test
  * double (`sbt "Test/runMain graft.run.RedisRehearsal <sfDir> <work>
  * [batches=50]"`). Prints per-phase lines and a summary line like
  * [[Rehearsal]], plus the produce/drain transport legs.
  */
object RedisRehearsal {

  def main(args: Array[String]): Unit = {
    graft.SettleGuard.install()
    require(args.length >= 2, "usage: RedisRehearsal <sfDir> <workDir> [batches]")
    val (sfDir, workDir) = (args(0), args(1))
    val batches = if (args.length > 2) args(2).toInt else 50
    require(batches >= 2, s"batches must be >= 2, got $batches")
    val spark = graft.Tables.session()
    val eventsDir = s"$workDir/events"; val ckpt = s"$workDir/ckpt"
    Files.createDirectories(Paths.get(eventsDir))

    // --- stage the wire files (the capture agent's output) + bootstrap ---
    val st = Rehearsal.stage(spark, sfDir, workDir, s"$workDir/produce", batches, withDdl = false)
    val staged = st.files
    val perFile = math.ceil(st.nMut * 2.0 / batches).toInt

    // hermetic RESP broker; maxlen sized above the full event volume so
    // the rehearsal measures the transport, not the trim policy (trim
    // semantics are pinned in ProduceProtocolSpec/FakeRedisFidelitySpec)
    val server = new FakeRedisServer
    def broker() = new RedisBroker("127.0.0.1", server.port, alias = "rehearsal",
      queueMaxLen = math.max(5000000L, st.nMut * 4))

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

    def startQuery() = Rehearsal.consume(spark, workDir, st.tables, Rehearsal.SoakPolicy)
    val memStart = graft.SettleGuard.memProbeSec()

    // --- phase 1: first half produced, drained and applied ---
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
    val p1 = Rehearsal.drain(q1, "phase1_first_half")

    Rehearsal.injectCrashWindow(ckpt)

    // --- phase 2: rest produced + drained, restart replays the crashed
    //     batch, everything drains to the end ---
    val prod2Sec = produceFiles(staged.drop(half), half)
    val q2 = startQuery()
    val drain2Sec = drainAll()
    val p2 = Rehearsal.drain(q2, "phase2_restart_drain")
    val mem = Rehearsal.MemBracket(memStart, graft.SettleGuard.memProbeSec())

    val (_, checks) = Rehearsal.runChecks(spark, st, workDir, Rehearsal.SoakPolicy, Map.empty)
    st.muts.unpersist()
    server.close()

    println(Rehearsal.phaseJson(p1))
    println(Rehearsal.phaseJson(p2))
    val totalEvents = p1.rows + p2.rows
    val totalWall = p1.wallSec + p2.wallSec
    val failures = checks ++ mem.failure
    println(Rehearsal.summary("redis_rehearsal", Seq(
      "sf_dir" -> s""""$sfDir"""", "bootstrap_sec" -> f"${st.bootstrapSec}%.2f",
      "events" -> s"$totalEvents", "wall_sec" -> f"$totalWall%.2f",
      "events_per_sec" -> f"${totalEvents / totalWall}%.0f",
      "produce_sec" -> f"${prod1Sec + prod2Sec}%.2f",
      "produce_events_per_sec" -> f"${st.nMut * 2 / (prod1Sec + prod2Sec)}%.0f",
      "produce_replay_skip_sec" -> f"$replaySec%.2f",
      "drain_sec" -> f"${drain1Sec + drain2Sec}%.2f",
      "state_versions" -> Rehearsal.stateVersions(spark, s"$workDir/state", st.tables)) ++
      Rehearsal.crashReplay(p1, p2, st.nMut * 2) ++ mem.fields, failures))
    if (failures.nonEmpty) sys.exit(1)
    spark.stop()
  }
}
