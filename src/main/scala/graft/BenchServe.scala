package graft

/** Interleaved A/B bench server (VERDICT r14 directive #1).
  *
  * The box's clean-run sf0.1 total band spans 41.5–56.9 s (±17%, steal
  * to 0.02) across rounds on IDENTICAL code, which swamps every ±20%
  * per-query floor — cross-round record comparison stopped carrying
  * information and each round burned a directive adjudicating the
  * machine instead of the code. The fix is structural: run TWO builds
  * (e.g. HEAD vs the previous round's tag) as serve processes in ONE
  * host window and alternate them query-by-query, so each per-query
  * ratio is taken seconds apart on the same machine state and host
  * noise cancels by construction. `tools/abbench.py` orchestrates;
  * `tools/regress.py --paired` issues the verdicts.
  *
  * This main is deliberately SELF-CONTAINED over the API surface old
  * trees share (`SparkEntry.queries`, `SessionDrain` and the noop sink
  * since r13; `Tables.session()` since `d6dad7b`) and nothing else: the
  * orchestrator copies this ONE file into the old build's worktree,
  * because the timing harness must be bit-identical on both sides —
  * only the engine under it may differ. Do not grow dependencies on
  * round-local code. An old tree whose `Tables.session()` ignores
  * `SPARK_GRAFT_CPUS` builds `local[32]`; `tools/abbench.py` refuses to
  * pair it against another core count.
  *
  * `BenchServe names` prints `@AB {"names":[...]}` — this build's
  * `Bench.headline`, which every old tree also declares — and exits
  * before any Spark session starts; the orchestrator takes its query list
  * from there.
  *
  * Protocol (line-oriented; replies prefixed `@AB ` so Spark's own
  * stdout logging can never corrupt the channel):
  *   stdin:  `warm <query>` | `time <query>` | `canary` | `quit`
  *   stdout: `@AB {"ready":true}`           once after init
  *           `@AB {"ok":"warm","q":...}`    after an untimed pass
  *           `@AB {"q":...,"sec":...}`      after a timed pass
  *           `@AB {"canary_sec":...,"mem_probe_sec":...}`  after a canary
  *                                          probe (CPU + page-supply, r16)
  *           `@AB {"err":...,"q":...}`      a pass threw (loud, never a time)
  *
  * No SettleGuard gating here: the A and B JVMs start seconds apart BY
  * DESIGN (the settle protocol exists to keep sequential runs from
  * overlapping; paired mode replaces it with same-window pairing, and
  * the idle peer waits on a stdin read, burning no CPU while the other
  * side times).
  */
object BenchServe {
  /** First-touch page-supply probe, INLINED from SettleGuard.memProbeSec
    * (r16, VERDICT r15 #4: the r15 host degradation mode must be visible
    * in paired records too). Duplicated on purpose — this file is copied
    * verbatim into old-build worktrees whose SettleGuard predates the
    * probe, so it may depend on nothing round-local (see scaladoc above).
    * 512 MiB fresh off-heap pages, one write per 4 KiB page, min of 3
    * distinct allocations, each freed eagerly; -1 on failure. */
  private def memProbeSec(): Double =
    try {
      val bytes = 512 << 20
      (0 until 3).map { _ =>
        val t0 = System.nanoTime()
        val buf = java.nio.ByteBuffer.allocateDirect(bytes)
        var off = 0
        while (off < bytes) { buf.put(off, 1.toByte); off += 4096 }
        val sec = (System.nanoTime() - t0) / 1e9
        try {
          val f = classOf[sun.misc.Unsafe].getDeclaredField("theUnsafe")
          f.setAccessible(true)
          f.get(null).asInstanceOf[sun.misc.Unsafe].invokeCleaner(buf)
        } catch { case _: Throwable => () }
        sec
      }.min
    } catch { case _: Throwable => -1.0 }

  private def jstr(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("names")) {
      println(Bench.headline.map(jstr).mkString("@AB {\"names\":[", ",", "]}"))
      return
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Tables.session()

    // same global warmup SHAPE as Bench: executors + codegen + parquet
    // footers + the noop write command, through one scan-heavy and one
    // join-heavy plan, so serve-loop timings measure operators, not JVM
    // init. q19 (not Bench's q5) as the join half: at sf10 on a
    // page-supply-degraded host q5's first pass ran 389 s (r15, SCALE.md),
    // and TWO serve JVMs warm in parallel — the orchestrator's ready
    // timeout exists for hangs, not for the warmup's own data pass.
    // Every query still gets its own per-side warm pass before timing.
    // `.get` + q5 fallback (r16, ADVICE r15): this file is copied into
    // arbitrary old worktrees; a baseline predating a warmup query's
    // addition must degrade to the older warmup shape, not crash on a
    // key lookup. q1 and q5 exist in every round back to r8.
    spark.range(1000000).selectExpr("sum(id)").collect()
    for (w <- Seq("q1_pricing_summary", "q19_anti_join"))
      SparkEntry.queries.get(w)
        .orElse(SparkEntry.queries.get("q5_region_revenue"))
        .foreach(_(spark, sfDir).write.format("noop").mode("overwrite").save())
    // canary warmup (untimed), as in Bench since r14
    spark.range(50000000L).selectExpr("sum(id * 3 + 1)").collect()

    val out = new java.io.PrintWriter(new java.io.OutputStreamWriter(
      java.lang.System.out, java.nio.charset.StandardCharsets.UTF_8), true)
    def reply(json: String): Unit = { out.println("@AB " + json); out.flush() }

    def exec(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()

    reply("""{"ready":true}""")
    val in = scala.io.Source.stdin.getLines()
    var live = true
    while (live && in.hasNext) {
      val line = in.next().trim
      val (cmd, arg) = line.split("\\s+", 2) match {
        case Array(c, a) => (c, a)
        case Array(c) => (c, "")
      }
      cmd match {
        case "quit" | "" => live = false
        case "canary" =>
          val sec = (0 until 3).map { _ =>
            val t0 = System.nanoTime()
            spark.range(50000000L).selectExpr("sum(id * 3 + 1)").collect()
            (System.nanoTime() - t0) / 1e9
          }.min
          reply(s"""{"canary_sec":$sec,"mem_probe_sec":${memProbeSec()}}""")
        case "warm" =>
          try { exec(arg); reply(s"""{"ok":"warm","q":${jstr(arg)}}""") }
          catch { case e: Throwable =>
            reply(s"""{"err":${jstr(e.getClass.getSimpleName + ": " +
              Option(e.getMessage).getOrElse(""))},"q":${jstr(arg)}}""") }
        case "time" =>
          // same per-pass hygiene as Bench: drain the previous pass's
          // shuffle files + broadcasts so accumulated session state
          // can't inflate later queries
          org.apache.spark.sql.graftshim.SessionDrain.drain(spark.sparkContext)
          try {
            val t0 = System.nanoTime()
            exec(arg)
            val sec = (System.nanoTime() - t0) / 1e9
            reply(s"""{"q":${jstr(arg)},"sec":$sec}""")
          } catch { case e: Throwable =>
            reply(s"""{"err":${jstr(e.getClass.getSimpleName + ": " +
              Option(e.getMessage).getOrElse(""))},"q":${jstr(arg)}}""") }
        case other =>
          reply(s"""{"err":${jstr("unknown command: " + other)}}""")
      }
    }
    spark.stop()
  }
}
