package graft

/** Benchmark main (driver contract): runs the headline queries on
  * `SPARK_GRAFT_SF_DIR` and prints ONE JSON line with per-query seconds.
  *
  * A warmup action first absorbs session/codegen/parquet-footer init so
  * the timings measure the operators, not JVM warmup. The headline set
  * is every benched [[graft.queries.QuerySpec]], family by family, so it
  * covers every operator family; the few specs marked `benched = false`
  * say why they run in the correctness gate only.
  */
object Bench {
  val headline: Seq[String] = SparkEntry.specs.filter(_.benched).map(_.name)

  def main(args: Array[String]): Unit = {
    // Settle protocol as code (SettleGuard scaladoc: the r11 driver bench
    // started 5 s after the correctness JVM and produced three false
    // FLAGs the CPU canary missed). Sampled BEFORE Spark init so the
    // ~10 s of session spin-up can't mask a just-exited/teardown JVM.
    SettleGuard.install()
    val settleGap = SettleGuard.gapSec()
    val (busyFrac, activeJvms) = SettleGuard.activitySample()
    val dirtyMb = SettleGuard.dirtyWritebackMb()
    if (settleGap >= 0 && settleGap < SettleGuard.MinSettleSec)
      System.err.println(f"[bench] WARNING: settle violation: last graft JVM exited $settleGap%.1f s ago (protocol: >=${SettleGuard.MinSettleSec}%.0f s); this run's numbers are suspect")
    if (activeJvms.nonEmpty)
      System.err.println(s"[bench] WARNING: ${activeJvms.size} other ACTIVE java process(es) at bench start: this run's numbers are suspect:\n" +
        activeJvms.map("[bench]   " + _).mkString("\n"))
    if (dirtyMb > 1024)
      System.err.println(f"[bench] WARNING: $dirtyMb%.0f MiB of dirty/writeback pages at bench start: residual I/O from a prior run; this run's numbers are suspect")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // local iteration aid: run a comma-separated subset of the headline
    // set (driver runs the full set — the contract output is unchanged)
    val only = graft.queries.QuerySpec.subset(sys.env.get("SPARK_GRAFT_BENCH_ONLY"),
      headline.toSet, "SPARK_GRAFT_BENCH_ONLY names not in the headline set")
    // SPARK_GRAFT_MASTER overrides the master for the multi-JVM bench leg
    // (e.g. "local-cluster[2,16,40960]": 2 real worker JVMs x 16 cores —
    // real serializer + wire costs on every exchange/broadcast, the one
    // regime difference local[32] cannot exhibit). Executors spawned by
    // the worker get the spark distribution from SPARK_HOME; our classes
    // must ride along explicitly.
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", Tables.defaultMaster)
    val clusterConf =
      if (master.startsWith("local-cluster")) {
        // the master string's third field budgets the WORKER; executor
        // heap still defaults to 1g and dies at sf10 — size it to the
        // worker budget minus headroom (one executor per worker: it
        // claims all the worker's cores)
        val workerMb = """local-cluster\[\s*\d+\s*,\s*\d+\s*,\s*(\d+)\s*\]""".r
          .findFirstMatchIn(master).map(_.group(1).toInt).getOrElse(4096)
        // executors are separate JVMs: they need this build's classes on
        // their classpath. Derive the directory from where THIS class was
        // loaded (env override for exotic layouts) instead of hardcoding a
        // checkout path that silently 404s on any other machine.
        val classesDir = sys.env.get("SPARK_GRAFT_CLASSES").orElse(
          Option(Bench.getClass.getProtectionDomain.getCodeSource)
            .map(cs => new java.io.File(cs.getLocation.toURI).getAbsolutePath))
          .getOrElse(sys.error(
            "cannot locate build classes for executor classpath; set SPARK_GRAFT_CLASSES"))
        Map("spark.executor.memory" -> s"${math.max(1024, workerMb - 1024)}m",
          "spark.executor.extraClassPath" -> classesDir)
      } else Map.empty[String, String]
    val spark = Tables.session(master, conf = clusterConf)

    // Warmup: spin executors + codegen + parquet reader paths + the noop
    // write command once, through one scan-heavy and one join-heavy plan,
    // so the timed loop measures the operators rather than JVM/JIT init.
    spark.range(1000000).selectExpr("sum(id)").collect()
    for (w <- Seq("q1_pricing_summary", "q5_region_revenue"))
      SparkEntry.queries(w)(spark, sfDir).write.format("noop").mode("overwrite").save()

    // Environment canary: a fixed-cost, data-independent probe (min of 3
    // so a single GC pause doesn't pollute it) timed at run start and
    // again after the query loop. On an idle machine the two agree to
    // within noise; a loaded machine inflates the second (or both), so a
    // reader can attribute anomalous query times to machine load without
    // a re-run (round-7 verdict: driver-bench contamination was only
    // provable by isolated re-measurement).
    //
    // One UNTIMED pass first (r14): the canary measures the MACHINE, so
    // its own one-time JVM costs (codegen compile of the probe's class,
    // C2 JIT of the generated loop) must not count — the same reason
    // every query gets an untimed codegen pass. On a cold JVM those
    // costs bleed past pass 1, and a short isolated adjudication run is
    // exactly the cold-JVM case: the r13 sf10 adjudication record
    // carried canary_start 0.855 s > the 0.50 s gate on an otherwise
    // idle box, which made the clearing evidence fail the very gate it
    // served (VERDICT r13 "what's wrong" #2). Sustained machine load
    // still trips the gate — it inflates the post-warmup min just as
    // much. A record whose start or end canary exceeds 0.50 s was taken
    // on a contaminated machine; read its times as such.
    def canary(): Double = {
      spark.range(50000000L).selectExpr("sum(id * 3 + 1)").collect()
      (0 until 3).map { _ =>
        val t0 = System.nanoTime()
        spark.range(50000000L).selectExpr("sum(id * 3 + 1)").collect()
        (System.nanoTime() - t0) / 1e9
      }.min
    }
    val canaryStart = canary()
    // I/O-sensitive sibling of the CPU canary (write+fsync+readback;
    // floors + the measured limits of this probe: SettleGuard scaladoc)
    val ioStart = SettleGuard.ioProbeSec()
    // memory-subsystem sibling (r15): first-touch of fresh pages — the
    // degradation mode the CPU canary is blind to (SettleGuard scaladoc)
    val memStart = SettleGuard.memProbeSec()
    val stealStart = SettleGuard.cpuTotalSteal()

    // Cumulative stop-the-world GC seconds — sampled around each query so
    // a long-run measurement can attribute inflation to heap pressure
    // from accumulated session state (the canary can't see this: its
    // codegen class is cached from run start, and GC cost lands inside
    // the victim query's own wall time)
    import scala.jdk.CollectionConverters._
    def gcSec(): Double = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

    // Whole-set repeat loops (SPARK_GRAFT_BENCH_REPEAT): round-12
    // measurement found per-query sf0.1 times on this box swing up to 6x
    // across canary-clean full runs as CONTIGUOUS slow windows (a
    // multi-second host-side stall hits whichever queries happen to be
    // running; the per-query min-of-2 passes sit inside the window and
    // can't see out of it). Repeating the WHOLE set and taking per-query
    // minima across loops filters such windows, because a window lands on
    // different loops' queries each time. Since round 13 the default is 2
    // at sf<=0.1 (VERDICT r12 #6: the driver runs single-pass, so its
    // scoreboard per-query values stayed lottery-exposed every round;
    // the extra loop costs ~48 s at sf0.1 — far under the sf10 budget)
    // and 1 above (an sf10 loop is ~5 min; repeats there are an explicit
    // operator choice). Set the env to override either way.
    val sfNum = """sf([0-9]+(?:\.[0-9]+)?)""".r.findFirstMatchIn(sfDir)
      .map(_.group(1).toDouble)
    val defaultLoops = if (sfNum.exists(_ <= 0.1)) 2 else 1
    val loops = sys.env.get("SPARK_GRAFT_BENCH_REPEAT").map(_.toInt)
      .getOrElse(defaultLoops)
    require(loops >= 1,
      s"SPARK_GRAFT_BENCH_REPEAT must be >= 1 (got $loops); unset it or use 1 to disable repeats")
    val names = only.fold(headline)(s => headline.filter(s))
    // queries whose every execution attempt threw (see run()'s catch):
    // reported in both metric lines so readers of the record can refuse
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    val loopResults = (1 to loops).map { li =>
      if (loops > 1) System.err.println(s"[bench] ==== loop $li/$loops ====")
      names.map { name =>
      // Drain the previous query's shuffle files and broadcast blocks
      // before timing this one. Without this, a full run accumulates
      // session state the GC-driven ContextCleaner reclaims too late
      // (48 GiB heap -> rare full GCs), inflating late-run queries
      // 1.3-2.4x vs isolated re-runs (round-8 adjudication data).
      // SPARK_GRAFT_NO_DRAIN=1 disables it for A/B diagnosis.
      if (!sys.env.contains("SPARK_GRAFT_NO_DRAIN"))
        org.apache.spark.sql.graftshim.SessionDrain.drain(spark.sparkContext)
      val fn = SparkEntry.queries(name)
      // LOUD on failure (r14 review): a silently-swallowed failure times
      // the exception throw (~0.01 s) and any comparison reads the broken
      // query as a huge improvement — invisible until a separate
      // correctness run, and at sf10 there IS no correctness run. Only a
      // failure in a TIMED pass gates the record (meta review: a
      // transient warmup-only hiccup leaves every published time from a
      // successful execution — marking it failed would force a full
      // re-run on a valid record); the gate field rides both metric
      // lines as "failed_queries" so an automated reader can refuse.
      def run(): Boolean =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case _: Throwable =>
          try { fn(spark, sfDir).count(); true }
          catch { case e: Throwable =>
            System.err.println(
              s"[bench] ERROR: query '$name' FAILED (timing the throw, " +
                s"not the query): ${e.getClass.getSimpleName}: ${e.getMessage}")
            false
          }
        }
      // one untimed pass per query: whole-stage codegen compiles each
      // query's unique generated class on first execution (measured
      // 3-10x the steady-state cost); then take the MIN of two timed
      // passes — the per-batch cost a pipeline actually pays when the
      // query runs repeatedly, with GC/AQE scheduling noise (measured
      // up to ±30% run-to-run) filtered out. Two queries get a third
      // timed pass — their measured inter-JVM bands are wide enough to
      // masquerade as plan changes: dedup_minhash_pairs ±50% across a
      // day at sf10 (9.0-13.6 s, clean canaries, flat GC — r9
      // adjudication) and envelope_debezium 1.18-1.66 s at sf0.1 on
      // identical code (r11 judge's isolated canary-clean re-runs);
      // min-of-3 narrows the sampled tail.
      run() // warmup: a failure here is logged but does not gate
      val gc0 = gcSec()
      val passes =
        if (Set("dedup_minhash_pairs", "envelope_debezium")(name)) 3 else 2
      val dt = (0 until passes).map { i =>
        val t0 = System.nanoTime()
        // ANY timed-pass failure gates: the published min could be the
        // exception-throw time of the failing pass
        if (!run()) failed.add(name)
        val d = (System.nanoTime() - t0) / 1e9
        // per-pass visibility for the min-of-3 queries: tells intra-JVM
        // variance (pass spread here) apart from inter-JVM variance
        // (spread across isolated runs) when adjudicating a noise band
        if (passes > 2) System.err.println(f"[bench]   $name pass$i $d%8.2f s")
        d
      }.min
      val gcDt = gcSec() - gc0
      // a fatal executor error (OOM) stops the context asynchronously and
      // run()'s catch would then "time" every remaining query against a
      // dead session at ~0.01 s — fail the whole run instead of emitting
      // garbage (observed at sf10 under an undersized heap)
      if (spark.sparkContext.isStopped)
        sys.error(s"SparkContext died during '$name' — aborting bench")
      System.err.println(f"[bench] $name%-28s $dt%8.2f s  (gc $gcDt%5.2f s/2)")
      name -> (dt, gcDt)
      }
    }
    // per-query value = the (time, gc) PAIR from the loop with the
    // minimal time, so the gc diagnostic annotates the loop whose time
    // is published (independent mins could pair a fast time with
    // another loop's gc and mislead heap-pressure adjudication)
    val byLoop = loopResults.map(_.toMap)
    val results = names.map { name =>
      name -> byLoop.map(_.apply(name)).minBy(_._1)
    }
    val canaryEnd = canary()
    val ioEnd = SettleGuard.ioProbeSec()
    val memEnd = SettleGuard.memProbeSec()
    val stealFrac = (for {
      (t0s, s0) <- stealStart; (t1s, s1) <- SettleGuard.cpuTotalSteal()
      if t1s > t0s
    } yield (s1 - s0).toDouble / (t1s - t0s)).getOrElse(-1.0)
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v._1 }
      .mkString("{", ",", "}")
    val gcs = results.map { case (k, v) => "\"" + k + "\":" + v._2 }
      .mkString("{", ",", "}")
    val total = results.map(_._2._1).sum
    // field order matters: the driver's bench capture keeps a fixed-size
    // TAIL of this line, so the per-query times map goes LAST (and the gc
    // diagnostic map, the next-most-useful, right before it) — in round 8
    // the map fell off the capture and the gc numbers were misread as times
    // settle/contamination evidence rides in BOTH lines so a reader can
    // judge whichever record survives the driver's fixed-size tail
    def envLine(failedJson: String) =
      """"io_canary_start_sec":%.3f,"io_canary_end_sec":%.3f,"mem_canary_start_sec":%.3f,"mem_canary_end_sec":%.3f,"settle_gap_s":%.1f,"active_jvms_start":%d,"busy_frac_start":%.3f,"dirty_mb_start":%.1f,"steal_frac_run":%.4f,"loops":%d,"failed_queries":%s"""
        .formatLocal(java.util.Locale.ROOT, ioStart, ioEnd, memStart, memEnd, settleGap, activeJvms.size, busyFrac, dirtyMb, stealFrac, loops, failedJson)
    val env = envLine(failed.map("\"" + _ + "\"").mkString("[", ",", "]"))
    // compact line (≤1.5 KB tail budget): a MASS-failure run must not blow
    // the budget with the very field that gates it — cap at 3 names (the
    // non-empty list marks the record either way; the full line
    // carries every name). The overflow count rides as its own numeric
    // field, NOT a synthetic "+N more" entry inside the list (r15
    // advisor: a fake name breaks any consumer that cross-references the
    // entries against the query map).
    val envCompact = envLine(
      failed.take(3).map("\"" + _ + "\"").mkString("[", ",", "]")) +
      (if (failed.size > 3) s""","failed_more":${failed.size - 3}""" else "")
    val fullLine = s"""{"metric":"total","value":$total,"unit":"sec","master":"$master","canary_start_sec":$canaryStart,"canary_end_sec":$canaryEnd,$env,"sf":"$sfDir","gc_sec_by_query":$gcs,"queries":$qs}"""
    println(fullLine)
    // Second, COMPACT record (≤1.5 KB) printed after the full line: the
    // driver's bench capture keeps only a fixed-size tail of stdout, and
    // the full per-query map (~4.5 KB at 129 queries) overflows it — the
    // head of the line falls off and the record is unparseable. This line
    // is small enough that the tail always retains it whole, so automated
    // comparison against driver benches has one complete JSON object.
    val top20 = results.sortBy(-_._2._1).take(20)
      .map { case (k, v) => "\"" + k + "\":" + math.round(v._1 * 1000) }
      .mkString("{", ",", "}")
    // Locale.ROOT: the f-interpolator uses the default JVM locale, and a
    // comma-decimal locale would print total_s":123,4 — invalid JSON on
    // exactly the machine-parseability this line exists for
    val compactLine =
      """{"metric":"total_compact","total_s":%.1f,"sf":"%s","master":"%s","nq":%d,"canary_start_sec":%.3f,"canary_end_sec":%.3f,%s,"top20_ms":%s}"""
        .formatLocal(java.util.Locale.ROOT, total, sfDir, master, results.size, canaryStart, canaryEnd, envCompact, top20)
    println(compactLine)
    // r17 (VERDICT r16 #2): in all 16 rounds the driver's bench capture
    // never parsed — it keeps a fixed-size TAIL of this process's output,
    // sbt's logger prefixes every System.out line with "[info] " (no bare
    // JSON line ever reaches the tail), and the full per-query line
    // (~4.5 KB) overflows the tail anyway. Two ADDITIONS (every existing
    // line above is unchanged — the A/B tooling keeps reading them):
    //  1. the full record persists to BENCH_LAST.json in the working
    //     directory, immune to any tail truncation;
    //  2. the ≤1.5 KB compact line is re-emitted RAW on file descriptor 1
    //     — sbt swaps the System.out *reference* through its logger, not
    //     the fd — so the tail's last JSON object is bare, whole, and
    //     parseable by a plain json.loads over the line.
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_LAST.json"), fullLine + "\n" + compactLine + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] WARNING: BENCH_LAST.json not written: ${e.getMessage}")
    }
    try {
      // deliberately not closed: fd 1 belongs to the (possibly in-process
      // sbt) host
      val raw = new java.io.FileOutputStream(java.io.FileDescriptor.out)
      raw.write(("\n" + compactLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      raw.flush()
    } catch { case _: Throwable => () }
    spark.stop()
  }
}
