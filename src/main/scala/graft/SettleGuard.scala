package graft

import java.io.File
import java.nio.file.Files

/** The bench settle protocol (SCALE.md "measurement protocol") as code.
  *
  * Round-11 incident: the driver's bench JVM started ~5 s after the
  * 133-query correctness JVM exited (artifact mtimes prove it), the
  * CPU-only canary read clean (0.146 s), and three false FLAGs landed on
  * the scoreboard — adjudicated away only by a judge re-run. The canary
  * measures a cached-codegen CPU loop, so it is blind to the two
  * contamination channels a just-exited 32-thread Spark JVM leaves
  * behind: residual kernel writeback of its outputs, and its own
  * teardown (shuffle-dir deletion, executor pool shutdown) when the
  * "exited" JVM is in fact still dying.
  *
  * Defense in depth, all mechanical:
  *   - every graft main stamps a marker file at JVM exit
  *     ([[install]]); Bench reads the gap at startup ([[gapSec]]) —
  *     the ">=15 s settle between JVMs" rule as code, not prose;
  *   - a 500 ms /proc sample at Bench startup ([[activitySample]])
  *     counts OTHER java processes that are actively burning CPU (an
  *     idle sbt shell does not count; a tearing-down Spark JVM does)
  *     and the box-wide busy fraction;
  *   - /proc/meminfo Dirty+Writeback ([[dirtyWritebackMb]]) exposes a
  *     residual writeback backlog the CPU canary cannot see;
  *   - a timed write+fsync+readback probe ([[ioProbeSec]]) at run
  *     start/end. Measured floors on this box (ext4 on virtio,
  *     host-cached): 0.021-0.031 s idle, and — measured, round 12 —
  *     NOT inflated by a single sustained concurrent writer (the
  *     virtual device absorbs it), which is exactly why the marker +
  *     /proc checks above are the primary defense here and the probe
  *     is the backstop for genuinely I/O-bound machines.
  *
  * Bench emits all of these in both metric lines, and the `BENCH_rNN`
  * records carry them as context for reading one record.
  * No tool gates them: speed claims are paired (`tools/abbench.py` +
  * `tools/regress.py --paired`, which gates on its serves' own CPU and
  * page-supply canaries).
  */
object SettleGuard {
  /** Minimum seconds between graft JVMs for a trustworthy bench. */
  val MinSettleSec = 15.0

  /** Marker location anchored at the build's target/ dir (derived from
    * where this class was loaded) so the driver's cwd does not matter;
    * env override for exotic layouts. */
  def markerFile: File = {
    sys.env.get("SPARK_GRAFT_SETTLE_FILE").map(new File(_)).getOrElse {
      val anchor = Option(getClass.getProtectionDomain.getCodeSource)
        .map(cs => new File(cs.getLocation.toURI))
        // .../target/scala-2.13/classes -> .../target
        .flatMap(d => Option(d.getParentFile).flatMap(p => Option(p.getParentFile)))
        .getOrElse(new File(sys.props("user.dir"), "target"))
      new File(anchor, ".graft-settle-marker")
    }
  }

  /** Machine-global marker (VERDICT r12 #1): the r12 target-anchored
    * marker was invisible to the driver's bench, which runs from a
    * separate checkout of this repo — its read saw no marker (-1) and
    * its exit-hook restamp landed in the OTHER checkout's target/.
    * Contamination is machine-wide (the just-exited Spark JVM pollutes
    * the box, not a build dir), so the marker must be too: a fixed path
    * every copy of the repo on this machine shares. Deliberately a
    * literal "/tmp", NOT java.io.tmpdir — a per-JVM tmpdir override
    * would silently re-fragment the channel per checkout.
    *
    * r14 (advisor): the path is per-USER and reads are ownership-checked
    * ([[gapOf]]). The old fixed world-writable path let any other user
    * squat the name (stamps silently fail — stamp swallows errors by
    * design) or plant a fresh timestamp that keeps every bench on the
    * box gated below MinSettleSec. Per-user suffix keeps honest users
    * out of each other's channel; the ownership check defeats a squatter
    * who pre-creates THIS user's name in sticky /tmp. */
  def globalMarkerFile: File =
    sys.env.get("SPARK_GRAFT_SETTLE_FILE_GLOBAL").map(new File(_))
      .getOrElse(new File(
        s"/tmp/.graft-settle-marker-${sys.props.getOrElse("user.name", "unknown")}"))

  /** True when `f` exists and is owned by the current user — the only
    * state in which a /tmp marker's timestamp is trustworthy. Errors
    * (no POSIX view, race) read as NOT ours: fail toward ignoring the
    * marker (-1 = unknown), never toward trusting a squatter's stamp. */
  private def ownedByUs(f: File): Boolean =
    try Files.getOwner(f.toPath).getName == sys.props.getOrElse("user.name", "")
    catch { case _: Throwable => false }

  /** Register a shutdown hook stamping JVM-exit time. Every graft main
    * calls this first thing so the NEXT main can measure its settle
    * gap. Idempotent per JVM; never throws. */
  @volatile private var installed = false
  def install(): Unit = synchronized {
    if (!installed) {
      installed = true
      Runtime.getRuntime.addShutdownHook(new Thread(() => stamp()))
    }
  }

  /** Stamp BOTH markers, each in its own try: an unwritable /tmp must
    * not lose the target-anchored stamp, and vice versa. */
  def stamp(): Unit = {
    def write(f: File): Unit =
      try {
        Option(f.getParentFile).foreach(_.mkdirs())
        Files.writeString(f.toPath, System.currentTimeMillis().toString)
      } catch { case _: Throwable => () }
    write(markerFile)
    // never write INTO a squatter's file — the read side would reject
    // it by ownership anyway (r14)
    if (!globalMarkerFile.exists() || ownedByUs(globalMarkerFile))
      write(globalMarkerFile)
  }

  private def gapOf(f: File): Double =
    try {
      if (!f.exists()) -1.0
      else {
        val gap = (System.currentTimeMillis() -
          Files.readString(f.toPath).trim.toLong) / 1e3
        if (gap < 0) -1.0 else gap
      }
    } catch { case _: Throwable => -1.0 }

  /** Seconds since the last graft JVM exited, from the MOST RECENT of
    * the two markers (most-recent exit = smallest gap — the
    * conservative read for a "did we start too soon?" gate); -1 when
    * neither is known (no marker yet, unreadable, or clock skew). */
  def gapSec(): Double = {
    // the /tmp marker counts only when WE own it (r14): a squatter's
    // planted timestamp must not gate (or un-gate) this user's benches
    val globalGap =
      if (globalMarkerFile.exists() && !ownedByUs(globalMarkerFile)) -1.0
      else gapOf(globalMarkerFile)
    val gaps = Seq(gapOf(markerFile), globalGap).filter(_ >= 0)
    if (gaps.isEmpty) -1.0 else gaps.min
  }

  private def readProc(path: String): Option[String] =
    try Some(Files.readString(java.nio.file.Paths.get(path)))
    catch { case _: Throwable => None }

  /** /proc/meminfo Dirty + Writeback in MiB; -1 when unreadable. */
  def dirtyWritebackMb(): Double =
    readProc("/proc/meminfo").map { text =>
      val kb = "(?m)^(Dirty|Writeback):\\s+(\\d+) kB".r
        .findAllMatchIn(text).map(_.group(2).toLong).sum
      kb / 1024.0
    }.getOrElse(-1.0)

  /** One java-process CPU snapshot: pid -> (utime+stime ticks, cmdline
    * head). comm=="java" only; self excluded. */
  private def jvmTicks(): Map[Long, (Long, String)] = {
    val self = ProcessHandle.current().pid()
    val procDir = new File("/proc")
    Option(procDir.listFiles()).getOrElse(Array.empty).iterator
      .filter(f => f.getName.forall(_.isDigit))
      .map(_.getName.toLong)
      .filter(_ != self)
      .flatMap { pid =>
        for {
          comm <- readProc(s"/proc/$pid/comm") if comm.trim == "java"
          stat <- readProc(s"/proc/$pid/stat")
          // fields after the parenthesised comm: index 11/12 (0-based
          // post-paren) are utime/stime
          rest = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
          if rest.length > 12
        } yield {
          val cmd = readProc(s"/proc/$pid/cmdline")
            .map(_.replace('\u0000', ' ').trim.take(120)).getOrElse("?")
          pid -> (rest(11).toLong + rest(12).toLong, cmd)
        }
      }.toMap
  }

  /** Box-wide non-idle CPU ticks snapshot from /proc/stat. */
  private def cpuTicks(): Option[(Long, Long)] =
    readProc("/proc/stat").flatMap { text =>
      text.linesIterator.find(_.startsWith("cpu ")).map { line =>
        val f = line.trim.split("\\s+").drop(1).map(_.toLong)
        val idle = f(3) + (if (f.length > 4) f(4) else 0L) // idle + iowait
        (f.sum, idle)
      }
    }

  /** Sample /proc for `sampleMs`: returns (box busy fraction, other
    * java processes that consumed >10% of one core during the window,
    * as "pid cores=<busy cores> cmdline-head"). An idle sbt shell or
    * editor JVM does not trip this; a live Spark JVM — even one
    * mid-teardown — does. Deliberately strict (ADVICE r12): ANY other
    * java process over the threshold gates the run, including a
    * ticking CI agent — the RUNBOOK protocol is "no other JVM alive
    * during a bench", and the reported per-offender busy fraction is
    * what an operator adjudicates a borderline gate with. */
  def activitySample(sampleMs: Int = 500): (Double, Seq[String]) = {
    val t0 = jvmTicks(); val c0 = cpuTicks()
    Thread.sleep(sampleMs.toLong)
    val t1 = jvmTicks(); val c1 = cpuTicks()
    val hz = 100.0 // USER_HZ; Linux fixes this at 100 on all common arches
    val winTicks = hz * sampleMs / 1000.0
    val minTicks = winTicks * 0.10
    val active = t1.toSeq.collect {
      case (pid, (ticks1, cmd)) if t0.contains(pid) &&
          ticks1 - t0(pid)._1 > minTicks =>
        f"$pid cores=${(ticks1 - t0(pid)._1) / winTicks}%.2f $cmd"
      // a java process that appeared mid-window counts as active too
      case (pid, (_, cmd)) if !t0.contains(pid) => s"$pid $cmd (new)"
    }.sorted
    val busy = (for { (tot0, idle0) <- c0; (tot1, idle1) <- c1; if tot1 > tot0 }
      yield 1.0 - (idle1 - idle0).toDouble / (tot1 - tot0)).getOrElse(-1.0)
    (busy, active)
  }

  /** (total CPU ticks, steal ticks) from /proc/stat — a whole-run delta
    * exposes hypervisor-level interference (a noisy VM neighbor) that no
    * start/end probe can see while the bench itself saturates the guest:
    * steal accrues even under full guest load. None when unreadable. */
  def cpuTotalSteal(): Option[(Long, Long)] =
    readProc("/proc/stat").flatMap { text =>
      text.linesIterator.find(_.startsWith("cpu ")).map { line =>
        val f = line.trim.split("\\s+").drop(1).map(_.toLong)
        (f.sum, if (f.length > 7) f(7) else 0L)
      }
    }

  /** Memory-subsystem sibling of the CPU/IO canaries (r15): timed
    * first-touch of FRESH off-heap pages — 512 MiB per round, one write
    * per 4 KiB page, min of 3 rounds with distinct allocations. The CPU
    * canary runs in already-resident heap, so a host whose page-supply
    * path is degraded (memory-overcommitted hypervisor, host swap, THP
    * compaction stalls) passes it while every first-touch of new
    * executor/shuffle memory crawls — measured on this box: warm
    * identical queries swinging 27 -> 78 s with canary/steal/io all
    * green, /proc/stat sys% at 24-42 (r15 sf10 refresh adjudication,
    * SCALE.md). Measured band on this box in the r15 window: 0.25-0.27 s
    * (~2 GB/s page supply) — stable across minutes, so the gate sits at
    * 1.0 s (`regress.py --paired`, `graft.run.Rehearsal`) to catch an
    * order-of-magnitude collapse, not the box's ambient speed; re-floor
    * if a quiet window ever shows a materially lower ambient.
    * Off-heap (allocateDirect) on purpose: JVM heap pages under
    * a pinned Xms are faulted in by earlier work and would measure
    * reuse, not the host. Each round's buffer is freed EXPLICITLY
    * (Unsafe.invokeCleaner) before the next allocates (r16, ADVICE
    * r15): left reachable-only-by-GC, up to 1.5 GiB of direct pages
    * linger nondeterministically into the run the probe protects —
    * an RSS bump, and Bits.reserveMemory may force a System.gc()
    * under an explicit -XX:MaxDirectMemorySize. 512 MiB headroom
    * over -Xmx is within every documented MEM shape. */
  def memProbeSec(): Double =
    try {
      val bytes = 512 << 20
      (0 until 3).map { _ =>
        val t0 = System.nanoTime()
        val buf = java.nio.ByteBuffer.allocateDirect(bytes)
        var off = 0
        while (off < bytes) { buf.put(off, 1.toByte); off += 4096 }
        val sec = (System.nanoTime() - t0) / 1e9
        freeDirect(buf)
        sec
      }.min
    } catch { case t: Throwable =>
      System.err.println(s"[settle] mem probe FAILED (reporting -1): $t")
      -1.0
    }

  /** Deterministically release a direct buffer's pages via the public
    * `sun.misc.Unsafe.invokeCleaner` (JDK 9+, jdk.unsupported — no
    * add-opens needed). Best-effort: on any failure the buffer is left
    * for GC, which is exactly the pre-r16 behavior. */
  private def freeDirect(buf: java.nio.ByteBuffer): Unit =
    try {
      val f = classOf[sun.misc.Unsafe].getDeclaredField("theUnsafe")
      f.setAccessible(true)
      f.get(null).asInstanceOf[sun.misc.Unsafe].invokeCleaner(buf)
    } catch { case _: Throwable => () }

  /** Timed 16 MiB write + fsync + readback + delete in target/, min of
    * 3. Idle floor on this box: 0.021-0.031 s (round-12 measurement,
    * SCALE.md); above 0.30 s the box is I/O-contaminated. */
  def ioProbeSec(): Double =
    try {
      // like every other probe here: never kill the measurement run the
      // probe exists to protect — unwritable/odd anchor dirs yield the
      // -1 sentinel (unknown, never read as clean or dirty)
      val dir = Option(markerFile.getParentFile)
        .getOrElse(new File(sys.props("user.dir")))
      dir.mkdirs()
      val buf = new Array[Byte](4 << 20)
      java.util.Arrays.fill(buf, 0x5a.toByte)
      (0 until 3).map { i =>
        val f = new File(dir, s".graft-ioprobe$i.tmp")
        try {
          val t0 = System.nanoTime()
          val out = new java.io.FileOutputStream(f)
          try {
            var k = 0
            while (k < 4) { out.write(buf); k += 1 }
            out.getFD.sync()
          } finally out.close()
          val in = new java.io.FileInputStream(f)
          try { while (in.read(buf) > 0) () } finally in.close()
          (System.nanoTime() - t0) / 1e9
        } finally f.delete() // never leak the 16 MiB probe file
      }.min
    } catch { case t: Throwable =>
      // loud sentinel: an erroring disk is itself contamination evidence
      // the reader must see, even though the gate can't distinguish a
      // broken disk from a benignly unwritable deploy dir
      System.err.println(s"[settle] io probe FAILED (reporting -1): $t")
      -1.0
    }
}
