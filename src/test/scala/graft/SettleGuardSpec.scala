package graft

import org.scalatest.funsuite.AnyFunSuite

/** The settle-marker channel (SettleGuard scaladoc; VERDICT r12 #1).
  *
  * The r12 incident this pins: the marker was target/-anchored only, so a
  * bench launched from a DIFFERENT checkout of this repo read the -1
  * "unknown" sentinel and regress.py treated unknown as clean — the
  * flagship defense was inert on the exact run it was built to police.
  * Since r13 `stamp()` writes a second, machine-global marker and
  * `gapSec()` reads the most recent of the two, so any copy of the repo
  * on this machine sees any other copy's just-exited JVM.
  */
class SettleGuardSpec extends AnyFunSuite {

  test("stamp writes BOTH the target-anchored and the machine-global marker") {
    SettleGuard.stamp()
    assert(SettleGuard.markerFile.exists(),
      s"target-anchored marker missing: ${SettleGuard.markerFile}")
    assert(SettleGuard.globalMarkerFile.exists(),
      s"machine-global marker missing: ${SettleGuard.globalMarkerFile}")
  }

  test("gapSec reads a fresh stamp as a near-zero gap") {
    SettleGuard.stamp()
    val gap = SettleGuard.gapSec()
    assert(gap >= 0 && gap < 60, s"expected a fresh gap, got $gap")
  }

  test("gapSec survives on the global marker alone (the cross-checkout read)") {
    SettleGuard.stamp()
    // simulate the r12 driver-bench environment: the reading JVM's own
    // target/ has no marker, only the machine-global one exists
    assert(SettleGuard.markerFile.delete(), "precondition: local marker deletable")
    val gap = SettleGuard.gapSec()
    assert(gap >= 0 && gap < 60,
      s"global marker alone must yield a real gap, got $gap (the r12 inert-channel bug)")
    SettleGuard.stamp() // restore for whoever runs next
  }

  test("gapSec takes the most recent exit (min gap) when the markers disagree") {
    // global marker says "a JVM exited 1h ago", local says "just now":
    // the conservative answer for a too-soon gate is the smaller gap
    val old = System.currentTimeMillis() - 3600 * 1000L
    java.nio.file.Files.writeString(SettleGuard.globalMarkerFile.toPath, old.toString)
    java.nio.file.Files.writeString(SettleGuard.markerFile.toPath,
      System.currentTimeMillis().toString)
    val gap = SettleGuard.gapSec()
    assert(gap < 60, s"expected the recent local stamp to win, got $gap")
    // and symmetrically: recent global, stale local
    java.nio.file.Files.writeString(SettleGuard.globalMarkerFile.toPath,
      System.currentTimeMillis().toString)
    java.nio.file.Files.writeString(SettleGuard.markerFile.toPath, old.toString)
    val gap2 = SettleGuard.gapSec()
    assert(gap2 < 60, s"expected the recent global stamp to win, got $gap2")
    SettleGuard.stamp()
  }

  test("the global marker path is per-user (r14 advisor: /tmp squatting)") {
    // a fixed world-shared /tmp name let another user squat the file
    // (stamps silently fail) or plant a fresh timestamp gating every
    // bench on the box; the suffix keeps each user in their own channel
    // (and reads are additionally ownership-checked — untestable here
    // without a second uid, but the write-skip guard is: a file we own
    // is still stamped over)
    if (sys.env.get("SPARK_GRAFT_SETTLE_FILE_GLOBAL").isEmpty) {
      val user = sys.props.getOrElse("user.name", "unknown")
      assert(SettleGuard.globalMarkerFile.getName == s".graft-settle-marker-$user",
        s"global marker must carry the user suffix: ${SettleGuard.globalMarkerFile}")
    }
    SettleGuard.stamp()
    val before = java.nio.file.Files.readString(SettleGuard.globalMarkerFile.toPath)
    Thread.sleep(5)
    SettleGuard.stamp() // we own it -> restamp must go through
    val after = java.nio.file.Files.readString(SettleGuard.globalMarkerFile.toPath)
    assert(after.trim.toLong >= before.trim.toLong)
  }

  test("gapSec is -1 only when NEITHER marker is known") {
    SettleGuard.markerFile.delete()
    SettleGuard.globalMarkerFile.delete()
    assert(SettleGuard.gapSec() == -1.0)
    SettleGuard.stamp()
  }

  test("memProbeSec measures a first-touch pass, never the error sentinel (r15)") {
    // smoke contract (loosened r16, ADVICE r15): WHEN the direct
    // allocation succeeds, the probe returns a positive finite time —
    // no upper bound, because on a genuinely page-supply-degraded or
    // overcommitted host (the exact mode the probe exists to DETECT)
    // first-touch of 512 MiB x3 can legitimately exceed any fixed cap,
    // and the suite must not read a sick machine as a code regression.
    // The -1 sentinel is reserved for allocation FAILURE; if the host
    // cannot even allocate, the contract is vacuously satisfied (and
    // the skip is loud in the assertion message path via `cancel`).
    val s = SettleGuard.memProbeSec()
    if (s == -1.0)
      cancel("mem probe allocation failed on this host — environment-" +
        "sensitive contract cannot be checked here (sentinel path is " +
        "not exercised by this smoke)")
    assert(s > 0.0 && java.lang.Double.isFinite(s),
      s"memProbeSec not a positive finite first-touch time: $s")
  }
}
