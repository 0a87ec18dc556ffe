#!/usr/bin/env python3
"""Interleaved A/B bench: two builds, one host window, paired per-query ratios.

Usage: abbench.py --old <commit-ish> [--sf DIR] [--passes 2] [--mem 8g]
                  [--queries q1,q2,... | all] [--out BENCH_AB.json]
                  [--keep-worktree]

Why (VERDICT r14 #1): the box's clean-run total band on IDENTICAL code
spans 41.5-56.9 s (+-17%, hypervisor steal to 0.02) — wider than every
per-query noise floor — so cross-round record comparison stopped carrying
information and every round burned a directive adjudicating the machine.
This tool removes the machine from the comparison by construction:

  0. takes the query list from this checkout's compiled `Bench.headline`
     (`graft.BenchServe names`), never from the Scala source;
  1. builds the OLD commit in a git worktree under target/abtree/ with
     HEAD's BenchServe.scala copied in (the timing harness must be
     bit-identical on both sides; only the engine differs);
  2. launches TWO BenchServe JVMs — NEW = this checkout's compiled
     classes, OLD = the worktree's — in one host window;
  3. per query: warms both sides, then alternates timed passes
     NEW/OLD/NEW/OLD (which side goes first alternates per query index,
     cancelling cache-priming bias on average); per-side value = min of
     passes, both minima sampled seconds apart on the same machine state;
  4. writes a paired record for `regress.py --paired`.

A host-wide stall lands on BOTH sides of a pair (or on neither), so the
uniform band that used to flag 4+ queries per round cancels out of every
ratio. The residual per-query spread IS the intra-JVM noise (GC, AQE
plan wobble) — measured by running this tool on two engine-identical
builds, which is also the calibration that set the --paired floors.

Prereq: compile HEAD first (sbt compile). The OLD side is compiled here.
Run on an otherwise-quiet box — pairing cancels shared noise, it cannot
conjure CPU the neighbors are stealing (steal shows up in both columns).
"""
import argparse, json, os, shutil, subprocess, sys, threading, time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
SPARK_JARS = "/opt/spark/jars/*"
ADD_OPENS = []
for p in ("java.base/java.lang java.base/java.lang.invoke "
          "java.base/java.lang.reflect java.base/java.io java.base/java.net "
          "java.base/java.nio java.base/java.util "
          "java.base/java.util.concurrent java.base/java.util.concurrent.atomic "
          "java.base/sun.nio.ch java.base/sun.nio.cs "
          "java.base/sun.security.action java.base/sun.util.calendar").split():
    ADD_OPENS += ["--add-opens", p + "=ALL-UNNAMED"]


def headline_queries(classes):
    """`Bench.headline` of the build in `classes` (BenchServe's `names`
    mode prints it and exits before starting Spark)."""
    out = subprocess.run(["java", "-cp", f"{classes}:{SPARK_JARS}", "graft.BenchServe", "names"],
                         stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    for line in out.stdout.splitlines():
        if line.startswith("@AB "):
            return json.loads(line[4:])["names"]
    raise SystemExit(f"graft.BenchServe names printed no list:\n{out.stderr[-2000:]}")


def build_old(commit):
    sha = subprocess.check_output(
        ["git", "rev-parse", "--short", commit], cwd=REPO).decode().strip()
    tree = REPO / "target" / "abtree" / sha
    if not tree.exists():
        subprocess.check_call(
            ["git", "worktree", "add", "--detach", str(tree), commit], cwd=REPO)
    # identical harness on both sides: HEAD's serve main overwrites (or
    # adds) the old tree's copy — it is self-contained over the API
    # surface stable since r13 (see BenchServe scaladoc)
    shutil.copy2(REPO / "src/main/scala/graft/BenchServe.scala",
                 tree / "src/main/scala/graft/BenchServe.scala")
    # BenchServe builds through Tables.session(); an old tree whose
    # session ignores SPARK_GRAFT_CPUS runs local[32] whatever it says
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if cpus != "32" and "SPARK_GRAFT_CPUS" not in (
            tree / "src/main/scala/graft/Tables.scala").read_text():
        raise SystemExit(f"old tree {sha} ignores SPARK_GRAFT_CPUS={cpus} "
                         "(it would run local[32]): unset it to pair at 32")
    print(f"[ab] compiling old side ({sha}) in {tree} ...", flush=True)
    r = subprocess.run(["sbt", "-batch", "compile"], cwd=tree,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        sys.stdout.buffer.write(r.stdout[-4000:])
        raise SystemExit(f"old-side sbt compile failed in {tree}")
    return sha, tree / "target/scala-2.13/classes"


class Serve:
    def __init__(self, label, classes, sf, mem, logpath):
        self.label = label
        self.log = open(logpath, "w")
        env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf)
        cmd = (["java", f"-Xmx{mem}", f"-Xms{mem}"] + ADD_OPENS +
               ["-cp", f"{classes}:{SPARK_JARS}", "graft.BenchServe"])
        self.p = subprocess.Popen(cmd, env=env, stdin=subprocess.PIPE,
                                  stdout=subprocess.PIPE, stderr=self.log,
                                  text=True, bufsize=1)

    def _readline(self, timeout):
        """Next @AB line from stdout (Spark log lines are filtered out)."""
        box = {}
        def rd():
            while True:
                line = self.p.stdout.readline()
                if not line:
                    box["line"] = None
                    return
                if line.startswith("@AB "):
                    box["line"] = line[4:].strip()
                    return
        t = threading.Thread(target=rd, daemon=True)
        t.start()
        t.join(timeout)
        if "line" not in box or box["line"] is None:
            raise SystemExit(
                f"[ab] {self.label}: no @AB reply within {timeout}s "
                f"(see its stderr log); aborting")
        return json.loads(box["line"])

    def wait_ready(self, timeout=1800):
        # generous: BOTH serve JVMs warm up concurrently, and at sf10 on a
        # degraded host a single warmup data pass has been observed in the
        # hundreds of seconds (r15) — this timeout is for hangs, not pace
        r = self._readline(timeout)
        if not r.get("ready"):
            raise SystemExit(f"[ab] {self.label}: unexpected first reply {r}")

    def cmd(self, line, timeout=1200):
        self.p.stdin.write(line + "\n")
        self.p.stdin.flush()
        return self._readline(timeout)

    def close(self):
        try:
            self.p.stdin.write("quit\n")
            self.p.stdin.flush()
            self.p.wait(60)
        except Exception:
            self.p.kill()
        self.log.close()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--old", required=True, help="commit-ish of the baseline build")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--passes", type=int, default=2)
    ap.add_argument("--mem", default="8g")
    ap.add_argument("--queries", default="all")
    ap.add_argument("--out", default=None)
    ap.add_argument("--keep-worktree", action="store_true",
                    help="no-op: the old side's worktree is always kept for reuse")
    args = ap.parse_args()

    new_classes = REPO / "target/scala-2.13/classes"
    if not (new_classes / "graft/BenchServe.class").exists():
        raise SystemExit("HEAD classes lack graft.BenchServe — run sbt compile first")
    # the list comes from the NEW build and is checked before the old tree
    # is built, so a typo fails in seconds rather than after a compile
    names = headline_queries(new_classes)
    if args.queries != "all":
        want = [q.strip() for q in args.queries.split(",") if q.strip()]
        unknown = set(want) - set(names)
        if unknown:
            raise SystemExit(f"not in headline set: {sorted(unknown)}")
        names = [q for q in names if q in set(want)]

    head_sha = subprocess.check_output(
        ["git", "rev-parse", "--short", "HEAD"], cwd=REPO).decode().strip()
    old_sha, old_classes = build_old(args.old)

    out_path = args.out or str(REPO / f"BENCH_AB_{head_sha}_vs_{old_sha}.json")
    print(f"[ab] NEW={head_sha} OLD={old_sha} sf={args.sf} passes={args.passes} "
          f"queries={len(names)}", flush=True)

    new = Serve("new", new_classes, args.sf, args.mem, str(REPO / "target/ab_new.stderr"))
    old = Serve("old", old_classes, args.sf, args.mem, str(REPO / "target/ab_old.stderr"))
    try:
        # sequential init: the second JVM's startup burn must not sit
        # under the first side's timed window (nothing is timed yet, but
        # warmups shape JIT state — keep them serialized and symmetric)
        new.wait_ready()
        old.wait_ready()
        # each canary reply carries canary_sec (CPU) and, since r16,
        # mem_probe_sec (first-touch page supply — the r15 host
        # degradation mode invisible to the CPU probe); old harnesses
        # never reach here (BenchServe is copied from HEAD), but stay
        # tolerant of a missing key anyway
        def probe(side, tag):
            r = side.cmd("canary")
            return {f"{tag}": r["canary_sec"],
                    f"{tag}_mem": r.get("mem_probe_sec", -1.0)}
        canary = {**probe(new, "new_start"), **probe(old, "old_start")}
        results, errors = {}, {}
        t_run0 = time.time()
        for i, q in enumerate(names):
            first, second = (new, old) if i % 2 == 0 else (old, new)
            ok = True
            for s in (first, second):
                r = s.cmd(f"warm {q}")
                if "err" in r:
                    errors[q] = {s.label: r["err"]}
                    ok = False
            if not ok:
                print(f"[ab] {q}: SKIPPED ({errors[q]})", flush=True)
                continue
            times = {"new": [], "old": []}
            for _ in range(args.passes):
                for s in (first, second):
                    r = s.cmd(f"time {q}")
                    if "err" in r:
                        errors.setdefault(q, {})[s.label] = r["err"]
                        ok = False
                    else:
                        times[s.label].append(r["sec"])
            if not ok or not times["new"] or not times["old"]:
                print(f"[ab] {q}: SKIPPED ({errors.get(q)})", flush=True)
                continue
            a, b = min(times["new"]), min(times["old"])
            results[q] = {"new_s": a, "old_s": b,
                          "first": first.label,
                          "new_passes": times["new"], "old_passes": times["old"]}
            print(f"[ab] {q:<34} new {a:7.3f}  old {b:7.3f}  ratio {a/b:5.2f}",
                  flush=True)
        canary.update(probe(new, "new_end"))
        canary.update(probe(old, "old_end"))
        wall = time.time() - t_run0
    finally:
        new.close()
        old.close()

    ratios = sorted(r["new_s"] / r["old_s"] for r in results.values())
    median = ratios[len(ratios) // 2] if ratios else float("nan")
    rec = {
        "mode": "paired",
        "new_commit": head_sha, "old_commit": old_sha,
        "sf": args.sf, "passes": args.passes, "wall_s": round(wall, 1),
        "canary": canary,
        "total_new_s": round(sum(r["new_s"] for r in results.values()), 3),
        "total_old_s": round(sum(r["old_s"] for r in results.values()), 3),
        "median_ratio": round(median, 4),
        "errors": errors,
        "queries": results,
    }
    with open(out_path, "w") as f:
        json.dump(rec, f, indent=1)
    print(f"[ab] done: total new {rec['total_new_s']} s, old {rec['total_old_s']} s, "
          f"median ratio {rec['median_ratio']}; wrote {out_path}", flush=True)


if __name__ == "__main__":
    main()
