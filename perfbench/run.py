#!/usr/bin/env python3
"""Replication and operator-suite benchmark for the graft Spark engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload cdc_trickle --seed 1 --seconds 15 --trace 0

Workloads: cdc_trickle, cdc_backlog, query_suite (see perfbench/README.md).
The first run in a checkout builds the program and the benchmark with sbt
(perfbench/build.sbt loads the repository's own build). Each run starts one
JVM on local[4], which prints a report line; this script adds the DuckDB
oracle check for query_suite, prints every metric of the workload by name
with its unit, and ends with one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are the per-layer metrics. --smoke 1 runs the tiny
(sf0.001) mode the smoke test uses.
"""
import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
WORK = os.path.join(HERE, ".work")
# a measured run ends well inside 180 s; the smoke mode runs all 130 suite
# queries and gets more room
JVM_TIMEOUT_S = {0: 170, 1: 600}

# Spark 4 on JDK 17 needs these outside spark-submit (the program's build
# passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def build():
    """Compile the program (through its own build) and the benchmark once
    per checkout; cache the runtime classpath."""
    if os.path.exists(CLASSPATH):
        return open(CLASSPATH).read().strip()
    if not os.path.exists(os.path.join(ROOT, "build.sbt")):
        log("no program build (build.sbt) next to the benchmark: nothing to measure")
        sys.exit(2)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building the program and the benchmark (first run in this checkout)")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=850)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or ":" not in lines[-1] or lines[-1].startswith("["):
        sys.stderr.write(p.stdout[-4000:])
        log(f"build failed (exit {p.returncode})")
        sys.exit(3)
    os.makedirs(BUILD, exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip()


def cpu_times():
    """Aggregate (busy, steal, total) jiffies from /proc/stat, or None."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[0] + v[1] + v[2] + v[5] + v[6], v[7], sum(v)
    except (OSError, ValueError, IndexError):
        return None


def run_jvm(cp, args, work):
    """Run the benchmark JVM; return its report (dict) or exit non-zero."""
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        # a fixed heap with a fixed young generation, not pre-touched: peak
        # RSS follows the old generation and off-heap memory the run
        # touches, not the collector's adaptive heap and eden sizing
        "-Xms2g", "-Xmx2g", "-Xmn512m", "-XX:+UseG1GC", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", cp, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--smoke", str(args.smoke), "--work", work,
    ]
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["MALLOC_ARENA_MAX"] = "2"
    os.makedirs(os.path.join(work, "tmp"))
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S[args.smoke])
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        log(f"benchmark JVM exceeded {JVM_TIMEOUT_S[args.smoke]} s")
        sys.exit(4)
    report = [l for l in out.splitlines() if l.startswith("PERFBENCH_REPORT ")]
    if proc.returncode != 0 or not report:
        log(f"benchmark JVM failed (exit {proc.returncode})")
        sys.exit(5)
    return json.loads(report[-1][len("PERFBENCH_REPORT "):])


def oracle_check(out_dir, data_dir):
    """Compare every warm-pass output with its DuckDB oracle query, as the
    correctness gate does: columns sorted by name, rows sorted, values
    exactly equal. Returns (checked, failures)."""
    import duckdb
    import pandas as pd

    def norm(df):
        df = df.reindex(sorted(df.columns), axis=1)
        return df.sort_values(by=list(df.columns), ignore_index=True)

    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for path in glob.glob(os.path.join(data_dir, "*.parquet")):
        name = os.path.basename(path)[: -len(".parquet")]
        src = f"read_parquet('{path}/*.parquet')"
        if name == "events":
            # DataGen writes events.ts as raw int64 nanoseconds; the test
            # data the oracle queries were written for carries a naive
            # microsecond TIMESTAMP, which Tables also normalizes to
            ts_type = con.execute(f"SELECT typeof(ts) FROM {src} LIMIT 1").fetchone()[0]
            if ts_type == "BIGINT":
                src = f"(SELECT * REPLACE (make_timestamp(ts // 1000) AS ts) FROM {src})"
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM {src}")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    failures = []
    for name, sql in sorted(oracle.items()):
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        try:
            s = norm(con.execute(f"SELECT * FROM read_parquet({files!r})").df())
            o = norm(con.execute(sql).df())
            if list(s.columns) != list(o.columns):
                failures.append(f"{name}: columns {list(s.columns)} != {list(o.columns)}")
            elif len(s) != len(o):
                failures.append(f"{name}: {len(s)} rows, oracle {len(o)}")
            else:
                pd.testing.assert_frame_equal(s, o, check_dtype=False, check_exact=True)
        except AssertionError:
            failures.append(f"{name}: values differ from the oracle")
        except Exception as e:  # a query the oracle cannot run is a failure too
            failures.append(f"{name}: {type(e).__name__}: {str(e)[:200]}")
    return len(oracle), failures


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["cdc_trickle", "cdc_backlog", "query_suite"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    cp = build()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    work = os.path.join(WORK, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0, c0 = time.time(), cpu_times()
        rep = run_jvm(cp, args, work)
        c1 = cpu_times()
        host = ""
        if c0 and c1 and c1[2] > c0[2]:
            d = [b - a for a, b in zip(c0, c1)]
            host = f"; host cpu busy {d[0] / d[2]:.2f}, steal {d[1] / d[2]:.3f} of all cores"
        log(f"benchmark JVM took {time.time() - t0:.1f} s{host}")
        if args.workload == "query_suite":
            out_dir = os.path.join(work, "suite", "outputs")
            t0 = time.time()
            n, fails = oracle_check(out_dir, os.path.join(work, "suite", "data"))
            log(f"oracle check took {time.time() - t0:.1f} s")
            rep["checks"].append(f"duckdb_oracle ({n} queries)")
            rep["failures"] += [f"duckdb_oracle: {f}" for f in fails]
            rep["attempted"] += n
            rep["failed"] += len(fails)
            rep["named"]["fail_ratio"]["value"] = rep["failed"] / max(1, rep["attempted"])
    finally:
        shutil.rmtree(work, ignore_errors=True)

    # tracing overhead of the replication workloads: this traced run's
    # headline latency against the untraced runs recorded in this checkout
    # (the suite measures its own, pass against pass)
    history = os.path.join(WORK, "untraced.jsonl")
    p50 = rep["e2e"]["p50_ms"]["value"]
    if not args.trace:
        if not args.smoke:
            with open(history, "a") as f:
                f.write(json.dumps({"workload": args.workload, "p50_ms": p50}) + "\n")
    elif args.workload != "query_suite" and not args.smoke:
        base = []
        if os.path.exists(history):
            base = [json.loads(l)["p50_ms"] for l in open(history)
                    if json.loads(l)["workload"] == args.workload]
        if base:
            rep["layers"]["trace.overhead_ratio"] = {
                "value": p50 / statistics.median(base) - 1, "unit": "ratio"}
        else:
            rep["notes"].append("trace.overhead_ratio needs untraced runs of this workload in "
                                "this checkout; none recorded, reported as 0")

    correct = not rep["failures"]
    for c in rep["checks"]:
        print(f"check {c}")
    for f in rep["failures"]:
        print(f"FAILED {f}")
    for note in rep["notes"]:
        print(f"note {note}")
    for name, m in rep["named"].items():
        print(f"{args.workload} {name} {m['value']} {m['unit']}")
    key, source = ("per_layer", rep["layers"]) if args.trace else ("end_to_end", rep["e2e"])
    names = [m["name"] for m in bench[key]]
    unknown = [n for n in source if n not in names]
    if unknown:
        log(f"metrics the JVM reported are not in BENCHMARK.json {key}: {unknown}")
        sys.exit(6)
    if args.trace:
        # a layer the workload does not exercise reads 0
        for m in bench["per_layer"]:
            source.setdefault(m["name"], {"value": 0, "unit": m["unit"]})
    missing = [n for n in names if n not in source]
    if missing:
        log(f"metrics not measured: {missing}")
        sys.exit(6)
    metrics = {n: {"value": source[n]["value"], "unit": source[n]["unit"]} for n in names}
    for n in names:
        print(f"metric {n} {metrics[n]['value']} {metrics[n]['unit']}")
    print(json.dumps({"correct": correct, "attempted": rep["attempted"],
                      "failed": rep["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
