#!/usr/bin/env python3
"""Smoke test of the benchmark at tiny scale (sf0.001 inputs, every suite
query). For each workload, untraced and traced, it checks that the run
exits 0, that the correctness checks ran and passed, that every
workload metric is printed by name with its unit, and that the final JSON
line carries every BENCHMARK.json metric of the mode.

Run from the repository root (ten to fifteen minutes; the first run builds):

    python3 perfbench/test_smoke.py
"""
import json
import os
import re
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))

# the workload metrics each workload prints, as "<workload> <name> <value> <unit>"
NAMED = {
    "cdc_trickle": ["setup_s", "lag_p50_ms", ("lag_p99_ms", "lag_p90_ms"), "read_p50_ms",
                    "read_p90_ms", "generator_late_max_ms", "fail_ratio", "peak_rss_mb"],
    "cdc_backlog": ["setup_s", "bootstrap_s", "drain_events_per_s", "batch_p50_ms", "batch_p90_ms",
                    "fail_ratio", "peak_rss_mb"],
    "query_suite": ["setup_s", "suite_s", "query_p50_ms", "query_p90_ms", "best_p50_ms",
                    "best_pass_s", "fail_ratio", "peak_rss_mb"],
}
CHECKS = {
    "cdc_trickle": ["final_state.orders", "final_state.lineitem", "final_state.customer",
                    "every_event_applied", "generator_on_schedule", "replica_reads"],
    "cdc_backlog": ["final_state.orders", "final_state.lineitem", "final_state.customer",
                    "every_event_applied"],
    "query_suite": ["warm_pass_runs", "timed_passes_run", "duckdb_oracle"],
}
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def run(workload, trace):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", "7", "--seconds", "8", "--trace", str(trace), "--smoke", "1"],
                       cwd=ROOT, capture_output=True, text=True, timeout=900)
    return p.returncode, p.stdout.splitlines(), p.stderr


class Smoke(unittest.TestCase):
    def check_run(self, workload, trace):
        rc, lines, err = run(workload, trace)
        self.assertEqual(rc, 0, err[-3000:])
        result = json.loads(lines[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"], [l for l in lines if l.startswith("FAILED")])
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertEqual(result["failed"], 0)

        checks = [l[len("check "):] for l in lines if l.startswith("check ")]
        for c in CHECKS[workload] + (["trace_selftime_adds_up"] if trace else []):
            self.assertTrue(any(x.startswith(c) for x in checks), f"check {c} did not run")

        printed = {}
        for l in lines:
            parts = l.split()
            if len(parts) == 4 and parts[0] == workload:
                printed[parts[1]] = parts[3]
        for name in NAMED[workload]:
            names = name if isinstance(name, tuple) else (name,)
            found = [n for n in names if n in printed]
            self.assertTrue(found, f"{workload}: {names} not printed")
            self.assertRegex(printed[found[0]], UNIT)

        key = "per_layer" if trace else "end_to_end"
        for m in BENCH[key]:
            got = result["metrics"].get(m["name"])
            self.assertIsNotNone(got, f"{m['name']} missing")
            self.assertEqual(got["unit"], m["unit"])
            self.assertIsInstance(got["value"], (int, float))
            self.assertIn(f"metric {m['name']} ", "\n".join(lines))
        if not trace:
            for m in BENCH["end_to_end"]:
                self.assertGreater(result["metrics"][m["name"]]["value"], 0, m["name"])

    def test_cdc_trickle(self):
        self.check_run("cdc_trickle", 0)

    def test_cdc_trickle_traced(self):
        self.check_run("cdc_trickle", 1)

    def test_cdc_backlog(self):
        self.check_run("cdc_backlog", 0)

    def test_cdc_backlog_traced(self):
        self.check_run("cdc_backlog", 1)

    def test_query_suite(self):
        self.check_run("query_suite", 0)

    def test_query_suite_traced(self):
        self.check_run("query_suite", 1)


if __name__ == "__main__":
    unittest.main(verbosity=2)
