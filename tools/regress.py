#!/usr/bin/env python3
"""Paired bench regression verdicts with per-query noise floors.

Usage: regress.py --paired <BENCH_AB.json>

--paired reads a tools/abbench.py record (two builds alternated
query-by-query in one host window) and issues per-query verdicts with
PAIRED floors: host noise cancels out of each ratio by construction, so
the floors are the measured INTRA-JVM spread (GC, AQE wobble).

  - FLAG        ratio beyond the query's floor AND the delta is material
                -> adjudicate by re-running abbench on the flagged queries
  - watch       beyond the floor but immaterial in seconds — ignored
                individually; many of them promote to a run-level DRIFT
  - within      inside the floor -> known machine noise, no action
  - improved    beyond the floor in the GOOD direction (informational)
  - noise-abs   both runs under the absolute floor where scheduling
                overhead dominates any ratio

Exit 1 when anything needs adjudication (FLAG rows, a flagged TOTAL,
DRIFT, or a query that errored), 2 when the record's own CPU or
page-supply canary is contaminated, 0 otherwise.

Floors are MEASURED, not aspirational: add a query here only with an
adjudication trail (SCALE.md) showing the variance is machine-state, not
plan-state.
"""
import json, sys

ABS_NOISE_S = 0.30     # both-run seconds below which ratios are scheduling noise
CANARY_BAD = 0.50      # canary seconds beyond this = contaminated run
MEM_CANARY_BAD = 1.0   # first-touch of 512 MiB fresh pages (min of 3);
                       # measured band on this box in the r15 window:
                       # 0.25-0.27 s (~2 GB/s). The r15 sf10 refresh found
                       # warm identical queries swinging 27->78 s with every
                       # other gate green while the host's page-supply path
                       # crawled; the gate catches an order-of-magnitude
                       # collapse, not the ambient speed


# Paired-mode floors, MEASURED on the r15 engine-identical calibration
# run (BENCH_AB_d6aad67_vs_b463c1b.json: HEAD vs the r14 tag with the
# batch query surface unchanged — every ratio there is pure noise).
# What pairing cancels is the HOST band (cross-round totals 1.19-1.23 on
# identical code collapsed to median 0.994 / total 0.97); what remains
# is PER-JVM noise — each serve JVM keeps its JIT/heap-layout character
# for the whole run, so queries with a wide inter-JVM band still swing
# (q18_large_orders hit 0.57x on identical code; the floors below are
# that run's observed |log-ratio| extremes with ~15% margin, symmetric).
# A paired FLAG is adjudicated by re-running abbench on the flagged
# queries — NOT by isolated single-build re-runs (those reintroduce the
# host band this mode exists to cancel).
# Floors are keyed by SF CLASS since r16 (VERDICT r15 #2): the per-JVM
# lottery widens with data scale (sf10 drew q1=0.45x on identical engine
# code under the sf0.1 floors — 2 false FLAGs burned an adjudication in
# r15), so each scale gets floors measured on an engine-identical
# calibration run AT that scale. sf0.1: BENCH_AB_d6aad67_vs_b463c1b.json
# (130 queries). sf10: the r16 engine-identical calibration run plus the
# r15 records (BENCH_AB_sf10_r15_vs_r13tag + _adjudication).
PAIRED_FLOOR = {"sf0.1": 1.25, "sf10": 1.40}
PAIRED_FLOORS = {
  "sf0.1": {
    # historic inter-JVM wide pair (min-of-3 in Bench for the same reason)
    "dedup_minhash_pairs": 1.45,
    "envelope_debezium": 1.45,
    # r15 calibration extremes (both directions count: the band is
    # symmetric, an 0.57 'improvement' on identical code is a 1.75 band)
    "q18_large_orders": 1.80,
    "q14_pivot": 1.70,
    "dedup_incremental_bloom": 1.65,
    "dedup_embedding_lsh": 1.65,
    "q22_idle_customers": 1.60,
    "dedup_paragraph": 1.45,
    "engine_collapsing": 1.40,
    "t6_normalize": 1.40,
    "ann_ivfpq_topk": 1.40,
  },
  # sf10 per-query entries are populated from the r16 calibration run
  # (see SCALE.md round-16 calibration row); until a query has a
  # measured sf10 band it gets the sf10 default above.
  "sf10": {},
}
PAIRED_MATERIAL_S = 0.25
# at sf10 a 0.25 s delta is scheduling noise on multi-second queries —
# material scales with the per-query magnitudes observed at that sf
PAIRED_MATERIAL_S_BY_SF = {"sf0.1": 0.25, "sf10": 0.60}
PAIRED_TOTAL_FLOOR = 1.05


def sf_class(sf_path):
    """Map a record's sf dir path to a floors key (basename match)."""
    base = str(sf_path).rstrip("/").rsplit("/", 1)[-1]
    return base if base in PAIRED_FLOORS else None


def paired(path):
    with open(path) as f:
        rec = json.load(f)
    if rec.get("mode") != "paired":
        raise SystemExit(f"{path}: not an abbench paired record")
    qs = rec["queries"]
    if not qs:
        raise SystemExit(f"{path}: no paired queries (all errored?)")
    # contamination gate on the record's own probes (r16, VERDICT r15 #4):
    # pairing cancels the HOST band out of each ratio, but a collapsed
    # page-supply path perturbs the two JVMs asymmetrically (first-touch
    # cost lands on whichever side allocates), so a mem-canary-tripped
    # paired record is not verdict evidence either. CPU canary likewise.
    canary = rec.get("canary") or {}
    tripped = []
    for k, v in sorted(canary.items()):
        if v is None:
            continue
        if k.endswith("_mem"):
            if v > MEM_CANARY_BAD:
                tripped.append(f"{k}={v:.3f}s > {MEM_CANARY_BAD}s (page supply)")
            elif v < 0:
                print(f"ADVISORY: {k}=-1 (mem probe FAILED on that side — "
                      f"not gated, but the page-supply evidence is missing)")
        elif v > CANARY_BAD:
            tripped.append(f"{k}={v:.3f}s > {CANARY_BAD}s (CPU canary)")
    if tripped:
        for msg in tripped:
            print(f"CONTAMINATED: {msg}")
        print("— paired record is not verdict evidence; re-run abbench")
        sys.exit(2)
    sfk = sf_class(rec.get("sf", ""))
    floors = PAIRED_FLOORS.get(sfk, PAIRED_FLOORS["sf0.1"])
    default_floor = PAIRED_FLOOR.get(sfk, PAIRED_FLOOR["sf0.1"])
    material = PAIRED_MATERIAL_S_BY_SF.get(sfk, PAIRED_MATERIAL_S)
    flags, watch, within, improved, noise = [], [], [], [], []
    rows = []
    for q, r in qs.items():
        o, n = r["old_s"], r["new_s"]
        ratio = n / o if o > 0 else float("inf")
        floor = floors.get(q, default_floor)
        if o < ABS_NOISE_S and n < ABS_NOISE_S:
            verdict, bucket = "noise-abs", noise
        elif ratio > floor and (n - o) >= material:
            verdict, bucket = "FLAG", flags
        elif ratio > floor:
            verdict, bucket = "watch", watch
        elif ratio < 1.0 / floor:
            verdict, bucket = "improved", improved
        else:
            verdict, bucket = "within", within
        bucket.append(q)
        rows.append((ratio, q, o, n, floor, verdict))
    print(f"paired: new={rec['new_commit']} old={rec['old_commit']} "
          f"sf={rec['sf']} passes={rec['passes']} "
          f"median_ratio={rec.get('median_ratio')}")
    if sfk is None:
        # no calibration run exists at this record's scale — verdicts
        # under borrowed floors are advisory only
        print("NOTE: no paired floors calibrated for this record's "
              f"sf={rec.get('sf')} (falling back to sf0.1 floors) — "
              "per-query verdicts are advisory, adjudicate FLAGs with a "
              "fresh-pair re-run and read the median/total first")
    print(f"{'query':<34}{'old_s':>9}{'new_s':>9}{'ratio':>8}{'floor':>7}  verdict")
    for ratio, q, o, n, floor, verdict in sorted(rows, reverse=True):
        print(f"{q:<34}{o:>9.3f}{n:>9.3f}{ratio:>8.2f}{floor:>7.2f}  {verdict}")
    to, tn = rec["total_old_s"], rec["total_new_s"]
    tr = tn / to if to else float("inf")
    tv = ("FLAG" if tr > PAIRED_TOTAL_FLOOR
          else ("improved" if tr < 1 / PAIRED_TOTAL_FLOOR else "within"))
    print(f"\n{'TOTAL(paired)':<34}{to:>9.2f}{tn:>9.2f}"
          f"{tr:>8.2f}{PAIRED_TOTAL_FLOOR:>7.2f}  {tv}")
    if rec.get("errors"):
        print(f"ERRORED queries (not compared): {sorted(rec['errors'])}")
    # many small beyond-floor wobbles in ONE direction = drift even when no
    # single query is material — promote to a run-level flag
    drift = len(watch) > max(3, len(qs) // 8)
    print(f"\nflag={len(flags)} watch={len(watch)} within={len(within)} "
          f"improved={len(improved)} noise-abs={len(noise)}" +
          (" DRIFT" if drift else ""))
    if rec.get("errors"):
        print("a query that errors on either side is a correctness signal, "
              "not a bench signal — fix before comparing")
        sys.exit(1)
    if flags or tv == "FLAG" or drift:
        print("adjudicate by re-running abbench.py --queries "
              + ",".join(flags or watch)
              + "  (isolated single-build re-runs reintroduce the host band)")
        sys.exit(1)
    print("paired: no regressions beyond intra-JVM floors")


def main():
    if len(sys.argv) != 3 or sys.argv[1] != "--paired":
        raise SystemExit(__doc__)
    paired(sys.argv[2])


if __name__ == "__main__":
    main()
