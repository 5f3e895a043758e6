#!/usr/bin/env python3
"""Scale-factor sweep: run graft.Bench at sf0.001/0.01/0.1 and check
that per-query time grows at most ~linearly with data size.

Data grows 10x between adjacent SFs, so a query whose cost is linear in
input should grow by <= ~10x (usually far less: fixed per-query overhead
-- session dispatch, planning, small-table scans -- dominates at small
SFs). A super-linear outlier (ratio >> 10x on the 0.01 -> 0.1 step,
where overhead no longer masks asymptotics) is a scale bug: a quadratic
join, a driver collect growing with data, a plan that loses pushdown at
size.

Exemptions (documented, not silenced): iterative graph queries
(BFS shortest paths, connected-component folds) legitimately grow
super-linearly on this synthetic data because the graph DIAMETER and
component sizes grow with SF -- more label-propagation / frontier
iterations per run, each a full pass. Their per-iteration cost is
linear; the iteration count is data-shaped. They are listed in the
report with their ratios, just not failed on.

Usage: python3 tools/sweep.py [outfile]
Writes a JSON artifact (default SWEEP.json) and exits non-zero if any
non-exempt query exceeds the threshold on the 0.01 -> 0.1 step.
"""
import json
import os
import subprocess
import sys

SFS = ["sf0.001", "sf0.01", "sf0.1"]
TESTDATA = "/root/testdata"
# 10x data growth, 3x slack for host noise + plan shifts (AQE picks
# different plans per SF; identical suites have swung 2x on this host).
THRESHOLD = 30.0
# Overhead-dominated queries: below this absolute time at the larger SF,
# ratios measure fixed costs, not asymptotics.
MIN_SECONDS = 1.5
# Same gate for the per-query trace spans (bench.json `phases`): a phase
# is delta-bounded when its sf0.01 -> sf0.1 growth stays within the
# delta's own 10x growth (plus the same 3x host-noise slack as the query
# gate); tiny phases are commit/scheduler floor, not asymptotics.
PHASE_THRESHOLD = 30.0
PHASE_MIN_SECONDS = 1.0
# Lifecycle queries whose decomposition the phase gate relies on: each
# must carry phases at every SF, or the gate would pass vacuously.
PHASED_QUERIES = (
    "q_dedup_incremental",
    "q_dedup_index_append",
    "q_dedup_erase_append",
    "q_dedup_readmit",
    "q_dedup_readmit_optimized",
    "q_dedup_optimize_full",
    "q_embed_ivfpq_retrain",
)
EXEMPT_PREFIXES = (
    "q_graph_shortest_path",   # bounded-depth BFS: frontier iterations grow with diameter
    "q_dedup_components",      # min-label propagation: iterations grow with component size
    "q_embed_dedup_groups",    # same CC fold on the embedding near-dup graph
    "q_dedup_incremental",     # lifecycle: build+append, CC fold dominates at small SF
    "q_dedup_index_append",    # append fold includes the CC re-propagation
    "q_dedup_erase_append",    # same lifecycle + erasure commits; phases stay gated
    "q_dedup_readmit",         # erase + collision-fold re-admission + delta: two appends' CC folds
)
# Deliberately NOT exempt, despite non-monotonic profiles (e.g.
# q_dedup_optimize_full read 5.9/17.7/14.0 s across the three SFs in
# r16): the deep-OPTIMIZE tiers (q_dedup_optimize_full,
# q_embed_ivfpq_retrain) are dominated by fixed lifecycle overhead
# (restore + erase + delta replay per rep), so the bound holds with
# slack — and keeping them bound-checked is the point, since the deep
# tier is the one corpus-shaped job per family and an accidental
# super-linear regression inside it should flag here, not hide behind
# an exemption.


def run_bench(sf: str) -> dict:
    env = dict(os.environ)
    env["SPARK_GRAFT_SF_DIR"] = f"{TESTDATA}/{sf}"
    env["SPARK_GRAFT_BENCH_REPS"] = "1"
    env.setdefault("SPARK_GRAFT_CPUS", "8")
    # Explicit full-line output path: the committed bench.json is guarded
    # against low-rep overwrites, so reading it here would silently feed
    # the sweep a STALE artifact three times (all ratios 1.0 — a vacuous
    # pass). The env-named file is written unconditionally by Bench.
    out = f"/tmp/graft_sweep_bench_{sf}.json"
    if os.path.exists(out):
        os.remove(out)
    env["SPARK_GRAFT_BENCH_OUT"] = out
    subprocess.run(
        ["sbt", "-batch", "runMain graft.Bench"],
        cwd="/root/repo", env=env, check=True,
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    with open(out) as f:  # missing file = loud failure, never stale data
        return json.load(f)


def main() -> int:
    out = sys.argv[1] if len(sys.argv) > 1 else "SWEEP.json"
    runs = {}
    for sf in SFS:
        print(f"== bench {sf}", flush=True)
        runs[sf] = run_bench(sf)
        if runs[sf].get("error_count"):
            print(f"bench errors at {sf}: {runs[sf]['errors']}")
            return 2
    queries = sorted(runs[SFS[0]]["queries"])
    report, failures = {}, []
    for q in queries:
        t = [runs[sf]["queries"].get(q) for sf in SFS]
        if any(x is None for x in t):
            failures.append((q, "missing at some SF"))
            continue
        r01 = t[1] / t[0] if t[0] > 0 else float("inf")
        r12 = t[2] / t[1] if t[1] > 0 else float("inf")
        exempt = q.startswith(EXEMPT_PREFIXES)
        flagged = (not exempt and t[2] >= MIN_SECONDS and r12 > THRESHOLD)
        report[q] = {
            "sec": dict(zip(SFS, [round(x, 3) for x in t])),
            "ratio_001_to_01": round(r01, 2),
            "ratio_01_to_1": round(r12, 2),
            "exempt": exempt,
            "flagged": flagged,
        }
        if flagged:
            failures.append((q, f"{r12:.1f}x on 10x data"))
    # Gate the per-phase decomposition, not just the query totals: the
    # lifecycle queries are EXEMPT from the query gate (CC-fold iteration
    # counts are data-shaped), so a corpus-proportional regression inside
    # one append phase would otherwise be data in a JSON nobody reads.
    # Each phase must grow no faster than the delta itself (10x data per
    # SF step, same 3x slack) once it is past the fixed commit floor.
    phase_flags = []
    for q in PHASED_QUERIES:
        for sf in SFS:
            if not runs[sf].get("phases", {}).get(q):
                failures.append((q, f"no phases at {sf}"))
    lo_sf, hi_sf = SFS[1], SFS[2]
    for q, ph_hi in runs[hi_sf].get("phases", {}).items():
        ph_lo = runs[lo_sf].get("phases", {}).get(q, {})
        for p, sec_hi in ph_hi.items():
            sec_lo = ph_lo.get(p)
            if sec_lo is None or sec_hi < PHASE_MIN_SECONDS:
                continue
            ratio = sec_hi / sec_lo if sec_lo > 0 else float("inf")
            if ratio > PHASE_THRESHOLD:
                phase_flags.append(
                    f"{q}/{p}: {ratio:.1f}x on 10x data "
                    f"({sec_lo:.2f}s -> {sec_hi:.2f}s)")
    for f in phase_flags:
        failures.append((f.split(":")[0], "phase " + f.split(": ", 1)[1]))
    artifact = {
        "threshold": THRESHOLD,
        "min_seconds": MIN_SECONDS,
        "phase_threshold": PHASE_THRESHOLD,
        "phase_min_seconds": PHASE_MIN_SECONDS,
        "phase_flags": phase_flags,
        "exempt_prefixes": list(EXEMPT_PREFIXES),
        "totals_sec": {sf: round(runs[sf]["value"], 1) for sf in SFS},
        "queries": report,
        "failures": [f"{q}: {why}" for q, why in failures],
        # Per-query trace spans at each SF (bench.json `phases`): the
        # exempt lifecycle queries' flat job-and-commit floor vs
        # delta-proportional phases, machine-recorded instead of
        # hand-argued. A phase growing ~linearly with SF here is the
        # data-driven work; one that stays flat is per-append overhead.
        "append_phases": {
            sf: {q: {p: round(s, 3) for p, s in ph.items()}
                 for q, ph in runs[sf].get("phases", {}).items()}
            for sf in SFS
        },
    }
    with open(out, "w") as f:
        json.dump(artifact, f, indent=1, sort_keys=True)
    print(f"totals: {artifact['totals_sec']}")
    for q, why in failures:
        print(f"FAIL {q}: {why}")
    failed = {q for q, _ in failures}
    print(f"== {len(queries) - len(failed)}/{len(queries)} within linear-growth bound ==")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
