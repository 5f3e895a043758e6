#!/usr/bin/env python3
"""Steadiness check: run workloads over several seeds and report, per
metric, the median, the quartiles and their spread ((q3 - q1) / median)
against the bound BENCHMARK.json fixes.

    python3 perfbench/steady.py --workload dashboard --seeds 1-10
    python3 perfbench/steady.py --workload maintenance --seeds 7,7 --trace 1

With --trace 1 it also reports which per-layer counts repeat exactly
across the runs (meaningful when the seeds are equal). With --out, the
runs and the summary are written as JSON.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
COUNTS = ["spark.jobs_per_op", "spark.stages_per_op", "sources.commits_per_op"]


def seeds(spec):
    if "-" in spec:
        a, b = spec.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(s) for s in spec.split(",")]


def run_once(workload, seed, seconds, trace):
    t0 = time.monotonic()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    wall = time.monotonic() - t0
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
    try:
        res = json.loads(last)
    except ValueError:
        res = {}
    return {"seed": seed, "trace": trace, "exit": p.returncode, "wall_s": wall, "result": res,
            "log": p.stdout.strip().splitlines()[:-1] + p.stderr.strip().splitlines()[-5:]}


def summarize(runs, bounds):
    names = sorted({k for r in runs for k in r["result"].get("metrics", {})})
    out = {}
    for k in names:
        vals = [r["result"]["metrics"][k]["value"] for r in runs
                if k in r["result"].get("metrics", {})]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (vals[0],) * 3
        out[k] = {"median": med, "q1": q1, "q3": q3,
                  "spread": (q3 - q1) / med if med else 0.0,
                  "bound": bounds.get(k), "values": vals}
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--out")
    a = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    seconds = a.seconds or bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report = {}
    for w in a.workload:
        runs = []
        for s in seeds(a.seeds):
            r = run_once(w, s, seconds, a.trace)
            res = r["result"]
            print(f"{w} seed {s}: exit {r['exit']} correct {res.get('correct')} "
                  f"attempted {res.get('attempted')} failed {res.get('failed')} "
                  f"wall {r['wall_s']:.1f} s", flush=True)
            runs.append(r)
        summary = summarize(runs, bounds)
        print(f"\n{w}: {len(runs)} runs, wall median "
              f"{statistics.median(r['wall_s'] for r in runs):.1f} s")
        print(f"{'metric':28s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>7s} {'bound':>6s}")
        for k, m in summary.items():
            b = "" if m["bound"] is None else f"{m['bound']:.2f}"
            print(f"{k:28s} {m['median']:12.5g} {m['q1']:12.5g} {m['q3']:12.5g} "
                  f"{m['spread']:7.3f} {b:>6s}")
        if a.trace:
            for k in COUNTS:
                vals = summary.get(k, {}).get("values", [])
                print(f"{k}: {'repeats exactly' if len(set(vals)) == 1 else 'VARIES'} {vals}")
        report[w] = {"runs": runs, "summary": summary}
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"seconds": seconds, "trace": a.trace, "workloads": report}, f, indent=1)


if __name__ == "__main__":
    main()
