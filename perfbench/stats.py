"""The benchmark's arithmetic: percentiles, time-window attribution,
span self time, and the end-to-end and per-layer metrics built from one
run's record (the JSON perfbench.Main writes).

Times in a record are epoch milliseconds.
"""
import bisect
import statistics


def tail(values):
    """The highest percentile that has at least ten samples beyond it.

    Returns (value, percentile, samples). With n samples that is the
    (n-10)-th smallest, the (100 * (n-10) / n)-th percentile. Below 20
    samples that percentile would fall under the median, and the median
    stands in for it.
    """
    n = len(values)
    s = sorted(values)
    if n < 20:
        return statistics.median(s), 50.0, n
    return s[n - 11], 100.0 * (n - 10) / n, n


def locate(windows, t):
    """Index of the window (start, end), sorted by start and disjoint,
    that holds time t; None when t falls outside every window."""
    i = bisect.bisect_right([w[0] for w in windows], t) - 1
    if i >= 0 and windows[i][0] <= t <= windows[i][1]:
        return i
    return None


def union_length(intervals, lo, hi):
    """Length of the union of intervals, clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans):
    """Self time of each span: its duration minus the part of it that its
    child spans cover. spans: dicts with id, start, end, parent."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"]) -
            union_length(children.get(s["id"], []), s["start"], s["end"])
            for s in spans}


# ---- metrics from one run's record ----

END_TO_END_UNITS = {
    "setup_s": "s", "ops_per_s": "ops/s", "op_p50_s": "s", "op_tail_s": "s",
    "records_per_s": "rec/s", "read_p50_s": "s", "read_tail_s": "s",
    "stored_mb": "MB", "peak_rss_mb": "MB", "heap_live_mb": "MB",
}

# Per-layer metric -> unit. Time metrics are span self time per op.
LAYER_UNITS = {
    "queries.build_s": "s",
    "plans.plan_s": "s", "plans.plan_frac": "ratio",
    "spark.jobs_per_op": "count", "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count", "spark.driver_only_s": "s",
    "spark.task_wait_s": "s", "spark.exec_run_s": "s", "spark.exec_cpu_s": "s",
    "spark.slot_util": "ratio", "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB", "spark.input_mb": "MB", "spark.output_mb": "MB",
    "api.search_s": "s", "api.lookup_s": "s", "api.fallback_frac": "ratio",
    "sources.snapshot_s": "s", "sources.lookup_s": "s",
    "sources.commits_per_op": "count", "sources.live_files": "count",
    "sources.write_amp": "ratio",
    "operators.dedup_append_s": "s", "operators.dedup_erase_s": "s",
    "operators.dedup_optimize_s": "s",
    "operators.pq_append_s": "s", "operators.pq_delete_s": "s",
    "operators.pq_search_s": "s", "operators.pq_compact_s": "s",
    "operators.pq_optimize_s": "s", "operators.pq_recall_at_10": "ratio",
    "streaming.apply_batch_s": "s", "streaming.compact_s": "s",
    "streaming.read_s": "s", "streaming.dup_drop_frac": "ratio",
    "trace.ops_per_s": "ops/s",
}
LAYERS = ["queries", "plans", "spark", "api", "sources", "operators", "streaming"]
for _layer in LAYERS:
    LAYER_UNITS[f"{_layer}.calls"] = "count"
    LAYER_UNITS[f"{_layer}.calls_failed"] = "count"

MB = 1024.0 * 1024.0


def parse(rec):
    """Turn the record's positional arrays into dicts."""
    ops = [dict(zip(("id", "kind", "name", "start", "end", "ok", "records"), o))
           for o in rec["ops"]]
    spans = [dict(zip(("id", "name", "start", "end", "parent", "op", "ok"), s))
             for s in rec["spans"]]
    jobs = [dict(zip(("id", "start", "end", "ok"), j)) for j in rec["jobs"]]
    stages = [dict(zip(("id", "submit", "end", "tasks", "run_ms", "cpu_ns",
                        "wait_ms", "shuffle_write", "spill", "input", "output"), s))
              for s in rec["stages"]]
    plans = [dict(zip(("start", "plan_ms", "ok"), p)) for p in rec["plans"]]
    return ops, spans, jobs, stages, plans


def records_rate(ops):
    """Records moved per second of the ops that moved any: the rate of
    the record-moving work alone, apart from the ops that move none."""
    moving = [o for o in ops if o["records"] > 0]
    busy_s = sum(o["end"] - o["start"] for o in moving) / 1e3
    return sum(o["records"] for o in moving) / busy_s if busy_s else 0.0


def end_to_end(rec, ops):
    """End-to-end metrics (name -> value) of an untraced run."""
    v = rec["values"]
    window_s = (rec["measure_end"] - rec["measure_start"]) / 1e3
    durs = [(o["end"] - o["start"]) / 1e3 for o in ops]
    reads = [r / 1e3 for r in rec["reads"]] or [0.0]   # none only if the run failed
    return {
        "setup_s": v["setup_s"],
        "ops_per_s": len(ops) / window_s,
        "op_p50_s": statistics.median(durs),
        "op_tail_s": tail(durs)[0],
        "records_per_s": records_rate(ops),
        "read_p50_s": statistics.median(reads),
        "read_tail_s": tail(reads)[0],
        "stored_mb": v["stored_bytes"] / MB,
        "peak_rss_mb": v["peak_rss_mb"],
        "heap_live_mb": v["heap_live_mb"],
    }


def per_layer(rec, ops, spans, jobs, stages, plans):
    """Per-layer metrics (name -> value) of a traced run; every name in
    LAYER_UNITS, zero where the workload does not reach the layer."""
    v = rec["values"]
    n = max(1, len(ops))
    windows = [(o["start"], o["end"]) for o in ops]
    wall_s = sum(b - a for a, b in windows) / 1e3
    m = dict.fromkeys(LAYER_UNITS, 0.0)

    selfs = self_times(spans)
    for s in spans:
        if s["op"] < 0:
            continue
        layer, fn = s["name"].split(".", 1)
        key = f"{layer}.{fn}_s"
        if key in m:
            m[key] += selfs[s["id"]] / 1e3 / n
        m[f"{layer}.calls"] += 1
        m[f"{layer}.calls_failed"] += 0 if s["ok"] else 1

    in_op = [p for p in plans if locate(windows, p["start"]) is not None]
    plan_s = sum(p["plan_ms"] for p in in_op) / 1e3
    m["plans.plan_s"] = plan_s / n
    m["plans.plan_frac"] = plan_s / wall_s if wall_s else 0.0
    m["plans.calls"] = len(in_op)
    m["plans.calls_failed"] = sum(1 for p in in_op if not p["ok"])

    op_jobs = {}
    for j in jobs:
        i = locate(windows, j["start"])
        if i is not None:
            op_jobs.setdefault(i, []).append(j)
    njobs = sum(len(js) for js in op_jobs.values())
    m["spark.jobs_per_op"] = njobs / n
    m["spark.calls"] = njobs
    m["spark.calls_failed"] = sum(1 for js in op_jobs.values() for j in js if not j["ok"])
    m["spark.driver_only_s"] = sum(
        (b - a) - union_length([(j["start"], j["end"]) for j in op_jobs.get(i, [])], a, b)
        for i, (a, b) in enumerate(windows)) / 1e3 / n

    st = [s for s in stages if locate(windows, s["submit"]) is not None]
    run_s = sum(s["run_ms"] for s in st) / 1e3
    m["spark.stages_per_op"] = len(st) / n
    m["spark.tasks_per_op"] = sum(s["tasks"] for s in st) / n
    m["spark.task_wait_s"] = sum(s["wait_ms"] for s in st) / 1e3 / n
    m["spark.exec_run_s"] = run_s / n
    m["spark.exec_cpu_s"] = sum(s["cpu_ns"] for s in st) / 1e9 / n
    m["spark.slot_util"] = run_s / (wall_s * v["slots"]) if wall_s else 0.0
    m["spark.shuffle_write_mb"] = sum(s["shuffle_write"] for s in st) / MB / n
    m["spark.spill_mb"] = sum(s["spill"] for s in st) / MB / n
    m["spark.input_mb"] = sum(s["input"] for s in st) / MB / n
    output = sum(s["output"] for s in st)
    m["spark.output_mb"] = output / MB / n

    lookups = v.get("lookups", 0.0)
    m["api.fallback_frac"] = v.get("fallbacks", 0.0) / lookups if lookups else 0.0
    m["sources.commits_per_op"] = v.get("commits", 0.0) / n
    m["sources.live_files"] = v.get("live_files", 0.0)
    user = v.get("user_bytes", 0.0)
    m["sources.write_amp"] = output / user if user else 0.0
    m["operators.pq_recall_at_10"] = v.get("recall_at_10", 0.0)
    m["streaming.dup_drop_frac"] = v.get("dup_drop_frac", 0.0)
    window_s = (rec["measure_end"] - rec["measure_start"]) / 1e3
    m["trace.ops_per_s"] = len(ops) / window_s
    return m
