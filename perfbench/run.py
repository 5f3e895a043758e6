#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 5 --trace 0

Builds the engine and the load generator from source on first use
(sbt, offline), runs the workload in one JVM on local[nproc], checks the
outputs, and prints every metric by name with its unit. The last line of
standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 they
are the per-layer ones, from spans around each call into the engine's
modules and Spark's listeners. Exits 1 when a correctness check fails,
2 when the workload cannot run at all.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data", "sf0.1")
BUILD = os.path.join(HERE, ".build")
WORKLOADS = ["dashboard", "maintenance"]
# A run's hard limit: a run must end within 180 s.
RUN_LIMIT_S = 170

sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import stats  # noqa: E402

# The engine's build inputs and the benchmark's own.
SOURCES = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
           os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
           os.path.join(HERE, "project"), os.path.join(HERE, "src")]

ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def die(msg):
    """The workload cannot run: no result line, exit 2."""
    log(msg)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    for top in SOURCES:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, dirs, files in os.walk(top)
            for f in files if "target" not in os.path.relpath(d, top).split(os.sep))
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; return the classpath."""
    for top in SOURCES:
        if not os.path.exists(top):
            die(f"missing build input {os.path.relpath(top, ROOT)}: "
                "run from a full checkout")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and \
            open(stamp_file).read() == stamp:
        return open(cp_file).read()
    log("building the engine and the benchmark (sbt, offline)...")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS")
    if opts is None:
        # The toolchain's offline defaults: resolve only from the local
        # repository configuration and cache.
        opts = "-Dsbt.offline=true -Xmx2g"
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        if os.path.exists(repos):
            opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = f"{opts} -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        log(p.stdout[-4000:])
        die("build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def java(cp, args, work, timeout):
    """Run perfbench.Main in its own JVM; its output goes to a log file
    in `work`. Returns the exit code (None on timeout, after killing)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", *[x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")],
           # A fixed, pre-touched heap: the peak resident set then follows
           # off-heap memory, not when the collector chose to grow the
           # heap; heap_live_mb follows the heap's contents.
           "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Main", *args]
    with open(os.path.join(work, "jvm.log"), "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return None


def oracle_failures(results_dir):
    """Deck queries whose first result does not match the stored DuckDB
    digest (a missing result counts as a mismatch)."""
    import oracle
    want = json.load(open(oracle.ORACLE_FILE))
    bad = {}
    for name, w in want.items():
        path = os.path.join(results_dir, name)
        if not os.path.isdir(path):
            bad[name] = "no result"
            continue
        rows, cols, h = oracle.digest(oracle.read_result(path))
        if (rows, cols, h) != (w["rows"], w["columns"], w["sha256"]):
            bad[name] = f"rows {rows} vs oracle {w['rows']}, columns {cols}"
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--keep", action="store_true",
                    help="keep the run's work directory (JVM log, record with spans)")
    a = ap.parse_args()
    if not os.path.isdir(DATA):
        die(f"missing benchmark data {os.path.relpath(DATA, ROOT)}")
    started = time.monotonic()
    cp = build()

    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        record_file = os.path.join(work, "record.json")
        code = java(cp, [a.workload, str(a.seed), str(a.seconds), str(a.trace), DATA,
                         work, record_file],
                    work, timeout=max(30, RUN_LIMIT_S - (time.monotonic() - started)))
        if code != 0 or not os.path.exists(record_file):
            log(open(os.path.join(work, "jvm.log")).read()[-4000:])
            die(f"workload JVM failed (exit {code})")
        rec = json.load(open(record_file))
        ops, spans, jobs, stages, plans = stats.parse(rec)
        failures = [what for _, what in rec["failures"]]
        failed_ops = {o["id"] for o in ops if not o["ok"]}
        failed_ops |= {op for op, _ in rec["failures"]}
        if a.workload == "dashboard":
            for name, why in oracle_failures(os.path.join(work, "results")).items():
                failures.append(f"{name}: differs from the DuckDB oracle ({why})")
                failed_ops |= {o["id"] for o in ops if o["name"] == name}
        if not ops or "setup_s" not in rec["values"]:
            # The workload aborted: report it as a failed run.
            for f in failures + ["no op completed"]:
                print(f"CHECK FAILED: {f}")
            print(json.dumps({"correct": False, "attempted": max(1, len(ops)),
                              "failed": max(1, len(ops)), "metrics": {}}))
            sys.exit(1)

        if a.trace:
            metrics = stats.per_layer(rec, ops, spans, jobs, stages, plans)
            units = stats.LAYER_UNITS
        else:
            metrics = stats.end_to_end(rec, ops)
            units = stats.END_TO_END_UNITS
            durs = [(o["end"] - o["start"]) / 1e3 for o in ops]
            _, pct, n = stats.tail(durs)
            _, rpct, rn = stats.tail(rec["reads"])
            print(f"op_tail_s is p{pct:.1f} of {n} ops; read_tail_s is p{rpct:.1f} "
                  f"of {rn} reads")
        for f in failures:
            print(f"CHECK FAILED: {f}")
        for k, val in metrics.items():
            print(f"{k:28s} {val:14.6f} {units[k]}")
        if a.keep:
            log(f"kept {work}")
        attempted = len(ops)
        correct = not failures
        print(json.dumps({
            "correct": correct,
            "attempted": attempted,
            # A check of the final state, or of the warm-up, fails every op.
            "failed": attempted if -1 in failed_ops else len(failed_ops),
            "metrics": {k: {"value": val, "unit": units[k]} for k, val in metrics.items()},
        }))
        sys.exit(0 if correct else 1)
    finally:
        if not a.keep:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
