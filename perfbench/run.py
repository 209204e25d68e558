#!/usr/bin/env python3
"""graft benchmark: two workloads against the compiled program.

    python3 perfbench/run.py --workload <curation_hll|stream_ingest>
                             --seed N --seconds S --trace 0|1

Builds the program once per checkout (see build.py), makes the workload's
inputs from the seed (gen.py) and their expected results (oracle.py), runs
one JVM with `local[N]` (see spark_threads; --cpus overrides it), checks the
outputs and prints one JSON line: end-to-end
metrics with --trace 0, per-layer metrics with --trace 1. A traced run also
writes its spans to .bench_build/perfbench/traces/.
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
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402
from stats import self_time  # noqa: E402

WORKLOADS = ("curation_hll", "stream_ingest")
QUERIES = {"curation_hll": metrics.QUERIES}
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
KEEP_DATA_SETS = 6
RUN_LIMIT_S = 170

def spark_threads(workload):
    """Spark's local[N] for a workload. curation_hll uses every core it may.
    stream_ingest uses at most two: its drains are bursts of small tasks, and
    with one task thread per core they wait on whichever core the JIT
    compiler, the GC or another tenant of the host holds. At local[4] on 4
    shared cores its drain wall spread 0.18 over five seeds, at local[2]
    0.09, and was faster too."""
    cores = len(os.sched_getaffinity(0))
    return min(2, cores) if workload == "stream_ingest" else cores


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def inputs(workload, seed):
    """The workload's tables and expected results, made once per seed."""
    h = hashlib.sha256()
    for p in [os.path.join(HERE, "gen.py")] + [
            os.path.join(HERE, "oracle", f"{q}.sql") for q in QUERIES[workload]]:
        with open(p, "rb") as f:
            h.update(f.read())
    base = os.path.join(OUT, "data")
    d = os.path.join(base, f"{workload}-{seed}-{h.hexdigest()[:12]}")
    if not os.path.isdir(d):
        tmp = f"{d}.tmp{os.getpid()}"
        gen.generate(tmp, workload, seed)
        want = oracle.expected(tmp, QUERIES[workload], gen.TABLES[workload])
        os.makedirs(os.path.join(tmp, "expected"))
        for name, table in want.items():
            oracle.pq.write_table(table, os.path.join(tmp, "expected", f"{name}.parquet"))
        os.replace(tmp, d)
    os.utime(d)
    # bound the disk the cache takes: keep the newest few seeds
    sets = sorted((os.path.join(base, x) for x in os.listdir(base)), key=os.path.getmtime)
    for old in sets[:-KEEP_DATA_SETS]:
        shutil.rmtree(old, ignore_errors=True)
    return d


def run_jvm(build_dir, classpath, args, data, work, deadline):
    cmd = build.java_cmd(build_dir, classpath, work) + ["perfbench.PerfBench",
        "--workload", args.workload, "--data", data, "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--seed", str(args.seed),
        "--out", os.path.join(work, "raw.json"), "--work", work,
        "--cpus", str(args.cpus)]
    os.makedirs(os.path.join(work, "tmp"))
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        try:
            rc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work,
                                timeout=max(10, deadline - time.time())).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    if rc != 0:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"JVM exited with {rc}")
    with open(os.path.join(work, "raw.json")) as f:
        return json.load(f)


def check_batch(raw, data, workload):
    """Names of queries whose reference result differs from DuckDB's."""
    bad = {}
    for q in QUERIES[workload]:
        got = oracle.read_result(os.path.join(raw["results_dir"], q))
        want = oracle.pq.read_table(os.path.join(data, "expected", f"{q}.parquet"))
        err = "no result" if got is None else oracle.compare(got, want)
        if err:
            bad[q] = err
    return bad


def write_trace(raw, path):
    """Spans with self time, Spark jobs as child spans, batch phases."""
    spans = raw.get("spans", [])
    jobs_of = metrics.jobs_by_span(raw)
    out = []
    for s in spans:
        kids = [(x["start_us"], x["end_us"]) for x in spans if x["parent"] == s["id"]]
        kids += [metrics.job_interval(j, s["end_us"]) for j in jobs_of.get(s["id"], [])]
        out.append({**s, "self_us": self_time(s["start_us"], s["end_us"], kids)})
    for parent, js in jobs_of.items():
        for j in js:
            out.append({"id": f"job-{j['id']}", "parent": parent, "name": "spark.job",
                        "start_us": j["start_us"], "end_us": j["end_us"]})
    batches = []
    if "rate_phase" in raw:
        for phase, progress in [("rate", raw["rate_phase"]["progress"])] + [
                (f"drain{i + 1}", d.get("progress", [])) for i, d in enumerate(raw["drains"])]:
            for p in map(json.loads, progress):
                batches.append({"phase": phase, "batch": p["batchId"], "rows": p["numInputRows"],
                                "duration_ms": p["durationMs"]})
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump({"workload": raw["workload"], "spans": out, "batches": batches}, f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int,
                    help="Spark local[N] threads (default: see spark_threads)")
    args = ap.parse_args()
    if args.cpus is None:
        args.cpus = spark_threads(args.workload)

    build_dir, classpath = build.build(ROOT)
    # the limit covers one run; a first run in a fresh checkout also builds
    deadline = time.time() + RUN_LIMIT_S
    data = inputs(args.workload, args.seed) if args.workload in QUERIES else ""
    work = os.path.join(OUT, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        raw = run_jvm(build_dir, classpath, args, data, work, deadline)
        if args.workload in QUERIES:
            bad = check_batch(raw, data, args.workload)
            attempted, failed, ok = metrics.batch_outcome(raw, bad)
            if not ok:
                fail(f"every operation failed: {bad}")
            values = (metrics.batch_per_layer(raw, ok) if args.trace
                      else metrics.batch_end_to_end(raw, ok))
            errors = [f"{r['op']} (pass {r['pass']}): {r['error'] or bad.get(r['op'])}"
                      for r in raw["ops"] if r["pass"] >= 0 and (not r["ok"] or r["op"] in bad)]
        else:
            attempted, failed = metrics.stream_outcome(raw)
            values = (metrics.stream_per_layer(raw) if args.trace
                      else metrics.stream_end_to_end(raw))
            errors = [o["error"] for o in [raw["rate_phase"]] + raw["drains"] if not o["ok"]]
        for e in sorted(set(errors)):
            print(f"perfbench: failed operation: {e}", file=sys.stderr)
        if args.trace:
            write_trace(raw, os.path.join(OUT, "traces", f"{args.workload}-seed{args.seed}.json"))
            units = metrics.PER_LAYER
            values = metrics.per_layer_with_zeros(values)
        else:
            units = metrics.END_TO_END
            missing = [k for k in units if k not in values]
            if missing:
                fail(f"no measurement for {missing}: every operation they need failed")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": True, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()}}))


if __name__ == "__main__":
    main()
