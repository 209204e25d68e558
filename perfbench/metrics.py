"""Turns the JVM's measurement file into the benchmark's metrics.

Timing metrics leave failed operations out. Per-layer metrics of a layer a
workload does not exercise read 0."""
from datetime import datetime
import json
from statistics import median

import gen
from stats import (lateness_us, offset_ranges, parent_span, percentile,
                   record_latencies_ms, self_time, union_length)

QUERIES = ["q15_hll_users", "q32_hll_sketch_merge", "q51_dedup_clusters",
           "q92_dedup_keep_best", "q173_corpus_publish_provenance", "q113_bm25",
           "q176_indexed_retrieval_decon"]
OPS = QUERIES + ["hll_direct", "hll_merge"]
HLL_ROWS = 4_000_000

# input rows each operation reads (each table counted once per operation)
INPUT_ROWS = {"q15_hll_users": gen.N_EVENTS, "q32_hll_sketch_merge": gen.N_EVENTS,
              "hll_direct": HLL_ROWS, "hll_merge": HLL_ROWS,
              **{q: gen.N_DOCS for q in QUERIES[2:]}}

END_TO_END = {"setup_s": "s", "pass_s": "s", "user_cpu_s": "s", "latency_p50_ms": "ms",
              "latency_p90_ms": "ms", "drain_records_per_s": "records/s"}

PER_LAYER = {
    "core.prepare_s": "s",
    "queries.construct_s": "s", "queries.construct_jobs": "count",
    "queries.construct_job_s": "s", "queries.construct_gap_s": "s",
    "plans.plan_s": "s",
    "exec.exec_s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.job_s": "s", "exec.gap_s": "s", "exec.task_cpu_s": "s", "exec.task_gc_s": "s",
    "exec.input_rows": "count", "exec.shuffle_write_mb": "MB", "exec.spill_mb": "MB",
    "exec.peak_exec_mem_mb": "MB", "exec.result_rows": "count",
    "functions.hll_direct_s": "s", "functions.hll_merge_s": "s",
    "operators.pinned_peak_mb": "MB", "operators.pins_created": "count",
    "operators.pins_left": "count",
    **{f"op.{o}.{m}": "s" for o in OPS for m in ("wall_s", "construct_s", "exec_s")},
    "jvm.gc_ms": "ms", "jvm.jit_ms": "ms", "jvm.process_cpu_s": "s",
    "sources.read_ms": "ms", "sources.rows_fetched": "count",
    "sources.rows_in_batch": "count", "sources.read_useful_ratio": "ratio",
    "sinks.add_batch_ms": "ms", "sinks.promote_ms": "ms", "sinks.output_rows": "count",
    "streaming.batches": "count", "streaming.rows_per_batch": "count",
    "streaming.trigger_ms": "ms", "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms", "streaming.commit_offsets_ms": "ms",
    "streaming.state_rows": "count", "streaming.state_commit_ms": "ms",
    "drain.batches": "count", "drain.add_batch_ms": "ms", "drain.trigger_ms": "ms",
    "drain.read_useful_ratio": "ratio",
    "generator.late_ms_max": "ms",
}

MB = 1024.0 * 1024.0


def _setup_s(raw):
    return (raw["first_timed_us"] - raw["jvm_start_us"]) / 1e6


# ---------------------------------------------------------------- batch

def batch_outcome(raw, bad_ops):
    """(attempted, failed, ok records) over the timed passes; `bad_ops` are
    operations whose reference result failed its DuckDB check."""
    timed = [r for r in raw["ops"] if r["pass"] >= 0]
    ok = [r for r in timed if r["ok"] and r["op"] not in bad_ops]
    return len(timed), len(timed) - len(ok), ok


def _by_pass(ok):
    passes = {}
    for r in ok:
        passes.setdefault(r["pass"], []).append(r)
    return [passes[k] for k in sorted(passes)]


def batch_end_to_end(raw, ok):
    """A batch workload's one kind of request is the pass: its latency
    percentiles are taken over pass walls, and its record rate is the rows
    a pass reads per second of pass wall."""
    passes = _by_pass(ok)
    walls = [sum(r["wall_us"] for r in p) / 1e6 for p in passes]
    pass_s = median(walls)
    rows = median([sum(INPUT_ROWS[r["op"]] for r in p) for p in passes])
    return {
        "setup_s": _setup_s(raw),
        "pass_s": pass_s,
        "user_cpu_s": median([sum(r["user_cpu_ns"] for r in p) / 1e9 for p in passes]),
        "latency_p50_ms": percentile(walls, 50) * 1000.0,
        "latency_p90_ms": percentile(walls, 90) * 1000.0,
        "drain_records_per_s": rows / pass_s,
    }


def jobs_by_span(raw):
    """Spark jobs grouped under the span each belongs to."""
    spans = [(s["id"], s["start_us"], s["end_us"]) for s in raw.get("spans", [])]
    out = {}
    for j in raw.get("jobs", []):
        out.setdefault(parent_span(j["start_us"], j["span"], spans), []).append(j)
    return out


def _stage_totals(jobs, stages):
    ids = {sid for j in jobs for sid in j["stages"]}
    picked = [s for s in stages if s["id"] in ids]
    return {
        "exec.stages": len(picked),
        "exec.tasks": sum(s["tasks"] for s in picked),
        "exec.task_cpu_s": sum(s["cpu_ns"] for s in picked) / 1e9,
        "exec.task_gc_s": sum(s["gc_ms"] for s in picked) / 1000.0,
        "exec.input_rows": sum(s["input_rows"] for s in picked),
        "exec.shuffle_write_mb": sum(s["shuffle_write_bytes"] for s in picked) / MB,
        "exec.spill_mb": sum(s["spill_bytes"] for s in picked) / MB,
        "exec.peak_exec_mem_mb": max([s["peak_exec_mem"] for s in picked], default=0) / MB,
    }


def job_interval(j, fallback_end):
    """A job's (start, end); a job still open ends at `fallback_end`."""
    return (j["start_us"], j["end_us"] if j["end_us"] >= 0 else fallback_end)


def batch_per_layer(raw, ok):
    spans = raw.get("spans", [])
    jobs_of = jobs_by_span(raw)
    per_pass = []
    for p in _by_pass(ok):
        t = {k: 0.0 for k in ("core.prepare_s", "queries.construct_s", "queries.construct_jobs",
                              "queries.construct_job_s", "queries.construct_gap_s",
                              "plans.plan_s", "exec.exec_s", "exec.jobs", "exec.job_s",
                              "exec.gap_s", "exec.result_rows")}
        pass_jobs = []
        for r in p:
            inside = [s for s in spans if r["start_us"] <= s["start_us"] <= r["end_us"]]
            for s in inside:
                dur = (s["end_us"] - s["start_us"]) / 1e6
                kids = jobs_of.get(s["id"], [])
                pass_jobs += kids
                cover = [job_interval(j, s["end_us"]) for j in kids]
                gap = self_time(s["start_us"], s["end_us"], cover) / 1e6
                if s["name"] == "core.prepare":
                    t["core.prepare_s"] += dur
                elif s["name"] == "queries.construct":
                    t["queries.construct_s"] += dur
                    t["queries.construct_jobs"] += len(kids)
                    t["queries.construct_gap_s"] += gap
                    t["queries.construct_job_s"] += dur - gap
                elif s["name"] == "plans.plan":
                    t["plans.plan_s"] += dur
                elif s["name"] == "exec.collect":
                    t["exec.exec_s"] += dur
                    t["exec.jobs"] += len(kids)
                    t["exec.gap_s"] += gap
                    t["exec.job_s"] += dur - gap
            t["exec.result_rows"] += r["rows"]
        t.update(_stage_totals(pass_jobs, raw.get("stages", [])))
        t["operators.pinned_peak_mb"] = max(r["storage_peak_bytes"] for r in p) / MB
        info = next(x for x in raw["passes"] if x["pass"] == p[0]["pass"])
        t["operators.pins_created"] = sum(
            1 for c in raw.get("cached_rdds", []) if info["start_us"] <= c["start_us"] <= info["end_us"])
        t["operators.pins_left"] = info["pins_left"]
        t["jvm.gc_ms"] = info["gc_ms"]
        t["jvm.jit_ms"] = info["jit_ms"]
        t["jvm.process_cpu_s"] = info["process_cpu_ns"] / 1e9
        per_pass.append(t)
    out = {k: median([t[k] for t in per_pass]) for k in per_pass[0]}
    for name in OPS:
        rs = [r for r in ok if r["op"] == name]
        if rs:
            out[f"op.{name}.wall_s"] = median([r["wall_us"] / 1e6 for r in rs])
            out[f"op.{name}.construct_s"] = median(
                [(r["prepare_us"] + r["construct_us"]) / 1e6 for r in rs])
            out[f"op.{name}.exec_s"] = median([r["exec_us"] / 1e6 for r in rs])
    out["functions.hll_direct_s"] = out.get("op.hll_direct.wall_s", 0.0)
    out["functions.hll_merge_s"] = out.get("op.hll_merge.wall_s", 0.0)
    return out


# ---------------------------------------------------------------- stream

def _progress(raw_list):
    return [json.loads(p) for p in raw_list]


def _commit_us(p):
    ts = datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    epoch = (ts - datetime(1970, 1, 1)).total_seconds()
    return round(epoch * 1e6) + p["durationMs"]["triggerExecution"] * 1000


def _data_batches(progress):
    return [p for p in progress if p["numInputRows"] > 0]


def stream_outcome(raw):
    ops = [raw["rate_phase"]] + raw["drains"]
    return len(ops), sum(1 for o in ops if not o["ok"])


def stream_latencies_ms(raw):
    g = raw["generator"]
    seqs = {s: g["seqs"][i] for i, s in enumerate(["s0", "s1"])}
    batches = [(_commit_us(p), offset_ranges(p["sources"][0]["startOffset"],
                                             p["sources"][0]["endOffset"]))
               for p in _progress(raw["rate_phase"]["progress"])]
    return record_latencies_ms(g["t0_us"], g["rate"], seqs, batches)


def stream_end_to_end(raw):
    rate = raw["rate_phase"]
    drains = [d for d in raw["drains"] if d["ok"]]
    wall_s = median([d["wall_us"] / 1e6 for d in drains])
    out = {"setup_s": _setup_s(raw), "pass_s": wall_s,
           "user_cpu_s": rate["user_cpu_ns"] / 1e9,
           "drain_records_per_s": drains[0]["records"] / wall_s}
    if rate["ok"]:
        lat = stream_latencies_ms(raw)
        out["latency_p50_ms"] = percentile(lat, 50)
        out["latency_p90_ms"] = percentile(lat, 90)
    return out


def _phase(progress, key):
    return [p["durationMs"].get(key, 0) for p in progress]


def stream_per_layer(raw):
    rate = raw["rate_phase"]
    drains = [d for d in raw["drains"] if d["ok"]]
    rp = _data_batches(_progress(rate["progress"]))
    dps = [_data_batches(_progress(d["progress"])) for d in drains]
    dp = [p for ps in dps for p in ps]
    fetched = rate["client"][2] + sum(d["client"][2] for d in drains)
    admitted = sum(p["numInputRows"] for p in rp + dp)
    drain_fetched = sum(d["client"][2] for d in drains)
    state = [p["stateOperators"][0] for p in rp if p.get("stateOperators")]
    g = raw["generator"]
    out = {
        "sources.read_ms": (rate["client"][0] + sum(d["client"][0] for d in drains)) / 1e6,
        "sources.rows_fetched": fetched,
        "sources.rows_in_batch": admitted,
        "sources.read_useful_ratio": admitted / fetched if fetched else 0.0,
        "sinks.add_batch_ms": median(_phase(rp, "addBatch")),
        "sinks.promote_ms": rate["client"][3] / 1e6 / len(rp),
        "sinks.output_rows": sum(p["sink"].get("numOutputRows", 0) for p in rp),
        "streaming.batches": len(rp),
        "streaming.rows_per_batch": median([p["numInputRows"] for p in rp]),
        "streaming.trigger_ms": median(_phase(rp, "triggerExecution")),
        "streaming.query_planning_ms": median(_phase(rp, "queryPlanning")),
        "streaming.wal_commit_ms": median(_phase(rp, "walCommit")),
        "streaming.commit_offsets_ms": median(_phase(rp, "commitOffsets")),
        "streaming.state_rows": median([s["numRowsTotal"] for s in state]) if state else 0,
        "streaming.state_commit_ms": median([s["commitTimeMs"] for s in state]) if state else 0,
        "drain.batches": median([len(ps) for ps in dps]),
        "drain.add_batch_ms": median(_phase(dp, "addBatch")),
        "drain.trigger_ms": median(_phase(dp, "triggerExecution")),
        "drain.read_useful_ratio":
            sum(p["numInputRows"] for p in dp) / drain_fetched if drain_fetched else 0.0,
        "generator.late_ms_max": max(lateness_us(g["t0_us"], g["rate"], g["chunks"])) / 1000.0,
        "jvm.gc_ms": rate["gc_ms"], "jvm.jit_ms": rate["jit_ms"],
        "jvm.process_cpu_s": rate["process_cpu_ns"] / 1e9,
    }
    # the Spark jobs of the fixed-rate phase stand for the exec layer here
    window = (rate["start_us"], rate["end_us"])
    jobs = [j for j in raw.get("jobs", []) if window[0] <= j["start_us"] <= window[1]]
    cover = [job_interval(j, window[1]) for j in jobs]
    out.update(_stage_totals(jobs, raw.get("stages", [])))
    out["exec.jobs"] = len(jobs)
    out["exec.exec_s"] = (window[1] - window[0]) / 1e6
    out["exec.job_s"] = union_length(cover) / 1e6
    out["exec.gap_s"] = out["exec.exec_s"] - out["exec.job_s"]
    return out


def per_layer_with_zeros(values):
    """Every per-layer metric, 0 for the layers this workload leaves alone."""
    return {k: values.get(k, 0) for k in PER_LAYER}
