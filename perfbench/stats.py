"""Pure functions the benchmark's metrics are made of (tested in test_stats.py)."""
import math


def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p% of the
    values at or below it. No interpolation, so it is always a sample."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def offset_ranges(start, end):
    """Per stream, the (exclusive, inclusive] sequence range a micro-batch
    committed, from the start and end offsets in its progress event (e.g.
    {"s0": 41, "s1": 37}). The first batch has no start offset: its range
    starts before sequence 0."""
    start = start or {}
    return {s: (int(start.get(s, -1)), int(e)) for s, e in end.items()}


def union_length(intervals):
    """Length covered by the union of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(start, end, children):
    """A span's duration minus the part of it its children cover; children
    may overlap one another and reach outside the span."""
    clipped = [(max(s, start), min(e, end)) for s, e in children]
    return (end - start) - union_length(clipped)


def due_us(t0_us, rate, i):
    """When record i of an open-loop schedule at `rate` per second was due."""
    return t0_us + i * 1_000_000 / rate


def lateness_us(t0_us, rate, chunks):
    """Per record, how long after its due time the generator appended it.
    `chunks` are (first record, count, append time µs)."""
    out = []
    for first, count, at in chunks:
        out.extend(at - due_us(t0_us, rate, i) for i in range(first, first + count))
    return out


def record_latencies_ms(t0_us, rate, seqs, batches):
    """Latency of every record a batch committed: commit time minus due time.

    `seqs` maps each stream to the record index of each of its sequence
    numbers; `batches` are (commit time µs, {stream: (after, upto)}) pairs."""
    out = []
    for commit_us, ranges in batches:
        for stream, (after, upto) in ranges.items():
            for seq in range(after + 1, upto + 1):
                out.append((commit_us - due_us(t0_us, rate, seqs[stream][seq])) / 1000.0)
    return out


def parent_span(job_start, job_span, spans):
    """The span a Spark job belongs to: the one named by the job's local
    property when there is one, else the innermost span open at its start.
    `spans` are (id, start, end) triples."""
    if job_span:
        return job_span
    best = None
    for sid, s, e in spans:
        if s <= job_start <= e and (best is None or e - s < best[1]):
            best = (sid, e - s)
    return best[0] if best else 0
