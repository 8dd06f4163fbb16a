"""Metric math for the graft benchmark: percentiles, interval unions,
span self time and driver gaps, and the per-layer table built from a
traced run's spans, jobs and micro-batch progress records."""
import math
import statistics


def percentile(xs, q):
    """The q-th percentile (0..100) by linear interpolation between
    closest ranks, as numpy's default does."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of an empty sample")
    pos = (len(s) - 1) * q / 100.0
    lo, hi = math.floor(pos), math.ceil(pos)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def samples_beyond(n, q):
    """How many of n samples lie strictly above the q-th percentile's
    rank."""
    return n - 1 - math.floor((n - 1) * q / 100.0)


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
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


def clipped(intervals, start, end):
    return [(max(s, start), min(e, end)) for s, e in intervals if e > start and s < end]


def self_time(span, children):
    """A span's duration minus the part of it its child spans cover."""
    return (span["end_ms"] - span["start_ms"]) - union_length(
        clipped([(c["start_ms"], c["end_ms"]) for c in children], span["start_ms"], span["end_ms"]))


def driver_gap(span, jobs):
    """The part of a span's interval that none of its jobs covers."""
    return (span["end_ms"] - span["start_ms"]) - union_length(
        clipped([(j["start_ms"], j["end_ms"]) for j in jobs], span["start_ms"], span["end_ms"]))


JOB_SPANS = [
    "session.warmup", "streaming.preload", "streaming.batch", "streaming.cdc_merge",
    "streaming.leaderboard_merge", "operators.enrich_sink", "operators.route_sink",
    "streaming.corpus_merge", "streaming.corpus_report",
]
PARENT_SPANS = ["streaming.batch"]
PROGRESS_SPANS = ["sources.get_batch", "streaming.trigger_overhead"]
ALL_SPANS = ["session.build"] + JOB_SPANS[:2] + PROGRESS_SPANS + JOB_SPANS[2:]
JOB_FIELDS = [("jobs", "count"), ("tasks", "count"), ("driver_gap_ms", "ms"), ("cpu_ms", "ms"),
              ("input_bytes", "bytes"), ("shuffle_bytes", "bytes"), ("output_bytes", "bytes")]
EXTRA = [
    ("streaming.cdc_merge.write_amplification", "ratio"),
    ("streaming.corpus_merge.read_amplification", "ratio"),
    ("streaming.state_bytes_end", "bytes"),
    ("streaming.state_files_end", "count"),
    ("jvm.gc_ms", "ms"),
    ("jvm.post_gc_heap_p90_mb", "MB"),
    ("sources.generator_lag_ms_p90", "ms"),
    ("sources.backlog_files_end", "count"),
    ("trace.overhead_pct", "%"),
]


def per_layer_names():
    """Every per-layer metric as (name, unit), in a fixed order."""
    out = []
    for s in ALL_SPANS:
        out.append((f"{s}.ms", "ms"))
        if s in PARENT_SPANS:
            out.append((f"{s}.self_ms", "ms"))
        if s in JOB_SPANS:
            out += [(f"{s}.{f}", u) for f, u in JOB_FIELDS]
    return out + EXTRA


SETUP_SPANS = ["session.build", "session.warmup", "streaming.preload"]


def span_table(spans, jobs, progress, window_start=float("-inf")):
    """Per span name: the median over its instances of duration, self
    time (parents), and of its subtree's job counts and job metrics.
    Set-up spans count whole; other spans count only when they start
    in the window and lie outside every set-up span. Micro-batch
    phases come from the progress records."""
    by_id = {s["id"]: s for s in spans}

    def in_setup(s):
        while s["parent"] in by_id:
            s = by_id[s["parent"]]
            if s["name"] in SETUP_SPANS:
                return True
        return False

    counted = [s for s in spans if s["name"] in SETUP_SPANS
               or (s["start_ms"] >= window_start and not in_setup(s))]
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)

    def subtree(sid):
        out, stack = [], [sid]
        while stack:
            cur = stack.pop()
            out.append(cur)
            stack += [c["id"] for c in children.get(cur, [])]
        return out

    jobs_by_span = {}
    for j in jobs:
        jobs_by_span.setdefault(j["span"], []).append(j)
    rows = {}
    for name in {s["name"] for s in counted}:
        inst = [s for s in counted if s["name"] == name]
        acc = {"ms": [s["end_ms"] - s["start_ms"] for s in inst]}
        if name in PARENT_SPANS:
            acc["self_ms"] = [self_time(s, children.get(s["id"], [])) for s in inst]
        if name in JOB_SPANS:
            for f, _ in JOB_FIELDS:
                acc[f] = []
            for s in inst:
                js = [j for sid in subtree(s["id"]) for j in jobs_by_span.get(sid, []) if j["end_ms"] >= 0]
                acc["jobs"].append(len(js))
                acc["driver_gap_ms"].append(driver_gap(s, js))
                for f in ("tasks", "cpu_ms", "input_bytes", "shuffle_bytes", "output_bytes"):
                    acc[f].append(sum(j[f] for j in js))
        rows[name] = {k: statistics.median(v) for k, v in acc.items()}
        rows[name]["n"] = len(inst)
        rows[name]["total"] = {k: sum(v) for k, v in acc.items()}
    phases = {"sources.get_batch": [], "streaming.trigger_overhead": []}
    for p in progress:
        d = p["duration_ms"]
        if "triggerExecution" in d and "addBatch" in d:
            phases["sources.get_batch"].append(d.get("latestOffset", 0) + d.get("getBatch", 0))
            phases["streaming.trigger_overhead"].append(d["triggerExecution"] - d["addBatch"])
    for name, xs in phases.items():
        if xs:
            rows[name] = {"ms": statistics.median(xs), "n": len(xs)}
    return rows


def site_table(spans, jobs):
    """Jobs per (span name, call site): count and summed job time,
    which splits a span's work by the engine line that launched it."""
    names = {s["id"]: s["name"] for s in spans}
    out = {}
    for j in jobs:
        if j["end_ms"] < 0:
            continue
        key = (names.get(j["span"], "(none)"), j["site"])
        n, ms = out.get(key, (0, 0.0))
        out[key] = (n + 1, ms + j["end_ms"] - j["start_ms"])
    return out
