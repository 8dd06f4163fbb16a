#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first run builds the
harness together with the engine sources into .bench_build/ (see
graftbench/build.py); later runs reuse that build while no source
changed. A run generates its inputs from the seed, starts one
JVM that sets up, runs the workload's loop for a ramp and then for the
--seconds window, and writes its outputs; it then checks those outputs
in DuckDB and prints one JSON line as the last line of stdout:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones of
a traced run, whose spans, jobs and micro-batch records are kept in
.bench_build/graftbench/traces/. Traffic properties, sample counts and
the per-call-site job split go to stderr. Unit checks of the metric
math:

    python3 -m unittest discover -s graftbench -p 'test_*.py'

Workloads (each one's rationale sits with its definition in
graftbench/src/main/scala/graftbench/):
  engagement_live  open loop at a fixed offered rate: CDC merge, enrichment,
                   leaderboard and routing per micro-batch
  corpus_ingest    closed-loop drain of document batches through the
                   training-data gate, then its report

End-to-end metrics (tracing off), per workload:
  latency_p50_ms, latency_p90_ms
      engagement_live: per file, from its scheduled due time to the end
      of the fan-out of the micro-batch that consumed it.
      corpus_ingest: per batch, from its arrival to the end of its merge.
  throughput_per_s
      engagement_live: the rate the fan-out could sustain, the median
      over the micro-batches started in the window of events per second
      of fan-out.
      corpus_ingest: documents per second of the window's batches plus
      the final report.
  setup_s       median over the set-ups of session build plus warm-up,
                plus the state pre-load; input generation is excluded.
  peak_heap_mb  heap live after a full GC, the larger of after set-up
                and after the loop (ramp, window and the outputs of the
                check). The occupancy after the loop's own young
                collections is the per-layer jvm.post_gc_heap_p90_mb:
                it also counts what a micro-batch holds while it runs,
                but G1 leaves a run-dependent amount of garbage in the
                old generation, so it varies too much between runs to
                gate on.
"""
import argparse
from collections import Counter
import glob
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

# Each loop runs this long before the window opens, while the batch
# time of a fresh JVM is still settling: some six micro-batches of the
# engagement fan-out, some five merges of the corpus gate.
RAMP_S = {"engagement_live": 15.0, "corpus_ingest": 10.0}
# Input sizes per workload (see gen.py). engagement_live offers 9 files
# of 40 events a second, so a 12 s window holds 108 file samples; its
# 2.5 s trigger (EngagementLive.TriggerMs) gathers about 22 files into
# a batch whose fan-out takes about 1.4 s on three task slots, so the
# rate is sustainable.
ENGAGEMENT = dict(n_keys=20_000, n_customers=16_000, events_per_file=40)
ENGAGEMENT_FILES_PER_S = 9.0
# the pre-loaded index holds several times the documents a run ingests
# (under 25 batches of 50), so the per-batch index re-read shows
CORPUS = dict(preload_docs=10_000, batch_docs=50)
# corpus_ingest takes about one batch a second; staging up to three a
# second keeps the closed loop from running dry on a faster engine
CORPUS_MAX_BATCHES_PER_S = 3

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def fail(msg):
    log(f"graftbench: {msg}")
    sys.exit(2)


def heap_size():
    """Half the machine's memory in whole GiB, clamped to 2..8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def generate(workload, seed, seconds, inp):
    """Write the workload's inputs and its schedule.json: when the
    window opens and closes, in ms after the loop starts, and for
    engagement_live each staged file's due time on the same clock."""
    ramp = RAMP_S[workload]
    schedule = {"window_start_ms": ramp * 1000, "window_end_ms": (ramp + seconds) * 1000}
    if workload == "engagement_live":
        files = int(round(ENGAGEMENT_FILES_PER_S * (ramp + seconds)))
        props = gen.gen_engagement(seed, inp, files=files, **ENGAGEMENT)
        schedule["due_ms"] = [i * 1000 / ENGAGEMENT_FILES_PER_S for i in range(files)]
    else:
        batches = int(CORPUS_MAX_BATCHES_PER_S * (ramp + seconds)) + 1
        props = gen.gen_corpus(seed, inp, batches=batches, **CORPUS)
    with open(f"{inp}/schedule.json", "w") as f:
        json.dump(schedule, f)
    return props


def run_jvm(java, cp, work, workload, trace, timeout):
    opts = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = ([java] + opts + [
        f"-Xmx{heap_size()}", "-XX:ReservedCodeCacheSize=1g", "-XX:-UsePerfData",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={work}/tmp", "-cp", cp, "graftbench.Harness", workload, work, str(trace)])
    os.makedirs(f"{work}/tmp", exist_ok=True)
    # Spark's scratch space, inside the checkout whatever the caller set;
    # the driver binds to the loopback interface
    env = dict(os.environ, SPARK_LOCAL_DIRS=f"{work}/spark-local")
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    env.setdefault("SPARK_LOCAL_HOSTNAME", "localhost")
    with open(f"{work}/jvm.log", "w") as logf:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            # also on SIGTERM (raised as SystemExit below): never leave the JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0:
        with open(f"{work}/jvm.log") as f:
            tail = f.read()[-4000:]
        log(tail)
        fail(f"harness exited with {rc}")
    with open(f"{work}/result.json") as f:
        return json.load(f)


def file_batches(checkpoint):
    """file name -> micro-batch id, from the file source's metadata log
    (compacted and delta files both carry the batch id per entry)."""
    out = {}
    for p in glob.glob(f"{checkpoint}/sources/0/*"):
        with open(p) as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = e["batchId"]
    return out


def overhead_pct(batches, t0):
    """Tracing overhead from a traced run, whose batches alternate
    traced and untraced: the median traced batch of the window over
    the median untraced one, as a percentage. An untraced batch opens
    no span and runs with the job listener detached; only the
    micro-batch progress listener (one record per batch) stays on."""
    batches = [b for b in batches if b["start_ms"] >= t0]
    on = [b["end_ms"] - b["start_ms"] for b in batches if b["traced"]]
    off = [b["end_ms"] - b["start_ms"] for b in batches if not b["traced"]]
    return (statistics.median(on) / statistics.median(off) - 1) * 100 if on and off else 0.0


def engagement(res, work, props):
    raw = res["raw"]
    where = file_batches(raw["checkpoint"])
    ends = {b["batch"]: b["end_ms"] for b in raw["batches"]}
    files = raw["files"]
    window = [f for f in files if raw["t0_ms"] <= f["due_ms"] < raw["window_end_ms"]]
    lat = [ends[where[f["name"]]] - f["due_ms"] for f in window]
    bytes_in = {}
    for f in files:
        bytes_in[where[f["name"]]] = bytes_in.get(where[f["name"]], 0) + f["bytes"]
    incoming = os.path.join(os.path.dirname(raw["checkpoint"]), "incoming")
    consumed = ([f"{work}/input/primer.parquet"]
                + [os.path.join(incoming, f["name"]) for f in files])
    errors = checks.check_engagement(work, consumed)
    # the open loop's throughput is its offered rate; what it could
    # sustain is the events a window batch took per second of fan-out
    in_window = [b for b in raw["batches"] if raw["t0_ms"] <= b["start_ms"] < raw["window_end_ms"]]
    files_in = Counter(where[f["name"]] for f in files)
    rates = [props["events_per_file"] * files_in[b["batch"]] * 1000 / (b["end_ms"] - b["start_ms"])
             for b in in_window]
    e2e = {"latency": lat, "throughput_per_s": statistics.median(rates)}
    backlog = sum(1 for f in window if ends[where[f["name"]]] > raw["window_end_ms"])
    per_batch = statistics.median(files_in[b["batch"]] for b in in_window)
    props["state_rows_per_batch_row"] = props["keys"] / (per_batch * props["events_per_file"])
    measured = [b for b in raw["batches"] if b["batch"] in bytes_in]
    layer = {
        "sources.generator_lag_ms_p90": metrics.percentile([f["moved_ms"] - f["due_ms"] for f in files], 90),
        "sources.backlog_files_end": backlog,
        "trace.overhead_pct": overhead_pct(measured, raw["t0_ms"]),
        # the batches whose spans the per-layer table counts
        "_traced_bytes_in": sum(bytes_in[b["batch"]] for b in measured
                                if b["traced"] and b["start_ms"] >= raw["t0_ms"]),
    }
    return e2e, layer, len(measured), errors


def corpus(res, work, props):
    raw = res["raw"]
    # batch k >= 1 consumed the k-th placed file (one file in flight)
    pairs = list(zip([b for b in raw["batches"] if b["batch"] > 0], raw["placed"]))
    measured = [(b, p) for b, p in pairs if p["placed_ms"] >= raw["t0_ms"]]
    lat = [b["end_ms"] - p["placed_ms"] for b, p in measured]
    incoming = os.path.join(os.path.dirname(raw["checkpoint"]), "incoming")
    consumed = ([f"{work}/input/preload.parquet"]
                + [os.path.join(incoming, n) for n in sorted(os.listdir(incoming))])
    errors = checks.check_corpus(work, consumed)
    docs = len(measured) * props["batch_docs"]
    drain_s = (measured[-1][0]["end_ms"] - measured[0][1]["placed_ms"]) / 1000
    e2e = {"latency": lat, "throughput_per_s": docs / (drain_s + raw["report_ms"] / 1000)}
    layer = {
        "trace.overhead_pct": overhead_pct([b for b, _ in pairs], raw["t0_ms"]),
        "_traced_bytes_in": sum(p["bytes"] for b, p in pairs
                                if b["traced"] and b["start_ms"] >= raw["t0_ms"]),
    }
    return e2e, layer, len(pairs), errors


def per_layer(res, layer):
    tr = res["trace"]
    raw = res["raw"]
    progress = [p for p in tr["progress"] if p["query"] == raw.get("query_id") and p["start_ms"] >= raw["t0_ms"]]
    rows = metrics.span_table(tr["spans"], tr["jobs"], progress, window_start=raw["t0_ms"])
    for (span, site), (n, ms) in sorted(metrics.site_table(tr["spans"], tr["jobs"]).items()):
        log(f"  jobs {span:28s} {n:5d} jobs {ms:10.1f} ms  {' '.join(site.split())}")
    vals = {}
    for name, _ in metrics.per_layer_names():
        span, _, field = name.rpartition(".")
        if field in rows.get(span, {}):
            vals[name] = rows[span][field]
    # bytes the merges wrote or read per byte of batch input, over the
    # traced batches of the window
    bytes_in = layer.pop("_traced_bytes_in", 0)
    for name, span, field in [("streaming.cdc_merge.write_amplification", "streaming.cdc_merge", "output_bytes"),
                              ("streaming.corpus_merge.read_amplification", "streaming.corpus_merge", "input_bytes")]:
        if span in rows and bytes_in:
            vals[name] = rows[span]["total"][field] / bytes_in
    vals["streaming.state_bytes_end"] = raw.get("state_bytes_end", 0)
    vals["streaming.state_files_end"] = raw.get("state_files_end", 0)
    vals["jvm.gc_ms"] = res["gc_ms"]
    post_gc = res["post_gc_heap_mb"]
    log(f"graftbench: {len(post_gc)} collections in the loop; p90 has "
        f"{metrics.samples_beyond(len(post_gc), 90)} beyond it")
    if post_gc:
        vals["jvm.post_gc_heap_p90_mb"] = metrics.percentile(post_gc, 90)
    vals.update(layer)
    # a layer the workload does not run reports 0
    return {n: {"value": vals.get(n, 0), "unit": u} for n, u in metrics.per_layer_names()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["engagement_live", "corpus_ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the root of a graft checkout (no src/main/scala/graft here)")
    out = os.path.join(root, ".bench_build", "graftbench")
    try:
        cp = build.build(root, out, log=log)
        java = build.java()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        fail(str(e))
    work = os.path.join(out, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        props = generate(a.workload, a.seed, a.seconds, f"{work}/input")
        # the whole run must end within 180 s of its start, build aside
        res = run_jvm(java, cp, work, a.workload, a.trace, timeout=150)
        log("graftbench: set-ups (ms) " + json.dumps(res["setups"]))
        measure = engagement if a.workload == "engagement_live" else corpus
        e2e, layer, attempted, errors = measure(res, work, props)
        # the checks cover the state every batch wrote: a mismatch fails them all
        failed = attempted if errors else 0
        log(f"graftbench: traffic properties {json.dumps(props)}")
        for e in errors:
            log(f"graftbench: CHECK FAILED {e}")
        lat = e2e.pop("latency")
        log(f"graftbench: {len(lat)} latency samples; p90 has "
            f"{metrics.samples_beyond(len(lat), 90)} beyond it; failed_ops_ratio {failed / attempted:.4f}")
        if a.trace:
            m = per_layer(res, layer)
            traces = os.path.join(out, "traces")
            os.makedirs(traces, exist_ok=True)
            with open(os.path.join(traces, f"{a.workload}-{a.seed}.json"), "w") as f:
                json.dump(res["trace"], f)
        else:
            setup_s = (statistics.median(s["build_ms"] + s["warmup_ms"] for s in res["setups"])
                       + res["setups"][-1]["preload_ms"]) / 1000
            m = {
                "latency_p50_ms": {"value": metrics.percentile(lat, 50), "unit": "ms"},
                "latency_p90_ms": {"value": metrics.percentile(lat, 90), "unit": "ms"},
                "throughput_per_s": {"value": e2e["throughput_per_s"], "unit": "1/s"},
                "setup_s": {"value": setup_s, "unit": "s"},
                "peak_heap_mb": {"value": res["peak_heap_mb"], "unit": "MB"},
            }
        print(json.dumps({"correct": not errors, "attempted": attempted, "failed": failed, "metrics": m}))
        sys.exit(1 if errors else 0)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
