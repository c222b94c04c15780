"""Metrics from the harness's raw samples: percentiles, span self time,
job-to-module attribution and the metric lists BENCHMARK.json names.

End-to-end metrics are shared by every workload; each workload maps its
own operation onto them (see README.md): the operation is a daily batch
(daily_ingest), a curation tick (stream_curation) or a request
(serve_api). Per-layer metrics come from the traced window and are
normalised per operation, so a faster program that runs more operations
in the window does not read as doing more work.
"""

import json
import math
import re
import statistics

END_TO_END_UNITS = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "late_op_p50_ms": "ms",
    "read_p50_ms": "ms",
    "rows_per_s": "1/s",
    "stored_bytes_per_input_byte": "ratio",
    "retained_heap_mb": "MB",
    "op_success_ratio": "ratio",
}

MODULES = ["TableManifest", "MergeUpsert", "DimResolver", "IngestJob", "MetricsJob",
           "QueryLayer", "Lineage", "StreamCuration", "Dedup", "IncrementalDedup",
           "Similarity", "Sampling"]

# Spans whose mean wall time per call is reported; the operation spans
# also report self time and call count.
OP_SPANS = ["ingest.batch", "stream.tick"]
CALL_SPANS = ["pipeline.IngestJob.run", "pipeline.MetricsJob.runIncremental",
              "pipeline.QueryLayer.metricsCompareAt",
              "operators.TableManifest.compactManifested",
              "operators.TableManifest.vacuum",
              "streaming.StreamCuration.curateBatch",
              "streaming.StreamCuration.readCurated"]

PER_LAYER_UNITS = {}
for _name, _unit in [
        ("spark.jobs", "1/op"), ("spark.scheduler_wait_ms", "ms/op"),
        ("spark.driver_gap_ms", "ms/op"), ("spark.analysis_ms", "ms/op"),
        ("spark.optimizer_ms", "ms/op"), ("spark.planning_ms", "ms/op"),
        ("spark.tasks", "1/op"), ("spark.task_run_ms", "ms/op"),
        ("spark.task_cpu_ms", "ms/op"), ("spark.shuffle_bytes", "B/op"),
        ("spark.spill_bytes", "B/op"), ("spark.codegen_compiles", "1/op"),
        ("spark.codegen_compile_ms", "ms/op"), ("spark.gc_ms", "ms/op")]:
    PER_LAYER_UNITS[_name] = _unit
for _op in ["list", "status", "open", "create", "rename", "delete", "mkdirs"]:
    PER_LAYER_UNITS[f"fs.{_op}"] = "1/op"
PER_LAYER_UNITS["fs.bytes_read"] = "B/op"
PER_LAYER_UNITS["fs.bytes_written"] = "B/op"
for _m in MODULES + ["other"]:
    PER_LAYER_UNITS[f"jobs.{_m}"] = "1/op"
for _m in MODULES + ["other"]:
    PER_LAYER_UNITS[f"job_ms.{_m}"] = "ms/op"
for _s in OP_SPANS:
    PER_LAYER_UNITS[f"{_s}.ms"] = "ms"
    PER_LAYER_UNITS[f"{_s}.self_ms"] = "ms"
    PER_LAYER_UNITS[f"{_s}.calls"] = "count"
for _s in CALL_SPANS:
    PER_LAYER_UNITS[f"{_s}.ms"] = "ms"
PER_LAYER_UNITS.update({
    "operators.TableManifest.rows_written_per_row_ingested": "ratio",
    "operators.TableManifest.files_opened_per_live_file": "ratio",
    "operators.TableManifest.live_files": "count",
    "streaming.StreamCuration.rows_written_per_batch_row": "ratio",
    "streaming.StreamCuration.curated_live_files": "count",
    "trace.overhead.op_p50_ms": "ms",
    "trace.overhead.read_p50_ms": "ms",
})

TAIL_PERCENTILES = [50, 75, 90, 95, 99, 99.9]


# ---- percentiles ----

def _rank(p, n):
    """1-based nearest rank of percentile p among n samples."""
    return max(1, math.ceil(round(p * n / 100, 9)))


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    s = sorted(values)
    return s[_rank(p, len(s)) - 1]


def tail_percentile(n):
    """The highest reported percentile that leaves at least ten samples
    above its rank, or None when n is below 20."""
    best = None
    for p in TAIL_PERCENTILES:
        if n - _rank(p, n) >= 10:
            best = p
    return best


def median(values):
    return statistics.median(values) if values else float("nan")


# ---- intervals and spans ----

def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of `intervals`."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if b > lo and a < hi)
    total, cur_a, cur_b = 0, None, None
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
    """{span id: wall minus the part of its interval its children cover}.
    `spans` are (id, parent, op, name, start, end) tuples."""
    children = {}
    for s in spans:
        children.setdefault(s[1], []).append((s[4], s[5]))
    return {s[0]: (s[5] - s[4]) - covered(children.get(s[0], []), s[4], s[5])
            for s in spans}


# ---- job attribution ----

_FRAME = re.compile(r"graft\.(?:[a-z0-9_]+\.)*([A-Z][A-Za-z0-9_]*)")


def frame_module(frame):
    """Object name of a `graft.` stack frame: TableManifest for
    graft.operators.TableManifest$.$anonfun$load$1(TableManifest.scala:9)."""
    m = _FRAME.match(frame)
    return m.group(1) if m else None


def attribute(stage_frames, sql_frames, span):
    """The module a job is charged to: the innermost listed module on the
    job's own call site, else on the call site of the SQL execution that
    submitted it (AQE and broadcast jobs run from pool threads), else the
    module of the benchmark span that was open, else "other"."""
    for frames in (stage_frames, sql_frames):
        for f in frames:
            mod = frame_module(f)
            if mod in MODULES:
                return mod
    parts = span.split(".") if span else []
    if len(parts) >= 2 and parts[1] in MODULES:
        return parts[1]
    return "other"


# ---- end-to-end ----

def end_to_end(result, window, checked):
    ops = window["ops"]
    ok = [o for o in ops if o["kind"] != "error"]
    ms = [o["ms"] for o in ok]
    late = ms[len(ms) // 2:]
    reads = [o["read_ms"] for o in ok if o.get("read_ms") is not None]
    rows = sum(o["rows"] for o in ok)
    attempted = max(1, checked["attempted"])
    return {
        "setup_s": median(result["build_s"]) + result["warmup_s"],
        "op_p50_ms": median(ms),
        "late_op_p50_ms": median(late),
        "read_p50_ms": median(reads),
        "rows_per_s": rows / (sum(ms) / 1e3) if ms else 0.0,
        "stored_bytes_per_input_byte": result["stored_bytes"] / result["input_bytes"],
        "retained_heap_mb": result["heap_mb"],
        "op_success_ratio": 1 - checked["failed"] / attempted,
    }


def report_lines(workload, result, window, checked):
    """Each workload's own names for the end-to-end metrics (freshness,
    tick, API latency ...), with their sample counts."""
    e = end_to_end(result, window, checked)
    ok = [o for o in window["ops"] if o["kind"] != "error"]
    n = len(ok)
    fail = checked["failed"] / max(1, checked["attempted"])
    common = [f"setup_s {e['setup_s']:.3f} s (builds {result['build_s']}, "
              f"warm-up {result['warmup_s']:.3f} s)",
              f"op_failure_ratio {fail:.4f} ({checked['failed']}/{checked['attempted']})",
              f"retained_heap_mb {e['retained_heap_mb']:.1f} MB"]
    if workload == "serve_api":
        ms = [o["ms"] for o in ok]
        lines = [f"api_latency_p50_ms {median(ms):.2f} ms (n={n})"]
        p = tail_percentile(n)
        if p and p > 50:
            lines.append(f"api_latency_p{p:g}_ms {percentile(ms, p):.2f} ms "
                         f"(n={n}, {n - _rank(p, n)} beyond)")
        else:
            lines.append(f"api_latency_p90_ms n/a (n={n}: fewer than 10 samples "
                         "beyond any tail percentile)")
    elif workload == "daily_ingest":
        lines = [f"freshness_p50_s {e['op_p50_ms'] / 1e3:.3f} s (n={n})",
                 f"ingest_rows_per_s {e['rows_per_s']:.1f} 1/s",
                 f"stored_bytes_per_input_byte {e['stored_bytes_per_input_byte']:.3f}",
                 f"refresh_read_p50_ms {e['read_p50_ms']:.1f} ms (n={n})"]
    else:
        lines = [f"tick_p50_s {e['op_p50_ms'] / 1e3:.3f} s (n={n})",
                 f"late_tick_p50_s {e['late_op_p50_ms'] / 1e3:.3f} s "
                 f"(n={len(ok[len(ok) // 2:])})",
                 f"curated_read_p50_ms {e['read_p50_ms']:.1f} ms (n={n})",
                 f"stored_bytes_per_input_byte {e['stored_bytes_per_input_byte']:.3f}"]
    return [f"{workload} {x}" for x in lines + common]


# ---- per layer ----

def layer_summary(window):
    """Everything the traced window measured, before the fixed list is
    picked from it: per-span and per-module tables included."""
    ops = window["ops"]
    n = max(1, len(ops))
    spans = window["spans"]
    jobs = window["jobs"]
    c = window["counters"]
    out = {}

    job_iv = [(j["start_ms"] * 1000, j["end_ms"] * 1000) for j in jobs if j["end_ms"] >= 0]
    op_spans = [s for s in spans if s[1] == -1]
    gap = sum((s[5] - s[4]) - covered(job_iv, s[4], s[5]) for s in op_spans) / 1000
    wait = 0.0
    for j in jobs:
        if j["end_ms"] < 0:
            continue
        wait += (j["end_ms"] - j["start_ms"]) - covered(
            [tuple(t) for t in j["tasks"]], j["start_ms"], j["end_ms"])
    out.update({
        "spark.jobs": len(jobs) / n,
        "spark.scheduler_wait_ms": wait / n,
        "spark.driver_gap_ms": gap / n,
        "spark.analysis_ms": c["analysis_ms"] / n,
        "spark.optimizer_ms": c["optimizer_ms"] / n,
        "spark.planning_ms": c["planning_ms"] / n,
        "spark.tasks": c["tasks"] / n,
        "spark.task_run_ms": c["task_run_ms"] / n,
        "spark.task_cpu_ms": c["task_cpu_ns"] / 1e6 / n,
        "spark.shuffle_bytes": c["shuffle_bytes"] / n,
        "spark.spill_bytes": c["spill_bytes"] / n,
        "spark.codegen_compiles": window["layers"]["codegen_compiles"] / n,
        "spark.codegen_compile_ms": window["layers"]["codegen_compile_ms"] / n,
        "spark.gc_ms": window["layers"]["gc_ms"] / n,
    })
    for op, v in window["fs"].items():
        out[f"fs.{op}"] = v / n
    out["fs.bytes_read"] = window["layers"]["fs_bytes_read"] / n
    out["fs.bytes_written"] = window["layers"]["fs_bytes_written"] / n

    by_mod = {}
    for j in jobs:
        mod = attribute(j["stage_frames"], j["sql_frames"], j["span"])
        cnt, ms = by_mod.get(mod, (0, 0))
        dur = j["end_ms"] - j["start_ms"] if j["end_ms"] >= 0 else 0
        by_mod[mod] = (cnt + 1, ms + dur)
    for m in MODULES + ["other"]:
        cnt, ms = by_mod.get(m, (0, 0))
        out[f"jobs.{m}"] = cnt / n
        out[f"job_ms.{m}"] = ms / n

    selfs = self_times(spans)
    table = {}
    for s in spans:
        t = table.setdefault(s[3], {"calls": 0, "wall_ms": 0.0, "self_ms": 0.0})
        t["calls"] += 1
        t["wall_ms"] += (s[5] - s[4]) / 1000
        t["self_ms"] += selfs[s[0]] / 1000
    for name, t in table.items():
        out[f"{name}.ms"] = t["wall_ms"] / t["calls"]
        out[f"{name}.self_ms"] = t["self_ms"] / t["calls"]
        out[f"{name}.calls"] = t["calls"]
    return out, table, by_mod


def per_layer(result, traced, e2e_untraced, e2e_traced):
    """The fixed per-layer list; layers a workload does not exercise read 0."""
    measured, _, _ = layer_summary(traced)
    n = max(1, len(traced["ops"]))
    rows_in = sum(o["rows"] for o in traced["ops"])
    written = traced["counters"]["records_written"]
    ingest = result["workload"] == "daily_ingest"
    stream = result["workload"] == "stream_curation"
    live = result["live_files"].get("table", 0)
    measured.update({
        "operators.TableManifest.rows_written_per_row_ingested":
            written / rows_in if ingest and rows_in else 0.0,
        "operators.TableManifest.files_opened_per_live_file":
            measured.get("fs.open", 0.0) / live if live else 0.0,
        "operators.TableManifest.live_files": live,
        "streaming.StreamCuration.rows_written_per_batch_row":
            written / rows_in if stream and rows_in else 0.0,
        "streaming.StreamCuration.curated_live_files": result["live_files"].get("curated", 0),
        "trace.overhead.op_p50_ms": e2e_traced["op_p50_ms"] - e2e_untraced["op_p50_ms"],
        "trace.overhead.read_p50_ms":
            e2e_traced["read_p50_ms"] - e2e_untraced["read_p50_ms"],
    })
    return {k: measured.get(k, 0.0) for k in PER_LAYER_UNITS}


def write_trace_report(path, result, traced, layers):
    """The whole traced window in readable form: every span name with
    calls, mean wall and self time, jobs and job time per module, and the
    fixed per-layer list."""
    measured, table, by_mod = layer_summary(traced)
    report = {
        "workload": result["workload"],
        "fs_wrapped": result["fs_wrapped"],
        "ops": len(traced["ops"]),
        "per_layer": layers,
        "spans": {k: {"calls": v["calls"], "ms": v["wall_ms"] / v["calls"],
                      "self_ms": v["self_ms"] / v["calls"]}
                  for k, v in sorted(table.items())},
        "jobs_by_module": {k: {"jobs": v[0], "job_ms": v[1]}
                           for k, v in sorted(by_mod.items())},
    }
    with open(path, "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
