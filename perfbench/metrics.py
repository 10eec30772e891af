"""End-to-end and per-layer metrics from a run's units, spans and Spark
event log. Names and units here are the ones BENCHMARK.json lists."""

from __future__ import annotations

import json
import os
import statistics
import sys

from perfbench.spans import self_times, spark_layer
from perfbench.stats import percentile, tail_percentile

END_TO_END = {
    "setup_s": "s",
    "work_per_s": "1/s",
    "primary_p50_ms": "ms",
    "secondary_p50_ms": "ms",
    "recall": "ratio",
    "bytes_per_row": "B",
}

# timed per unit of work, so they can be compared traced vs untraced.
# No tail percentile is bounded: a run's 20 s loop holds about 20-50
# ingest samples per op type, which by the percentile rule supports
# p50-p80 depending on host load, and 3-5 curate passes, which support
# none; report() prints the tail each run's counts support.
_LATENCY = ("work_per_s", "primary_p50_ms", "secondary_p50_ms")

PER_LAYER = {
    # peak RSS moves 10-35% between runs of one workload with the JVM's
    # garbage-collection timing, too unsteady for an end-to-end bound
    "peak_rss_mb": "MB",
    "session.start_s": "s",
    "sources.read_ms": "ms",
    "sources.append_ms": "ms",
    "sources.files_per_table": "count",
    "operators.search.plan_ms": "ms",
    "operators.search.exec_ms": "ms",
    "operators.ann.index_build_s": "s",
    "operators.dedup.exact_s": "s",
    "operators.dedup.minhash_lsh_s": "s",
    "operators.dedup.candidate_pairs": "count",
    "operators.dedup.pair_precision": "ratio",
    "operators.chunking.s": "s",
    "functions.embed.s": "s",
    "functions.embed.rows_per_s": "1/s",
    "operators.search.batch_knn_s": "s",
    "operators.search.batch_knn_pairs_per_s": "1/s",
    "spark.outside_jobs_ms": "ms",
    "spark.jobs_per_request": "count",
    "spark.tasks_per_request": "count",
    "spark.input_rows_per_result": "ratio",
    "spark.core_utilization": "ratio",
    "spark.stage_skew_max": "ratio",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "error_rate": "ratio",
    **{f"trace_overhead.{k}": END_TO_END[k] for k in _LATENCY},
}

# span name → per-layer metric: mean self time per call, in ms, over
# the traced units
_CALL_MS = {
    "sources.read": "sources.read_ms",
    "sources.append": "sources.append_ms",
    "operators.search.plan": "operators.search.plan_ms",
    "operators.search.exec": "operators.search.exec_ms",
}
# span name → per-layer metric: median duration in s over every such
# span
_STAGE_S = {
    "operators.ann.index_build": "operators.ann.index_build_s",
    "operators.dedup.exact": "operators.dedup.exact_s",
    "operators.dedup.minhash_lsh": "operators.dedup.minhash_lsh_s",
    "operators.chunking": "operators.chunking.s",
    "functions.embed": "functions.embed.s",
    "operators.search.batch_knn": "operators.search.batch_knn_s",
}


def _latency(wl, units) -> dict:
    out = {"work_per_s": wl.work_per_s(units) if units else 0.0}
    for role, kind in (("primary", wl.primary), ("secondary", wl.secondary)):
        ms = wl.samples(units, kind)
        out[f"{role}_p50_ms"] = percentile(ms, 50) if ms else 0.0
    return out


def _wrap(values: dict, units: dict) -> dict:
    return {k: {"value": values[k], "unit": u} for k, u in units.items()}


def end_to_end(wl, units, extra, setup_s: float) -> dict:
    """From the untraced units: all of them in an untraced run, half of
    them in a traced run."""
    vals = _latency(wl, [u for u in units if not u.traced])
    vals.update(setup_s=setup_s, recall=extra["recall"],
                bytes_per_row=extra["bytes_per_row"])
    return _wrap(vals, END_TO_END)


def per_layer(wl, ctx, units, extra, log, session_s: float, rss_mb: float,
              error_rate: float) -> dict:
    """Layer metrics from the traced units' spans and the Spark jobs
    attributed to them, plus the tracing overhead."""
    spans = ctx.tracer.spans
    traced = [u for u in units if u.traced and u.ok and u.root is not None]
    roots = {u.root for u in traced}
    own = self_times(spans)
    vals = {k: 0.0 for k in PER_LAYER}
    for name, metric in _CALL_MS.items():
        xs = [own[s.id] for s in spans if s.name == name and s.request in roots]
        vals[metric] = statistics.fmean(xs) if xs else 0.0
    for name, metric in _STAGE_S.items():
        xs = [(s.end - s.start) / 1000 for s in spans if s.name == name]
        vals[metric] = statistics.median(xs) if xs else 0.0
    sp = spark_layer(log, spans, [u.root for u in traced], ctx.cores)
    result_rows = sum(u.info.get("rows", 0) for u in traced)
    vals["spark.input_rows_per_result"] = (
        sp.pop("spark.input_rows") * len(traced) / result_rows if result_rows else 0.0
    )
    vals.update(sp)
    vals["session.start_s"] = session_s
    vals["peak_rss_mb"] = rss_mb
    vals["error_rate"] = error_rate
    vals.update(wl.layer_extra(traced, spans, log, extra))
    on = _latency(wl, [u for u in units if u.traced])
    off = _latency(wl, [u for u in units if not u.traced])
    for k in _LATENCY:
        vals[f"trace_overhead.{k}"] = on[k] - off[k]
    return _wrap(vals, PER_LAYER)


def write_trace(root: str, args, spans) -> str:
    """Spans with their self times, as JSON under ``.bench_out/``."""
    own = self_times(spans)
    out = os.path.join(root, ".bench_out")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"trace-{args.workload}-seed{args.seed}.json")
    with open(path, "w") as f:
        json.dump([{**vars(s), "self_ms": own[s.id]} for s in spans], f)
    return path


def report(wl, units, e2e: dict, layers: dict | None) -> None:
    """Readable table on stderr: each metric with the workload-specific
    name it stands for, and the sample counts behind the latencies."""
    err = sys.stderr
    untraced = [u for u in units if not u.traced]
    for role, kind in (("primary", wl.primary), ("secondary", wl.secondary)):
        ms = wl.samples(untraced, kind)
        p = tail_percentile(len(ms))
        tail = f"p{p} = {percentile(ms, p):.1f} ms" if p is not None else "no tail percentile"
        print(f"{role} = {kind}: n={len(ms)}, the percentile rule supports {tail}",
              file=err)
    for k, v in e2e.items():
        alias = wl.ALIASES.get(k, "")
        print(f"  {k:<22} {v['value']:>14.4f} {v['unit']:<6} {alias}", file=err)
    for k, v in (layers or {}).items():
        print(f"  {k:<40} {v['value']:>14.4f} {v['unit']}", file=err)
