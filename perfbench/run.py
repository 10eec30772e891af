"""Benchmark runner: one workload, one seed, one run.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 20 --trace 0

Runs from the root of a checkout of the repository. Set-up (session
start, input generation, index build, warm-up) is timed as ``setup_s``;
the timed loop then runs for ``--seconds``; output checks run after it.
The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``) named
in BENCHMARK.json. Progress and a readable table go to standard error.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("curate", "ingest")
SETUP_REPS = 3  # set-up runs this often; setup_s takes the median


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, "quick_and_easy_vectordb_spark")):
        print(f"no engine sources under {ROOT}: run from a checkout of the "
              "repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import runtime

    scratch = os.path.join(ROOT, ".bench_work")
    os.makedirs(scratch, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=scratch)
    try:
        runtime.pin_environment(work)
        result = _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(scratch)
        except OSError:
            pass  # another run still uses it
    print(json.dumps(result))
    return 0


def _run(args, work: str) -> dict:
    from perfbench import metrics, runtime
    from perfbench.spans import NullTracer, read_event_log

    event_dir = os.path.join(work, "events") if args.trace else None
    t0 = time.perf_counter()
    spark = runtime.start_session(work, event_dir)
    session_s = time.perf_counter() - t0
    try:
        ctx = runtime.Ctx(spark, work, args.seed, args.seconds, bool(args.trace))
        wl = _workload(args.workload, ctx)
        reps = []
        for rep in range(SETUP_REPS):
            t = time.perf_counter()
            wl.setup_once(rep, ctx.tracer or NullTracer())
            reps.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl.warm_up()
        warm_s = time.perf_counter() - t
        setup_s = session_s + statistics.median(reps) + warm_s
        print(f"setup: session {session_s:.2f}s, data "
              f"{['%.2f' % r for r in reps]}, warm-up {warm_s:.2f}s", file=sys.stderr)

        units = wl.loop()
        extra = wl.check(units)
        rss = runtime.peak_rss_mb(spark)
    finally:
        runtime.stop_session(spark)

    failed = sum(not u.ok for u in units) + ctx.loose_failures
    attempted = len(units)
    e2e = metrics.end_to_end(wl, units, extra, setup_s)
    if args.trace:
        log = read_event_log(event_dir)
        out = metrics.per_layer(wl, ctx, units, extra, log, session_s, rss,
                                failed / max(attempted, 1))
        metrics.write_trace(ROOT, args, ctx.tracer.spans)
    else:
        out = e2e
    metrics.report(wl, units, e2e, out if args.trace else None)
    return {
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": out,
    }


def _workload(name: str, ctx):
    if name == "curate":
        from perfbench.curate import Curate
        return Curate(ctx)
    from perfbench.ingest import Ingest
    return Ingest(ctx)


if __name__ == "__main__":
    sys.exit(main())
