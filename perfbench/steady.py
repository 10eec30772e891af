"""Steadiness mode: run one workload several times, each with another
seed, and print each metric's median, quartiles and spread against its
bound in BENCHMARK.json.

    python3 perfbench/steady.py --workload ingest --runs 10 [--sets 2]

The spread is (q3 - q1) / median over the runs of a set, with
``statistics.quantiles(values, n=4)``. A metric is steady when its
spread stays below a third of its bound (``setup_s`` has no spread
check). With ``--sets 2`` the runs of a second set alternate with
those of the first (set 1, set 2, set 1, ...), so a slow drift of the
host weighs on both sets alike, and each metric's second median must not
be worse than the first by more than its bound. Every run measures
BENCHMARK.json's ``run_seconds``. Raw results go to
``.bench_out/steady-<workload>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.stats import spread  # noqa: E402


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd)} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def worse_by(metric: dict, first: float, second: float) -> float:
    """How much worse ``second`` is than ``first``, as a share of ``first``."""
    if first == 0:
        return 0.0
    delta = (second - first) if metric["better"] == "lower" else (first - second)
    return delta / abs(first)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--sets", type=int, default=1, choices=(1, 2))
    p.add_argument("--seed0", type=int, default=1000)
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    metrics = {m["name"]: m for m in bench["end_to_end"]}

    sets, ok = [[] for _ in range(args.sets)], True
    for r in range(args.runs):
        for s, results in enumerate(sets):
            seed = args.seed0 + s * args.runs + r
            t = time.perf_counter()
            res = run_once(args.workload, seed, seconds, 0)
            wall = time.perf_counter() - t
            ok &= res["correct"] and res["failed"] == 0
            results.append(res)
            print(f"set {s} run {r} seed {seed}: correct={res['correct']} "
                  f"attempted={res['attempted']} failed={res['failed']} "
                  f"wall={wall:.1f}s", file=sys.stderr)

    out = os.path.join(ROOT, ".bench_out")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, f"steady-{args.workload}.json"), "w") as f:
        json.dump(sets, f)

    medians = []
    for s, results in enumerate(sets):
        print(f"\n{args.workload}, set {s}: {len(results)} runs of {seconds} s")
        print(f"{'metric':<20} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} "
              f"{'bound':>6}  verdict")
        med_s = {}
        for name, m in metrics.items():
            vals = [r["metrics"][name]["value"] for r in results]
            med, q1, q3, spr = spread(vals)
            med_s[name] = med
            if name == "setup_s":
                verdict = "not bounded"
            elif spr < m["bound"] / 3:
                verdict = "steady"
            elif spr <= m["bound"]:
                verdict = "within bound"
            else:
                verdict, ok = "TOO WIDE", False
            print(f"{name:<20} {med:>12.4f} {q1:>12.4f} {q3:>12.4f} {spr:>8.4f} "
                  f"{m['bound']:>6.3f}  {verdict}")
        medians.append(med_s)
    if len(medians) == 2:
        print("\nsecond set against first (share worse; must not exceed the bound)")
        for name, m in metrics.items():
            w = worse_by(m, medians[0][name], medians[1][name])
            bad = w > m["bound"]
            ok &= not bad
            print(f"{name:<20} {w:>8.4f} {m['bound']:>6.3f}  {'WORSE' if bad else 'ok'}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
