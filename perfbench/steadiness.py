#!/usr/bin/env python3
"""How steady a workload's end-to-end metrics are.

    python3 perfbench/steadiness.py --workload W [--runs N] [--seconds S]
        [--first-seed K] [--out FILE]

Runs the workload as two sets of N runs (set A on seeds K .. K+N-1, set B on
the next N seeds), each run a fresh process of run.py. For every metric it
prints each set's median and quartiles, the spread (quartile distance over
median) of each set and of all runs pooled, and how far set B's median lies
from set A's, next to the metric's bound in BENCHMARK.json. It also checks
that every run passed its checks and failed the same share of operations.
Use it to set those bounds.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.common import BENCH_DIR, ROOT  # noqa: E402


def one_run(workload: str, seed: int, seconds: int) -> dict:
    t0 = time.perf_counter()
    p = subprocess.run(
        [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload",
         workload, "--seed", str(seed), "--seconds", str(seconds),
         "--trace", "0"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
        text=True, timeout=900)
    if p.returncode != 0:
        tail = "\n".join(p.stderr.splitlines()[-20:])
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}\n"
                         f"{tail}")
    res = json.loads(p.stdout.strip().splitlines()[-1])
    res["wall_s"] = time.perf_counter() - t0
    return res


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(q1, median, q3, (q3 - q1) / median)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3, (q3 - q1) / med


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--out", default=None)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = a.seconds or bench["run_seconds"]
    bounds = {m["name"]: m for m in bench["end_to_end"]}

    sets = {"A": [], "B": []}
    for i in range(2 * a.runs):
        name = "A" if i < a.runs else "B"
        seed = a.first_seed + i
        res = one_run(a.workload, seed, seconds)
        res["seed"] = seed
        sets[name].append(res)
        print(f"set {name} seed {seed}: correct={res['correct']} "
              f"attempted={res['attempted']} failed={res['failed']} "
              f"wall={res['wall_s']:.1f}s "
              + " ".join(f"{k}={v['value']:.4g}"
                         for k, v in res["metrics"].items()),
              file=sys.stderr, flush=True)

    runs = sets["A"] + sets["B"]
    report = {"workload": a.workload, "seconds": seconds, "runs": runs,
              "all_correct": all(r["correct"] for r in runs),
              "failed_shares": sorted({r["failed"] / r["attempted"]
                                       for r in runs}),
              "metrics": {}}
    print(f"\n{a.workload}: {len(runs)} runs of {seconds} s, all correct: "
          f"{report['all_correct']}, failed shares: "
          f"{report['failed_shares']}")
    print(f"{'metric':<20} {'set':<4} {'q1':>11} {'median':>11} "
          f"{'q3':>11} {'spread':>8}   B vs A   bound")
    for m in runs[0]["metrics"]:
        row = {}
        for name in ("A", "B"):
            q1, med, q3, sp = spread([r["metrics"][m]["value"]
                                      for r in sets[name]])
            row[name] = {"q1": q1, "median": med, "q3": q3, "spread": sp}
        pooled = spread([r["metrics"][m]["value"] for r in runs])
        row["pooled_spread"] = pooled[3]
        better = bounds[m]["better"]
        diff = row["B"]["median"] / row["A"]["median"] - 1
        worse = -diff if better == "higher" else diff
        row["b_worse_than_a"] = worse
        row["bound"] = bounds[m]["bound"]
        report["metrics"][m] = row
        for name in ("A", "B"):
            r = row[name]
            tail = (f"  {worse:+7.2%}  {row['bound']:.2f}  pooled spread "
                    f"{pooled[3]:.2%}") if name == "B" else ""
            print(f"{m:<20} {name:<4} {r['q1']:>11.5g} {r['median']:>11.5g} "
                  f"{r['q3']:>11.5g} {r['spread']:>8.2%}{tail}")
    if a.out:
        with open(a.out, "w") as f:
            json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()
