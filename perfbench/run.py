#!/usr/bin/env python3
"""One run of one benchmark workload.

    python3 perfbench/run.py --workload {backfill,olap} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are every end-to-end metric of BENCHMARK.json; with ``--trace 1``
they are every per-layer metric, derived from the spans the benchmark
records around its calls into the program (written to
``.bench_work/traces/``), Spark's status store and the streaming query's
progress (layers.py). ``failed`` counts the
operations (records, queries) whose output the checks reject; ``correct``
is true when there is none. Exits non-zero without a result line when the
program is missing or a run fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.common import (  # noqa: E402
    ROOT, WORK_ROOT, Tracer, new_workdir, prepare_env, reap_children,
    stdout_to_stderr,
)


MAX_REPORTED = 5


def units(trace: bool) -> dict[str, str]:
    """The unit of every metric the run must report, as BENCHMARK.json
    declares it: the end-to-end metrics, or with `trace` the per-layer
    ones."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m["unit"]
            for m in bench["per_layer" if trace else "end_to_end"]}


def workloads():
    from perfbench import olap, stream

    return {"backfill": stream.backfill, "olap": olap.run}


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["backfill", "olap"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)

    program = "kafka_elasticsearch_injector_spark"
    if not os.path.isdir(os.path.join(ROOT, program)):
        print(f"the program ({program}) is not in this checkout",
              file=sys.stderr)
        return 3

    work = new_workdir(a.workload, a.seed)
    prepare_env(work)
    tracer = Tracer(f"{a.workload}-{a.seed}-{os.getpid()}")
    t0 = time.perf_counter()
    try:
        with stdout_to_stderr() as out:
            res = workloads()[a.workload](a.seed, a.seconds, work, tracer,
                                          bool(a.trace))
            wall = time.perf_counter() - t0
            failures = res["failures"]
            for op, why in list(failures.items())[:MAX_REPORTED]:
                print(f"CHECK FAILED: {op}: {why}", file=sys.stderr)
            if failures:
                print(f"{len(failures)} operations failed their checks",
                      file=sys.stderr)
            if a.trace:
                metrics = dict(res["layers"])
                metrics["trace.spans"] = float(len(tracer.spans))
                metrics["trace.overhead_pct"] = tracer_overhead_pct(
                    tracer, wall)
                os.makedirs(os.path.join(WORK_ROOT, "traces"),
                            exist_ok=True)
                tracer.write(os.path.join(
                    WORK_ROOT, "traces", f"{tracer.run_id}.jsonl"))
            else:
                metrics = res["e2e"]
            unit = units(bool(a.trace))
            if set(metrics) != set(unit):
                raise RuntimeError(
                    "the run measured other metrics than BENCHMARK.json "
                    f"names: missing {sorted(set(unit) - set(metrics))}, "
                    f"unnamed {sorted(set(metrics) - set(unit))}")
            named = {k: {"value": float(v), "unit": unit[k]}
                     for k, v in sorted(metrics.items())}
            print(f"{a.workload} seed {a.seed}: run took "
                  f"{time.perf_counter() - t0:.1f} s", file=sys.stderr)
            line = json.dumps({"correct": not failures,
                               "attempted": int(res["attempted"]),
                               "failed": len(failures),
                               "metrics": named})
            out.write(line + "\n")
            out.flush()
    finally:
        reap_children()
        shutil.rmtree(work, ignore_errors=True)
    return 0


def tracer_overhead_pct(tracer: Tracer, wall_s: float) -> float:
    """The spans' own cost as a share of the run: the measured cost of
    one span times the number recorded."""
    probe = Tracer("probe")
    n = 2000
    t0 = time.perf_counter()
    for _ in range(n):
        with probe.span("x"):
            pass
    per_span = (time.perf_counter() - t0) / n
    return 100.0 * per_span * len(tracer.spans) / wall_s


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
