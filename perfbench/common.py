"""Shared plumbing: paths, the run environment, spans, Spark start/stop."""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time
from contextlib import contextmanager

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK_ROOT = os.path.join(ROOT, ".bench_work")
_T0 = time.perf_counter()


def log(msg: str) -> None:
    """A progress line on stderr, stamped with seconds since start."""
    print(f"[{time.perf_counter() - _T0:7.1f}s] {msg}", file=sys.stderr,
          flush=True)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: str) -> None:
    """Keep every file the run writes inside the checkout, and run the
    program at local[nproc]."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    # Python workers import the program's modules from the checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")


_CHILDREN: list = []


def spawn(args: list[str], **kw):
    """Start a helper process that `reap_children` will stop."""
    import subprocess

    proc = subprocess.Popen(args, **kw)
    _CHILDREN.append(proc)
    return proc


def reap_children() -> None:
    """Stop every helper process still running, and the Spark JVM if a
    failed run left it up; wait for each to end."""
    for proc in _CHILDREN:
        if proc.poll() is None:
            proc.kill()
        proc.wait()
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        from pyspark.sql import SparkSession

        stop_spark(SparkSession.builder.getOrCreate())


def new_workdir(workload: str, seed: int) -> str:
    work = os.path.join(WORK_ROOT, f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    return work


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it forked) to exit."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()          # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def median(values) -> float:
    return statistics.median(values)


def noop(df) -> None:
    """Run a DataFrame to the end without keeping its rows."""
    df.write.format("noop").mode("overwrite").save()


class Tracer:
    """Spans around calls into the program's layers, kept in memory and
    written as JSON lines at the end. Spans are the benchmark's one clock:
    every timed figure of a run, end-to-end or per-layer, is read from
    them."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "id": len(self.spans), "start": time.perf_counter(), **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def durations(self, name: str, **attrs) -> list[float]:
        """Seconds of every span called `name` whose attributes include
        `attrs`, in the order they started."""
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name
                and all(s.get(k) == v for k, v in attrs.items())]

    def total(self, name: str, **attrs) -> float:
        return sum(self.durations(name, **attrs))

    def median_time(self, name: str, fn, n: int, **attrs) -> float:
        """Call `fn` once to warm it, then `n` times, each in a span;
        the median seconds of the `n`."""
        fn()
        for _ in range(n):
            with self.span(name, **attrs):
                fn()
        return median(self.durations(name, **attrs)[-n:])

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


@contextmanager
def stdout_to_stderr():
    """Route fd 1 to stderr (the JVM inherits it) so the result line is
    the only thing on the real stdout; yields a writer for that line."""
    real = os.fdopen(os.dup(1), "w")
    saved = sys.stdout
    os.dup2(2, 1)
    sys.stdout = sys.stderr
    try:
        yield real
    finally:
        sys.stdout = saved
