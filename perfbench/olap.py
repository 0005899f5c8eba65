"""The `olap` workload: a fixed, named subset of the query inventory.

Each query's plan is built and run once cold: plan build, then the first
execution with its code generation, which collects the rows the check
compares with the query's DuckDB oracle SQL over the same parquet files.
Then the queries run in whole steady rounds through the ``noop`` sink, in a
seed-permuted order, as many as fit in the run's seconds (at least one).
"""

from __future__ import annotations

import os
import time

import numpy as np

from . import checks, tables
from .common import log, median, noop, nproc, stop_spark

# Query -> the operator module whose cost it carries ("relational": plans
# that call no operator module). The subset covers every plan part (noted
# after each entry) and every operator module a declared query reaches; the
# heavy dedup (MinHash LSH), ANN and TPC-H queries; and floor-bound queries
# across the parts. Floor-bound queries are most of the inventory, and here
# they are most of the subset too, so the per-query medians fall among them
# and not on the boundary between cheap and heavy queries, where a median
# jumps from run to run.
# q_dedup_recall_sampled's exact side runs the blocked tile kernel
# (dedup.ngram_jaccard_pairs -> blocked.jaccard_pairs_blocked).
SUBSET = {
    "q_json_decode": "injector",           # part_a
    "q_index_day": "injector",             # part_a, floor
    "q_window_rank": "relational",         # part_b, floor
    "q_tpch_q1": "relational",             # part_b_ext
    "q_merge_upsert": "etl",               # part_b_ext2
    "q_select_distinct": "relational",     # part_b_ext2, floor
    "q_dedup_minhash": "dedup",            # part_c
    "q_ann_ivf": "similarity",             # part_c
    "q_audio_features": "multimodal",      # part_c
    "q_lang_dist": "relational",           # part_c, floor
    "q_quality_buckets": "relational",     # part_c2, floor
    "q_tpch_q12": "relational",            # part_d, floor
    "q_tpch_q4": "relational",             # part_d, floor
    "q_tpch_q21": "relational",            # part_d2
    "q_partition_balance": "relational",   # part_d3, floor
    "q_semdedup_kmeans": "semdedup",       # part_e
    "q_corpus_diff": "maintenance",        # part_e, floor
    "q_kanonymity": "curation",            # part_e, floor
    "q_token_familiarity": "text",         # part_f
    "q_gini_tokens": "curation",           # part_g
    "q_dedup_recall_sampled": "blocked",   # part_h
    "q_doc_freq_spectrum": "curation",     # part_h, floor
}

PYTHON_NODES = ("MapInPandas", "MapInArrow", "PythonMapInArrow",
                "ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas",
                "FlatMapGroupsInArrow", "FlatMapCoGroupsInPandas",
                "FlatMapCoGroupsInArrow", "AggregateInPandas",
                "ArrowAggregatePython", "ArrowWindowPython",
                "WindowInPandas", "PythonUDTF", "ArrowEvalPythonUDTF",
                "BatchEvalPythonUDTF")
MIN_ROUNDS = 1


def run(seed: int, seconds: int, work: str, tracer, trace: bool) -> dict:
    from . import layers

    tdir = os.path.join(work, "tables")
    tables.write(seed, tdir)

    with tracer.span("setup"):
        with tracer.span("session.import"):
            from kafka_elasticsearch_injector_spark import plans
            from kafka_elasticsearch_injector_spark.session import get_spark
            inventory = plans.queries()
        with tracer.span("session.start"):
            spark = get_spark("olap-bench")
            spark.sparkContext.setLogLevel("ERROR")
        with tracer.span("session.warmup"):
            # JVM, file listing and one Python worker per core, as any
            # long-lived analytics session has them before its first query.
            noop(spark.range(1000))
            noop(spark.range(nproc() * 4).repartition(nproc())
                 .mapInPandas(lambda it: it, "id long"))

    p = subset_pass(spark, inventory, tdir, tracer, seconds, seed, trace)
    per_layer = {}
    if trace:
        per_layer = layers.suite(spark, seed, work, tracer,
                                 plan_figures=plan_layers(tracer, p))
    stop_spark(spark)
    with tracer.span("check"):
        failures = _check(tdir, p["cols"], p["rows"])
    log(f"olap: checked in {tracer.total('check'):.1f} s")

    steady = tracer.durations("plans.steady")
    e2e = {"setup_s": tracer.total("setup"),
           "ops_per_s": len(steady) / sum(steady),
           "cold_s": sum(p["cold"].values())}
    return {"failures": failures,
            "attempted": len(SUBSET) * (1 + p["rounds"]),
            "e2e": e2e, "layers": per_layer}


def subset_pass(spark, inventory: dict, tdir: str, tracer, seconds: float,
                seed: int, trace: bool) -> dict:
    """Build and run every subset query once cold, then run them all in
    whole steady rounds that fit in `seconds` (at least MIN_ROUNDS).
    Returns the cold rows and columns, each query's median steady and its
    cold (build + first run) seconds, the rounds, and with `trace` the
    status-store totals of the first steady round."""
    # Cold runs go in the subset's fixed order: a query's cold cost depends
    # on how much of the JVM the queries before it already compiled, so a
    # fixed position keeps it comparable between runs. Steady rounds go in
    # a seed-permuted order.
    order = [list(SUBSET)[i] for i in
             np.random.default_rng(seed).permutation(len(SUBSET))]
    dfs, rows, cols = {}, {}, {}
    for q in SUBSET:
        with tracer.span("plans.build", query=q):
            dfs[q] = inventory[q](spark, tdir)
        with tracer.span("plans.first", query=q):
            rows[q] = [tuple(r) for r in dfs[q].collect()]
        cols[q] = list(dfs[q].columns)

    # Whole rounds only, and none that would end past the deadline, so a
    # run measures no more than `seconds` once one round is done.
    deadline = time.perf_counter() + seconds
    rounds = 0
    round_s = 0.0
    store = {}
    while (rounds < MIN_ROUNDS
           or time.perf_counter() + round_s <= deadline):
        if trace and rounds == 0:
            store_before = _store_marks(spark)
        t0 = time.perf_counter()
        for q in order:
            with tracer.span("plans.steady", query=q):
                noop(dfs[q])
        round_s = time.perf_counter() - t0
        rounds += 1
        if trace and rounds == 1:
            store = _store_totals(spark, store_before)
    med = {q: median(tracer.durations("plans.steady", query=q))
           for q in SUBSET}
    cold = {q: tracer.total("plans.build", query=q)
            + tracer.total("plans.first", query=q) for q in SUBSET}
    log(f"olap: cold pass {sum(cold.values()):.1f} s, {rounds} steady "
        "round(s)")
    return {"rows": rows, "cols": cols, "med": med, "cold": cold,
            "rounds": rounds, "store": store}


def _check(tdir: str, cols: dict, rows: dict) -> checks.Failures:
    from kafka_elasticsearch_injector_spark import plans
    from tests.oracle import duck_connection

    con = duck_connection(tdir)
    oracle = plans.oracle_sql()
    failures: checks.Failures = {}
    for q in cols:
        res = con.execute(oracle[q])
        failures.update(checks.check_query(
            q, cols[q], rows[q],
            [c[0] for c in res.description], res.fetchall()))
    return failures


def plan_layers(tracer, p: dict) -> dict[str, float]:
    """Per-layer figures of one `subset_pass` (traced)."""
    med = p["med"]
    build = [tracer.total("plans.build", query=q) for q in SUBSET]
    extra = [max(tracer.total("plans.first", query=q) - med[q], 0.0)
             for q in SUBSET]
    out = {"plans.build_ms_p50": 1000 * median(build),
           "plans.build_s_total": sum(build),
           "plans.first_extra_ms_p50": 1000 * median(extra),
           "plans.first_extra_s_total": sum(extra), **p["store"]}
    for module in sorted(set(SUBSET.values())):
        out[f"operators.{module}_s"] = sum(
            med[q] for q, m in SUBSET.items() if m == module)
    return out


# -------------------------------------------------- Spark's status store

def _store_marks(spark) -> tuple[int, int]:
    """Highest stage id and SQL execution id so far."""
    stages = _stages(spark)
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    last_exec = max((execs.apply(i).executionId()
                     for i in range(execs.size())), default=-1)
    return max((s.stageId() for s in stages), default=-1), last_exec


def _stages(spark) -> list:
    sc = spark.sparkContext
    gw = sc._gateway
    seq = sc._jsc.sc().statusStore().stageList(
        None, False, False, gw.new_array(gw.jvm.double, 0), None)
    return [seq.apply(i) for i in range(seq.size())]


def _store_totals(spark, marks: tuple[int, int]) -> dict[str, float]:
    """Totals over the stages and SQL executions of one steady round."""
    last_stage, last_exec = marks
    done = [s for s in _stages(spark) if s.stageId() > last_stage
            and s.status().toString() == "COMPLETE"]
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    python = 0
    for i in range(execs.size()):
        e = execs.apply(i)
        if e.executionId() <= last_exec:
            continue
        nodes = store.planGraph(e.executionId()).allNodes()
        python += sum(1 for k in range(nodes.size())
                      if nodes.apply(k).name() in PYTHON_NODES)
    return {
        "plans.stages": float(len(done)),
        "plans.tasks": float(sum(s.numTasks() for s in done)),
        "plans.python_stages": float(python),
        "plans.shuffle_bytes": float(sum(s.shuffleWriteBytes()
                                         for s in done)),
        "plans.shuffle_records": float(sum(s.shuffleWriteRecords()
                                           for s in done)),
        "plans.spill_bytes": float(sum(s.memoryBytesSpilled()
                                       + s.diskBytesSpilled()
                                       for s in done)),
    }


# ------------------------------------------------------ calibration rows

def floor_rows(spark, tracer) -> dict[str, float]:
    """The fixed cost under every query: a one-stage noop, a one-shuffle
    aggregate and a trivial Python stage."""
    from pyspark.sql import functions as F

    rows = {
        "floor.noop_ms": spark.range(1000),
        "floor.shuffle_ms": spark.range(1000).groupBy(
            (F.col("id") % 10).alias("k")).count(),
        "floor.python_ms": spark.range(1000).mapInPandas(
            lambda it: it, "id long"),
    }
    return {name: 1000 * tracer.median_time(name, lambda: noop(df), 5)
            for name, df in rows.items()}


def scan_rows(spark, tdir: str, tracer) -> dict[str, float]:
    from kafka_elasticsearch_injector_spark.io import table

    out = {}
    for name in tables.ROWS:
        df = table(spark, tdir, name)
        out[f"io.scan_ms.{name}"] = 1000 * tracer.median_time(
            "io.scan", lambda: noop(df), 3, table=name)
    return out
