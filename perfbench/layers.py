"""The layer suite: every per-layer figure, in the traced run of every
workload.

A traced run first does what its untraced run does, then calls `suite` in
the same Spark session. The suite reads the session's set-up from the
run's spans, takes the figures the workload itself produced (the query
subset's in `olap`, the service's in `backfill`) and produces the other
workload's with a pass of its own: one cold pass and one steady round of
the query subset, or a service drain with one steady batch. Then it runs
the probes that are the same in every workload: the calibration rows, a
scan of every table, and the streaming layers called on a static corpus.
"""

from __future__ import annotations

import os

from . import olap, stream, tables

SERVICE_PROBE_S = 3.0            # one steady micro-batch


def suite(spark, seed: int, work: str, tracer,
          plan_figures: dict | None = None,
          service_figures: dict | None = None) -> dict[str, float]:
    out = {f"{name}_s": tracer.total(name) for name in
           ("session.import", "session.start", "session.warmup")}
    tdir = os.path.join(work, "tables")
    if not os.path.isdir(tdir):
        tables.write(seed, tdir)
    if plan_figures is None:
        from kafka_elasticsearch_injector_spark import plans

        p = olap.subset_pass(spark, plans.queries(), tdir, tracer, 0, seed,
                             trace=True)
        plan_figures = olap.plan_layers(tracer, p)
    if service_figures is None:
        probe_work = os.path.join(work, "service-probe")
        os.makedirs(probe_work)
        d = stream.drain(seed, SERVICE_PROBE_S, probe_work, tracer,
                         prefix="probe.")
        if d["failures"]:
            raise RuntimeError(
                f"the layer suite's service drain failed its checks on "
                f"{len(d['failures'])} records")
        service_figures = stream.service_layers(d)
    out.update(plan_figures)
    out.update(service_figures)
    out.update(olap.floor_rows(spark, tracer))
    out.update(olap.scan_rows(spark, tdir, tracer))
    out.update(stream.layer_probes(spark, seed, work, tracer))
    return out
