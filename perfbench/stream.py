"""The `backfill` workload: the injector service end to end.

The service runs in this process through its entry point
``__main__.main(env, source_df=...)``, reading Kafka-shaped rows from a
parquet file stream and writing over HTTP to fake_es.py, a process of its
own that also answers as the schema registry. `drain` is the whole service
run; the layer suite (layers.py) runs it on a short backlog in runs of the
other workload.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
import urllib.error
import urllib.request

import numpy as np
import pyarrow.parquet as pq

from . import checks, streamgen
from .common import (
    BENCH_DIR, log, median, noop, spawn, stop_spark,
)

# A backlog of ROWS_PER_FILE-row files drained FILES_PER_BATCH at a time:
# WARMUP_BATCHES micro-batches (the first of WARM_ROWS-row files), then
# the steady window. The window is a whole number of batches, the same in
# every run of a given --seconds: one batch per BATCH_NOMINAL_S seconds
# asked for (a batch's time while this host is slow), at least one.
ROWS_PER_FILE = 12_500
WARM_ROWS = 500
FILES_PER_BATCH = 4
WARMUP_BATCHES = 2
BATCH_NOMINAL_S = 3.3
POISON_EVERY = 97
SCRAPE_EVERY_S = 1.0           # a Prometheus-like /metrics GET

PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch",
          "walCommit", "commitOffsets", "triggerExecution")
INSTANT_FIELDS = frozenset({"created"})


def _get(url: str, timeout: float = 5.0) -> tuple[int, bytes]:
    try:
        with urllib.request.urlopen(url, timeout=timeout) as r:
            return r.status, r.read()
    except urllib.error.HTTPError as e:
        return e.code, b""


def scrape(url: str) -> tuple[float, int]:
    """GET the service's /metrics; (round trip ms, progress entries the
    service's listener holds)."""
    t0 = time.perf_counter()
    _, body = _get(url, timeout=10)
    ms = (time.perf_counter() - t0) * 1000
    entries = 0
    for line in body.decode().splitlines():
        if line.startswith(
                "kafka_consumer_endpoint_latency_histogram_seconds_count"):
            entries = int(float(line.split()[-1]))
    return ms, entries


class FakeES:
    def __init__(self, work: str):
        self.bulks_path = os.path.join(work, "bulks.bin")
        schemas = os.path.join(work, "schemas.json")
        with open(schemas, "w") as f:
            json.dump({str(streamgen.WRITER_ID):
                       json.dumps(streamgen.WRITER_SCHEMA)}, f)
        self.proc = spawn(
            [sys.executable, os.path.join(BENCH_DIR, "fake_es.py"),
             "--out", self.bulks_path, "--schemas", schemas],
            stdout=subprocess.PIPE, text=True)
        self.url = f"http://127.0.0.1:{int(self.proc.stdout.readline())}"

    def stop(self) -> list[tuple[int, bytes]]:
        from .fake_es import read_bulks

        if self.proc.poll() is None:
            req = urllib.request.Request(self.url + "/_shutdown", data=b"")
            try:
                urllib.request.urlopen(req, timeout=10).read()
            except OSError:
                self.proc.kill()
        self.proc.wait(timeout=20)
        return read_bulks(self.bulks_path)


def _data_batches(query) -> list[dict]:
    return sorted((p for p in query.recentProgress if p["numInputRows"] > 0),
                  key=lambda p: p["batchId"])


def _raise_if_failed(query, hard_stop: float) -> None:
    if query.exception() is not None:
        raise RuntimeError(f"service failed: {query.exception()}")
    if time.time() > hard_stop:
        raise RuntimeError("the service did not finish in time")


def _start_service(env: dict, src_dir: str, tracer, prefix: str):
    """Import the package, start the session and the service, and wait
    for its readiness probe: everything `setup_s` (the "setup" span)
    covers. `prefix` names the spans apart when the session already runs
    another workload."""
    with tracer.span(prefix + "setup"):
        with tracer.span(prefix + "session.import"):
            from kafka_elasticsearch_injector_spark import __main__ as service
            from kafka_elasticsearch_injector_spark.session import get_spark
        with tracer.span(prefix + "session.start"):
            spark = get_spark("kafka-elasticsearch-injector",
                              mode="streaming")
            spark.sparkContext.setLogLevel("ERROR")
        with tracer.span(prefix + "session.warmup"):
            reader = (spark.readStream.schema(streamgen.SPARK_SOURCE_DDL)
                      .option("maxFilesPerTrigger", FILES_PER_BATCH))
            query, probes, _ = service.main(
                env, source_df=reader.parquet(src_dir))
            ready = f"http://127.0.0.1:{probes.port}/readiness"
            while _get(ready)[0] != 200:
                time.sleep(0.01)
    log(f"service ready after {tracer.total(prefix + 'setup'):.1f} s")
    return spark, query, probes


def _read_dead_letters(path: str) -> list[dict]:
    if not os.path.isdir(path):
        return []
    files = [os.path.join(r, f) for r, _, fs in os.walk(path)
             for f in fs if f.endswith(".parquet")]
    rows: list[dict] = []
    for f in files:
        rows.extend(pq.read_table(f).to_pylist())
    return rows


def _retried(probes_port: int) -> float:
    """Records the service's sink retried, from its /metrics."""
    _, text = _get(f"http://127.0.0.1:{probes_port}/metrics")
    for line in text.decode().splitlines():
        if line.startswith("elasticsearch_events_retryed"):
            return float(line.split()[-1])
    raise RuntimeError("/metrics has no elasticsearch_events_retryed")


# ------------------------------------------------------------------ drain

def drain(seed: int, seconds: float, work: str, tracer, prefix: str = ""
          ) -> dict:
    """Write a seed-generated Avro backlog, run the service on it with the
    reference defaults (Confluent framing through the HTTP registry,
    100-doc bulks, the dead-letter store on) until it has drained it, stop
    it, and check what reached the fake ES and the dead-letter store. The
    backlog is the warm-up batches and `window_batches(seconds)` more.

    Returns the session, the failures, the records in the backlog, the
    data micro-batches' progress, the steady window of them, the delivered
    documents by ``_id``, the stored bulks and the service-side
    counters."""
    # The first batch's files are small: it pays the one-time costs
    # (Python workers, code generation) and nothing else.
    full = FILES_PER_BATCH * (WARMUP_BATCHES - 1 + window_batches(seconds))
    sizes = [WARM_ROWS] * FILES_PER_BATCH + [ROWS_PER_FILE] * full
    bounds = np.concatenate([[0], np.cumsum(sizes)])
    n = int(bounds[-1])
    corpus = streamgen.Corpus(n, seed, POISON_EVERY)
    src_dir = os.path.join(work, "source")
    os.makedirs(src_dir)
    # Written in order, so the source (oldest files first) reads them so.
    for k in range(len(sizes)):
        streamgen.write_file(
            corpus.table(int(bounds[k]), int(bounds[k + 1])),
            src_dir, f"part-{k:05d}.parquet")
    log(f"backfill: wrote {len(sizes)} files, {n} records")
    es = FakeES(work)
    dead_dir = os.path.join(work, "dead-letters")
    env = {"KAFKA_TOPICS": streamgen.TOPIC,
           "CHECKPOINT_DIR": os.path.join(work, "checkpoint"),
           "ELASTICSEARCH_HOST": es.url,
           "PROBES_PORT": "0",
           "LOG_LEVEL": "WARN",
           "KAFKA_CONSUMER_RECORD_TYPE": "avro",
           "SCHEMA_REGISTRY_URL": es.url,
           "AVRO_READER_SCHEMA_ID": str(streamgen.WRITER_ID),
           "ES_INDEX_PREFIX": "backfill-",
           "DEAD_LETTER_DIR": dead_dir}
    try:
        spark, query, probes = _start_service(env, src_dir, tracer, prefix)
        metrics_url = f"http://127.0.0.1:{probes.port}/metrics"
        try:
            scrape_ms: list[float] = []
            entries = 0
            last_scrape = 0.0
            hard_stop = time.time() + 120
            while sum(b["numInputRows"] for b in _data_batches(query)) < n:
                if time.time() - last_scrape >= SCRAPE_EVERY_S:
                    last_scrape = time.time()
                    ms, entries = scrape(metrics_url)
                    scrape_ms.append(ms)
                _raise_if_failed(query, hard_stop)
                time.sleep(0.02)
            batches = _data_batches(query)
            retried = _retried(probes.port)
        finally:
            query.stop()
            probes.stop()
    finally:
        bulks = es.stop()
    log("backfill: drained and stopped; batch seconds "
        + " ".join(f"{b['durationMs']['triggerExecution'] / 1000:.2f}"
                   for b in batches))

    # Steady window: the full-size batches after warm-up.
    window = [b for b in batches[WARMUP_BATCHES:]
              if b["numInputRows"] == FILES_PER_BATCH * ROWS_PER_FILE]
    if not window:
        raise RuntimeError("no steady micro-batch in the window")

    # Check: every record of the backlog arrived or was quarantined.
    with tracer.span(prefix + "check"):
        expected_docs = corpus.expected(0, n, "backfill-")
        kinds = {corpus.NIL: "nil", corpus.TRUNCATED: "truncated",
                 corpus.UNKNOWN_ID: "unknown_id"}
        expected_dead = {
            corpus.doc_id(i): (kinds[int(corpus.poison[i])], {
                "value": corpus.avro_value(i), "key": None,
                "topic": streamgen.TOPIC})
            for i in np.flatnonzero(corpus.poison[:n])}
        docs, bulk_failures = checks.parse_bulks(bulks)
        failures = checks.merge(
            bulk_failures,
            checks.check_docs(docs, expected_docs, INSTANT_FIELDS),
            checks.check_dead_letters(_read_dead_letters(dead_dir),
                                      expected_dead))
    log("backfill: checked")
    return {"spark": spark, "failures": failures, "attempted": n,
            "batches": batches, "window": window, "docs": docs,
            "bulks": bulks, "retried": retried, "scrape_ms": scrape_ms,
            "progress_entries": entries}


def window_batches(seconds: float) -> int:
    return max(1, round(seconds / BATCH_NOMINAL_S))


def service_layers(d: dict) -> dict[str, float]:
    """Per-layer figures of one `drain`: the micro-batch phases over its
    steady window (from ``recentProgress``), its first micro-batch, the
    bulks the fake ES stored, and the /metrics scrapes."""
    out = {}
    for ph in PHASES:
        vals = [b["durationMs"].get(ph, 0) or 0 for b in d["window"]]
        out[f"streaming.pipeline.{ph}_ms_p50"] = float(median(vals))
    sizes = [len(b) for _, b in d["bulks"]]
    out.update({
        "streaming.pipeline.first_batch_ms":
            float(d["batches"][0]["durationMs"]["triggerExecution"]),
        "streaming.es_sink.bulk_requests": float(len(sizes)),
        "streaming.es_sink.bytes_per_doc":
            sum(sizes) / max(len(d["docs"]), 1),
        "streaming.es_sink.retried": d["retried"],
        "streaming.metrics.scrape_ms_p50": median(d["scrape_ms"]),
        "streaming.listener.progress_entries":
            float(d["progress_entries"]),
    })
    return out


def backfill(seed: int, seconds: int, work: str, tracer, trace: bool
             ) -> dict:
    from . import layers

    d = drain(seed, seconds, work, tracer)
    window = d["window"]
    rates = [1000 * b["numInputRows"] / b["durationMs"]["triggerExecution"]
             for b in window]
    e2e = {"setup_s": tracer.total("setup"),
           "ops_per_s": median(rates),
           "cold_s": d["batches"][0]["durationMs"]["triggerExecution"]
           / 1000}
    per_layer = {}
    if trace:
        per_layer = layers.suite(d["spark"], seed, work, tracer,
                                 service_figures=service_layers(d))
    stop_spark(d["spark"])
    return {"failures": d["failures"],
            "attempted": d["attempted"], "e2e": e2e, "layers": per_layer}


# ------------------------------------------------------- layer probes

PROBE_ROWS = 20_000
PROBE_REPEATS = 3


def layer_probes(spark, seed: int, work: str, tracer) -> dict[str, float]:
    """Per-record cost of single layers, each called on a static copy of
    a seed-generated Avro corpus: the Avro decode, the decode-route
    projection (build_elastic_records) and the Arrow bulk sink, the last
    against a fake ES of its own."""
    from kafka_elasticsearch_injector_spark.config import InjectorConfig
    from kafka_elasticsearch_injector_spark.sources import decode_confluent
    from kafka_elasticsearch_injector_spark.sources.schema_registry import (
        SchemaRegistryClient,
    )
    from kafka_elasticsearch_injector_spark.streaming.es_sink import (
        STATS_SCHEMA, HttpTransport, write_arrow_factory,
    )
    from kafka_elasticsearch_injector_spark.streaming.pipeline import (
        build_elastic_records,
    )

    probe_dir = os.path.join(work, "layer-probes")
    os.makedirs(probe_dir)
    n = PROBE_ROWS
    corpus = streamgen.Corpus(n, seed, POISON_EVERY)
    streamgen.write_file(corpus.table(0, n), probe_dir,
                         "static.parquet")
    es = FakeES(probe_dir)
    try:
        src = spark.read.parquet(
            os.path.join(probe_dir, "static.parquet")).cache()
        src.count()
        out: dict[str, float] = {}
        cfg = InjectorConfig(record_type="avro",
                             schema_registry_url=es.url, es_host=es.url)
        registry = SchemaRegistryClient(es.url)
        out["sources.avro_decode_us_per_rec"] = 1e6 / n * tracer.median_time(
            "sources.decode_confluent",
            lambda: noop(decode_confluent(src, registry,
                                          streamgen.WRITER_ID)),
            PROBE_REPEATS)
        recs = build_elastic_records(
            src, cfg, registry=registry,
            reader_schema_id=streamgen.WRITER_ID)
        out["operators.injector_us_per_rec"] = 1e6 / n * tracer.median_time(
            "operators.build_elastic_records", lambda: noop(recs),
            PROBE_REPEATS)
        docs = recs.cache()
        n_docs = docs.count()
        writer = write_arrow_factory(
            cfg, lambda c=cfg: HttpTransport.from_config(c))
        out["streaming.es_sink_us_per_rec"] = 1e6 / n_docs * \
            tracer.median_time(
                "streaming.es_sink.write_arrow",
                lambda: docs.mapInArrow(writer, STATS_SCHEMA).collect(),
                PROBE_REPEATS)
        actions = [(r.index_name, r.doc_id, r.payload)
                   for r in docs.limit(cfg.batch_size).collect()]
        transport = HttpTransport(es.url)
        out["streaming.es_sink.bulk_rtt_ms_p50"] = 1000 * tracer.median_time(
            "streaming.es_sink.bulk_create",
            lambda: transport.bulk_create(actions), 30)
        docs.unpersist()
        src.unpersist()
        return out
    finally:
        es.stop()
