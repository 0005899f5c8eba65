"""Kafka-shaped inputs for the `backfill` workload, and what the service
must make of them.

Everything here is computed from the generator's own values, apart from the
program: the Avro encoder is this file's, and the expected ``_index``,
``_id`` and document follow the reference injector's routing (SURVEY.md
§2.1): ``_index`` is ``ES_INDEX_PREFIX + topic + "-" + yyyy-MM-dd`` of the
Kafka timestamp, ``_id`` is ``"<partition>:<offset>"``, and the document is
the decoded payload plus ``@timestamp`` (epoch millis of the Kafka
timestamp).
"""

from __future__ import annotations

import os
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TOPIC = "events"
PARTITIONS = 4
KAFKA_SCHEMA = pa.schema([
    ("key", pa.binary()), ("value", pa.binary()), ("topic", pa.string()),
    ("partition", pa.int32()), ("offset", pa.int64()),
    ("timestamp", pa.timestamp("us", tz="UTC")),
])
SPARK_SOURCE_DDL = ("key binary, value binary, topic string, partition int, "
                    "offset bigint, timestamp timestamp")

# ------------------------------------------------------------------ Avro

WRITER_ID = 1
UNKNOWN_WRITER_ID = 999
WRITER_SCHEMA = {
    "type": "record", "name": "Event", "namespace": "bench",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "user", "type": "string"},
        {"name": "amount", "type": "double"},
        {"name": "note", "type": ["null", "string"]},
        {"name": "geo", "type": {
            "type": "record", "name": "Geo",
            "fields": [{"name": "lat", "type": "double"},
                       {"name": "lon", "type": "double"}]}},
        {"name": "tags", "type": {"type": "array", "items": "string"}},
        {"name": "created",
         "type": {"type": "long", "logicalType": "timestamp-millis"}},
    ],
}

USERS = [f"user-{i:04d}" for i in range(500)]
NOTES = ["ok", "retry later", "über ünïcode", 'quote " and \\ slash',
         "x" * 40]
TAG_POOL = ["a", "b", "ingest", "spark", "élan", "kafka", "es", "bulk"]
TAG_SETS = [TAG_POOL[i:i + n] for n in range(4) for i in range(5)]
EPOCH_MS = 1_700_000_000_000


def zigzag_varint(n: int) -> bytes:
    n = (n << 1) ^ (n >> 63)
    out = bytearray()
    while n & ~0x7F:
        out.append((n & 0x7F) | 0x80)
        n >>= 7
    out.append(n)
    return bytes(out)


def avro_string(s: str) -> bytes:
    b = s.encode()
    return zigzag_varint(len(b)) + b


_USER_BYTES = [avro_string(u) for u in USERS]
_NOTE_BYTES = [b"\x00"] + [b"\x02" + avro_string(n) for n in NOTES]
_TAG_BYTES = [(zigzag_varint(len(t)) + b"".join(avro_string(x) for x in t)
               + b"\x00") if t else b"\x00" for t in TAG_SETS]
_pack_d = struct.Struct("<d").pack
_pack_dd = struct.Struct("<dd").pack


def wire(schema_id: int, body: bytes) -> bytes:
    """Confluent framing: magic 0, big-endian schema id, Avro body."""
    return b"\x00" + struct.pack(">i", schema_id) + body


class Corpus:
    """Column arrays of one generated stream; record i is row i."""

    def __init__(self, n: int, seed: int, poison_every: int | None):
        rng = np.random.default_rng(seed)
        self.n = n
        self.ids = np.arange(n, dtype=np.int64) + seed * 10_000_000
        self.user = rng.integers(0, len(USERS), n)
        self.amount = np.round(rng.uniform(0, 5000, n), 2)
        self.note = rng.integers(0, len(_NOTE_BYTES), n)   # 0 = null
        self.lat = np.round(rng.uniform(-90, 90, n), 4)
        self.lon = np.round(rng.uniform(-180, 180, n), 4)
        self.tags = rng.integers(0, len(TAG_SETS), n)
        self.created = EPOCH_MS - rng.integers(0, 86_400_000, n)
        # Kafka coordinates: round-robin partitions, dense offsets; the
        # timestamps span three days so records route to three indices.
        self.partition = (np.arange(n) % PARTITIONS).astype(np.int32)
        self.offset = np.arange(n, dtype=np.int64) // PARTITIONS
        self.ts_ms = EPOCH_MS + (np.arange(n, dtype=np.int64)
                                * (3 * 86_400_000 // max(n, 1)))
        # Poison: one record in `poison_every`, cycling through a nil
        # payload, a truncated body and an unregistered writer id.
        self.poison = np.zeros(n, dtype=np.int8)
        if poison_every:
            idx = np.arange(rng.integers(0, poison_every), n, poison_every)
            self.poison[idx] = 1 + np.arange(len(idx)) % 3

    # kinds of poison, by code
    NIL, TRUNCATED, UNKNOWN_ID = 1, 2, 3

    def avro_values(self, lo: int, hi: int) -> list[bytes | None]:
        """Confluent-framed Avro values of records lo..hi-1."""
        out: list[bytes | None] = []
        append = out.append
        header = wire(WRITER_ID, b"")
        for r in zip(self.ids[lo:hi].tolist(), self.user[lo:hi].tolist(),
                     self.amount[lo:hi].tolist(), self.note[lo:hi].tolist(),
                     self.lat[lo:hi].tolist(), self.lon[lo:hi].tolist(),
                     self.tags[lo:hi].tolist(),
                     self.created[lo:hi].tolist(),
                     self.poison[lo:hi].tolist()):
            ident, user, amount, note, lat, lon, tags, created, kind = r
            if kind == self.NIL:
                append(None)
                continue
            body = b"".join((
                zigzag_varint(ident), _USER_BYTES[user], _pack_d(amount),
                _NOTE_BYTES[note], _pack_dd(lat, lon), _TAG_BYTES[tags],
                zigzag_varint(created)))
            if kind == self.TRUNCATED:
                append(header + body[:len(body) // 2])
            elif kind == self.UNKNOWN_ID:
                append(wire(UNKNOWN_WRITER_ID, body))
            else:
                append(header + body)
        return out

    def avro_value(self, i: int) -> bytes | None:
        return self.avro_values(i, i + 1)[0]

    def table(self, lo: int, hi: int) -> pa.Table:
        """Kafka-shaped rows lo..hi-1 as Arrow: no key, Avro values."""
        ts = self.ts_ms[lo:hi]
        return pa.table([
            pa.array([None] * (hi - lo), pa.binary()),
            pa.array(self.avro_values(lo, hi), pa.binary()),
            pa.array([TOPIC] * (hi - lo), pa.string()),
            pa.array(self.partition[lo:hi]), pa.array(self.offset[lo:hi]),
            pa.array(ts * 1000, pa.int64()).cast(
                pa.timestamp("us", tz="UTC")),
        ], schema=KAFKA_SCHEMA)

    # ------------------------------------------------------ expectations

    def doc_id(self, i: int) -> str:
        return f"{self.partition[i]}:{self.offset[i]}"

    def expected(self, lo: int, hi: int, prefix: str
                 ) -> dict[str, tuple[str, dict]]:
        """{_id: (_index, document)} for the clean records lo..hi-1,
        documents without null fields (see checks.normalize)."""
        ts = self.ts_ms[lo:hi]
        days = (ts // 86_400_000).astype("datetime64[D]").astype(str)
        out = {}
        for r in zip(self.partition[lo:hi].tolist(),
                     self.offset[lo:hi].tolist(), self.ids[lo:hi].tolist(),
                     self.user[lo:hi].tolist(), self.amount[lo:hi].tolist(),
                     self.note[lo:hi].tolist(), self.lat[lo:hi].tolist(),
                     self.lon[lo:hi].tolist(), self.tags[lo:hi].tolist(),
                     self.created[lo:hi].tolist(), ts.tolist(),
                     days.tolist(), self.poison[lo:hi].tolist()):
            (part, off, ident, user, amount, note, lat, lon, tags, created,
             ms, day, kind) = r
            if kind:
                continue
            doc = {"id": ident, "user": USERS[user], "amount": amount,
                   "geo": {"lat": lat, "lon": lon},
                   "tags": list(TAG_SETS[tags]), "created": created,
                   "@timestamp": ms}
            if note:
                doc["note"] = NOTES[note - 1]
            out[f"{part}:{off}"] = (f"{prefix}{TOPIC}-{day}", doc)
        return out


def write_file(table: pa.Table, directory: str, name: str) -> str:
    """Write atomically: a hidden temp name, then a rename into place."""
    tmp = os.path.join(directory, f".{name}.tmp")
    pq.write_table(table, tmp, compression="none")
    path = os.path.join(directory, name)
    os.rename(tmp, path)
    return path
