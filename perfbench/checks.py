"""Checkers: what the program delivered against what it should deliver.

The expected side is always computed apart from the program: documents and
dead letters from the stream generator's values (streamgen.py), query rows
from the DuckDB oracle SQL. Each checker returns its failures as
{operation: what went wrong}, one entry per failed operation (a record's
``"<partition>:<offset>"``, a query's name); an empty dict means the output
is correct. The workloads report the number of entries as failed
operations.
"""

from __future__ import annotations

import datetime as dt
import json

Failures = dict[str, str]


def merge(*parts: Failures) -> Failures:
    """One failure per operation, joining the reasons of an operation
    that more than one checker failed."""
    out: Failures = {}
    for part in parts:
        for op, why in part.items():
            out[op] = f"{out[op]}; {why}" if op in out else why
    return out


def parse_bulks(bulks: list[tuple[int, bytes]]
                ) -> tuple[dict[str, tuple[str, dict, int]], Failures]:
    """Index the stored ``_bulk`` bodies by ``_id``.

    Returns ({_id: (_index, document, receive time ns)}, failures); an
    ``_id`` sent twice fails (the service must deliver each record once),
    and so does a body that is not NDJSON action/document pairs."""
    docs: dict[str, tuple[str, dict, int]] = {}
    failures: Failures = {}
    for k, (received, body) in enumerate(bulks):
        # NDJSON lines -> one JSON array, parsed in one call.
        try:
            items = json.loads(b"[" + body.rstrip(b"\n").replace(b"\n", b",")
                               + b"]")
        except ValueError:
            failures[f"bulk {k}"] = "body is not NDJSON"
            continue
        if len(items) % 2:
            failures[f"bulk {k}"] = f"body with {len(items)} lines (odd)"
            continue
        for j in range(0, len(items), 2):
            action = items[j]["create"]
            _id = action["_id"]
            if _id in docs:
                failures[_id] = "document delivered twice"
                continue
            docs[_id] = (action["_index"], items[j + 1], received)
    return docs, failures


def _epoch_ms(value) -> int | None:
    """Epoch millis from an int, or from an ISO-8601 instant string (how
    a JSON encoder may render an Avro ``timestamp-millis``)."""
    if isinstance(value, int):
        return value
    if isinstance(value, str):
        try:
            t = dt.datetime.fromisoformat(value.replace("Z", "+00:00"))
        except ValueError:
            return None
        if t.tzinfo is None:
            return None
        delta = t - dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
        return (delta.days * 86_400_000 + delta.seconds * 1000
                + delta.microseconds // 1000)
    return None


def normalize(doc: dict, instant_fields: frozenset[str] = frozenset()
              ) -> dict:
    """Canonical form of a document for comparison: a null top-level
    field and an absent one index the same in Elasticsearch, so nulls
    are dropped; instant fields compare as epoch millis."""
    out = {k: v for k, v in doc.items() if v is not None}
    for k in instant_fields & out.keys():
        out[k] = _epoch_ms(out[k])
    return out


def check_docs(docs: dict[str, tuple[str, dict, int]],
               expected: dict[str, tuple[str, dict]],
               instant_fields: frozenset[str] = frozenset()) -> Failures:
    """Every expected document arrived with its index and content, and
    nothing else arrived. Expected documents are given in normalized
    form."""
    failures: Failures = {i: "unexpected document" for i in docs
                          if i not in expected}
    for _id, (index, doc) in expected.items():
        got = docs.get(_id)
        if got is None:
            failures[_id] = "document missing"
            continue
        wrong = []
        if got[0] != index:
            wrong.append(f"index {got[0]!r}, expected {index!r}")
        if normalize(got[1], instant_fields) != doc:
            wrong.append(f"content {got[1]}, expected {doc}")
        if wrong:
            failures[_id] = "; ".join(wrong)
    return failures


# Dead-letter reasons by poison kind: an exact reason, or a required
# prefix plus a substring the reason must name.
def reason_ok(kind: str, reason: str | None) -> bool:
    if reason is None:
        return False
    if kind == "nil":
        return reason == "null_payload"
    if kind == "truncated":
        return reason.startswith("decode_error: ")
    if kind == "unknown_id":
        return reason.startswith("decode_error: ") and "999" in reason
    return False


def check_dead_letters(rows: list[dict],
                       expected: dict[str, tuple[str, dict]]) -> Failures:
    """Every poison record was quarantined once, with its raw envelope
    and the right reason, and no clean record was.

    `rows`: the dead-letter store's rows (key, value, topic, partition,
    offset, _drop_reason, ...); `expected`: {"p:o": (kind, envelope)}."""
    failures: Failures = {}
    seen: set[str] = set()
    for r in rows:
        _id = f"{r['partition']}:{r['offset']}"
        reason = r.get("_drop_reason")
        if _id in seen:
            failures[_id] = "quarantined twice"
            continue
        seen.add(_id)
        want = expected.get(_id)
        if want is None:
            failures[_id] = f"clean record quarantined ({reason})"
            continue
        kind, envelope = want
        wrong = [f"dead-letter {col} differs" for col, v in envelope.items()
                 if r.get(col) != v]
        if not reason_ok(kind, reason):
            wrong.insert(0, f"{kind} record quarantined with reason "
                            f"{reason!r}")
        if wrong:
            failures[_id] = "; ".join(wrong)
    for _id, (kind, _) in expected.items():
        if _id not in seen:
            failures[_id] = f"{kind} record not quarantined"
    return failures


def check_query(name: str, spark_cols: list[str], spark_rows: list[tuple],
                oracle_cols: list[str], oracle_rows: list[tuple]
                ) -> Failures:
    """A query's rows against its oracle's, as an order-free multiset of
    full-precision values (the comparison of tests/oracle.py)."""
    from tests.oracle import _multiset

    if sorted(spark_cols) != sorted(oracle_cols):
        return {name: f"columns {spark_cols} vs oracle {oracle_cols}"}
    s = _multiset(spark_rows, [spark_cols.index(c)
                               for c in sorted(spark_cols)])
    o = _multiset(oracle_rows, [oracle_cols.index(c)
                                for c in sorted(oracle_cols)])
    if s == o:
        return {}
    return {name: f"{len(spark_rows)} rows vs oracle {len(oracle_rows)}; "
                  f"only in spark {list((s - o).items())[:2]}, only in "
                  f"oracle {list((o - s).items())[:2]}"}
