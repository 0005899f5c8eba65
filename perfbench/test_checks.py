"""Fast tests of the benchmark's own checkers, on tiny inputs.

    python3 -m pytest perfbench/test_checks.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import checks, streamgen  # noqa: E402
from perfbench.fake_es import bulk_reply, read_bulks  # noqa: E402

N = 12


@pytest.fixture()
def corpus():
    return streamgen.Corpus(N, seed=5, poison_every=4)


def expected_docs(corpus, prefix="p-"):
    return corpus.expected(0, N, prefix)


def bulk(entries) -> tuple[int, bytes]:
    lines = []
    for _id, index, doc in entries:
        lines.append(json.dumps({"create": {"_index": index, "_id": _id}}))
        lines.append(json.dumps(doc))
    return 1, ("\n".join(lines) + "\n").encode()


def delivered(expected):
    return [bulk([(i, idx, doc) for i, (idx, doc) in expected.items()])]


def failures_for(bulks, expected):
    docs, failures = checks.parse_bulks(bulks)
    return checks.merge(failures, checks.check_docs(docs, expected))


def test_correct_delivery_passes(corpus):
    exp = expected_docs(corpus)
    assert failures_for(delivered(exp), exp) == {}


def test_missing_document_rejected(corpus):
    exp = expected_docs(corpus)
    entries = [(i, idx, doc) for i, (idx, doc) in exp.items()]
    assert failures_for([bulk(entries[1:])], exp) == {
        entries[0][0]: "document missing"}


def test_duplicate_rejected(corpus):
    exp = expected_docs(corpus)
    first = next(iter(exp.items()))
    bulks = delivered(exp) + [bulk([(first[0], *first[1])])]
    assert failures_for(bulks, exp) == {
        first[0]: "document delivered twice"}


def test_changed_payload_field_rejected(corpus):
    exp = expected_docs(corpus)
    entries = [(i, idx, dict(doc)) for i, (idx, doc) in exp.items()]
    entries[0][2]["amount"] += 0.01
    failures = failures_for([bulk(entries)], exp)
    assert list(failures) == [entries[0][0]]
    assert "content" in failures[entries[0][0]]
    entries[0][2]["amount"] -= 0.01
    entries[0][2]["tags"] = entries[0][2]["tags"] + ["extra"]
    assert "content" in failures_for([bulk(entries)], exp)[entries[0][0]]


def test_wrong_index_rejected(corpus):
    exp = expected_docs(corpus)
    entries = [(i, idx, doc) for i, (idx, doc) in exp.items()]
    entries[0] = (entries[0][0], "other-index", entries[0][2])
    failures = failures_for([bulk(entries)], exp)
    assert list(failures) == [entries[0][0]]
    assert "index 'other-index'" in failures[entries[0][0]]


def test_unexpected_document_rejected(corpus):
    exp = expected_docs(corpus)
    bulks = delivered(exp) + [bulk([("9:9", "p-x", {"id": 1})])]
    assert failures_for(bulks, exp) == {"9:9": "unexpected document"}


def test_each_bad_record_is_one_failed_operation(corpus):
    exp = expected_docs(corpus)
    entries = [(i, idx, dict(doc)) for i, (idx, doc) in exp.items()]
    entries[1] = (entries[1][0], "other-index", entries[1][2])
    entries[2][2]["user"] = "someone else"
    entries[2] = (entries[2][0], "other-index", entries[2][2])
    bulks = [bulk(entries[1:]), bulk(entries[3:4]), (1, b"not ndjson\n")]
    failures = failures_for(bulks, exp)
    # missing, wrong index, wrong index and content (one record),
    # duplicate, and the body that is not NDJSON.
    assert sorted(failures) == sorted(
        [e[0] for e in entries[:4]] + ["bulk 2"])
    assert "index" in failures[entries[2][0]]
    assert "content" in failures[entries[2][0]]


def test_null_and_absent_fields_agree_and_instants_compare_by_value():
    want = {"a": 1, "created": 1_700_000_000_123}
    got = {"a": 1, "note": None, "created": "2023-11-14T22:13:20.123Z"}
    f = frozenset({"created"})
    assert checks.normalize(got, f) == want
    got["created"] = "2023-11-14T22:13:20.124Z"
    assert checks.normalize(got, f) != want


def test_expected_documents_follow_the_routing_rules(corpus):
    exp = corpus.expected(0, N, "p-")
    assert len(exp) == N - int((corpus.poison > 0).sum())
    _id, (index, doc) = next(iter(exp.items()))
    part, off = map(int, _id.split(":"))
    i = off * streamgen.PARTITIONS + part
    assert index == "p-events-2023-11-14"       # day of EPOCH_MS, UTC
    assert doc["@timestamp"] == corpus.ts_ms[i]
    assert doc["id"] == corpus.ids[i]


def dead_rows(corpus, kinds):
    rows = []
    for i in range(N):
        if corpus.poison[i]:
            reason = {"nil": "null_payload",
                      "truncated": "decode_error: AvroError: short read",
                      "unknown_id": "decode_error: fetch /schemas/ids/999"
                      }[kinds[int(corpus.poison[i])]]
            rows.append({"partition": int(corpus.partition[i]),
                         "offset": int(corpus.offset[i]),
                         "value": corpus.avro_value(i),
                         "_drop_reason": reason})
    return rows


KINDS = {1: "nil", 2: "truncated", 3: "unknown_id"}


def expected_dead(corpus):
    return {corpus.doc_id(i): (KINDS[int(corpus.poison[i])],
                               {"value": corpus.avro_value(i)})
            for i in range(N) if corpus.poison[i]}


def test_dead_letters_pass_and_reject(corpus):
    exp = expected_dead(corpus)
    rows = dead_rows(corpus, KINDS)
    ids = [f"{r['partition']}:{r['offset']}" for r in rows]
    assert len(rows) == 3
    assert checks.check_dead_letters(rows, exp) == {}
    assert list(checks.check_dead_letters(rows[1:], exp)) == ids[:1]
    assert list(checks.check_dead_letters(rows + rows[:1], exp)) == ids[:1]
    wrong = [dict(r) for r in rows]
    wrong[0]["_drop_reason"] = "decode_error: something"
    assert list(checks.check_dead_letters(wrong, exp)) == ids[:1]
    wrong = [dict(r) for r in rows]
    wrong[0]["value"] = b"\x00"
    assert list(checks.check_dead_letters(wrong, exp)) == ids[:1]
    clean = {"partition": 9, "offset": 9, "_drop_reason": "null_payload"}
    assert list(checks.check_dead_letters(rows + [clean], exp)) == ["9:9"]


def test_query_rows_against_oracle():
    cols = ["k", "v"]
    rows = [(1, 0.5), (2, 0.25)]
    assert checks.check_query("q", cols, rows, ["v", "k"],
                              [(0.25, 2), (0.5, 1)]) == {}
    assert list(checks.check_query("q", cols, rows, cols,
                                   [(1, 0.5), (2, 0.3)])) == ["q"]
    assert list(checks.check_query("q", cols, rows, cols, [(1, 0.5)])) \
        == ["q"]
    assert list(checks.check_query("q", cols, rows, ["k", "w"], rows)) \
        == ["q"]


def test_avro_zigzag_matches_the_spec():
    # Avro 1.11 spec, "Data Serialization": zig-zag varints.
    assert streamgen.zigzag_varint(0) == b"\x00"
    assert streamgen.zigzag_varint(-1) == b"\x01"
    assert streamgen.zigzag_varint(1) == b"\x02"
    assert streamgen.zigzag_varint(-64) == b"\x7f"
    assert streamgen.zigzag_varint(64) == b"\x80\x01"


def test_poison_cycles_through_every_kind(corpus):
    kinds = {int(k) for k in corpus.poison if k}
    assert kinds == {1, 2, 3}
    assert corpus.avro_value(int(list(corpus.poison).index(1))) is None


def test_bulk_store_round_trip(tmp_path):
    path = tmp_path / "bulks.bin"
    bodies = [b'{"create":{}}\n{"a":1}\n', b'{"create":{}}\n{"b":\n2}\n']
    with open(path, "wb") as f:
        for k, b in enumerate(bodies):
            f.write(b"%d %d\n" % (k, len(b)) + b)
    assert read_bulks(str(path)) == list(enumerate(bodies))
    assert json.loads(bulk_reply(2))["items"][1]["create"]["status"] == 201
