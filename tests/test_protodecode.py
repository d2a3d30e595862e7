"""A4 protobuf ingestion: wire bytes -> typed frames -> pipeline ops.

The fixtures are encoded with the module's own pure-Python encoder —
the byte layout is the standard protobuf wire format, so any proto3
library emitting the same field numbers produces identical bytes (spot-
checked below against a hand-assembled message).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hephaestus_spark.operators.cleaning import email_valid, repaired_email
from hephaestus_spark.sources.protodecode import (
    EMPLOYEE_FIELDS,
    TASK_FIELDS,
    _encode_field,
    _read_varint,
    _skip,
    decode_employees,
    decode_message,
    decode_tasks,
    encode_message,
    spark_protobuf_available,
)

EMPLOYEES = [
    {"id": 1, "fullname": "Ann A", "shortname": "ann", "position": "eng",
     "email": "ann@x.com", "phone": "+380501234567"},
    {"id": 2, "fullname": "Bob B", "shortname": "bob", "position": "ops",
     "email": "brokenmail", "phone": "050 123-45-68"},
]

TASKS = [
    {"id": 10, "type": "connect", "creation_date": 1700000000,
     "closing_date": 1700086400, "description": "hook up",
     "address": "1 main st", "customer_name": "C", "customer_login": "c1",
     "comments": ["first", "second"], "executors": [1, 2], "is_closed": True},
    {"id": 11, "type": "repair", "creation_date": 1700172800,
     "closing_date": 0, "description": "", "address": "",
     "customer_name": "D", "customer_login": "d1",
     "comments": [], "executors": [], "is_closed": False},
]


def test_wire_format_is_standard():
    # field 1 (id, varint): tag 0x08; field 2 (fullname, len-delim): tag 0x12
    b = encode_message({"id": 150, "fullname": "hi"}, EMPLOYEE_FIELDS)
    assert b == bytes([0x08, 0x96, 0x01, 0x12, 0x02]) + b"hi"
    # packed repeated int64 (field 10 -> tag 0x52) and bool (11 -> 0x58)
    t = encode_message({"executors": [3, 270], "is_closed": True}, TASK_FIELDS)
    assert t == bytes([0x52, 0x03, 0x03, 0x8E, 0x02, 0x58, 0x01])


def test_decode_skips_unknown_fields():
    # a future producer adds field 15 — today's reader must skip it
    extra = bytes([15 << 3 | 2, 0x03]) + b"xyz"
    b = encode_message(EMPLOYEES[0], EMPLOYEE_FIELDS) + extra
    assert decode_message(b, EMPLOYEE_FIELDS)["email"] == "ann@x.com"


def _decode_per_field(b, fields):
    """Reference decode of string / rep_bytes fields: one pass of the
    loop per field, with no special handling of a run of entries."""
    out, i = {}, 0
    while i < len(b):
        tag, i = _read_varint(b, i)
        spec = fields.get(tag >> 3)
        if spec is None:
            i = _skip(b, i, tag & 7)
            continue
        name, kind = spec
        n, i = _read_varint(b, i)
        value, i = b[i : i + n], i + n
        if kind == "rep_bytes":
            out.setdefault(name, []).append(value)
        else:
            out[name] = value.decode("utf-8")
    return out


@pytest.mark.parametrize("payload_field", [1, 20])  # one- and two-byte tags
def test_repeated_bytes_run_matches_per_field_decode(payload_field):
    """A feed envelope's payloads are consumed as one run per tag; the
    result must equal the per-field decode when the run is broken by
    unknown fields and by the hash field, before, between and after the
    payloads, for empty and multi-byte-length payloads."""
    fields = {payload_field: ("payloads", "rep_bytes"), 2: ("new_hash", "string")}
    run = lambda ps: _encode_field(payload_field, "rep_bytes", ps)  # noqa: E731
    payloads = [b"", b"a", bytes(range(200)), b"\x0a\x0a", b"x" * 300]
    envelope = b"".join([
        _encode_field(2, "string", "first"),
        run(payloads[:2]),
        _encode_field(99, "string", "unknown"),  # two-byte unknown tag
        run(payloads[2:4]),
        _encode_field(3, "int64", 7),  # unknown varint
        _encode_field(2, "string", "middle"),
        run(payloads[4:]),
        _encode_field(4, "bytes", b"tail"),  # unknown, same wire type
        _encode_field(2, "string", "last"),
    ])
    want = _decode_per_field(envelope, fields)
    assert want == {"payloads": payloads, "new_hash": "last"}
    assert decode_message(envelope, fields) == want
    # a run that ends the message
    tail = _encode_field(2, "string", "h") + run(payloads)
    assert decode_message(tail, fields) == _decode_per_field(tail, fields)


def test_employee_feed_decodes_end_to_end(spark):
    payloads = [(encode_message(e, EMPLOYEE_FIELDS),) for e in EMPLOYEES]
    raw = spark.createDataFrame(payloads, "payload binary")
    decoded = decode_employees(raw)
    rows = {r.id: r for r in decoded.collect()}
    assert rows[1].fullname == "Ann A" and rows[1].phone == "+380501234567"
    assert rows[2].email == "brokenmail"
    # feeds straight into the A5/A6 cleaning ops (the reference pipeline)
    fixed = decoded.select(
        "id",
        repaired_email(F.col("id"), F.col("email")).alias("email"),
    )
    out = {r.id: r.email for r in fixed.collect()}
    assert out[1] == "ann@x.com"
    assert "@" in out[2]  # A5: invalid emails get a synthesized address
    assert fixed.filter(~email_valid(F.col("email"))).count() == 0


def test_task_feed_decodes_end_to_end(spark):
    payloads = [(encode_message(t, TASK_FIELDS),) for t in TASKS]
    raw = spark.createDataFrame(payloads, "payload binary")
    decoded = decode_tasks(raw)
    assert dict(decoded.dtypes)["creation_date"] == "timestamp"
    rows = {r.id: r for r in decoded.collect()}
    assert rows[10].comments == ["first", "second"]
    assert rows[10].executors == [1, 2]
    assert rows[10].is_closed is True
    assert rows[10].creation_date.year == 2023
    # proto3 defaults: absent scalar fields come back zero-valued
    assert rows[11].description == "" and rows[11].is_closed is False
    assert rows[11].comments == [] and rows[11].executors == []


def test_decode_is_arrow_batched_not_row_udf(spark):
    payloads = [(encode_message(e, EMPLOYEE_FIELDS),) for e in EMPLOYEES]
    plan = decode_employees(
        spark.createDataFrame(payloads, "payload binary")
    )._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan


def test_jar_probe_is_honest(spark):
    # this image ships no spark-protobuf jar; the probe must say so
    # (on a cluster with the jar, from_protobuf is the preferred path)
    assert spark_protobuf_available(spark) is False
