"""Protobuf wire-format ingestion for the A4 feed decode step.

The reference receives Employee/Task batches as protobuf over gRPC
(/root/reference/internal/services/tasks/tasks.go:207-226,
employees/employees.go:144-158; messages from its olympus-protos repo,
which is not vendored here — field numbers below define OUR wire
contract, field names/types mirror the reference models 1:1).

Two decode paths:

1. ``decode_protobuf`` (the scale path when available): Spark's built-in
   spark-protobuf connector (``from_protobuf`` + a compiled descriptor
   set) decodes JVM-side at wire speed. The jar isn't bundled in every
   distribution (not in this image), so it is probe-gated.
2. ``decode_message`` (always available): a pure-Python wire-format
   parser (varints + length-delimited fields — the public protobuf
   encoding, developers.google.com/protocol-buffers/docs/encoding).
   ``decode_columns`` turns its rows into one list per field, and that
   feeds both uses: ``decode_local`` for payloads that are already on
   the driver (an RPC response), handed to Spark as Arrow columns, and
   ``decode_employees`` / ``decode_tasks`` for payloads in a DataFrame,
   run as an Arrow-batched ``mapInPandas``.

The encoder half exists for test fixtures and the micro-batch replay
harness — production bytes come from the wire.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# wire primitives
# ---------------------------------------------------------------------------

_VARINT, _I64, _LEN, _I32 = 0, 1, 2, 5


def _read_varint(b: bytes, i: int) -> tuple[int, int]:
    shift = val = 0
    while True:
        byte = b[i]
        i += 1
        val |= (byte & 0x7F) << shift
        if not byte & 0x80:
            return val, i
        shift += 7


def _write_varint(v: int) -> bytes:
    out = bytearray()
    while True:
        byte = v & 0x7F
        v >>= 7
        if v:
            out.append(byte | 0x80)
        else:
            out.append(byte)
            return bytes(out)


def _skip(b: bytes, i: int, wire: int) -> int:
    if wire == _VARINT:
        return _read_varint(b, i)[1]
    if wire == _I64:
        return i + 8
    if wire == _LEN:
        n, i = _read_varint(b, i)
        return i + n
    if wire == _I32:
        return i + 4
    raise ValueError(f"unsupported wire type {wire}")


def decode_message(b: bytes, fields: dict[int, tuple[str, str]]) -> dict:
    """Decode one message given {field_no: (name, kind)}.

    kinds: int64, bool, string, rep_string, rep_int64 (packed or not),
    ts (google.protobuf.Timestamp-shaped submessage -> epoch seconds),
    bytes, rep_bytes (repeated submessage kept opaque).
    Unknown fields are skipped, per proto3 compatibility rules."""
    out: dict = {}
    i, end = 0, len(b)
    while i < end:
        start, tag = i, b[i]
        if tag < 0x80:  # one-byte varints (field numbers < 16) read inline
            i += 1
        else:
            tag, i = _read_varint(b, i)
        field_no, wire = tag >> 3, tag & 7
        spec = fields.get(field_no)
        if spec is None:
            i = _skip(b, i, wire)
            continue
        name, kind = spec
        if kind == "string":
            n = b[i]
            if n < 0x80:
                i += 1
            else:
                n, i = _read_varint(b, i)
            out[name] = b[i : i + n].decode("utf-8")
            i += n
        elif kind in ("int64", "bool"):
            v, i = _read_varint(b, i)
            out[name] = bool(v) if kind == "bool" else v
        elif kind == "rep_string":
            n, i = _read_varint(b, i)
            out.setdefault(name, []).append(b[i : i + n].decode("utf-8"))
            i += n
        elif kind == "rep_int64":
            if wire == _LEN:  # packed
                n, i = _read_varint(b, i)
                stop = i + n
                vals = out.setdefault(name, [])
                while i < stop:
                    v, i = _read_varint(b, i)
                    vals.append(v)
            else:
                v, i = _read_varint(b, i)
                out.setdefault(name, []).append(v)
        elif kind == "ts":
            n, i = _read_varint(b, i)
            sub = decode_message(b[i : i + n], {1: ("seconds", "int64"), 2: ("nanos", "int64")})
            out[name] = sub.get("seconds", 0)
            i += n
        elif kind == "bytes":
            n, i = _read_varint(b, i)
            out[name] = b[i : i + n]
            i += n
        elif kind == "rep_bytes":
            # A feed envelope is one run of thousands of entries under the
            # same tag: take the whole run here instead of one pass of the
            # outer loop per entry.
            vals = out.setdefault(name, [])
            tag_bytes, tag_len = b[start:i], i - start
            while True:
                n = b[i]
                if n < 0x80:
                    i += 1
                else:
                    n, i = _read_varint(b, i)
                vals.append(b[i : i + n])
                i += n
                if not b.startswith(tag_bytes, i):
                    break
                i += tag_len
        else:
            raise ValueError(f"unsupported kind {kind}")
    return out


def _encode_field(field_no: int, kind: str, v) -> bytes:
    if v is None:
        return b""
    tag_varint = _write_varint(field_no << 3 | _VARINT)
    tag_len = _write_varint(field_no << 3 | _LEN)
    if kind == "int64":
        return tag_varint + _write_varint(v)
    if kind == "bool":
        return tag_varint + _write_varint(1 if v else 0)
    if kind == "string":
        enc = v.encode("utf-8")
        return tag_len + _write_varint(len(enc)) + enc
    if kind == "rep_string":
        return b"".join(_encode_field(field_no, "string", s) for s in v)
    if kind == "rep_int64":  # packed, proto3 default
        body = b"".join(_write_varint(x) for x in v)
        return tag_len + _write_varint(len(body)) + body
    if kind == "ts":
        body = _encode_field(1, "int64", v)
        return tag_len + _write_varint(len(body)) + body
    if kind == "bytes":
        return tag_len + _write_varint(len(v)) + v
    if kind == "rep_bytes":
        return b"".join(_encode_field(field_no, "bytes", x) for x in v)
    raise ValueError(f"unsupported kind {kind}")


def encode_message(d: dict, fields: dict[int, tuple[str, str]]) -> bytes:
    return b"".join(
        _encode_field(no, kind, d.get(name)) for no, (name, kind) in fields.items()
    )


# ---------------------------------------------------------------------------
# message contracts (field names/types = reference models 1:1)
# ---------------------------------------------------------------------------

EMPLOYEE_FIELDS: dict[int, tuple[str, str]] = {
    1: ("id", "int64"),
    2: ("fullname", "string"),
    3: ("shortname", "string"),
    4: ("position", "string"),
    5: ("email", "string"),
    6: ("phone", "string"),
}
EMPLOYEE_SCHEMA = (
    "id long, fullname string, shortname string, position string,"
    " email string, phone string"
)

TASK_FIELDS: dict[int, tuple[str, str]] = {
    1: ("id", "int64"),
    2: ("type", "string"),
    3: ("creation_date", "ts"),
    4: ("closing_date", "ts"),
    5: ("description", "string"),
    6: ("address", "string"),
    7: ("customer_name", "string"),
    8: ("customer_login", "string"),
    9: ("comments", "rep_string"),
    10: ("executors", "rep_int64"),
    11: ("is_closed", "bool"),
}
TASK_SCHEMA = (
    "id long, type string, creation_date long, closing_date long,"
    " description string, address string, customer_name string,"
    " customer_login string, comments array<string>,"
    " executors array<long>, is_closed boolean"
)

_DEFAULTS = {"int64": 0, "bool": False, "string": "", "rep_string": [], "rep_int64": [], "ts": 0}


def decode_columns(payloads, fields: dict[int, tuple[str, str]]) -> dict[str, list]:
    """Decode messages into one list per field, in field-number order,
    with the proto3 default wherever a message omits the field."""
    rows = [decode_message(b, fields) for b in payloads]
    return {
        name: [r.get(name, _DEFAULTS[kind]) for r in rows]
        for _, (name, kind) in sorted(fields.items())
    }


def decode_local(
    spark: SparkSession, payloads: list[bytes], fields: dict[int, tuple[str, str]], schema: str
) -> DataFrame:
    """Decode payloads that already live on the driver into a local
    relation of ``schema``, handed to Spark as Arrow columns: no Spark
    job and no Python worker."""
    return spark.createDataFrame(pa.table(decode_columns(payloads, fields)), schema)


def _decode_df(
    df: DataFrame, bytes_col: str, fields: dict[int, tuple[str, str]], schema: str
) -> DataFrame:
    """mapInPandas decode: Arrow batches in, typed Arrow batches out."""

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(decode_columns(pdf[bytes_col], fields))

    return df.mapInPandas(decode_batches, schema=schema)


def decode_employees(df: DataFrame, bytes_col: str = "payload") -> DataFrame:
    return _decode_df(df, bytes_col, EMPLOYEE_FIELDS, EMPLOYEE_SCHEMA)


def task_timestamps(df: DataFrame) -> DataFrame:
    """Epoch-second Task dates become proper timestamps (UTC session —
    session.py pins spark.sql.session.timeZone)."""
    return df.withColumn(
        "creation_date", F.timestamp_seconds("creation_date")
    ).withColumn("closing_date", F.timestamp_seconds("closing_date"))


def decode_tasks(df: DataFrame, bytes_col: str = "payload") -> DataFrame:
    return task_timestamps(_decode_df(df, bytes_col, TASK_FIELDS, TASK_SCHEMA))


def spark_protobuf_available(spark) -> bool:
    """True when the spark-protobuf connector jar is on the classpath —
    then ``pyspark.sql.protobuf.functions.from_protobuf`` with a
    compiled descriptor set is the preferred (JVM, codegen) decode path
    and the Arrow fallback above is unnecessary."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.spark.sql.protobuf.ProtobufDataToCatalyst"
        )
        return True
    except Exception:
        return False
