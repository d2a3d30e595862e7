"""Golden landed feed files: what ``FeedPoller`` writes for one poll of
each feed — the parquet schema (nullability included, as Spark records
it in the file), the physical column types and every row, in payload
order, in exactly one file per poll.

The payloads cover proto3 defaults (absent fields, an empty message),
unknown fields, non-ASCII strings, Timestamp submessages (set and
zero) and repeated fields (empty and not), so a change to where or how
the payloads are decoded cannot change what the pipelines read."""

from __future__ import annotations

import datetime
import glob
import json

import pyarrow.parquet as pq

from hephaestus_spark.sources import protodecode as pc
from hephaestus_spark.sources.grpc_source import FeedPoller, InProcessTransport

UNKNOWN = pc._encode_field(99, "string", "future") + pc._encode_field(98, "int64", 7)

EMPLOYEE_PAYLOADS = [
    pc.encode_message(
        {"id": 1, "fullname": "Ann A", "shortname": "ann", "position": "eng",
         "email": "a@b.co", "phone": "+380961234567"},
        pc.EMPLOYEE_FIELDS,
    ),
    pc.encode_message({"id": 2}, pc.EMPLOYEE_FIELDS) + UNKNOWN,
    b"",
    pc.encode_message({"id": 3, "fullname": "Żółć ✓"}, pc.EMPLOYEE_FIELDS),
]
TASK_PAYLOADS = [
    pc.encode_message(
        {"id": 101, "type": "install", "creation_date": 1704067200,
         "closing_date": 1704153600, "description": "d", "address": "a st",
         "customer_name": "C", "customer_login": "c1", "comments": ["x", "y"],
         "executors": [1, 22], "is_closed": True},
        pc.TASK_FIELDS,
    ),
    UNKNOWN + pc.encode_message({"id": 102}, pc.TASK_FIELDS),
]


def _spark_fields(names_types, date_name="feed_date"):
    return [
        {"name": n, "type": t, "nullable": n != date_name, "metadata": {}}
        for n, t in names_types
    ]


STRING_ARRAY = {"type": "array", "elementType": "string", "containsNull": True}

EMPLOYEE_SPARK_FIELDS = _spark_fields(
    [("id", "long"), ("fullname", "string"), ("shortname", "string"),
     ("position", "string"), ("email", "string"), ("phone", "string"),
     ("feed_date", "date")]
)
TASK_SPARK_FIELDS = _spark_fields(
    [("id", "long"), ("type", "string"), ("created_at", "timestamp"),
     ("closed_at", "timestamp"), ("description", "string"), ("address", "string"),
     ("customer_name", "string"), ("customer_login", "string"),
     ("comments", STRING_ARRAY), ("executors", STRING_ARRAY),
     ("is_closed", "boolean"), ("feed_date", "date")]
)

EMPLOYEE_ARROW = [
    ("id", "int64"), ("fullname", "string"), ("shortname", "string"),
    ("position", "string"), ("email", "string"), ("phone", "string"),
    ("feed_date", "date32[day]"),
]
TASK_ARROW = [
    ("id", "int64"), ("type", "string"), ("created_at", "timestamp[ns]"),
    ("closed_at", "timestamp[ns]"), ("description", "string"), ("address", "string"),
    ("customer_name", "string"), ("customer_login", "string"),
    ("comments", "list<element: string>"), ("executors", "list<element: string>"),
    ("is_closed", "bool"), ("feed_date", "date32[day]"),
]

EMP_DAY = datetime.date(2024, 1, 2)
EMPLOYEE_ROWS = [
    {"id": 1, "fullname": "Ann A", "shortname": "ann", "position": "eng",
     "email": "a@b.co", "phone": "+380961234567", "feed_date": EMP_DAY},
    {"id": 2, "fullname": "", "shortname": "", "position": "", "email": "",
     "phone": "", "feed_date": EMP_DAY},
    {"id": 0, "fullname": "", "shortname": "", "position": "", "email": "",
     "phone": "", "feed_date": EMP_DAY},
    {"id": 3, "fullname": "Żółć ✓", "shortname": "", "position": "", "email": "",
     "phone": "", "feed_date": EMP_DAY},
]
TASK_DAY = datetime.date(2024, 1, 1)
EPOCH = datetime.datetime(1970, 1, 1)
TASK_ROWS = [
    {"id": 101, "type": "install", "created_at": datetime.datetime(2024, 1, 1),
     "closed_at": datetime.datetime(2024, 1, 2), "description": "d",
     "address": "a st", "customer_name": "C", "customer_login": "c1",
     "comments": ["x", "y"], "executors": ["1", "22"], "is_closed": True,
     "feed_date": TASK_DAY},
    {"id": 102, "type": "", "created_at": EPOCH, "closed_at": EPOCH,
     "description": "", "address": "", "customer_name": "", "customer_login": "",
     "comments": [], "executors": [], "is_closed": False, "feed_date": TASK_DAY},
]


def _landed(feed_dir):
    files = glob.glob(f"{feed_dir}/*.parquet")
    assert len(files) == 1, files  # one file per poll
    table = pq.read_table(files[0])
    meta = json.loads(table.schema.metadata[b"org.apache.spark.sql.parquet.row.metadata"])
    return table, meta


def test_employee_poll_lands_golden_file(spark, tmp_path):
    t = InProcessTransport(employee_payloads=EMPLOYEE_PAYLOADS)
    poller = FeedPoller(transport=t, employee_feed_dir=str(tmp_path / "e"))
    assert poller.poll_employees_once(spark, EMP_DAY) == len(EMPLOYEE_PAYLOADS)
    table, meta = _landed(tmp_path / "e")
    assert meta == {"type": "struct", "fields": EMPLOYEE_SPARK_FIELDS}
    assert [(f.name, str(f.type)) for f in table.schema] == EMPLOYEE_ARROW
    assert table.to_pylist() == EMPLOYEE_ROWS


def test_task_poll_lands_golden_file(spark, tmp_path):
    t = InProcessTransport(task_payloads_by_date={"2024-01-01": TASK_PAYLOADS})
    poller = FeedPoller(transport=t, task_feed_dir=str(tmp_path / "t"))
    assert poller.poll_tasks_for_date(spark, TASK_DAY) == len(TASK_PAYLOADS)
    table, meta = _landed(tmp_path / "t")
    assert meta == {"type": "struct", "fields": TASK_SPARK_FIELDS}
    assert [(f.name, str(f.type)) for f in table.schema] == TASK_ARROW
    assert table.to_pylist() == TASK_ROWS
