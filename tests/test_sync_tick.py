"""``MergeSinkJob`` per micro-batch: an empty batch writes nothing, an
unchanged batch skips the merge but still advances the watermark, the
history lists only the actions that occurred, and a failure of the
fingerprint that runs beside the first batch's merge fails the batch
without leaving its thread behind."""

from __future__ import annotations

import datetime
import os
import threading
import time

import pytest

from hephaestus_spark.streaming import sinks
from hephaestus_spark.streaming.pipeline import (
    EMPLOYEE_COMPARE_COLS,
    EmployeeSyncPipeline,
    clean_employees,
)
from tests.test_streaming_pipeline import ROWS_DAY1, _write_feed

FEED_SCHEMA = (
    "id long, fullname string, shortname string, position string,"
    " email string, phone string, feed_date date"
)


def _sink(tmp_path) -> sinks.MergeSinkJob:
    return sinks.MergeSinkJob(
        target=sinks.ParquetSnapshotTarget(
            str(tmp_path / "snap"), "id", EMPLOYEE_COMPARE_COLS
        ),
        fingerprint_cols=["id"] + EMPLOYEE_COMPARE_COLS,
        watermark=sinks.WatermarkTable(str(tmp_path / "wm")),
        watermark_date_col="feed_date",
    )


def _batch(spark, rows, day):
    return clean_employees(
        spark.createDataFrame([r + (datetime.date(2024, 1, day),) for r in rows], FEED_SCHEMA)
    )


def _listing(path):
    return sorted(os.listdir(path))


def test_empty_batch_writes_neither_snapshot_nor_watermark(spark, tmp_path):
    sink = _sink(tmp_path)
    empty = _batch(spark, [], 1)
    sink(empty, 0)  # first batch of a drain: nothing to seed the skip with
    assert not os.path.exists(sink.target.path)
    assert not os.path.exists(sink.watermark.path)
    assert sink.history == []

    sink(_batch(spark, ROWS_DAY1, 1), 1)
    snap, wm = _listing(sink.target.path), _listing(sink.watermark.path)
    sink(empty, 2)  # after a merged batch: the fingerprint gates it
    assert _listing(sink.target.path) == snap
    assert _listing(sink.watermark.path) == wm
    assert sink.watermark.read(spark) == datetime.date(2024, 1, 1)
    assert [h["batch_id"] for h in sink.history] == [1]


def test_identical_files_in_one_drain_skip_merge_and_advance_watermark(
    spark, tmp_path, monkeypatch
):
    feed = str(tmp_path / "feed")
    os.makedirs(feed)
    # same rows, later feed date: the fingerprint covers the rows only
    _write_feed(spark, feed, ROWS_DAY1, day=1, idx=0)
    _write_feed(spark, feed, ROWS_DAY1, day=2, idx=1)
    merges = []
    real = sinks.ParquetSnapshotTarget.merge_batch

    def counted(self, spark, staged):
        merges.append(1)
        return real(self, spark, staged)

    monkeypatch.setattr(sinks.ParquetSnapshotTarget, "merge_batch", counted)
    pipe = EmployeeSyncPipeline(feed, str(tmp_path / "snap"), str(tmp_path / "wm"))
    sink = pipe.run_available_now(spark)
    assert sink.history == [
        {"batch_id": 0, "skipped": False, "insert": 4},
        {"batch_id": 1, "skipped": True},
    ]
    assert len(merges) == 1
    assert sinks.WatermarkTable(pipe.watermark_path).read(spark) == datetime.date(2024, 1, 2)


def test_failed_concurrent_fingerprint_fails_batch_and_joins_thread(
    spark, tmp_path, monkeypatch
):
    ran_on = []

    def failing(df, cols, **kw):
        ran_on.append(threading.current_thread())
        time.sleep(0.5)  # still running when the merge returns
        raise RuntimeError("fingerprint failed")

    monkeypatch.setattr(sinks, "batch_fingerprint", failing)
    sink = _sink(tmp_path)
    before = set(threading.enumerate())
    with pytest.raises(RuntimeError, match="fingerprint failed"):
        sink(_batch(spark, ROWS_DAY1, 1), 0)
    assert ran_on and ran_on[0] is not threading.current_thread()
    assert not ran_on[0].is_alive()
    assert set(threading.enumerate()) <= before
    assert sink.history == [] and sink.last_hash is None
    assert not os.path.exists(sink.watermark.path)
