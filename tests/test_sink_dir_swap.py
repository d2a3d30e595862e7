"""The sync sinks publish each new table by a directory swap. A failed
publish rename must leave the previous table readable at its path —
for the employee sync's snapshot and watermark tables and for the task
sync's tasks and bridge tables alike."""

from __future__ import annotations

import datetime
import os

import pytest

from hephaestus_spark.streaming import sinks
from hephaestus_spark.streaming.pipeline import TASK_COMPARE_COLS, TaskSyncPipeline


def _fail_publish(monkeypatch, path: str) -> None:
    """Make the rename that publishes a new directory at ``path`` fail;
    every other rename (incl. putting the old directory back) works."""
    real = os.rename

    def rename(src, dst):
        if dst == path and ".old-" not in os.path.basename(src):
            raise OSError("publish failed")
        return real(src, dst)

    monkeypatch.setattr(os, "rename", rename)


def test_snapshot_and_watermark_survive_failed_publish(spark, tmp_path, monkeypatch):
    snap = str(tmp_path / "snap")
    target = sinks.ParquetSnapshotTarget(snap, "id", ["name"])
    target.merge_batch(spark, spark.createDataFrame([(1, "a")], "id long, name string"))
    wm = sinks.WatermarkTable(str(tmp_path / "wm"))
    wm.write(spark, datetime.date(2024, 1, 1), 0)

    _fail_publish(monkeypatch, snap)
    with pytest.raises(OSError):
        target.merge_batch(
            spark, spark.createDataFrame([(2, "b")], "id long, name string")
        )
    _fail_publish(monkeypatch, wm.path)
    with pytest.raises(OSError):
        wm.write(spark, datetime.date(2024, 1, 2), 1)
    monkeypatch.undo()

    assert [(r["id"], r["name"]) for r in target.read(spark).collect()] == [(1, "a")]
    assert wm.read(spark) == datetime.date(2024, 1, 1)
    assert sorted(os.listdir(tmp_path)) == ["snap", "wm"]


def _tasks(spark, rows):
    ts = datetime.datetime(2024, 1, 5, 12, 0, 0)
    return spark.createDataFrame(
        [(i, "T", ts, None, "d", addr, "c", "l", ["x"], ex, False)
         for i, addr, ex in rows],
        "id long, type string, created_at timestamp, closed_at timestamp,"
        " description string, address string, customer_name string,"
        " customer_login string, comments array<string>,"
        " executors array<string>, is_closed boolean",
    )


def test_task_tables_survive_failed_publish(spark, tmp_path, monkeypatch):
    pipe = TaskSyncPipeline(
        str(tmp_path / "feed"),
        str(tmp_path / "tasks"),
        str(tmp_path / "bridge"),
        str(tmp_path / "wm"),
    )
    first = _tasks(spark, [(101, "a st", ["E1"])])
    pipe._merge_tasks(spark, first.select("id", *TASK_COMPARE_COLS, "executors"))
    pipe._rebuild_bridge(spark, first)

    second = _tasks(spark, [(101, "b st", ["E2"]), (102, "c st", ["E3"])])
    _fail_publish(monkeypatch, pipe.tasks_path)
    with pytest.raises(OSError):
        pipe._merge_tasks(
            spark, second.select("id", *TASK_COMPARE_COLS, "executors")
        )
    _fail_publish(monkeypatch, pipe.bridge_path)
    with pytest.raises(OSError):
        pipe._rebuild_bridge(spark, second)
    monkeypatch.undo()

    tasks = spark.read.parquet(pipe.tasks_path).collect()
    assert [(r["id"], r["address"]) for r in tasks] == [(101, "a st")]
    bridge = spark.read.parquet(pipe.bridge_path).collect()
    assert [(r["task_id"], r["member"]) for r in bridge] == [(101, "E1")]
