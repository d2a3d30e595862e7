"""Spark-parallel VACUUM (r13, VERDICT r12 #4 — the Delta shape):
above the checkpoint-scale threshold, candidate listing runs one Spark
task per top-level dir, the unbounded checkpoint reference set stays a
Spark anti-join, and deletes run inside mapPartitions. Pinned here:
route equality with the driver path, the monkeypatch guard proving no
driver checkpoint materialization, and end-to-end reclamation on a
partitioned table."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from hephaestus_spark.sources.txlog import CHECKPOINT_INTERVAL, TxTable


def _rich_table(spark, path):
    """Partitioned table with history past a checkpoint and planted
    orphans."""
    t = TxTable(path)
    for i in range(CHECKPOINT_INTERVAL + 2):
        t.append(
            spark.createDataFrame(
                [(i, ["a", "b"][i % 2], float(i))],
                "id long, day string, val double",
            ),
            partition_by=["day"] if i == 0 else None,
        )
    t.delete(spark, "id = 1")
    assert t._checkpoint_versions()
    _plant_orphans(path)
    return t


def _restore_in_tail(spark, path):
    """A checkpoint-live file removed and re-added in the tail by a
    restore (its tombstones shed), with the same planted orphans."""
    t = TxTable(path)
    t.append(
        spark.createDataFrame(
            [(i, "a", float(i)) for i in range(6)],
            "id long, day string, val double",
        )
    )
    t.delete_mor(spark, "id = 0")
    for i in range(CHECKPOINT_INTERVAL - 1):
        t.append(
            spark.createDataFrame(
                [(10 + i, "b", float(i))], "id long, day string, val double"
            )
        )
    assert t._checkpoint_versions()
    t.restore(spark, 0)
    os.makedirs(os.path.join(path, "day=a"))
    _plant_orphans(path)
    return t


def _plant_orphans(path):
    """Orphans in the root AND inside a partition dir, plus an aborted
    stage dir."""
    for rel in ("part-orphan-root.parquet", "day=a/part-orphan-part.parquet"):
        with open(os.path.join(path, rel), "wb") as f:
            f.write(b"junk")
    os.makedirs(os.path.join(path, "_stage-deadbeef"))
    with open(os.path.join(path, "_stage-deadbeef", "x.parquet"), "wb") as f:
        f.write(b"junk")


def test_vacuum_spark_equals_driver_path(spark, tmp_path, monkeypatch):
    for build in (_rich_table, _restore_in_tail):
        with monkeypatch.context() as m:
            _check_vacuum_routes_equal(
                spark, build(spark, str(tmp_path / build.__name__)), m
            )


def _check_vacuum_routes_equal(spark, t, monkeypatch):
    driver_list = set(t.vacuum(grace_seconds=0, dry_run=True))
    # force the Spark route regardless of table size
    monkeypatch.setattr(TxTable, "DML_SPARK_PLAN_THRESHOLD", 0)
    spark_list = set(
        t.vacuum(grace_seconds=0, dry_run=True, spark=spark)
    )
    assert spark_list == driver_list
    assert "part-orphan-root.parquet" in spark_list
    assert "day=a/part-orphan-part.parquet" in spark_list
    assert "_stage-deadbeef" in spark_list
    # grace window protects everything on both routes
    assert t.vacuum(spark=spark) == []


def test_vacuum_spark_deletes_and_preserves_time_travel(
    spark, tmp_path, monkeypatch
):
    t = _rich_table(spark, str(tmp_path / "t"))
    monkeypatch.setattr(TxTable, "DML_SPARK_PLAN_THRESHOLD", 0)
    n_before = t.read(spark).count()
    deleted = t.vacuum(grace_seconds=0, spark=spark)
    assert set(deleted) >= {
        "part-orphan-root.parquet",
        "day=a/part-orphan-part.parquet",
        "_stage-deadbeef",
    }
    assert not os.path.exists(os.path.join(t.path, "part-orphan-root.parquet"))
    assert not os.path.exists(os.path.join(t.path, "_stage-deadbeef"))
    # live reads and historical reads intact (referenced files kept)
    assert t.read(spark).count() == n_before
    assert t.read(spark, version=0).count() == 1
    # idempotent: a second pass reclaims nothing
    assert t.vacuum(grace_seconds=0, spark=spark) == []


def test_vacuum_spark_no_driver_checkpoint_materialization(
    spark, tmp_path, monkeypatch
):
    """Above the threshold the driver must never fold a checkpoint —
    _load_checkpoint exploding proves the reference set stayed a
    Spark scan."""
    t = _rich_table(spark, str(tmp_path / "t"))
    monkeypatch.setattr(TxTable, "DML_SPARK_PLAN_THRESHOLD", 0)

    def boom(self, version):
        raise AssertionError("driver folded a checkpoint during vacuum")

    monkeypatch.setattr(TxTable, "_load_checkpoint", boom)
    got = set(t.vacuum(grace_seconds=0, dry_run=True, spark=spark))
    assert "part-orphan-root.parquet" in got


def test_vacuum_spark_falls_back_on_legacy_json_checkpoint(
    spark, tmp_path, monkeypatch
):
    """A legacy JSON-form checkpoint has no parquet the Spark path can
    scan — the route must REFOLD (driver path) rather than serve a
    partial reference set that would delete live data."""
    import json as _json

    t = _rich_table(spark, str(tmp_path / "t"))
    # rewrite the parquet checkpoint as the legacy JSON form
    for cv in t._checkpoint_versions():
        parts = t._complete_ckpt_parquet(cv)
        ck = t._load_checkpoint(cv)
        for p in parts:
            os.remove(p)
        with open(
            os.path.join(t.path, "_txlog", f"{cv:020d}.checkpoint.json"), "w"
        ) as f:
            _json.dump(ck, f)
    monkeypatch.setattr(TxTable, "DML_SPARK_PLAN_THRESHOLD", 0)
    driver_list = set(t.vacuum(grace_seconds=0, dry_run=True))
    got = set(t.vacuum(grace_seconds=0, dry_run=True, spark=spark))
    assert got == driver_list
    # and nothing live was reclaimed when executed for real
    n = t.read(spark).count()
    t.vacuum(grace_seconds=0, spark=spark)
    assert t.read(spark).count() == n


def test_vacuum_listing_skips_a_file_vanished_before_stat(
    tmp_path, monkeypatch
):
    """A concurrent vacuum or expiry can remove a file between the
    listing and its stat. The listing both routes share (in-process on
    the driver, inside a task on Spark) treats it as already reclaimed
    instead of failing the whole vacuum."""
    root = tmp_path / "t"
    (root / "day=a").mkdir(parents=True)
    (root / "_txlog" / "_bloom").mkdir(parents=True)
    for rel in (
        "a.parquet",
        "gone.parquet",
        "day=a/b.parquet",
        "day=a/gone.parquet",
        "_txlog/_bloom/b.parquet.bloom.json",
        "_txlog/_bloom/gone.parquet.bloom.json",
    ):
        (root / rel).write_bytes(b"x")
    real = os.path.getmtime

    def racing(p):
        if os.path.basename(p).startswith("gone"):
            os.remove(p)  # another cleaner wins the race
        return real(p)

    monkeypatch.setattr(os.path, "getmtime", racing)
    units = [
        (".", ".parquet"),
        ("day=a", ".parquet"),
        ("_txlog/_bloom", ".bloom.json"),
    ]
    got = sorted(
        (key, rel) for key, rel, _mt in TxTable._vacuum_list(str(root), units)
    )
    assert got == [
        ("a.parquet", "a.parquet"),
        ("b.parquet", "_txlog/_bloom/b.parquet.bloom.json"),
        ("day=a/b.parquet", "day=a/b.parquet"),
    ]
