"""r15 ADVICE regressions on the txlog commit/maintenance surface:

1. Crashed-writer tmp leak: SIGKILL between writing a publish tmp and
   its os.link leaks ``<name>.<hex>.tmp`` in ``_txlog/`` (the
   finally-unlink only runs on exception paths) — vacuum now sweeps
   log-dir tmps past the grace window, in the log dir AND the sidecar
   subdirs, on both vacuum routes.
2. NFS retried-LINK hazard: an EEXIST after the link actually landed
   must not read as a conflict — the writer would retry and commit
   the same actions twice. ``_commit`` now proves ownership
   (samefile / content equality) before raising CommitConflict.
3. ``ndv_summary_spark`` time-travel parity: below the
   set_ndv_columns commit it serves the head declaration's columns,
   exactly like the driver route.
"""

from __future__ import annotations

import json
import os
import time

import pytest

from hephaestus_spark.sources.txlog import (
    CommitConflict,
    TxTable,
    _log_path,
)


def _seed(spark, path, n=200):
    t = TxTable(path)
    t.append(
        spark.createDataFrame(
            [(i, f"u{i % 53}") for i in range(n)], "id long, user string"
        ).repartition(2)
    )
    return t


def _plant_tmp(path, age_seconds):
    with open(path, "w") as f:
        f.write("{partial")
    old = time.time() - age_seconds
    os.utime(path, (old, old))


def test_vacuum_sweeps_crashed_commit_tmps(spark, tmp_path):
    t = _seed(spark, str(tmp_path / "t"))
    ldir = os.path.join(t.path, "_txlog")
    os.makedirs(os.path.join(ldir, "_ndv"), exist_ok=True)
    stale_log = os.path.join(ldir, "00000000000000000007.json.deadbeef.tmp")
    stale_ndv = os.path.join(
        ldir, "_ndv", "part-x.parquet.ndv.json.cafe0123.tmp"
    )
    fresh = os.path.join(ldir, "00000000000000000009.json.aaaa0000.tmp")
    # a checkpoint writer's private part dir, left by a hard crash
    stale_ckpt = os.path.join(ldir, "_ckpt_tmp-0badf00d")
    os.makedirs(stale_ckpt)
    _plant_tmp(os.path.join(stale_ckpt, "0.parquet"), age_seconds=7200)
    old = time.time() - 7200
    os.utime(stale_ckpt, (old, old))
    _plant_tmp(stale_log, age_seconds=7200)
    _plant_tmp(stale_ndv, age_seconds=7200)
    _plant_tmp(fresh, age_seconds=0)
    # dry run lists the stale tmps, removes nothing
    listed = t.vacuum(grace_seconds=3600, dry_run=True)
    assert os.path.join("_txlog", os.path.basename(stale_log)) in listed
    assert (
        os.path.join("_txlog", "_ndv", os.path.basename(stale_ndv)) in listed
    )
    assert os.path.join("_txlog", "_ckpt_tmp-0badf00d") in listed
    assert os.path.exists(stale_log) and os.path.exists(stale_ndv)
    assert os.path.exists(stale_ckpt)
    # real run reclaims stale, keeps the fresh (possibly mid-publish) tmp
    deleted = t.vacuum(grace_seconds=3600)
    assert os.path.join("_txlog", os.path.basename(stale_log)) in deleted
    assert not os.path.exists(stale_log)
    assert not os.path.exists(stale_ndv)
    assert not os.path.exists(stale_ckpt)
    assert os.path.exists(fresh)
    # the log itself still reads: versions listing never matched tmps
    assert t.read(spark).count() == 200


def test_vacuum_spark_route_sweeps_tmps_too(spark, tmp_path):
    t = _seed(spark, str(tmp_path / "t"))
    ldir = os.path.join(t.path, "_txlog")
    stale = os.path.join(ldir, "00000000000000000005.json.beef0001.tmp")
    _plant_tmp(stale, age_seconds=7200)
    thr = TxTable.DML_SPARK_PLAN_THRESHOLD
    TxTable.DML_SPARK_PLAN_THRESHOLD = 0
    try:
        deleted = t.vacuum(grace_seconds=3600, spark=spark)
    finally:
        TxTable.DML_SPARK_PLAN_THRESHOLD = thr
    assert os.path.join("_txlog", os.path.basename(stale)) in deleted
    assert not os.path.exists(stale)


def test_eexist_after_successful_link_is_not_a_conflict(
    spark, tmp_path, monkeypatch
):
    """Simulate the NFS retried-LINK RPC: os.link succeeds, then the
    caller sees FileExistsError. The commit must recognize the
    published entry as its OWN (same inode) and stand, not raise
    CommitConflict and invite a duplicating retry."""
    t = _seed(spark, str(tmp_path / "t"))
    real_link = os.link

    def retried_link(src, dst, *a, **k):
        real_link(src, dst, *a, **k)
        raise FileExistsError(dst)

    monkeypatch.setattr(os, "link", retried_link)
    t.append(
        spark.createDataFrame([(1000, "w0")], "id long, user string")
    )
    monkeypatch.undo()
    assert t.latest_version() == 1
    assert t.read(spark).count() == 201  # appended exactly once


def test_eexist_from_a_foreign_writer_still_conflicts(spark, tmp_path):
    t = _seed(spark, str(tmp_path / "t"))
    v = t.latest_version() + 1
    with open(_log_path(t.path, v), "w") as f:
        json.dump(
            {"version": v, "op": "append", "actions": [], "ts": 1.0}, f
        )
    with pytest.raises(CommitConflict):
        t._commit(v, "append", [])


def test_ndv_summary_spark_time_travel_head_declaration(spark, tmp_path):
    """Below the set_ndv_columns commit both routes serve the head
    declaration's columns — they previously diverged (driver served,
    Spark raised 'no NDV columns declared')."""
    t = _seed(spark, str(tmp_path / "t"), n=300)  # v0
    t.set_ndv_columns(["user"])  # v1
    t.build_ndv(spark)
    driver = t.ndv_summary(version=0)
    via_spark = t.ndv_summary_spark(spark, version=0)
    assert via_spark == driver
    assert "user" in via_spark and via_spark["user"]["ndv"] is not None
