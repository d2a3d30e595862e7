"""Spark-side DML planning (sources/txlog.py r12, VERDICT r11 #4):
above DML_SPARK_PLAN_THRESHOLD, update/delete/delete_mor/merge select
their candidate files by filtering the columnar checkpoint THROUGH
Spark (`_live_frames` + `_keep_column`) and scan via `_scan_live` —
the driver never materializes the checkpoint. Proven the same way
test_spark_side_pruned_read_avoids_driver_fold proves it for reads:
`_load_checkpoint` is monkeypatched to explode and every DML still
commits the exact driver-route result."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from hephaestus_spark.sources.txlog import TxTable, _dml_probes


def _build(spark, path, commits=12):
    """One range-clustered file per commit (id zone [c*10, c*10+9]) —
    crosses the interval-10 checkpoint so the Spark route has a
    columnar checkpoint to plan from, and the DML commits land OFF the
    boundary (a boundary commit legitimately folds to WRITE the next
    checkpoint)."""
    t = TxTable(path)
    for c in range(commits):
        t.append(
            spark.createDataFrame(
                [
                    (c * 10 + i, f"d{c % 3}", float(c * 10 + i))
                    for i in range(10)
                ],
                "id long, day string, val double",
            ).coalesce(1)
        )
    return t


def _boom(self, *args):
    raise AssertionError("driver-side checkpoint materialization")


def test_pruned_dml_never_folds_checkpoint(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "t")
    _build(spark, path)
    cold = TxTable(path)
    monkeypatch.setattr(TxTable, "DML_SPARK_PLAN_THRESHOLD", 0)
    monkeypatch.setattr(TxTable, "_load_checkpoint", _boom)

    # UPDATE, zone-pruned: one candidate file, five rows
    v, rewritten, n_rows = cold.update(
        spark,
        "id BETWEEN 20 AND 24",
        {"val": "val + 1000"},
        prune_column="id",
        lo=20,
        hi=24,
    )
    assert (v, rewritten, n_rows) == (12, 1, 5)

    # CoW DELETE, zone-pruned
    v, hit, untouched = cold.delete(
        spark, "id >= 115", prune_column="id", lo=115
    )
    assert (v, hit) == (13, 1) and untouched == 11

    # MoR DELETE, partition-scoped (IN-list keep condition)
    v, covered, n_rows = cold.delete_mor(
        spark, "id = 30", partitions={"day": ["d0"]}
    )
    assert (v, covered, n_rows) == (14, 1, 1)

    # MERGE, key-pruned: update one row in one file, insert one new key
    staged = spark.createDataFrame(
        [(40, "d1", 9999.0), (500, "dx", 1.0)],
        "id long, day string, val double",
    )
    v = cold.merge(
        spark, staged, "id", ["day", "val"], prune_on_key=True
    )
    assert v == 15

    # general MERGE INTO, partition-unscoped (full classification but
    # still checkpoint-free planning)
    staged2 = spark.createDataFrame(
        [(41, "d1", -1.0)], "id long, day string, val double"
    )
    v, metrics = cold.merge_into(
        spark,
        staged2,
        "t.id = s.id",
        matched_update={"val": "s.val"},
    )
    assert v == 16 and metrics["files_rewritten"] == 1

    # results are exactly what the driver route would have produced
    monkeypatch.undo()
    got = {r["id"]: r["val"] for r in TxTable(path).read(spark).collect()}
    assert got[20] == 1020.0 and got[24] == 1024.0 and got[25] == 25.0
    assert 115 not in got and 119 not in got and got[114] == 114.0
    assert 30 not in got
    assert got[40] == 9999.0 and got[500] == 1.0
    assert got[41] == -1.0  # the merge_into update landed
    assert len(got) == 120 - 5 - 1 + 1  # -delete hits -mor hit +insert


def test_spark_route_candidates_match_driver_route(
    spark, tmp_path, monkeypatch
):
    """Both planner routes select IDENTICAL candidate sets for range,
    IN-list, and unpruned selections (``_keep_column`` mirrors
    ``_act_keep``), and the Spark route never folds the snapshot."""
    path = str(tmp_path / "t")
    t = _build(spark, path)
    cases = [
        dict(prune_column="id", lo=33, hi=57),
        dict(prune_column="id", lo=1000, hi=None),
        dict(partitions={"day": ["d1"]}),
        dict(partitions={"day": []}),
        dict(prune_column="id", lo=10, hi=19, partitions={"day": ["d1"]}),
        dict(),
    ]
    probes = [
        _dml_probes(
            kw.get("prune_column"), kw.get("lo"), kw.get("hi"),
            kw.get("partitions"),
        )
        for kw in cases
    ]
    want = [t._planner()[2](p) for p in probes]
    monkeypatch.setattr(TxTable, "DML_SPARK_PLAN_THRESHOLD", 0)
    monkeypatch.setattr(TxTable, "_load_checkpoint", _boom)
    monkeypatch.setattr(TxTable, "_snapshot_adds", _boom)
    plan = TxTable(path)._planner(spark)[2]
    n_live = len(t._snapshot_files())
    for kw, p, (keep, total) in zip(cases, probes, want):
        got, n = plan(p)
        assert sorted(got) == sorted(keep), kw
        assert n == total == n_live


def test_small_tables_keep_the_driver_fold(spark, tmp_path, monkeypatch):
    """Below the threshold the fold route engages (no Spark jobs for an
    11-file table's planning) — the planner never builds the Spark-side
    frames."""
    t = _build(spark, str(tmp_path / "t"), commits=11)
    assert t._ckpt_live_rows() > 0  # a checkpoint exists...
    monkeypatch.setattr(TxTable, "_live_frames", _boom)
    keep, total = t._planner(spark)[2]({})  # ...but it is tiny
    assert len(keep) == total == 11
