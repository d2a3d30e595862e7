"""Spark-side checkpoint writing (sources/txlog.py r12 —
``checkpoint_spark``): the new checkpoint is assembled from the
previous checkpoint parquet (cluster scan) plus the driver-folded log
tail, so the unbounded add-set never materializes driver-side — the
last periodic driver materialization in the commit path. Content must
equal the driver fold EXACTLY; part-set mixing between concurrent
writers with different part counts must be impossible."""

from __future__ import annotations

import json
import os

import pytest

from pyspark.sql import functions as F

from hephaestus_spark.sources import txlog
from hephaestus_spark.sources.txlog import TxTable, _ckpt_pq_path


def _df(spark, rows):
    return spark.createDataFrame(rows, "id long, day string, val double")


def _rich(spark, path):
    """A table exercising every fold dimension across the v10
    checkpoint: partitioned adds, txn commits, tombstones (incl. one in
    the tail), a metadata change, and a CoW rewrite in the tail."""
    t = TxTable(path)
    t.append(
        _df(spark, [(i, ["a", "b"][i % 2], float(i)) for i in range(20)]),
        partition_by=["day"],
    )
    for c in range(9):  # cross the interval-10 boundary at v9
        t.append(_df(spark, [(100 + c, "a", 1.0)]).coalesce(1))
    t.append_stream_batch(
        _df(spark, [(200, "b", 2.0)]).coalesce(1), "appx", 7
    )  # v10 — driver checkpoint written here
    t.delete_mor(spark, "id = 0")                       # v11: tail dv
    t.append_stream_batch(
        _df(spark, [(201, "b", 2.0)]).coalesce(1), "appx", 9
    )                                                   # v12: txn bump
    t.set_properties({"owner": "tests"})                # v13: tail meta
    t.delete(spark, "id = 101")                         # v14: CoW rewrite
    return t


def _norm(fold_or_ck):
    if isinstance(fold_or_ck, tuple):
        adds, txns, dvs, meta = fold_or_ck
    else:
        adds, txns, dvs, meta = (
            fold_or_ck["adds"],
            fold_or_ck["txns"],
            fold_or_ck["dvs"],
            fold_or_ck["meta"],
        )
    return (
        {k: json.dumps(v, sort_keys=True) for k, v in adds.items()},
        dict(txns),
        {k: list(v) for k, v in dvs.items()},
        json.dumps(meta, sort_keys=True),
    )


def _readd_in_tail(spark, path):
    """A checkpoint-live file removed and re-added in the tail with its
    checkpoint-era tombstones shed: restore to v0 after a DV on the v0
    file and a checkpoint crossing."""
    t = TxTable(path)
    t.append(_df(spark, [(i, "a", float(i)) for i in range(6)]))  # v0
    t.delete_mor(spark, "id = 0")  # v1: DV on the v0 file
    for i in range(10, 10 + txlog.CHECKPOINT_INTERVAL - 1):  # ckpt at v10
        t.append(_df(spark, [(i, "b", float(i))]))
    assert t._checkpoint_versions(), "setup must cross a checkpoint"
    t.restore(spark, 0)  # v11: removes + re-adds the v0 file, no DV
    return t


def _txn_only_tail(spark, path):
    """A tail whose one entry holds only a txn bump: no add, remove, dv
    or meta action."""
    t = TxTable(path)
    for c in range(txlog.CHECKPOINT_INTERVAL):  # v0..v9
        t.append(_df(spark, [(c, "a", float(c))]).coalesce(1))
    t.append_stream_batch(
        _df(spark, [(99, "b", 9.0)]).coalesce(1), "appx", 3
    )  # v10: checkpoint with the txn
    assert t.commit_stream_names([], "appx", 4) == 11
    assert t._read_entry(11)["actions"] == []
    return t


def test_checkpoint_spark_equals_driver_fold(spark, tmp_path):
    for build in (_rich, _readd_in_tail, _txn_only_tail):
        t = build(spark, str(tmp_path / build.__name__))
        _check_spark_routes_equal_fold(spark, t)


def _check_spark_routes_equal_fold(spark, t):
    v = t.latest_version()
    assert t._checkpoint_versions()[-1] < v  # a non-empty tail
    truth = _norm(t._fold_state(v))
    # the Spark-side live frames over checkpoint + tail agree with the
    # fold: add rows (typed columns too), DV names and meta
    adds, dv_names, meta = TxTable(t.path)._live_frames(spark, v)
    rows = adds.collect()
    assert len(rows) == len({r["path"] for r in rows})
    assert {
        r["path"]: json.dumps(json.loads(r["payload"]), sort_keys=True)
        for r in rows
    } == truth[0]
    fold_adds = t._fold_state(v)[0]
    assert {r["path"]: (r["rows"], r["v"]) for r in rows} == {
        p: (a.get("rows"), a.get("v")) for p, a in fold_adds.items()
    }
    assert dv_names == sorted({d for ds in truth[2].values() for d in ds})
    assert json.dumps(meta, sort_keys=True) == truth[3]
    got_v = TxTable(t.path).checkpoint_spark(spark)
    assert got_v == v
    ck = TxTable(t.path)._load_checkpoint(v)
    assert ck is not None
    assert _norm(ck) == truth
    # a COLD instance folds from the spark-written checkpoint and
    # serves the identical snapshot
    cold = TxTable(t.path)
    assert _norm(cold._fold_state(v)) == truth
    assert cold.read(spark).count() == t.read(spark).count()
    # idempotent: asking again is a no-op success
    assert TxTable(t.path).checkpoint_spark(spark) == v


def test_checkpoint_spark_requires_prior_checkpoint(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a", 1.0)]))
    assert t.checkpoint_spark(spark) is None  # caller falls back


def test_maybe_checkpoint_routes_through_spark_above_threshold(
    spark, tmp_path, monkeypatch
):
    """At an interval boundary on a big (threshold-0 here) table with
    an active session, the commit path writes the checkpoint THROUGH
    checkpoint_spark; the resulting checkpoint folds identically."""
    t = _rich(spark, str(tmp_path / "t"))  # v14, driver ckpt at v10
    monkeypatch.setattr(TxTable, "DML_SPARK_PLAN_THRESHOLD", 0)
    calls = []
    orig = TxTable.checkpoint_spark

    def spy(self, sess, version=None):
        calls.append(version)
        return orig(self, sess, version)

    monkeypatch.setattr(TxTable, "checkpoint_spark", spy)
    for c in range(6):  # v15..v20 — boundary at 20
        t.append(_df(spark, [(300 + c, "a", 3.0)]).coalesce(1))
    assert 20 in calls
    ck = TxTable(t.path)._load_checkpoint(20)
    assert ck is not None
    assert _norm(ck) == _norm(t._fold_state(20))


def test_complete_ckpt_parquet_never_mixes_part_sets(spark, tmp_path):
    """Two writers materializing one version with DIFFERENT part
    counts: a complete set of either is served; a partial set of one
    plus a complete set of the other never interleaves."""
    t = TxTable(str(tmp_path / "t"))
    for c in range(11):
        t.append(_df(spark, [(c, "a", 1.0)]).coalesce(1))
    parts = t._complete_ckpt_parquet(10)
    assert len(parts) == 1  # the driver's single-file form
    # plant a PARTIAL 3-part set for the same version (a crashed
    # writer): completeness must still resolve to the single file
    stray = _ckpt_pq_path(t.path, 10, 1, 3)
    with open(parts[0], "rb") as src, open(stray, "wb") as dst:
        dst.write(src.read())
    os.remove(parts[0])  # now ONLY the partial 3-part set exists
    assert t._complete_ckpt_parquet(10) == []  # refused, not mixed
    # restore as a complete 1-of-1 multipart set: served in order
    p1 = _ckpt_pq_path(t.path, 10, 1, 1)
    os.rename(stray, p1)
    assert t._complete_ckpt_parquet(10) == [p1]


def test_drop_paths_broadcast_branch(spark, monkeypatch):
    """_drop_paths' big-set route (a tail OPTIMIZE removes every live
    file at once): the broadcast anti-join filters identically to the
    isin literal."""
    from hephaestus_spark.sources.txlog import TxTable

    df = spark.createDataFrame(
        [(f"p{i}", i) for i in range(100)], "path string, rows long"
    )
    drop = {f"p{i}" for i in range(0, 100, 2)}
    small = TxTable._drop_paths(spark, df, drop)
    want = sorted(f"p{i}" for i in range(1, 100, 2))
    assert sorted(r["path"] for r in small.collect()) == want
    # force the anti-join branch regardless of set size
    def forced(spark_, d, s):
        if not s:
            return d
        dropdf = spark_.createDataFrame(
            [(p,) for p in sorted(s)], "path string"
        )
        from pyspark.sql import functions as F

        return d.join(F.broadcast(dropdf), "path", "left_anti")

    big = forced(spark, df, drop)
    assert sorted(r["path"] for r in big.collect()) == want
    # and the real threshold route: >10k drops takes the join path
    # without exploding the plan
    many = {f"p{i}" for i in range(20_000)}
    out = TxTable._drop_paths(spark, df, many)
    assert out.count() == 0
