"""Behaviour of the shared copy-on-write DML core where it differs from
the four engines it replaced (each change below has a test here that
failed against them):

- ``merge`` ignores staged NULL keys, with or without key pruning
  (it used to write an all-NULL row);
- ``merge`` of an empty batch commits nothing (it used to rewrite
  every candidate file);
- ``merge`` refuses a staged batch that repeats a key matching an
  existing row (it used to write two rows for that key);
- ``merge`` rewrites only the files that hold a staged key (it used to
  rewrite every candidate file);
- ``merge`` keeps the target columns outside ``key``/``compare_cols``
  on the rows it rewrites (they used to read NULL afterwards);
- ``delete`` keeps a row whose predicate is NULL (it used to drop it
  from the rewrite without reporting it as deleted).

A key-pruned merge classifies on its own write job. The tests at the
end pin its Spark job count and, for the cases where the staged first
pass is not the commit, that it leaves no uncommitted file behind; that
a pruned update or delete stages only its hit files; and that the
multiple-match check counts the candidates' rows from the log, less
their tombstones."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from hephaestus_spark.sources.txlog import TxTable
from tests.conftest import spark_jobs

_KV = "id long, name string"


def _table(spark, path, *files):
    """One append, hence one file, per row list."""
    t = TxTable(path)
    for rows in files:
        t.append(spark.createDataFrame(rows, _KV).coalesce(1))
    return t


def _rows(spark, t):
    return sorted(
        (tuple(r) for r in t.read(spark).collect()),
        key=lambda r: (r[0] is None, r[0] or 0, r[1] or ""),
    )


_NULL_ROW_PRUNED = ([(None, "old"), (50, "z")], [(1, "a"), (2, "b")])


@pytest.mark.parametrize(
    "files,prune",
    [
        (([(1, "a"), (2, "b")],), False),
        (_NULL_ROW_PRUNED, False),
        (_NULL_ROW_PRUNED, True),
    ],
    ids=["no_null_row", "null_row", "null_row_pruned"],
)
def test_merge_ignores_staged_null_keys(spark, tmp_path, files, prune):
    t = _table(spark, str(tmp_path / "t"), *files)
    staged = spark.createDataFrame([(None, "n"), (1, "a2")], _KV)
    t.merge(spark, staged, "id", ["name"], prune_on_key=prune)
    want = [(1, "a2"), (2, "b")]
    if len(files) == 2:  # the table's own NULL-key row is kept as it was
        want += [(50, "z"), (None, "old")]
    assert _rows(spark, t) == want


def test_merge_of_only_null_keys_commits_nothing(spark, tmp_path):
    t = _table(spark, str(tmp_path / "t"), [(1, "a"), (2, "b")])
    staged = spark.createDataFrame([(None, "n")], _KV)
    assert t.merge(spark, staged, "id", ["name"]) == 0
    assert t.latest_version() == 0


def _scan_spy(t, monkeypatch) -> list:
    """Record every file list the planner's scan reads on ``t``."""
    scanned: list = []
    planner = t._planner

    def spy(*a, **kw):
        base, meta, plan, scan, live_rows = planner(*a, **kw)

        def spied(files, **skw):
            scanned.append(list(files))
            return scan(files, **skw)

        return base, meta, plan, spied, live_rows

    monkeypatch.setattr(t, "_planner", spy)
    return scanned


@pytest.mark.parametrize(
    "rows,prune",
    [([], False), ([], True), ([(None, "n")], True)],
    ids=["empty", "empty_pruned", "null_keys_pruned"],
)
def test_empty_batch_commits_nothing(spark, tmp_path, monkeypatch, rows, prune):
    t = TxTable(str(tmp_path / "t"))
    t.append(
        spark.range(0, 1000, numPartitions=4).selectExpr(
            "id", "concat('r', id) AS name"
        )
    )
    before = sorted(t._snapshot_files())
    scanned = _scan_spy(t, monkeypatch)
    staged = spark.createDataFrame(rows, _KV)
    assert t.merge(spark, staged, "id", ["name"], prune_on_key=prune) == 0
    assert t.latest_version() == 0
    assert sorted(t._snapshot_files()) == before
    if prune:  # no staged key to probe: no table file is read
        assert scanned == []


def test_empty_batch_does_not_widen(spark, tmp_path):
    """The widening rides a data commit: an empty batch carrying a new
    column changes nothing, so the schema stays as it was."""
    t = _table(spark, str(tmp_path / "t"), [(1, "a")])
    empty = spark.createDataFrame([], _KV + ", tier string")
    assert t.merge(spark, empty, "id", ["name", "tier"], schema_evolution=True) == 0
    assert t.latest_version() == 0
    assert t.read(spark).columns == ["id", "name"]


def test_merge_refuses_repeated_matching_key(spark, tmp_path):
    t = _table(spark, str(tmp_path / "t"), [(1, "a"), (2, "b")])
    staged = spark.createDataFrame([(1, "x"), (1, "y")], _KV)
    with pytest.raises(ValueError, match="more than one"):
        t.merge(spark, staged, "id", ["name"])
    assert t.latest_version() == 0
    # a repeated NEW key is two inserts, as before
    staged = spark.createDataFrame([(3, "x"), (3, "y")], _KV)
    t.merge(spark, staged, "id", ["name"])
    assert _rows(spark, t) == [(1, "a"), (2, "b"), (3, "x"), (3, "y")]


def test_merge_rewrites_only_files_holding_a_staged_key(spark, tmp_path):
    t = _table(
        spark, str(tmp_path / "t"), [(1, "a"), (2, "b")], [(11, "c")], [(21, "d")]
    )
    staged = spark.createDataFrame([(2, "b2"), (30, "n")], _KV)
    t.merge(spark, staged, "id", ["name"])
    assert t.history()[-1]["files_removed"] == 1
    assert _rows(spark, t) == [(1, "a"), (2, "b2"), (11, "c"), (21, "d"), (30, "n")]


def test_delete_keeps_rows_whose_predicate_is_null(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    t.append(
        spark.createDataFrame(
            [(1, 1.0), (2, None), (3, 5.0)], "id long, val double"
        ).coalesce(1)
    )
    t.set_change_data_feed(True)
    v, hit, _ = t.delete(spark, "val > 3")
    assert hit == 1
    assert sorted(r["id"] for r in t.read(spark).collect()) == [1, 2]
    changes = t.read_changes(spark, v - 1, v).select("id", "_change_type")
    assert [tuple(r) for r in changes.collect()] == [(3, "delete")]
    assert t.read(spark).filter(F.col("val").isNull()).count() == 1


def test_merge_keeps_columns_outside_key_and_compare_cols(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    t.append(
        spark.createDataFrame(
            [(1, "a", "x1"), (2, "b", "x2")], "id long, name string, extra string"
        ).coalesce(1)
    )
    staged = spark.createDataFrame([(1, "a2"), (3, "c")], _KV)
    t.merge(spark, staged, "id", ["name"])
    got = sorted(tuple(r) for r in t.read(spark).collect())
    # the updated and the untouched row keep ``extra``; the insert has none
    assert got == [(1, "a2", "x1"), (2, "b", "x2"), (3, "c", None)]


def _lake(spark, path, sidecars=True):
    """Four key-clustered files of even keys: 0..1998, 2000..3998, ...;
    with ``sidecars``, bloom and NDV sidecars ride every staged file."""
    t = TxTable(path)
    t.append(
        spark.range(0, 4000, numPartitions=4).selectExpr(
            "id * 2 AS id", "concat('r', id * 2) AS name"
        )
    )
    if sidecars:
        t.set_bloom_filter(["name"])
        t.set_ndv_columns(["name"])
    return t


def _uncommitted(t) -> list[str]:
    """Data files and bloom/NDV sidecars no commit adds, and stage dirs."""
    added = {
        os.path.basename(f)
        for v in range(t.latest_version() + 1)
        for f in t._snapshot_files(v)
    }
    left = [f for f in os.listdir(t.path) if f.startswith("_stage-")]
    for d in (t.path, f"{t.path}/_txlog/_bloom", f"{t.path}/_txlog/_ndv"):
        for f in os.listdir(d) if os.path.isdir(d) else []:
            base = f.removesuffix(".bloom.json").removesuffix(".ndv.json")
            if base.startswith("part-") and base not in added:
                left.append(f)
    return left


def test_pruned_upsert_is_one_pass(spark, tmp_path):
    """The lake upsert: an update and an insert inside one file's key
    range. The classification rides the rewrite's write job, so the
    candidate is scanned and joined once (the two-pass core ran 9 jobs)."""
    t = _lake(spark, str(tmp_path / "t"), sidecars=False)
    staged = spark.createDataFrame([(10, "x"), (11, "new")], _KV)
    _, jobs = spark_jobs(
        spark, lambda: t.merge(spark, staged, "id", ["name"], prune_on_key=True)
    )
    assert jobs == 5
    assert t.history()[-1]["files_removed"] == 1
    assert t.read_pruned(spark, "id", 10, 11).collect() == [(10, "x"), (11, "new")]
    assert _uncommitted(t) == []


def test_pruned_refusal_leaves_nothing(spark, tmp_path):
    t = _lake(spark, str(tmp_path / "t"))
    v = t.latest_version()
    staged = spark.createDataFrame([(10, "x"), (10, "y")], _KV)
    with pytest.raises(ValueError, match="more than one"):
        t.merge(spark, staged, "id", ["name"], prune_on_key=True)
    assert t.latest_version() == v
    assert _uncommitted(t) == []


def test_pruned_unhit_candidate_falls_back(spark, tmp_path):
    """The staged key range spans two files, but only the first holds a
    staged key (2001 is a new odd key): only that file is rewritten."""
    t = _lake(spark, str(tmp_path / "t"))
    staged = spark.createDataFrame([(10, "x"), (2001, "new")], _KV)
    t.merge(spark, staged, "id", ["name"], prune_on_key=True)
    assert t.history()[-1]["files_removed"] == 1
    assert t.read(spark).count() == 4001
    assert t.read_pruned(spark, "id", 10, 10).collect() == [(10, "x")]
    assert _uncommitted(t) == []


@pytest.mark.parametrize(
    "dml",
    [
        lambda spark, t: t.delete(spark, "id = 11", "id", 11, 11),
        lambda spark, t: t.update(spark, "id = 11", {"name": "'x'"}, "id", 11, 11),
    ],
    ids=["delete", "update"],
)
def test_pruned_batch_that_changes_nothing(spark, tmp_path, dml):
    """No row of the candidate file holds the predicate: nothing is
    committed or left behind. (A key-pruned ``merge``, the one caller
    that stages on its first pass, always changes something: every
    staged key either matches a row or inserts.)"""
    t = _lake(spark, str(tmp_path / "t"))
    v = t.latest_version()
    assert dml(spark, t)[:2] == (v, 0)
    assert t.latest_version() == v
    assert _uncommitted(t) == []


def test_pruned_merge_over_a_fully_tombstoned_file(spark, tmp_path):
    """Every row of the candidate file is deleted by a deletion vector,
    so the target side of the join is empty at run time and the plan
    drops it: the multiple-match check must not need its row count."""
    t = _lake(spark, str(tmp_path / "t"), sidecars=False)
    t.delete_mor(spark, "id < 2000", "id", 0, 1998)
    staged = spark.createDataFrame([(10, "x"), (11, "y")], _KV)
    t.merge(spark, staged, "id", ["name"], prune_on_key=True)
    got = sorted(tuple(r) for r in t.read_pruned(spark, "id", 0, 1998).collect())
    assert got == [(10, "x"), (11, "y")]
    assert t.read(spark).count() == 3002


@pytest.mark.parametrize(
    "dml",
    [
        lambda spark, t: t.delete(spark, "id = 10", "id", 10, 2010),
        lambda spark, t: t.update(spark, "id = 10", {"name": "'x'"}, "id", 10, 2010),
    ],
    ids=["delete", "update"],
)
def test_pruned_delete_and_update_stage_only_the_hit_files(
    spark, tmp_path, monkeypatch, dml
):
    """Only a key-pruned merge stages every candidate on its first pass.
    A pruned delete or update whose predicate holds in one of its two
    candidates stages that file's rewrite once, and it is the commit."""
    t = _lake(spark, str(tmp_path / "t"), sidecars=False)
    staged, stage = [], TxTable._stage

    def recording(self, df, *args, **kwargs):
        names = stage(self, df, *args, **kwargs)
        staged.extend(names)
        return names

    monkeypatch.setattr(TxTable, "_stage", recording)
    dml(spark, t)
    assert t.history()[-1]["files_removed"] == 1
    assert staged and set(staged) <= set(t._snapshot_files())


@pytest.mark.parametrize("route", ["driver", "spark"])
def test_multiple_match_check_counts_tombstones_out(
    spark, tmp_path, monkeypatch, route
):
    """The check holds the target rows met in the join against the
    log's row count of the candidates less their tombstoned rows: a
    repeated matching key refuses, a valid batch commits."""
    if route == "spark":
        monkeypatch.setattr(TxTable, "DML_SPARK_PLAN_THRESHOLD", 0)
    t = _lake(spark, str(tmp_path / "t"), sidecars=False)
    t.delete_mor(spark, "id < 100", "id", 0, 98)
    v, dv = t.latest_version(), _uncommitted(t)  # the vector is no data add
    dup = spark.createDataFrame([(300, "a"), (300, "b")], _KV)
    with pytest.raises(ValueError, match="more than one"):
        t.merge(spark, dup, "id", ["name"], prune_on_key=True)
    assert t.latest_version() == v
    assert _uncommitted(t) == dv
    # 10 is tombstoned, so it inserts; 300 matches
    staged = spark.createDataFrame([(10, "x"), (300, "y")], _KV)
    t.merge(spark, staged, "id", ["name"], prune_on_key=True)
    got = t.read_pruned(spark, "id", 0, 300).filter("id IN (10, 300)").collect()
    assert sorted(tuple(r) for r in got) == [(10, "x"), (300, "y")]
    assert t.read(spark).count() == 3951


def test_multiple_match_check_without_footer_row_counts(spark, tmp_path, monkeypatch):
    """Adds written before the log recorded row counts: the check reads
    the candidates' row counts from their parquet footers instead."""
    with monkeypatch.context() as m:
        m.setattr(TxTable, "_file_rows", lambda self, name: None)
        t = _lake(spark, str(tmp_path / "t"), sidecars=False)
    dup = spark.createDataFrame([(10, "a"), (10, "b")], _KV)
    with pytest.raises(ValueError, match="more than one"):
        t.merge(spark, dup, "id", ["name"], prune_on_key=True)
    t.merge(spark, dup.limit(1), "id", ["name"], prune_on_key=True)
    assert t.read_pruned(spark, "id", 10, 10).collect() == [(10, "a")]
