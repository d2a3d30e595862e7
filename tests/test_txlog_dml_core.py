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
  from the rewrite without reporting it as deleted)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from hephaestus_spark.sources.txlog import TxTable

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
        base, meta, plan, scan = planner(*a, **kw)

        def spied(files, **skw):
            scanned.append(list(files))
            return scan(files, **skw)

        return base, meta, plan, spied

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
