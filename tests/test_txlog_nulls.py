"""Per-file null-count statistics (sources/txlog.py r11 — Delta's
nullCount): committed with every add action, they prune IS NULL /
IS NOT NULL predicates at the metadata level — including all-null
columns (which have no min/max zone at all) and hive-null partitions —
and answer per-column null counts from the log alone."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from hephaestus_spark.sources.txlog import TxTable


def test_null_pruning_skips_provably_clean_files(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    # file A: no nulls; file B: some nulls; file C: ALL null vals
    t.append(
        spark.createDataFrame(
            [(1, 1.0), (2, 2.0)], "id long, val double"
        ).coalesce(1)
    )
    t.append(
        spark.createDataFrame(
            [(3, 3.0), (4, None)], "id long, val double"
        ).coalesce(1)
    )
    t.append(
        spark.createDataFrame(
            [(5, None), (6, None)], "id long, val double"
        ).coalesce(1)
    )
    keep_null, total = t.pruned_files("val", is_null=True)
    assert total == 3 and len(keep_null) == 2  # file A skipped
    keep_notnull, _ = t.pruned_files("val", is_null=False)
    assert len(keep_notnull) == 2  # file C (all-null) skipped
    got = {r["id"] for r in t.read_pruned(spark, "val", is_null=True).collect()}
    assert got == {4, 5, 6}
    got = {r["id"] for r in t.read_pruned(spark, "val", is_null=False).collect()}
    assert got == {1, 2, 3}


def test_null_counts_from_log(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    t.append(
        spark.createDataFrame(
            [(1, 1.0), (2, None), (3, None)], "id long, val double"
        ).coalesce(1)
    )
    nc = t.null_counts()
    assert nc["val"] == {"nulls": 2, "exact": True}
    assert nc["id"] == {"nulls": 0, "exact": True}
    # a live deletion vector makes the count an upper bound, not exact
    t.delete_mor(spark, "id = 2")
    nc = t.null_counts()
    assert nc["val"]["nulls"] == 2 and not nc["val"]["exact"]


def test_null_partition_pruning(spark, tmp_path):
    """Hive-null partitions have NO zone at all (the raw value is the
    null sentinel) — null counts are the only stat that can skip
    them, and they are exact because partition values are
    file-constant."""
    t = TxTable(str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(1, "2024-01-01", 1.0), (2, None, 2.0), (3, "2024-01-02", 3.0)],
        "id long, day string, val double",
    )
    t.append(df, partition_by=["day"])
    keep, total = t.pruned_files("day", is_null=True)
    assert len(keep) < total
    got = {r["id"] for r in t.read_pruned(spark, "day", is_null=True).collect()}
    assert got == {2}
    got = {r["id"] for r in t.read_pruned(spark, "day", is_null=False).collect()}
    assert got == {1, 3}


def test_null_pruning_respects_column_mapping(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    t.append(
        spark.createDataFrame(
            [(1, None), (2, 2.0)], "id long, val double"
        ).coalesce(1)
    )
    t.rename_column(spark, "val", "amount")
    got = {
        r["id"] for r in t.read_pruned(spark, "amount", is_null=True).collect()
    }
    assert got == {1}
    assert t.null_counts()["amount"]["nulls"] == 1


def test_pre_null_stat_files_always_kept(spark, tmp_path):
    """A file committed without null counts (pre-r11 log shape) can
    never be skipped — simulated by stripping the committed counts."""
    import json
    import os

    t = TxTable(str(tmp_path / "t"))
    t.append(
        spark.createDataFrame([(1, 1.0)], "id long, val double").coalesce(1)
    )
    log = os.path.join(t.path, "_txlog", "00000000000000000000.json")
    entry = json.load(open(log))
    for a in entry["actions"]:
        a.pop("nulls", None)
    os.remove(log)
    json.dump(entry, open(log, "w"))
    t2 = TxTable(t.path)
    keep, total = t2.pruned_files("val", is_null=True)
    assert keep and len(keep) == total  # unknown -> kept
    assert t2.null_counts().get("val") is None


def test_null_counts_inexact_after_schema_widening(spark, tmp_path):
    """r12 (ADVICE r11): a file written BEFORE a column was added has
    neither stats nor a null count for it — its rows are all implicitly
    NULL for that column, so the summed count undercounts and must not
    claim exact=True (coverage is now tracked against the live file
    count, not derived from stats keys)."""
    t = TxTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1,), (2,)], "id long").coalesce(1))
    # widening append: adds `val`, old file has no entry for it
    t.append(
        spark.createDataFrame(
            [(3, 3.0), (4, None)], "id long, val double"
        ).coalesce(1)
    )
    nc = t.null_counts()
    assert nc["id"]["exact"] is True and nc["id"]["nulls"] == 0
    # recorded nulls for val: 1 (from the new file) — but 2 rows of the
    # old file are implicitly NULL, so the claim must be inexact
    assert nc["val"]["nulls"] == 1
    assert nc["val"]["exact"] is False
