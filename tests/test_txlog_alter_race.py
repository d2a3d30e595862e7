"""Metadata changes (ALTERs) survive a racing blind append: the
metadata loop refolds, re-applies the edit to the fresh metadata and
commits one version later, instead of surfacing CommitConflict. An
ALTER whose edit validates the data re-validates on the retry, so a
racing row that violates a new CHECK constraint refuses the ALTER."""

from __future__ import annotations

import pytest

from hephaestus_spark.sources.txlog import ConstraintViolation, TxTable


def _df(spark, rows):
    return spark.createDataFrame(rows, "id long, name string, val double").coalesce(1)


def _race_first_commit(spark, t: TxTable, rows) -> None:
    """Before ``t``'s first commit attempt, land ``rows`` through a
    second handle on the same table, so that attempt loses."""
    orig = t._commit
    state = {"raced": False}

    def commit(*args, **kwargs):
        if not state["raced"]:
            state["raced"] = True
            TxTable(t.path).append(_df(spark, rows))
        return orig(*args, **kwargs)

    t._commit = commit


# name -> (setup, alter, check on the final metadata)
ALTERS = {
    "set_bloom_filter": (
        None,
        lambda s, t: t.set_bloom_filter(["id"]),
        lambda m: m["bloom_columns"]["cols"] == ["id"],
    ),
    "drop_bloom_filter": (
        lambda s, t: t.set_bloom_filter(["id"]),
        lambda s, t: t.drop_bloom_filter(),
        lambda m: "bloom_columns" not in m,
    ),
    "set_ndv_columns": (
        None,
        lambda s, t: t.set_ndv_columns(["id"]),
        lambda m: m["ndv_columns"]["cols"] == ["id"],
    ),
    "drop_ndv_columns": (
        lambda s, t: t.set_ndv_columns(["id"]),
        lambda s, t: t.drop_ndv_columns(),
        lambda m: "ndv_columns" not in m,
    ),
    "set_generated": (
        None,
        lambda s, t: t.set_generated(s, "val", "id * 2"),
        lambda m: m["generated"] == {"val": "id * 2"}
        and "generated_columns" in m["writer_features"],
    ),
    "set_column_default": (
        None,
        lambda s, t: t.set_column_default(s, "name", "'dflt'"),
        lambda m: m["defaults"]["name"]["expr"] == "'dflt'"
        and "column_defaults" in m["writer_features"],
    ),
    "drop_column_default": (
        lambda s, t: t.set_column_default(s, "name", "'dflt'"),
        lambda s, t: t.drop_column_default("name"),
        lambda m: "defaults" not in m
        and "column_defaults" not in m["writer_features"],
    ),
    "set_change_data_feed": (
        None,
        lambda s, t: t.set_change_data_feed(True),
        lambda m: m["change_data_feed"] is True,
    ),
    "set_auto_compact": (
        None,
        lambda s, t: t.set_auto_compact(True, min_files=50),
        lambda m: m["auto_compact"]["min_files"] == 50,
    ),
}


@pytest.mark.parametrize("name", sorted(ALTERS))
def test_alter_lands_after_racing_append(spark, tmp_path, name):
    setup, alter, check = ALTERS[name]
    t = TxTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a", 2.0), (2, "b", 4.0)]))
    if setup is not None:
        setup(spark, t)
    base = t.latest_version()
    _race_first_commit(spark, t, [(10, "r", 20.0)])
    assert alter(spark, t) == base + 2
    assert t.latest_version() == base + 2
    assert t._read_entry(base + 1)["op"] == "append"
    assert check(t._fold_state()[3])
    assert sorted(r["id"] for r in t.read(spark).collect()) == [1, 2, 10]


def test_add_constraint_revalidates_after_racing_violation(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a", 2.0)]))
    base = t.latest_version()
    _race_first_commit(spark, t, [(11, "bad", -1.0)])
    with pytest.raises(ConstraintViolation):
        t.add_check_constraint(spark, "val_pos", "val > 0")
    assert t.latest_version() == base + 1
    assert t.constraints() == {}
    assert sorted(r["id"] for r in t.read(spark).collect()) == [1, 11]
