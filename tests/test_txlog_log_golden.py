"""Log-entry golden test for every row-introducing commit path of the
txlog: ``append`` (creating, appending, widening), ``append`` with
``partition_by``, an identity append, ``commit_names`` (append and
overwrite), ``create_partitioned_names``, ``append_stream_batch``
(including a replayed batch id) and ``commit_stream_names``.

Each committed entry is reduced to its shape — ``op``, the kind of
every action in order, the ``txn`` stamp and the sorted key set of
its meta action — and compared with literals, so any refactor of the
commit loops must keep the log byte-compatible in structure."""

from __future__ import annotations

from hephaestus_spark.sources.txlog import TxTable

_KINDS = ("add", "remove", "meta", "dv", "cdc")


def _df(spark, rows, schema="id long, day string, val double"):
    return spark.createDataFrame(rows, schema).coalesce(1)


def _shape(t: TxTable, version: int) -> tuple:
    e = t._read_entry(version)
    kinds = [next(k for k in _KINDS if k in a) for a in e["actions"]]
    metas = [a["meta"] for a in e["actions"] if "meta" in a]
    return (
        e["op"],
        kinds,
        e.get("txn"),
        sorted(metas[0]) if metas else None,
    )


def _shapes(t: TxTable) -> list[tuple]:
    return [_shape(t, v) for v in range(t.latest_version() + 1)]


_PART_META = ["features", "partition_columns", "schema", "writer_features"]


def test_unpartitioned_paths(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    assert t.append(_df(spark, [(1, "a", 1.0)])) == 0  # creates
    assert t.append(_df(spark, [(2, "b", 2.0)])) == 1
    wide = _df(spark, [(3, "c", 3.0, 7)], "id long, day string, val double, x int")
    assert t.append(wide) == 2  # widens
    names = t._stage(_df(spark, [(4, "d", 4.0)]))
    assert t.commit_names(names) == 3
    names = t._stage(_df(spark, [(5, "e", 5.0)]))
    assert t.commit_names(names, overwrite=True) == 4
    assert t.append_stream_batch(_df(spark, [(6, "f", 6.0)]), "app", 0) == 5
    assert t.append_stream_batch(_df(spark, [(6, "f", 6.0)]), "app", 0) is None
    names = t._stage(_df(spark, [(7, "g", 7.0)]))
    assert t.commit_stream_names(names, "app", 1) == 6
    assert t.commit_stream_names(names, "app", 1) is None
    assert _shapes(t) == [
        ("append", ["add", "meta"], None, ["schema"]),
        ("append", ["add"], None, None),
        ("append", ["add", "meta"], None, ["schema"]),
        ("append", ["add"], None, None),
        (
            "overwrite",
            ["add", "remove", "remove", "remove", "remove"],
            None,
            None,
        ),
        ("streamAppend", ["add"], {"app": "app", "batch": 0}, None),
        ("streamAppend", ["add"], {"app": "app", "batch": 1}, None),
    ]
    assert sorted(r["id"] for r in t.read(spark).collect()) == [5, 6, 7]


def test_partition_by_paths(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    rows = [(1, "d1", 1.0), (2, "d2", 2.0)]
    assert t.append(_df(spark, rows), partition_by=["day"]) == 0
    assert t.append(_df(spark, [(3, "d1", 3.0)])) == 1
    assert _shapes(t) == [
        ("createPartitioned", ["add", "add", "meta"], None, _PART_META),
        ("append", ["add"], None, None),
    ]


def test_create_partitioned_names_then_stream(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    src = _df(spark, [(1, "d1", 1.0), (2, "d2", 2.0)])
    names = t._stage(src, pcols=["day"])
    txn = {"app": "w", "batch": 0}
    assert t.create_partitioned_names(names, ["day"], src.schema, txn=txn) == 0
    more = t._stage(_df(spark, [(3, "d3", 3.0)]))
    assert t.commit_stream_names(more, "w", 1) == 1
    assert _shapes(t) == [
        ("createPartitioned", ["add", "add", "meta"], txn, _PART_META),
        ("streamAppend", ["add"], {"app": "w", "batch": 1}, None),
    ]
    assert t.read(spark).columns == ["id", "val", "day"]


def test_creating_names_commits(spark, tmp_path):
    a = TxTable(str(tmp_path / "a"))
    names = a._stage(_df(spark, [(1, "a", 1.0)]))
    assert a.commit_names(names) == 0
    b = TxTable(str(tmp_path / "b"))
    names = b._stage(_df(spark, [(1, "a", 1.0)]))
    assert b.commit_stream_names(names, "s", 3) == 0
    c = TxTable(str(tmp_path / "c"))
    assert c.append_stream_batch(_df(spark, [(1, "a", 1.0)]), "s", 0) == 0
    assert _shapes(a) == [("append", ["add", "meta"], None, ["schema"])]
    assert _shapes(b) == [
        ("streamAppend", ["add", "meta"], {"app": "s", "batch": 3}, ["schema"])
    ]
    assert _shapes(c) == [
        ("streamAppend", ["add", "meta"], {"app": "s", "batch": 0}, ["schema"])
    ]


def test_identity_append(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")], "uid long, name string"))
    t.set_identity(spark, "uid")
    assert t.append(_df(spark, [("b",), ("c",)], "name string")) == 2
    assert t.append_stream_batch(_df(spark, [("d",)], "name string"), "s", 0) == 3
    ident = ["identity", "schema", "writer_features"]
    assert _shapes(t) == [
        ("append", ["add", "meta"], None, ["schema"]),
        ("setIdentity", ["meta"], None, ident),
        ("append", ["add", "meta"], None, ident),
        ("streamAppend", ["add", "meta"], {"app": "s", "batch": 0}, ident),
    ]
    assert t.identity()["uid"]["next"] == 5
    rows = t.read(spark).collect()
    assert sorted(r["uid"] for r in rows) == [1, 2, 3, 4]
