"""The txlog's two change feeds agree: the batch feed
(``TxTable.read_changes``) and the streaming one
(``readStream.format("txlog").option("readChangeFeed", "true")``) serve
the same multiset of change rows over one log holding every op a feed
serves, and over a shallow clone of that table."""

from __future__ import annotations

from collections import Counter

import pytest

from hephaestus_spark.sources.txlog import TxTable
from hephaestus_spark.sources.txlog_datasource import (
    TxLogDataSource,
    TxLogStreamReader,
)

S_OLD = "id long, val double"
S_NEW = "id long, amount double"


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    spark.dataSource.register(TxLogDataSource)


def _rows(spark, lo, hi, schema):
    return spark.createDataFrame(
        [(i, float(i)) for i in range(lo, hi)], schema
    ).coalesce(1)


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    """One table with CDF on whose log holds, in order: appends, a
    two-file ``delete_mor``, sidecar-carrying ``merge`` / ``update`` /
    ``delete``, a rename, an overwrite replacing tombstoned files, and
    a restore with gone, fresh and flipped files."""
    t = TxTable(str(tmp_path_factory.mktemp("plan") / "t"))
    t.append(_rows(spark, 0, 10, S_OLD))                      # v0  A
    t.set_change_data_feed(True)                              # v1  meta only
    t.append(_rows(spark, 10, 20, S_OLD))                     # v2  B
    t.append(_rows(spark, 20, 30, S_OLD))                     # v3  C
    assert t.delete_mor(spark, "id IN (1, 21)")[1] == 2       # v4  A, C
    t.merge(
        spark,
        spark.createDataFrame([(15, 55.0), (100, 100.0)], S_OLD),
        "id",
        ["val"],
    )                                                         # v5  sidecar
    t.update(spark, "id = 16", {"val": "val + 100"})          # v6  sidecar
    t.delete(spark, "id = 17")                                # v7  sidecar
    t.rename_column(spark, "val", "amount")                   # v8  meta only

    def staged(lo, hi):
        return t._stage(_rows(spark, lo, hi, S_NEW))

    # v9: replaces A and C while their v4 tombstones are live
    t.commit_names(staged(200, 205) + staged(205, 210), overwrite=True)
    t.delete_mor(spark, "id = 201")                           # v10 O1
    t.delete_mor(spark, "id = 202")                           # v11 O1
    t.delete(spark, "id = 207")                               # v12 O2 -> O2'
    t.append(_rows(spark, 300, 303, S_NEW))                   # v13 D
    t.restore(spark, 10)                                      # v14
    acts = t._read_entry(14)["actions"]
    rm = {a["remove"] for a in acts if "remove" in a}
    ad = {a["add"] for a in acts if "add" in a}
    # gone (O2', D), fresh (O2) and flipped (O1)
    assert len(rm - ad) == 2 and len(ad - rm) == 1 and len(rm & ad) == 1
    return t


def _stream(spark, path, tmp):
    out = str(tmp / "out")
    q = (
        spark.readStream.format("txlog")
        .option("readChangeFeed", "true")
        .load(path)
        .writeStream.format("parquet")
        .option("checkpointLocation", str(tmp / "ckpt"))
        .option("path", out)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.read.parquet(out)


def _multiset(df):
    """(id, amount, _change_type, _commit_version) per row. The batch
    feed names a column as of each commit (``val`` before the rename,
    ``amount`` after) and the stream as of its start; both are the one
    physical column, so it is compared as one."""
    value = "amount" if "val" not in df.columns else None
    out = Counter()
    for r in df.collect():
        v = r[value] if value else (r["val"] if r["val"] is not None else r["amount"])
        out[(r["id"], v, r["_change_type"], r["_commit_version"])] += 1
    return out


def test_stream_and_batch_change_feeds_agree(spark, table, tmp_path):
    batch = _multiset(table.read_changes(spark, -1))
    stream = _multiset(_stream(spark, table.path, tmp_path))
    assert stream == batch
    kinds = Counter((c, v) for (_i, _a, c, v), n in batch.items() for _ in range(n))
    assert kinds[("delete", 4)] == 2                  # deleteMor, two files
    assert kinds[("update_preimage", 5)] == 1 and kinds[("insert", 5)] == 1
    assert kinds[("update_postimage", 6)] == 1 and kinds[("delete", 7)] == 1
    # overwrite: every visible row of A, B''' and C (tombstones subtracted)
    assert kinds[("delete", 9)] == 9 + 9 + 9 + 1 and kinds[("insert", 9)] == 10
    assert (1, 1.0, "delete", 9) not in batch and (21, 21.0, "delete", 9) not in batch
    # restore: O2' and D vanish, O2 returns, O1's id 202 resurfaces
    assert kinds[("delete", 14)] == 4 + 3 and kinds[("insert", 14)] == 5 + 1
    assert (202, 202.0, "insert", 14) in batch


def test_clone_change_feeds_agree(spark, table, tmp_path):
    clone = table.clone_to(str(tmp_path / "clone"))
    batch = _multiset(clone.read_changes(spark, -1))
    assert batch == _multiset(_stream(spark, clone.path, tmp_path))
    # inception inserts: the live rows, the carried tombstone of 201 masked
    assert batch == Counter(
        {(i, float(i), "insert", 0): 1 for i in range(200, 210) if i != 201}
    )


def test_admission_cow_delete_costs_its_sidecar(spark, tmp_path):
    """A CoW delete's change rows are its CDC sidecar, so the capped
    stream admits it as one file, beside the append before it."""
    t = TxTable(str(tmp_path / "t"))
    t.append(_rows(spark, 0, 4, S_OLD))                       # v0: 1 file
    t.set_change_data_feed(True)                              # v1
    t.delete(spark, "id = 0")                                 # v2: sidecar
    r = TxLogStreamReader(t, -1, cdf=True, max_files=2)
    cur, ends = r.initialOffset(), []
    while (end := r.latestOffset()) != cur:
        r.partitions(cur, end)
        r.commit(end)
        ends.append(end["version"])
        cur = end
    assert ends == [2]
