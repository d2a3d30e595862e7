"""OCC conflict resolution (sources/txlog.py r11,
``_commit_snapshot_dependent``) — Delta's WriteSerializable logical
conflict rules: a snapshot-dependent commit (merge / delete /
deleteMor / optimize) that loses the version race REBASES over
interleaved commits that provably cannot change its outcome (pure
blind appends outside the transaction's declared read predicate),
and still raises CommitConflict for everything unprovable.

Races are injected deterministically: ``TxTable._commit`` is patched
so the victim's first commit attempt is preceded by a racer landing
the contested version through a second handle."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from hephaestus_spark.sources.txlog import CommitConflict, TxTable


def _df(spark, rows):
    return spark.createDataFrame(rows, "id long, name string, val double")


def _seed(spark, path, n=100, files=4):
    """id-clustered table: ranges land in disjoint per-file zones so
    prune_on_key genuinely bounds what the merge reads."""
    t = TxTable(path)
    df = _df(spark, [(i, f"r{i}", float(i)) for i in range(n)])
    t.append(df.repartitionByRange(files, F.col("id")).sortWithinPartitions("id"))
    return t


def _race(monkeypatch, victim_ops: set[str], racer, times: int = 1):
    """Patch TxTable._commit: before the victim's op first lands, run
    ``racer()`` (which commits through a separate handle and steals
    the version), forcing the victim onto its conflict path."""
    orig = TxTable._commit
    state = {"left": times}

    def patched(self, version, op, actions, txn=None, info=None, **kw):
        if op in victim_ops and state["left"] > 0:
            state["left"] -= 1
            racer()
        return orig(self, version, op, actions, txn=txn, info=info, **kw)

    monkeypatch.setattr(TxTable, "_commit", patched)


def test_merge_rebases_over_disjoint_append(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "t")
    t = _seed(spark, path)
    racer_rows = [(500 + i, f"x{i}", -1.0) for i in range(5)]
    _race(
        monkeypatch,
        {"merge"},
        lambda: TxTable(path).append(_df(spark, racer_rows)),
    )
    staged = _df(spark, [(3, "r3", 30.0), (7, "new7", 7.5)])
    v = t.merge(spark, staged, "id", ["name", "val"], prune_on_key=True)
    # the racer took version 1; the merge REBASED to 2 instead of dying
    assert v == 2
    assert [h["op"] for h in t.history()] == ["append", "append", "merge"]
    got = {r["id"]: (r["name"], r["val"]) for r in t.read(spark).collect()}
    assert got[3] == ("r3", 30.0) and got[7] == ("new7", 7.5)
    # the racer's rows are live and untouched at the rebased version
    assert all(got[500 + i] == (f"x{i}", -1.0) for i in range(5))
    assert len(got) == 105


def test_merge_conflicts_on_overlapping_append(spark, tmp_path, monkeypatch):
    """A racer append whose file zone CAN contain a staged key could
    hold a row the merge should have seen — the rebase must refuse.
    The racer's file spans [6, 8] (no actual key-7 row — zone overlap
    alone must veto, stats can't prove absence inside the range)."""
    path = str(tmp_path / "t")
    t = _seed(spark, path)
    racer = _df(spark, [(6, "x6", 0.0), (8, "x8", 0.0)]).coalesce(1)
    _race(
        monkeypatch,
        {"merge"},
        lambda: TxTable(path).append(racer),
    )
    with pytest.raises(CommitConflict):
        t.merge(
            spark,
            _df(spark, [(7, "new7", 7.5)]),
            "id",
            ["name", "val"],
            prune_on_key=True,
        )
    # a re-run on the fresh snapshot converges (the normal caller loop)
    t.merge(
        spark, _df(spark, [(7, "new7", 7.5)]), "id", ["name", "val"],
        prune_on_key=True,
    )
    vals = [r["name"] for r in t.read(spark).filter("id = 7").collect()]
    assert vals == ["new7"]


def test_merge_without_pruning_never_rebases(spark, tmp_path, monkeypatch):
    """No declared read predicate = the merge read everything; even a
    far-away append conflicts (Delta's ConcurrentAppendException)."""
    path = str(tmp_path / "t")
    t = _seed(spark, path)
    _race(
        monkeypatch,
        {"merge"},
        lambda: TxTable(path).append(_df(spark, [(999, "x", 0.0)])),
    )
    with pytest.raises(CommitConflict):
        t.merge(spark, _df(spark, [(3, "r3", 30.0)]), "id", ["name", "val"])


def test_merge_conflicts_on_racer_rewrite(spark, tmp_path, monkeypatch):
    """A racer carrying remove actions (optimize/merge/delete) always
    conflicts — it may have rewritten the very files this merge read."""
    path = str(tmp_path / "t")
    t = _seed(spark, path)
    _race(
        monkeypatch,
        {"merge"},
        lambda: TxTable(path).optimize(spark, target_files=1),
    )
    with pytest.raises(CommitConflict):
        t.merge(
            spark,
            _df(spark, [(3, "r3", 30.0)]),
            "id",
            ["name", "val"],
            prune_on_key=True,
        )


def test_merge_conflicts_on_widening_append(spark, tmp_path, monkeypatch):
    """A racer append that widens the schema rides a meta action —
    unprovable, conflict (the merge's staged schema may be stale)."""
    path = str(tmp_path / "t")
    t = _seed(spark, path)
    wide = spark.createDataFrame(
        [(700, "w", 1.0, "extra")], "id long, name string, val double, note string"
    )
    _race(monkeypatch, {"merge"}, lambda: TxTable(path).append(wide))
    with pytest.raises(CommitConflict):
        t.merge(
            spark,
            _df(spark, [(3, "r3", 30.0)]),
            "id",
            ["name", "val"],
            prune_on_key=True,
        )


def test_merge_survives_two_successive_racers(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "t")
    t = _seed(spark, path)
    counter = {"n": 0}

    def racer():
        counter["n"] += 1
        TxTable(path).append(
            _df(spark, [(1000 + counter["n"], "x", 0.0)])
        )

    _race(monkeypatch, {"merge"}, racer, times=2)
    v = t.merge(
        spark,
        _df(spark, [(3, "r3", 30.0)]),
        "id",
        ["name", "val"],
        prune_on_key=True,
    )
    assert v == 3 and counter["n"] == 2
    assert t.read(spark).count() == 102


def test_partition_disjoint_merge_rebases(spark, tmp_path, monkeypatch):
    """The daily-backfill shape: merge scoped to day A lands under a
    racer streaming day B."""
    path = str(tmp_path / "t")
    t = TxTable(path)
    df = spark.createDataFrame(
        [(i, "2024-01-01" if i % 2 == 0 else "2024-01-02", float(i)) for i in range(20)],
        "id long, day string, val double",
    )
    t.append(df, partition_by=["day"])
    racer_df = spark.createDataFrame(
        [(100, "2024-01-03", 1.0)], "id long, day string, val double"
    )
    _race(monkeypatch, {"merge"}, lambda: TxTable(path).append(racer_df))
    staged = spark.createDataFrame(
        [(0, "2024-01-01", 99.0)], "id long, day string, val double"
    )
    v = t.merge(
        spark, staged, "id", ["day", "val"], prune_on_partitions=True
    )
    assert v == 2
    got = {r["id"]: r["val"] for r in t.read(spark).collect()}
    assert got[0] == 99.0 and got[100] == 1.0 and len(got) == 21


def test_optimize_rebases_over_any_append(spark, tmp_path, monkeypatch):
    """Compaction removes exactly what it read; interleaved appends
    stay live at the rebased version — OPTIMIZE never starves under
    streaming ingest."""
    path = str(tmp_path / "t")
    t = _seed(spark, path, files=6)
    base_files = set(t._snapshot_files())
    # overlapping is FINE here; coalesce(1) so the live-file count
    # below is deterministic (no empty task files)
    racer = _df(spark, [(50, "dup-key-ok", 0.5)]).coalesce(1)
    _race(
        monkeypatch,
        {"optimize"},
        lambda: TxTable(path).append(racer),
    )
    v = t.optimize(spark, target_files=1)
    assert v == 2
    live = set(t._snapshot_files())
    # old files gone, racer's file survived the compaction commit
    assert not (base_files & live) and len(live) == 2
    assert t.read(spark).filter("name = 'dup-key-ok'").count() == 1
    assert t.read(spark).count() == 101


def test_delete_rebases_with_prune_over_disjoint_append(
    spark, tmp_path, monkeypatch
):
    path = str(tmp_path / "t")
    t = _seed(spark, path)
    _race(
        monkeypatch,
        {"delete"},
        lambda: TxTable(path).append(_df(spark, [(900, "keep", 9.0)])),
    )
    v, rewritten, _ = t.delete(
        spark, "id BETWEEN 10 AND 19", prune_column="id", lo=10, hi=19
    )
    assert v == 2 and rewritten >= 1
    got = {r["id"] for r in t.read(spark).collect()}
    assert not (got & set(range(10, 20))) and 900 in got
    assert len(got) == 91


def test_delete_without_prune_conflicts(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "t")
    t = _seed(spark, path)
    _race(
        monkeypatch,
        {"delete"},
        lambda: TxTable(path).append(_df(spark, [(900, "keep", 9.0)])),
    )
    with pytest.raises(CommitConflict):
        t.delete(spark, "id BETWEEN 10 AND 19")


def test_delete_mor_rebases_with_prune(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "t")
    t = _seed(spark, path)
    _race(
        monkeypatch,
        {"deleteMor"},
        lambda: TxTable(path).append(_df(spark, [(900, "keep", 9.0)])),
    )
    v, covered, rows = t.delete_mor(
        spark, "id BETWEEN 10 AND 19", prune_column="id", lo=10, hi=19
    )
    assert v == 2 and covered >= 1 and rows == 10
    got = {r["id"] for r in t.read(spark).collect()}
    assert not (got & set(range(10, 20))) and 900 in got


def test_delete_mor_conflicts_on_overlapping_append(
    spark, tmp_path, monkeypatch
):
    """An append INSIDE the delete's range could carry rows the delete
    should cover — tombstones were computed without them, conflict."""
    path = str(tmp_path / "t")
    t = _seed(spark, path)
    _race(
        monkeypatch,
        {"deleteMor"},
        lambda: TxTable(path).append(_df(spark, [(15, "late", 1.5)])),
    )
    with pytest.raises(CommitConflict):
        t.delete_mor(
            spark, "id BETWEEN 10 AND 19", prune_column="id", lo=10, hi=19
        )


def test_update_rebases_over_zone_overlapping_append_via_bloom(
    spark, tmp_path, monkeypatch
):
    """r13: an equality-scoped UPDATE (lo == hi) rebases over a racer
    append whose file zone OVERLAPS the probe but whose BLOOM sidecar
    proves the key absent — the hot-ingest case where every new
    file's zone spans the key range and zone maps alone would conflict
    forever. Without blooms, the identical race conflicts (also
    pinned, proving the bloom is what carries the verdict)."""
    path = str(tmp_path / "t")
    t = _seed(spark, path)
    t.set_bloom_filter(["id"])
    # racer file spans zone [40, 60] but does NOT contain key 50
    racer_rows = [(i, f"x{i}", -1.0) for i in range(40, 61) if i != 50]

    _race(
        monkeypatch,
        {"update"},
        lambda: TxTable(path).append(_df(spark, racer_rows).coalesce(1)),
    )
    v, rewritten, _ = t.update(
        spark,
        "id = 50",
        {"val": "val + 1000"},
        prune_column="id",
        lo=50,
        hi=50,
    )
    monkeypatch.undo()
    ops = [h["op"] for h in t.history()]
    assert ops[-2:] == ["append", "update"]  # rebased, not conflicted
    got = {r["id"]: r["val"] for r in t.read(spark).collect()}
    assert got[50] == 1050.0
    assert got[41] == -1.0  # racer rows intact


def test_merge_rebases_over_zone_overlapping_append_via_bloom(
    spark, tmp_path, monkeypatch
):
    """A single-key ``merge(prune_on_key=True)`` rebases over a racing
    blind append whose zone overlaps the key but whose bloom sidecar
    proves it absent — the same rebase check delete and update use."""
    path = str(tmp_path / "t")
    t = TxTable(path)
    evens = _df(spark, [(i, f"r{i}", float(i)) for i in range(0, 200, 2)])
    t.append(evens.repartitionByRange(4, F.col("id")).sortWithinPartitions("id"))
    t.set_bloom_filter(["id"])
    # racer file: odd ids, zone [41, 59] spans key 50 but holds no 50
    racer_rows = [(i, f"x{i}", -1.0) for i in range(41, 60, 2)]
    _race(
        monkeypatch,
        {"merge"},
        lambda: TxTable(path).append(_df(spark, racer_rows).coalesce(1)),
    )
    staged = _df(spark, [(50, "new50", 5.5)])
    t.merge(spark, staged, "id", ["name", "val"], prune_on_key=True)
    monkeypatch.undo()
    assert [h["op"] for h in t.history()][-2:] == ["append", "merge"]
    got = {r["id"]: (r["name"], r["val"]) for r in t.read(spark).collect()}
    assert got[50] == ("new50", 5.5)
    assert got[41] == ("x41", -1.0) and got[48] == ("r48", 48.0)
    assert len(got) == 100 + len(racer_rows)


def test_update_conflicts_without_bloom_on_overlapping_zone(
    spark, tmp_path, monkeypatch
):
    path = str(tmp_path / "t")
    t = _seed(spark, path)  # no bloom declared
    racer_rows = [(i, f"x{i}", -1.0) for i in range(40, 61) if i != 50]
    _race(
        monkeypatch,
        {"update"},
        lambda: TxTable(path).append(_df(spark, racer_rows).coalesce(1)),
    )
    with pytest.raises(CommitConflict):
        t.update(
            spark,
            "id = 50",
            {"val": "val + 1000"},
            prune_column="id",
            lo=50,
            hi=50,
        )
