"""Merge-on-read deletion vectors (sources/txlog.py::delete_mor):
tombstones must hide rows from EVERY serving path without rewriting
any data file, survive checkpointed folds, die with their file on
compaction, and never resurrect through merge or copy-on-write
delete."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from hephaestus_spark.sources.txlog import CHECKPOINT_INTERVAL, TxTable


def _df(spark, rows):
    return spark.createDataFrame(rows, "id long, name string, val double")


def _seed(spark, path):
    t = TxTable(path)
    rows = [(i, f"n{i}", float(i)) for i in range(40)]
    t.append(
        _df(spark, rows).repartitionByRange(4, F.col("id")).sortWithinPartitions("id")
    )
    return t


def test_delete_mor_tombstones_without_rewriting_files(spark, tmp_path):
    t = _seed(spark, str(tmp_path / "t"))
    data_files_before = sorted(n for n, _ in t.live_files())
    v, covered, n_rows = t.delete_mor(
        spark, "id BETWEEN 10 AND 19", prune_column="id", lo=10, hi=19
    )
    assert (v, n_rows) == (1, 10)
    assert covered >= 1
    # ZERO write amplification: the live data file set is unchanged
    assert sorted(n for n, _ in t.live_files()) == data_files_before
    # every serving path hides the tombstoned rows
    expect = [i for i in range(40) if not 10 <= i <= 19]
    assert sorted(r["id"] for r in t.read(spark).collect()) == expect
    assert sorted(
        r["id"] for r in t.read_pruned(spark, "id", 0, 39).collect()
    ) == expect
    assert sorted(
        r["id"] for r in t.read_pruned(spark, "id", values=list(range(40))).collect()
    ) == [i for i in range(40) if not 10 <= i <= 19]
    # time travel still shows the pre-delete rows
    assert t.read(spark, version=0).count() == 40
    # re-deleting the same band finds nothing (tombstones are applied
    # to the hit scan itself)
    v2, covered2, n2 = t.delete_mor(spark, "id BETWEEN 10 AND 19")
    assert (v2, covered2, n2) == (1, 0, 0)


def test_delete_mor_does_not_resurrect_through_merge_or_cow_delete(spark, tmp_path):
    t = _seed(spark, str(tmp_path / "t"))
    t.delete_mor(spark, "id < 5")
    # copy-on-write merge: staged rows update survivors; tombstoned
    # rows must not come back even though their file is rewritten
    staged = _df(spark, [(7, "n7", 700.0), (50, "x", 50.0)])
    t.merge(spark, staged, "id", ["name", "val"])
    got = {r["id"]: r["val"] for r in t.read(spark).collect()}
    assert 0 not in got and 4 not in got
    assert got[7] == 700.0 and got[50] == 50.0
    assert len(got) == 40 - 5 + 1
    # a later copy-on-write delete over a DV'd region must not
    # resurrect other tombstones either
    t2 = _seed(spark, str(tmp_path / "t2"))
    t2.delete_mor(spark, "id = 0")
    t2.delete(spark, "id BETWEEN 1 AND 2", prune_column="id", lo=1, hi=2)
    ids = sorted(r["id"] for r in t2.read(spark).collect())
    assert ids == list(range(3, 40))


def test_optimize_materializes_deletes_and_drops_vectors(spark, tmp_path):
    t = _seed(spark, str(tmp_path / "t"))
    t.delete_mor(spark, "id % 2 = 1")
    assert t.dv_map()  # vectors live
    t.optimize(spark, target_files=2, cluster_by="id")
    assert t.dv_map() == {}  # compaction materialized them
    assert sorted(r["id"] for r in t.read(spark).collect()) == list(range(0, 40, 2))
    # vacuum keeps the DV parquet (old versions still time-travel)
    t.vacuum(grace_seconds=0.0)
    assert t.read(spark, version=1).count() == 20


def test_dv_fold_survives_checkpoints(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    t.append(_df(spark, [(i, "a", 1.0) for i in range(10)]))
    t.delete_mor(spark, "id = 3")
    # push past a checkpoint boundary with small appends
    nxt = 100
    while t.latest_version() < CHECKPOINT_INTERVAL + 1:
        t.append(_df(spark, [(nxt, "b", 2.0)]))
        nxt += 1
    assert t._checkpoint_versions(), "no checkpoint written"
    # a COLD instance folds from the checkpoint and must still see the DV
    cold = TxTable(t.path)
    assert cold.dv_map()
    assert 3 not in {r["id"] for r in cold.read(spark).collect()}


def test_native_datasource_masks_tombstones(spark, tmp_path):
    from hephaestus_spark.sources.txlog_datasource import TxLogDataSource

    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(TxLogDataSource)
    t = _seed(spark, str(tmp_path / "t"))
    t.delete_mor(spark, "id BETWEEN 10 AND 19", prune_column="id", lo=10, hi=19)
    got = spark.read.format("txlog").load(t.path)
    assert sorted(r["id"] for r in got.collect()) == [
        i for i in range(40) if not 10 <= i <= 19
    ]
    # pruned + tombstoned together: the [5, 14] band spans a fully
    # live file and a tombstoned one
    band = got.filter(F.col("id").between(5, 14))
    assert sorted(r["id"] for r in band.collect()) == list(range(5, 10))
    # time travel ignores later DVs
    v0 = spark.read.format("txlog").option("version", 0).load(t.path)
    assert v0.count() == 40


def test_change_feed_serves_dv_commits_as_deletes(spark, tmp_path):
    """r10 (VERDICT r9 #3): a merge-on-read delete is a servable
    row-level change — the tombstone parquet names exactly the
    (file, pos) rows removed, so the feed emits them with
    _change_type='delete' instead of refusing the whole range."""
    t = _seed(spark, str(tmp_path / "t"))
    t.delete_mor(spark, "id IN (1, 25)")
    feed = t.read_changes(spark, since_version=-1)
    ins = feed.filter(F.col("_change_type") == "insert")
    dels = feed.filter(F.col("_change_type") == "delete")
    assert ins.count() == 40
    got = {(r["id"], r["_commit_version"]) for r in dels.collect()}
    assert got == {(1, 1), (25, 1)}
    # deleted rows carry their full column values, not just keys
    assert {r["val"] for r in dels.collect()} == {1.0, 25.0}
    # a consumer starting after the delete sees nothing (no replays)
    assert t.read_changes(spark, since_version=1).count() == 0
    # r11 (VERDICT r10 #2): a CoW DELETE in range is served row-level
    # — the recorded predicate re-evaluated over the rewritten files'
    # visible rows reproduces exactly the deleted rows; rows that were
    # ALREADY tombstoned (id=1, 25) must not re-emit as deletes
    t.delete(spark, "id = 2")
    feed2 = t.read_changes(spark, since_version=1)
    got2 = {
        (r["id"], r["_change_type"], r["_commit_version"])
        for r in feed2.collect()
    }
    assert got2 == {(2, "delete", 2)}


def test_widening_append_schema_evolution(spark, tmp_path):
    """Widening appends: a later commit adds a column; older files
    surface it as nulls through every read path (mergeSchema in the
    Spark reads, batch alignment in the native datasource) with no
    data rewrite."""
    from hephaestus_spark.sources.txlog_datasource import TxLogDataSource

    spark.dataSource.register(TxLogDataSource)
    t = TxTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a", 1.0), (2, "b", 2.0)]))
    t.append(
        spark.createDataFrame(
            [(3, "c", 3.0, "x")], "id long, name string, val double, tag string"
        )
    )
    got = t.read(spark)
    assert set(got.columns) == {"id", "name", "val", "tag"}
    rows = {r["id"]: r["tag"] for r in got.collect()}
    assert rows == {1: None, 2: None, 3: "x"}
    # change feed crosses the widening append
    feed = t.read_changes(spark, since_version=-1)
    assert feed.count() == 3 and "tag" in feed.columns
    # native datasource: newest-file schema, old files null-aligned
    nat = spark.read.format("txlog").load(t.path)
    assert {r["id"]: r["tag"] for r in nat.collect()} == {1: None, 2: None, 3: "x"}
    # zone maps on the NEW column: files without stats are kept (safe),
    # and the residual filter still returns exactly the right rows
    assert [r["id"] for r in t.read_pruned(spark, "tag", "x", "x").collect()] == [3]


def test_stats_summary_counts_and_bounds(spark, tmp_path):
    """Metadata-only aggregates: exact before DVs, honestly inexact
    bounds after, count still exact by subtracting live tombstones."""
    t = _seed(spark, str(tmp_path / "t"))
    s = t.stats_summary("id")
    assert (s["count"], s["count_exact"]) == (40, True)
    assert (s["min"], s["max"], s["bounds_exact"]) == (0, 39, True)
    t.delete_mor(spark, "id >= 35")
    s2 = t.stats_summary("id")
    assert (s2["count"], s2["count_exact"]) == (35, True)
    # the max row was tombstoned: bounds still BRACKET (never lie
    # inward) but are flagged inexact
    assert s2["max"] == 39 and s2["bounds_exact"] is False
    # compaction materializes: everything exact again
    t.optimize(spark, target_files=2, cluster_by="id")
    s3 = t.stats_summary("id")
    assert (s3["count"], s3["max"], s3["bounds_exact"]) == (35, 34, True)


def test_ann_index_stream_ingest_exactly_once(spark, tmp_path):
    from hephaestus_spark.operators.ann_index import TxAnnIndex
    from hephaestus_spark.queries.similarity import label_centroids
    from hephaestus_spark.sources import load_table

    full = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    initial = full.filter(F.col("vec_id") % 5 != 0)
    delta = full.filter(F.col("vec_id") % 5 == 0).select("vec_id", "embedding")
    idx = TxAnnIndex(str(tmp_path / "ann"))
    idx.build(spark, initial.select("vec_id", "embedding"),
              label_centroids(initial), m=8, k=16, n_iter=2)
    v = idx.append_stream(spark, delta, app_id="feed", batch_id=0)
    assert v is not None
    n = idx.codes.read(spark).count()
    # a redelivered micro-batch (restart replay) indexes nothing twice
    assert idx.append_stream(spark, delta, app_id="feed", batch_id=0) is None
    assert idx.codes.read(spark).count() == n
    twin = delta.select(F.min("vec_id")).first()[0]
    probe = delta.filter(F.col("vec_id") == twin).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    assert idx.search(spark, probe, k_final=1).first()["vec_id"] == twin


def test_expire_log_retention_lifecycle(spark, tmp_path):
    """Log retention: expire_log deletes pre-horizon entries +
    superseded checkpoints; reads at/after the horizon (and the
    exactly-once txn map) survive via the newest checkpoint; time
    travel below the horizon and feeds reaching below it fail loudly;
    vacuum then reclaims data files only pre-horizon versions
    referenced."""
    t = TxTable(str(tmp_path / "t"))
    t.append(_df(spark, [(0, "seed", 0.0)]))
    t.append_stream_batch(_df(spark, [(1, "s", 1.0)]), "app", 0)
    # drive past a checkpoint with merges so files get REMOVED (the
    # reclamation candidates)
    i = 2
    while t.latest_version() < CHECKPOINT_INTERVAL:
        t.merge(spark, _df(spark, [(0, "seed", float(i))]), "id", ["name", "val"])
        i += 1
    ck = t._checkpoint_versions()[-1]
    pre_files = set(os.listdir(t.path))
    expired = t.expire_log()
    assert expired and max(expired) == ck - 1
    # current read unaffected, cold instance too
    cold = TxTable(t.path)
    got = {r["id"]: r["val"] for r in cold.read(spark).collect()}
    assert got[0] == float(i - 1) and got[1] == 1.0
    # exactly-once map survives expiry (lives in the checkpoint)
    assert cold.append_stream_batch(_df(spark, [(1, "s", 1.0)]), "app", 0) is None
    # time travel below the horizon: loud error, not a wrong snapshot
    with pytest.raises(ValueError, match="horizon"):
        cold.read(spark, version=1)
    with pytest.raises(ValueError, match="horizon"):
        cold.read_changes(spark, since_version=0)
    # history starts at the horizon
    assert cold.history()[0]["version"] == ck
    # vacuum reclaims the pre-horizon rewritten files, keeps live data
    deleted = cold.vacuum(grace_seconds=0.0)
    assert deleted, "expected pre-horizon files to be reclaimed"
    assert {r["id"] for r in cold.read(spark).collect()} == {0, 1}
    assert set(deleted) <= pre_files


def test_delete_mor_conflicts_instead_of_blind_retry(spark, tmp_path):
    """Tombstone positions are only valid against the snapshot that
    was read: a commit that lands in between must surface as
    CommitConflict (blind retry could tombstone rows the winner just
    rewrote)."""
    from hephaestus_spark.sources.txlog import CommitConflict, _log_path

    t = _seed(spark, str(tmp_path / "t"))
    # inject a racing commit AFTER delete_mor reads its snapshot but
    # before it commits (during tombstone staging — deterministic)
    import json

    orig_stage = t._stage

    def stage_and_race(df, **kw):
        names = orig_stage(df, **kw)
        winner = {"version": 1, "op": "append", "actions": [], "ts": 0.0}
        with open(_log_path(t.path, 1), "x") as f:
            json.dump(winner, f)
        return names

    t._stage = stage_and_race
    with pytest.raises(CommitConflict):
        t.delete_mor(spark, "id = 0")


def test_maintain_composes_the_lifecycle(spark, tmp_path):
    """One housekeeping tick: compaction fires on fragmentation OR
    live deletion vectors (materializing them), expiry trims the log
    behind the checkpoint, vacuum reclaims what expiry unreferenced —
    and a cheap tick on a healthy table is a no-op compaction-wise."""
    t = TxTable(str(tmp_path / "t"))
    for i in range(9):  # v0..v8: nine tiny files
        t.append(_df(spark, [(i, "a", float(i))]))
    t.optimize(spark, target_files=1)  # v9: removes the nine originals
    t.append(_df(spark, [(9, "a", 9.0)]))  # v10 -> checkpoint lands
    t.delete_mor(spark, "id = 0")  # v11: a live tombstone
    report = t.maintain(
        spark, max_files=1, target_files=2, cluster_by="id",
        retain_versions=0, vacuum_grace=0.0,
    )
    assert "compacted" in report  # fired on the live DV alone
    # horizon moved to the v10 checkpoint: entries v0..v9 trimmed...
    assert report["expired"] and max(report["expired"]) == 9
    # ...which unreferences the nine pre-horizon originals (their
    # remove actions lived in the expired entries) -> reclaimed now
    assert len(report["vacuumed"]) >= 9
    assert t.dv_map() == {}  # tombstones materialized by the compact
    assert sorted(r["id"] for r in t.read(spark).collect()) == list(range(1, 10))
    # healthy table: second tick compacts nothing
    report2 = t.maintain(spark, max_files=4, retain_versions=0, vacuum_grace=0.0)
    assert "compacted" not in report2


def test_change_feed_merge_cdf_and_predicateless_delete(spark, tmp_path):
    """r11 (VERDICT r10 #2) edge coverage for the CDF reconstruction:
    (a) merge under zone-map pruning — untouched files contribute
    nothing; (b) a merge touching a file with live tombstones must not
    resurrect tombstoned rows into preimages; (c) a pre-r11 delete
    commit without a recorded predicate falls back to the exact
    multiset EXCEPT and still serves the right rows."""
    import json as _json
    import os

    from hephaestus_spark.sources.txlog import _log_path

    t = _seed(spark, str(tmp_path / "t"))          # v0: ids 0..39
    t.delete_mor(spark, "id = 3")                  # v1: tombstone
    # v2: merge updates id=4, inserts id=100
    t.merge(
        spark,
        _df(spark, [(4, "n4", 44.0), (100, "new", 100.0)]),
        "id",
        ["name", "val"],
    )
    feed = t.read_changes(spark, since_version=1)
    got = sorted(
        (r["id"], r["_change_type"], r["val"]) for r in feed.collect()
    )
    # id=3 is tombstoned pre-merge: it must NOT appear as a preimage
    assert got == [
        (4, "update_postimage", 44.0),
        (4, "update_preimage", 4.0),
        (100, "insert", 100.0),
    ]
    # (c) strip the delete predicate -> EXCEPT fallback, same rows
    t.delete(spark, "id IN (7, 8)")                # v3
    p = _log_path(t.path, 3)
    entry = _json.loads(open(p).read())
    assert entry["info"] == {"predicate": "id IN (7, 8)"}
    del entry["info"]
    os.remove(p)
    with open(p, "x") as f:
        _json.dump(entry, f)
    feed3 = TxTable(t.path).read_changes(spark, since_version=2)
    got3 = sorted((r["id"], r["_change_type"]) for r in feed3.collect())
    assert got3 == [(7, "delete"), (8, "delete")]


def test_cdc_sidecars_match_reconstruction_and_survive_vacuum(spark, tmp_path):
    """r11 (Delta enableChangeDataFeed): with the table property set,
    merge/delete land their row-level changes as cdc sidecar parquets
    in the same commit; the feed serves those commits join-free and
    BIT-IDENTICALLY to the reconstruction path (same helper), and
    vacuum never reclaims a referenced sidecar."""
    import os

    def lifecycle(t):
        t.append(_df(spark, [(i, f"n{i}", float(i)) for i in range(20)]))
        t.merge(
            spark,
            _df(spark, [(4, "n4", 44.0), (100, "new", 100.0)]),
            "id",
            ["name", "val"],
        )
        t.delete(spark, "id % 9 = 0")

    a = TxTable(str(tmp_path / "plain"))
    lifecycle(a)
    b = TxTable(str(tmp_path / "cdf"))
    b.append(_df(spark, [(0, "seed", 0.0)]))
    b.set_change_data_feed(True)                        # v1 (meta-only)
    b.delete(spark, "id = 0")                           # v2 — cdc delete
    lifecycle(b)                                        # v3 append, v4 merge, v5 delete
    # sidecars actually landed on the cdf table
    e_merge = b._read_entry(4)
    e_del = b._read_entry(5)
    assert any("cdc" in x for x in e_merge["actions"])
    assert any("cdc" in x for x in e_del["actions"])
    # identical rows from sidecar (b) and reconstruction (a)
    cols = ["id", "name", "val", "_change_type"]
    got_a = sorted(
        tuple(r[c] for c in cols)
        for r in a.read_changes(spark, since_version=-1).collect()
    )
    got_b = sorted(
        tuple(r[c] for c in cols)
        for r in b.read_changes(spark, since_version=2).collect()
    )
    assert got_a == got_b
    assert (4, "n4", 4.0, "update_preimage") in got_a
    assert (4, "n4", 44.0, "update_postimage") in got_a
    assert (100, "new", 100.0, "insert") in got_a
    assert (9, "n9", 9.0, "delete") in got_a
    # the meta-only property commit rides the feed contributing nothing
    assert b.read_changes(spark, since_version=0).filter(
        "_commit_version = 1"
    ).count() == 0
    # vacuum keeps every referenced sidecar; feed still serves
    assert b.vacuum(grace_seconds=0.0) == []
    assert sorted(
        tuple(r[c] for c in cols)
        for r in TxTable(b.path).read_changes(spark, since_version=2).collect()
    ) == got_a
    # table contents unaffected by cdc bookkeeping
    assert sorted(r["id"] for r in b.read(spark).collect()) == sorted(
        r["id"] for r in a.read(spark).collect()
    )


def test_maintain_purges_dvs_without_full_rewrite(spark, tmp_path):
    """r12: a healthy-file-count table with live vectors gets the
    TARGETED reorg from the maintain tick — only the heavy file
    re-houses, the light one keeps its vector until it crosses the
    threshold — and a live clone blocks expiry without crashing the
    tick."""
    t = TxTable(str(tmp_path / "t"))
    t.append(_df(spark, [(i, "a", float(i)) for i in range(10)]).coalesce(1))
    t.append(_df(spark, [(100 + i, "b", 1.0) for i in range(10)]).coalesce(1))
    clone = t.clone_to(str(tmp_path / "c"))
    t.delete_mor(spark, "id < 5")     # 50% of file 1
    t.delete_mor(spark, "id = 100")   # 10% of file 2
    for i in range(9):  # roll past the interval-10 checkpoint
        t.append(_df(spark, [(200 + i, "a", 2.0)]).coalesce(1))
    before = set(t._snapshot_files())
    report = t.maintain(
        spark, max_files=64, retain_versions=0, vacuum_grace=0.0,
        purge_dvs=0.3,
    )
    assert "compacted" not in report and "purged" in report
    after = set(t._snapshot_files())
    assert len(before - after) == 1          # only the heavy file
    assert len(t.dv_map()) == 1              # the light vector survives
    assert "expiry_blocked" in report        # the clone gates expiry
    assert "shallow clone" in report["expiry_blocked"]
    assert clone.read(spark).count() == 20   # nothing reclaimed
    assert sorted(r["id"] for r in t.read(spark).collect()) == sorted(
        [i for i in range(5, 10)] + [101 + i for i in range(9)]
        + [200 + i for i in range(9)]
    )
