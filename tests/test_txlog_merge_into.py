"""General MERGE INTO (sources/txlog.py r12 — Delta's multi-clause
merge surface): arbitrary t./s. join condition, conditional matched
update/delete, not-matched insert, not-matched-by-source update/delete,
copy-on-write file-minimality, the multiple-matches refusal, and CDC
sidecars for every clause."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from hephaestus_spark.sources.txlog import TxTable


def _seed(spark, path, n=40, files=4):
    t = TxTable(path)
    t.append(
        spark.createDataFrame(
            [(i, f"r{i}", float(i)) for i in range(n)],
            "id long, name string, val double",
        ).repartitionByRange(files, F.col("id")).sortWithinPartitions("id")
    )
    return t


def _src(spark, rows):
    return spark.createDataFrame(rows, "id long, name string, val double, op string")


def test_merge_into_all_clauses(spark, tmp_path):
    t = _seed(spark, str(tmp_path / "t"))
    src = _src(
        spark,
        [
            (5, "upd5", 500.0, "u"),    # matched + update cond
            (7, "del7", 0.0, "d"),      # matched + delete cond
            (100, "new100", 1.0, "u"),  # not matched -> insert
            (101, "skip", 1.0, "x"),    # not matched, insert cond fails
        ],
    )
    v, m = t.merge_into(
        spark,
        src,
        "t.id = s.id",
        matched_update={"name": "s.name", "val": "s.val + t.val"},
        matched_update_condition="s.op = 'u'",
        matched_delete=True,
        matched_delete_condition="s.op = 'd'",
        not_matched_insert={"id": "s.id", "name": "s.name", "val": "s.val"},
        not_matched_insert_condition="s.op = 'u'",
    )
    assert v == 1
    assert m == {
        "rows_updated": 1,
        "rows_deleted": 1,
        "rows_inserted": 1,
        "files_rewritten": 1,  # ids 5 and 7 live in the same range file
    }
    got = {r["id"]: (r["name"], r["val"]) for r in t.read(spark).collect()}
    assert got[5] == ("upd5", 505.0)
    assert 7 not in got
    assert got[100] == ("new100", 1.0)
    assert 101 not in got
    assert got[6] == ("r6", 6.0)  # matched-nothing rows intact
    assert len(got) == 40 - 1 + 1
    # DESCRIBE HISTORY serves the commit's operationMetrics (r12)
    assert t.history()[-1]["metrics"] == m


def test_merge_into_rewrites_only_hit_files(spark, tmp_path):
    t = _seed(spark, str(tmp_path / "t"))
    before = set(t._snapshot_files())
    v, m = t.merge_into(
        spark,
        _src(spark, [(2, "x", 9.0, "u")]),
        "t.id = s.id",
        matched_update={"val": "s.val"},
    )
    assert m["files_rewritten"] == 1
    after = set(t._snapshot_files())
    assert len(before & after) == 3  # three files byte-identical


def test_merge_into_by_source_clauses(spark, tmp_path):
    """Rows absent from the source: val < 5 marked stale (update),
    val >= 30 purged (delete), everything else untouched — including
    rows in files with no matches at all."""
    t = _seed(spark, str(tmp_path / "t"))
    src = _src(spark, [(10, "keep10", 10.0, "u")])
    v, m = t.merge_into(
        spark,
        src,
        "t.id = s.id",
        matched_update={"name": "s.name"},
        not_matched_by_source_update={"name": "concat(t.name, '-stale')"},
        not_matched_by_source_update_condition="t.val < 5",
        not_matched_by_source_delete=True,
        not_matched_by_source_delete_condition="t.val >= 30",
    )
    got = {r["id"]: r["name"] for r in t.read(spark).collect()}
    assert got[10] == "keep10"
    assert got[0] == "r0-stale" and got[4] == "r4-stale"
    assert got[5] == "r5" and got[29] == "r29"
    assert 30 not in got and 39 not in got
    assert m["rows_updated"] == 1 + 5 and m["rows_deleted"] == 10
    # file-minimal even for by-source clauses: the ids 20-29 file has
    # no matched row and no condition-satisfying unmatched row -> kept
    assert m["files_rewritten"] == 3


def test_merge_into_multiple_matches_refused(spark, tmp_path):
    t = _seed(spark, str(tmp_path / "t"))
    dup = _src(spark, [(5, "a", 1.0, "u"), (5, "b", 2.0, "u")])
    before = t.latest_version()
    with pytest.raises(ValueError, match="more than one"):
        t.merge_into(
            spark, dup, "t.id = s.id", matched_update={"val": "s.val"}
        )
    assert t.latest_version() == before
    # without a matched clause, multiple matches are legal (Delta):
    # the row just stays, once
    v, m = t.merge_into(
        spark,
        dup,
        "t.id = s.id",
        not_matched_insert={"id": "s.id", "name": "s.name", "val": "s.val"},
    )
    assert m == {
        "rows_updated": 0,
        "rows_deleted": 0,
        "rows_inserted": 0,
        "files_rewritten": 0,
    }
    assert t.latest_version() == before  # nothing to do -> no commit
    assert t.read(spark).filter("id = 5").count() == 1


def test_merge_into_no_op_commits_nothing(spark, tmp_path):
    t = _seed(spark, str(tmp_path / "t"))
    v, m = t.merge_into(
        spark,
        _src(spark, [(999, "x", 1.0, "u")]),
        "t.id = s.id",
        matched_update={"val": "s.val"},
    )
    assert v == 0 and m["files_rewritten"] == 0
    assert t.latest_version() == 0


def test_merge_into_cdf_sidecars_serve_every_clause(spark, tmp_path):
    t = _seed(spark, str(tmp_path / "t"), n=10, files=1)
    t.set_change_data_feed(True)
    src = _src(spark, [(3, "u3", 300.0, "u"), (4, "d", 0.0, "d"),
                       (50, "new", 5.0, "u")])
    v, _m = t.merge_into(
        spark,
        src,
        "t.id = s.id",
        matched_update={"val": "s.val"},
        matched_update_condition="s.op = 'u'",
        matched_delete=True,
        matched_delete_condition="s.op = 'd'",
        not_matched_insert={"id": "s.id", "name": "s.name", "val": "s.val"},
    )
    ch = {
        (r["id"], r["_change_type"]): r["val"]
        for r in t.read_changes(spark, v - 1, v).collect()
    }
    assert ch[(3, "update_preimage")] == 3.0
    assert ch[(3, "update_postimage")] == 300.0
    assert ch[(4, "delete")] == 4.0
    assert ch[(50, "insert")] == 5.0
    assert len(ch) == 4  # untouched rows contribute NOTHING


def test_merge_into_without_cdf_fails_streaming_reconstruction(spark, tmp_path):
    t = _seed(spark, str(tmp_path / "t"), n=6, files=1)
    t.merge_into(
        spark,
        _src(spark, [(1, "x", 9.0, "u")]),
        "t.id = s.id",
        matched_update={"val": "s.val"},
    )
    with pytest.raises(ValueError, match="merge_into"):
        t.read_changes(spark, since_version=0).collect()


def test_merge_into_identity_refused(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    t.append(
        spark.createDataFrame(
            [(1, "a", 1.0)], "uid long, name string, val double"
        )
    )
    t.set_identity(spark, "uid")
    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        t.merge_into(
            spark,
            spark.createDataFrame([("a", 2.0)], "name string, val double"),
            "t.name = s.name",
            matched_update={"uid": "0"},
        )

def test_merge_into_scope_partitions(spark, tmp_path, monkeypatch):
    """scope_partitions = Delta's ON-clause partition predicate made
    explicit: every classification join reads ONLY the scoped
    partition's files (spied at the scan layer), a matching key
    OUTSIDE the scope is treated as absent (the source row inserts),
    and in-scope semantics are unchanged."""
    t = TxTable(str(tmp_path / "t"))
    t.append(
        spark.createDataFrame(
            [(i, ["a", "b"][i % 2], float(i)) for i in range(20)],
            "id long, day string, val double",
        ),
        partition_by=["day"],
    )
    scans: list[list[str]] = []
    orig = TxTable._scan

    def spy(self, spark_, files, version=None, keep_keys=False):
        scans.append(list(files))
        return orig(self, spark_, files, version, keep_keys)

    monkeypatch.setattr(TxTable, "_scan", spy)
    src = spark.createDataFrame(
        [(2, "a", 200.0), (3, "b", 300.0)], "id long, day string, val double"
    )
    v, m = t.merge_into(
        spark,
        src,
        "t.id = s.id",
        matched_update={"val": "s.val"},
        not_matched_insert={"id": "s.id", "day": "s.day", "val": "s.val"},
        scope_partitions={"day": ["a"]},
    )
    merge_scans = [list(fs) for fs in scans]  # before the verify read
    assert m["rows_updated"] == 1 and m["rows_inserted"] == 1
    rows = sorted(
        (r["id"], r["day"], r["val"]) for r in t.read(spark).collect()
    )
    assert (2, "a", 200.0) in rows          # in-scope key updated
    assert (3, "b", 3.0) in rows            # out-of-scope target untouched
    assert (3, "b", 300.0) in rows          # ...and the source row inserted
    assert len(rows) == 21
    # NO plan over a day=b file was ever constructed by the merge
    flat = {f for fs in merge_scans for f in fs}
    assert flat and not any("day=b" in f for f in flat)


def test_merge_into_null_clause_condition_keeps_rows(spark, tmp_path):
    """r13 (ADVICE r12 high): a clause condition that evaluates to SQL
    NULL is NOT satisfied — the row stays in the table untouched (the
    SQL/Delta contract). Before the fix, ``(~upd) & NULL`` was NULL,
    so the row fell out of BOTH the rewrite and the delete count: it
    vanished uncounted with no CDC delete row."""
    t = TxTable(str(tmp_path / "t"))
    t.append(
        spark.createDataFrame(
            [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0), (4, "d", 4.0)],
            "id long, name string, val double",
        )
    )
    # flag: True -> delete fires; None -> NULL condition, row KEPT;
    # False -> row kept. id=4 has no source row at all.
    src = spark.createDataFrame(
        [(1, True), (2, None), (3, False)], "id long, flag boolean"
    )
    v, m = t.merge_into(
        spark,
        src,
        "t.id = s.id",
        matched_delete=True,
        matched_delete_condition="s.flag",
    )
    assert m["rows_deleted"] == 1 and m["rows_updated"] == 0
    got = sorted(r["id"] for r in t.read(spark).collect())
    assert got == [2, 3, 4]  # NULL-condition row 2 must survive


def test_merge_into_null_update_condition_leaves_row_unchanged(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    t.append(
        spark.createDataFrame(
            [(1, 1.0), (2, 2.0)], "id long, val double"
        )
    )
    src = spark.createDataFrame(
        [(1, 100.0, True), (2, 200.0, None)],
        "id long, val double, flag boolean",
    )
    v, m = t.merge_into(
        spark,
        src,
        "t.id = s.id",
        matched_update={"val": "s.val"},
        matched_update_condition="s.flag",
    )
    assert m["rows_updated"] == 1
    got = {r["id"]: r["val"] for r in t.read(spark).collect()}
    assert got == {1: 100.0, 2: 2.0}  # NULL condition: no update, row kept


def test_merge_into_null_by_source_condition_keeps_rows(spark, tmp_path):
    """BY SOURCE clauses honor the same NULL-is-not-satisfied rule:
    a target row whose by-source delete condition is NULL survives."""
    t = TxTable(str(tmp_path / "t"))
    t.append(
        spark.createDataFrame(
            [(1, 1.0), (2, None), (3, 3.0)], "id long, val double"
        )
    )
    src = spark.createDataFrame([(1,)], "id long")
    v, m = t.merge_into(
        spark,
        src,
        "t.id = s.id",
        not_matched_by_source_delete=True,
        # NULL for id=2 (t.val IS NULL), True for id=3
        not_matched_by_source_delete_condition="t.val > 0",
    )
    assert m["rows_deleted"] == 1
    got = sorted(r["id"] for r in t.read(spark).collect())
    assert got == [1, 2]  # id=2's NULL condition keeps it; id=3 deleted


@pytest.mark.parametrize("insert", [False, True])
@pytest.mark.parametrize("cdf", [False, True])
def test_merge_into_by_source_repeated_source_key_keeps_row_once(
    spark, tmp_path, cdf, insert
):
    """With no matched clause a source key may repeat (Delta allows
    it). A target row matching two source rows, in a file a BY SOURCE
    delete rewrites, must land once, not once per match."""
    t = TxTable(str(tmp_path / "t"))
    t.append(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "id long, name string"
        ).coalesce(1)
    )
    if cdf:
        t.set_change_data_feed(True)
    base = t.latest_version()
    src = spark.createDataFrame([(1, "x"), (1, "y"), (9, "n")], "id long, name string")
    v, m = t.merge_into(
        spark,
        src,
        "t.id = s.id",
        not_matched_insert={"id": "s.id", "name": "s.name"} if insert else None,
        not_matched_by_source_delete=True,
        not_matched_by_source_delete_condition="t.id = 2",
    )
    assert m == {
        "rows_updated": 0,
        "rows_deleted": 1,
        "rows_inserted": int(insert),
        "files_rewritten": 1,
    }
    got = sorted(tuple(r) for r in t.read(spark).collect())
    assert got == [(1, "a"), (3, "c")] + ([(9, "n")] if insert else [])
    if cdf:
        changes = t.read_changes(spark, base, v).select("id", "_change_type")
        assert sorted(tuple(r) for r in changes.collect()) == [(2, "delete")] + (
            [(9, "insert")] if insert else []
        )


def test_merge_into_empty_live_snapshot_inserts(spark, tmp_path):
    """r13 (ADVICE r12 medium): MERGE on a table whose live snapshot
    is empty (all rows previously deleted) must treat every source row
    as NOT MATCHED — insert them — instead of crashing in
    _read_files with no files. A partitioned table is the reliable
    repro: staging the delete's empty kept-rows frame under
    partitionBy writes ZERO part files, so the live add-set is
    literally empty (an unpartitioned empty stage leaves a 0-row
    part file, which never hit the bug)."""
    t = TxTable(str(tmp_path / "t"))
    t.append(
        spark.createDataFrame(
            [(1, "a", 1.0), (2, "b", 2.0)],
            "id long, day string, val double",
        ),
        partition_by=["day"],
    )
    t.delete(spark, "true")
    assert t._snapshot_files() == []  # genuinely empty live snapshot
    src = spark.createDataFrame(
        [(10, "a", 10.0), (11, "b", 11.0)], "id long, day string, val double"
    )
    v, m = t.merge_into(
        spark,
        src,
        "t.id = s.id",
        matched_update={"val": "s.val"},
        not_matched_insert={"id": "s.id", "day": "s.day", "val": "s.val"},
    )
    assert m == {
        "rows_updated": 0,
        "rows_deleted": 0,
        "rows_inserted": 2,
        "files_rewritten": 0,
    }
    got = sorted((r["id"], r["val"]) for r in t.read(spark).collect())
    assert got == [(10, 10.0), (11, 11.0)]


def test_merge_into_empty_live_snapshot_no_insert_clause(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    t.append(
        spark.createDataFrame(
            [(1, "a", 1.0)], "id long, day string, val double"
        ),
        partition_by=["day"],
    )
    t.delete(spark, "true")
    assert t._snapshot_files() == []
    src = spark.createDataFrame(
        [(1, "a", 5.0)], "id long, day string, val double"
    )
    v, m = t.merge_into(
        spark, src, "t.id = s.id", matched_update={"val": "s.val"}
    )
    assert m == {
        "rows_updated": 0,
        "rows_deleted": 0,
        "rows_inserted": 0,
        "files_rewritten": 0,
    }
