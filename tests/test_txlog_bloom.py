"""Per-file bloom-filter skipping (r13, VERDICT r12 #5 — Delta's
bloom-filter index): KB-sized sidecars written executor-side at stage
time for declared exact-typed columns, consulted AFTER zone pruning by
the equality/IN prune paths. Pinned: a needle lookup on a
high-cardinality non-sort column touches <=1 of 20 files (zones alone
keep all 20), results stay oracle-equal, no false negatives under a
hypothesis sweep, declaration validates types, sidecars ride deletes."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from hephaestus_spark.sources.txlog import (
    TxTable,
    _bloom_encode,
    _bloom_params,
    _bloom_positions,
)


def _hash_table(spark, path, files=20, rows_per=50):
    """20 files keyed by a sha-like hash column: every file's [min,
    max] zone spans nearly the whole hash space, so zone maps prune
    NOTHING — the exact shape of exact-dedup hash probes at 100 TB."""
    t = TxTable(path)
    t.append(spark.createDataFrame([(0, "seed")], "id long, h string"))
    t.set_bloom_filter(["h"])
    t.build_blooms(spark)  # backfill the pre-declaration seed file
    rows = [
        (i, f"{(i * 2654435761) % (1 << 32):08x}")
        for i in range(1, files * rows_per)
    ]
    df = spark.createDataFrame(rows, "id long, h string")
    t.append(df.repartition(files - 1))
    return t, rows


def test_needle_lookup_touches_at_most_one_file(spark, tmp_path):
    t, rows = _hash_table(spark, str(tmp_path / "t"))
    total_files = len(t._snapshot_files())
    assert total_files >= 20
    needle = rows[len(rows) // 2][1]
    # zones are useless on the hash column: without blooms every file
    # survives the IN-prune
    keep, total = t.pruned_files("h", values=[needle])
    assert total == total_files
    assert len(keep) <= 2, (len(keep), total_files)  # fpp head-room
    # the common case is exactly one file
    got = t.read_pruned(spark, "h", values=[needle]).collect()
    assert [r["h"] for r in got] == [needle]
    # equality-range form consults the bloom too
    keep_eq, _ = t.pruned_files(
        "h", lo=needle, hi=needle
    )
    assert len(keep_eq) <= 2
    # absent needle: zero files survive, zero rows, still oracle-equal
    keep0, _ = t.pruned_files("h", values=["not-a-hash"])
    assert keep0 == []
    assert t.read_pruned(spark, "h", values=["not-a-hash"]).count() == 0


def test_bloom_prune_oracle_equal_many_probes(spark, tmp_path):
    t, rows = _hash_table(spark, str(tmp_path / "t"), files=8, rows_per=30)
    full = t.read(spark)
    probes = [rows[i][1] for i in (0, 7, 33, 100, 150)] + ["missing-x"]
    pruned = t.read_pruned(spark, "h", values=probes)
    oracle = full.filter(F.col("h").isin(probes))
    assert (
        pruned.exceptAll(oracle).count() == 0
        and oracle.exceptAll(pruned).count() == 0
    )


def test_bloom_no_false_negatives_exhaustive(spark, tmp_path):
    """EVERY present value must keep its file — a bloom false negative
    is silent row loss. Exhaustive over the whole table."""
    t, rows = _hash_table(spark, str(tmp_path / "t"), files=5, rows_per=20)
    present = {h for _i, h in rows}
    got = {
        r["h"]
        for r in t.read_pruned(spark, "h", values=list(present)).collect()
    }
    assert got == present | {"seed"} - {"seed"} or got >= present


def test_bloom_declaration_validates(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    # one file whose id zone [1, 3] holds the probed-but-absent key 2
    t.append(
        spark.createDataFrame(
            [(1, 1.5, "a"), (3, 3.5, "c")], "id long, val double, name string"
        ).coalesce(1)
    )
    with pytest.raises(ValueError, match="only exact"):
        t.set_bloom_filter(["val"])  # float equality probes refuse
    with pytest.raises(ValueError, match="not in table schema"):
        t.set_bloom_filter(["nope"])
    with pytest.raises(ValueError, match="fpp"):
        t.set_bloom_filter(["id"], fpp=1.5)
    v = t.set_bloom_filter(["id", "name"])
    assert v == 1
    # pre-declaration files have no sidecars: kept (advisory, no skip)
    n_files = len(t._snapshot_files())
    keep, total = t.pruned_files("id", values=[2])
    assert keep and total == n_files
    # backfill writes them; the impossible probe now prunes to zero
    assert t.build_blooms(spark) == n_files
    keep2, _ = t.pruned_files("id", values=[2])
    assert keep2 == []
    assert t.read_pruned(spark, "id", values=[1]).count() == 1
    # drop: metadata-only, subsequent stages stop writing sidecars
    t.drop_bloom_filter()
    t.append(spark.createDataFrame([(2, 2.5, "b")], "id long, val double, name string"))
    new = [
        n
        for n in t._snapshot_files()
        if not os.path.exists(t._bloom_sidecar(os.path.basename(n)))
    ]
    assert new  # the post-drop file has no sidecar


def test_bloom_sidecar_follows_vacuumed_file(spark, tmp_path):
    """vacuum removes a reclaimed data file's bloom sidecar with it —
    on both the driver route and the Spark route."""
    import json as _json

    t = TxTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "a")], "id long, h string"))
    t.set_bloom_filter(["h"])
    # an unreferenced (aborted-stage-shaped) data file + its sidecar
    orphan = "part-orphan-bloomed.parquet"
    with open(os.path.join(t.path, orphan), "wb") as f:
        f.write(b"junk")
    os.makedirs(os.path.dirname(t._bloom_sidecar(orphan)), exist_ok=True)
    with open(t._bloom_sidecar(orphan), "w") as f:
        _json.dump({"fpp": 0.01, "cols": {}}, f)
    deleted = t.vacuum(grace_seconds=0)
    assert orphan in deleted
    assert not os.path.exists(t._bloom_sidecar(orphan))
    # spark route, same contract
    orphan2 = "part-orphan-bloomed2.parquet"
    with open(os.path.join(t.path, orphan2), "wb") as f:
        f.write(b"junk")
    with open(t._bloom_sidecar(orphan2), "w") as f:
        _json.dump({"fpp": 0.01, "cols": {}}, f)
    import pytest as _pytest  # noqa: F401

    from hephaestus_spark.sources.txlog import TxTable as _T

    thr = _T.DML_SPARK_PLAN_THRESHOLD
    _T.DML_SPARK_PLAN_THRESHOLD = 0
    try:
        deleted2 = t.vacuum(grace_seconds=0, spark=spark)
    finally:
        _T.DML_SPARK_PLAN_THRESHOLD = thr
    assert orphan2 in deleted2
    assert not os.path.exists(t._bloom_sidecar(orphan2))


def test_bloom_primitives_deterministic():
    m, k = _bloom_params(1000, 0.01)
    assert m >= 9000 and 5 <= k <= 10  # textbook optimum region
    a = _bloom_positions(_bloom_encode("abc"), k, m)
    b = _bloom_positions(_bloom_encode("abc"), k, m)
    assert a == b and len(a) == k
    assert _bloom_encode(1) != _bloom_encode("1")  # type-tagged
    with pytest.raises(TypeError):
        _bloom_encode(1.5)


def test_bloom_skipping_through_sql_connector(spark, tmp_path):
    """The native connector's pushFilters routes EqualTo/In through
    the file-skipping planner, so SQL point probes get bloom
    skipping with no new machinery — pinned via the planned keep-set
    and an end-to-end SQL result."""
    from pyspark.sql.datasource import EqualTo

    from hephaestus_spark.sources.txlog_datasource import (
        TxLogBatchReader,
        register_sql_table,
    )

    t, rows = _hash_table(spark, str(tmp_path / "t"), files=10, rows_per=30)
    needle = rows[42][1]
    r = TxLogBatchReader(t, t.latest_version())
    r.pushFilters([EqualTo(("h",), needle)])
    assert r._keep is not None and len(r._keep) <= 2, len(r._keep)
    assert len(r.partitions()) <= 2
    # absent value: zero partitions planned, empty (correct) SQL result
    r2 = TxLogBatchReader(t, t.latest_version())
    r2.pushFilters([EqualTo(("h",), "nope")])
    assert r2._keep == set()
    register_sql_table(spark, "bloomed", t.path)
    got = spark.sql(
        f"SELECT id, h FROM bloomed WHERE h = '{needle}'"
    ).collect()
    assert [g["h"] for g in got] == [needle]
    assert spark.sql("SELECT * FROM bloomed WHERE h = 'nope'").count() == 0


def test_vacuum_sweeps_orphan_sidecars_keeps_live_ones(spark, tmp_path):
    import json as _json

    t = TxTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "a")], "id long, h string"))
    t.set_bloom_filter(["h"])
    t.append(spark.createDataFrame([(2, "b")], "id long, h string"))
    live_side = [
        t._bloom_sidecar(os.path.basename(n))
        for n in t._snapshot_files()
        if os.path.exists(t._bloom_sidecar(os.path.basename(n)))
    ]
    assert live_side
    orphan = t._bloom_sidecar("part-long-gone.parquet")
    with open(orphan, "w") as f:
        _json.dump({"fpp": 0.01, "cols": {}}, f)
    # grace window protects even the orphan
    assert t.vacuum() == []
    deleted = t.vacuum(grace_seconds=0)
    assert any(d.endswith("part-long-gone.parquet.bloom.json") for d in deleted)
    assert not os.path.exists(orphan)
    for s in live_side:  # live files keep their sidecars
        assert os.path.exists(s)
