"""Hive-partitioned transactional tables (sources/txlog.py, r9):
creation, exact partition-value typing under the log-owned schema,
metadata-only partition pruning, dynamic partition overwrite, schema
widening, DV/CoW deletes across partition dirs, vacuum, column
mapping on partition columns, and checkpointed cold reconstruction."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from hephaestus_spark.sources.txlog import CommitConflict, TxTable


def _df(spark, rows):
    return spark.createDataFrame(rows, "id long, day string, val double")


def _pt(spark, tmp_path, name="t"):
    t = TxTable(str(tmp_path / name))
    t.append(
        _df(
            spark,
            [
                (1, "2024-01-01", 1.0),
                (2, "2024-01-01", 2.0),
                (3, "2024-01-02", 3.0),
                (4, "2024-01-03", 4.0),
            ],
        ),
        partition_by=["day"],
    )
    return t


def test_create_read_roundtrip_and_layout(spark, tmp_path):
    t = _pt(spark, tmp_path)
    got = {r["id"]: (r["day"], r["val"]) for r in t.read(spark).collect()}
    assert got == {
        1: ("2024-01-01", 1.0),
        2: ("2024-01-01", 2.0),
        3: ("2024-01-02", 3.0),
        4: ("2024-01-03", 4.0),
    }
    # hive layout on disk, partition column in the path not the bytes
    assert os.path.isdir(os.path.join(t.path, "day=2024-01-01"))
    assert t.partition_columns() == ["day"]
    # declared column order: data fields then partition fields
    assert t.read(spark).columns == ["id", "val", "day"]


def test_partition_values_type_exact(spark, tmp_path):
    """The log-owned schema types hive path strings exactly: an int
    partition comes back long, and a STRING partition value that looks
    numeric ('00123') survives byte-exact (no inference)."""
    t = TxTable(str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(1, 7, "00123"), (2, 8, "zz")], "id long, bucket int, tag string"
    )
    t.append(df, partition_by=["bucket", "tag"])
    rows = {r["id"]: r for r in t.read(spark).collect()}
    assert rows[1]["bucket"] == 7 and isinstance(rows[1]["bucket"], int)
    assert rows[1]["tag"] == "00123"
    assert rows[2]["tag"] == "zz"
    assert dict(t.read(spark).dtypes)["bucket"] == "int"


def test_null_partition_roundtrip(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(1, "a", 1.0), (2, None, 2.0)], "id long, day string, val double"
    )
    t.append(df, partition_by=["day"])
    got = {r["id"]: r["day"] for r in t.read(spark).collect()}
    assert got == {1: "a", 2: None}
    # the null partition has no zone for `day`, so it is never skipped
    keep, total = t.pruned_files("day", lo="zzz", hi="zzz")
    assert total == 2 and len(keep) == 1


def test_partition_pruning_is_metadata_only(spark, tmp_path):
    """Partition predicates prune whole files from the log alone —
    the add actions carry exact singleton zones for partition values,
    so the generic zone-map pruning skips partitions with zero I/O."""
    t = _pt(spark, tmp_path)
    keep, total = t.pruned_files("day", lo="2024-01-02", hi="2024-01-02")
    assert len(keep) < total  # real skipping happened
    assert keep and all(k.startswith("day=2024-01-02/") for k in keep)
    got = t.read_pruned(spark, "day", "2024-01-02", "2024-01-02").collect()
    assert {r["id"] for r in got} == {3}
    # IN-list pruning too
    keep_in, _ = t.pruned_files("day", values=["2024-01-01", "2024-01-03"])
    assert {k.split("/")[0] for k in keep_in} == {
        "day=2024-01-01",
        "day=2024-01-03",
    }


def test_partitions_listing_and_append_validation(spark, tmp_path):
    t = _pt(spark, tmp_path)
    assert t.partitions() == [
        {"day": "2024-01-01"},
        {"day": "2024-01-02"},
        {"day": "2024-01-03"},
    ]
    # appends partition automatically; a mismatched declaration raises
    t.append(_df(spark, [(5, "2024-01-04", 5.0)]))
    assert {d["day"] for d in t.partitions()} >= {"2024-01-04"}
    with pytest.raises(ValueError, match="partitioned by"):
        t.append(_df(spark, [(6, "x", 6.0)]), partition_by=["val"])
    with pytest.raises(ValueError, match="partition columns"):
        TxTable(str(tmp_path / "bad")).append(
            _df(spark, [(1, "a", 1.0)]), partition_by=["nope"]
        )


def test_overwrite_partitions_replaces_exactly_matching(spark, tmp_path):
    t = _pt(spark, tmp_path)
    v = t.overwrite_partitions(
        spark, _df(spark, [(20, "2024-01-01", 20.0), (30, "2024-01-02", 30.0)])
    )
    got = {r["id"] for r in t.read(spark).collect()}
    assert got == {20, 30, 4}  # 01/02 replaced, 03 untouched
    # time travel still serves the pre-overwrite rows
    assert {r["id"] for r in t.read(spark, version=v - 1).collect()} == {
        1, 2, 3, 4,
    }
    with pytest.raises(ValueError, match="not partitioned"):
        TxTable(str(tmp_path / "u")).overwrite_partitions(
            spark, _df(spark, [(1, "a", 1.0)])
        )


def test_widening_append_updates_log_schema(spark, tmp_path):
    t = _pt(spark, tmp_path)
    wide = spark.createDataFrame(
        [(9, "2024-01-09", 9.0, "extra")],
        "id long, day string, val double, note string",
    )
    t.append(wide)
    rows = {r["id"]: r["note"] for r in t.read(spark).collect()}
    assert rows[9] == "extra" and rows[1] is None
    # partition fields stay last in the declared order
    assert t.read(spark).columns == ["id", "val", "note", "day"]
    # a type conflict is refused loudly
    bad = spark.createDataFrame([(1, "d", "oops")], "id long, day string, val string")
    with pytest.raises(ValueError, match="type changes"):
        t.append(bad)


def test_delete_cow_and_mor_across_partitions(spark, tmp_path):
    t = _pt(spark, tmp_path)
    # copy-on-write delete inside one partition: other files untouched
    n_live = len(t._snapshot_files())
    v, rewritten, untouched = t.delete(
        spark, "id = 1", prune_column="day", lo="2024-01-01", hi="2024-01-01"
    )
    assert rewritten == 1 and untouched == n_live - 1
    assert {r["id"] for r in t.read(spark).collect()} == {2, 3, 4}
    # the rewrite stayed inside the partition dir
    assert all(
        f.startswith("day=") for f in t._snapshot_files()
    )
    # merge-on-read delete: tombstones apply across the partition scan
    v2, covered, n = t.delete_mor(spark, "id = 3")
    assert (covered, n) == (1, 1)
    assert {r["id"] for r in t.read(spark).collect()} == {2, 4}
    # pre-delete snapshots intact
    assert {r["id"] for r in t.read(spark, version=v).collect()} == {2, 3, 4}


def test_vacuum_walks_partition_dirs(spark, tmp_path):
    t = _pt(spark, tmp_path)
    # an aborted stage: unreferenced parquet inside a partition dir
    orphan = os.path.join(t.path, "day=2024-01-01", "part-orphan.parquet")
    live = [f for f in t._snapshot_files() if f.startswith("day=2024-01-01/")]
    import shutil

    shutil.copy(os.path.join(t.path, live[0]), orphan)
    old = t.vacuum(grace_seconds=0.0)
    assert old == ["day=2024-01-01/part-orphan.parquet"]
    assert {r["id"] for r in t.read(spark).collect()} == {1, 2, 3, 4}


def test_rename_partition_column_and_drop_refused(spark, tmp_path):
    t = _pt(spark, tmp_path)
    t.rename_column(spark, "day", "event_day")
    assert t.partition_columns() == ["event_day"]
    assert {r["event_day"] for r in t.read(spark).collect()} == {
        "2024-01-01", "2024-01-02", "2024-01-03",
    }
    # pruning translates the logical name back to the physical dirs
    keep, _ = t.pruned_files("event_day", "2024-01-02", "2024-01-02")
    assert len(keep) == 1
    # appends under the new logical name land in the same physical dirs
    t.append(
        spark.createDataFrame(
            [(7, "2024-01-02", 7.0)], "id long, event_day string, val double"
        )
    )
    assert len(t.pruned_files("event_day", "2024-01-02", "2024-01-02")[0]) == 2
    with pytest.raises(ValueError, match="partition column"):
        t.drop_column(spark, "event_day")


def test_optimize_keeps_partition_layout(spark, tmp_path):
    t = _pt(spark, tmp_path)
    for i in range(5, 9):
        t.append(_df(spark, [(i, "2024-01-01", float(i))]))
    before = len(t.pruned_files("day", "2024-01-01", "2024-01-01")[0])
    assert before >= 5
    t.optimize(spark, target_files=1)
    keep, total = t.pruned_files("day", "2024-01-01", "2024-01-01")
    assert len(keep) == 1 and total == 3  # one file per partition again
    assert {r["id"] for r in t.read(spark).collect()} == {1, 2, 3, 4, 5, 6, 7, 8}


def test_stream_append_partitions_and_replays_skip(spark, tmp_path):
    t = _pt(spark, tmp_path)
    v = t.append_stream_batch(_df(spark, [(10, "2024-01-05", 10.0)]), "app", 0)
    assert v is not None
    assert t.append_stream_batch(
        _df(spark, [(10, "2024-01-05", 10.0)]), "app", 0
    ) is None  # replay skipped
    assert {r["id"] for r in t.read(spark).collect()} == {1, 2, 3, 4, 10}
    keep, _ = t.pruned_files("day", "2024-01-05", "2024-01-05")
    assert len(keep) == 1 and keep[0].startswith("day=2024-01-05/")


def test_checkpointed_cold_reader_reconstructs_partitioned_table(
    spark, tmp_path
):
    """Past the checkpoint interval, a COLD TxTable instance folds the
    snapshot from the parquet checkpoint alone — partitionValues, the
    log-owned schema, and the feature stamp all survive the fold."""
    t = _pt(spark, tmp_path)
    for i in range(12):  # cross the interval-10 checkpoint boundary
        t.append(_df(spark, [(100 + i, f"2024-02-{i + 1:02d}", float(i))]))
    cold = TxTable(t.path)
    assert cold.partition_columns() == ["day"]
    assert {r["id"] for r in cold.read(spark).collect()} == {1, 2, 3, 4} | {
        100 + i for i in range(12)
    }
    keep, _ = cold.pruned_files("day", "2024-02-03", "2024-02-03")
    assert len(keep) == 1


def test_commit_names_refuses_unpartitioned_files(spark, tmp_path):
    t = _pt(spark, tmp_path)
    stray = os.path.join(t.path, "part-stray.parquet")
    import shutil

    shutil.copy(os.path.join(t.path, t._snapshot_files()[0]), stray)
    with pytest.raises(ValueError, match="hive path components"):
        t.commit_names(["part-stray.parquet"])


def test_native_datasource_serves_partitioned_tables(spark, tmp_path):
    """r10: format('txlog') serves hive-partitioned tables — the
    schema comes from the LOG (partition columns present and typed,
    zero footer I/O), each split materializes its partition values as
    typed constants, partition predicates prune whole files via the
    singleton zones, and deletion vectors mask rows per split."""
    from hephaestus_spark.sources.txlog_datasource import TxLogDataSource

    spark.dataSource.register(TxLogDataSource)
    t = TxTable(str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(1, 7, "2024-01-01", 1.0), (2, 8, "2024-01-02", 2.0),
         (3, 7, "2024-01-02", 3.0)],
        "id long, bucket int, day string, val double",
    )
    t.append(df, partition_by=["day"])
    got = spark.read.format("txlog").load(t.path)
    # partition column present, typed per the declared schema
    assert dict(got.dtypes)["day"] == "string"
    assert dict(got.dtypes)["bucket"] == "int"
    rows = {r["id"]: (r["day"], r["bucket"]) for r in got.collect()}
    assert rows == {1: ("2024-01-01", 7), 2: ("2024-01-02", 8), 3: ("2024-01-02", 7)}
    # a partition predicate returns exactly the partition's rows
    band = got.filter(F.col("day") == "2024-01-01")
    assert [r["id"] for r in band.collect()] == [1]
    # deletion vectors mask per split
    t.delete_mor(spark, "id = 2")
    assert sorted(
        r["id"] for r in spark.read.format("txlog").load(t.path).collect()
    ) == [1, 3]
    # time travel serves the pre-delete snapshot
    v0 = spark.read.format("txlog").option("version", 0).load(t.path)
    assert v0.count() == 3
    # string partition values that look numeric survive byte-exact
    t2 = TxTable(str(tmp_path / "t2"))
    t2.append(
        spark.createDataFrame([(1, "00123", 1.0)], "id long, tag string, val double"),
        partition_by=["tag"],
    )
    assert spark.read.format("txlog").load(t2.path).collect()[0]["tag"] == "00123"


def test_native_datasource_prunes_partitions_by_filter(spark, tmp_path):
    """The pushFilters zone probe must skip whole partition files for
    a partition-column predicate (partition values are singleton
    zones) — asserted by counting planned input partitions."""
    from hephaestus_spark.sources.txlog_datasource import (
        TxLogBatchReader,
        _table_schema,
    )
    from pyspark.sql.datasource import EqualTo

    t = _pt(spark, tmp_path)
    reader = TxLogBatchReader(t, t.latest_version())
    reader.pushFilters([EqualTo(("day",), "2024-01-02")])
    parts = reader.partitions()
    assert len(parts) == 1
    assert "day=2024-01-02" in parts[0].file_path
    assert dict(parts[0].partition_values) == {"day": "2024-01-02"}


# ---- r10: ADVICE fixes (basename uniqueness, tombstone accounting,
# change-feed schema, overwrite widening, merge guard) ----


def test_staged_basenames_unique_across_partition_dirs(spark, tmp_path):
    """Spark's partitioned writer emits the SAME task filename in
    every partition dir a task touches; one coalesced task spanning
    three partitions must still stage globally-unique basenames (DV
    and delete maps key on the basename)."""
    t = TxTable(str(tmp_path / "t"))
    df = _df(
        spark,
        [(1, "2024-01-01", 1.0), (2, "2024-01-02", 2.0), (3, "2024-01-03", 3.0)],
    ).coalesce(1)
    t.append(df, partition_by=["day"])
    names = t._snapshot_files()
    bases = [os.path.basename(n) for n in names]
    assert len(names) == 3  # one file per partition dir
    assert len(set(bases)) == len(bases), bases


def test_delete_mor_tombstones_only_the_matching_partition(spark, tmp_path):
    """The corruption scenario behind the basename fix: with identical
    row layouts in every partition file (one task wrote all three), a
    basename-keyed tombstone for (file, pos 0) must delete ONLY the
    matching partition's row, not position 0 of every file."""
    t = TxTable(str(tmp_path / "t"))
    df = _df(
        spark,
        [(1, "2024-01-01", 1.0), (2, "2024-01-02", 2.0), (3, "2024-01-03", 3.0)],
    ).coalesce(1)
    t.append(df, partition_by=["day"])
    v, covered, n = t.delete_mor(spark, "id = 2")
    assert (covered, n) == (1, 1)
    got = {r["id"]: r["day"] for r in t.read(spark).collect()}
    assert got == {1: "2024-01-01", 3: "2024-01-03"}
    # copy-on-write delete on the same shape rewrites the right file
    t2 = TxTable(str(tmp_path / "t2"))
    t2.append(df, partition_by=["day"])
    _v, rewritten, untouched = t2.delete(spark, "id = 2")
    assert rewritten == 1 and untouched == 2
    assert {r["id"] for r in t2.read(spark).collect()} == {1, 3}


def test_base2rel_refuses_legacy_basename_collisions(spark, tmp_path):
    t = _pt(spark, tmp_path)
    with pytest.raises(ValueError, match="basename"):
        t._base2rel(["day=a/part-x.parquet", "day=b/part-x.parquet"])


def test_stats_summary_discounts_tombstones_on_partitioned_table(
    spark, tmp_path
):
    """DV 'file' values are basenames; add actions key on relative
    paths with hive dirs — the tombstone discount must compare on the
    basename or COUNT over-reports while claiming exactness."""
    t = _pt(spark, tmp_path)
    assert t.stats_summary()["count"] == 4
    t.delete_mor(spark, "id <= 2")
    s = t.stats_summary()
    assert s["count"] == 2, s
    assert s["count_exact"] is True
    assert t.read(spark).count() == 2


def test_read_changes_serves_partition_columns(spark, tmp_path):
    """The change feed on a partitioned table must carry the partition
    columns (they live in the hive dirs, not the file bytes) — same
    explicit-schema + basePath reader as snapshot reads."""
    t = _pt(spark, tmp_path)
    t.append(_df(spark, [(5, "2024-01-05", 5.0), (6, "2024-01-06", 6.0)]))
    ch = t.read_changes(spark, since_version=0)
    assert "day" in ch.columns
    got = {r["id"]: (r["day"], r["_commit_version"]) for r in ch.collect()}
    assert got == {5: ("2024-01-05", 1), 6: ("2024-01-06", 1)}
    # typed like the snapshot read, not inferred
    assert dict(ch.dtypes)["id"] == "bigint"


def test_read_changes_serves_logical_names_after_rename(spark, tmp_path):
    t = _pt(spark, tmp_path)
    t.rename_column(spark, "val", "amount")
    t.append(
        spark.createDataFrame(
            [(7, "2024-01-07", 7.0)], "id long, day string, amount double"
        )
    )
    ch = t.read_changes(spark, since_version=1)
    assert "amount" in ch.columns and "val" not in ch.columns
    assert {r["amount"] for r in ch.collect()} == {7.0}


def test_overwrite_partitions_widening_publishes_schema(spark, tmp_path):
    """A widening overwrite must publish the widened log schema in the
    same commit, exactly like append — otherwise the explicit-schema
    read hides the new column forever."""
    t = _pt(spark, tmp_path)
    wide = spark.createDataFrame(
        [(20, "2024-01-01", 20.0, "n")],
        "id long, day string, val double, note string",
    )
    t.overwrite_partitions(spark, wide)
    rows = {r["id"]: r for r in t.read(spark).collect()}
    assert rows[20]["note"] == "n"
    assert rows[3]["note"] is None  # untouched partitions null-fill
    # a type conflict is refused loudly, same rule as append
    bad = spark.createDataFrame(
        [(1, "2024-01-01", "oops")], "id long, day string, val string"
    )
    with pytest.raises(ValueError, match="type changes"):
        t.overwrite_partitions(spark, bad)


def test_merge_on_partitioned_table_needs_partition_cols(spark, tmp_path):
    t = _pt(spark, tmp_path)
    staged = _df(spark, [(1, "2024-01-01", 10.0)])
    with pytest.raises(ValueError, match="partition columns"):
        t.merge(spark, staged.select("id", "val"), "id", ["val"])
    # with the partition column carried, the merge succeeds
    t.merge(spark, staged, "id", ["day", "val"])
    got = {r["id"]: r["val"] for r in t.read(spark).collect()}
    assert got[1] == 10.0 and got[3] == 3.0


def test_native_datasource_writes_partitioned_tables(spark, tmp_path):
    """r10: df.write.format('txlog').option('partitionBy', 'day')
    creates a hive-partitioned table — tasks split their batches into
    col=value/ files, the first commit declares the partitioning with
    the log-owned schema, later appends land in the layout, and both
    the TxTable reader and the connector serve it with pruning."""
    from hephaestus_spark.sources.txlog_datasource import TxLogDataSource

    spark.dataSource.register(TxLogDataSource)
    path = str(tmp_path / "t")
    df = _df(
        spark,
        [(1, "2024-01-01", 1.0), (2, "2024-01-02", 2.0), (3, "2024-01-02", 3.0)],
    )
    df.write.format("txlog").option("partitionBy", "day").mode("append").save(path)
    t = TxTable(path)
    assert t.partition_columns() == ["day"]
    assert os.path.isdir(os.path.join(path, "day=2024-01-02"))
    assert t.partitions() == [{"day": "2024-01-01"}, {"day": "2024-01-02"}]
    got = {r["id"]: r["day"] for r in t.read(spark).collect()}
    assert got == {1: "2024-01-01", 2: "2024-01-02", 3: "2024-01-02"}
    # a second connector append lands inside the declared layout
    _df(spark, [(4, "2024-01-03", 4.0)]).write.format("txlog").option(
        "partitionBy", "day"
    ).mode("append").save(path)
    keep, total = t.pruned_files("day", "2024-01-03", "2024-01-03")
    assert len(keep) == 1 and total >= 3  # metadata pruning works
    # writing WITHOUT the declaration onto a partitioned table refuses
    with pytest.raises(Exception, match="hive path components"):
        _df(spark, [(9, "x", 9.0)]).write.format("txlog").mode("append").save(path)
    # the connector read path serves it too, typed
    got2 = spark.read.format("txlog").load(path)
    assert sorted(r["id"] for r in got2.collect()) == [1, 2, 3, 4]
    assert dict(got2.dtypes)["day"] == "string"


def test_native_datasource_streams_into_partitioned_table(spark, tmp_path):
    """The stream writer creates a partitioned table on its first
    micro-batch (the txn rides the creation commit), and a fresh
    checkpoint redelivering that batch adds nothing twice."""
    from hephaestus_spark.sources.txlog_datasource import TxLogDataSource

    spark.dataSource.register(TxLogDataSource)
    src = TxTable(str(tmp_path / "src"))
    src.append(
        _df(spark, [(1, "2024-01-01", 1.0), (2, "2024-01-02", 2.0)])
    )
    sink = str(tmp_path / "sink")

    def run(ckpt):
        q = (
            spark.readStream.format("txlog")
            .load(src.path)
            .drop("_commit_version", "_change_type")
            .writeStream.format("txlog")
            .option("checkpointLocation", str(tmp_path / ckpt))
            .option("appId", "part-e2e")
            .option("partitionBy", "day")
            .trigger(availableNow=True)
            .start(sink)
        )
        q.awaitTermination(120)

    run("ckpt1")
    st = TxTable(sink)
    assert st.partition_columns() == ["day"]
    assert st.read(spark).count() == 2
    run("ckpt2")  # fresh checkpoint: batch 0 redelivered, skipped
    assert st.read(spark).count() == 2
    assert st.partitions() == [{"day": "2024-01-01"}, {"day": "2024-01-02"}]


def test_native_datasource_dynamic_partition_overwrite(spark, tmp_path):
    """mode('overwrite') + option('partitionOverwriteMode','dynamic')
    replaces exactly the written partitions — the idempotent-backfill
    shape through the connector; static overwrite still replaces the
    whole snapshot."""
    from hephaestus_spark.sources.txlog_datasource import TxLogDataSource

    spark.dataSource.register(TxLogDataSource)
    path = str(tmp_path / "t")
    _df(
        spark,
        [(1, "2024-01-01", 1.0), (2, "2024-01-02", 2.0), (3, "2024-01-03", 3.0)],
    ).write.format("txlog").option("partitionBy", "day").mode("append").save(path)
    # dynamic: only day=2024-01-02 replaced
    _df(spark, [(20, "2024-01-02", 20.0)]).write.format("txlog").option(
        "partitionBy", "day"
    ).option("partitionOverwriteMode", "dynamic").mode("overwrite").save(path)
    t = TxTable(path)
    assert {r["id"] for r in t.read(spark).collect()} == {1, 20, 3}
    # time travel preserves the pre-backfill day
    assert {r["id"] for r in t.read(spark, version=0).collect()} == {1, 2, 3}
    # static overwrite replaces everything
    _df(spark, [(9, "2024-01-09", 9.0)]).write.format("txlog").option(
        "partitionBy", "day"
    ).mode("overwrite").save(path)
    assert {r["id"] for r in t.read(spark).collect()} == {9}


def test_dynamic_overwrite_refuses_unpartitioned_files(spark, tmp_path):
    """r11 (ADVICE r10): overwrite_partitions_names gets the same
    hive-component guard as commit_names — a dynamic overwrite whose
    files carry no (or wrong) partition components would commit adds
    with no partitionValues and replace nothing, silently degrading
    to an append. The connector shape: dynamic overwrite WITHOUT
    .option('partitionBy', ...) on an existing partitioned table."""
    import shutil

    t = _pt(spark, tmp_path)
    stray = os.path.join(t.path, "part-stray.parquet")
    shutil.copy(os.path.join(t.path, t._snapshot_files()[0]), stray)
    with pytest.raises(ValueError, match="hive path"):
        t.overwrite_partitions_names(["part-stray.parquet"])
    # wrong component set is refused too
    os.makedirs(os.path.join(t.path, "other=1"), exist_ok=True)
    wrong = os.path.join(t.path, "other=1", "part-w.parquet")
    shutil.copy(os.path.join(t.path, t._snapshot_files()[0]), wrong)
    with pytest.raises(ValueError, match="hive path"):
        t.overwrite_partitions_names(["other=1/part-w.parquet"])
    # and through the connector: dynamic overwrite missing partitionBy
    from hephaestus_spark.sources.txlog_datasource import TxLogDataSource

    spark.dataSource.register(TxLogDataSource)
    with pytest.raises(Exception, match="hive path|partition"):
        _df(spark, [(20, "2024-01-02", 20.0)]).write.format("txlog").option(
            "partitionOverwriteMode", "dynamic"
        ).mode("overwrite").save(t.path)
    # the snapshot is untouched by all three refusals
    assert {r["id"] for r in t.read(spark).collect()} == {1, 2, 3, 4}


def test_writer_creation_race_falls_through(spark, tmp_path, monkeypatch):
    """A racer creating the table between the writer's first commit
    attempt and its exclusive create must not fail the batch: the
    append loop refolds, finds the winner's matching layout and
    appends the loser's files as the next version."""
    from hephaestus_spark.sources import txlog_datasource as ds

    path = str(tmp_path / "t")
    os.makedirs(path, exist_ok=True)
    schema = _df(spark, [(1, "2024-01-01", 1.0)]).schema
    orig = TxTable._commit
    raced = {"done": False}

    def race_then_commit(self, version, op, actions, **kw):
        if not raced["done"]:
            raced["done"] = True
            # the racer wins creation before the loser's first create
            racer = TxTable(self.path)
            rn = racer._stage(
                _df(spark, [(99, "2024-01-09", 9.0)]), pcols=["day"]
            )
            racer.create_partitioned_names(rn, ["day"], schema)
        return orig(self, version, op, actions, **kw)

    monkeypatch.setattr(TxTable, "_commit", race_then_commit)
    # the loser's task files are already on disk (written pre-commit)
    loser = TxTable(path)
    names = TxTable._stage(loser, _df(spark, [(1, "2024-01-01", 1.0)]),
                           pcols=["day"])
    # batch writer path
    w = ds.TxLogBatchWriter(path, overwrite=False, pcols=["day"],
                            schema=schema)
    w.commit([ds.TxLogCommitMessage(names=names)])
    t = TxTable(path)
    assert raced["done"]
    assert {r["id"] for r in t.read(spark).collect()} == {99, 1}
    assert [h["op"] for h in t.history()] == ["createPartitioned", "append"]
    # streaming writer path: same race on a fresh table
    raced["done"] = False
    path2 = str(tmp_path / "t2")
    os.makedirs(path2, exist_ok=True)
    names2 = TxTable._stage(
        TxTable(path2), _df(spark, [(2, "2024-01-02", 2.0)]), pcols=["day"]
    )
    sw = ds.TxLogStreamWriter(path2, "app-race", pcols=["day"], schema=schema)
    sw.commit([ds.TxLogCommitMessage(names=names2)], batchId=0)
    t2 = TxTable(path2)
    assert raced["done"]
    assert {r["id"] for r in t2.read(spark).collect()} == {99, 2}


def test_lost_creation_race_to_other_layout_refuses(spark, tmp_path, monkeypatch):
    """The loser of a creation race appends only into a matching
    layout: a winner partitioned differently makes it raise
    ValueError, and only the winner's rows are live."""
    path = str(tmp_path / "t")
    orig = TxTable._commit
    raced = {"done": False}

    def race_then_commit(self, version, op, actions, **kw):
        if not raced["done"]:
            raced["done"] = True
            TxTable(self.path).append(
                _df(spark, [(99, "2024-01-09", 9.0)]), partition_by=["val"]
            )
        return orig(self, version, op, actions, **kw)

    monkeypatch.setattr(TxTable, "_commit", race_then_commit)
    with pytest.raises(ValueError, match="partitioned by"):
        TxTable(path).append(
            _df(spark, [(1, "2024-01-01", 1.0)]), partition_by=["day"]
        )
    t = TxTable(path)
    assert t.partition_columns() == ["val"]
    assert [r["id"] for r in t.read(spark).collect()] == [99]


def test_dynamic_overwrite_creation_race_keeps_overwrite(spark, tmp_path, monkeypatch):
    """Two dynamic partition overwrites race to create the same table:
    the loser's lost creation still REPLACES the shared partition, so
    the result is a serial order (winner, then loser) — never the
    union of both writers' rows."""
    from hephaestus_spark.sources import txlog_datasource as ds

    path = str(tmp_path / "t")
    os.makedirs(path, exist_ok=True)
    schema = _df(spark, [(1, "2024-01-01", 1.0)]).schema
    orig = TxTable._commit
    raced = {"done": False}

    def race_then_commit(self, version, op, actions, **kw):
        if not raced["done"]:
            raced["done"] = True
            rn = TxTable._stage(
                TxTable(self.path), _df(spark, [(99, "2024-01-01", 9.0)]),
                pcols=["day"],
            )
            ds.TxLogBatchWriter(
                self.path, overwrite=True, pcols=["day"], schema=schema,
                dynamic=True,
            ).commit([ds.TxLogCommitMessage(names=rn)])
        return orig(self, version, op, actions, **kw)

    monkeypatch.setattr(TxTable, "_commit", race_then_commit)
    names = TxTable._stage(
        TxTable(path), _df(spark, [(1, "2024-01-01", 1.0)]), pcols=["day"]
    )
    ds.TxLogBatchWriter(
        path, overwrite=True, pcols=["day"], schema=schema, dynamic=True
    ).commit([ds.TxLogCommitMessage(names=names)])
    t = TxTable(path)
    assert raced["done"]
    assert [r["id"] for r in t.read(spark).collect()] == [1]
    assert [h["op"] for h in t.history()] == [
        "createPartitioned", "overwritePartitions"
    ]


def test_connector_append_after_rename_keeps_columns(spark, tmp_path):
    """A connector append with partitionBy into a renamed partitioned
    table widens nothing: its task files carry physical names, and
    the loop reads the widening from their footers, not from the
    writer's logical schema."""
    from hephaestus_spark.sources.txlog_datasource import TxLogDataSource

    spark.dataSource.register(TxLogDataSource)
    t = _pt(spark, tmp_path)
    t.rename_column(spark, "val", "amount")
    cols = t.read(spark).columns
    spark.createDataFrame(
        [(7, "2024-01-07", 7.0)], "id long, day string, amount double"
    ).write.format("txlog").option("partitionBy", "day").mode("append").save(
        t.path
    )
    got = t.read(spark)
    assert got.columns == cols
    assert {r["id"]: r["amount"] for r in got.collect()}[7] == 7.0


def test_create_partitioned_names_refuses_existing_table(spark, tmp_path):
    t = _pt(spark, tmp_path)
    names = t._stage(_df(spark, [(5, "2024-01-05", 5.0)]), pcols=["day"])
    with pytest.raises(ValueError, match="already exists"):
        t.create_partitioned_names(names, ["day"], _df(spark, []).schema)
    assert t.latest_version() == 0


def test_merge_prunes_by_partition_values(spark, tmp_path):
    """r11 (VERDICT r10 #3): a partition-disjoint daily delta merged
    with prune_on_partitions touches ONLY the staged partitions'
    files — every other partition's files survive by identity (never
    read, never rewritten), pinned via the commit's remove set."""
    t = TxTable(str(tmp_path / "t"))
    days = [f"2024-01-{d:02d}" for d in range(1, 7)]
    rows = [(d * 100 + i, days[d], float(i)) for d in range(6) for i in range(4)]
    t.append(_df(spark, rows), partition_by=["day"])                 # v0
    before = set(t._snapshot_files())
    day2_before = {f for f in before if f.startswith("day=2024-01-03/")}
    assert day2_before and len(before) == 6 or len(before) >= 6
    # delta: update one row + insert one row, all in day 3
    staged = _df(
        spark, [(202, "2024-01-03", 99.0), (299, "2024-01-03", 9.0)]
    )
    t.merge(spark, staged, "id", ["day", "val"], prune_on_partitions=True)
    entry = t._read_entry(t.latest_version())
    removed = {a["remove"] for a in entry["actions"] if "remove" in a}
    added = {a["add"] for a in entry["actions"] if "add" in a}
    # ONLY the day-3 files holding a staged key were rewritten (day 3
    # may be written as several files, depending on the session's cores)
    holding = {
        f
        for f in day2_before
        if {202, 299}
        & {r["id"] for r in spark.read.parquet(t._abs(f)).select("id").collect()}
    }
    assert holding and removed == holding
    assert all(f.startswith("day=2024-01-03/") for f in added)
    # and every other file, in day 3 or not, survives untouched by identity
    after = set(t._snapshot_files())
    assert (before - holding) <= after
    got = {r["id"]: r["val"] for r in t.read(spark).collect()}
    assert got[202] == 99.0 and got[299] == 9.0
    assert len(got) == 25


def test_delete_scoped_to_partitions(spark, tmp_path):
    """r11 (VERDICT r10 #3): delete/delete_mor with a partitions scope
    touch only the listed partitions' files; the effective predicate
    is where AND partition-in (rows matching `where` in other
    partitions survive)."""
    t = TxTable(str(tmp_path / "t"))
    days = [f"2024-01-{d:02d}" for d in range(1, 5)]
    rows = [(d * 100 + i, days[d], float(i)) for d in range(4) for i in range(4)]
    t.append(_df(spark, rows), partition_by=["day"])                 # v0
    before = set(t._snapshot_files())
    day1 = {f for f in before if f.startswith("day=2024-01-02/")}
    # val = 1.0 matches one row in EVERY partition; scope to day 2
    v, rewritten, untouched = t.delete(
        spark, "val = 1.0", partitions={"day": ["2024-01-02"]}
    )
    # hit-scan may rewrite fewer files than the partition holds
    assert 1 <= rewritten <= len(day1) and v == 1
    entry = t._read_entry(1)
    removed = {a["remove"] for a in entry["actions"] if "remove" in a}
    assert removed and removed <= day1
    ids = sorted(r["id"] for r in t.read(spark).collect())
    assert 101 not in ids and {1, 201, 301} <= set(ids)
    # merge-on-read twin: tombstones land only for the scoped partition
    v2, covered, n_rows = t.delete_mor(
        spark, "val = 2.0", partitions={"day": [days[2]]}
    )
    assert n_rows == 1 and covered == 1
    ids2 = sorted(r["id"] for r in t.read(spark).collect())
    assert 202 not in ids2 and {2, 102, 302} <= set(ids2)


def test_partitions_option_exact_on_non_partition_column(spark, tmp_path):
    """r12 (ADVICE r11): the DML `partitions` option is documented as
    exact — `where AND col IN (values)` — for ARBITRARY columns, but
    was only applied at file granularity (zone overlap), silently
    over-deleting/over-updating rows whose column value is not listed
    but co-lives in a zone-overlapping file. Now a row-level residual
    enforces the contract."""
    t = TxTable(str(tmp_path / "t"))
    # one file, vals 1.0 and 2.0 interleaved: zone [1.0, 2.0] overlaps
    # the probe value, so WITHOUT the residual every id>0 row dies
    t.append(_df(spark, [
        (1, "2024-01-01", 1.0), (2, "2024-01-01", 2.0),
        (3, "2024-01-01", 1.0), (4, "2024-01-01", 2.0),
    ]).coalesce(1))
    v, rewritten, _ = t.delete(spark, "id > 0", partitions={"val": [1.0]})
    assert rewritten == 1
    left = sorted(r["id"] for r in t.read(spark).collect())
    assert left == [2, 4]  # val=2.0 rows survive the scoped delete
    # update twin: only the listed value's rows change
    t.update(spark, "id > 0", {"day": "'moved'"}, partitions={"val": [2.0]})
    got = {r["id"]: r["day"] for r in t.read(spark).collect()}
    assert got == {2: "moved", 4: "moved"}
    # delete_mor twin: tombstones only the listed value's rows
    t2 = TxTable(str(tmp_path / "t2"))
    t2.append(_df(spark, [
        (1, "d", 1.0), (2, "d", 2.0), (3, "d", 1.0)
    ]).coalesce(1))
    v2, covered, n_rows = t2.delete_mor(
        spark, "id > 0", partitions={"val": [1.0]}
    )
    assert n_rows == 2
    assert sorted(r["id"] for r in t2.read(spark).collect()) == [2]
    # empty value list matches nothing (IN () semantics)
    v3, rw3, _ = t2.delete(spark, "id > 0", partitions={"val": []})
    assert rw3 == 0
