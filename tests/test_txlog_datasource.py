"""Native format("txlog") data source (sources/txlog_datasource.py):
batch reads with zone-map filter pushdown, time travel, the streaming
change-feed source with version offsets, and the exactly-once streaming
sink."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from hephaestus_spark.sources.txlog import TxTable
from hephaestus_spark.sources.txlog_datasource import (
    TxLogBatchReader,
    TxLogDataSource,
)


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(TxLogDataSource)


def _seed(spark, path, n=100):
    t = TxTable(path)
    df = spark.createDataFrame(
        [(i, i % 4, float(i)) for i in range(n)],
        "id long, bucket long, val double",
    )
    t.append(df.repartitionByRange(4, F.col("id")).sortWithinPartitions("id"))
    t.append(
        spark.createDataFrame(
            [(n + i, i % 4, 1.0) for i in range(10)],
            "id long, bucket long, val double",
        )
    )
    return t


def test_batch_read_matches_snapshot_with_provenance(spark, tmp_path):
    t = _seed(spark, str(tmp_path / "t"))
    got = spark.read.format("txlog").load(t.path)
    assert got.count() == 110
    # provenance: rows carry the version that added their file
    vs = {
        (r["_commit_version"], r["n"])
        for r in got.groupBy("_commit_version").agg(F.count("*").alias("n")).collect()
    }
    assert vs == {(0, 100), (1, 10)}
    # time travel through the option
    assert spark.read.format("txlog").option("version", 0).load(t.path).count() == 100


def test_filter_pushdown_prunes_files_and_loses_nothing(spark, tmp_path):
    t = _seed(spark, str(tmp_path / "t"))
    df = spark.read.format("txlog").load(t.path)
    flt = df.filter((F.col("id") >= 10) & (F.col("id") <= 19))
    assert sorted(r["id"] for r in flt.collect()) == list(range(10, 20))
    # the reader's own pruning: the [10, 19] band lives in 1 of the 4
    # ranged v0 files; the unranged v1 file is zone-excluded too
    from pyspark.sql.datasource import GreaterThanOrEqual, LessThanOrEqual

    r = TxLogBatchReader(t, None)
    residual = list(
        r.pushFilters([GreaterThanOrEqual(("id",), 10), LessThanOrEqual(("id",), 19)])
    )
    assert len(residual) == 2  # everything re-evaluated row-level by Spark
    parts = r.partitions()
    assert len(parts) < len(t.live_files())
    assert len(parts) <= 2


def test_stream_source_serves_incremental_versions(spark, tmp_path):
    t = _seed(spark, str(tmp_path / "t"))
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run():
        q = (
            spark.readStream.format("txlog")
            .load(t.path)
            .writeStream.format("parquet")
            .option("checkpointLocation", ckpt)
            .option("path", out)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    assert spark.read.parquet(out).count() == 110
    # a third append: the restarted stream delivers ONLY the new rows
    t.append(
        spark.createDataFrame([(999, 0, 9.9)], "id long, bucket long, val double")
    )
    run()
    got = spark.read.parquet(out)
    assert got.count() == 111
    assert got.filter(F.col("_commit_version") == 2).count() == 1


def test_stream_source_rejects_row_rewrites(spark, tmp_path):
    t = _seed(spark, str(tmp_path / "t"))
    t.delete(spark, "id = 0")
    q = (
        spark.readStream.format("txlog")
        .load(t.path)
        .writeStream.format("memory")
        .queryName("rejects")
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="delete"):
        q.awaitTermination(120)
        raise AssertionError("stream should have failed on the delete commit")


def test_stream_sink_is_exactly_once_across_checkpoint_loss(spark, tmp_path):
    src = _seed(spark, str(tmp_path / "src"))
    sink = str(tmp_path / "sink")

    def run(ckpt):
        q = (
            spark.readStream.format("txlog")
            .load(src.path)
            .drop("_commit_version")
            .writeStream.format("txlog")
            .option("checkpointLocation", str(tmp_path / ckpt))
            .option("appId", "e2e-test")
            .trigger(availableNow=True)
            .start(sink)
        )
        q.awaitTermination(120)

    run("ckpt1")
    st = TxTable(sink)
    assert st.read(spark).count() == 110
    # a FRESH checkpoint redelivers batch 0 under the same app id —
    # the txn map must skip it (the foreachBatch-restart failure mode)
    run("ckpt2")
    assert st.read(spark).count() == 110
    assert [h["op"] for h in st.history()] == ["streamAppend"]
    # orphan task files from the skipped batch are vacuum's job, and
    # vacuum must NOT touch the committed ones
    st.vacuum(grace_seconds=0.0)
    assert st.read(spark).count() == 110


def test_batch_writer_append_and_overwrite(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, i % 4, float(i)) for i in range(20)],
        "id long, bucket long, val double",
    )
    df.write.format("txlog").mode("append").save(path)
    df.filter(F.col("id") < 5).write.format("txlog").mode("append").save(path)
    t = TxTable(path)
    assert t.read(spark).count() == 25
    assert [h["op"] for h in t.history()] == ["append", "append"]
    # overwrite replaces the snapshot in ONE commit; history survives
    df.filter(F.col("id") >= 18).write.format("txlog").mode("overwrite").save(path)
    assert sorted(r["id"] for r in t.read(spark).collect()) == [18, 19]
    assert t.read(spark, version=1).count() == 25  # time travel intact
    # the written table round-trips through the native reader
    got = spark.read.format("txlog").load(path)
    assert sorted(r["id"] for r in got.collect()) == [18, 19]


def test_datasource_serves_column_mapping(spark, tmp_path):
    """r9: the native connector honors the column mapping end to end —
    batch reads serve LOGICAL names (renamed fields read their
    physical bytes, dropped fields vanish), time travel via
    .option("version", ...) serves the contemporary names, filter
    pushdown prunes on the logical name, and the Arrow batch WRITER
    translates logical->physical so post-rename appends land in the
    same physical column (with retired-name resurrection refused)."""
    path = str(tmp_path / "t")
    t = TxTable(path)
    t.append(
        spark.createDataFrame(
            [(i, f"n{i}", float(i)) for i in range(40)],
            "id long, name string, val double",
        ).repartitionByRange(4, F.col("id"))
    )
    v_ren = t.rename_column(spark, "val", "amount")
    t.drop_column(spark, "name")

    # batch read: logical view
    cur = spark.read.format("txlog").load(path)
    assert set(cur.columns) == {"id", "amount", "_commit_version"}
    assert cur.count() == 40
    # renamed column reads the ORIGINAL bytes, not nulls
    assert cur.agg(F.sum("amount")).first()[0] == float(sum(range(40)))

    # writer path: append under the NEW logical name through the
    # connector; lands in the same physical column
    spark.createDataFrame(
        [(100, 100.5)], "id long, amount double"
    ).write.format("txlog").mode("append").save(path)
    got = spark.read.format("txlog").load(path)
    assert got.count() == 41
    assert got.filter(F.col("id") == 100).first()["amount"] == 100.5

    # filter pushdown on the LOGICAL name prunes files and loses nothing
    sub = spark.read.format("txlog").load(path).filter(F.col("amount") >= 35.0)
    assert {r["id"] for r in sub.select("id").collect()} == set(range(35, 40)) | {100}

    # time travel serves the PRE-RENAME names through the connector
    old = (
        spark.read.format("txlog")
        .option("version", v_ren - 1)
        .load(path)
    )
    assert set(old.columns) == {"id", "name", "val", "_commit_version"}
    assert old.agg(F.sum("val")).first()[0] == float(sum(range(40)))

    # resurrection refused on the connector write path too
    with pytest.raises(Exception, match="collides"):
        spark.createDataFrame(
            [(1, "zz", 1.0)], "id long, name string, amount double"
        ).write.format("txlog").mode("append").save(path)


def test_stream_cdf_serves_row_level_changes(spark, tmp_path):
    """r11 (Delta streaming CDF): readStream with readChangeFeed=true
    serves row-level changes — appends as inserts, deleteMor rows as
    deletes (tombstone positions SELECTED executor-side), merge/CoW-
    delete from their CDC sidecars, overwrite as delete+insert — with
    exactly-once delivery across restarts."""
    path = str(tmp_path / "t")
    t = TxTable(path)
    t.append(
        spark.createDataFrame(
            [(i, i % 4, float(i)) for i in range(20)],
            "id long, bucket long, val double",
        )
    )                                                   # v0
    t.set_change_data_feed(True)                        # v1 (meta-only)
    t.delete_mor(spark, "id IN (3, 7)")                 # v2
    t.merge(
        spark,
        spark.createDataFrame(
            [(5, 0, 55.0), (100, 1, 100.0)], "id long, bucket long, val double"
        ),
        "id",
        ["bucket", "val"],
    )                                                   # v3 (cdc sidecar)
    t.delete(spark, "id = 8")                           # v4 (cdc sidecar)
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")

    def run():
        q = (
            spark.readStream.format("txlog")
            .option("readChangeFeed", "true")
            .load(path)
            .writeStream.format("parquet")
            .option("checkpointLocation", ckpt)
            .option("path", out)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    got = spark.read.parquet(out)
    assert set(got.columns) == {
        "id", "bucket", "val", "_change_type", "_commit_version"
    }
    rows = {
        (r["id"], r["_change_type"], r["_commit_version"], r["val"])
        for r in got.collect()
    }
    assert {(i, "insert", 0, float(i)) for i in range(20)} <= rows
    assert (3, "delete", 2, 3.0) in rows and (7, "delete", 2, 7.0) in rows
    assert (5, "update_preimage", 3, 5.0) in rows
    assert (5, "update_postimage", 3, 55.0) in rows
    assert (100, "insert", 3, 100.0) in rows
    assert (8, "delete", 4, 8.0) in rows
    # unchanged re-housed rows emit nothing: exactly 20+2+3+1 rows
    assert got.count() == 26
    # restart delivers ONLY new commits (exactly-once), incl. overwrite
    t.commit_names(
        t._stage(
            spark.createDataFrame([(500, 0, 5.0)], "id long, bucket long, val double")
        ),
        overwrite=True,
    )                                                   # v5: replace all
    run()
    got2 = spark.read.parquet(out)
    new = {
        (r["id"], r["_change_type"])
        for r in got2.filter(F.col("_commit_version") == 5).collect()
    }
    # every visible pre-overwrite row deleted (not 3,7,8 — tombstoned/
    # CoW-deleted already; 5 updated + 100 inserted still visible)
    assert ("500", "insert") not in new  # ids are longs, sanity
    assert (500, "insert") in new
    assert (5, "delete") in new and (100, "delete") in new
    assert (3, "delete") not in new and (8, "delete") not in new
    assert got2.count() == 26 + 18 + 1


def test_stream_cdf_requires_sidecars_for_rewrites(spark, tmp_path):
    """A merge committed WITHOUT CDC sidecars cannot be served by the
    streaming feed (no join inside a source partition) — the stream
    fails loudly naming the fix; batch read option is refused too."""
    path = str(tmp_path / "t")
    t = TxTable(path)
    t.append(
        spark.createDataFrame([(1, 0, 1.0)], "id long, bucket long, val double")
    )
    t.merge(
        spark,
        spark.createDataFrame([(1, 0, 9.0)], "id long, bucket long, val double"),
        "id",
        ["bucket", "val"],
    )
    q = (
        spark.readStream.format("txlog")
        .option("readChangeFeed", "true")
        .load(path)
        .writeStream.format("memory")
        .queryName("cdf_rejects")
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="set_change_data_feed"):
        q.awaitTermination(120)
        raise AssertionError("stream should have failed")
    with pytest.raises(Exception, match="STREAMING option"):
        spark.read.format("txlog").option("readChangeFeed", "true").load(
            path
        ).collect()


def test_stream_cdf_serves_update_and_clone(spark, tmp_path):
    """r12 (ADVICE r11, high): streaming CDF must serve 'update' commits
    (from their CDC sidecars, like merge/delete) and 'clone' inception
    commits (referenced files' VISIBLE rows as inserts, the clone's own
    carried-over deletion vectors masked) — both previously fell through
    partitions() silently, dropping rows."""
    path = str(tmp_path / "t")
    t = TxTable(path)
    t.append(
        spark.createDataFrame(
            [(i, float(i)) for i in range(10)], "id long, val double"
        )
    )                                                   # v0
    t.set_change_data_feed(True)                        # v1 (meta-only)
    t.delete_mor(spark, "id = 4")                       # v2 (DV the clone carries)
    t.update(spark, "id = 2", {"val": "val + 100"})     # v3 (cdc sidecar)

    def run(src, ckpt, out):
        q = (
            spark.readStream.format("txlog")
            .option("readChangeFeed", "true")
            .load(src)
            .writeStream.format("parquet")
            .option("checkpointLocation", ckpt)
            .option("path", out)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return spark.read.parquet(out)

    got = run(path, str(tmp_path / "ck1"), str(tmp_path / "o1"))
    rows = {
        (r["id"], r["_change_type"], r["_commit_version"], r["val"])
        for r in got.collect()
    }
    assert (2, "update_preimage", 3, 2.0) in rows
    assert (2, "update_postimage", 3, 102.0) in rows
    # 10 inserts + 1 delete + pre/postimage, nothing dropped or doubled
    assert got.count() == 13

    clone = t.clone_to(str(tmp_path / "c"))
    got_c = run(clone.path, str(tmp_path / "ck2"), str(tmp_path / "o2"))
    crows = {
        (r["id"], r["_change_type"], r["_commit_version"], r["val"])
        for r in got_c.collect()
    }
    # inception inserts at the clone's v0: all visible rows (id=4
    # tombstoned out via the carried DV; id=2 shows its updated value)
    assert crows == {
        (i, "insert", 0, 102.0 if i == 2 else float(i))
        for i in range(10)
        if i != 4
    }


def test_stream_cdf_rejects_sidecarless_update(spark, tmp_path):
    """An UPDATE committed without CDC sidecars fails the stream loudly
    (same contract as merge/delete) instead of dropping its rows."""
    path = str(tmp_path / "t")
    t = TxTable(path)
    t.append(spark.createDataFrame([(1, 1.0)], "id long, val double"))
    t.update(spark, "id = 1", {"val": "9.0"})  # no CDF -> no sidecar
    q = (
        spark.readStream.format("txlog")
        .option("readChangeFeed", "true")
        .load(path)
        .writeStream.format("memory")
        .queryName("cdf_rejects_update")
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="set_change_data_feed"):
        q.awaitTermination(120)
        raise AssertionError("stream should have failed")


# ---- streaming admission control (r12, VERDICT r11 #1) ----


def _drain(reader, cur=None):
    """Drive the reader exactly as MicroBatchExecution does: latestOffset
    -> partitions(cur, end) -> commit(end), until the offset stops
    advancing. Returns the planned (start, end, n_partitions) batches."""
    if cur is None:
        cur = reader.initialOffset()
    batches = []
    while True:
        end = reader.latestOffset()
        if end == cur:
            return batches, cur
        parts = reader.partitions(cur, end)
        batches.append((cur["version"], end["version"], len(parts)))
        reader.commit(end)
        cur = end


def _commits(t, spark, n, files_each=2, rows_each=4, start=0):
    for c in range(n):
        df = spark.createDataFrame(
            [(start + c * rows_each + i, float(i)) for i in range(rows_each)],
            "id long, val double",
        )
        t.append(df.repartition(files_each))


def test_pushdown_like_prefix_prunes_string_zones(spark, tmp_path):
    """r14: LIKE 'k1%' reaches the reader as StringStartsWith and
    prunes via string zone maps as the range [prefix, successor] —
    the URL/domain corpus-scan shape. File layout: names clustered so
    each file holds one prefix band."""
    from hephaestus_spark.sources.txlog_datasource import (
        TxLogBatchReader,
        _prefix_upper,
    )
    from pyspark.sql.datasource import StringStartsWith

    t = TxTable(str(tmp_path / "t"))
    rows = [(i, f"k{i // 25}-{i % 25:02d}") for i in range(100)]
    t.append(
        spark.createDataFrame(rows, "id long, name string")
        .repartitionByRange(4, F.col("name"))
        .sortWithinPartitions("name")
    )
    r = TxLogBatchReader(t, None)
    residual = list(r.pushFilters([StringStartsWith(("name",), "k1")]))
    assert len(residual) == 1  # row-level re-eval stays with Spark
    parts = r.partitions()
    assert 1 <= len(parts) < len(t.live_files())
    # end-to-end through SQL: nothing lost, nothing extra
    spark.read.format("txlog").load(t.path).createOrReplaceTempView("pfx")
    got = spark.sql("SELECT id FROM pfx WHERE name LIKE 'k1%'").collect()
    assert sorted(x["id"] for x in got) == list(range(25, 50))
    # successor edge cases
    assert _prefix_upper("k1") == "k2"
    assert _prefix_upper("a" + chr(0x10FFFF)) == "b"
    assert _prefix_upper(chr(0x10FFFF)) is None


def test_pushdown_isnull_prunes_on_null_counts(spark, tmp_path):
    """r14: IS NULL / IS NOT NULL prune from committed per-file null
    counts — one file all-null, one null-free, one mixed."""
    from pyspark.sql.datasource import IsNotNull, IsNull

    t = TxTable(str(tmp_path / "t"))
    mk = lambda rows: spark.createDataFrame(rows, "id long, v string").coalesce(1)
    t.append(mk([(i, None) for i in range(10)]))          # all null
    t.append(mk([(10 + i, f"v{i}") for i in range(10)]))  # none null
    t.append(mk([(20, None), (21, "x")]))                 # mixed
    r = TxLogBatchReader(t, None)
    r.pushFilters([IsNull(("v",))])
    assert len(r.partitions()) == 2  # null-free file skipped
    r2 = TxLogBatchReader(t, None)
    r2.pushFilters([IsNotNull(("v",))])
    assert len(r2.partitions()) == 2  # all-null file skipped
    df = spark.read.format("txlog").load(t.path)
    assert df.filter(F.col("v").isNull()).count() == 11
    assert df.filter(F.col("v").isNotNull()).count() == 11


def test_admission_caps_files_per_batch(spark, tmp_path):
    """maxFilesPerTrigger=2 against a 5-commit (2 files each) backlog:
    one commit per micro-batch, five batches, every offset step pinned —
    vs the uncapped reader's single whole-history batch."""
    from hephaestus_spark.sources.txlog_datasource import TxLogStreamReader

    t = TxTable(str(tmp_path / "t"))
    _commits(t, spark, 5)
    uncapped, _ = _drain(TxLogStreamReader(t, -1))
    assert uncapped == [(-1, 4, 10)]  # the scale-killer: all 10 files at once
    capped, cur = _drain(TxLogStreamReader(t, -1, max_files=2))
    assert capped == [(-1, 0, 2), (0, 1, 2), (1, 2, 2), (2, 3, 2), (3, 4, 2)]
    # total files served identical — the cap moves boundaries, not rows
    assert sum(n for _, _, n in capped) == 10


def test_admission_oversized_commit_still_progresses(spark, tmp_path):
    """A single commit larger than the cap is admitted alone (Delta's
    at-least-one progress guarantee) instead of wedging the stream."""
    from hephaestus_spark.sources.txlog_datasource import TxLogStreamReader

    t = TxTable(str(tmp_path / "t"))
    _commits(t, spark, 1, files_each=4)
    _commits(t, spark, 1, files_each=1, start=100)
    # the writer may emit fewer files than partitions (4 rows over 4
    # partitions can land in 3 files); what matters is that the first
    # commit exceeds the cap of 1
    first = len(t.live_files(0))
    assert first > 1
    capped, _ = _drain(TxLogStreamReader(t, -1, max_files=1))
    assert capped == [(-1, 0, first), (0, 1, 1)]


def test_admission_bytes_cap_and_suffix_parse(spark, tmp_path):
    from hephaestus_spark.sources.txlog_datasource import (
        TxLogStreamReader,
        _parse_byte_limit,
    )

    assert _parse_byte_limit("1024") == 1024
    assert _parse_byte_limit("10k") == 10240
    assert _parse_byte_limit("2mb") == 2 << 20
    assert _parse_byte_limit("1g") == 1 << 30
    t = TxTable(str(tmp_path / "t"))
    _commits(t, spark, 3, files_each=1)
    # every parquet here is ~KBs; a 1-byte cap degenerates to one
    # commit per batch via the progress guarantee
    capped, _ = _drain(TxLogStreamReader(t, -1, max_bytes=1))
    assert [(s, e) for s, e, _ in capped] == [(-1, 0), (0, 1), (1, 2)]
    # a huge cap admits everything at once
    wide, _ = _drain(TxLogStreamReader(t, -1, max_bytes=1 << 40))
    assert [(s, e) for s, e, _ in wide] == [(-1, 2)]


def test_admission_position_survives_restarts(spark, tmp_path):
    """Crash-restart (uncommitted batch replayed through partitions())
    and clean-restart (persisted hint) both resume capped; a fresh
    reader never re-serves or skips a version."""
    from hephaestus_spark.sources.txlog_datasource import TxLogStreamReader

    t = TxTable(str(tmp_path / "t"))
    _commits(t, spark, 4, files_each=1)
    r1 = TxLogStreamReader(t, -1, max_files=1)
    cur = r1.initialOffset()
    end = r1.latestOffset()
    assert end == {"version": 0}
    r1.partitions(cur, end)  # batch planned but NOT committed -> crash
    # crash-restart: the engine replays the offset-log batch through
    # partitions() before asking for a new offset
    r2 = TxLogStreamReader(t, -1, max_files=1)
    r2.partitions(cur, end)  # replay
    nxt = r2.latestOffset()
    assert nxt == {"version": 1}  # capped continuation, no re-serve
    r2.partitions(end, nxt)
    r2.commit(nxt)
    # clean-restart: a brand-new reader (fresh process, no replay) finds
    # the persisted monotone hint and stays capped
    r3 = TxLogStreamReader(t, -1, max_files=1)
    assert r3.latestOffset() == {"version": 2}
    # hint is monotone: an older reader instance cannot drag it back
    assert r1.latestOffset() == {"version": 1}  # r1's own pos, not hint
    hint = os.path.join(t.path, "_txlog", "_admission-default")
    assert int(open(hint).read()) >= 2
    # the hint is monotone UNDER RACES (flock critical section): a
    # stale writer cannot drag it backwards — load-bearing for the
    # never-backwards offset argument
    r1._save_hint(0)
    assert int(open(hint).read()) >= 2


def test_admission_cdf_counts_sidecars(spark, tmp_path):
    """CDF-mode costing includes CDC sidecars and replaced files, and a
    capped CDF drain equals the uncapped one row-for-row."""
    from hephaestus_spark.sources.txlog_datasource import TxLogStreamReader

    t = TxTable(str(tmp_path / "t"))
    _commits(t, spark, 1, files_each=1)          # v0 append
    t.set_change_data_feed(True)                  # v1 metadata-only
    _commits(t, spark, 1, files_each=1, start=50)  # v2 append
    t.delete(spark, "id = 0")                     # v3 CoW delete + sidecar
    r = TxLogStreamReader(t, -1, cdf=True, max_files=1)
    batches, _ = _drain(r)
    # v1 costs nothing and rides with v0; v3 costs 1 file, its CDC
    # sidecar (the change rows the feed serves), and fills the cap alone
    assert [(s, e) for s, e, _ in batches] == [(-1, 1), (1, 2), (2, 3)]


def test_admission_end_to_end_results_unchanged(spark, tmp_path):
    """A real capped stream (processingTime micro-batches) delivers the
    same rows as an uncapped availableNow run, in >1 micro-batch."""
    import time

    t = _seed(spark, str(tmp_path / "t"))  # v0: 4 files, v1: 1+ file
    out = str(tmp_path / "out")
    q = (
        spark.readStream.format("txlog")
        .option("maxFilesPerTrigger", "2")
        .load(t.path)
        .writeStream.format("parquet")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .option("path", out)
        .trigger(processingTime="50 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            try:
                if spark.read.parquet(out).count() == 110:
                    break
            except Exception:
                pass
            time.sleep(0.5)
        else:
            raise AssertionError("capped stream never caught up")
    finally:
        q.stop()
    got = spark.read.parquet(out)
    assert got.count() == 110
    # the 4-file v0 commit alone cannot fit one 2-file batch with v1:
    # at least two distinct micro-batches wrote the sink
    assert got.select("_commit_version").distinct().count() == 2


def test_admission_available_now_takes_full_backlog_fresh(spark, tmp_path):
    """Engine caveat, pinned (r12): Spark's AvailableNowDataStreamWrapper
    memorizes ONE latestOffset for Python sources, so a FRESH capped
    availableNow query still delivers the whole backlog in one batch —
    complete ('available now' semantics), just uncapped. Capped
    draining needs processingTime (pinned above) or repeated runs."""
    t = TxTable(str(tmp_path / "t"))
    _commits(t, spark, 4, files_each=1)
    out = str(tmp_path / "out")
    q = (
        spark.readStream.format("txlog")
        .option("maxFilesPerTrigger", "1")
        .load(t.path)
        .writeStream.format("parquet")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .option("path", out)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert spark.read.parquet(out).count() == 16  # complete, one batch
    assert len(q.recentProgress) == 1


def test_drain_capped_backfill_honors_cap(spark, tmp_path):
    """r13 (VERDICT r12 #2): drain_capped delivers availableNow
    completeness with admission control HONORED — a 20-commit backlog
    drains in one capped micro-batch per commit (maxFilesPerTrigger=1,
    1 file per commit), with results equal to an uncapped run."""
    from hephaestus_spark.sources.txlog_datasource import drain_capped

    t = TxTable(str(tmp_path / "t"))
    _commits(t, spark, 20, files_each=1, rows_each=4)
    out = str(tmp_path / "out")
    summary = drain_capped(
        spark.readStream.format("txlog")
        .option("maxFilesPerTrigger", "1")
        .load(t.path)
        .writeStream.format("parquet")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .option("path", out),
        table_path=t.path,
        checkpoint_location=str(tmp_path / "ck"),
    )
    # one commit (1 file, 4 rows) per micro-batch, all 20 served
    assert summary == {"batches": 20, "rows": 80}
    got = spark.read.parquet(out)
    assert got.count() == 80
    assert got.select("_commit_version").distinct().count() == 20
    # row-for-row equal to the uncapped read of the same table
    uncapped = t.read(spark)
    assert (
        got.select("id", "val")
        .exceptAll(uncapped.select("id", "val"))
        .count()
        == 0
    )
    assert (
        uncapped.select("id", "val")
        .exceptAll(got.select("id", "val"))
        .count()
        == 0
    )


def test_drain_capped_resumes_exactly_once(spark, tmp_path):
    """A drain killed mid-backlog resumes from the sink checkpoint on
    the next call: total output equals the table exactly — no skipped
    or duplicated rows."""
    import time

    from hephaestus_spark.sources.txlog_datasource import drain_capped

    t = TxTable(str(tmp_path / "t"))
    _commits(t, spark, 12, files_each=1, rows_each=4)
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")

    def writer():
        return (
            spark.readStream.format("txlog")
            .option("maxFilesPerTrigger", "1")
            .load(t.path)
            .writeStream.format("parquet")
            .option("checkpointLocation", ck)
            .option("path", out)
        )

    # partial drain: stop as soon as SOME batches landed (a "kill").
    # Seed first so even batch one is capped (else the fresh query's
    # first batch takes the whole backlog and there is no resume left)
    from hephaestus_spark.sources.txlog_datasource import (
        seed_admission_position,
    )

    seed_admission_position(t.path, ck)
    q = writer().trigger(processingTime="50 milliseconds").start()
    deadline = time.time() + 120
    while time.time() < deadline:
        if any(
            int(p.get("numInputRows", 0) or 0) > 0 for p in q.recentProgress
        ):
            break
        time.sleep(0.2)
    q.stop()
    q.awaitTermination(60)
    try:
        partial = spark.read.parquet(out).count()
    except Exception:
        partial = 0
    assert partial < 48, "partial drain consumed everything; can't test resume"
    # resume: the second drain finishes the backlog, exactly once
    # (seed args are a restart no-op: offsets exist, hint untouched)
    summary = drain_capped(
        writer(), table_path=t.path, checkpoint_location=ck
    )
    got = spark.read.parquet(out)
    assert got.count() == 48
    assert got.select("id").distinct().count() == 48
    assert summary["rows"] == 48 - partial or summary["rows"] >= 0


def test_seed_admission_position_fresh_vs_restart(spark, tmp_path):
    """seed_admission_position writes the hint only for a provably
    fresh query (no offset log), never regresses an existing hint,
    and leaves restarts alone — the load-bearing safety property."""
    import os as _os

    from hephaestus_spark.sources.txlog_datasource import (
        _admission_hint_path,
        seed_admission_position,
    )

    t = TxTable(str(tmp_path / "t"))
    _commits(t, spark, 2, files_each=1)
    ck = str(tmp_path / "ck")
    hint = _admission_hint_path(t.path, "default")
    # fresh (no checkpoint dir at all): seeds
    assert seed_admission_position(t.path, ck) is True
    assert int(open(hint).read()) == -1
    # monotone: a live stream's later hint cannot be dragged back
    with open(hint, "w") as f:
        f.write("5")
    assert seed_admission_position(t.path, ck) is True  # fresh still
    assert int(open(hint).read()) == 5  # flock-monotone save refused -1
    # restart (offset log present): no-op
    _os.makedirs(_os.path.join(ck, "offsets"))
    open(_os.path.join(ck, "offsets", "0"), "w").write("{}")
    with open(hint, "w") as f:
        f.write("1")
    assert seed_admission_position(t.path, ck) is False
    assert int(open(hint).read()) == 1


def test_drain_capped_cdf_backfill(spark, tmp_path):
    """drain_capped composes with the change-data-feed source: a
    CDF backlog (appends + a CoW delete with sidecars) drains in
    capped batches with the full change history delivered."""
    from hephaestus_spark.sources.txlog_datasource import drain_capped

    t = TxTable(str(tmp_path / "t"))
    _commits(t, spark, 1, files_each=1, rows_each=4)       # v0: ids 0-3
    t.set_change_data_feed(True)                           # v1
    _commits(t, spark, 3, files_each=1, rows_each=4, start=10)  # v2-4
    t.delete(spark, "id = 1")                              # v5 + sidecar
    out = str(tmp_path / "out")
    summary = drain_capped(
        spark.readStream.format("txlog")
        .option("readChangeFeed", "true")
        .option("maxFilesPerTrigger", "1")
        .load(t.path)
        .writeStream.format("parquet")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .option("path", out),
        table_path=t.path,
        checkpoint_location=str(tmp_path / "ck"),
    )
    got = spark.read.parquet(out)
    # 16 inserts + 1 delete row from the CDC sidecar
    by_type = {
        r["_change_type"]: r["n"]
        for r in got.groupBy("_change_type").count().withColumnRenamed(
            "count", "n"
        ).collect()
    }
    assert by_type == {"insert": 16, "delete": 1}
    # capped: the four data commits cannot share one batch
    assert summary["batches"] >= 4
