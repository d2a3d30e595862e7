"""Generated columns, identity columns, and DESCRIBE DETAIL
(sources/txlog.py r11 — Delta's GENERATED ALWAYS AS / GENERATED ALWAYS
AS IDENTITY / DESCRIBE DETAIL): write-path fill for omitted generated
columns, per-commit validation of supplied/rewritten values through
the constraint gate, in-commit identity allocation that survives
racing appends without duplicates, GENERATED ALWAYS refusal of
explicit values, schema-evolution guards, writer-feature fencing, and
the one-row table summary."""

from __future__ import annotations

import threading

import pytest

from pyspark.sql import functions as F

from hephaestus_spark.sources import txlog
from hephaestus_spark.sources.txlog import (
    ConstraintViolation,
    TxTable,
)


def _df(spark, rows, schema="id long, ts timestamp, val double"):
    return spark.createDataFrame(rows, schema)


def _ev(spark, n, base_day=1):
    import datetime

    return spark.createDataFrame(
        [
            (
                i,
                datetime.datetime(2024, 1, base_day + i % 3, 10, 0, 0),
                float(i),
            )
            for i in range(n)
        ],
        "id long, ts timestamp, val double",
    )


# ---- generated columns ----


def test_generated_fill_on_append(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    t.append(
        _ev(spark, 5).withColumn("day", F.to_date("ts"))
    )
    t.set_generated(spark, "day", "to_date(ts)")
    # later appends omit the column -> filled from the expression
    t.append(_ev(spark, 3, base_day=20).withColumn("id", F.col("id") + 100))
    got = {r["id"]: str(r["day"]) for r in t.read(spark).collect()}
    assert got[0] == "2024-01-01" and len(got) == 8
    # verify filled rows
    rows = t.read(spark).filter("day >= '2024-01-20'").collect()
    assert len(rows) == 3 and all(str(r["day"]).startswith("2024-01-2") for r in rows)


def test_generated_validates_supplied_values(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    t.append(_ev(spark, 5).withColumn("day", F.to_date("ts")))
    t.set_generated(spark, "day", "to_date(ts)")
    before = t.latest_version()
    bad = _ev(spark, 2, base_day=20).withColumn("day", F.lit("1999-01-01").cast("date"))
    with pytest.raises(ConstraintViolation):
        t.append(bad)
    assert t.latest_version() == before
    # a frame SUPPLYING consistent values passes
    t.append(_ev(spark, 2, base_day=25).withColumn("day", F.to_date("ts")))
    assert t.read(spark).count() == 7


def test_set_generated_refuses_violating_existing_data(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    t.append(_ev(spark, 5).withColumn("day", F.lit("1999-01-01").cast("date")))
    with pytest.raises(ConstraintViolation):
        t.set_generated(spark, "day", "to_date(ts)")
    assert t.generated() == {}


def test_generated_update_cannot_desynchronize(spark, tmp_path):
    """An UPDATE that rewrites the source column but not the generated
    one refuses — the rewritten rows fail the implicit check."""
    t = TxTable(str(tmp_path / "t"))
    t.append(_ev(spark, 5).withColumn("day", F.to_date("ts")))
    t.set_generated(spark, "day", "to_date(ts)")
    with pytest.raises(ConstraintViolation):
        t.update(spark, "id = 1", {"ts": "timestamp'2030-06-01 00:00:00'"})
    # updating BOTH consistently passes
    t.update(
        spark,
        "id = 1",
        {
            "ts": "timestamp'2030-06-01 00:00:00'",
            "day": "date'2030-06-01'",
        },
    )
    assert str(t.read(spark).filter("id = 1").first()["day"]) == "2030-06-01"


def test_generated_self_reference_and_evolution_guards(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    t.append(_ev(spark, 3).withColumn("day", F.to_date("ts")))
    with pytest.raises(ValueError, match="reference itself"):
        t.set_generated(spark, "day", "day")
    t.set_generated(spark, "day", "to_date(ts)")
    with pytest.raises(ValueError, match="generated"):
        t.rename_column(spark, "ts", "event_ts")
    with pytest.raises(ValueError, match="generated"):
        t.drop_column(spark, "day")
    t.drop_generated("day")
    meta = t._fold_state()[3]
    assert "generated_columns" not in (meta.get("writer_features") or [])
    t.rename_column(spark, "ts", "event_ts")  # now fine


def test_generated_unaware_writer_fenced(spark, tmp_path, monkeypatch):
    t = TxTable(str(tmp_path / "t"))
    t.append(_ev(spark, 3).withColumn("day", F.to_date("ts")))
    t.set_generated(spark, "day", "to_date(ts)")
    monkeypatch.setattr(
        txlog,
        "SUPPORTED_WRITER_FEATURES",
        txlog.SUPPORTED_WRITER_FEATURES - {"generated_columns"},
    )
    with pytest.raises(ValueError, match="writer features"):
        TxTable(t.path).append(_ev(spark, 1, base_day=20))
    assert TxTable(t.path).read(spark).count() == 3  # reads unaffected


def test_generated_partition_column_fill(spark, tmp_path):
    """The Delta flagship shape: partition by a generated date derived
    from the event timestamp — writers supply only ts, the fill lands
    rows in the right hive partitions."""
    t = TxTable(str(tmp_path / "t"))
    first = _ev(spark, 6).withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
    t.append(first, partition_by=["day"])
    t.set_generated(spark, "day", "date_format(ts, 'yyyy-MM-dd')")
    t.append(_ev(spark, 3, base_day=20))  # no day column supplied
    parts = {p["day"] for p in t.partitions()}
    assert {"2024-01-20", "2024-01-21", "2024-01-22"} <= parts
    keep, total = t.pruned_files("day", values=["2024-01-20"])
    assert len(keep) < total  # partition pruning works on filled rows


# ---- identity columns ----


def test_identity_allocates_and_refuses_explicit(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    t.append(
        spark.createDataFrame(
            [(10, "a"), (11, "b")], "uid long, name string"
        )
    )
    t.set_identity(spark, "uid", start=1, step=1)
    # mark synced past existing max
    assert t.identity()["uid"]["next"] == 12
    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        t.append(
            spark.createDataFrame([(99, "x")], "uid long, name string")
        )
    t.append(spark.createDataFrame([("c",), ("d",), ("e",)], "name string"))
    got = {r["name"]: r["uid"] for r in t.read(spark).collect()}
    assert sorted(got[n] for n in "cde") == [12, 13, 14]
    assert t.identity()["uid"]["next"] == 15
    assert len(set(got.values())) == 5  # all unique


def test_identity_negative_step(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame([(0, "a")], "uid long, name string"))
    t.set_identity(spark, "uid", start=-1, step=-2)
    t.append(spark.createDataFrame([("b",), ("c",)], "name string"))
    got = sorted(r["uid"] for r in t.read(spark).collect())
    assert got == [-3, -1, 0]
    assert t.identity()["uid"]["next"] == -5


def test_identity_racing_appends_never_collide(spark, tmp_path):
    """Two threads append concurrently; in-commit allocation must hand
    out disjoint ranges (the loser re-reads the mark and re-assigns)."""
    path = str(tmp_path / "t")
    t = TxTable(path)
    t.append(spark.createDataFrame([(0, "seed")], "uid long, name string"))
    t.set_identity(spark, "uid", start=1, step=1)
    errs = []

    def writer(tag):
        try:
            TxTable(path).append(
                spark.createDataFrame(
                    [(f"{tag}{i}",) for i in range(5)], "name string"
                )
            )
        except BaseException as e:  # noqa: BLE001
            errs.append(e)

    ths = [threading.Thread(target=writer, args=(c,)) for c in "ab"]
    for th in ths:
        th.start()
    for th in ths:
        th.join(timeout=600)
    assert not errs, errs
    ids = [r["uid"] for r in TxTable(path).read(spark).collect()]
    assert len(ids) == 11 and len(set(ids)) == 11
    assert TxTable(path).identity()["uid"]["next"] == 11


def test_identity_update_refused_delete_ok(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], "uid long, name string"))
    t.set_identity(spark, "uid")
    with pytest.raises(ValueError, match="identity"):
        t.update(spark, "name = 'a'", {"uid": "99"})
    t.update(spark, "name = 'a'", {"name": "'z'"})  # non-identity SET fine
    t.delete(spark, "uid = 2")
    assert {r["name"] for r in t.read(spark).collect()} == {"z"}


def test_identity_stream_batches_exactly_once(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame([(0, "seed")], "uid long, name string"))
    t.set_identity(spark, "uid", start=1)
    b0 = spark.createDataFrame([("a",), ("b",)], "name string")
    assert t.append_stream_batch(b0, "app", 0) is not None
    nxt = t.identity()["uid"]["next"]
    # replay allocates NOTHING (dedup precedes staging/allocation)
    assert t.append_stream_batch(b0, "app", 0) is None
    assert t.identity()["uid"]["next"] == nxt
    t.append_stream_batch(
        spark.createDataFrame([("c",)], "name string"), "app", 1
    )
    ids = [r["uid"] for r in t.read(spark).collect()]
    assert len(ids) == 4 and len(set(ids)) == 4


def test_identity_schema_guards(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "a")], "uid long, name string"))
    t.set_identity(spark, "uid")
    with pytest.raises(ValueError, match="identity"):
        t.rename_column(spark, "uid", "id2")
    with pytest.raises(ValueError, match="identity"):
        t.drop_column(spark, "uid")
    with pytest.raises(ValueError, match="identity"):
        t.set_generated(spark, "uid", "1")
    t.drop_identity("uid")
    meta = t._fold_state()[3]
    assert "identity_columns" not in (meta.get("writer_features") or [])
    t.rename_column(spark, "uid", "id2")


def test_identity_blocks_externally_staged_commits(spark, tmp_path):
    """The native connector lands finished task files — it can neither
    allocate nor police GENERATED ALWAYS, so names-based commits on an
    identity table refuse loudly instead of silently bypassing."""
    t = TxTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "a")], "uid long, name string"))
    t.set_identity(spark, "uid")
    with pytest.raises(ValueError, match="externally-staged"):
        t.commit_names(["nonexistent.parquet"])
    with pytest.raises(ValueError, match="externally-staged"):
        t.commit_stream_names(["nonexistent.parquet"], "app", 0)
    from hephaestus_spark.sources.txlog_datasource import TxLogDataSource

    spark.dataSource.register(TxLogDataSource)
    with pytest.raises(Exception, match="externally-staged"):
        spark.createDataFrame([(9, "x")], "uid long, name string").write.format(
            "txlog"
        ).mode("append").save(t.path)
    assert t.read(spark).count() == 1


# ---- DESCRIBE DETAIL ----


def test_describe_detail(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    t.append(_ev(spark, 10).withColumn("day", F.to_date("ts")))
    t.set_generated(spark, "day", "to_date(ts)")
    t.add_check_constraint(spark, "val_ok", "val >= 0")
    t.delete_mor(spark, "id = 1")
    d = t.detail()
    assert d["version"] == t.latest_version()
    assert d["num_rows"] == 9 and d["num_rows_exact"]
    assert d["num_files"] >= 1 and d["size_bytes"] > 0
    assert d["constraints"] == {"val_ok": "val >= 0"}
    assert d["generated"] == {"day": "to_date(ts)"}
    assert d["num_deletion_vectors"] == 1
    assert "check_constraints" in d["writer_features"]
    assert d["created_ts"] <= d["last_modified_ts"]


def test_identity_append_validates_partition_by(spark, tmp_path):
    """append() on an identity table validates partition_by exactly
    as on non-identity tables: a mismatched declaration raises instead
    of being silently ignored."""
    t = TxTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "a")], "uid long, name string"))
    t.set_identity(spark, "uid", start=1, step=1)
    with pytest.raises(ValueError, match="partitioned by"):
        t.append(
            spark.createDataFrame([("b",)], "name string"),
            partition_by=["name"],
        )
    # a matching (empty-vs-declared) declaration still appends fine
    t.append(spark.createDataFrame([("c",)], "name string"))
    assert t.read(spark).count() == 2
