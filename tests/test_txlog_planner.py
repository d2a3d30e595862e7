"""The txlog file-skipping planner (sources/txlog.py ``_planner``): one
predicate form (``_probe``), one driver keep-test (``_act_keep``) and
one Spark keep-Column (``_keep_column``) behind pruned reads, DML,
merge, the OCC rebase check and the SQL connector's pushFilters."""

from __future__ import annotations

import datetime as dt
import json
import tempfile

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    StringStartsWith,
)

from hephaestus_spark.sources.txlog import TxTable
from hephaestus_spark.sources.txlog_datasource import (
    TxLogBatchReader,
    TxLogDataSource,
    _zone_prunable,
)


def test_date_partition_probes_every_route(spark, tmp_path):
    """A table partitioned by a DATE column, probed with
    ``datetime.date`` values: the values are normalised once, when the
    probe is built, so every route compares them against the
    ISO-string partition zones instead of raising TypeError."""
    days = [dt.date(2024, 1, 1) + dt.timedelta(days=i) for i in range(8)]
    t = TxTable(str(tmp_path / "t"))
    t.append(
        spark.createDataFrame(
            [(i, days[i % 8], float(i)) for i in range(40)],
            "id long, d date, val double",
        ).coalesce(1),
        partition_by=["d"],
    )
    assert len(t._snapshot_files()) == 8

    got = t.read_pruned(spark, "d", days[2], days[3]).collect()
    assert sorted(r["id"] for r in got) == [
        i for i in range(40) if i % 8 in (2, 3)
    ]
    keep, total = t.pruned_files("d", values=[days[5], days[6]])
    assert (len(keep), total) == (2, 8)
    with pytest.raises(ValueError, match="not several"):
        t.pruned_files("d", days[5], values=[days[6]])

    _v, hit, untouched = t.delete(
        spark, "d = DATE'2024-01-02'", prune_column="d", lo=days[1], hi=days[1]
    )
    assert (hit, untouched) == (1, 7)
    assert {r["d"] for r in t.read(spark).collect()} == set(days) - {days[1]}

    r = TxLogBatchReader(t, t.latest_version())
    r.pushFilters([EqualTo(("d",), days[4])])
    assert r._keep is not None and len(r._keep) == 1
    spark.dataSource.register(TxLogDataSource)
    got = (
        spark.read.format("txlog").load(t.path)
        .filter(F.col("d") == days[4]).collect()
    )
    assert sorted(r["id"] for r in got) == [i for i in range(40) if i % 8 == 4]


# ---- route agreement -------------------------------------------------

# logical column -> zone kind; "q" is always mapped to a physical name
# no JSON path can quote, so its probes fall back to the driver fold
_KINDS = {"i": "int", "f": "float", "s": "str", "q": "int"}
_INTS = st.integers(-6, 6)
_FLOATS = st.floats(-6.0, 6.0, allow_nan=False, width=32)
_STRS = st.text(alphabet="abc", max_size=3)
_VALUES = {"int": _INTS, "float": _FLOATS, "str": _STRS}


@st.composite
def _zone(draw, kind):
    a, b = sorted([draw(_VALUES[kind]), draw(_VALUES[kind])])
    if kind != "str":
        return [a, b]
    # a truncated hi is a prefix of the real max: marked inexact
    return {
        "lo": a, "hi": b,
        "lo_exact": draw(st.booleans()), "hi_exact": draw(st.booleans()),
    }


@st.composite
def _table(draw):
    mapped = draw(st.booleans())
    mapping = {c: (f"col-{c}" if mapped else c) for c in "ifs"}
    mapping["q"] = "q'1"
    adds = []
    for k in range(draw(st.integers(1, 6))):
        rows = draw(st.one_of(st.none(), st.integers(0, 4)))
        stats, nulls = {}, {}
        for c, kind in _KINDS.items():
            if draw(st.booleans()):  # missing stats otherwise
                stats[mapping[c]] = draw(_zone(kind))
            if draw(st.booleans()):
                nulls[mapping[c]] = draw(st.integers(0, rows or 0))
        adds.append(
            {"add": f"part-{k}.parquet", "rows": rows, "stats": stats,
             "nulls": nulls}
        )
    return {"mapping": mapping}, adds


@st.composite
def _filter(draw):
    c = draw(st.sampled_from(sorted(_KINDS)))
    vals = _VALUES[_KINDS[c]]
    shapes = [EqualTo, GreaterThan, GreaterThanOrEqual, LessThan,
              LessThanOrEqual, In, IsNull, IsNotNull]
    if _KINDS[c] == "str":
        shapes.append(StringStartsWith)
    shape = draw(st.sampled_from(shapes))
    if shape in (IsNull, IsNotNull):
        return shape((c,))
    if shape is In:
        return In((c,), tuple(draw(st.lists(vals, max_size=3))))
    return shape((c,), draw(vals))


@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(table=_table(), filters=st.lists(_filter(), min_size=1, max_size=3))
def test_driver_spark_and_pushdown_routes_agree(
    spark, monkeypatch, table, filters
):
    """Generated add actions — int and float zones, string zones with a
    truncated hi, missing stats and null counts, rows == 0 files,
    mapped physical names, an unquotable name — keep the same files
    through the driver keep-test, the Spark keep-Column, the planner's
    Spark route (which falls back to the fold for the unquotable name)
    and the SQL connector's pushFilters."""
    meta, adds = table
    probes = _zone_prunable(filters)
    with tempfile.TemporaryDirectory() as d:
        t = TxTable(d)
        t._commit(0, "append", [{"meta": meta}] + [dict(a) for a in adds])
        phys = TxTable._phys_probes(probes, meta)
        driver = sorted(a["add"] for a in adds if t._act_keep(a, phys))
        assert sorted(t._planner()[2](probes)[0]) == driver

        r = TxLogBatchReader(t, 0)
        r.pushFilters(filters)
        assert sorted(r._keep) == driver

        cond = TxTable._keep_column(phys)
        if any("'" in col for col, _p in phys):
            assert cond is None
        else:
            frame = spark.createDataFrame(
                [(a["add"], a["rows"], 0, json.dumps(a)) for a in adds],
                "path string, rows long, v long, payload string",
            )
            got = [row["path"] for row in frame.filter(cond).collect()]
            assert sorted(got) == driver

        monkeypatch.setattr(TxTable, "DML_SPARK_PLAN_THRESHOLD", 0)
        try:
            keep, total = TxTable(d)._planner(spark)[2](probes)
        finally:
            monkeypatch.undo()
        assert (sorted(keep), total) == (driver, len(adds))
