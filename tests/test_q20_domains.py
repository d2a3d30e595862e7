"""Data-property pin for q20's count-reconstruction (r15).

q20_array_agg rebuilds its sorted arrays from per-value counts, which
is exact iff the two source columns stay inside the TPC-H-specified
domains: l_linenumber ∈ 1..7 (non-null) and l_returnflag/l_linestatus
⊆ {A,N,R}/{F,O}. If the driver's data generator ever widened these,
the counts form would silently drop the new values — this pin turns
that into a loud failure instead (same pattern as q14's l_quantity
integrality pin).
"""

import pytest
from pyspark.sql import functions as F

from hephaestus_spark.queries.funcs import _Q20_FLAGS, _Q20_LINENUMBERS
from hephaestus_spark.sources import load_table

SF_DIRS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_q20_source_domains(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    row = li.agg(
        F.min("l_linenumber").alias("mn"),
        F.max("l_linenumber").alias("mx"),
        F.count(F.when(F.col("l_linenumber").isNull(), 1)).alias("nulls"),
        F.collect_set("l_returnflag").alias("rf"),
        F.collect_set("l_linestatus").alias("ls"),
    ).collect()[0]
    assert row["mn"] >= min(_Q20_LINENUMBERS)
    assert row["mx"] <= max(_Q20_LINENUMBERS)
    assert row["nulls"] == 0
    assert set(row["rf"]) | set(row["ls"]) <= set(_Q20_FLAGS)


def test_q20_counts_form_matches_collect_list(spark):
    """The counts reconstruction == the direct collect_list form on
    real data (sf0.01), both directions."""
    sf_dir = "/root/testdata/sf0.01"
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus"
    )
    direct = (
        li.groupBy("l_orderkey")
        .agg(
            F.sort_array(F.collect_list("l_linenumber")).alias("_lns"),
            F.sort_array(
                F.flatten(F.collect_list(F.array("l_returnflag", "l_linestatus")))
            ).alias("_flags"),
        )
        .select(
            "l_orderkey",
            F.array_join("_lns", ",").alias("linenumbers"),
            F.size("_lns").cast("bigint").alias("n_lines"),
            F.array_contains("_lns", 3).alias("has_line3"),
            F.array_join("_flags", ",").alias("flags_flat"),
        )
    )
    from hephaestus_spark.registry import QUERIES

    counts = QUERIES["q20_array_agg"](spark, sf_dir)
    assert counts.exceptAll(direct).count() == 0
    assert direct.exceptAll(counts).count() == 0


def test_q20_out_of_domain_raises(spark, tmp_path):
    """r16 (VERDICT r15 #5): the counts reconstruction must FAIL LOUDLY
    on out-of-domain values instead of silently dropping them from the
    rebuilt arrays — the 13th counter + raise_error guard, on every
    output column."""
    import pyspark.errors

    d = str(tmp_path)
    rows = [
        (1, 1, "A", "F"),
        (1, 9, "A", "F"),  # l_linenumber 9: outside 1..7
    ]
    spark.createDataFrame(
        rows,
        "l_orderkey long, l_linenumber int, l_returnflag string,"
        " l_linestatus string",
    ).write.mode("overwrite").parquet(f"{d}/lineitem.parquet")
    from hephaestus_spark.registry import QUERIES

    df = QUERIES["q20_array_agg"](spark, d)
    # every rebuilt output carries the guard: selecting any one column
    # alone must not prune it away
    for out in (df, *(df.select(c) for c in ("linenumbers", "flags_flat", "has_line3"))):
        with pytest.raises(Exception) as ei:
            out.collect()
        assert "out-of-domain" in str(ei.value), out.columns

    # and a bad flag value trips it too
    rows = [(2, 1, "Z", "F")]
    spark.createDataFrame(
        rows,
        "l_orderkey long, l_linenumber int, l_returnflag string,"
        " l_linestatus string",
    ).write.mode("overwrite").parquet(f"{d}/lineitem.parquet")
    from hephaestus_spark.sources import tables as _t

    _t._DF_CACHE.clear()  # the loader memoizes per (app, dir, table)
    df = QUERIES["q20_array_agg"](spark, d)
    with pytest.raises(Exception) as ei:
        df.collect()
    assert "out-of-domain" in str(ei.value)
    _t._DF_CACHE.clear()
