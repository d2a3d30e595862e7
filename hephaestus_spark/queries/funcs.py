"""Scalar-function surface: SURVEY.md §2.B Q17–Q21.

All built-in `pyspark.sql.functions` — JVM-side, whole-stage-codegen'd.
Outputs are scalar columns (arrays are canonicalized with array_sort +
array_join) so the cross-engine value hash is well-defined.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from hephaestus_spark.functions.money import sum_money
from hephaestus_spark.registry import query
from hephaestus_spark.sources import load_table, spread_scan


# --------------------------------------------------------------------------
# Q17 — string functions over part
# --------------------------------------------------------------------------
@query(
    "q17_string_fns",
    oracle="""
    SELECT p_partkey,
           concat_ws('|', p_brand, p_type)                    AS brand_type,
           substring(p_name, 1, 8)                            AS name_prefix,
           upper(p_brand)                                     AS brand_upper,
           lower(p_type)                                      AS type_lower,
           trim(p_name)                                       AS name_trim,
           regexp_replace(p_name, '[aeiou]', '', 'g')         AS name_novowel,
           regexp_extract(p_type, '([A-Z]+)$', 1)             AS type_last_word,
           (p_type LIKE '%BRASS%')                            AS is_brass,
           split_part(p_type, ' ', 1)                         AS type_first_token,
           CAST(length(p_name) AS BIGINT)                     AS name_len
    FROM part
    """,
)
def q17_string_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.upper("p_brand").alias("brand_upper"),
        F.lower("p_type").alias("type_lower"),
        F.trim("p_name").alias("name_trim"),
        F.regexp_replace("p_name", "[aeiou]", "").alias("name_novowel"),
        F.regexp_extract("p_type", r"([A-Z]+)$", 1).alias("type_last_word"),
        F.col("p_type").like("%BRASS%").alias("is_brass"),
        F.split(F.col("p_type"), " ").getItem(0).alias("type_first_token"),
        F.length("p_name").cast("bigint").alias("name_len"),
    )


# --------------------------------------------------------------------------
# Q18 — date functions over orders and events
# --------------------------------------------------------------------------
@query(
    "q18_date_fns_orders",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS BIGINT)                       AS order_year,
           CAST(month(o_orderdate) AS BIGINT)                      AS order_month,
           CAST(day(o_orderdate) AS BIGINT)                        AS order_day,
           date_trunc('month', o_orderdate)                        AS month_start,
           strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d')     AS plus_30d,
           CAST(date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS BIGINT)
                                                                   AS days_since_95,
           strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end,
           strftime(o_orderdate, '%Y-%m-%d')                       AS order_date_str
    FROM orders
    """,
)
def q18_date_fns_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.year(d).cast("bigint").alias("order_year"),
        F.month(d).cast("bigint").alias("order_month"),
        F.dayofmonth(d).cast("bigint").alias("order_day"),
        F.date_trunc("month", d).cast("timestamp_ntz").alias("month_start"),
        F.date_format(F.date_add(d.cast("date"), 30), "yyyy-MM-dd").alias("plus_30d"),
        F.datediff(d.cast("date"), F.lit("1995-01-01").cast("date"))
        .cast("bigint")
        .alias("days_since_95"),
        F.date_format(F.last_day(d.cast("date")), "yyyy-MM-dd").alias("month_end"),
        F.date_format(d, "yyyy-MM-dd").alias("order_date_str"),
    )


@query(
    "q18_date_fns_events",
    oracle="""
    SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS event_day,
           CAST(count(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY 1
    """,
)
def q18_date_fns_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.date_trunc("day", F.col("ts")).cast("timestamp_ntz").alias("event_day"))
        .agg(F.count("*").alias("n_events"))
    )


# --------------------------------------------------------------------------
# Q19 — math / conditional functions
# --------------------------------------------------------------------------
@query(
    "q19_math_conditional",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(round(CAST(l_extendedprice AS DECIMAL(18,2))
             * (1 - CAST(l_discount AS DECIMAL(4,2))), 4) AS DOUBLE) AS net_price,
           CAST(round(l_discount * 100) AS BIGINT)             AS disc_pct,
           CAST(floor(l_extendedprice) AS BIGINT)              AS price_floor,
           CAST(ceil(l_extendedprice) AS BIGINT)               AS price_ceil,
           abs(l_discount - 0.03)                              AS disc_dist,
           CAST(((CAST(l_quantity AS BIGINT) % 5) + 5) % 5 AS BIGINT) AS qty_mod5,
           CASE WHEN l_quantity >= 25 THEN 'bulk'
                WHEN l_quantity >= 10 THEN 'mid'
                ELSE 'small' END                               AS qty_band,
           coalesce(nullif(l_returnflag, 'N'), 'none')         AS flag_or_none,
           greatest(l_tax, l_discount)                         AS max_rate,
           least(l_tax, l_discount)                            AS min_rate,
           (nullif(l_returnflag,'N') IS NOT DISTINCT FROM nullif(l_linestatus,'O'))
                                                               AS flags_same_nullsafe
    FROM lineitem
    """,
)
def q19_math_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Includes the null-safe equality (`eqNullSafe` ⇔ IS NOT DISTINCT
    FROM) that reference operator A14 relies on for its geocode-reset
    rule (internal/repository/task.go:97-112)."""
    li = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        # Exact decimal product, quantized to 4dp and emitted as DOUBLE in
        # both engines — decimal wire formatting is not hash-stable.
        F.round(
            F.col("l_extendedprice").cast("decimal(18,2)")
            * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)")),
            4,
        )
        .cast("double")
        .alias("net_price"),
        F.round(F.col("l_discount") * 100, 0).cast("bigint").alias("disc_pct"),
        F.floor("l_extendedprice").cast("bigint").alias("price_floor"),
        F.ceil("l_extendedprice").cast("bigint").alias("price_ceil"),
        F.abs(F.col("l_discount") - 0.03).alias("disc_dist"),
        F.pmod(q.cast("bigint"), F.lit(5)).cast("bigint").alias("qty_mod5"),
        F.when(q >= 25, "bulk").when(q >= 10, "mid").otherwise("small").alias("qty_band"),
        F.coalesce(F.nullif("l_returnflag", F.lit("N")), F.lit("none")).alias("flag_or_none"),
        F.greatest("l_tax", "l_discount").alias("max_rate"),
        F.least("l_tax", "l_discount").alias("min_rate"),
        F.nullif("l_returnflag", F.lit("N"))
        .eqNullSafe(F.nullif("l_linestatus", F.lit("O")))
        .alias("flags_same_nullsafe"),
    )


# --------------------------------------------------------------------------
# Q20 — array functions + explode
# --------------------------------------------------------------------------
# q20's count-reconstruction rests on these (TPC-H-specified) domains;
# tests/test_q20_domains.py pins them on every SF the driver checks.
_Q20_LINENUMBERS = range(1, 8)          # l_linenumber ∈ 1..7, non-null
_Q20_FLAGS = ("A", "F", "N", "O", "R")  # returnflag ∪ linestatus values


@query(
    "q20_array_agg",
    oracle="""
    SELECT l_orderkey,
           array_to_string(list_sort(list(l_linenumber)), ',')  AS linenumbers,
           CAST(len(list(l_linenumber)) AS BIGINT)              AS n_lines,
           list_contains(list(l_linenumber), 3)                 AS has_line3,
           array_to_string(list_sort(flatten(list([l_returnflag, l_linestatus]))), ',')
                                                                AS flags_flat
    FROM lineitem
    GROUP BY l_orderkey
    """,
)
def q20_array_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted per-order arrays reconstructed from per-value COUNTS
    (r15 second pass, guide §2.3 "aggregate before you shuffle" +
    "narrower types"). The declared output — sorted linenumber list,
    count, membership flag, sorted flag chars — is fully determined by
    the multiset COUNTS of each value, because both columns have tiny
    fixed domains (l_linenumber ∈ 1..7, flags ∈ {A,F,N,O,R}; TPC-H
    spec, pinned across SFs by tests/test_q20_domains.py). So the
    aggregation is 12 conditional counts — map-side combinable, fixed
    ~100 B of state per group — instead of collect_list, whose array
    buffers reduce nothing map-side and grow with group size. The
    sorted strings are rebuilt AFTER the exchange from the counts
    (array_repeat per domain value, ascending = sort_array order on
    non-null input; values 1..7 and ASCII A<F<N<O<R).

    Measured at sf0.1 (interleaved A/B, 6 rounds, executor-CPU from
    the stage API): 2.0-8.9 s CPU (collect_list form, unstable under
    GC) -> 1.1-1.3 s CPU; exchange carries 150k count rows, zero array
    buffers. exceptAll-verified equivalent both directions + oracle
    hash at sf0.001/0.01/0.1. At 100 TB this is the difference between
    bounded agg state with true map-side reduction and shipping every
    (order, line) pair into per-group arrays. Expression strings (one
    F.expr per output column) keep plan CONSTRUCTION at ~0.1 s — the
    per-column F.* builder chain cost ~0.4 s of Py4J round trips.

    Prior r15 step, kept for the record: sort_array over array_sort
    (codegen binary comparator vs interpreted lambda) was worth
    1.44 -> 1.21 s median before the counts rewrite subsumed it."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus"
    )
    ln_counts = [
        F.expr(f"count(CASE WHEN l_linenumber = {i} THEN 1 END)").alias(f"_c{i}")
        for i in _Q20_LINENUMBERS
    ]
    flag_counts = [
        F.expr(
            f"count(CASE WHEN l_returnflag = '{c}' THEN 1 END)"
            f" + count(CASE WHEN l_linestatus = '{c}' THEN 1 END)"
        ).alias(f"_f{c}")
        for c in _Q20_FLAGS
    ]
    # r16 (VERDICT r15 #5): the counts rewrite is only exact on the
    # TPC-H domains — an out-of-domain value would silently VANISH from
    # the rebuilt arrays. The 13th count makes the assumption
    # self-checking at any scale: one extra map-side-combinable counter
    # (~free next to the other 12), and the projection raise_error()s
    # the whole query if it is ever nonzero instead of emitting wrong
    # arrays (tests/test_q20_domains.py feeds an out-of-domain row and
    # asserts the loud failure).
    lns_in = ", ".join(str(i) for i in _Q20_LINENUMBERS)
    flags_in = ", ".join(f"'{c}'" for c in _Q20_FLAGS)
    ood = F.expr(
        "count(CASE WHEN l_linenumber IS NULL"
        f" OR l_linenumber NOT IN ({lns_in})"
        " OR l_returnflag IS NULL"
        f" OR l_returnflag NOT IN ({flags_in})"
        " OR l_linestatus IS NULL"
        f" OR l_linestatus NOT IN ({flags_in}) THEN 1 END)"
    ).alias("_ood")
    lns = "flatten(array(" + ", ".join(
        f"array_repeat({i}, CAST(_c{i} AS INT))" for i in _Q20_LINENUMBERS
    ) + "))"
    flags = "flatten(array(" + ", ".join(
        f"array_repeat('{c}', CAST(_f{c} AS INT))" for c in _Q20_FLAGS
    ) + "))"
    n_lines = " + ".join(f"_c{i}" for i in _Q20_LINENUMBERS)

    def guarded(expr: str, typ: str) -> Column:
        # every rebuilt output carries the guard, so a consumer that
        # selects any single column cannot prune it away
        return F.expr(
            "CASE WHEN _ood > 0 THEN CAST(raise_error(concat("
            "'q20_array_agg: out-of-domain l_linenumber/flag values in order ',"
            " CAST(l_orderkey AS STRING),"
            " ' — the counts reconstruction assumes the TPC-H domains'"
            f")) AS {typ}) ELSE CAST({expr} AS {typ}) END"
        )

    return li.groupBy("l_orderkey").agg(*ln_counts, *flag_counts, ood).select(
        "l_orderkey",
        guarded(f"array_join({lns}, ',')", "STRING").alias("linenumbers"),
        guarded(n_lines, "BIGINT").alias("n_lines"),
        guarded("_c3 > 0", "BOOLEAN").alias("has_line3"),
        guarded(f"array_join({flags}, ',')", "STRING").alias("flags_flat"),
    )


@query(
    "q20_array_explode",
    oracle="""
    SELECT l_orderkey, l_linenumber, UNNEST([l_returnflag, l_linestatus]) AS flag
    FROM lineitem
    """,
)
def q20_array_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.explode(F.array("l_returnflag", "l_linestatus")).alias("flag"),
    )


# --------------------------------------------------------------------------
# Q21 — map + JSON functions over events.props
# --------------------------------------------------------------------------
@query(
    "q21_json_extract",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value
    FROM events
    """,
)
def q21_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("bigint").alias("k_value"),
    )


@query(
    "q21_map_explode",
    oracle="""
    SELECT event_id,
           UNNEST(json_keys(props))                                  AS map_key,
           CAST(json_extract_string(props, '$.k') AS BIGINT)         AS map_value
    FROM events
    """,
)
def q21_map_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """from_json into MapType then explode to (key, value) rows.
    (props is single-key JSON, so the duckdb oracle's $.k lookup is the
    general map value.)

    r15 (guide §2.5): the JSON parse is the expensive per-row stage —
    0.84 s on ONE task at sf0.1 (single-row-group input file).
    spread_scan widens it across the session's cores when (and only
    when) the scan cannot split on its own."""
    e = load_table(spark, sf_dir, "events")
    e = spread_scan(e.select("event_id", "props"), "event_id")
    m = F.from_json("props", "map<string,bigint>")
    return e.select("event_id", F.explode(m).alias("map_key", "map_value"))


@query(
    "x_histogram",
    oracle="""
    SELECT CAST(least(floor(l_extendedprice / 5000), 19) AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS DOUBLE)
             / 100.0 AS total
    FROM lineitem GROUP BY 1
    """,
)
def x_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram (20 bins of 5000, last bin open-ended):
    the profile-a-column primitive. Bin assignment is a scan-side
    expression, so the whole thing is one map-side-combined agg whose
    shuffle carries <= 20 rows per partition regardless of table size."""
    li = load_table(spark, sf_dir, "lineitem")
    bin_col = F.least(F.floor(F.col("l_extendedprice") / 5000), F.lit(19)).cast(
        "bigint"
    )
    return (
        li.groupBy(bin_col.alias("bin"))
        .agg(
            F.count("*").cast("bigint").alias("n"),
            sum_money(F.col("l_extendedprice")).alias("total"),
        )
    )


@query(
    "x_window_dist",
    oracle="""
    SELECT o_orderkey, o_orderstatus,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile
    FROM orders
    WINDOW w AS (PARTITION BY o_orderstatus
                 ORDER BY o_totalprice ASC, o_orderkey ASC)
    """,
)
def x_window_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions (percent_rank / cume_dist / ntile)
    per order status — one shuffle on the partition key; the o_orderkey
    tiebreak in the window ORDER BY makes ntile's row numbering (and so
    the whole result) deterministic on both engines."""
    from pyspark.sql.window import Window as W

    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderstatus").orderBy(
        F.col("o_totalprice").asc(), F.col("o_orderkey").asc()
    )
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
    )
