"""Pipeline-semantics queries: SURVEY.md §2.B Q22–Q25.

These exercise the reference's ETL operators (A5–A16) re-expressed as
set-wise DataFrame plans, on deterministic derivations of the driver's
test tables so a DuckDB oracle can replay them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from hephaestus_spark.operators import bridge, cleaning, dimension, merge
from hephaestus_spark.registry import query
from hephaestus_spark.sources import load_table


# --------------------------------------------------------------------------
# Q22 — get-or-create dimension (A13, deterministic variant)
# --------------------------------------------------------------------------
@query(
    "q22_dim_get_or_create",
    oracle="""
    SELECT event_id, event_type,
           CAST(dense_rank() OVER (ORDER BY event_type) AS BIGINT) AS type_id
    FROM events
    """,
)
def q22_dim_get_or_create(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surrogate-key resolution as the reference's GetOrCreateTaskTypeID
    (task.go:13-45) would leave it, set-wise: distinct names -> dense ids
    -> broadcast join back to the fact rows."""
    e = load_table(spark, sf_dir, "events")
    resolved = dimension.attach_surrogate_ids(e, "event_type", "type_id")
    return resolved.select("event_id", "event_type", "type_id")


# --------------------------------------------------------------------------
# Q23 — SCD-1 merge (A10–A14)
# --------------------------------------------------------------------------
# Deterministic fixture derivation (both engines):
#   snapshot = customers with c_custkey % 4 <> 0
#   staged   = customers with c_custkey % 2 =  0
#     -> ids ≡ 0 (mod 4): in staged only  => insert
#        ids ≡ 2 (mod 4): in both; fullname uppercased when ≡ 2 (mod 8)
#                         => update, else identical => skip
#        ids ≡ 1,3 (mod 4): snapshot only => keep
#   email is NULL when c_custkey % 10 = 3 on BOTH sides — identical rows
#   must compare equal through NULLs (IS DISTINCT FROM / eqNullSafe).
_SNAPSHOT_SQL = """
    SELECT c_custkey AS id, c_name AS fullname, c_mktsegment AS position,
           CASE WHEN c_custkey % 10 = 3 THEN NULL
                ELSE 'u' || c_custkey || '@example.com' END AS email
    FROM customer WHERE c_custkey % 4 <> 0
"""
_STAGED_SQL = """
    SELECT c_custkey AS id,
           CASE WHEN c_custkey % 8 = 2 THEN upper(c_name) ELSE c_name END AS fullname,
           c_mktsegment AS position,
           CASE WHEN c_custkey % 10 = 3 THEN NULL
                ELSE 'u' || c_custkey || '@example.com' END AS email
    FROM customer WHERE c_custkey % 2 = 0
"""


def _q23_inputs(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    c = load_table(spark, sf_dir, "customer")
    email = F.when(F.col("c_custkey") % 10 == 3, F.lit(None).cast("string")).otherwise(
        F.concat(F.lit("u"), F.col("c_custkey").cast("string"), F.lit("@example.com"))
    )
    snapshot = c.filter(F.col("c_custkey") % 4 != 0).select(
        F.col("c_custkey").alias("id"),
        F.col("c_name").alias("fullname"),
        F.col("c_mktsegment").alias("position"),
        email.alias("email"),
    )
    staged = c.filter(F.col("c_custkey") % 2 == 0).select(
        F.col("c_custkey").alias("id"),
        F.when(F.col("c_custkey") % 8 == 2, F.upper("c_name"))
        .otherwise(F.col("c_name"))
        .alias("fullname"),
        F.col("c_mktsegment").alias("position"),
        email.alias("email"),
    )
    return snapshot, staged


@query(
    "q23_scd1_merge",
    oracle=f"""
    WITH old AS ({_SNAPSHOT_SQL}), new AS ({_STAGED_SQL}),
    merged AS (
      SELECT coalesce(old.id, new.id) AS id,
             old.fullname AS o_fullname, old.position AS o_position, old.email AS o_email,
             new.fullname AS n_fullname, new.position AS n_position, new.email AS n_email,
             (old.id IS NOT NULL) AS in_old, (new.id IS NOT NULL) AS in_new,
             (old.fullname IS DISTINCT FROM new.fullname
              OR old.position IS DISTINCT FROM new.position
              OR old.email    IS DISTINCT FROM new.email) AS differ
      FROM old FULL OUTER JOIN new ON old.id = new.id
    )
    SELECT id,
           CASE WHEN NOT in_new THEN o_fullname
                WHEN NOT in_old OR differ THEN n_fullname ELSE o_fullname END AS fullname,
           CASE WHEN NOT in_new THEN o_position
                WHEN NOT in_old OR differ THEN n_position ELSE o_position END AS position,
           CASE WHEN NOT in_new THEN o_email
                WHEN NOT in_old OR differ THEN n_email    ELSE o_email    END AS email,
           CASE WHEN NOT in_old AND in_new THEN 'insert'
                WHEN in_old AND in_new AND differ THEN 'update'
                WHEN in_old AND in_new THEN 'skip'
                ELSE 'keep' END AS action
    FROM merged
    """,
)
def q23_scd1_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch SCD-1 merge: insert-if-absent (A11), update-if-changed with
    null-safe comparison (A12/A14), skip-if-identical (A10) — one
    full-outer join instead of the reference's N+1 probe loop."""
    snapshot, staged = _q23_inputs(spark, sf_dir)
    return merge.scd1_merge(snapshot, staged, "id", ["fullname", "position", "email"])


@query(
    "q23_scd1_action_counts",
    oracle=f"""
    WITH old AS ({_SNAPSHOT_SQL}), new AS ({_STAGED_SQL}),
    merged AS (
      SELECT (old.id IS NOT NULL) AS in_old, (new.id IS NOT NULL) AS in_new,
             (old.fullname IS DISTINCT FROM new.fullname
              OR old.position IS DISTINCT FROM new.position
              OR old.email    IS DISTINCT FROM new.email) AS differ
      FROM old FULL OUTER JOIN new ON old.id = new.id
    )
    SELECT CASE WHEN NOT in_old AND in_new THEN 'insert'
                WHEN in_old AND in_new AND differ THEN 'update'
                WHEN in_old AND in_new THEN 'skip'
                ELSE 'keep' END AS action,
           CAST(count(*) AS BIGINT) AS n
    FROM merged GROUP BY 1
    """,
)
def q23_scd1_action_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-action counts — the reference's repair/save metrics (A23) as
    an aggregate over the merge plan (df.observe-able in streaming)."""
    snapshot, staged = _q23_inputs(spark, sf_dir)
    merged = merge.scd1_merge(snapshot, staged, "id", ["fullname", "position", "email"])
    return merged.groupBy("action").agg(F.count("*").alias("n"))


# --------------------------------------------------------------------------
# Q24 — bridge rewrite (A15/A16)
# --------------------------------------------------------------------------
@query(
    "q24_bridge_rewrite",
    oracle="SELECT DISTINCT user_id, event_type AS member FROM events",
)
def q24_bridge_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rebuild a (user_id, event_type) bridge as the reference's
    delete+insert (task.go:125-151) would leave it: the distinct current
    set. Exercises the array path: collect_set per user (the incoming
    'executors' array shape) then explode back — A15's exact dataflow."""
    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(F.collect_set("event_type").alias("members"))
    return bridge.rebuild_bridge(per_user, "user_id", "members").select(
        "user_id", "member"
    )


@query(
    "q24_bridge_resolved",
    oracle="""
    WITH dim AS (
      SELECT event_type,
             CAST(dense_rank() OVER (ORDER BY event_type) AS BIGINT) AS type_id
      FROM (SELECT DISTINCT event_type FROM events)
    )
    SELECT DISTINCT e.user_id, e.event_type AS member, d.type_id AS member_id
    FROM events e LEFT JOIN dim d ON e.event_type = d.event_type
    """,
)
def q24_bridge_resolved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bridge rewrite + A16's scalar-subquery lookup as a broadcast left
    join (unmatched members keep NULL ids, FIXTURES.md B6)."""
    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(F.collect_set("event_type").alias("members"))
    dim = dimension.dense_surrogate_ids(e, "event_type", "type_id")
    return bridge.rebuild_bridge(
        per_user, "user_id", "members", dim, "event_type", "type_id"
    )


# --------------------------------------------------------------------------
# Q25 — validation / cleaning (A5–A8)
# --------------------------------------------------------------------------
@query(
    "q25_validation_cleaning",
    oracle="""
    WITH contacts AS (
      SELECT c_custkey AS id,
             CASE c_custkey % 5
               WHEN 0 THEN ''
               WHEN 1 THEN '12345'
               WHEN 2 THEN 'user' || c_custkey || '@example.com'
               WHEN 3 THEN 'bad@no-tld'
               ELSE 'USER.' || c_custkey || '@Example.COM' END AS email,
             CASE c_custkey % 4
               WHEN 0 THEN '096 123-4567'
               WHEN 1 THEN '+380501234567'
               WHEN 2 THEN 'not-a-phone'
               ELSE '' END AS phone
      FROM customer
    )
    SELECT id, email, phone,
           regexp_matches(email, '^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}$')
             AS email_valid,
           regexp_matches(regexp_replace(phone, '[ -]', '', 'g'), '^\\+?[0-9]\\d{1,14}$')
             AS phone_valid,
           CASE WHEN regexp_matches(email, '^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}$')
                THEN email
                ELSE 'invalid+' || id || '@example.invalid' END AS repaired_email,
           CASE WHEN regexp_matches(regexp_replace(phone, '[ -]', '', 'g'), '^\\+?[0-9]\\d{1,14}$')
                THEN regexp_replace(phone, '[ -]', '', 'g') END AS cleaned_phone
    FROM contacts
    """,
)
def q25_validation_cleaning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5–A8 over a synthesized dirty contact table (FIXTURES.md B2):
    flag + deterministically repair invalid emails, normalize phones to
    E.164. Pure column expressions — runs in codegen, no UDF."""
    c = load_table(spark, sf_dir, "customer")
    key = F.col("c_custkey")
    email = (
        F.when(key % 5 == 0, F.lit(""))
        .when(key % 5 == 1, F.lit("12345"))
        .when(key % 5 == 2, F.concat(F.lit("user"), key.cast("string"), F.lit("@example.com")))
        .when(key % 5 == 3, F.lit("bad@no-tld"))
        .otherwise(F.concat(F.lit("USER."), key.cast("string"), F.lit("@Example.COM")))
    )
    phone = (
        F.when(key % 4 == 0, F.lit("096 123-4567"))
        .when(key % 4 == 1, F.lit("+380501234567"))
        .when(key % 4 == 2, F.lit("not-a-phone"))
        .otherwise(F.lit(""))
    )
    contacts = c.select(key.alias("id"), email.alias("email"), phone.alias("phone"))
    return contacts.select(
        "id",
        "email",
        "phone",
        cleaning.email_valid(F.col("email")).alias("email_valid"),
        cleaning.phone_valid(F.col("phone")).alias("phone_valid"),
        cleaning.repaired_email(F.col("id"), F.col("email")).alias("repaired_email"),
        cleaning.cleaned_phone(F.col("phone")).alias("cleaned_phone"),
    )


# --------------------------------------------------------------------------
# r5: SCD-2 history build (validity intervals from a change feed)
# --------------------------------------------------------------------------
@query(
    "x_scd2_history",
    oracle="""
    WITH feed AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type AS state,
             event_id
      FROM events
    ), ordered AS (
      SELECT user_id, ts, state, event_id,
             lag(state) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_state
      FROM feed
    ), changes AS (
      SELECT user_id, ts, state, event_id
      FROM ordered
      WHERE prev_state IS NULL OR state <> prev_state
    )
    SELECT user_id, state,
           ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
           (lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL)
             AS is_current
    FROM changes
    """,
)
def x_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-2 history build: turn a change feed into validity-interval
    dimension rows — the OTHER slowly-changing-dimension discipline
    (q23 is SCD-1 overwrite; this keeps full history with
    valid_from/valid_to/is_current). Consecutive identical states
    collapse first (lag() change detection), then intervals chain via
    lead() — two windows over the SAME (user_id, ts) partitioning, so
    Spark plans ONE shuffle + one sort shared by both.

    At 100 TB the feed is partitioned by key: both windows are
    per-key linear scans; no join, no state table probe — the set-wise
    replacement for the reference's per-row history upserts. Ties on
    ts break by event_id in BOTH engines, so interval chaining is
    deterministic."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts").cast("timestamp").alias("ts"),
        F.col("event_type").alias("state"),
        "event_id",
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        e.withColumn("prev_state", F.lag("state").over(w))
        .filter(F.col("prev_state").isNull() | (F.col("state") != F.col("prev_state")))
        .drop("prev_state")
    )
    w2 = W.partitionBy("user_id").orderBy("ts", "event_id")
    return changes.select(
        "user_id",
        "state",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w2).alias("valid_to"),
        F.lead("ts").over(w2).isNull().alias("is_current"),
    )


_CDC_APPLY_SQL = """
    WITH feed AS (
      SELECT o_custkey, o_orderdate, o_orderkey, o_orderstatus, o_totalprice,
             CASE WHEN o_orderstatus = 'P' THEN 'D' ELSE 'U' END AS op,
             row_number() OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn,
             CAST(count(*) OVER (PARTITION BY o_custkey) AS BIGINT) AS n_changes
      FROM orders
    )
    SELECT o_custkey, o_orderstatus AS last_status,
           o_totalprice AS last_price, o_orderdate AS last_ts, n_changes
    FROM feed WHERE rn = 1 AND op = 'U'
    """


@query("x_cdc_apply", oracle=_CDC_APPLY_SQL)
def x_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC op-log apply (Debezium / Delta ``APPLY CHANGES INTO`` shape):
    orders replayed as a change feed keyed by customer — status 'P'
    maps to a DELETE op, everything else to an UPSERT — and the final
    table state is the LAST op per key (keys whose last op is a delete
    vanish). Complements q23 (SCD-1 two-table diff: no op column, no
    deletes) and q30 (last-per-group: no tombstone semantics).

    One window shuffle on the key computes last-op selection AND the
    per-key change count (same partitioning ⇒ Spark shares the
    Exchange+Sort). At 100 TB the feed apply is a single keyed pass —
    never a per-key driver loop — and ties break on (ts, o_orderkey)
    identically in both engines, so the surviving row is deterministic
    even with equal timestamps.

    Reference parity: this is the set-wise form of the reference's
    row-at-a-time upsert/delete statement chain
    (internal/repository/task.go:81-123 upsert; bridge delete+insert)
    lifted to op-log semantics."""
    o = load_table(spark, sf_dir, "orders")
    wk = W.partitionBy("o_custkey")
    feed = o.select(
        "o_custkey",
        "o_orderdate",
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.when(F.col("o_orderstatus") == "P", "D").otherwise("U").alias("op"),
        F.row_number()
        .over(wk.orderBy(F.col("o_orderdate").desc(), F.col("o_orderkey").desc()))
        .alias("rn"),
        F.count("*").over(wk).cast("bigint").alias("n_changes"),
    )
    return feed.filter((F.col("rn") == 1) & (F.col("op") == "U")).select(
        "o_custkey",
        F.col("o_orderstatus").alias("last_status"),
        F.col("o_totalprice").alias("last_price"),
        F.col("o_orderdate").alias("last_ts"),
        "n_changes",
    )


@query(
    # Full delivery + order-respecting batch boundaries make the
    # streamed two-level compaction equal the one-shot batch apply, so
    # the oracle is shared with x_cdc_apply (last-op-wins is
    # associative over (ts, orderkey)-max; per-key counts sum).
    "x_stream_cdc_apply",
    oracle=_CDC_APPLY_SQL,
)
def x_stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDC apply as it runs in production streaming: changes arrive
    as ordered micro-batches (one per order-year here) and each batch
    PRE-COMPACTS inside ``foreachBatch`` — one surviving (last-op) row
    per key per batch plus that batch's change count — appending to a
    log-structured accumulator; a final GLOBAL compaction merges the
    per-batch winners. This is the sorted-run + compaction shape every
    streaming upsert table (Delta/Hudi/Paimon-style) uses: per-batch
    work is bounded by the batch, the accumulator carries keys x
    batches rows (not the raw feed), and the merge is associative —
    max over (ts, orderkey) picks the winner-of-winners and counts
    sum — so the result is bit-identical to the one-shot batch apply
    (asserted by sharing its oracle).

    Delete semantics survive compaction: tombstones are kept through
    BOTH levels and only filtered at the end, so a later batch's 'U'
    can't be shadowed by an earlier 'D' (or vice versa)."""
    from hephaestus_spark.streaming.replay import replay_foreach_batch

    o = load_table(spark, sf_dir, "orders")
    feed = o.select(
        "o_custkey",
        "o_orderdate",
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.when(F.col("o_orderstatus") == "P", "D").otherwise("U").alias("op"),
        F.year("o_orderdate").alias("arrival"),
    )

    def pre_compact(batch_df: DataFrame) -> DataFrame:
        wk = W.partitionBy("o_custkey")
        return (
            batch_df.withColumn(
                "rn",
                F.row_number().over(
                    wk.orderBy(
                        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
                    )
                ),
            )
            .withColumn("batch_changes", F.count("*").over(wk).cast("bigint"))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )

    runs = replay_foreach_batch(spark, feed, "arrival", pre_compact)
    wk = W.partitionBy("o_custkey")
    final = (
        runs.withColumn(
            "rn",
            F.row_number().over(
                wk.orderBy(F.col("o_orderdate").desc(), F.col("o_orderkey").desc())
            ),
        )
        .withColumn("n_changes", F.sum("batch_changes").over(wk).cast("bigint"))
        .filter((F.col("rn") == 1) & (F.col("op") == "U"))
    )
    return final.select(
        "o_custkey",
        F.col("o_orderstatus").alias("last_status"),
        F.col("o_totalprice").alias("last_price"),
        F.col("o_orderdate").alias("last_ts"),
        "n_changes",
    )


# --------------------------------------------------------------------------
# x_quarantine_split — data-quality routing (r6): the production
# decision in front of every merge — which records are safe to merge
# as-is, which are merged after repair, and which have NO usable
# contact channel and go to a quarantine sink for review instead of
# polluting the snapshot with fully-synthetic values.
# --------------------------------------------------------------------------
@query(
    "x_quarantine_split",
    oracle="""
    WITH contacts AS (
      SELECT c_custkey AS id,
             CASE c_custkey % 5
               WHEN 0 THEN ''
               WHEN 1 THEN '12345'
               WHEN 2 THEN 'user' || c_custkey || '@example.com'
               WHEN 3 THEN 'bad@no-tld'
               ELSE 'USER.' || c_custkey || '@Example.COM' END AS email,
             CASE c_custkey % 4
               WHEN 0 THEN '096 123-4567'
               WHEN 1 THEN '+380501234567'
               WHEN 2 THEN 'not-a-phone'
               ELSE '' END AS phone
      FROM customer
    ), flagged AS (
      SELECT id,
             regexp_matches(email,
               '^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}$') AS ev,
             regexp_matches(regexp_replace(phone, '[ -]', '', 'g'),
               '^\\+?[0-9]\\d{1,14}$') AS pv
      FROM contacts
    ), routed AS (
      SELECT id,
             CASE WHEN ev AND pv THEN 'clean'
                  WHEN NOT ev AND NOT pv THEN 'quarantined'
                  ELSE 'repaired' END AS disposition,
             CASE WHEN ev AND pv THEN 'ok'
                  WHEN NOT ev AND NOT pv THEN 'no_valid_contact'
                  WHEN NOT ev THEN 'email_invalid'
                  ELSE 'phone_invalid' END AS reason
      FROM flagged
    )
    SELECT disposition, reason, CAST(count(*) AS BIGINT) AS n,
           CAST(min(id) AS BIGINT) AS min_id, CAST(max(id) AS BIGINT) AS max_id
    FROM routed GROUP BY 1, 2
    """,
)
def x_quarantine_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-way quality routing over the q25 dirty-contact fixture:
    clean / repaired / quarantined(+reason), rolled up with id ranges.
    The split itself is two scan-side CASE expressions
    (operators/cleaning.py::contact_disposition) — at 100 TB this is a
    zero-shuffle classify followed by a few-group agg, and each branch
    feeds its own sink (merge / merge-after-repair / quarantine
    parquet) from ONE pass over the feed."""
    from hephaestus_spark.operators.cleaning import (
        contact_disposition,
        disposition_reason,
    )

    c = load_table(spark, sf_dir, "customer")
    key = F.col("c_custkey")
    email = (
        F.when(key % 5 == 0, F.lit(""))
        .when(key % 5 == 1, F.lit("12345"))
        .when(key % 5 == 2, F.concat(F.lit("user"), key.cast("string"), F.lit("@example.com")))
        .when(key % 5 == 3, F.lit("bad@no-tld"))
        .otherwise(F.concat(F.lit("USER."), key.cast("string"), F.lit("@Example.COM")))
    )
    phone = (
        F.when(key % 4 == 0, F.lit("096 123-4567"))
        .when(key % 4 == 1, F.lit("+380501234567"))
        .when(key % 4 == 2, F.lit("not-a-phone"))
        .otherwise(F.lit(""))
    )
    routed = c.select(
        key.alias("id"),
        contact_disposition(email, phone).alias("disposition"),
        disposition_reason(email, phone).alias("reason"),
    )
    return routed.groupBy("disposition", "reason").agg(
        F.count("*").cast("bigint").alias("n"),
        F.min("id").cast("bigint").alias("min_id"),
        F.max("id").cast("bigint").alias("max_id"),
    )


# --------------------------------------------------------------------------
# x — transactional table layer (sources/txlog.py): versioned MERGE +
# time travel, verified end-to-end against the relational ground truth
# --------------------------------------------------------------------------
@query(
    "x_txlog_merge_timetravel",
    oracle="""
    SELECT c_custkey, c_name,
           CAST(CASE WHEN c_custkey % 5 = 0 THEN c_acctbal + 10.0
                     ELSE c_acctbal END AS DOUBLE) AS c_acctbal,
           CASE WHEN c_custkey % 3 = 0 THEN 'insert'
                WHEN c_custkey % 5 = 0 THEN 'update'
                ELSE 'keep' END AS status
    FROM customer
    """,
)
def x_txlog_merge_timetravel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lakehouse write path end-to-end (r7, sources/txlog.py): a
    versioned transactional table is built from scratch — version 0
    appends two thirds of the customers, version 1 runs a copy-on-write
    SCD-1 MERGE staging ALL customers with a deterministic balance bump
    on every fifth key — and the output classifies each final row by
    DIFFING THE TWO SNAPSHOTS via time travel (insert = absent at v0,
    update = present but changed, keep = identical). The oracle states
    the same result straight from the customer table, so a bug anywhere
    in the log fold, commit protocol, snapshot isolation or merge
    semantics breaks the hash. The +10.0 bump is one exact IEEE add on
    identical parquet doubles in both engines.

    Scale shape: the log holds file names (driver-cheap fold); data
    moves only through the same scd1_merge full-outer plan the JDBC
    sink ships; at 100 TB the copy-on-write narrows to partition-pruned
    rewrites while this commit protocol is unchanged."""
    import shutil
    import tempfile

    from hephaestus_spark.sources.txlog import TxTable

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    workdir = tempfile.mkdtemp(prefix="txlog-q-")
    try:
        t = TxTable(f"{workdir}/customers")
        t.append(c.filter(F.col("c_custkey") % 3 != 0))
        staged = c.withColumn(
            "c_acctbal",
            F.when(
                F.col("c_custkey") % 5 == 0, F.col("c_acctbal") + F.lit(10.0)
            ).otherwise(F.col("c_acctbal")),
        )
        t.merge(spark, staged, "c_custkey", ["c_name", "c_acctbal"])
        v0 = t.read(spark, version=0).select(
            F.col("c_custkey").alias("k"),
            F.col("c_acctbal").alias("old_bal"),
        )
        final = t.read(spark).join(v0, F.col("c_custkey") == F.col("k"), "left")
        out = final.select(
            "c_custkey",
            "c_name",
            "c_acctbal",
            F.when(F.col("k").isNull(), F.lit("insert"))
            .when(~F.col("old_bal").eqNullSafe(F.col("c_acctbal")), F.lit("update"))
            .otherwise(F.lit("keep"))
            .alias("status"),
        )
        # materialize before the temp table vanishes (the driver only
        # collects the returned frame; a lazy plan over deleted files
        # would fail) — localCheckpoint keeps it executor-resident.
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


@query(
    "x_txlog_stream_exactly_once",
    oracle="SELECT event_id, user_id, event_type FROM events",
)
def x_txlog_stream_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The transactional table as a streaming sink with EXACTLY-ONCE
    semantics under redelivery (r7): the event feed arrives as ordered
    per-month micro-batches through a real Structured Streaming
    ``foreachBatch`` query, each batch committing via
    ``TxTable.append_stream_batch`` — the Delta ``txn`` idempotence
    pattern, recording (app_id, batch_id) in the log. Then the failure
    mode foreachBatch actually has (at-least-once after a restart) is
    SIMULATED FOR REAL: a second streaming query with a FRESH
    checkpoint re-delivers the first month's file under the same app
    id, and the txn check skips it. The oracle is just the raw events
    table — the hash match proves no batch landed twice and none were
    lost. Scale shape: commits move file names through the log;
    the data path is plain parquet appends."""
    import os
    import shutil
    import tempfile

    from hephaestus_spark.sources.txlog import TxTable

    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.date_format("ts", "yyyy-MM").alias("arrival"),
    )
    workdir = tempfile.mkdtemp(prefix="txlog-stream-")
    feed = os.path.join(workdir, "feed")
    redeliver = os.path.join(workdir, "redeliver")
    os.makedirs(feed)
    os.makedirs(redeliver)
    try:
        months = [r[0] for r in e.select("arrival").distinct().orderBy("arrival").collect()]
        for i, m in enumerate(months):
            sl = os.path.join(workdir, f"slice{i}")
            e.filter(F.col("arrival") == m).drop("arrival").coalesce(1).write.mode(
                "overwrite"
            ).parquet(sl)
            part = next(f for f in os.listdir(sl) if f.endswith(".parquet"))
            dst = os.path.join(feed, f"{i:05d}.parquet")
            shutil.move(os.path.join(sl, part), dst)
            os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
        shutil.copy(
            os.path.join(feed, "00000.parquet"),
            os.path.join(redeliver, "00000.parquet"),
        )
        t = TxTable(os.path.join(workdir, "table"))
        schema = e.drop("arrival").schema

        def body(batch_df: DataFrame, batch_id: int) -> None:
            t.append_stream_batch(batch_df, "ingest", batch_id)

        for src_dir, ck in ((feed, "ck1"), (redeliver, "ck2")):
            q = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src_dir)
                .writeStream.foreachBatch(body)
                .option("checkpointLocation", os.path.join(workdir, ck))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        # every month committed exactly once; the redelivery was skipped
        n_commits = len([h for h in t.history() if h["op"] == "streamAppend"])
        assert n_commits == len(months), (n_commits, len(months))
        return t.read(spark).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


@query(
    "x_txlog_pruned_scan",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    WHERE o_totalprice >= 100000.0 AND o_totalprice <= 200000.0
    """,
)
def x_txlog_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map file skipping proven by hash (r7): orders land in the
    transactional table range-clustered on o_totalprice
    (repartitionByRange + sortWithinPartitions — the layout an
    ingestion pipeline or OPTIMIZE ZORDER maintains), so each data
    file's committed [min, max] covers a narrow price band; the range
    read then resolves the predicate against the LOG's zone maps and
    scans only overlapping files. The oracle is the plain SQL filter
    over the raw table — the hash match proves skipping loses and
    invents nothing. Pruning effectiveness (files actually skipped) is
    pinned deterministically in tests/test_txlog.py; here the band
    covers a fraction of the price range, so most files never open."""
    import shutil
    import tempfile

    from hephaestus_spark.sources.txlog import TxTable

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    workdir = tempfile.mkdtemp(prefix="txlog-prune-")
    try:
        t = TxTable(f"{workdir}/orders")
        t.append(
            o.repartitionByRange(8, F.col("o_totalprice")).sortWithinPartitions(
                "o_totalprice"
            )
        )
        out = t.read_pruned(spark, "o_totalprice", 100000.0, 200000.0)
        return out.select(
            "o_orderkey", "o_custkey", "o_totalprice"
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


@query(
    "x_txlog_delete",
    oracle="""
    WITH b AS (
      SELECT min(c_custkey) + (max(c_custkey) - min(c_custkey)) // 3 AS k1,
             min(c_custkey) + 2 * ((max(c_custkey) - min(c_custkey)) // 3) AS k2
      FROM customer
    )
    SELECT c_custkey, c_name, c_acctbal,
           TRUE AS files_untouched, TRUE AS delete_versioned
    FROM customer, b
    WHERE c_custkey NOT BETWEEN b.k1 AND b.k2
    """,
)
def x_txlog_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write DELETE on the transactional table (r8,
    sources/txlog.py::delete — the Delta DELETE shape): customers land
    key-clustered across 8 files, then the middle third of the key
    range is deleted. Two pruning layers bound the rewrite: zone maps
    drop files whose [min, max] key zone cannot overlap the range, and
    a hit scan rewrites only files with >=1 matching row — at 100 TB a
    targeted delete (GDPR erasure, partition retirement) rewrites a
    few files, not the table.

    The oracle is the plain NOT BETWEEN filter — the hash pins that
    the post-delete snapshot lost exactly the predicate rows and kept
    everything else bit-identically — plus two in-query booleans:
    ``files_untouched`` (the rewrite genuinely skipped files) and
    ``delete_versioned`` (the PRE-delete snapshot is still readable at
    the old version with the full row count — time travel across a
    destructive op)."""
    import shutil
    import tempfile

    from hephaestus_spark.sources.txlog import TxTable

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    b = c.agg(F.min("c_custkey"), F.max("c_custkey")).first()
    mn, mx = int(b[0]), int(b[1])
    k1 = mn + (mx - mn) // 3
    k2 = mn + 2 * ((mx - mn) // 3)
    workdir = tempfile.mkdtemp(prefix="txlog-del-")
    try:
        t = TxTable(f"{workdir}/customers")
        t.append(
            c.repartitionByRange(8, F.col("c_custkey")).sortWithinPartitions(
                "c_custkey"
            )
        )
        pre_version = t.latest_version()
        _v, rewritten, untouched = t.delete(
            spark,
            f"c_custkey BETWEEN {k1} AND {k2}",
            prune_column="c_custkey",
            lo=k1,
            hi=k2,
        )
        versioned = (
            t.read(spark, pre_version)
            .agg((F.count("*") == F.lit(c.count())).alias("delete_versioned"))
        )
        out = (
            t.read(spark)
            .crossJoin(F.broadcast(versioned))
            .select(
                "c_custkey",
                "c_name",
                "c_acctbal",
                F.lit(rewritten > 0 and untouched > 0).alias("files_untouched"),
                "delete_versioned",
            )
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


@query(
    "x_txlog_change_feed",
    oracle="""
    SELECT event_id, user_id, event_type,
           CAST(CASE event_id % 3 WHEN 1 THEN 1 ELSE 3 END AS INT)
             AS _commit_version
    FROM events WHERE event_id % 3 <> 0
    """,
)
def x_txlog_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental change feed over the transactional log (r8,
    sources/txlog.py::read_changes — the Delta CDF idea for the
    append-only case): events land as three commits (event_id % 3 =
    0, 1, 2 -> versions 0, 1, 3) with an OPTIMIZE compaction wedged in
    between (version 2). A consumer that already processed version 0
    pulls ``read_changes(since_version=0)`` and must receive EXACTLY
    the batch-1 and batch-2 rows stamped with their commit versions —
    and NOTHING from the optimize, whose added files merely re-house
    rows the consumer already saw (the classic double-delivery trap in
    naive file-watching CDC). The oracle reconstructs the expected
    feed straight from the raw table; the hash pins both the rows and
    the version stamps. Cost shape: the feed reads only the log
    entries in the requested range — the incremental-consumer pattern
    a downstream index (TxAnnIndex ingest) or aggregate runs on."""
    import shutil
    import tempfile

    from hephaestus_spark.sources.txlog import TxTable

    e = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    workdir = tempfile.mkdtemp(prefix="txlog-cdf-")
    try:
        t = TxTable(f"{workdir}/events")
        for i in range(2):
            t.append(e.filter(F.col("event_id") % 3 == i))
        t.optimize(spark, target_files=2)
        t.append(e.filter(F.col("event_id") % 3 == 2))
        out = t.read_changes(spark, since_version=0).select(
            "event_id",
            "user_id",
            "event_type",
            F.col("_commit_version").cast("int").alias("_commit_version"),
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


@query(
    "x_txlog_cdf_dv",
    oracle="""
    WITH ins AS (
      SELECT c_custkey, c_name, c_acctbal,
             'insert' AS _change_type,
             CASE WHEN c_custkey % 2 = 0 THEN 0 ELSE 1 END AS _commit_version
      FROM customer
    ), del AS (
      SELECT c_custkey, c_name, c_acctbal,
             'delete' AS _change_type, 2 AS _commit_version
      FROM customer WHERE c_custkey % 7 = 0
    )
    SELECT * FROM ins UNION ALL SELECT * FROM del
    """,
)
def x_txlog_cdf_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DV-aware change feed (r10, sources/txlog.py::read_changes —
    Delta CDF over deletion vectors): customers land as two append
    commits (even keys -> v0, odd -> v1), then a merge-on-read DELETE
    tombstones every 7th key (v2) WITHOUT rewriting any data file. An
    incremental consumer pulling ``read_changes(since_version=-1)``
    must receive every appended row as ``_change_type='insert'``
    stamped with its commit version AND every tombstoned row as
    ``_change_type='delete'`` — reconstructed by semi-joining the
    covered files against the commit's (file, pos) tombstone parquet.
    The oracle replays the same lifecycle in SQL; the hash pins rows,
    change types, and version stamps together. At 100 TB the feed
    reads only the requested log range plus the tombstoned files —
    never the table."""
    import shutil
    import tempfile

    from hephaestus_spark.sources.txlog import TxTable

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    workdir = tempfile.mkdtemp(prefix="txlog-cdf-dv-")
    try:
        t = TxTable(f"{workdir}/customers")
        t.append(c.filter(F.col("c_custkey") % 2 == 0))
        t.append(c.filter(F.col("c_custkey") % 2 == 1))
        t.delete_mor(spark, "c_custkey % 7 = 0")
        out = t.read_changes(spark, since_version=-1).select(
            "c_custkey",
            "c_name",
            "c_acctbal",
            "_change_type",
            F.col("_commit_version").cast("int").alias("_commit_version"),
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


@query(
    "x_txlog_restore",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal,
           TRUE AS restore_versioned, TRUE AS vacuum_safe
    FROM customer WHERE c_custkey % 11 <> 0
    """,
)
def x_txlog_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE lifecycle (r10, sources/txlog.py::restore — Delta
    RESTORE semantics): customers land key-clustered (v0), a
    copy-on-write DELETE rewrites the middle key-third away (v1), then
    ``restore(0)`` rolls the table back AS A NEW COMMIT (v2) and a
    merge-on-read delete of every 11th key (v3) proves the restored
    table keeps working. The oracle is the final filter; two in-query
    booleans pin the lifecycle guarantees: ``restore_versioned`` (the
    pre-restore v1 snapshot still serves exactly the post-delete rows
    — rollback rewrote nothing) and ``vacuum_safe`` (a zero-grace
    vacuum reclaims nothing — every restored file is referenced by
    the restore commit's adds)."""
    import shutil
    import tempfile

    from hephaestus_spark.sources.txlog import TxTable

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    b = c.agg(F.min("c_custkey"), F.max("c_custkey")).first()
    mn, mx = int(b[0]), int(b[1])
    k1 = mn + (mx - mn) // 3
    k2 = mn + 2 * ((mx - mn) // 3)
    workdir = tempfile.mkdtemp(prefix="txlog-restore-")
    try:
        t = TxTable(f"{workdir}/customers")
        t.append(
            c.repartitionByRange(8, F.col("c_custkey")).sortWithinPartitions(
                "c_custkey"
            )
        )
        t.delete(
            spark,
            f"c_custkey BETWEEN {k1} AND {k2}",
            prune_column="c_custkey",
            lo=k1,
            hi=k2,
        )
        t.restore(spark, 0)
        t.delete_mor(spark, "c_custkey % 11 = 0")
        v1 = t.read(spark, 1)
        expected = c.filter(
            f"NOT (c_custkey BETWEEN {k1} AND {k2})"
        ).count()
        restore_versioned = (
            v1.count() == expected
            and v1.filter(f"c_custkey BETWEEN {k1} AND {k2}").count() == 0
        )
        vacuum_safe = len(t.vacuum(grace_seconds=0.0)) == 0
        out = t.read(spark).select(
            "c_custkey",
            "c_name",
            "c_acctbal",
            F.lit(restore_versioned).alias("restore_versioned"),
            F.lit(vacuum_safe).alias("vacuum_safe"),
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


@query(
    "x_txlog_cdf_merge",
    oracle="""
    WITH upd_pre AS (
      SELECT c_custkey, c_name, c_acctbal,
             'update_preimage' AS _change_type, 1 AS _commit_version
      FROM customer WHERE c_custkey % 5 = 0
    ), upd_post AS (
      SELECT c_custkey, c_name, c_acctbal + 100 AS c_acctbal,
             'update_postimage' AS _change_type, 1 AS _commit_version
      FROM customer WHERE c_custkey % 5 = 0
    ), ins AS (
      SELECT -c_custkey AS c_custkey, c_name, c_acctbal,
             'insert' AS _change_type, 1 AS _commit_version
      FROM customer WHERE c_custkey % 13 = 1
    ), del AS (
      SELECT c_custkey, c_name,
             c_acctbal
               + CASE WHEN c_custkey % 5 = 0 THEN 100 ELSE 0 END
               AS c_acctbal,
             'delete' AS _change_type, 2 AS _commit_version
      FROM customer WHERE c_custkey % 9 = 0
      UNION ALL
      SELECT -c_custkey, c_name, c_acctbal, 'delete', 2
      FROM customer WHERE c_custkey % 13 = 1 AND c_custkey % 9 = 0
    )
    SELECT * FROM upd_pre UNION ALL SELECT * FROM upd_post
    UNION ALL SELECT * FROM ins UNION ALL SELECT * FROM del
    """,
)
def x_txlog_cdf_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change feed over row-REWRITING commits (r11, VERDICT r10 #2 —
    sources/txlog.py::read_changes, the Delta CDF shapes): customers
    land as one commit (v0); a copy-on-write MERGE (v1) updates every
    5th key's balance (+100) and inserts fresh negated keys for every
    13th; a copy-on-write DELETE (v2) removes every 9th key. A
    consumer pulling ``read_changes(since_version=0)`` must receive
    the merge as ``update_preimage``/``update_postimage`` pairs plus
    ``insert`` rows for the new keys — and NOTHING for the thousands
    of unchanged rows the rewrite merely re-housed into new files —
    and the delete as exactly the rows matching its recorded
    predicate as of v1 (updated balances included). The oracle
    replays the lifecycle in SQL; the hash pins rows, change types,
    and version stamps together. Cost shape: both reconstructions
    touch only the commit's own (zone-pruned) files, never the
    table."""
    import shutil
    import tempfile

    from hephaestus_spark.sources.txlog import TxTable

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    workdir = tempfile.mkdtemp(prefix="txlog-cdf-merge-")
    try:
        t = TxTable(f"{workdir}/customers")
        t.append(c.repartitionByRange(4, F.col("c_custkey")))
        staged = c.filter(F.col("c_custkey") % 5 == 0).withColumn(
            "c_acctbal", F.col("c_acctbal") + 100
        ).unionByName(
            c.filter(F.col("c_custkey") % 13 == 1).withColumn(
                "c_custkey", -F.col("c_custkey")
            )
        )
        t.merge(spark, staged, "c_custkey", ["c_name", "c_acctbal"])
        t.delete(spark, "c_custkey % 9 = 0")
        out = t.read_changes(spark, since_version=0).select(
            "c_custkey",
            "c_name",
            "c_acctbal",
            "_change_type",
            F.col("_commit_version").cast("int").alias("_commit_version"),
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


@query(
    "x_txlog_merge_evolve",
    oracle="""
    SELECT c_custkey, c_name,
           c_acctbal + CASE WHEN c_custkey % 7 = 0 THEN 50 ELSE 0 END
             AS c_acctbal,
           CASE WHEN c_custkey % 7 = 0 THEN 'gold' END AS tier,
           TRUE AS widened_in_log
    FROM customer
    UNION ALL
    SELECT -c_custkey, c_name, c_acctbal, 'new', TRUE
    FROM customer WHERE c_custkey % 11 = 2
    """,
)
def x_txlog_merge_evolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE schema evolution (r12, VERDICT r11 #3 — Delta's
    ``withSchemaEvolution``, sources/txlog.py::merge): customers land
    as v0; a merge whose source carries a column the table has never
    seen (``tier``) widens the table IN THE SAME COMMIT — every 7th
    key updates (acctbal+50, tier 'gold'), negated 11th keys insert
    (tier 'new'), and the thousands of untouched rows read the new
    column as NULL without any of their files being rewritten for the
    widening. ``widened_in_log`` pins that the schema change is a LOG
    fact: the post-merge version serves ``tier`` under an explicit
    schema read while the pre-merge version does not. Cost shape: the
    widening itself is one meta action; only merge-hit files
    rewrite."""
    import shutil
    import tempfile

    from hephaestus_spark.sources.txlog import TxTable

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    workdir = tempfile.mkdtemp(prefix="txlog-merge-evolve-")
    try:
        t = TxTable(f"{workdir}/customers")
        t.append(c.repartitionByRange(4, F.col("c_custkey")))
        staged = (
            c.filter(F.col("c_custkey") % 7 == 0)
            .withColumn("c_acctbal", F.col("c_acctbal") + 50)
            .withColumn("tier", F.lit("gold"))
            .unionByName(
                c.filter(F.col("c_custkey") % 11 == 2)
                .withColumn("c_custkey", -F.col("c_custkey"))
                .withColumn("tier", F.lit("new"))
            )
        )
        v = t.merge(
            spark,
            staged,
            "c_custkey",
            ["c_name", "c_acctbal", "tier"],
            schema_evolution=True,
        )
        widened = (
            "tier" in t.read(spark, version=v).columns
            and "tier" not in t.read(spark, version=v - 1).columns
        )
        out = t.read(spark).select(
            "c_custkey",
            "c_name",
            "c_acctbal",
            "tier",
            F.lit(widened).alias("widened_in_log"),
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


@query(
    "x_txlog_merge_into",
    oracle="""
    SELECT c_custkey,
           CASE WHEN c_custkey % 6 NOT IN (0, 3) AND c_acctbal < 0
                THEN c_name || '*' ELSE c_name END AS c_name,
           c_acctbal + CASE WHEN c_custkey % 6 = 0 THEN 25 ELSE 0 END
             AS c_acctbal
    FROM customer
    WHERE c_custkey % 6 <> 3
    UNION ALL
    SELECT -c_custkey, c_name, c_acctbal
    FROM customer WHERE c_custkey % 15 = 1
    """,
)
def x_txlog_merge_into(spark: SparkSession, sf_dir: str) -> DataFrame:
    """General MERGE INTO, every clause at once (r12 —
    sources/txlog.py::merge_into, Delta's multi-clause surface):
    customers are the target; one source frame carries 'u' rows
    (every 6th key → conditional matched UPDATE, acctbal+25 bound to
    the OLD row), 'd' rows (keys ≡3 mod 6 → conditional matched
    DELETE), and 'i' rows (negated 15th keys → conditional NOT
    MATCHED INSERT), while a NOT MATCHED BY SOURCE UPDATE stars the
    name of every source-untouched customer with a negative balance.
    The oracle restates all four clauses as plain SQL, so the hash
    pins clause precedence, condition evaluation, insert NULL-free
    projection, and that untouched rows pass through byte-exact. Cost
    shape: only files holding matched or by-source-affected rows
    rewrite; inserts stage as new files; the source is pinned once
    (localCheckpoint) so classification, metrics, and rewrite agree."""
    import shutil
    import tempfile

    from hephaestus_spark.sources.txlog import TxTable

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    workdir = tempfile.mkdtemp(prefix="txlog-mergeinto-")
    try:
        t = TxTable(f"{workdir}/customers")
        t.append(c.repartitionByRange(4, F.col("c_custkey")))
        src = (
            c.filter(F.col("c_custkey") % 6 == 0)
            .select(
                F.col("c_custkey").alias("k"),
                F.lit(None).cast("string").alias("nm"),
                F.lit(None).cast("double").alias("bal"),
                F.lit("u").alias("op"),
            )
            .unionByName(
                c.filter(F.col("c_custkey") % 6 == 3).select(
                    F.col("c_custkey").alias("k"),
                    F.lit(None).cast("string").alias("nm"),
                    F.lit(None).cast("double").alias("bal"),
                    F.lit("d").alias("op"),
                )
            )
            .unionByName(
                c.filter(F.col("c_custkey") % 15 == 1).select(
                    (-F.col("c_custkey")).alias("k"),
                    F.col("c_name").alias("nm"),
                    F.col("c_acctbal").alias("bal"),
                    F.lit("i").alias("op"),
                )
            )
        )
        t.merge_into(
            spark,
            src,
            "t.c_custkey = s.k",
            matched_update={"c_acctbal": "t.c_acctbal + 25"},
            matched_update_condition="s.op = 'u'",
            matched_delete=True,
            matched_delete_condition="s.op = 'd'",
            not_matched_insert={
                "c_custkey": "s.k",
                "c_name": "s.nm",
                "c_acctbal": "s.bal",
            },
            not_matched_insert_condition="s.op = 'i'",
            not_matched_by_source_update={
                "c_name": "concat(t.c_name, '*')"
            },
            not_matched_by_source_update_condition="t.c_acctbal < 0",
        )
        return t.read(spark).select(
            "c_custkey", "c_name", "c_acctbal"
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


@query(
    "x_txlog_reorg_purge",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal,
           TRUE AS partial_rewrite, TRUE AS vectors_reduced
    FROM customer
    WHERE NOT (c_custkey % 8 = 0 OR c_custkey % 50 = 3)
    """,
)
def x_txlog_reorg_purge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REORG … APPLY (PURGE) (r12, VERDICT r11 #6 —
    sources/txlog.py::optimize(purge_dvs)): customers land hive-
    partitioned by ``bucket = c_custkey % 4`` (one file per bucket —
    MODULAR placement, so every file's tombstone fraction is exact by
    arithmetic, immune to the sample-based boundaries that made the
    first draft flake at sf0.1). One merge-on-read DELETE tombstones
    ``%8 = 0`` — exactly HALF of bucket 0, nothing elsewhere (those
    keys are all ≡0 mod 4) — and another sprinkles ``%50 = 3`` (~2%,
    odd keys only, so never bucket 0). ``optimize(purge_dvs=0.3)``
    rewrites ONLY bucket 0's file: ``partial_rewrite`` pins that the
    other three files survived byte-identical while one was rewritten,
    ``vectors_reduced`` that the heavy vector was shed while the
    sprinkle's stays live. The oracle replays both deletes as a plain
    filter: the hash proves the targeted rewrite is row-for-row
    invisible. Cost shape: tombstone fractions come from KB-sized DV
    parquets + committed row counts; unselected files are neither
    read nor written."""
    import shutil
    import tempfile

    from hephaestus_spark.sources.txlog import TxTable

    c = (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal")
        .withColumn("bucket", F.pmod(F.col("c_custkey"), F.lit(4)))
    )
    workdir = tempfile.mkdtemp(prefix="txlog-reorg-")
    try:
        t = TxTable(f"{workdir}/customers")
        t.append(c.repartition(4, "bucket"), partition_by=["bucket"])
        t.delete_mor(spark, "c_custkey % 8 = 0")   # half of bucket 0
        t.delete_mor(spark, "c_custkey % 50 = 3")  # ~2% sprinkle
        before_files = set(t._snapshot_files())
        before_dv = t.detail()["num_deletion_vectors"]
        t.optimize(spark, purge_dvs=0.3)
        after_files = set(t._snapshot_files())
        after_dv = t.detail()["num_deletion_vectors"]
        partial = (
            len(before_files & after_files) >= 1
            and len(after_files - before_files) >= 1
        )
        reduced = before_dv > after_dv >= 1
        out = t.read(spark).select(
            "c_custkey",
            "c_name",
            "c_acctbal",
            F.lit(partial).alias("partial_rewrite"),
            F.lit(reduced).alias("vectors_reduced"),
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


@query(
    "x_txlog_constraints",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal,
           TRUE AS add_time_validated,
           TRUE AS append_blocked,
           TRUE AS merge_blocked,
           TRUE AS drop_reopens
    FROM (
      SELECT c_custkey, c_name, c_acctbal FROM customer
      UNION ALL
      SELECT -c_custkey, c_name, c_acctbal
      FROM customer WHERE c_custkey % 13 = 1
      UNION ALL
      SELECT -(c_custkey + 1000000), c_name, c_acctbal - 20000
      FROM customer WHERE c_custkey % 17 = 3
    )
    """,
)
def x_txlog_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table CHECK constraints end-to-end (r11, sources/txlog.py
    ``add_check_constraint`` — Delta's ALTER TABLE ADD CONSTRAINT):
    customers land, ``bal_floor CHECK (c_acctbal >= -1000.0)`` is
    added (one snapshot scan validates the existing rows — and a
    constraint the data DOES violate, ``c_acctbal > 0``, is proven to
    refuse at ADD time, TPC-H acctbal goes negative); a violating
    append and a violating merge are both refused BEFORE committing —
    the version stays put and the snapshot is untouched — while a
    conforming append (negated every-13th key) lands through the same
    gate; dropping the constraint retires the writer feature and the
    previously-blocked rows (keyed at -(k+1e6)) append cleanly. The
    oracle states the final table plus literal booleans for each
    lifecycle fact, so the hash pins both what the constraint let
    through and what it kept out. Cost shape: add-time = one table
    scan (the Delta contract); every later commit validates only its
    NEW files in one aggregated pass — O(delta) at any table size."""
    import shutil
    import tempfile

    from hephaestus_spark.sources.txlog import ConstraintViolation, TxTable

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    workdir = tempfile.mkdtemp(prefix="txlog-cons-")
    try:
        t = TxTable(f"{workdir}/customers")
        t.append(c.repartitionByRange(4, F.col("c_custkey")))
        add_time_validated = False
        try:  # TPC-H acctbal has negatives — this ADD must refuse
            t.add_check_constraint(spark, "bal_pos", "c_acctbal > 0")
        except ConstraintViolation:
            add_time_validated = t.constraints() == {}
        t.add_check_constraint(spark, "bal_floor", "c_acctbal >= -1000.0")
        v_before = t.latest_version()
        bad_append = c.filter(F.col("c_custkey") % 17 == 3).select(
            (-(F.col("c_custkey") + 1000000)).alias("c_custkey"),
            "c_name",
            (F.col("c_acctbal") - 20000).alias("c_acctbal"),
        )
        append_blocked = False
        try:
            t.append(bad_append)
        except ConstraintViolation:
            append_blocked = t.latest_version() == v_before
        merge_blocked = False
        try:
            t.merge(
                spark,
                c.filter(F.col("c_custkey") % 7 == 0).withColumn(
                    "c_acctbal", F.col("c_acctbal") - 20000
                ),
                "c_custkey",
                ["c_name", "c_acctbal"],
            )
        except ConstraintViolation:
            merge_blocked = t.latest_version() == v_before
        t.append(  # conforming rows pass the same gate
            c.filter(F.col("c_custkey") % 13 == 1).withColumn(
                "c_custkey", -F.col("c_custkey")
            )
        )
        t.drop_constraint("bal_floor")
        meta = t._fold_state()[3] or {}
        drop_reopens = "check_constraints" not in (
            meta.get("writer_features") or []
        )
        t.append(bad_append)  # now allowed
        out = t.read(spark).select(
            "c_custkey",
            "c_name",
            "c_acctbal",
            F.lit(add_time_validated).alias("add_time_validated"),
            F.lit(append_blocked).alias("append_blocked"),
            F.lit(merge_blocked).alias("merge_blocked"),
            F.lit(drop_reopens).alias("drop_reopens"),
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


@query(
    "x_txlog_partitioned",
    oracle="""
    WITH e AS (
      SELECT event_id, user_id, event_type,
             strftime(ts, '%Y-%m-%d') AS day, value
      FROM events
    )
    SELECT event_id, user_id, event_type, day,
           CASE WHEN day = (SELECT min(day) FROM e)
                THEN value * 2 ELSE value END AS value,
           TRUE AS partition_pruned, TRUE AS backfill_versioned
    FROM e
    WHERE day = (SELECT min(day) FROM e)
       OR day = (SELECT max(day) FROM e)
    """,
)
def x_txlog_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned transactional table end-to-end (r9/r10,
    sources/txlog.py partitioning): events land partitioned by UTC day
    (the reference's per-day feed granularity,
    internal/services/tasks/tasks.go:129-176), the FIRST day is
    re-published through ``overwrite_partitions`` with doubled values
    — the idempotent-backfill shape: exactly that partition's files
    are replaced, every other day untouched — and the final read pulls
    only the first and last days through metadata partition pruning
    (partitionValues recorded per file make partition predicates
    zone-map pruning with zero I/O). The oracle replays the lifecycle
    in SQL; the hash pins the backfilled values, the untouched
    partitions, and the string day typing byte-exact through the hive
    path round-trip. Booleans pin that pruning genuinely skipped
    files and the pre-backfill day still time-travels. At 100 TB:
    day-partition counts are calendar-bounded, so SHOW PARTITIONS /
    pruning stay metadata-only at any data scale."""
    import shutil
    import tempfile

    from hephaestus_spark.sources.txlog import TxTable

    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        "value",
    )
    b = e.agg(F.min("day"), F.max("day")).first()
    d0, dmax = b[0], b[1]
    workdir = tempfile.mkdtemp(prefix="txlog-part-")
    try:
        t = TxTable(f"{workdir}/events_by_day")
        t.append(e, partition_by=["day"])
        backfill = e.filter(F.col("day") == d0).withColumn(
            "value", F.col("value") * 2
        )
        t.overwrite_partitions(spark, backfill)
        keep, total = t.pruned_files("day", values=[d0, dmax])
        pruned = 0 < len(keep) < total
        versioned = (
            t.read(spark, 0).filter(F.col("day") == d0).count()
            == backfill.count()
        )
        out = t.read_pruned(spark, "day", values=[d0, dmax]).select(
            "event_id",
            "user_id",
            "event_type",
            "day",
            "value",
            F.lit(pruned).alias("partition_pruned"),
            F.lit(versioned).alias("backfill_versioned"),
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


@query(
    "x_txlog_datasource_partitioned",
    oracle="""
    WITH e AS (
      SELECT event_id, user_id, event_type,
             strftime(ts, '%Y-%m-%d') AS day, value
      FROM events
    )
    SELECT event_id, user_id, event_type, day, value,
           TRUE AS partition_pruned
    FROM e
    WHERE day = (SELECT min(day) FROM e)
    """,
)
def x_txlog_datasource_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The native connector over a hive-partitioned table (r10,
    sources/txlog_datasource.py): events land day-partitioned through
    TxTable, then ``spark.read.format("txlog")`` serves them — schema
    from the LOG (day present and typed with zero footer I/O), each
    split materializing its partition value as a typed constant — and
    the day filter prunes to exactly that partition's files through
    ``pushFilters``'s singleton zones before any I/O. The oracle is
    the plain SQL filter, so the hash pins the typed path round-trip;
    the boolean pins that pruning genuinely skipped files."""
    import shutil
    import tempfile

    from hephaestus_spark.sources.txlog import TxTable
    from hephaestus_spark.sources.txlog_datasource import TxLogDataSource

    spark.dataSource.register(TxLogDataSource)
    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        "value",
    )
    d0 = e.agg(F.min("day")).first()[0]
    workdir = tempfile.mkdtemp(prefix="txlog-ds-part-")
    try:
        t = TxTable(f"{workdir}/events_by_day")
        t.append(e, partition_by=["day"])
        keep, total = t.pruned_files("day", values=[d0])
        pruned = 0 < len(keep) < total
        got = (
            spark.read.format("txlog")
            .load(t.path)
            .filter(F.col("day") == d0)
            .select(
                "event_id",
                "user_id",
                "event_type",
                "day",
                "value",
                F.lit(pruned).alias("partition_pruned"),
            )
        )
        return got.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


@query(
    "x_txlog_datasource_roundtrip",
    oracle="""
    WITH b AS (
      SELECT min(event_id) + (max(event_id) - min(event_id)) // 4 AS k1,
             min(event_id) + (max(event_id) - min(event_id)) // 2 AS k2
      FROM events
    )
    SELECT event_id, user_id, event_type,
           TRUE AS scan_was_pruned
    FROM events, b
    WHERE event_id BETWEEN b.k1 AND b.k2
    """,
)
def x_txlog_datasource_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The txlog as a NATIVE Spark format end-to-end (r8,
    sources/txlog_datasource.py — PySpark 4 Python Data Source API):
    events land in a key-clustered txlog table; a real Structured
    Streaming query reads it back through
    ``spark.readStream.format("txlog")`` (offsets = log versions) and
    sinks into a SECOND txlog table through
    ``writeStream.format("txlog")`` (exactly-once via the (app, batch)
    txn map); finally ``spark.read.format("txlog")`` scans the sink
    with a range predicate that Catalyst pushes into the connector,
    where the committed zone maps skip whole files before any I/O.

    The oracle is the plain SQL filter on the raw events table — the
    hash proves the stream moved every row exactly once AND the pruned
    connector scan lost and invented nothing — plus
    ``scan_was_pruned``, pinned from the same zone-map decision the
    reader makes (files skipped > 0 over >= 5 live files; the sink
    inherits the source's clustering because the stream moves files
    partition-per-file).

    Scale shape: the stream ships Arrow batches executor-side in both
    directions; the batch scan opens ~band/keyspace of the files; the
    driver holds only the file-name listing (log-sized metadata)."""
    import shutil
    import tempfile

    from hephaestus_spark.sources.txlog import TxTable
    from hephaestus_spark.sources.txlog_datasource import TxLogDataSource

    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(TxLogDataSource)
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    b = e.agg(F.min("event_id"), F.max("event_id")).first()
    mn, mx = int(b[0]), int(b[1])
    k1 = mn + (mx - mn) // 4
    k2 = mn + (mx - mn) // 2
    workdir = tempfile.mkdtemp(prefix="txlog-dsrc-")
    try:
        src = TxTable(f"{workdir}/src")
        src.append(
            e.repartitionByRange(8, F.col("event_id")).sortWithinPartitions(
                "event_id"
            )
        )
        sink_path = f"{workdir}/sink"
        q = (
            spark.readStream.format("txlog")
            .load(src.path)
            .drop("_commit_version")
            .writeStream.format("txlog")
            .option("checkpointLocation", f"{workdir}/ckpt")
            .option("appId", "x-dsrc-roundtrip")
            .trigger(availableNow=True)
            .start(sink_path)
        )
        q.awaitTermination(300)
        sink = TxTable(sink_path)
        kept, total = sink.pruned_files("event_id", k1, k2)
        out = (
            spark.read.format("txlog")
            .load(sink_path)
            .filter(F.col("event_id").between(k1, k2))
            .select(
                "event_id",
                "user_id",
                "event_type",
                F.lit(total >= 5 and 0 < len(kept) < total).alias(
                    "scan_was_pruned"
                ),
            )
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


@query(
    "x_txlog_delete_vectors",
    oracle="""
    WITH b AS (
      SELECT min(c_custkey) + (max(c_custkey) - min(c_custkey)) // 3 AS k1,
             min(c_custkey) + 2 * ((max(c_custkey) - min(c_custkey)) // 3) AS k2
      FROM customer
    )
    SELECT c_custkey, c_name, c_acctbal,
           TRUE AS zero_write_amplification, TRUE AS delete_versioned
    FROM customer, b
    WHERE c_custkey NOT BETWEEN b.k1 AND b.k2
    """,
)
def x_txlog_delete_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DELETE via deletion vectors (r8,
    sources/txlog.py::delete_mor — the modern Delta/Iceberg v3 shape,
    and the at-scale answer the module docstring promised): instead of
    rewriting files, the delete commits a small parquet of
    (file, row position) tombstones; every read path applies them as
    one anti-join until OPTIMIZE materializes the deletes. A targeted
    erasure on a 100 TB table writes kilobytes.

    Same oracle as the copy-on-write x_txlog_delete — the hash proves
    the TWO delete strategies are observationally identical — plus two
    pinned booleans: ``zero_write_amplification`` (the live DATA file
    set after the delete is bit-identical to before: nothing was
    rewritten, the zone-pruned hit scan only wrote tombstones) and
    ``delete_versioned`` (the pre-delete snapshot still reads in full
    at the old version — time travel ignores later tombstones)."""
    import shutil
    import tempfile

    from hephaestus_spark.sources.txlog import TxTable

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    b = c.agg(F.min("c_custkey"), F.max("c_custkey")).first()
    mn, mx = int(b[0]), int(b[1])
    k1 = mn + (mx - mn) // 3
    k2 = mn + 2 * ((mx - mn) // 3)
    workdir = tempfile.mkdtemp(prefix="txlog-dv-")
    try:
        t = TxTable(f"{workdir}/customers")
        t.append(
            c.repartitionByRange(8, F.col("c_custkey")).sortWithinPartitions(
                "c_custkey"
            )
        )
        pre_version = t.latest_version()
        files_before = sorted(n for n, _v in t.live_files())
        _v, covered, n_rows = t.delete_mor(
            spark,
            f"c_custkey BETWEEN {k1} AND {k2}",
            prune_column="c_custkey",
            lo=k1,
            hi=k2,
        )
        files_after = sorted(n for n, _v in t.live_files())
        versioned = (
            t.read(spark, pre_version)
            .agg((F.count("*") == F.lit(c.count())).alias("delete_versioned"))
        )
        out = (
            t.read(spark)
            .crossJoin(F.broadcast(versioned))
            .select(
                "c_custkey",
                "c_name",
                "c_acctbal",
                F.lit(
                    files_after == files_before and covered > 0 and n_rows > 0
                ).alias("zero_write_amplification"),
                "delete_versioned",
            )
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


@query(
    "x_txlog_metadata_stats",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           min(o_totalprice) AS min_price,
           max(o_totalprice) AS max_price,
           TRUE AS answered_from_metadata
    FROM orders
    """,
)
def x_txlog_metadata_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only aggregates (r8, TxTable.stats_summary — Delta's
    metadata-query shape): COUNT(*)/MIN/MAX answered entirely from the
    transaction log — per-file footer row counts recorded in each add
    action, bounds folded from the committed zone maps — with ZERO
    data files scanned. On a 100 TB table this is the difference
    between an instant answer and a full scan. The oracle computes the
    same three values BY scanning, so the hash proves the log's
    bookkeeping agrees with the data exactly; the pinned boolean
    carries stats_summary's own exactness verdict (row counts present,
    bounds exact, no live deletion vectors)."""
    import shutil
    import tempfile

    from hephaestus_spark.sources.txlog import TxTable

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    workdir = tempfile.mkdtemp(prefix="txlog-meta-")
    try:
        t = TxTable(f"{workdir}/orders")
        t.append(o.repartitionByRange(8, F.col("o_orderkey")))
        s = t.stats_summary("o_totalprice")
        ok = bool(s["count_exact"] and s["bounds_exact"])
        return spark.createDataFrame(
            [(int(s["count"]), float(s["min"]), float(s["max"]), ok)],
            "n_rows bigint, min_price double, max_price double,"
            " answered_from_metadata boolean",
        )
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


@query(
    "x_txlog_lifecycle",
    oracle="""
    WITH b AS (
      SELECT min(c_custkey) + (max(c_custkey) - min(c_custkey)) // 3 AS k1,
             min(c_custkey) + 2 * ((max(c_custkey) - min(c_custkey)) // 3) AS k2
      FROM customer
    )
    SELECT c_custkey, c_name, c_acctbal,
           TRUE AS log_trimmed, TRUE AS vectors_cleared,
           TRUE AS storage_reclaimed
    FROM customer, b
    WHERE c_custkey NOT BETWEEN b.k1 AND b.k2
    """,
)
def x_txlog_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The table's WHOLE life under one hash (r8): ten fragmented
    ingest commits (crossing the checkpoint interval), a compaction, a
    merge-on-read delete of the middle key third, then one
    ``maintain`` housekeeping tick — compact (materializing the
    tombstones), expire the pre-horizon log, vacuum the files only
    expired versions referenced. The oracle states the surviving rows
    straight from the raw table, so a bug ANYWHERE in the lifecycle —
    checkpoint fold, tombstone application, horizon arithmetic, or a
    vacuum that eats a live file — breaks the hash. Three pinned
    booleans carry the lifecycle evidence: the log genuinely shrank to
    the horizon, no deletion vector survived the compaction, and
    vacuum reclaimed real files."""
    import shutil
    import tempfile

    from hephaestus_spark.sources.txlog import TxTable

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    b = c.agg(F.min("c_custkey"), F.max("c_custkey")).first()
    mn, mx = int(b[0]), int(b[1])
    k1 = mn + (mx - mn) // 3
    k2 = mn + 2 * ((mx - mn) // 3)
    workdir = tempfile.mkdtemp(prefix="txlog-life-")
    try:
        t = TxTable(f"{workdir}/customers")
        for i in range(9):  # v0..v8: the fragmented ingest
            t.append(c.filter(F.col("c_custkey") % 9 == i).coalesce(1))
        # v9: compaction REMOVES the nine ingest files — below the
        # coming horizon, so the expiry unreferences them for vacuum
        t.optimize(spark, target_files=4, cluster_by="c_custkey")
        t.delete_mor(
            spark,
            f"c_custkey BETWEEN {k1} AND {k2}",
            prune_column="c_custkey",
            lo=k1,
            hi=k2,
        )  # v10 -> the checkpoint lands here
        report = t.maintain(
            spark,
            max_files=2,  # force the compaction branch (4 files + DV)
            target_files=4,
            cluster_by="c_custkey",
            retain_versions=0,
            vacuum_grace=0.0,
        )
        horizon = t.history()[0]["version"]
        out = t.read(spark).select(
            "c_custkey",
            "c_name",
            "c_acctbal",
            F.lit(bool(report["expired"]) and horizon == 10).alias("log_trimmed"),
            F.lit(t.dv_map() == {}).alias("vectors_cleared"),
            F.lit(len(report["vacuumed"]) > 0).alias("storage_reclaimed"),
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


@query(
    "x_txlog_rename",
    oracle="""
    SELECT c_custkey, c_acctbal AS balance,
           TRUE AS rename_was_metadata_only,
           TRUE AS time_travel_names_ok,
           TRUE AS resurrection_refused
    FROM customer
    """,
)
def x_txlog_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column rename/drop under one hash (r9, VERDICT r8 #5 —
    sources/txlog.py column mapping): half the customers land, the
    account column is RENAMED c_acctbal -> balance (a metadata-only
    commit — not one data file changes), the other half appends under
    the NEW logical name (same physical column, so old and new files
    read as one), then c_name is DROPPED. The oracle states the final
    logical content straight from the raw table — every customer's
    balance — so a mapping bug anywhere (projection, append
    translation, time-travel resolution) breaks the hash. Pinned
    booleans: the rename touched zero data files, the pre-rename
    snapshot still reads under its OLD names with the original
    values, and re-adding a retired column name is refused (dropped
    bytes can never resurrect under a fresh logical column)."""
    import os as _os
    import shutil
    import tempfile

    from hephaestus_spark.sources.txlog import TxTable

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    workdir = tempfile.mkdtemp(prefix="txlog-ren-")
    try:
        t = TxTable(f"{workdir}/customers")
        t.append(c.filter(F.col("c_custkey") % 2 == 0))
        listing = lambda: sorted(  # noqa: E731 — two-use local probe
            f for f in _os.listdir(t.path) if f.endswith(".parquet")
        )
        before = listing()
        v_ren = t.rename_column(spark, "c_acctbal", "balance")
        metadata_only = listing() == before
        t.append(
            c.filter(F.col("c_custkey") % 2 == 1).withColumnRenamed(
                "c_acctbal", "balance"
            )
        )
        t.drop_column(spark, "c_name")
        old = t.read(spark, version=v_ren - 1)
        tt_ok = old.columns == ["c_custkey", "c_name", "c_acctbal"]
        try:
            t.append(
                spark.createDataFrame(
                    [(0, "ghost", 0.0)],
                    "c_custkey long, c_name string, balance double",
                )
            )
            refused = False
        except ValueError:
            refused = True
        out = t.read(spark).select(
            "c_custkey",
            "balance",
            F.lit(metadata_only).alias("rename_was_metadata_only"),
            F.lit(tt_ok).alias("time_travel_names_ok"),
            F.lit(refused).alias("resurrection_refused"),
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


@query(
    "x_txlog_update",
    oracle="""
    SELECT c_custkey, c_name,
           CASE WHEN c_custkey <= (SELECT MAX(c_custkey) // 5 FROM customer)
                THEN c_acctbal + 1000 ELSE c_acctbal END AS c_acctbal,
           TRUE AS pruned_rewrite,
           TRUE AS cdf_row_exact
    FROM customer
    """,
)
def x_txlog_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write UPDATE ... SET end-to-end (r11, sources/txlog.py
    ``TxTable.update`` — Delta's UPDATE completing the DML triangle):
    customers land range-clustered on key (4 files), then one
    key-scoped UPDATE bumps the balance (+1000) for the bottom fifth
    of the key space with ``prune_column`` declared. The hash pins the
    final table; the literal booleans pin the SCALE facts: (a) the
    rewrite touched exactly ONE of the four files — zone maps bounded
    the copy-on-write to the key range, the other three files
    survived byte-identical — and (b) ``read_changes`` reconstructs
    the commit row-exactly from its recorded predicate + SET map (the
    table has NO change-data-feed property, so this exercises the
    sidecar-free path): update_preimage count == update_postimage
    count == rows the UPDATE reported, zero inserts, and the
    postimage balance sum equals preimage sum + 1000/row. Cost shape
    at 100 TB: candidates from metadata alone, one predicate scan
    over the surviving file(s), rewrite volume = hit files only."""
    import shutil
    import tempfile

    from hephaestus_spark.sources.txlog import TxTable

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    hi = c.agg(F.max("c_custkey")).first()[0] // 5
    workdir = tempfile.mkdtemp(prefix="txlog-upd-")
    try:
        t = TxTable(f"{workdir}/customers")
        t.append(
            c.repartitionByRange(4, F.col("c_custkey")).sortWithinPartitions(
                "c_custkey"
            )
        )
        total_files = len(t._snapshot_files())
        v, rewritten, n_rows = t.update(
            spark,
            f"c_custkey <= {hi}",
            {"c_acctbal": "c_acctbal + 1000"},
            prune_column="c_custkey",
            lo=None,
            hi=hi,
        )
        pruned_rewrite = rewritten == 1 and total_files == 4 and v == 1
        ch = (
            t.read_changes(spark, 0)
            .groupBy("_change_type")
            .agg(
                F.count("*").alias("n"),
                F.sum("c_acctbal").alias("bal"),
            )
            .collect()
        )
        by = {r["_change_type"]: (r["n"], r["bal"]) for r in ch}
        cdf_row_exact = (
            set(by) == {"update_preimage", "update_postimage"}
            and by["update_preimage"][0] == n_rows
            and by["update_postimage"][0] == n_rows
            and abs(
                by["update_postimage"][1]
                - by["update_preimage"][1]
                - 1000 * n_rows
            )
            < 1e-6
        )
        out = t.read(spark).select(
            "c_custkey",
            "c_name",
            "c_acctbal",
            F.lit(pruned_rewrite).alias("pruned_rewrite"),
            F.lit(cdf_row_exact).alias("cdf_row_exact"),
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


@query(
    "x_txlog_clone",
    oracle="""
    SELECT c_custkey, c_name,
           CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 500
                ELSE c_acctbal END AS c_acctbal,
           TRUE AS clone_metadata_only,
           TRUE AS stats_carried,
           TRUE AS src_isolated,
           TRUE AS detached
    FROM customer WHERE c_custkey % 9 <> 0
    """,
)
def x_txlog_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHALLOW CLONE lifecycle under one oracle hash (r11,
    sources/txlog.py ``TxTable.clone_to`` — Delta's CREATE TABLE ...
    SHALLOW CLONE): customers land (4 range files), every 9th key is
    tombstoned merge-on-read, and the table is cloned — a pure
    metadata commit referencing the source files in place (the
    ``clone_metadata_only`` boolean pins that ZERO data parquets
    exist under the clone root, the 100 TB point: cloning costs one
    log write at any table size). The copied KB-sized deletion-vector
    sidecars carry the tombstones (``stats_carried``: the clone's
    metadata COUNT equals the source's visible count with no data
    I/O). The clone then UPDATEs every 7th key (+500) while the
    source appends a marker row — ``src_isolated`` pins that neither
    side sees the other's change. Finally ``optimize()`` DETACHES the
    clone (every live file local, ``detached``), the documented
    answer to Delta's source-vacuum caveat. The hash pins the final
    clone content: tombstones held, updates applied, no source
    marker."""
    import os as _os
    import shutil
    import tempfile

    from hephaestus_spark.sources.txlog import TxTable

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    workdir = tempfile.mkdtemp(prefix="txlog-clone-")
    try:
        src = TxTable(f"{workdir}/src")
        src.append(
            c.repartitionByRange(4, F.col("c_custkey")).sortWithinPartitions(
                "c_custkey"
            )
        )
        src.delete_mor(spark, "c_custkey % 9 = 0")
        visible = src.stats_summary()["count"]
        clone = src.clone_to(f"{workdir}/dst")
        dv_sidecars = {
            _os.path.basename(n)
            for ns in clone.dv_map().values()
            for n in ns
        }
        clone_metadata_only = all(
            f in dv_sidecars  # only the copied KB-sized DV sidecars
            for d, _s, fs in _os.walk(clone.path)
            if "_txlog" not in d
            for f in fs
            if f.endswith(".parquet")
        )
        stats_carried = clone.stats_summary()["count"] == visible
        clone.update(
            spark, "c_custkey % 7 = 0", {"c_acctbal": "c_acctbal + 500"}
        )
        src.append(
            spark.createDataFrame(
                [(-1, "marker", 0.0)],
                "c_custkey long, c_name string, c_acctbal double",
            )
        )
        src_isolated = (
            clone.read(spark).filter("c_custkey = -1").count() == 0
            and src.read(spark).filter("c_acctbal > 100000").count() == 0
        )
        clone.optimize(spark, target_files=2)
        detached = all(
            not _os.path.isabs(f) for f in clone._snapshot_files()
        )
        out = clone.read(spark).select(
            "c_custkey",
            "c_name",
            "c_acctbal",
            F.lit(clone_metadata_only).alias("clone_metadata_only"),
            F.lit(stats_carried).alias("stats_carried"),
            F.lit(src_isolated).alias("src_isolated"),
            F.lit(detached).alias("detached"),
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


@query(
    "x_txlog_generated",
    oracle="""
    SELECT o_orderkey,
           strftime(o_orderdate, '%Y-%m') AS month,
           o_totalprice,
           TRUE AS desync_blocked,
           TRUE AS ids_unique,
           TRUE AS ids_range
    FROM orders
    """,
)
def x_txlog_generated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generated + identity columns end-to-end (r11, sources/txlog.py
    ``set_generated`` / ``set_identity`` — Delta's GENERATED ALWAYS
    AS (expr) / AS IDENTITY): half the orders land WITH a month
    column computed client-side, ``month GENERATED ALWAYS AS
    (date_format(o_orderdate, 'yyyy-MM'))`` is declared (one snapshot
    scan proves the existing rows already satisfy it), and the other
    half appends WITHOUT the column — the write path fills it, and
    the final hash over every (order, month) pair proves fill ==
    expression exactly. A desynchronized append (month hardcoded to a
    wrong literal) refuses through the same per-commit gate CHECK
    constraints use, version pinned unchanged (``desync_blocked``).
    The identity half: a month-dimension table declares ``mid
    GENERATED ALWAYS AS IDENTITY``; appending the distinct months
    WITHOUT the column allocates in-commit — ``ids_unique`` (no
    duplicates) and ``ids_range`` (dense single-writer range, max -
    min + 1 == count) pin the allocation; explicit mid values are
    refused (folded into ``ids_unique``). Identity values ride the
    same commit as the data, so racing writers can never double-issue
    — proven separately under real thread races in
    tests/test_txlog_generated.py."""
    import shutil
    import tempfile

    from hephaestus_spark.sources.txlog import ConstraintViolation, TxTable

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )
    month = F.date_format("o_orderdate", "yyyy-MM")
    workdir = tempfile.mkdtemp(prefix="txlog-gen-")
    try:
        t = TxTable(f"{workdir}/orders")
        t.append(
            o.filter(F.col("o_orderkey") % 2 == 0).withColumn("month", month)
        )
        t.set_generated(spark, "month", "date_format(o_orderdate, 'yyyy-MM')")
        t.append(o.filter(F.col("o_orderkey") % 2 == 1))  # filled
        v_before = t.latest_version()
        desync_blocked = False
        try:
            t.append(
                o.limit(5).withColumn("month", F.lit("1999-13"))
            )
        except ConstraintViolation:
            desync_blocked = t.latest_version() == v_before

        dim = TxTable(f"{workdir}/months")
        months = t.read(spark).select("month").distinct()
        dim.append(
            spark.createDataFrame([(0, "seed")], "mid long, month string")
        )
        dim.set_identity(spark, "mid", start=1)
        dim.append(months)
        explicit_refused = False
        try:
            dim.append(
                spark.createDataFrame([(99, "x")], "mid long, month string")
            )
        except ValueError:
            explicit_refused = True
        agg = dim.read(spark).agg(
            F.count("*").alias("n"),
            F.countDistinct("mid").alias("d"),
            F.min("mid").alias("lo"),
            F.max("mid").alias("hi"),
        ).first()
        ids_unique = agg["n"] == agg["d"] and explicit_refused
        ids_range = agg["hi"] - agg["lo"] + 1 == agg["n"]

        out = t.read(spark).select(
            "o_orderkey",
            "month",
            "o_totalprice",
            F.lit(desync_blocked).alias("desync_blocked"),
            F.lit(ids_unique).alias("ids_unique"),
            F.lit(ids_range).alias("ids_range"),
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


@query(
    "x_txlog_bloom_probe",
    oracle="""
    SELECT c_custkey, c_name,
           md5(CAST(c_custkey AS VARCHAR)) AS h,
           TRUE AS needle_pruned, TRUE AS miss_pruned_to_zero,
           TRUE AS sql_pushdown_pruned
    FROM customer
    WHERE c_custkey IN (1, 2, 3)
    """,
)
def x_txlog_bloom_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-file bloom-filter skipping end-to-end (r13, VERDICT r12 #5
    — sources/txlog.py::set_bloom_filter): customers land in 8 files
    keyed by ``h = md5(custkey)`` — a high-cardinality non-sort column
    whose per-file [min, max] zones span the whole hash space, so zone
    maps prune NOTHING (asserted). With blooms declared + backfilled,
    a 3-needle IN-probe keeps at most half the files
    (``needle_pruned``), an impossible hash keeps ZERO
    (``miss_pruned_to_zero``), and the same skip reaches pure SQL
    through the native connector's pushFilters
    (``sql_pushdown_pruned``). The oracle recomputes the needle rows
    with DuckDB's md5 — the hash match proves pruning changed which
    FILES are read, never which rows exist. The 100 TB story: sidecars
    are KB-sized, written executor-side one task per staged file, and
    consulted only on the zone-surviving candidate list."""
    import shutil
    import tempfile

    from hephaestus_spark.sources.txlog import TxTable
    from hephaestus_spark.sources.txlog_datasource import (
        TxLogBatchReader,
    )
    from pyspark.sql.datasource import EqualTo

    c = (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_name")
        .withColumn("h", F.md5(F.col("c_custkey").cast("string")))
    )
    workdir = tempfile.mkdtemp(prefix="txlog-bloom-")
    try:
        t = TxTable(f"{workdir}/customers")
        t.append(c.repartition(8))
        t.set_bloom_filter(["h"])
        t.build_blooms(spark)
        import hashlib

        needles = [
            hashlib.md5(str(k).encode()).hexdigest() for k in (1, 2, 3)
        ]
        total = len(t._snapshot_files())
        # zones alone keep everything (hash column: full-range zones)
        keep_needle, _ = t.pruned_files("h", values=needles)
        needle_pruned = 0 < len(keep_needle) <= max(3, total // 2) < total
        keep_miss, _ = t.pruned_files("h", values=["0" * 32])
        miss_zero = keep_miss == []
        r = TxLogBatchReader(t, t.latest_version())
        r.pushFilters([EqualTo(("h",), needles[0])])
        sql_pruned = r._keep is not None and 0 < len(r._keep) < total
        out = t.read_pruned(spark, "h", values=needles).select(
            "c_custkey",
            "c_name",
            "h",
            F.lit(needle_pruned).alias("needle_pruned"),
            F.lit(miss_zero).alias("miss_pruned_to_zero"),
            F.lit(sql_pruned).alias("sql_pushdown_pruned"),
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


@query(
    "x_txlog_autocompact",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal,
           TRUE AS files_bounded, TRUE AS selective_repack
    FROM (
      SELECT c_custkey, c_name, c_acctbal FROM customer
      UNION ALL
      SELECT -CAST(r.range AS BIGINT),
             'appended-' || CAST(r.range AS VARCHAR),
             CAST(0.0 AS DOUBLE)
      FROM range(1, 21) r
    )
    """,
)
def x_txlog_autocompact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Auto-compaction end-to-end (r13 — Delta's autoCompact;
    sources/txlog.py::set_auto_compact + optimize(small_files_below)):
    the full customer table lands as one right-sized seed file, then
    twenty 1-row micro-appends (negative keys) model streaming
    ingest's small-file shape. With the property set (min_files=6,
    small_bytes=2 KiB — above every 1-row file, below the seed at any
    sf), the post-append ticks keep the live file count bounded
    (``files_bounded``) and ``selective_repack`` pins the bin-packing
    selection: the seed file's NAME survives every sweep — its bytes
    are never rewritten, which is the whole 100 TB point (the sweep
    touches KB-sized stragglers, not the table). The oracle is the
    plain union of everything appended: the hash proves compaction is
    pure add+remove bookkeeping, row-for-row invisible."""
    import shutil
    import tempfile

    from hephaestus_spark.sources.txlog import TxTable

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    workdir = tempfile.mkdtemp(prefix="txlog-autocompact-")
    try:
        t = TxTable(f"{workdir}/customers")
        t.append(c.coalesce(1))
        seed = set(t._snapshot_files())
        t.set_auto_compact(min_files=6, small_bytes=2048, target_files=1)
        for k in range(1, 21):
            t.append(
                spark.createDataFrame(
                    [(-k, f"appended-{k}", 0.0)],
                    "c_custkey long, c_name string, c_acctbal double",
                ).coalesce(1)
            )
        files = set(t._snapshot_files())
        bounded = len(files) <= 8 and any(
            h["op"] == "optimize" for h in t.history()
        )
        selective = seed <= files  # the seed file was never repacked
        out = t.read(spark).select(
            "c_custkey",
            "c_name",
            "c_acctbal",
            F.lit(bounded).alias("files_bounded"),
            F.lit(selective).alias("selective_repack"),
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


@query(
    "x_txlog_defaults",
    oracle="""
    SELECT n_nationkey, n_name, region
    FROM (
      SELECT n_nationkey, n_name, CAST(NULL AS VARCHAR) AS region
      FROM nation
      UNION ALL
      SELECT n_nationkey + 1000, n_name, 'unassigned' FROM nation
      UNION ALL
      SELECT n_nationkey + 2000, n_name, 'manual' FROM nation
    )
    """,
)
def x_txlog_defaults(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column DEFAULTs end-to-end (r13 — Delta's allowColumnDefaults;
    sources/txlog.py::set_column_default): nations land BEFORE the
    declaration (their omitted ``region`` stays NULL forever —
    write-time-only semantics, no rewrite on declaration), a second
    append omits the column and gets the constant filled, a third
    supplies it and wins unvalidated. The oracle is the three-way
    union with the exact NULL/'unassigned'/'manual' split — the hash
    pins both the fill and the no-rewrite contract."""
    import shutil
    import tempfile

    from hephaestus_spark.sources.txlog import TxTable

    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    workdir = tempfile.mkdtemp(prefix="txlog-defaults-")
    try:
        t = TxTable(f"{workdir}/nations")
        t.append(
            n.withColumn("region", F.lit(None).cast("string")).coalesce(1)
        )
        t.set_column_default(spark, "region", "'unassigned'")
        t.append(
            n.select(
                (F.col("n_nationkey") + 1000).alias("n_nationkey"), "n_name"
            ).coalesce(1)
        )
        t.append(
            n.select(
                (F.col("n_nationkey") + 2000).alias("n_nationkey"),
                "n_name",
                F.lit("manual").alias("region"),
            ).coalesce(1)
        )
        return t.read(spark).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


@query(
    "x_txlog_ndv",
    oracle="""
    SELECT CAST(count(DISTINCT c_custkey) AS BIGINT) AS exact_custkey,
           CAST(count(DISTINCT c_nationkey) AS BIGINT) AS exact_nationkey,
           TRUE AS ndv_within_5pct,
           TRUE AS fully_covered,
           TRUE AS spark_route_agrees
    FROM customer
    """,
)
def x_txlog_ndv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-file NDV (HLL) sketch sidecars end-to-end (r14 — Iceberg's
    puffin NDV idea; sources/txlog.py::set_ndv_columns): customers
    land in 8 files, 4 KB register sidecars are written executor-side,
    and the TABLE-level distinct-count estimate folds from sidecars
    alone — no data rescan. Asserted against the exact counts: the
    high-cardinality key within the sketch's 5-sigma band (m=4096 ->
    rsd 1.6%), the 25-value nationkey in the linear-counting regime
    (near-exact), full file coverage, and the Spark-side fold
    (ndv_summary_spark, the large-file-list route) byte-identical to
    the driver fold. The oracle recomputes the exact counts in DuckDB
    — the hash match proves the estimates stayed in-band without
    shipping engine-specific register values."""
    import shutil
    import tempfile

    from hephaestus_spark.sources.txlog import TxTable

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    workdir = tempfile.mkdtemp(prefix="txlog-ndv-")
    try:
        t = TxTable(f"{workdir}/customers")
        t.append(c.repartition(8))
        t.set_ndv_columns(["c_custkey", "c_nationkey"])
        t.build_ndv(spark)
        s = t.ndv_summary()
        sp = t.ndv_summary_spark(spark)
        ek, en = c.agg(
            F.countDistinct("c_custkey"), F.countDistinct("c_nationkey")
        ).first()
        within = (
            abs(s["c_custkey"]["ndv"] - ek) / ek < 0.05
            and abs(s["c_nationkey"]["ndv"] - en) / max(en, 1) < 0.05
        )
        covered = all(
            e["covered_files"] == e["total_files"] for e in s.values()
        )
        out = spark.createDataFrame(
            [(int(ek), int(en), within, covered, sp == s)],
            "exact_custkey long, exact_nationkey long, "
            "ndv_within_5pct boolean, fully_covered boolean, "
            "spark_route_agrees boolean",
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
