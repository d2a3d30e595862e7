"""SCD-1 merge plan builder (reference operators A10–A14).

The reference upserts row-at-a-time: per-record existence probe
(employees.go:108-133 — an N+1 anti-pattern), struct-equality skip
(A10), INSERT ON CONFLICT DO NOTHING (A11,
/root/reference/internal/repository/employee.go:13-35), UPDATE by key
(A12, employee.go:38-60), and a conditional-column-reset upsert (A14,
/root/reference/internal/repository/task.go:74-123: geocode columns are
nulled only when ``address IS DISTINCT FROM EXCLUDED.address``).

Here the same semantics are one set-wise plan: a single full-outer join
on the key + null-safe column comparison. At scale this is one shuffle
on the merge key (or zero if both sides are bucketed on it) instead of
N round-trips; AQE picks broadcast when the delta is small.

``IS DISTINCT FROM`` ⇔ ``~eqNullSafe`` — using ``!=`` here is the
classic silent-wrong-answer on NULLs (SURVEY.md §7 risk 2).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

ACTION_INSERT = "insert"
ACTION_UPDATE = "update"
ACTION_SKIP = "skip"  # staged row identical to snapshot (A10)
ACTION_KEEP = "keep"  # snapshot row untouched by this batch
ACTIONS = (ACTION_INSERT, ACTION_UPDATE, ACTION_SKIP, ACTION_KEEP)


def rows_differ(old_prefix: str, new_prefix: str, cols: list[str]) -> Column:
    """True when any compared column IS DISTINCT FROM its counterpart."""
    cond = F.lit(False)
    for c in cols:
        cond = cond | ~F.col(f"{old_prefix}.{c}").eqNullSafe(F.col(f"{new_prefix}.{c}"))
    return cond


def scd1_merge(
    snapshot: DataFrame,
    staged: DataFrame,
    key: str,
    compare_cols: list[str],
    with_action: bool = True,
) -> DataFrame:
    """Merge a staged delta into a snapshot, SCD-1 style.

    Returns the post-merge snapshot; when ``with_action`` each row
    carries how it got there (insert/update/skip/keep) — the set-wise
    equivalent of the reference's per-row branch at employees.go:108-133.
    """
    old = snapshot.alias("old")
    new = staged.alias("new")
    joined = old.join(new, F.col(f"old.{key}").eqNullSafe(F.col(f"new.{key}")), "full_outer")

    in_old = F.col(f"old.{key}").isNotNull()
    in_new = F.col(f"new.{key}").isNotNull()
    differ = rows_differ("old", "new", compare_cols)

    action = (
        F.when(~in_old & in_new, F.lit(ACTION_INSERT))
        .when(in_old & in_new & differ, F.lit(ACTION_UPDATE))
        .when(in_old & in_new, F.lit(ACTION_SKIP))
        .otherwise(F.lit(ACTION_KEEP))
    )
    # action ∈ {insert, update}  ⇔  in_new ∧ (¬in_old ∨ differ) — keep it
    # a plain boolean rather than re-testing the string CASE.
    take_new = in_new & (~in_old | differ)

    # Two-stage projection on purpose: ``__take_new`` (and ``action``)
    # are each referenced by several output columns, and inlining them
    # per column exploded the generated projection ~4x (per-column CASE
    # trees), bloating codegen enough to thrash Janino's class cache in
    # long sessions. Non-cheap aliases referenced more than once are
    # NOT re-inlined by CollapseProject, so the flags are computed once.
    mid_cols = (
        [F.coalesce(F.col(f"old.{key}"), F.col(f"new.{key}")).alias(key)]
        + [F.col(f"old.{c}").alias(f"__o_{c}") for c in compare_cols]
        + [F.col(f"new.{c}").alias(f"__n_{c}") for c in compare_cols]
        + [take_new.alias("__take_new")]
    )
    if with_action:
        mid_cols.append(action.alias("action"))
    mid = joined.select(*mid_cols)

    out_cols = [F.col(key)] + [
        F.when(F.col("__take_new"), F.col(f"__n_{c}"))
        .otherwise(F.col(f"__o_{c}"))
        .alias(c)
        for c in compare_cols
    ]
    if with_action:
        out_cols.append(F.col("action"))
    return mid.select(*out_cols)


def conditional_reset(
    old_col: Column, address_changed: Column, reset_value=None
) -> Column:
    """A14's geocode-reset rule as a reusable clause: keep the engine-owned
    column unless the driving column changed, then reset it
    (task.go:97-112)."""
    return F.when(address_changed, F.lit(reset_value)).otherwise(old_col)
