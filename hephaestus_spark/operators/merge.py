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

``IS DISTINCT FROM`` ⇔ ``NOT (a <=> b)`` — using ``!=`` here is the
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


def _q(name: str) -> str:
    """A column name as a backtick-quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


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
    Both projections are SQL text, one ``selectExpr`` each: building
    them column by column costs a Py4J round trip per call.
    """
    k = _q(key)
    joined = snapshot.alias("old").join(
        staged.alias("new"), F.expr(f"old.{k} <=> new.{k}"), "full_outer"
    )

    in_old, in_new = f"old.{k} IS NOT NULL", f"new.{k} IS NOT NULL"
    # any compared column IS DISTINCT FROM its counterpart
    differ = " OR ".join(f"NOT (old.{_q(c)} <=> new.{_q(c)})" for c in compare_cols)
    differ = differ or "FALSE"

    action = (
        f"CASE WHEN NOT {in_old} AND {in_new} THEN '{ACTION_INSERT}' "
        f"WHEN {in_old} AND {in_new} AND ({differ}) THEN '{ACTION_UPDATE}' "
        f"WHEN {in_old} AND {in_new} THEN '{ACTION_SKIP}' ELSE '{ACTION_KEEP}' END"
    )
    # action ∈ {insert, update}  ⇔  in_new ∧ (¬in_old ∨ differ) — keep it
    # a plain boolean rather than re-testing the string CASE.
    take_new = f"{in_new} AND (NOT {in_old} OR ({differ}))"

    # Two-stage projection on purpose: ``__take_new`` (and ``action``)
    # are each referenced by several output columns, and inlining them
    # per column exploded the generated projection ~4x (per-column CASE
    # trees), bloating codegen enough to thrash Janino's class cache in
    # long sessions. Non-cheap aliases referenced more than once are
    # NOT re-inlined by CollapseProject, so the flags are computed once.
    mid_cols = (
        [f"coalesce(old.{k}, new.{k}) AS {k}"]
        + [f"old.{_q(c)} AS {_q('__o_' + c)}" for c in compare_cols]
        + [f"new.{_q(c)} AS {_q('__n_' + c)}" for c in compare_cols]
        + [f"{take_new} AS __take_new"]
    )
    if with_action:
        mid_cols.append(f"{action} AS action")
    mid = joined.selectExpr(*mid_cols)

    out_cols = [k] + [
        f"CASE WHEN __take_new THEN {_q('__n_' + c)} "
        f"ELSE {_q('__o_' + c)} END AS {_q(c)}"
        for c in compare_cols
    ]
    if with_action:
        out_cols.append("action")
    return mid.selectExpr(*out_cols)


def conditional_reset(
    old_col: Column, address_changed: Column, reset_value=None
) -> Column:
    """A14's geocode-reset rule as a reusable clause: keep the engine-owned
    column unless the driving column changed, then reset it
    (task.go:97-112)."""
    return F.when(address_changed, F.lit(reset_value)).otherwise(old_col)
