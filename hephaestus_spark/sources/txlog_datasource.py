"""Native Spark data source for the transactional table layer (r8).

``spark.dataSource.register(TxLogDataSource)`` makes the txlog a
first-class format — the idiomatic Spark integration the layer was
missing (the PySpark 4 Python Data Source API,
``pyspark.sql.datasource``; same public API Delta/Iceberg connectors
express in Scala):

- **batch read** ``spark.read.format("txlog").load(path)``: scans the
  live snapshot (or ``option("version", v)`` for time travel), one
  input partition per data file, rows stamped with the
  ``_commit_version`` that added their file. Catalyst pushes filters
  into :meth:`TxLogBatchReader.pushFilters`, where the committed ZONE
  MAPS drop whole files before any I/O — predicate pushdown all the
  way to the transaction log, the thing that makes a 100 TB table
  answer a narrow filter by opening a handful of files. Every filter
  is also returned as residual, so Spark re-applies them row-level:
  the connector can only ever over-deliver, never under-deliver.
- **streaming read** ``spark.readStream.format("txlog").load(path)``:
  serves the append-only change feed. Offsets are LOG VERSIONS — the
  natural exactly-once cursor: each micro-batch is the files added by
  commits in ``(start, end]``, optimize commits contribute nothing,
  and row-rewriting commits fail the stream loudly (same contract as
  ``TxTable.read_changes``). Spark's checkpoint + offset tracking
  composes with the log's immutability for end-to-end replayability.
- **streaming write** ``df.writeStream.format("txlog")``: tasks land
  Arrow batches as parquet files directly in the table dir (no rename
  dance — files are invisible until the log references them), and the
  DRIVER commit runs the txlog's append loop with ``(app_id,
  batchId)``: the Delta ``txn`` pattern, so a replayed
  micro-batch after a restart commits nothing (its orphan task files
  are vacuum-bounded). Exactly-once with ZERO coordination beyond the
  log's atomic create.
- **batch write** ``df.write.format("txlog").mode("append" |
  "overwrite").save(path)``: same task-side file landing; the driver
  commit is a blind append, or a one-commit add+remove overwrite that
  keeps every earlier version time-travel-readable.

Hive-partitioned tables are served end-to-end (r10): reads take the
schema from the LOG (partition columns present and typed, zero footer
I/O), each split materializes its partition values as typed constant
columns, and partition predicates prune whole files through the
singleton zones. Writes declare partitioning with
``.option("partitionBy", "day")`` (the Python Data Source API does
not forward ``DataFrameWriter.partitionBy``): tasks split their
batches into ``col=value/`` hive files, and the first commit declares
the layout in the log.

Executor-side reads/writes use pyarrow directly (Arrow RecordBatches
in both directions — the Python data source fast path), so no Spark
session state is shipped to tasks; a partition is (absolute file
path, commit version, deletion vectors, partition values), nothing
else.
"""

from __future__ import annotations

import os
import uuid
from dataclasses import dataclass
from typing import TYPE_CHECKING, Iterable, Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    StringStartsWith,
    WriterCommitMessage,
)
from pyspark.sql.types import LongType, StringType, StructField, StructType

from hephaestus_spark.sources.txlog import (
    TxTable,
    _parse_partition_values,
    _probe,
)

if TYPE_CHECKING:  # pragma: no cover
    import pyarrow as pa

VERSION_COL = "_commit_version"


@dataclass
class TxLogPartition(InputPartition):
    file_path: str
    commit_version: int
    # deletion-vector parquet paths covering this file (r8 merge-on-
    # read deletes); the task masks tombstoned row positions locally
    dv_paths: tuple = ()
    # target arrow schema (sans version column) for widening-append
    # schema evolution: older files surface missing columns as nulls
    target_schema: object = None
    # hive partition values of this file (r10): ((physical col, raw
    # string-or-None), ...) — materialized as typed constant columns
    # by the task (the values live in the path, not the file bytes)
    partition_values: tuple = ()
    # streaming change feed (r11): constant _change_type to stamp on
    # every row this partition emits (None = no stamping / the file
    # carries its own column, i.e. a CDC sidecar)
    change_type: "str | None" = None
    # streaming change feed (r11): emit ONLY rows whose file-local
    # position is in (positions listed by `select` DV parquets) minus
    # (positions listed by `minus` DV parquets) — the deleteMor shape
    # (select = the commit's tombstones, minus = ()) and the restore
    # tombstone-flip shape (select/minus = the two versions' vectors)
    dv_select: "tuple | None" = None  # (select_paths, minus_paths)


@dataclass
class TxLogCommitMessage(WriterCommitMessage):
    names: list[str]


def _table_schema(table: TxTable, version: int | None = None) -> "pa.Schema":
    """Arrow schema of the table, served under the LOGICAL names of
    the version's column mapping (r9): renamed fields carry their
    physical source name as ``phys`` field metadata so ``_align`` can
    find the column in the files, dropped physicals vanish.

    Schema-tracked tables (r10 — every table created since, and all
    partitioned tables) serve the LOG-OWNED schema: zero footer I/O,
    and partition columns — which live in the hive paths, not the
    file bytes — are present and typed exactly as declared (the
    per-split reader materializes their values as constants). Legacy
    untracked tables fall back to the newest-added file's footer —
    widening-append evolution's last-writer precedence; older files
    are aligned at read time (missing columns as nulls, ``_align``)."""
    import json as _json

    import pyarrow as pa
    import pyarrow.parquet as pq

    meta = table._fold_state(version)[3]
    if meta and meta.get("schema"):
        from pyspark.sql.pandas.types import to_arrow_schema
        from pyspark.sql.types import StructType as _St

        phys = to_arrow_schema(_St.fromJson(_json.loads(meta["schema"])))
        mapping = meta.get("mapping") or {}
        rev = {p: l for l, p in mapping.items()}
        dropped = set(meta.get("dropped") or [])
        return pa.schema(
            [
                pa.field(rev.get(f.name, f.name), f.type, f.nullable, {"phys": f.name})
                for f in phys
                if f.name not in dropped
            ]
        )
    files = table.live_files(version)
    if not files:
        raise ValueError(f"txlog table {table.path} has no data")
    newest = max(files, key=lambda nv: nv[1])[0]
    schema = pq.read_schema(table._abs(newest))
    if meta:
        mapping = meta.get("mapping") or {}
        rev = {p: l for l, p in mapping.items()}
        dropped = set(meta.get("dropped") or [])
        schema = pa.schema(
            [
                pa.field(rev.get(f.name, f.name), f.type, f.nullable, {"phys": f.name})
                for f in schema
                if f.name not in dropped
            ]
        )
    return schema


def _attach_physical(
    schema: "pa.Schema", table: TxTable, version: int | None
) -> "pa.Schema":
    """Stamp a DECLARED (logical-name) alignment schema with each
    field's physical source name from the version's column mapping —
    without this, an explicit .schema(...) over a renamed table would
    null-fill the renamed column instead of reading its bytes."""
    meta = table._fold_state(version)[3]
    if not meta:
        return schema
    import pyarrow as pa

    mapping = meta.get("mapping") or {}
    return pa.schema(
        [
            pa.field(f.name, f.type, f.nullable, {"phys": mapping.get(f.name, f.name)})
            for f in schema
        ]
    )


def _align(batch: "pa.RecordBatch", target: "pa.Schema") -> "pa.RecordBatch":
    """Project a batch onto the target schema: missing columns (an
    older file before a widening append) become nulls, compatible
    type drift is cast, extra columns are dropped. A target field
    carrying ``phys`` metadata reads its bytes from that PHYSICAL
    column name (column-mapping renames) while serving its own
    logical name."""
    import pyarrow as pa

    if batch.schema == target:
        return batch
    arrays = []
    for field in target:
        src = field.name
        if field.metadata and b"phys" in field.metadata:
            src = field.metadata[b"phys"].decode()
        idx = batch.schema.get_field_index(src)
        if idx >= 0:
            col = batch.column(idx)
            if col.type != field.type:
                col = col.cast(field.type)
        else:
            col = pa.nulls(batch.num_rows, field.type)
        arrays.append(col)
    return pa.RecordBatch.from_arrays(arrays, schema=target)


def _typed_partition_value(raw: "str | None", typ: "pa.DataType"):
    """A hive partition string typed per the declared arrow type —
    the same contract TxTable's explicit-schema read gets from Spark's
    own partition-dir casting (no inference, '00123' survives as a
    string byte-exact)."""
    import pyarrow as pa

    if raw is None:
        return None
    if pa.types.is_integer(typ):
        return int(raw)
    if pa.types.is_floating(typ):
        return float(raw)
    if pa.types.is_boolean(typ):
        return raw == "true"
    if pa.types.is_date(typ):
        import datetime

        return datetime.date.fromisoformat(raw)
    if pa.types.is_timestamp(typ):
        import datetime

        return datetime.datetime.fromisoformat(raw)
    return raw


def _dv_positions(dv_paths, basename: str) -> set:
    """File-local row positions listed for ``basename`` across the
    given deletion-vector parquets."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    out: set = set()
    for dvp in dv_paths:
        t = pq.read_table(dvp, columns=["file", "pos"])
        mask = pc.equal(t.column("file"), basename)
        out.update(t.filter(mask).column("pos").to_pylist())
    return out


def _read_file_batches(
    file_path: str,
    commit_version: int,
    dv_paths: tuple = (),
    target_schema: "pa.Schema | None" = None,
    partition_values: tuple = (),
    change_type: "str | None" = None,
    dv_select: "tuple | None" = None,
) -> Iterator["pa.RecordBatch"]:
    """Executor-side: stream a parquet file as Arrow batches with the
    provenance column appended, deletion-vector tombstones masked out
    (positions are file-local row indices; a running offset maps them
    onto each batch), and hive partition values materialized as typed
    constant columns (r10 — they live in the path, not the bytes).
    No Spark state, no row materialization."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    # (physical name, arrow type, typed value) per partition column —
    # typed against the target field that reads from that physical
    part_consts = []
    if partition_values and target_schema is not None:
        pv = dict(partition_values)
        for field in target_schema:
            src = field.name
            if field.metadata and b"phys" in field.metadata:
                src = field.metadata[b"phys"].decode()
            if src in pv:
                part_consts.append(
                    (src, field.type, _typed_partition_value(pv[src], field.type))
                )

    base = os.path.basename(file_path)
    tombstones: set[int] = set()
    selected: "set[int] | None" = None
    if dv_select is not None:
        sel_paths, minus_paths = dv_select
        selected = _dv_positions(sel_paths, base)
        if minus_paths:
            selected -= _dv_positions(minus_paths, base)
    elif dv_paths:
        tombstones = _dv_positions(dv_paths, base)
    pf = pq.ParquetFile(file_path)
    offset = 0
    for batch in pf.iter_batches():
        n = batch.num_rows
        if selected is not None:
            keep = [i for i in range(n) if (offset + i) in selected]
            batch = batch.take(pa.array(keep, pa.int64()))
        elif tombstones:
            keep = [
                i for i in range(n) if (offset + i) not in tombstones
            ]
            if len(keep) < n:
                batch = batch.take(pa.array(keep, pa.int64()))
        offset += n
        if batch.num_rows:
            for src, typ, val in part_consts:
                batch = batch.append_column(
                    pa.field(src, typ),
                    pa.array([val] * batch.num_rows, typ),
                )
            if target_schema is not None:
                batch = _align(batch, target_schema)
            if change_type is not None:
                batch = batch.append_column(
                    "_change_type",
                    pa.array([change_type] * batch.num_rows, pa.string()),
                )
            yield batch.append_column(
                VERSION_COL,
                pa.array([commit_version] * batch.num_rows, pa.int64()),
            )


def _prefix_upper(prefix: str) -> "str | None":
    """Smallest string strictly greater than EVERY string carrying
    ``prefix``: increment the last incrementable code point and
    truncate. None when no such string exists (all-U+10FFFF prefix) —
    the probe then keeps only its lower bound."""
    for i in range(len(prefix) - 1, -1, -1):
        c = ord(prefix[i])
        if c < 0x10FFFF:
            return prefix[:i] + chr(c + 1)
    return None


def _zone_prunable(filters: list[Filter]) -> dict[str, list]:
    """Translate top-level-column filters into the file-skipping
    planner's probes (``txlog._probe``): {column: [probe, ...]} where a
    probe is ("range", lo, hi), ("in", values), or ("null",
    want_null), values normalised once here. Unsupported filter shapes
    are simply absent — they prune nothing and Spark evaluates them
    row-level anyway.

    ``LIKE 'abc%'`` arrives as StringStartsWith and becomes the range
    [prefix, successor(prefix)] (r14) — the corpus-scan shape (URL /
    domain / path prefixes) where string zone maps earn their keep;
    the inclusive upper successor bound is sound because pruning may
    only over-keep. IS NULL / IS NOT NULL probe the committed per-file
    null COUNTS — the only metadata that prunes all-null columns."""
    probes: dict[str, list] = {}
    for f in filters:
        attr = getattr(f, "attribute", None)
        if not attr or len(attr) != 1:
            continue  # nested columns carry no zone maps
        col = attr[0]
        if col == VERSION_COL:
            continue
        if isinstance(f, EqualTo):
            p = _probe(f.value, f.value)
        elif isinstance(f, (GreaterThan, GreaterThanOrEqual)):
            p = _probe(lo=f.value)
        elif isinstance(f, (LessThan, LessThanOrEqual)):
            p = _probe(hi=f.value)
        elif isinstance(f, In):
            p = _probe(values=f.value)
        elif isinstance(f, StringStartsWith) and isinstance(f.value, str):
            p = _probe(f.value, _prefix_upper(f.value))
        elif isinstance(f, (IsNull, IsNotNull)):
            p = _probe(is_null=isinstance(f, IsNull))
        else:
            continue
        probes.setdefault(col, []).append(p)
    return probes


def _declared_arrow_schema(schema: StructType) -> "pa.Schema":
    """The query's declared schema (minus the provenance column) as
    the arrow alignment target — honors an explicit .schema(...) and
    keeps stream batches stable across mid-stream widening appends."""
    from pyspark.sql.pandas.types import to_arrow_schema

    data_fields = [f for f in schema.fields if f.name != VERSION_COL]
    return to_arrow_schema(StructType(data_fields))


class TxLogBatchReader(DataSourceReader):
    def __init__(
        self, table: TxTable, version: int | None, target_schema=None
    ):
        self.table = table
        self.version = version
        self.target_schema = target_schema
        self._keep: set[str] | None = None

    def pushFilters(self, filters: list[Filter]) -> Iterable[Filter]:
        # Strict > / < are pruned with their inclusive zone bound —
        # sound (a keep-set can only widen), and the residual row
        # filter restores strictness. No session here: the planner
        # takes its driver-fold route.
        plan = self.table._planner(version=self.version)[2]
        self._keep = set(plan(_zone_prunable(list(filters)))[0])
        # everything comes back as residual: zone maps prune FILES,
        # Spark still evaluates the predicate on the surviving rows
        return filters

    def partitions(self) -> Sequence[InputPartition]:
        live = self.table.live_files(self.version)
        keep = self._keep if self._keep is not None else {n for n, _ in live}
        dvs = self.table.dv_map(self.version)
        target = (
            self.target_schema
            if self.target_schema is not None
            else _table_schema(self.table, self.version)
        )
        return [
            TxLogPartition(
                self.table._abs(n),
                v,
                tuple(
                    self.table._abs(d) for d in dvs.get(n, ())
                ),
                target,
                tuple(sorted(_parse_partition_values(n).items())),
            )
            for n, v in live
            if n in keep
        ]

    def read(self, partition: TxLogPartition):  # type: ignore[override]
        # r13: a filter pruned to ZERO files makes partitions() return
        # [] — the engine then invokes read with a single None
        # partition (pyspark's implicit default), which must serve an
        # empty result, not crash (surfaced by bloom skipping, whose
        # definite-absent verdicts empty the keep-set far more often
        # than zone maps ever did)
        if partition is None:
            return
        yield from _read_file_batches(
            partition.file_path,
            partition.commit_version,
            partition.dv_paths,
            partition.target_schema,
            partition.partition_values,
        )


def _parse_byte_limit(v) -> int:
    """Delta-style size string: plain int, or k/m/g[b] suffix."""
    s = str(v).strip().lower()
    mult = 1
    for suf, m in (("kb", 1 << 10), ("k", 1 << 10), ("mb", 1 << 20),
                   ("m", 1 << 20), ("gb", 1 << 30), ("g", 1 << 30),
                   ("b", 1)):
        if s.endswith(suf):
            s, mult = s[: -len(suf)].strip(), m
            break
    return int(s) * mult


def _admission_hint_path(table_path: str, stream_id: str) -> str:
    return os.path.join(table_path, "_txlog", f"_admission-{stream_id}")


def _save_hint_file(hint_path: str, end: int) -> None:
    # best-effort; a read-only table dir just means the
    # one-uncapped-batch-after-clean-restart caveat applies.
    # MONOTONICITY IS LOAD-BEARING: the safety argument for the
    # hint ("end >= any checkpointed start, so a capped offset can
    # never go backwards") needs read-check-write to be atomic —
    # two same-streamId writers interleaving a plain replace could
    # regress the hint, and a regressed hint can emit an offset
    # BELOW a checkpointed start, which re-serves versions on the
    # following batch. flock makes the update a critical section
    # (local fs — the only kind this table layer runs on).
    try:
        import fcntl

        with open(hint_path, "a+") as f:
            fcntl.flock(f, fcntl.LOCK_EX)
            f.seek(0)
            cur = f.read().strip()
            if cur and int(cur) >= end:
                return
            f.seek(0)
            f.truncate()
            f.write(str(end))
    except (OSError, ValueError):
        pass


def seed_admission_position(
    table_path: str,
    checkpoint_location: str,
    stream_id: str = "default",
    starting_version: int = -1,
) -> bool:
    """Make the FIRST micro-batch of a fresh capped stream honor the
    cap (r13, VERDICT r12 #2). Spark 4.1.2 asks a Python streaming
    source for ``latestOffset`` BEFORE ``initialOffset`` on a fresh
    query (probed; the engine's first constructNextBatch precedes the
    offset-log seeding call), so at the first cap decision the reader
    cannot know its position and r12's safe fallback served the
    uncapped latest — the whole backlog as batch one, exactly the
    100 TB backfill scenario the cap exists for.

    This helper closes that window WITHOUT touching the reader's
    restart-safety argument: it writes the monotone admission hint
    (= the reader's known starting position) ONLY when the sink
    checkpoint has no offset log yet — i.e. only when the query is
    provably fresh and the true position IS ``starting_version``. On
    a restart (offsets exist) it does nothing: the hint the stream
    itself maintained stays authoritative, and the save is monotone
    under flock anyway, so a racing live stream can never be dragged
    backwards. Returns True when a seed was written."""
    off_dir = os.path.join(checkpoint_location, "offsets")
    try:
        fresh = not os.path.isdir(off_dir) or not os.listdir(off_dir)
    except OSError:
        fresh = False
    if not fresh:
        return False
    _save_hint_file(
        _admission_hint_path(table_path, stream_id), starting_version
    )
    return True


class TxLogStreamReader(DataSourceStreamReader):
    """Streaming source. Default mode serves the append-only file
    feed; ``cdf=True`` (``.option("readChangeFeed", "true")``, Delta's
    streaming CDF) serves ROW-LEVEL changes with a
    ``_change_type`` column: one partition per change unit of
    ``TxTable._change_plan``, the rule the batch ``read_changes`` serves
    too. A unit's mask becomes the partition's ``dv_paths`` (positions
    hidden) or ``dv_select`` (only those positions shown), resolved to
    vector files once per version per batch; a CDC sidecar is served
    as written. A copy-on-write commit without sidecars fails the
    stream loudly with the fix spelled out: a source partition cannot
    run its reconstruction join.

    Everything is per-file executor work (position sets from KB-sized
    DV parquets) — no joins, no driver data.

    Admission control (Delta's
    ``maxFilesPerTrigger`` / ``maxBytesPerTrigger``): without a cap,
    ``latestOffset`` jumps straight to the table's latest version, so
    a stream starting against a deep backlog (or resuming after
    downtime) plans the ENTIRE pending history as one micro-batch —
    at 100 TB that one batch is the scale-killer. With a cap,
    ``latestOffset`` walks the servable commits past the current
    position and stops before the commit that would push the admitted
    file count/bytes over the limit (always admitting at least one
    commit, Delta's progress guarantee — a single oversized commit
    still goes through rather than wedging the stream). Offsets stay
    plain version numbers, so exactly-once across restarts is
    unchanged: the cap only chooses WHERE the batch boundaries fall,
    never what rows exist between two offsets.

    Position tracking: the Python DataSource API (unlike Scala's
    ``SupportsAdmissionControl``) hands ``latestOffset()`` no start
    offset, so the reader learns its position from ``initialOffset``
    (fresh query) / ``partitions(start, end)`` (every planned batch,
    including the restart replay of the last offset-log batch —
    the same engine behavior pyspark's own
    ``_SimpleStreamReaderWrapper`` documents it depends on). A
    monotone position hint is also persisted next to the log
    (``_admission-<id>``) purely as a capping aid after a clean
    stop-and-restart; correctness NEVER depends on it — a stale or
    shared hint can only make one batch larger than the cap, never
    skip or repeat rows, because the hint is monotone over ends
    already returned (end >= any checkpointed start).

    ``Trigger.AvailableNow`` caveat (probed): Spark wraps Python
    sources in ``AvailableNowDataStreamWrapper``, which memorizes ONE
    ``latestOffset`` at query start and serves it as the single
    batch's end — the engine, not this reader, decides that. A fresh
    capped query under availableNow therefore still takes the whole
    backlog in one batch (the reader's position is unknown at the
    memorize call, so it returns the uncapped latest — the SAFE side:
    'available now' means everything, and a capped memorized end
    would silently under-deliver). On a RESTART (position known from
    the replay or the hint) an availableNow run takes one capped batch
    and terminates — eventually-complete across repeated runs, exactly
    once, each run bounded by the cap. To drain a backlog with the cap
    in one invocation, use a processingTime trigger (continuous capped
    micro-batches, pinned in tests)."""

    def __init__(
        self,
        table: TxTable,
        starting_version: int,
        target_schema=None,
        cdf: bool = False,
        max_files: "int | None" = None,
        max_bytes: "int | None" = None,
        stream_id: "str | None" = None,
        on_widening: str = "fail",
    ):
        self.table = table
        self.starting_version = starting_version
        self.target_schema = target_schema
        self.cdf = cdf
        if max_files is not None and max_files <= 0:
            raise ValueError("maxFilesPerTrigger must be a positive int")
        if max_bytes is not None and max_bytes <= 0:
            raise ValueError("maxBytesPerTrigger must be positive")
        self.max_files = max_files
        self.max_bytes = max_bytes
        self.stream_id = stream_id or "default"
        self._pos: "int | None" = None  # last planned/returned end
        # insert/delete partitions read plain data files that do NOT
        # carry _change_type — align them to the schema WITHOUT it,
        # then stamp the constant (cdc sidecars align to the full one)
        self.data_schema = target_schema
        if cdf and target_schema is not None:
            import pyarrow as pa

            self.data_schema = pa.schema(
                [f for f in target_schema if f.name != "_change_type"]
            )
        # r14 (VERDICT r13 #2) — PINNED mid-stream schema-widening
        # semantics. A widening append landing while this stream
        # drains publishes new columns the stream's declared schema
        # cannot carry. Two defined behaviors, nothing incidental:
        # - stream serving the AUTO-resolved table schema: FAIL the
        #   batch that crosses the widening commit (Delta's
        #   non-additive-change contract) with a restart instruction;
        #   the offset log makes the restart exactly-once and the new
        #   query instance re-resolves the wider schema, null-filling
        #   older files via _align.
        # - stream with an EXPLICIT narrower .schema(...) or
        #   .option("onSchemaWidening", "project"): the projection is
        #   the user's contract — new columns are dropped by _align,
        #   documented down-projection, no failure. The option exists
        #   because an explicit schema EQUAL to the table's at stream
        #   start is indistinguishable from auto-resolution here (the
        #   engine hands both down the same way).
        # Physical names are compared (renames keep their physical
        # column, drops only shrink the set — neither is a widening).
        if on_widening not in ("fail", "project"):
            raise ValueError(
                "onSchemaWidening must be 'fail' (default: stop the query "
                "on a mid-stream widening commit, restart picks up the new "
                "schema) or 'project' (serve the declared columns only)"
            )
        def _phys(f):
            md = f.metadata or {}
            return md.get(b"phys", f.name.encode()).decode()

        self._phys_served: "set[str] | None" = (
            {_phys(f) for f in self.data_schema}
            if self.data_schema is not None
            else None
        )
        self._projected = on_widening == "project"
        if not self._projected and self._phys_served is not None:
            try:
                table_phys = {_phys(f) for f in _table_schema(table)}
            except (OSError, ValueError):
                table_phys = set()
            self._projected = bool(table_phys - self._phys_served)

    def _check_widening(self, start_v: int, end_v: int) -> None:
        """Raise if a commit in (start_v, end_v] widened the schema
        past what this stream serves (see __init__ — auto-resolved
        streams fail-and-restart; explicit projections pass)."""
        if self._phys_served is None or self._projected:
            return
        import json as _json

        for v in range(max(start_v, 0) + 1, end_v + 1):
            try:
                entry = self.table._read_entry(v)
            except (OSError, ValueError):
                continue  # expired below the horizon: nothing to serve
            for a in entry["actions"]:
                m = a.get("meta") or {}
                if not m.get("schema"):
                    continue
                phys = {
                    f["name"]
                    for f in _json.loads(m["schema"])["fields"]
                } - set(m.get("dropped") or [])
                extra = sorted(phys - self._phys_served)
                if extra:
                    raise ValueError(
                        f"txlog stream source on {self.table.path}: the "
                        f"table schema WIDENED at version {v} (new columns "
                        f"{extra}) after this stream started — restart the "
                        "query to pick up the new schema (the checkpoint "
                        "offset log resumes it exactly-once), or declare "
                        "an explicit .schema(...) to pin a projection"
                    )

    def initialOffset(self) -> dict:
        self._pos = self.starting_version
        return {"version": self.starting_version}

    # ---- admission control ----
    def _hint_path(self) -> str:
        return _admission_hint_path(self.table.path, self.stream_id)

    def _load_hint(self) -> "int | None":
        try:
            with open(self._hint_path()) as f:
                return int(f.read().strip())
        except (OSError, ValueError):
            return None

    def _save_hint(self, end: int) -> None:
        _save_hint_file(self._hint_path(), end)

    def _admission_cost(self, entry: dict, units) -> "tuple[int, int]":
        """(files, bytes) a batch containing this commit schedules: the
        files its change units read (``TxTable._change_plan``; plain
        mode serves only adds). Bytes come from the add action's
        recorded ``bytes`` when present, else one driver-side getsize
        — metadata-only either way."""
        sized = {a["add"]: a.get("bytes") for a in entry["actions"] if "add" in a}
        files = {u.file for u in units} - {None}
        total = 0
        for n in files:
            b = sized.get(n)
            if b is None:
                try:
                    b = os.path.getsize(self.table._abs(n))
                except OSError:
                    b = 0
            total += b
        return len(files), total

    def latestOffset(self) -> dict:
        latest = self.table.latest_version()
        if self.max_files is None and self.max_bytes is None:
            return {"version": latest}
        pos = self._pos if self._pos is not None else self._load_hint()
        if pos is None:
            # clean-restart with no persisted hint: the API gives us no
            # start offset, so this one batch is uncapped; partitions()
            # teaches the position and every later batch honors the cap
            self._save_hint(latest)
            return {"version": latest}
        if latest <= pos:
            return {"version": pos}
        files = nbytes = 0
        end, exhausted = pos, True
        for v, entry, units in self.table._change_plan(pos, latest, self.cdf):
            f, b = self._admission_cost(entry, units)
            over = (
                self.max_files is not None and files + f > self.max_files
            ) or (self.max_bytes is not None and nbytes + b > self.max_bytes)
            if over and end > pos:  # at-least-one-commit progress
                exhausted = False
                break
            files += f
            nbytes += b
            end = v
            if over:
                exhausted = False
                break
        if exhausted:
            end = latest  # sweep trailing metadata-only commits too
        self._save_hint(end)
        return {"version": end}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        # every planned batch (incl. the restart replay of the last
        # offset-log batch) tells us where the stream really is —
        # keep the max: a replay must not move the position backwards
        v = max(start["version"], end["version"])
        if self._pos is None or v > self._pos:
            self._pos = v
        self._check_widening(start["version"], end["version"])
        t = self.table
        vectors = t._mask_vectors()
        parts: list[TxLogPartition] = []
        for v, entry, units in t._change_plan(
            start["version"], end["version"], self.cdf
        ):
            for u in units:
                if u.kind == "rebuild":  # a source partition cannot join
                    raise ValueError(
                        f"streaming change feed crossed a '{entry['op']}' "
                        f"commit at version {v} of {t.path} without CDC "
                        "sidecars; enable set_change_data_feed(True) before "
                        "such commits (batch read_changes can still "
                        "reconstruct this range)"
                    )
                show = tuple(map(t._abs, vectors(u.show, [u.file])))
                hide = tuple(map(t._abs, vectors(u.hide, [u.file])))
                if u.show is not None and not show:
                    continue
                cdc = u.kind == "cdc"
                parts.append(
                    TxLogPartition(
                        t._abs(u.file),
                        v,
                        hide if u.show is None else (),
                        self.target_schema if cdc else self.data_schema,
                        tuple(sorted(_parse_partition_values(u.file).items())),
                        change_type=u.kind if self.cdf and not cdc else None,
                        dv_select=None if u.show is None else (show, hide),
                    )
                )
        return parts

    def read(self, partition: TxLogPartition):  # type: ignore[override]
        yield from _read_file_batches(
            partition.file_path,
            partition.commit_version,
            partition.dv_paths,
            partition.target_schema,
            partition.partition_values,
            change_type=partition.change_type,
            dv_select=partition.dv_select,
        )

    def commit(self, end: dict) -> None:
        # the log is the source of truth; nothing to release — but a
        # committed end is also a position floor (belt-and-braces: the
        # batch's partitions() call already taught us this)
        v = end["version"]
        if self._pos is None or v > self._pos:
            self._pos = v


def _to_physical_batch(batch: "pa.RecordBatch", meta: dict | None):
    """Writer-side column mapping (r9): rename the incoming LOGICAL
    column names to their physical storage names; refuse a new column
    whose name collides with a retired physical (same rule as
    ``TxTable._to_physical`` — dropped bytes must not resurrect)."""
    import pyarrow as pa

    if not meta:
        return batch
    mapping = meta.get("mapping") or {}
    owned = set(mapping.values()) | set(meta.get("dropped") or [])
    names = []
    for n in batch.schema.names:
        if n in mapping:
            names.append(mapping[n])
        elif n in owned:
            raise ValueError(
                f"column {n!r} collides with a physical column owned by"
                " a renamed or dropped column; pick a different name"
            )
        else:
            names.append(n)
    if names == list(batch.schema.names):
        return batch
    return pa.RecordBatch.from_arrays(list(batch.columns), names=names)


def _hive_component(col: str, val) -> str:
    """One ``col=value`` hive path component, percent-escaped exactly
    as Spark's own writer escapes (see txlog._parse_partition_values's
    inverse); None becomes the hive null sentinel."""
    from urllib.parse import quote

    from hephaestus_spark.sources.txlog import _HIVE_NULL

    raw = _HIVE_NULL if val is None else str(val)
    return f"{quote(col, safe='')}={quote(raw, safe='') if val is not None else raw}"


def _write_task_file(
    path: str, iterator, pcols: "list[str] | None" = None
) -> TxLogCommitMessage:
    """Executor-side: land this task's Arrow batches as parquet in the
    table dir — ONE file for unpartitioned writes, one file per
    partition-value combination under ``col=value/`` hive dirs when
    ``pcols`` is set (r10: the same layout TxTable._stage produces, so
    the log records partitionValues and partition pruning works on
    connector-written files). Invisible until a log entry references
    them. Under an active column mapping the task translates logical
    -> physical names (the mapping is read once from the table's own
    log — a filesystem path the task already has)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from pyspark import TaskContext

    meta = TxTable(path)._fold_state()[3] if os.path.isdir(path) else None
    batches = [_to_physical_batch(b, meta) for b in iterator if b.num_rows]
    if not batches:
        return TxLogCommitMessage(names=[])
    pid = TaskContext.get().partitionId() if TaskContext.get() else 0
    os.makedirs(path, exist_ok=True)  # first write creates the table
    if not pcols:
        name = f"part-stream-{uuid.uuid4().hex[:12]}-{pid:05d}.parquet"
        pq.write_table(pa.Table.from_batches(batches), os.path.join(path, name))
        return TxLogCommitMessage(names=[name])
    mapping = (meta or {}).get("mapping") or {}
    phys_pcols = [mapping.get(c, c) for c in pcols]
    tbl = pa.Table.from_batches(batches)
    missing = [c for c in phys_pcols if c not in tbl.schema.names]
    if missing:
        raise ValueError(f"partition columns {missing} not in the written data")
    combos = (
        tbl.select(phys_pcols).group_by(phys_pcols).aggregate([]).to_pylist()
    )
    names: list[str] = []
    for combo in combos:
        m = None
        for c in phys_pcols:
            v = combo[c]
            cond = (
                pc.is_null(tbl.column(c))
                if v is None
                else pc.equal(tbl.column(c), v)
            )
            m = cond if m is None else pc.and_(m, cond)
        part = tbl.filter(m).drop_columns(phys_pcols)
        rel_dir = "/".join(_hive_component(c, combo[c]) for c in phys_pcols)
        os.makedirs(os.path.join(path, rel_dir), exist_ok=True)
        name = f"{rel_dir}/part-stream-{uuid.uuid4().hex[:12]}-{pid:05d}.parquet"
        pq.write_table(part, os.path.join(path, name))
        names.append(name)
    return TxLogCommitMessage(names=names)


def _remove_task_files(path: str, messages) -> None:
    for m in messages:
        if m is None:
            continue
        for n in m.names:
            try:
                os.remove(os.path.join(path, n))
            except OSError:
                pass


class TxLogStreamWriter(DataSourceStreamArrowWriter):
    """Exactly-once streaming sink. Tasks write parquet directly into
    the table dir (invisible until committed — readers trust the log);
    the driver-side commit records (app_id, batchId) through the txn
    map, so restarts replaying a batch add nothing twice. Subclassing
    the ARROW writer means tasks receive RecordBatches — column data
    flows Spark→Arrow→parquet without row materialization."""

    def __init__(self, path: str, app_id: str, pcols=None, schema=None):
        self.path = path
        self.app_id = app_id
        self.pcols = pcols
        self.spark_schema = schema

    def write(self, iterator) -> TxLogCommitMessage:
        return _write_task_file(self.path, iterator, self.pcols)

    def commit(self, messages, batchId: int) -> None:
        # the first batch CREATES a partitioned table, with the (app,
        # batch) txn riding the creation commit so a redelivery of
        # batch 0 after a restart adds nothing
        TxTable(self.path)._append_commit(
            names=[n for m in messages if m is not None for n in m.names],
            pcols=self.pcols,
            schema=self.spark_schema,
            txn={"app": self.app_id, "batch": batchId},
        )

    def abort(self, messages, batchId: int) -> None:
        _remove_task_files(self.path, messages)


class TxLogBatchWriter(DataSourceArrowWriter):
    """Batch write path: ``df.write.format("txlog").mode("append" |
    "overwrite").save(path)``. Tasks land Arrow batches as parquet in
    the table dir (invisible until the log references them); the
    driver commit is a blind append, or an overwrite committing
    add(new)+remove(current snapshot) in one version — time travel to
    pre-overwrite versions keeps working."""

    def __init__(
        self, path: str, overwrite: bool, pcols=None, schema=None,
        dynamic: bool = False,
    ):
        self.path = path
        self.overwrite = overwrite
        self.pcols = pcols
        self.spark_schema = schema
        self.dynamic = dynamic

    def write(self, iterator) -> TxLogCommitMessage:
        return _write_task_file(self.path, iterator, self.pcols)

    def commit(self, messages) -> None:
        names = [n for m in messages if m is not None for n in m.names]
        t = TxTable(self.path)
        # an empty append commits nothing, unless it creates a
        # partitioned table
        if names or self.overwrite or (self.pcols and t.latest_version() < 0):
            # the first write creates a partitioned table; Spark's
            # partitionOverwriteMode=dynamic replaces exactly the
            # partitions the written files carry, keeping the rest
            t._append_commit(
                names=names,
                pcols=self.pcols,
                schema=self.spark_schema,
                overwrite=(
                    "partitions" if self.overwrite and self.dynamic
                    else self.overwrite
                ),
            )

    def abort(self, messages) -> None:
        _remove_task_files(self.path, messages)


class TxLogDataSource(DataSource):
    """format("txlog") — see module docstring. Options:

    - ``path``: table directory (required; ``.load(path)`` sets it)
    - ``version``: batch time travel (optional)
    - ``startingVersion``: stream start, exclusive (default -1 = all)
    - ``maxFilesPerTrigger`` / ``maxBytesPerTrigger``: streaming
      admission control (r12) — cap the data files / bytes a single
      micro-batch admits from the backlog (Delta's contract: at least
      one commit always goes through; exactly-once is unaffected).
      ``maxBytesPerTrigger`` accepts plain ints or ``10m``/``1g``.
    - ``streamId``: names the per-stream admission position hint
      (only relevant when several capped streams read one table)
    - ``onSchemaWidening`` (streaming, r14): ``fail`` (default) stops
      the query when a widening commit lands mid-stream — restart
      picks up the new schema exactly-once; ``project`` keeps the
      RUNNING instance serving its declared columns (documented
      down-projection). The option governs the live query only: an
      auto-schema restart re-resolves the wider schema regardless —
      pin a projection ACROSS restarts with an explicit
      ``.schema(...)`` (narrower-than-table implies ``project``).
    - ``appId``: stream-writer txn app id (default
      ``txlog-writer-<table basename>``)
    """

    @classmethod
    def name(cls) -> str:
        return "txlog"

    def _path(self) -> "str | None":
        """The table directory as a LOCAL filesystem path. The SQL DDL
        route (r11, VERDICT r10 #5 — ``CREATE TABLE t USING txlog
        LOCATION '...'``) hands the catalog's location down as a
        ``file:`` URI; the log layer is os-level, so normalize it.
        Non-file schemes pass through untouched (they fail later with
        the honest missing-directory error)."""
        path = self.options.get("path")
        if path and path.startswith("file:"):
            from urllib.parse import unquote, urlparse

            path = unquote(urlparse(path).path)
        return path

    def _table(self) -> TxTable:
        path = self._path()
        if not path:
            raise ValueError("format('txlog') requires .load(<table path>)")
        return TxTable(path)

    def _cdf(self) -> bool:
        return str(self.options.get("readchangefeed", "")).lower() in (
            "true",
            "1",
        )

    def schema(self) -> StructType:
        from pyspark.sql.pandas.types import from_arrow_schema

        v = self.options.get("version")
        base = from_arrow_schema(
            _table_schema(self._table(), None if v is None else int(v))
        )
        fields = list(base.fields)
        if self._cdf():
            fields.append(StructField("_change_type", StringType(), False))
        return StructType(
            fields + [StructField(VERSION_COL, LongType(), False)]
        )

    def reader(self, schema: StructType) -> TxLogBatchReader:
        if self._cdf():
            raise ValueError(
                "readChangeFeed is a STREAMING option"
                " (spark.readStream.format('txlog')); for a batch change"
                " feed use TxTable.read_changes"
            )
        v = self.options.get("version")
        table = self._table()
        # pin "latest" NOW: pushFilters and partitions() are separate
        # planning calls, and a commit landing between them must not
        # make the scan a mix of two snapshots (files added after the
        # prune would be silently dropped by the stale keep-set)
        version = table.latest_version() if v is None else int(v)
        return TxLogBatchReader(
            table,
            version,
            _attach_physical(_declared_arrow_schema(schema), table, version),
        )

    def streamReader(self, schema: StructType) -> TxLogStreamReader:
        table = self._table()
        mf = self.options.get("maxfilespertrigger")
        mb = self.options.get("maxbytespertrigger")
        return TxLogStreamReader(
            table,
            int(self.options.get("startingversion", -1)),
            _attach_physical(_declared_arrow_schema(schema), table, None),
            cdf=self._cdf(),
            max_files=int(mf) if mf is not None else None,
            max_bytes=_parse_byte_limit(mb) if mb is not None else None,
            stream_id=self.options.get("streamid"),
            on_widening=self.options.get("onschemawidening", "fail"),
        )

    def _pcols(self) -> "list[str] | None":
        # `.option("partitionBy", "day,region")` — the Python Data
        # Source API does not forward DataFrameWriter.partitionBy, so
        # the declaration rides an option (r10)
        pb = self.options.get("partitionby")
        return [c.strip() for c in pb.split(",") if c.strip()] if pb else None

    def writer(self, schema: StructType, overwrite: bool) -> TxLogBatchWriter:
        path = self._path()
        if not path:
            raise ValueError("txlog batch sink requires .save(<table path>)")
        dynamic = (
            self.options.get("partitionoverwritemode", "").lower() == "dynamic"
        )
        return TxLogBatchWriter(path, overwrite, self._pcols(), schema, dynamic)

    def streamWriter(self, schema: StructType, overwrite: bool) -> TxLogStreamWriter:
        if overwrite:
            raise ValueError("txlog stream sink is append-only (exactly-once txn)")
        path = self._path()
        if not path:
            raise ValueError("txlog stream sink requires .option('path', ...)")
        app = self.options.get(
            "appid", f"txlog-writer-{os.path.basename(os.path.normpath(path))}"
        )
        return TxLogStreamWriter(path, app, self._pcols(), schema)


def register_sql_table(
    spark, name: str, path: str, version: "int | None" = None
) -> None:
    """Expose a txlog table to PURE SQL (r11, VERDICT r10 #5): after
    ``register_sql_table(spark, "events", "/data/events")``,
    ``spark.sql("SELECT ... FROM events ...")`` serves the table with
    the native connector's full machinery — log-owned schema, zone-map
    filter pushdown, deletion vectors, time travel via ``version``.
    The view wraps the DataFrame read lazily, so Catalyst pushes each
    query's filters into the connector exactly as for the reader API.

    Why a view and not ``CREATE TABLE ... USING txlog``: Spark 4.1.2's
    catalog DDL route *parses and persists* such tables (the probe in
    tests/test_txlog_sql.py pins it), but
    ``PythonDataSourceV2.getTable(schema, partitioning, properties)``
    drops the properties map on the floor — verified against the
    shipped bytecode — so a catalog-table SELECT reaches the reader
    with EMPTY options and no way to find the table directory. Until
    that upstream gap closes (the pinned probe will flip red and flag
    it), the view is the SQL surface."""
    spark.dataSource.register(TxLogDataSource)
    reader = spark.read.format("txlog").option("path", path)
    if version is not None:
        reader = reader.option("version", int(version))
    reader.load().createOrReplaceTempView(name)


def drain_capped(
    writer,
    processing_time: str = "0 seconds",
    await_seconds: float = 600.0,
    table_path: "str | None" = None,
    checkpoint_location: "str | None" = None,
    stream_id: str = "default",
    starting_version: int = -1,
):
    """AvailableNow semantics WITH admission control honored (r13,
    VERDICT r12 #2): drain every commit available in the source in
    cap-sized micro-batches, then terminate.

    Why this exists: Spark wraps Python data sources in
    ``AvailableNowDataStreamWrapper``, which memorizes ONE
    ``latestOffset`` at query start and serves it as the single
    batch's end — so a FRESH ``Trigger.AvailableNow`` run against a
    deep backlog takes the ENTIRE history as one uncapped batch
    (pinned caveat, tests/test_txlog_datasource.py). Backfill over
    deep history is precisely where the cap matters most at 100 TB.
    Under a ``processingTime`` trigger the engine re-asks
    ``latestOffset`` every tick, so the reader's
    ``maxFilesPerTrigger``/``maxBytesPerTrigger`` walk applies to
    every batch; ``processAllAvailable()`` blocks until the offset
    stops advancing — i.e. the backlog (plus anything that arrived
    during the drain) is fully served — and then the query stops.

    Exactly-once across restarts is the engine's own contract, not
    this helper's: offsets live in the writer's ``checkpointLocation``
    offset/commit logs, so a drain killed mid-backlog resumes at the
    next ``drain_capped`` call, replaying only the last uncommitted
    batch (same guarantee as any restarted micro-batch stream). A
    killed drain therefore never duplicates or skips rows as long as
    the sink is the same checkpointed sink.

    ``writer``: a fully-configured ``DataStreamWriter`` (sink format,
    ``checkpointLocation``, options) — everything EXCEPT the trigger,
    which this helper owns. Returns a summary dict:
    ``{"batches": <micro-batches that carried rows>, "rows": <total
    input rows>}`` (from the query's progress feed; empty heartbeat
    ticks are not counted).

    ``table_path`` + ``checkpoint_location`` (recommended): lets the
    helper pre-seed the admission position for a FRESH query via
    :func:`seed_admission_position`, so the cap applies from the very
    first micro-batch (the engine asks ``latestOffset`` before
    ``initialOffset``, so an unseeded fresh reader must serve batch
    one uncapped — see the reader docstring). Without them the drain
    still terminates correctly; only batch one of a brand-new query
    is uncapped. ``stream_id``/``starting_version`` must match the
    reader options (``streamId``/``startingVersion``) when set."""
    if table_path is not None and checkpoint_location is not None:
        seed_admission_position(
            table_path, checkpoint_location, stream_id, starting_version
        )
    q = writer.trigger(processingTime=processing_time).start()
    try:
        q.processAllAvailable()
        progress = q.recentProgress
        batches = 0
        rows = 0
        for p in progress:
            n = int(p.get("numInputRows", 0) or 0)
            if n > 0:
                batches += 1
                rows += n
    finally:
        q.stop()
        try:
            q.awaitTermination(int(await_seconds))
        except Exception:
            pass
    return {"batches": batches, "rows": rows}
