"""The benchmark's workloads and the closed loop that drives them.

Every workload drives the package through public calls only, from one
process, one client and (for the sync workload) one loopback gRPC
connection. There are two workloads, not one per layer: every run pays
20-40 s of JVM start and warm-up before it measures anything, and the
whole set of benchmark runs must fit its time budget, so the txlog and
query layers share one process.

A run is: session start, input generation, warm-up (all counted in
``setup_s``), then a closed loop of the workload's operations for
``--seconds`` seconds and at least its fixed minimum sample, then the
correctness checks. A traced run has two loops of half that sample, the
second with span recording, Spark job groups and a streaming progress
listener switched on, then the work only a traced run does
(``after_trace``), and reports per-layer numbers from those only.
"""

from __future__ import annotations

import datetime
import os
import time
from statistics import median

from pyspark.sql import SparkSession

from perfbench import gen, model
from perfbench.trace import ProgressListener, Tracer, stage_totals_by_group

# Four of the bench.py headline queries (bench.HEADLINE), one per plan
# shape: shuffle join, ranking window, the SCD-1 merge and simhash text
# hashing. More do not fit the run budget: a traced run pays a cold pass
# (~30 s for all 25 on 4 cores, 2-3 s per query after the first).
# Frozen here so that a change to bench.py cannot change the benchmark.
QUERY_SET = ["q03_join_inner", "q12_window_rank", "q23_scd1_merge", "x_simhash"]
QUERY_PASSES = 3  # timed passes over QUERY_SET in a traced run

EMPLOYEES = 20_000  # employee snapshot size
CHANGE_EVERY = 5  # every k-th employee tick carries a changed snapshot
QUERY_SCALE = 0.01  # 60k lineitems
LAKE_ROWS, LAKE_FILES = 200_000, 8
LOOKUPS_PER_MERGE = 4
# untimed lake rounds before the loop: upsert and lookup latencies fall by
# ~40% over the first five rounds, then stay level
LAKE_WARMUP_ROUNDS = 4

FEED_EPOCH = datetime.date(2024, 1, 1)


def tail(xs) -> tuple[float, float, int] | None:
    """(value, percentile, samples) for the highest percentile that has
    at least ten samples above it; None when there are too few."""
    xs = sorted(xs)
    n = len(xs)
    if n < 11:
        return None
    return xs[n - 11], 100.0 * (n - 10) / n, n


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def span_s(spans: list[dict]) -> list[float]:
    return [s["end"] - s["start"] for s in spans]


class Workload:
    """One closed loop. ``step`` runs one operation and returns the
    latency of each timed part by kind: ``op`` is the workload's main
    operation and ``fast`` its quick one.

    MIN_OPS is the fewest main operations an untraced run times, whatever
    --seconds says. Main operations take seconds and still speed up as
    the JVM compiles, so a run's medians compare with another's only at a
    fixed count. The counts decide a run's length, and the whole set of
    benchmark runs must fit its time budget.

    ``layer_metrics`` takes medians with ``statistics.median``, which
    raises on no samples, so a layer that recorded nothing fails the run
    instead of reading 0."""

    def __init__(self, spark: SparkSession, tracer: Tracer, work: str, seed: int):
        self.spark, self.tracer, self.work, self.seed = spark, tracer, work, seed
        self.failures: list[str] = []
        self.checks = 0

    def fail(self, what: str) -> None:
        self.failures.append(what)

    def generate(self) -> None: ...

    def warm_up(self) -> None: ...

    def step(self, i: int) -> dict[str, float]: ...

    MIN_OPS = 1

    def enough(self, samples: dict[str, list[float]], ops: int) -> bool:
        """At least ``ops`` main operations, and the loop may stop here."""

    def trace_on(self) -> None: ...

    def after_trace(self) -> None:
        """Work only a traced run does, after its loop, with tracing on."""

    def layer_metrics(self) -> dict[str, float]:
        return {}

    def check(self) -> None: ...

    def close(self) -> None: ...

    def job_group(self, group: str) -> None:
        if self.tracer.enabled:
            self.spark.sparkContext.setJobGroup(group, group)


# --------------------------------------------------------------------------
# employee sync: gRPC socket -> FeedPoller -> streaming pipeline
# --------------------------------------------------------------------------


class SyncEmployees(Workload):
    """Employee snapshot feed of ~20k rows served over one loopback
    gRPC connection. Most ticks are unchanged and end at the hash
    handshake; every CHANGE_EVERY-th tick carries a snapshot with ~1% of
    rows changed, which is polled, landed and merged by
    ``run_available_now``."""

    MIN_OPS = 6

    def generate(self) -> None:
        from hephaestus_spark.sources.grpc_source import (
            InProcessTransport,
            SocketGrpcTransport,
            serve_transport,
        )

        self.feed = gen.EmployeeFeed(self.seed, EMPLOYEES)
        self.upstream = InProcessTransport(employee_payloads=self.feed.payloads())
        self.server = serve_transport(self.upstream)
        self.client = SocketGrpcTransport("127.0.0.1", self.server.port)

    def warm_up(self) -> None:
        from hephaestus_spark.sources.grpc_source import FeedPoller
        from hephaestus_spark.streaming.pipeline import EmployeeSyncPipeline

        w = self.work
        self.poller = FeedPoller(transport=self.client, employee_feed_dir=f"{w}/emp_feed")
        self.pipe = EmployeeSyncPipeline(f"{w}/emp_feed", f"{w}/emp_snapshot", f"{w}/emp_wm")
        self.model = model.EmployeeModel()
        self.tick = 0
        # the initial sync lands the whole snapshot; one more changed tick
        # and a skip tick follow, because the first changed tick after the
        # initial sync reads ~25% slower and spreads twice as wide
        self.step(-1)
        self.tick = CHANGE_EVERY
        self.step(-1)
        self.step(-1)

    def step(self, i: int) -> dict[str, float]:
        changed = self.tick > 0 and self.tick % CHANGE_EVERY == 0
        if changed:  # upstream edits its data between polls (not timed)
            self.feed.change()
            self.upstream.employee_payloads = self.feed.payloads()
        date = FEED_EPOCH + datetime.timedelta(days=self.tick)
        self.tick += 1
        t0 = time.perf_counter()
        self.job_group("sources.grpc_source")
        n = self.poller.poll_employees_once(self.spark, date)
        if n:
            self.job_group("streaming.pipeline")
            with self.tracer.span("streaming.pipeline.run"):
                self.pipe.run_available_now(self.spark)
        dt = time.perf_counter() - t0
        landed = self.tick == 1 or changed
        if n != (len(self.feed.rows) if landed else 0):
            self.fail(f"tick {self.tick - 1}: polled {n} rows")
        if landed:
            self.model.apply(self.feed.rows, date)
        if self.tracer.enabled:  # outside the timed tick
            for m in self.tracer.named("streaming.sinks.merge"):
                if "bytes_written" not in m:
                    m["bytes_written"] = dir_bytes(m["target"])
        return {"op": dt} if landed else {"fast": dt}

    def enough(self, samples, ops) -> bool:
        return len(samples["op"]) >= ops and bool(samples["fast"])

    def trace_on(self) -> None:
        from hephaestus_spark.sources.grpc_source import FeedPoller
        from hephaestus_spark.sources.http2grpc import Http2GrpcClient
        from hephaestus_spark.streaming import sinks

        def rpc_bytes(rec, result, _args):
            rec["bytes"] = len(result)

        def poll_rows(rec, result, _args):
            rec["rows"] = result

        def merged(rec, result, args):
            rec["rows_written"] = sum(result.values())
            rec["rows_changed"] = result.get("insert", 0) + result.get("update", 0)
            rec["target"] = args[0].path  # its size is taken after the tick

        t = self.tracer
        t.wrap(Http2GrpcClient, "call", "sources.http2grpc.call", rpc_bytes)
        t.wrap(FeedPoller, "poll_employees_once", "sources.grpc_source.poll", poll_rows)
        t.wrap(sinks, "batch_fingerprint", "streaming.sinks.fingerprint")
        t.wrap(sinks.ParquetSnapshotTarget, "merge_batch", "streaming.sinks.merge", merged)
        t.wrap(sinks.WatermarkTable, "write", "streaming.sinks.watermark")
        self.listener = ProgressListener()
        self.spark.streams.addListener(self.listener)

    def layer_metrics(self) -> dict[str, float]:
        t = self.tracer
        self.listener.wait_quiet()
        self.spark.streams.removeListener(self.listener)
        rpcs = t.named("sources.http2grpc.call")
        polls = t.named("sources.grpc_source.poll")
        landed = [p for p in polls if p.get("rows")]
        landed_ids = {p["id"] for p in landed}
        rpc_in = {}
        for r in rpcs:
            rpc_in[r["parent"]] = rpc_in.get(r["parent"], 0.0) + r["end"] - r["start"]
        runs = span_s(t.named("streaming.pipeline.run"))
        durs = self.listener.durations
        trig = [d["triggerExecution"] for d in durs]
        merges = t.named("streaming.sinks.merge")
        cpu = stage_totals_by_group(self.spark)["sources.grpc_source"]["executor_cpu_s"]
        changed_in_bytes = sum(r["bytes"] for r in rpcs if r["parent"] in landed_ids)
        return {
            "sources.http2grpc.rpc_calls": len(rpcs),
            "sources.http2grpc.rpc_p50_ms": 1e3 * median(span_s(rpcs)),
            "sources.http2grpc.response_bytes": sum(r["bytes"] for r in rpcs),
            "sources.grpc_source.land_s": median(
                [p["end"] - p["start"] - rpc_in.get(p["id"], 0.0) for p in landed]
            ),
            "sources.grpc_source.rows_landed": sum(p["rows"] for p in landed),
            "sources.grpc_source.skip_ratio": (len(polls) - len(landed)) / len(polls),
            "sources.grpc_source.retries": len(rpcs) - len(polls),
            "sources.grpc_source.land_executor_cpu_s": cpu / len(landed),
            "streaming.pipeline.run_s": median(runs),
            "streaming.pipeline.stream_overhead_s": (sum(runs) - sum(trig) / 1e3) / len(runs),
            "streaming.pipeline.trigger_ms": median(trig),
            **{
                f"streaming.pipeline.{k}_ms": median([d[k] for d in durs if k in d])
                for k in ("addBatch", "queryPlanning", "walCommit", "latestOffset")
            },
            "streaming.sinks.fingerprint_s": median(
                span_s(t.named("streaming.sinks.fingerprint"))
            ),
            "streaming.sinks.merge_s": median(span_s(merges)),
            "streaming.sinks.watermark_s": median(span_s(t.named("streaming.sinks.watermark"))),
            "streaming.sinks.rows_written_per_changed_row": sum(
                m["rows_written"] for m in merges
            ) / sum(m["rows_changed"] for m in merges),
            "streaming.sinks.bytes_written_per_input_byte": sum(
                m["bytes_written"] for m in merges
            ) / changed_in_bytes,
        }

    def check(self) -> None:
        from hephaestus_spark.streaming.sinks import WatermarkTable

        self.checks += 2
        got = {
            r["id"]: tuple(r[c] for c in model.EMPLOYEE_COLS)
            for r in self.spark.read.parquet(f"{self.work}/emp_snapshot").collect()
        }
        if got != self.model.snapshot:
            bad = sum(1 for k in self.model.snapshot if got.get(k) != self.model.snapshot[k])
            self.fail(f"employee snapshot: {bad} rows differ, {len(got)} vs {len(self.model.snapshot)}")
        wm = WatermarkTable(f"{self.work}/emp_wm").read(self.spark)
        if wm != self.model.watermark:
            self.fail(f"employee watermark {wm} != {self.model.watermark}")

    def close(self) -> None:
        if hasattr(self, "client"):
            self.client.close()
            self.server.stop()


# --------------------------------------------------------------------------
# txlog upsert / lookup beside the headline queries
# --------------------------------------------------------------------------


class LakeQuery(Workload):
    """A key-clustered TxTable of LAKE_ROWS rows in LAKE_FILES files.
    Each round is one keyed upsert (``gen.LAKE_UPDATES`` updates and
    ``gen.LAKE_INSERTS`` inserts inside one window of ``gen.LAKE_WINDOW``
    keys, ``merge(..., prune_on_key=True)``) and LOOKUPS_PER_MERGE point
    lookups on random live keys (``read_pruned(id, k, k)``). The main
    operation is the upsert, the quick one the lookup. The k-th upsert
    lands in the key range of file k mod LAKE_FILES, so every seed gives
    the same file layout and the same pruning. The warm-up builds the
    table and runs LAKE_WARMUP_ROUNDS rounds.

    The queries run only in a traced run, after its loop: the analytics
    tables are generated, every QUERY_SET query runs once to pandas
    (checked against the DuckDB oracle) and then QUERY_PASSES times,
    each built fresh and run cold (``clearCache``) into a ``noop`` sink.
    Keeping them out of the timed loop lets a run of the run budget's
    length measure enough upserts and lookups."""

    MIN_OPS = 10
    SCHEMA = "id long, name string, val double"
    ROUND = 1 + LOOKUPS_PER_MERGE

    def generate(self) -> None:
        self.deltas = gen.LakeDeltas(self.seed, LAKE_ROWS, LAKE_FILES)
        self.merge_stats: list[tuple[int, int, int]] = []
        self.scan_fracs: list[float] = []
        self.per_query: dict[str, list[tuple[float, float]]] = {}
        self.results = {}

    def warm_up(self) -> None:
        from hephaestus_spark.sources.txlog import TxTable

        self.table = TxTable(f"{self.work}/lake")
        # one commit of LAKE_FILES files, each holding one contiguous key
        # range; the rows are gen.lake_row of the even keys
        self.table.append(
            self.spark.range(0, LAKE_ROWS, numPartitions=LAKE_FILES)
            .selectExpr("id * 2 AS id")
            .selectExpr("id", "concat('r', id) AS name", "CAST(id AS DOUBLE) / 2 AS val")
        )
        for i in range(LAKE_WARMUP_ROUNDS * self.ROUND):
            self.step(i)

    def step(self, i: int) -> dict[str, float]:
        if i % self.ROUND == 0:
            return {"op": self.upsert()}
        return {"fast": self.lookup()}

    def upsert(self) -> float:
        rows = self.deltas.upsert()
        before = set(os.listdir(self.table.path)) if self.tracer.enabled else set()
        t0 = time.perf_counter()
        with self.tracer.span("sources.txlog.merge"):
            staged = self.spark.createDataFrame(rows, self.SCHEMA)
            self.table.merge(self.spark, staged, "id", ["name", "val"], prune_on_key=True)
        dt = time.perf_counter() - t0
        if self.tracer.enabled:
            new = set(os.listdir(self.table.path)) - before
            written = sum(
                os.path.getsize(os.path.join(self.table.path, n))
                for n in new if n.endswith(".parquet")
            )
            user = sum(16 + len(r[1].encode()) for r in rows)
            self.merge_stats.append((self.table.history()[-1]["files_removed"], written, user))
        return dt

    def lookup(self) -> float:
        k = self.deltas.lookup_key()
        t0 = time.perf_counter()
        with self.tracer.span("sources.txlog.lookup"):
            got = self.table.read_pruned(self.spark, "id", k, k).collect()
        dt = time.perf_counter() - t0
        if [tuple(r) for r in got] != [self.deltas.row(k)]:
            self.fail(f"lookup {k}: {got}")
        if self.tracer.enabled:
            keep, total = self.table.pruned_files("id", k, k)
            self.scan_fracs.append(len(keep) / total)
        return dt

    def after_trace(self) -> None:
        import hephaestus_spark.queries  # noqa: F401 — registers QUERIES
        from hephaestus_spark.registry import QUERIES

        self.data = f"{self.work}/tables"
        self.rows = gen.write_tables(self.data, self.seed, QUERY_SCALE)
        self.job_group("oracle_check")
        self.results = {n: QUERIES[n](self.spark, self.data).toPandas() for n in QUERY_SET}
        for _ in range(QUERY_PASSES):
            for name in QUERY_SET:
                self.query(QUERIES[name], name)

    def query(self, build, name: str) -> None:
        self.spark.catalog.clearCache()
        self.job_group(f"queries.{name}")
        t0 = time.perf_counter()
        with self.tracer.span("queries.build"):
            df = build(self.spark, self.data)
        t1 = time.perf_counter()
        with self.tracer.span("queries.exec", query=name):
            df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        self.per_query.setdefault(name, []).append((t1 - t0, t2 - t1))

    def enough(self, samples, ops) -> bool:
        """Whole rounds only."""
        n = len(samples["step"])
        return n >= ops * self.ROUND and n % self.ROUND == 0

    def layer_metrics(self) -> dict[str, float]:
        groups = stage_totals_by_group(self.spark)
        out = {
            "sources.txlog.merge_files_rewritten": median([m[0] for m in self.merge_stats]),
            "sources.txlog.lookup_files_scanned_frac": median(self.scan_fracs),
            "sources.txlog.log_versions": self.table.latest_version() + 1,
            "sources.txlog.bytes_written_per_user_byte": sum(m[1] for m in self.merge_stats)
            / sum(m[2] for m in self.merge_stats),
        }
        for name in QUERY_SET:
            runs = self.per_query[name]
            out[f"queries.{name}.exec_s"] = median([e for _b, e in runs])
            out[f"queries.{name}.executor_cpu_s"] = (
                groups[f"queries.{name}"]["executor_cpu_s"] / len(runs)
            )
        out["queries.build_s"] = sum(median([b for b, _e in v]) for v in self.per_query.values())
        qgroups = [v for g, v in groups.items() if g.startswith("queries.")]
        out["queries.shuffle_bytes"] = sum(v["shuffle_bytes"] for v in qgroups) / QUERY_PASSES
        out["queries.spill_bytes"] = sum(v["spill_bytes"] for v in qgroups) / QUERY_PASSES
        return out

    def check(self) -> None:
        self.check_table()
        if self.results:
            self.check_queries()

    def check_table(self) -> None:
        """Rows an upsert wrote must equal the model exactly; every other
        row must still be its initial ``gen.lake_row`` (checked Spark-side,
        so the whole table never moves to Python)."""
        self.checks += 1
        df = self.table.read(self.spark)
        written = sorted(tuple(r) for r in df.filter("name NOT LIKE 'r%'").collect())
        untouched = df.filter("name LIKE 'r%'").selectExpr(
            "count(*) AS n",
            "count_if(id % 2 = 0 AND name = concat('r', id) AND val = id / 2) AS good",
        ).first()
        latest = self.deltas.latest
        n_initial = LAKE_ROWS - sum(1 for k in latest if k % 2 == 0)
        if written != sorted(latest.values()) or untouched["n"] != untouched["good"] \
                or untouched["n"] != n_initial:
            self.fail(
                f"lake table: {len(written)} written rows for {len(latest)} in the model,"
                f" {untouched['good']} of {untouched['n']} initial rows intact,"
                f" {n_initial} expected"
            )

    def check_queries(self) -> None:
        import duckdb

        from hephaestus_spark.compare import compare_frames
        from hephaestus_spark.registry import ORACLES

        con = duckdb.connect()
        try:
            con.execute("SET threads TO 2")
            for t in ("region", "nation", "customer", "supplier", "part", "orders",
                      "lineitem", "events", "documents", "embeddings"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
            for name in QUERY_SET:
                self.checks += 1
                got = self.results[name]
                if name in ORACLES:
                    r = compare_frames(got, con.execute(ORACLES[name]).df())
                    if not r["match"]:
                        self.fail(f"{name}: {r.get('why')}")
                elif name == "x_simhash" and len(got) != self.rows["documents"]:
                    self.fail(f"x_simhash: {len(got)} rows for {self.rows['documents']} docs")
        finally:
            con.close()


WORKLOADS = {
    "sync_employees": SyncEmployees,
    "lake_query": LakeQuery,
}
