"""Measurement plumbing: span recorder, Spark status REST reader,
streaming progress listener, process-tree RSS sampler and host CPU
counters. Spans are kept in memory and written once, at the end."""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import os
import threading
import time
import urllib.request
from collections import defaultdict

from hephaestus_spark.observability import MetricsListener

RSS_INTERVAL_S = 0.25  # process-tree RSS sampling period
# progress events arrive asynchronously: a listener is drained once none
# came for QUIET_S seconds, or after QUIET_LIMIT_S
QUIET_S, QUIET_LIMIT_S = 0.5, 5.0


class Tracer:
    """Records spans (name, start, end, parent, run id) at layer
    boundaries. Disabled, ``span`` costs one attribute test.

    The parent is the innermost open span of the calling thread; a span
    opened on another thread (the streaming ``foreachBatch`` callback)
    takes the innermost span the main thread has open."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.enabled = False
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._main_stack: list[int] = []
        self._main = threading.get_ident()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if threading.get_ident() == self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        stack = self._stack()
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None
        )
        sid = next(self._ids)
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield attrs
        finally:
            end = time.perf_counter()
            stack.pop()
            self.spans.append({
                "id": sid, "name": name, "start": start, "end": end,
                "parent": parent, "run": self.run_id, **attrs,
            })

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` with a version that runs inside a span;
        ``after(span_attrs, result, args)`` may add counts to the span."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name) as rec:
                result = original(*args, **kwargs)
                if after is not None and self.enabled:
                    after(rec, result, args)
            return result

        self._patched.append((owner, attr, original))
        setattr(owner, attr, traced)

    def unwrap_all(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")


class ProgressListener(MetricsListener):
    """``MetricsListener`` that also keeps every trigger's
    ``durationMs`` breakdown (addBatch, queryPlanning, walCommit, ...)."""

    def __init__(self) -> None:
        super().__init__()
        self.durations: list[dict] = []

    def onQueryProgress(self, event) -> None:  # noqa: N802
        super().onQueryProgress(event)
        self.durations.append(dict(event.progress.durationMs or {}))

    def wait_quiet(self) -> None:
        """Wait until no event came for QUIET_S seconds."""
        end, seen = time.monotonic() + QUIET_LIMIT_S, -1
        while time.monotonic() < end and seen != len(self.durations):
            seen = len(self.durations)
            time.sleep(QUIET_S)


def stage_totals_by_group(spark) -> dict[str, dict[str, float]]:
    """Executor CPU seconds, shuffle-write and spill bytes summed per
    job group, from the Spark status REST API."""
    sc = spark.sparkContext
    port = sc.uiWebUrl.rsplit(":", 1)[1]
    base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def get(path: str):
        with urllib.request.urlopen(base + path, timeout=30) as r:
            return json.load(r)

    # the status store is fed asynchronously: wait until it has caught up
    seen = -1
    for _ in range(50):
        jobs = get("/jobs")
        if len(jobs) == seen and all(j["status"] != "RUNNING" for j in jobs):
            break
        seen = len(jobs)
        time.sleep(0.1)
    group_of_stage = {}
    for j in jobs:
        for sid in j.get("stageIds", []):
            group_of_stage[sid] = j.get("jobGroup") or ""
    out: dict[str, dict[str, float]] = defaultdict(
        lambda: {"executor_cpu_s": 0.0, "shuffle_bytes": 0.0, "spill_bytes": 0.0}
    )
    for st in get("/stages"):
        g = group_of_stage.get(st["stageId"])
        if g is None:
            continue
        acc = out[g]
        acc["executor_cpu_s"] += st.get("executorCpuTime", 0) / 1e9
        acc["shuffle_bytes"] += st.get("shuffleWriteBytes", 0)
        acc["spill_bytes"] += st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)
    return dict(out)


def _tree_rss_bytes(root: int) -> int:
    children: dict[int, list[int]] = defaultdict(list)
    rss: dict[int, int] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
            with open(f"/proc/{d}/statm") as f:
                rss[int(d)] = int(f.read().split()[1]) * page
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children[ppid].append(int(d))
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo.extend(children.get(pid, []))
    return total


class RssSampler:
    """Peak resident memory of this process and every descendant (the
    JVM and its Python workers), sampled every RSS_INTERVAL_S seconds."""

    def __init__(self) -> None:
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))
            self._stop.wait(RSS_INTERVAL_S)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))


def cpu_counters() -> tuple[int, int]:
    """(steal jiffies, total jiffies) from the aggregate /proc/stat line."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    steal = fields[7] if len(fields) > 7 else 0
    return steal, sum(fields[:8])
