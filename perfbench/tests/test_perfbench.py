"""Tests of the benchmark itself: deterministic generators, the Python
models against the real pipelines on tiny inputs, metric naming, and the
traced run's output.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import pathlib
import re
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

from perfbench import gen
from perfbench import workloads as wl
from perfbench.trace import Tracer

ROOT = pathlib.Path(__file__).resolve().parents[2]
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
NAME = re.compile(r"[A-Za-z0-9_.-]+")


def test_employee_feed_is_deterministic_per_seed():
    a, b, c = gen.EmployeeFeed(3, 500), gen.EmployeeFeed(3, 500), gen.EmployeeFeed(4, 500)
    assert a.payloads() == b.payloads() != c.payloads()
    a.change()
    b.change()
    assert a.payloads() == b.payloads()


def test_lake_deltas_are_deterministic_per_seed():
    x, y, z = (gen.LakeDeltas(seed, 20_000, 4) for seed in (5, 5, 6))
    assert x.upsert() == y.upsert() != z.upsert()
    assert [x.lookup_key() for _ in range(20)] == [y.lookup_key() for _ in range(20)]


def test_lake_upserts_stay_inside_one_file_range():
    d = gen.LakeDeltas(1, 20_000, 4)  # keys 0..39999, a span of 10k per file
    for batch in range(6):
        keys = [r[0] for r in d.upsert()]
        f = batch % 4
        assert 10_000 * f <= min(keys) and max(keys) < 10_000 * (f + 1)


def test_tables_are_deterministic_per_seed(tmp_path):
    for d, seed in (("a", 9), ("b", 9), ("c", 10)):
        gen.write_tables(str(tmp_path / d), seed, 0.001)
    for t in ("lineitem", "events", "documents", "embeddings"):
        a, b, c = (pq.read_table(tmp_path / d / f"{t}.parquet") for d in "abc")
        assert a.equals(b) and not a.equals(c)


def test_metric_names_are_well_formed():
    for m in SPEC["end_to_end"] + SPEC["per_layer"]:
        assert NAME.fullmatch(m["name"]) and len(m["name"]) <= 64
    assert {w["name"] for w in SPEC["workloads"]} == set(wl.WORKLOADS)


def test_query_set_is_drawn_from_the_headline():
    sys.path.insert(0, str(ROOT))
    import bench

    assert set(wl.QUERY_SET) <= set(bench.HEADLINE)


def _drive(cls, spark, tmp_path, steps):
    w = cls(spark, Tracer("test"), str(tmp_path), seed=7)
    try:
        w.generate()
        w.warm_up()
        for i in range(steps):
            w.step(i)
        w.after_trace()
        w.check()
    finally:
        w.close()
    return w


def test_employee_model_matches_pipeline(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(wl, "EMPLOYEES", 300)
    monkeypatch.setattr(wl, "CHANGE_EVERY", 2)
    w = _drive(wl.SyncEmployees, spark, tmp_path, 4)
    assert w.failures == []
    # the check sees a wrong row
    some = next(iter(w.model.snapshot))
    w.model.snapshot[some] = ("x",) * 5
    w.check()
    assert w.failures and "snapshot" in w.failures[0]


def test_lake_query_matches_model_and_oracle(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(wl, "LAKE_ROWS", 12_000)
    monkeypatch.setattr(wl, "QUERY_PASSES", 1)
    w = _drive(wl.LakeQuery, spark, tmp_path, wl.LakeQuery.ROUND + 1)
    assert w.failures == []
    assert set(w.results) == set(wl.QUERY_SET)
    key = next(iter(w.deltas.latest))
    w.deltas.latest[key] = (key, "wrong", 0.0)
    w.check()
    assert w.failures


# the layers each workload runs; every metric there must have been
# measured, and only these two may legitimately read 0
OWN_LAYERS = {
    "sync_employees": ("sources.http2grpc.", "sources.grpc_source.", "streaming."),
    "lake_query": ("sources.txlog.", "queries."),
}
MAY_BE_ZERO = {"sources.grpc_source.retries", "queries.spill_bytes"}


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_traced_run_emits_every_per_layer_metric(workload):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "2",
         "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=400, check=True,
    ).stdout.strip().splitlines()
    result = json.loads(out[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, out[-2]
    assert [(k, v["unit"]) for k, v in result["metrics"].items()] == [
        (m["name"], m["unit"]) for m in SPEC["per_layer"]
    ]
    own = [
        k for k in result["metrics"]
        if k.startswith(("session.",) + OWN_LAYERS[workload]) and k not in MAY_BE_ZERO
    ]
    assert own
    assert [k for k in own if not result["metrics"][k]["value"] > 0] == []
