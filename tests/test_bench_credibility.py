"""Host-credibility instrumentation in bench.py (r13, VERDICT r12 #3):
steal + co-tenant CPU deltas over /proc/stat, with a per-run verdict
so a contended record self-identifies. The live test spawns DETACHED
busy loops (orphaned, so they are outside this process tree — exactly
what a co-tenant looks like) and expects the flag to fire; the quiet
window expects it not to."""

from __future__ import annotations

import os
import signal
import subprocess
import time

import pytest

from bench import _cpu_stat, _host_credibility, _proc_tree_jiffies


def test_credibility_thresholds_synthetic():
    """Deterministic threshold math over fabricated stat dicts."""
    base = dict(
        user=1000, nice=0, system=500, idle=10000, iowait=0,
        irq=0, softirq=0, steal=100, guest=0, guest_nice=0,
    )
    # quiet: +1000 idle, +10 of our own busy, steal flat
    quiet = dict(base, idle=11000, user=1010)
    c = _host_credibility(base, quiet, 0, 10)
    assert c["credible"] is True and c["steal_frac"] < 0.05
    # hypervisor steal: 10% of the delta is steal
    stolen = dict(base, idle=10900, steal=200)  # delta 1000, steal 100
    c = _host_credibility(base, stolen, 0, 0)
    assert c["credible"] is False and "hypervisor_steal" in c["reasons"]
    assert c["steal_frac"] == pytest.approx(0.1, abs=0.01)
    # co-tenant: 500 foreign busy jiffies out of 1000 total
    tenant = dict(base, user=1500, idle=10500)
    c = _host_credibility(base, tenant, 1000, 1000)
    assert c["credible"] is False and "co_tenant_cpu" in c["reasons"]
    assert c["busy_other_frac"] == pytest.approx(0.5, abs=0.01)
    # missing inputs degrade to None, never crash
    assert _host_credibility(None, quiet, 0, 0) is None
    assert _host_credibility(base, base, 0, 0) is None  # zero delta


@pytest.mark.skipif(
    not os.path.exists("/proc/stat"), reason="needs procfs"
)
def test_credibility_fires_on_load_not_on_quiet(tmp_path):
    s0, t0 = _cpu_stat(), _proc_tree_jiffies()
    assert s0 is not None and t0 is not None
    time.sleep(1.5)
    s1, t1 = _cpu_stat(), _proc_tree_jiffies()
    quiet = _host_credibility(s0, s1, t0, t1)
    assert quiet is not None
    # hypervisor steal and another tenant's CPU both mean the host was
    # not quiet: the quiet half is then skipped, the loaded half still runs
    busy_host = {"hypervisor_steal", "co_tenant_cpu"} & set(quiet.get("reasons", []))
    if not busy_host:
        assert quiet["credible"] is True, quiet

    # deliberately loaded: orphaned busy loops = co-tenant CPU.
    # The spawning shell exits immediately, so the loops reparent to
    # init and leave this test's process tree.
    pidfile = tmp_path / "pids"
    n = max(12, (os.cpu_count() or 8) // 2)
    subprocess.run(
        [
            "sh", "-c",
            f'for i in $(seq {n}); do '
            f'( while :; do :; done ) & echo $! >> "{pidfile}"; done',
        ],
        check=True,
    )
    try:
        s2, t2 = _cpu_stat(), _proc_tree_jiffies()
        time.sleep(1.5)
        s3, t3 = _cpu_stat(), _proc_tree_jiffies()
    finally:
        for line in pidfile.read_text().split():
            try:
                os.kill(int(line), signal.SIGKILL)
            except (OSError, ValueError):
                pass
    loaded = _host_credibility(s2, s3, t2, t3)
    assert loaded is not None
    assert loaded["credible"] is False, loaded
    assert "co_tenant_cpu" in loaded["reasons"], loaded
    if busy_host:
        pytest.skip(f"quiet window not quiet ({sorted(busy_host)}); loaded half passed")


def test_compact_line_has_driver_keys_and_host_verdict():
    """The printed line keeps the keys the driver parses, adds the
    host verdict, and stays under 4 kB at the 25 headline queries."""
    import json

    from bench import HEADLINE, _compact

    assert len(HEADLINE) == 25
    times = {q: 123.456 for q in HEADLINE}
    out = {
        "metric": "headline_queries_total",
        "value": 3086.4,
        "unit": "sec",
        "queries": times,
        "queries_min": times,
        "queries_first_run": times,
        "sf": 0.1,
        "calibration": {"py_loop_1t_sec": 1.0, "spark_mt32_sec": 2.0},
        "host_credibility": {
            "jiffies_total": 10_000,
            "steal_jiffies": 12,
            "steal_frac": 0.0012,
            "busy_other_frac": 0.01,
            "credible": True,
        },
        "median_semantics": "cold",
    }
    line = _compact(out)
    assert set(line) == {
        "metric", "value", "unit", "queries", "queries_first_run", "sf",
        "host_credible", "steal_frac",
    }
    assert line["host_credible"] is True and line["steal_frac"] == 0.0012
    assert len(json.dumps(line)) < 4096
