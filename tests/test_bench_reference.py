"""bench.py's recent-rounds comparator (r12, VERDICT r11 #2): the
all-time-min ratchet captured lucky samples so honest medians read as
phantom regressions; the operative reference is now the median of each
query's last-3-rounds times, reproducible by a clean re-run."""

import json

import bench


def _write(dirpath, rnd, queries, calib=None, local=False):
    rec = {"sf": 0.1, "queries": queries}
    if calib:
        rec["calibration"] = calib
    name = f"BENCH_LOCAL_r{rnd:02d}.json" if local else f"BENCH_r{rnd:02d}.json"
    (dirpath / name).write_text(json.dumps(rec))


def test_recent_reference_resists_lucky_ratchet(tmp_path, monkeypatch):
    monkeypatch.setattr(bench, "_REPO_DIR", str(tmp_path))
    # one lucky 0.1s sample in round 1; honest ~0.5s ever after
    _write(tmp_path, 1, {"q": 0.1})
    for r in (2, 3, 4):
        _write(tmp_path, r, {"q": 0.5 + 0.01 * r})
    assert bench._best_prior(0.1) == {"q": 0.1}  # the ratchet, reference-only
    ref = bench._recent_reference(0.1)
    assert ref["q"] == 0.53  # median of last-3 (0.52, 0.53, 0.54)
    # an honest 0.55s run: NOT a regression vs recent (was 5.5x vs best)
    assert bench._regressions_vs_ref({"q": 0.55}, ref, {"q": 0.1}) == {}
    # a genuine 2x plan regression still flags, with both references
    flagged = bench._regressions_vs_ref({"q": 1.1}, ref, {"q": 0.1})
    assert flagged["q"]["recent_ref"] == 0.53
    assert flagged["q"]["best_prior"] == 0.1


def test_recent_reference_per_round_min_and_windows(tmp_path, monkeypatch):
    monkeypatch.setattr(bench, "_REPO_DIR", str(tmp_path))
    # a round with BOTH a driver and a local record keeps the cleaner
    # (min) sample; a query seen in only one round still gets a ref
    _write(tmp_path, 1, {"a": 0.4})
    _write(tmp_path, 1, {"a": 0.3}, local=True)
    _write(tmp_path, 2, {"a": 0.5, "b": 1.0})
    rounds = bench._round_medians(0.1)
    assert rounds[1] == {"a": 0.3} and rounds[2]["b"] == 1.0
    ref = bench._recent_reference(0.1)
    assert ref["a"] == 0.5  # even count takes the upper middle
    assert ref["b"] == 1.0


def test_recent_calibration_and_median_ratio(tmp_path, monkeypatch):
    monkeypatch.setattr(bench, "_REPO_DIR", str(tmp_path))
    for r, c in ((1, 0.8), (2, 1.2), (3, 1.0), (4, 1.1)):
        _write(tmp_path, r, {"q": 0.5}, calib={"spark_mt32_sec": c})
    # last-3 window: median(1.2, 1.0, 1.1) = 1.1, not the lucky 0.8
    assert bench._recent_calibration(0.1)["spark_mt32_sec"] == 1.1
    assert bench._median_ratio({"q": 0.75}, {"q": 0.5}) == 1.5
    assert bench._median_ratio({"q": 0.5}, {}) is None


def test_local_record_is_write_once(tmp_path, monkeypatch):
    """A second run in the same round takes the next free letter
    instead of overwriting the first record; ``_records()`` reads the
    lettered names as the same round, and never a low-core record."""
    monkeypatch.setattr(bench, "_REPO_DIR", str(tmp_path))
    names = [
        bench._save_local({"sf": 0.1, "queries": {"q": t}}, 16, "")
        for t in (0.5, 0.6, 0.7)
    ]
    assert [p.rsplit("/", 1)[1] for p in names] == [
        "BENCH_LOCAL_r16.json",
        "BENCH_LOCAL_r16b.json",
        "BENCH_LOCAL_r16c.json",
    ]
    assert json.loads((tmp_path / "BENCH_LOCAL_r16.json").read_text())[
        "queries"
    ] == {"q": 0.5}
    c8 = [
        bench._save_local({"sf": 0.1, "queries": {"q": 9.0}}, 16, "_c8")
        for _ in range(2)
    ]
    assert [p.rsplit("/", 1)[1] for p in c8] == [
        "BENCH_LOCAL_r16_c8.json",
        "BENCH_LOCAL_r16b_c8.json",
    ]
    got = sorted((r, rec["queries"]["q"]) for r, rec in bench._records(0.1))
    assert got == [(16, 0.5), (16, 0.6), (16, 0.7)]
