"""Benchmark runner (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line: {"metric": ..., "value": N, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}.

Execution is measured with a `noop`-format write: the full plan runs on
executors, nothing is collected to the driver — the same discipline
you'd use benchmarking on a real cluster.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
import time

import hephaestus_spark.queries  # noqa: F401 — registration
from hephaestus_spark.registry import QUERIES
from hephaestus_spark.session import get_session

_REPO_DIR = os.path.dirname(os.path.abspath(__file__))

# Headline set: one representative per operator family, weighted toward
# the shuffle/window/text-heavy queries that dominate at scale.
HEADLINE = [
    "q02_filter_pushdown",      # scan + pushdown
    "q03_join_inner",           # large-large shuffle join
    "q04_join_broadcast",       # star-schema broadcast chain
    "q05_join_left_count",      # outer join + agg
    "q08_join_range",           # equi+range residual join
    "q09_agg_tpch_q1",          # hash agg (TPC-H Q1)
    "q10_count_distinct",       # distinct agg
    "q11_cube",                 # grouping sets
    "q12_window_rank",          # ranking window
    "q14_window_range_frame",   # range-frame window
    "q15_topk",                 # top-k
    "q20_array_agg",            # array agg
    "q21_map_explode",          # json/map
    "q23_scd1_merge",           # SCD-1 merge (full-outer + null-safe diff)
    "q27_window_tumbling",      # time-window agg
    "q30_last_event",           # last-per-group
    "q31_top_tokens",           # tokenize + count + top-k per group
    "q32_exact_dedup",          # content-hash dedup
    "q33_near_dedup_jaccard",   # shingle inverted-index near-dedup
    "q34_cosine_topk",          # brute-force vector top-k
    "x_asof_join",              # as-of join (union-merge window)
    "x_chunk_docs",             # token-window document chunking
    "x_tpch_q5",                # 6-table composite join pipeline
    "x_quality_score",          # text quality features
    "x_simhash",                # simhash signatures (64-bit votes)
]


def _cpu_stat() -> dict | None:
    """Cumulative jiffies from /proc/stat's aggregate ``cpu`` line
    (r13, VERDICT r12 #3). ``steal`` is time the HYPERVISOR ran some
    other guest while this one was runnable — contention no amount of
    in-guest instrumentation (loadavg, probe jobs) can attribute, and
    nonzero on this sandbox. Deltas of this dict bracket each query
    and the whole run."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        if parts[0] != "cpu":
            return None
        keys = (
            "user", "nice", "system", "idle", "iowait",
            "irq", "softirq", "steal", "guest", "guest_nice",
        )
        return dict(zip(keys, (int(x) for x in parts[1:])))
    except (OSError, ValueError, IndexError):
        return None


def _proc_tree_jiffies() -> int | None:
    """utime+stime jiffies of THIS process and its live descendants
    (the Spark JVM is a direct child). Subtracting the tree's delta
    from the host's busy delta isolates co-tenant CPU use INSIDE the
    guest — the loadavg-visible kind of contention, as opposed to
    hypervisor steal."""
    try:
        me = os.getpid()
        children: dict[int, list[int]] = {}
        times: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    raw = f.read()
            except OSError:
                continue
            # comm may contain spaces/parens: split after the LAST ')'
            rest = raw.rsplit(")", 1)[1].split()
            pid = int(d)
            ppid = int(rest[1])  # field 4 overall
            times[pid] = int(rest[11]) + int(rest[12])  # utime+stime
            children.setdefault(ppid, []).append(pid)
        total, stack = 0, [me]
        while stack:
            p = stack.pop()
            total += times.get(p, 0)
            stack.extend(children.get(p, ()))
        return total
    except (OSError, ValueError, IndexError):
        return None


def _host_credibility(
    s0: dict | None, s1: dict | None, t0: int | None, t1: int | None
) -> dict | None:
    """Per-run host-credibility verdict (r13, VERDICT r12 #3): a
    contended record must self-identify. Two independent instruments
    over the whole run's /proc/stat delta:

    - ``steal_frac``: hypervisor ran other guests (field 8). The
      normalized comparator's probe ratio responds to this too, but
      only at its two sample instants; this integrates over the run.
    - ``busy_other_frac``: in-guest busy jiffies NOT attributable to
      this process tree — co-tenant processes on the same guest.

    ``credible`` is False when either crosses its threshold; the
    reasons list says which. Thresholds: 5% steal (the r12 record's
    164k-jiffy observation over a long window was well under this —
    background steal is normal; sustained steal is not) and 20%
    foreign busy (a co-tenant burning 6+ of 32 cores)."""
    if not s0 or not s1:
        return None
    total = sum(s1.values()) - sum(s0.values())
    if total <= 0:
        return None
    out: dict = {"jiffies_total": total}
    reasons = []
    steal = s1.get("steal", 0) - s0.get("steal", 0)
    out["steal_jiffies"] = steal
    out["steal_frac"] = round(steal / total, 4)
    if out["steal_frac"] >= 0.05:
        reasons.append("hypervisor_steal")
    busy = sum(
        s1.get(k, 0) - s0.get(k, 0) for k in ("user", "nice", "system")
    )
    if t0 is not None and t1 is not None:
        other = max(0, busy - (t1 - t0))
        out["busy_other_frac"] = round(other / total, 4)
        if out["busy_other_frac"] >= 0.20:
            reasons.append("co_tenant_cpu")
    out["credible"] = not reasons
    if reasons:
        out["reasons"] = reasons
    return out


def _shuffle_totals(spark) -> tuple[int, int, int] | None:
    """Cumulative (shuffle write, shuffle read, disk spill) bytes over
    all completed stages, via the status REST API. Differences around a
    query run are that query's measured shuffle volume — the evidence
    behind every 'one shuffle' claim in the plan docstrings. Returns
    None when the UI is unavailable."""
    import json as _json
    import urllib.request

    ui = spark.sparkContext.uiWebUrl
    if not ui:
        return None
    try:  # drain pending listener events so completed stages are visible
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(2000)
    except Exception:
        pass
    app = spark.sparkContext.applicationId
    try:
        with urllib.request.urlopen(
            f"{ui}/api/v1/applications/{app}/stages?status=complete", timeout=5
        ) as resp:
            stages = _json.load(resp)
    except Exception:
        return None
    return (
        sum(s.get("shuffleWriteBytes", 0) for s in stages),
        sum(s.get("shuffleReadBytes", 0) for s in stages),
        sum(s.get("diskBytesSpilled", 0) for s in stages),
    )


def _calibration(spark=None) -> dict:
    """Fixed host-speed reference workloads, recorded with every run.

    r9 (VERDICT r8 #1): the r8 record showed a uniform ~1.4-1.9x
    inflation over the all-time bests on EVERY query — including
    scan-bound q02 — which a controlled interleaved A/B
    (BENCH_AB_88f4b8d_vs_HEAD.json) attributed to ambient host state,
    not plans. These numbers make that separation mechanical for
    future records: if the calibration time scales with the per-query
    inflation, the drift is the machine; a query whose ratio far
    exceeds the calibration ratio is a genuine plan regression.

    r11 (VERDICT r10 #1): three straight official records carried a
    uniform phantom inflation (1.43→1.71→1.75) while the single-thread
    probe read ~parity — one Python thread cannot see multi-core
    contention from co-tenants, but every 32-way query can. Add the
    right instrument: a FIXED 32-partition Spark job (sum over a
    deterministic range — pure JVM codegen arithmetic, no I/O, no
    shuffle beyond the final 32-row collect) whose wall time moves
    with exactly the contention the queries experience, plus
    ``os.getloadavg()`` snapshots. main() divides the headline ratio
    by this probe's own vs-best ratio to emit a contention-normalized
    number NEXT TO the raw one — nothing is hidden, the raw per-query
    timings stay untouched."""
    st0 = _cpu_stat()
    t0 = time.perf_counter()
    s = 0
    for i in range(20_000_000):
        s += i * i
    out: dict = {"py_loop_1t_sec": round(time.perf_counter() - t0, 3)}
    try:
        out["loadavg"] = [round(x, 2) for x in os.getloadavg()]
    except (OSError, AttributeError):
        pass
    if spark is not None:
        t0 = time.perf_counter()
        spark.range(0, 640_000_000, 1, 32).selectExpr(
            "sum(id % 7) as s"
        ).collect()
        out["spark_mt32_sec"] = round(time.perf_counter() - t0, 3)
        # r15 (VERDICT r14 #5): the per-query FIXED FLOOR — a no-op
        # plan driven through the same construct+noop-write protocol
        # the queries use. Sub-0.2 s queries (q12/q30) bottom out at
        # this constant (Py4J round trips + analysis + job launch +
        # commit protocol of the noop sink); the ratchet adjudication
        # can now subtract a MEASURED floor instead of inferring one.
        floors = []
        for _ in range(3):
            t0 = time.perf_counter()
            spark.range(1).write.format("noop").mode("overwrite").save()
            floors.append(time.perf_counter() - t0)
        out["noop_plan_floor_sec"] = round(sorted(floors)[1], 3)
    # r13 (VERDICT r12 #3): steal bracketing the probes themselves —
    # a probe that itself ran under steal reads slow, and this delta
    # says so explicitly instead of leaving it to inference
    st1 = _cpu_stat()
    if st0 and st1:
        out["steal_jiffies"] = st1.get("steal", 0) - st0.get("steal", 0)
    return out


def _time_query(
    spark, name: str, sf_dir: str, runs: int
) -> tuple[float, float, float, float, dict[str, int] | None, int | None]:
    """(median noop-exec sec, min sec, first-run sec, median build
    sec, shuffle delta) over ``runs`` fresh constructions of one query.

    ``first`` (r15 transparency ADDITION, methodology unchanged): a few
    queries persist an intermediate INSIDE their plan (q33's signature
    table, consumed by three downstream stages — algorithmically
    motivated, present since the persist was introduced). Spark's
    CacheManager dedupes persists by canonicalized plan, so within one
    bench invocation runs 2..N of such a query reuse run 1's cached
    intermediate; run 1 always computes everything from parquet. The
    median therefore reflects the warm-intermediate steady state, as it
    has in every prior round's record — ``queries_first_run`` now
    reports the cold number alongside so the spread is auditable
    instead of implicit.

    r16 MEASUREMENT FIX (ADVICE r15, disclosed in
    OPTIMIZATION_r16.md): ``spark.catalog.clearCache()`` runs before
    EVERY run, so all three samples compute from parquet and the
    median is cold-comparable. Previously, queries persisting an
    intermediate in-plan (q33) had runs 2..N silently reuse run 1's
    cache via CacheManager plan-dedup, so their median mostly measured
    cache reads (r15 recorded q33 at 0.058 s warm vs 0.604 s cold).
    The protocol is otherwise unchanged (same fresh construction, same
    noop write, same median-of-3); for non-persisting queries nothing
    changes, and ``queries_first_run`` — always cold — is the
    continuity column across the semantics change.

    `queries` times the noop execution only — comparable with every
    prior round's records, and the number that reflects plan quality
    at cluster scale. Construction is timed SEPARATELY (r7 review
    fix): some builders legitimately run eager Spark work while
    constructing (q33 resolves its hot-bucket set against the data),
    and that cost must not escape the record — it lands in
    ``build_sec`` whenever it is non-trivial. The shuffle snapshot is
    taken AFTER the last construction (r8 ADVICE) so eager build-time
    jobs don't inflate the per-query shuffle record."""
    samples: list[float] = []
    build_samples: list[float] = []
    before = None
    cpu0 = _cpu_stat()
    for i in range(runs):
        spark.catalog.clearCache()
        tb = time.perf_counter()
        df = QUERIES[name](spark, sf_dir)
        if i == runs - 1:  # shuffle volume is plan-determined —
            # one run's delta suffices
            before = _shuffle_totals(spark)
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        samples.append(time.perf_counter() - t0)
        build_samples.append(t0 - tb)
    cpu1 = _cpu_stat()
    after = _shuffle_totals(spark)
    shuffle = None
    if before is not None and after is not None:
        shuffle = {
            "shuffle_write_bytes": after[0] - before[0],
            "shuffle_read_bytes": after[1] - before[1],
            "disk_spill_bytes": after[2] - before[2],
        }
    # r13: steal jiffies accumulated while THIS query's runs executed
    # — a per-query contention witness (VERDICT r12 #3)
    steal = (
        cpu1.get("steal", 0) - cpu0.get("steal", 0)
        if cpu0 and cpu1
        else None
    )
    return (
        round(sorted(samples)[len(samples) // 2], 3),
        round(min(samples), 3),
        round(samples[0], 3),
        sorted(build_samples)[len(build_samples) // 2],
        shuffle,
        steal,
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else -1.0
    os.environ.setdefault("SPARK_GRAFT_UI", "true")
    spark = get_session("hephaestus-bench")

    # Warm the JVM/codegen once with a trivial action so per-query times
    # measure the queries, not session bring-up.
    spark.range(1).count()
    # r16 (VERDICT r15 #6): table-loader warmup — the first load_table
    # of a session pays one-off parquet footer/schema reads plus
    # datasource class loading, which used to land in whichever query
    # ran FIRST (q02's build_sec read 0.8-1.6 s while every later
    # query's build was ~0.05 s). Resolving the plans once up front
    # moves that session bring-up next to the JVM warmup above; no
    # data is read or materialized (plan objects only — the same
    # footers every query re-resolves anyway via the loader memo).
    from hephaestus_spark.sources.tables import TABLES, load_table

    for t in TABLES:
        try:
            load_table(spark, sf_dir, t)
        except Exception:
            pass

    names = [n for n in HEADLINE if n in QUERIES]
    extra = [a for a in sys.argv[1:] if a in QUERIES]
    if extra:
        names = extra
    # Median of 3 runs per query (VERDICT r4 item 3): sub-second local
    # timings are noisy enough that single-shot numbers masqueraded as
    # plan regressions; the median filters GC/OS jitter while the first
    # run still exercises cold plan compilation for every query.
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    # Calibration runs FIRST (r10, VERDICT r9 #2): the burst detector
    # below needs the host-speed ratio during measurement, not after.
    calib = _calibration(spark)
    best_calib = _best_calibration(sf)
    calib_ratio = (
        round(calib["py_loop_1t_sec"] / best_calib.get("py_loop_1t_sec"), 2)
        if best_calib.get("py_loop_1t_sec")
        else None
    )
    mt_ratio = (
        round(calib["spark_mt32_sec"] / best_calib.get("spark_mt32_sec"), 2)
        if best_calib.get("spark_mt32_sec") and "spark_mt32_sec" in calib
        else None
    )
    timings: dict[str, float] = {}
    mins: dict[str, float] = {}
    firsts: dict[str, float] = {}
    builds: dict[str, float] = {}
    shuffles: dict[str, dict[str, int]] = {}
    steal_per_query: dict[str, int] = {}
    run_stat0, run_tree0 = _cpu_stat(), _proc_tree_jiffies()
    for name in names:
        med, mn, fst, b, sh, stl = _time_query(spark, name, sf_dir, runs)
        timings[name], mins[name] = med, mn
        firsts[name] = fst
        if b >= 0.05:  # plain plan assembly is ~ms; report real work
            builds[name] = round(b, 3)
        if sh is not None:
            shuffles[name] = sh
        if stl:  # nonzero steal while this query ran (r13)
            steal_per_query[name] = stl
    # Contention-burst rejection (r10, VERDICT r9 #2): two rounds of
    # official records carried multi-second phantoms (r9: q34 at 33x
    # its best) that a clean re-run contradicted — median-of-3 cannot
    # reject a burst that straddles all three runs. When a query lands
    # > 3x its all-time best while calibration says the host itself is
    # fine (< 2x the best round's speed), re-measure once with a fresh
    # median and record the REMEASURE UNCONDITIONALLY (r11, ADVICE r10:
    # taking the min of the two medians was one-sided — it could only
    # lower timings, hiding a genuine regression behind a fluky fast
    # re-run; the later sample is the cleaner one by construction —
    # the burst that triggered it has by then had ~a full headline
    # sweep to drain). The `remeasured` field keeps both numbers so
    # the hygiene is auditable either way.
    best = _best_prior(sf)
    recent_ref = _recent_reference(sf)
    host_ratio = mt_ratio if mt_ratio is not None else calib_ratio
    remeasured: dict[str, dict[str, float]] = {}
    for name in names:
        # r12: burst threshold against the recent-rounds reference
        # (fallback: all-time best) — 3x a lucky ratcheted minimum
        # fired remeasures on honest medians
        ref = recent_ref.get(name, best.get(name))
        if ref is None or timings[name] <= ref * 3:
            continue
        if host_ratio is not None and host_ratio >= 2:
            continue  # the whole host is slow — a re-run proves nothing
        med2, mn2, _f2, _b2, _sh2, _stl2 = _time_query(spark, name, sf_dir, runs)
        remeasured[name] = {"first": timings[name], "remeasure": med2}
        timings[name] = med2
        mins[name] = min(mins[name], mn2)
    run_stat1, run_tree1 = _cpu_stat(), _proc_tree_jiffies()
    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_min": mins,
        "queries_first_run": firsts,
        "sf": sf,
        "calibration": calib,
    }
    # r13 (VERDICT r12 #3): per-query steal deltas + a run-level host
    # credibility verdict — a contended record self-identifies in the
    # record itself instead of waiting for post-hoc adjudication
    cred = _host_credibility(run_stat0, run_stat1, run_tree0, run_tree1)
    if cred is not None:
        if steal_per_query:
            cred["steal_per_query_jiffies"] = steal_per_query
        out["host_credibility"] = cred
    if calib_ratio is not None:
        out["calibration"]["vs_best_ratio"] = calib_ratio
    if mt_ratio is not None:
        out["calibration"]["mt_vs_best_ratio"] = mt_ratio
    try:  # post-run load snapshot pairs with the pre-run one
        out["calibration"]["loadavg_after"] = [
            round(x, 2) for x in os.getloadavg()
        ]
    except (OSError, AttributeError):
        pass
    if remeasured:
        out["remeasured"] = remeasured
    if builds:
        out["build_sec"] = builds
    if shuffles:
        out["shuffle"] = shuffles
    # r12 (VERDICT r11 #2): the OPERATIVE comparator is the median of
    # each query's last-3-rounds times, not the all-time min — the
    # ratchet captured lucky samples, so every later honest median
    # read as a 1.3-2x phantom regression (the parity-calibrated
    # plan-frozen control q02 read 1.53x of 'best'). The all-time-best
    # ratio stays in the record for reference, clearly labeled.
    recent = recent_ref
    regressions = _regressions_vs_ref(timings, recent, best)
    if regressions:  # bench hygiene: flag >1.5x vs recent reference
        out["regressions"] = regressions
    med = _median_ratio(timings, recent)
    if med is not None:
        # Ambient-drift separator: the median now/recent-reference
        # ratio across ALL queries. ~1.0 = host comparable to recent
        # rounds, so any flag above is a genuine plan regression; well
        # above 1.0 = the whole run is uniformly slower (CPU/cache
        # state), and only flags far beyond the median indicate plans.
        out["vs_recent_median_ratio"] = med
        rcal = _recent_calibration(sf).get("spark_mt32_sec")
        mt_recent = (
            round(calib["spark_mt32_sec"] / rcal, 2)
            if rcal and "spark_mt32_sec" in calib
            else None
        )
        if mt_recent is not None and mt_recent > 0:
            # r11 (VERDICT r10 #1): the same median with the measured
            # multi-core contention divided OUT — the 32-way Spark
            # calibration job ran under the same ambient load as the
            # queries, so its own vs-recent ratio IS the contention
            # factor. ~equal raw and normalized ratios = the drift (if
            # any) is in the plans; normalized ≪ raw = the drift is
            # the machine. The raw number and per-query timings stay.
            out["calibration"]["mt_vs_recent_ratio"] = mt_recent
            out["vs_recent_median_ratio_normalized"] = round(
                med / mt_recent, 2
            )
    med_best = _median_ratio(timings, best)
    if med_best is not None:
        out["vs_best_median_ratio"] = med_best  # reference-only ratchet
        if mt_ratio is not None and mt_ratio > 0:
            out["vs_best_median_ratio_normalized"] = round(
                med_best / mt_ratio, 2
            )
        # Ambient-noise self-flag (r12): the per-query MIN hitting
        # ~parity with the all-time best while the medians sit well
        # above is the signature of ambient contention — the host CAN
        # still go best-speed, the middle samples just got unlucky. A
        # plan regression moves the mins too.
        min_med = _median_ratio(mins, best)
        if min_med is not None and min_med <= 1.15 and med_best >= 1.4:
            out["ambient_noise_suspected"] = {
                "queries_min_vs_best_median": min_med,
                "queries_median_vs_best_median": med_best,
            }
    if not extra:
        sf1 = _sf1_section(spark, timings, sf)
        if sf1:
            out["sf1"] = sf1
        skew = _sf1_skew_section(spark, timings, sf)
        if skew:
            out["sf1_skew"] = skew
    out["median_semantics"] = "cold"
    print(json.dumps(_compact(out)))
    # The driver's BENCH_r{N}.json wrapper keeps only a 2000-char
    # stdout tail, so the FULL record is persisted repo-locally too;
    # _records() reads these as history. Full runs only — a
    # `bench.py q33` subset would poison the history — and only at the
    # canonical sf0.1 (verify-recipe runs at sf0.01 must not clobber
    # the round's record).
    if not extra and sf == 0.1:
        # a low-core run (the driver measures scaling at
        # SPARK_GRAFT_CPUS=8) is suffixed like the driver's own
        # BENCH_rN_c8 wrapper; _records()' round-history regex does not
        # match the suffixed name, so low-core numbers never pollute
        # the 32-core recent-reference medians.
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
        out["cpus"] = cpus
        suffix = "" if cpus == 32 else f"_c{cpus}"
        rnd = os.environ.get("SPARK_GRAFT_ROUND")
        if rnd is None:
            # the round comes from the DRIVER's records only: the
            # driver writes BENCH_rN at the END of round N, so during
            # round N the newest BENCH_r* is N-1 and max+1 labels this
            # run correctly (counting BENCH_LOCAL_r* too made each
            # local run drift one round ahead of the driver).
            prior = [
                int(m.group(1))
                for f in os.listdir(_REPO_DIR)
                if (m := re.match(r"BENCH_r(\d+)\.json$", f))
            ]
            rnd = str(max(prior, default=0) + 1)
        _save_local(out, int(rnd), suffix)
    spark.stop()


def _compact(out: dict) -> dict:
    """The PRINTED line: the keys the driver parses plus the host
    verdict. Everything else (min/calibration/credibility/build/
    shuffle/sf1/skew/ratios) lands in the lossless BENCH_LOCAL_r*.json
    side-file, because a one-line JSON that outgrows the driver's
    stdout-tail capture is lost whole (BENCH_r14 `parsed: null`).
    Under 4 kB at 25 queries."""
    compact = {
        k: out[k]
        for k in (
            "metric",
            "value",
            "unit",
            "queries",
            "queries_first_run",
            "sf",
        )
        if k in out
    }
    cred = out.get("host_credibility")
    if cred is not None:
        compact["host_credible"] = cred["credible"]
        compact["steal_frac"] = cred["steal_frac"]
    return compact


def _save_local(out: dict, rnd: int, suffix: str) -> str:
    """Write the full record once, never over an earlier one:
    ``BENCH_LOCAL_r{N}{suffix}.json``, or the first free ``b``, ``c``,
    … variant after the round number when a run of the same round
    already saved one (the ``r11b``/``r14c`` names ``_records()``
    reads). Returns the path written."""
    for letter in ["", *"bcdefghijklmnopqrstuvwxyz"]:
        path = os.path.join(
            _REPO_DIR, f"BENCH_LOCAL_r{rnd:02d}{letter}{suffix}.json"
        )
        try:
            with open(path, "x") as f:
                json.dump(out, f)
            return path
        except FileExistsError:
            continue
    raise FileExistsError(f"no free BENCH_LOCAL_r{rnd:02d}*{suffix} name")


# Scale-trend evidence (VERDICT r6 item 3): when the 10x key-shifted
# replica set exists (hephaestus_spark/scalegen.py — cached in /tmp,
# built by tests/test_scale_trend.py or `python -m
# hephaestus_spark.scalegen`), time a heavy-query subset there once and
# report the sf1/sf0.1 ratio per query. ~Linear ratios (~data growth)
# are healthy; a quadratic plan would read ~100x.
SF1_SUBSET = [
    "q03_join_inner",
    "q09_agg_tpch_q1",
    "q12_window_rank",
    "q31_top_tokens",
    "q32_exact_dedup",
    "q33_near_dedup_jaccard",
    "q34_cosine_topk",
    "x_tpch_q5",
    "x_simhash",
]


def _sf1_section(spark, timings: dict[str, float], sf: float) -> dict | None:
    sf1_dir = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/hephaestus_sf1")
    if os.environ.get("SPARK_GRAFT_SF1", "1") == "0":
        return None
    if not os.path.exists(os.path.join(sf1_dir, "_DONE")):
        return None
    t1: dict[str, float] = {}
    for name in SF1_SUBSET:
        if name not in QUERIES:
            continue
        spark.catalog.clearCache()  # r16: same cold discipline as sf0.1
        t0 = time.perf_counter()
        df = QUERIES[name](spark, sf1_dir)
        df.write.format("noop").mode("overwrite").save()
        t1[name] = round(time.perf_counter() - t0, 3)
    section: dict = {"dir": sf1_dir, "queries": t1}
    if sf == 0.1:  # the replica base — ratios are meaningful
        section["x_vs_sf0.1"] = {
            q: round(t / timings[q], 1)
            for q, t in t1.items()
            if timings.get(q)
        }
    return section


# Adversarial-skew evidence (VERDICT r6 item 2): when the hot-key
# replica set exists (scalegen hot_frac=0.3 — built by
# tests/test_scale_trend.py's skew gate), time the skew-sensitive
# queries there. The hot customer holds ~30% of all orders, so these
# runtimes measure AQE skew handling and the decimal sufficient-stats
# path on a genuinely hot key, not the uniform best case.
SKEW_SUBSET = [
    "q03_join_inner",
    "q05_join_left_count",
    "q13_window_analytic",
    "x_outlier_zscore",
]


def _sf1_skew_section(spark, timings: dict[str, float], sf: float) -> dict | None:
    skew_dir = os.environ.get("SPARK_GRAFT_SKEW_DIR", "/tmp/hephaestus_sf1skew")
    if os.environ.get("SPARK_GRAFT_SF1", "1") == "0":
        return None
    if not os.path.exists(os.path.join(skew_dir, "_DONE")):
        return None
    t1: dict[str, float] = {}
    spill: dict[str, int] = {}
    for name in SKEW_SUBSET:
        if name not in QUERIES:
            continue
        before = _shuffle_totals(spark)
        t0 = time.perf_counter()
        df = QUERIES[name](spark, skew_dir)
        df.write.format("noop").mode("overwrite").save()
        t1[name] = round(time.perf_counter() - t0, 3)
        after = _shuffle_totals(spark)
        if before is not None and after is not None:
            # the skew section's question is "does the hot key spill?"
            spill[name] = after[2] - before[2]
    section: dict = {"dir": skew_dir, "hot_frac": 0.3, "queries": t1}
    if spill:
        section["disk_spill_bytes"] = spill
    if sf == 0.1:
        section["x_vs_sf0.1"] = {
            q: round(t / timings[q], 1)
            for q, t in t1.items()
            if timings.get(q)
        }
    return section


def _records(sf: float):
    """Yield (round, record) for every readable prior record at this
    sf: the driver's BENCH_r*.json AND the repo-local
    BENCH_LOCAL_r*.json (r8 — driver wrappers for r6/r7 truncated to a
    2000-char stdout tail with ``parsed: null``, silently dropping
    those rounds from this history; the LOCAL copies are lossless)."""
    for pattern in ("BENCH_r*.json", "BENCH_LOCAL_r*.json"):
        for path in sorted(glob.glob(os.path.join(_REPO_DIR, pattern))):
            m = re.search(r"_r(\d+)[a-z]?\.json$", path)
            try:
                with open(path) as f:
                    rec = json.load(f)
            except (OSError, ValueError):
                continue
            # driver records wrap the bench line under "parsed"
            rec = rec.get("parsed") or rec  # "parsed" may be null
            if rec.get("sf") != sf or m is None:
                continue
            yield int(m.group(1)), rec


def _best_prior(sf: float) -> dict[str, float]:
    """All-time-min per-query time. Kept for REFERENCE ONLY (r12,
    VERDICT r11 #2): a running minimum of medians is a ratchet that
    captures lucky samples, so honest later medians read as phantom
    1.3-2x 'regressions' — the operative comparator is
    ``_recent_reference``."""
    best: dict[str, float] = {}
    for _rnd, rec in _records(sf):
        for q, t in rec.get("queries", {}).items():
            if isinstance(t, (int, float)) and t > 0:
                best[q] = min(best.get(q, t), t)
    return best


def _round_medians(sf: float) -> dict[int, dict[str, float]]:
    """round -> {query: sec}, taking the per-round MIN when a round
    left both a driver and a local record (two samples of identical
    plans — the less-contended one is the round's cleaner number)."""
    rounds: dict[int, dict[str, float]] = {}
    for rnd, rec in _records(sf):
        tgt = rounds.setdefault(rnd, {})
        for q, t in rec.get("queries", {}).items():
            if isinstance(t, (int, float)) and t > 0:
                tgt[q] = min(tgt.get(q, t), t)
    return rounds


def _recent_reference(sf: float, window: int = 3) -> dict[str, float]:
    """The operative comparator (r12, VERDICT r11 #2): per query, the
    MEDIAN of its last ``window`` rounds' times. Robust in both
    directions — one lucky sample cannot ratchet it down (the ratchet
    made parity-calibrated clean re-runs read 1.5-2x 'over'), and one
    contended round cannot drag it up; a real plan change shifts it
    within ``window`` rounds. A clean re-run on a comparable host
    reproduces ratios against this reference to ~10%."""
    rounds = _round_medians(sf)
    ref: dict[str, float] = {}
    queries = {q for per in rounds.values() for q in per}
    for q in queries:
        hist = [rounds[r][q] for r in sorted(rounds) if q in rounds[r]]
        tail = hist[-window:]
        ref[q] = sorted(tail)[len(tail) // 2]
    return ref


def _best_calibration(sf: float) -> dict[str, float]:
    """Fastest recorded calibration workloads among prior records at
    the same sf — the reference host speed the burst detector compares
    against (a run on a uniformly slow host is drift, not a plan
    regression; a single slow query on a fast host is a burst).
    Returns {probe_name: best_sec} over both the single-thread Python
    loop and (r11) the 32-way Spark job."""
    best: dict[str, float] = {}
    for _rnd, rec in _records(sf):
        for key in ("py_loop_1t_sec", "spark_mt32_sec"):
            c = (rec.get("calibration") or {}).get(key)
            if isinstance(c, (int, float)) and c > 0:
                best[key] = min(best.get(key, c), c)
    return best


def _recent_calibration(sf: float, window: int = 3) -> dict[str, float]:
    """Median-of-recent-rounds calibration reference (r12) — the same
    de-ratcheting as ``_recent_reference``, so the contention divisor
    is itself robust (dividing by a lucky all-time-min probe time
    OVERSTATES contention and masks plan regressions)."""
    rounds: dict[int, dict[str, float]] = {}
    for rnd, rec in _records(sf):
        tgt = rounds.setdefault(rnd, {})
        for key in ("py_loop_1t_sec", "spark_mt32_sec"):
            c = (rec.get("calibration") or {}).get(key)
            if isinstance(c, (int, float)) and c > 0:
                tgt[key] = min(tgt.get(key, c), c)
    ref: dict[str, float] = {}
    for key in ("py_loop_1t_sec", "spark_mt32_sec"):
        hist = [rounds[r][key] for r in sorted(rounds) if key in rounds[r]]
        tail = hist[-window:]
        if tail:
            ref[key] = sorted(tail)[len(tail) // 2]
    return ref


def _regressions_vs_ref(
    timings: dict[str, float],
    recent: dict[str, float],
    best: dict[str, float],
    factor: float = 1.5,
) -> dict[str, dict[str, float]]:
    """Per-query times regressing > ``factor`` vs the recent-rounds
    reference at the SAME sf (r12 — was vs the all-time-min ratchet).
    Empty dict = healthy; when present, the driver-visible JSON
    carries the evidence (incl. the old all-time best for context)
    instead of hiding a plan regression in a total."""
    return {
        q: {
            "now": t,
            "recent_ref": recent[q],
            **({"best_prior": best[q]} if q in best else {}),
        }
        for q, t in timings.items()
        if q in recent and t > recent[q] * factor
    }


def _median_ratio(
    timings: dict[str, float], ref: dict[str, float]
) -> float | None:
    ratios = sorted(t / ref[q] for q, t in timings.items() if q in ref)
    if not ratios:
        return None
    return round(ratios[len(ratios) // 2], 2)


if __name__ == "__main__":
    main()
