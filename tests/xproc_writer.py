"""Cross-process multi-writer fuzz WORKER (r14, VERDICT r13 #1).

Spawned by ``tests/test_txlog_xproc_fuzz.py`` as an independent OS
process: own interpreter, own file descriptors, own TxTable instance
caches — nothing shared with the parent or sibling writers except the
table DIRECTORY. This is the topology the thread fuzz
(``test_txlog_mw_fuzz.py``) cannot witness: threads share one
interpreter (one ``TxTable._cache`` per instance but one module, one
GIL serializing bytecode between checks) while real deployments race
two independent Spark drivers. The commit protocol's atomicity claims
— ``open(path, "x")`` exclusive create for log entries, write-to-tmp
+ ``os.link`` publish for checkpoint parquets, ``os.replace`` for the
``_last_checkpoint`` pointer — are all CROSS-PROCESS properties of
the filesystem, so this is where they must be proven.

The worker is deliberately Spark-free (pyarrow writes + the pure-
Python commit paths ``commit_names`` / ``_commit_snapshot_dependent``
— the same primitives the Spark DML routes commit through): a JVM per
subprocess would add ~20s startup each and nothing to the protocol
under test, since Spark executors never touch the log — only the
driver-side Python in this module does.

Ops (plan-driven, seed-stable):
- append: pyarrow-write a uniquely-named file, ``commit_names`` it
  (exercises the retry loop + constraint re-check + schema union).
- compact: merge the 2-3 smallest live files into one, commit
  remove+add via ``_commit_snapshot_dependent(disjoint=True)`` — the
  exact OPTIMIZE shape, including the rebase-over-pure-appends walk.
- delete: copy-on-write removal of one pre-assigned unique key,
  committed with the zone-disjointness predicate ``delete`` uses.
- probe: fold state, load the newest checkpoint, assert invariants —
  a reader that would crash on any torn artifact.
- vacuum (r15, VERDICT r14 #1): expire_log + vacuum — the only ops
  that DESTROY files — raced against every sibling's commits,
  checkpoint publishes, staged-not-yet-committed files, and pinned
  readers. Plants an aged orphan sidecar first so the orphan sweep
  runs destructively too.
- pinread (r15): a reader pinned at an OLD version while siblings
  expire+vacuum underneath it. The retention invariant: the snapshot
  either reads FULLY (row count == the fold's per-file stats, ids
  unique) or fails with the defined horizon error / a loud ENOENT —
  never a silent partial result.

Run with CHECKPOINT_INTERVAL=2 and CHECKPOINT_PART_ROWS=3 so nearly
every commit races a (multipart) checkpoint publish; vacuum ops run
at a retention edge (grace barely above the op cadence) so files
removed early in the run become destructible while the run still
races.
"""

from __future__ import annotations

import json
import os
import random
import sys
import time
import traceback
import uuid


def main() -> None:
    plan = json.loads(sys.argv[1])
    sys.path.insert(0, plan["repo"])

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hephaestus_spark.sources import txlog
    from hephaestus_spark.sources.txlog import CommitConflict, TxTable

    txlog.CHECKPOINT_INTERVAL = plan["ckpt_interval"]
    txlog.CHECKPOINT_PART_ROWS = plan["ckpt_part_rows"]

    path = plan["path"]
    wid = plan["wid"]
    rng = random.Random(plan["seed"])
    conflicts = [0]
    vacuumed = [0]

    # start gate: spin until the parent (having spawned every worker)
    # drops the sentinel, so all interpreters hit the table at once
    # instead of staggering behind each other's ~0.3s startup
    gate = plan.get("gate")
    if gate:
        deadline = time.time() + 60
        while not os.path.exists(gate):
            if time.time() > deadline:
                raise AssertionError("start gate never opened")
            time.sleep(0.002)

    def write_file(rows) -> str:
        name = f"part-xw{wid}-{uuid.uuid4().hex[:12]}.parquet"
        tbl = pa.table(
            {
                "id": pa.array([r[0] for r in rows], pa.int64()),
                "band": pa.array([r[1] for r in rows], pa.int64()),
                "val": pa.array([r[2] for r in rows], pa.float64()),
            }
        )
        pq.write_table(tbl, os.path.join(path, name))
        return name

    def retry(fn, attempts=400):
        # liveness bound only (same rationale as the thread fuzz's
        # _retry): jittered backoff breaks writer lockstep;
        # correctness is the parent's convergence oracle. r15: ENOENT
        # re-runs too — an optimistic transaction whose snapshot lost
        # an input file to a racing vacuum (the file was removed by a
        # sibling AND aged past retention mid-attempt) refreshes and
        # restages, exactly the Delta longest-transaction contract;
        # each attempt folds a fresh base and stages fresh files.
        # Bound raised 120 -> 400 with a higher backoff ceiling (r15
        # soak): under a saturated host (three concurrent Spark
        # suites) each attempt slows enough that a compactor lost 120
        # straight races to siblings' faster commits — OCC livelock
        # the backoff must absorb, not a protocol defect (the
        # convergence oracle stayed green; the worker merely gave up).
        for i in range(attempts):
            try:
                return fn()
            except (CommitConflict, FileNotFoundError):
                conflicts[0] += 1
                time.sleep(rng.random() * 0.02 * min(i, 25))
            except ValueError as e:
                # the DEFINED horizon error: the op latched
                # latest_version() as its snapshot base, and a racing
                # sibling's expire_log moved the horizon past it before
                # the fold — the app-level contract answer is refresh
                # to a fresh base and re-run (same class as the ENOENT
                # restage above). Anything else is a real bug: re-raise.
                if "horizon" not in str(e):
                    raise
                conflicts[0] += 1
                time.sleep(rng.random() * 0.02 * min(i, 25))
        raise AssertionError(f"worker {wid} starved after {attempts} re-runs")

    def live_rows(t: "TxTable", names) -> list:
        out = []
        for n in names:
            tb = pq.read_table(t._abs(n), columns=["id", "band", "val"])
            out.extend(
                zip(
                    tb.column("id").to_pylist(),
                    tb.column("band").to_pylist(),
                    tb.column("val").to_pylist(),
                )
            )
        return out

    def compact() -> None:
        def attempt():
            t = TxTable(path)
            base = t.latest_version()
            if base < 0:
                return
            assert not t.dv_map(base), "fuzz writes no deletion vectors"
            adds = t._snapshot_adds(base)
            cands = sorted(adds, key=lambda n: (adds[n].get("rows") or 0, n))
            cands = cands[: rng.choice([2, 3])]
            if len(cands) < 2:
                return
            new = write_file(sorted(live_rows(t, cands)))
            actions = t._add_actions([new]) + [{"remove": n} for n in cands]
            t._commit_snapshot_dependent(
                base, "optimize", actions, disjoint=True
            )

        retry(attempt)

    def delete_exact(key: int) -> None:
        def attempt():
            t = TxTable(path)
            base = t.latest_version()
            keep, _total = t.pruned_files("id", lo=key, hi=key, version=base)
            actions = []
            for n in keep:
                kept = [r for r in live_rows(t, [n]) if r[0] != key]
                if kept:
                    actions += t._add_actions([write_file(sorted(kept))])
                actions.append({"remove": n})
            if not actions:
                return  # a racer's compaction already dropped the file set
            t._commit_snapshot_dependent(
                base,
                "delete",
                actions,
                info={"predicate": f"id = {key}"},
                disjoint=t._disjoint({"id": [("range", key, key)]}, None),
            )

        retry(attempt)

    def probe() -> None:
        # a cold reader (fresh instance, no warm cache) folding mid-race:
        # any torn log entry / checkpoint part / pointer would raise here
        t = TxTable(path)
        s = t.stats_summary()
        assert s["count_exact"] is True and s["count"] >= 0, s
        t._base2rel(t._snapshot_files())
        vs = t._checkpoint_versions()
        if vs:
            # may legitimately be None (incomplete multipart set mid-
            # publish) — but must NEVER raise or serve a torn fold
            ck = t._load_checkpoint(max(vs))
            if ck is not None:
                assert all(isinstance(a, dict) for a in ck["adds"].values())

    def vacuum_destroy() -> None:
        # the only ops that DESTROY files, raced against everything:
        # expire moves the horizon (deleting log entries + superseded
        # checkpoints), vacuum reclaims unreferenced data files, log
        # tmps, and orphan sidecars. Plant an aged ghost sidecar first
        # so the orphan sweep always has something to destroy.
        t = TxTable(path)
        ndir = os.path.join(path, "_txlog", "_ndv")
        os.makedirs(ndir, exist_ok=True)
        ghost = os.path.join(
            ndir,
            f"part-ghost-w{wid}-{uuid.uuid4().hex[:6]}.parquet.ndv.json",
        )
        with open(ghost, "w") as f:
            json.dump({"p": 12, "cols": {}}, f)
        aged = time.time() - 7200
        os.utime(ghost, (aged, aged))
        t.expire_log(retain_versions=plan.get("retain", 2))
        n = len(t.vacuum(grace_seconds=plan.get("grace", 2.0)))
        vacuumed[0] += n

    def pinread(delta: int) -> None:
        # a reader pinned BELOW head while siblings expire+vacuum: the
        # retention invariant is all-or-defined-error — a full read
        # must match the fold's own per-file row stats with unique
        # ids; a destroyed snapshot must surface as the horizon
        # ValueError (fold time) or a loud ENOENT (scan time, Delta's
        # documented vacuum caveat). Anything else is a torn read.
        t = TxTable(path)
        base = t.latest_version()
        if base < 0:
            return
        v = max(0, base - delta)
        try:
            adds = t._snapshot_adds(v)
        except ValueError as e:
            assert "horizon" in str(e), f"undefined retention error: {e}"
            return
        try:
            rows = live_rows(t, list(adds))
        except FileNotFoundError:
            return  # loud, defined: snapshot destroyed mid-scan
        expect = sum((adds[n].get("rows") or 0) for n in adds)
        assert len(rows) == expect, (
            f"pinned v{v}: read {len(rows)} rows, stats say {expect}"
        )
        ids = [r[0] for r in rows]
        assert len(set(ids)) == len(ids), f"duplicate ids in pinned v{v}"

    def stream_batch(b: int) -> None:
        # every worker races the SAME (app, batch) with the SAME
        # payload — exactly-once requires that the rows land once no
        # matter how many independent processes replay the batch
        rows = [
            (100000 + b * 2, 9, float(b)),
            (100001 + b * 2, 9, float(b)),
        ]

        def attempt():
            t = TxTable(path)
            name = write_file(rows)
            # None = dedup'd replay; the pre-staged file is vacuum's
            # bounded orphan, exactly as the engine-side replay leaves
            t.commit_stream_names([name], "xp-stream", b)

        retry(attempt)

    for op in plan["ops"]:
        if op[0] == "append":
            rows = [(k, 9, float(k)) for k in op[1]]

            def attempt_append():
                # stage INSIDE the attempt (r15): a conflict storm can
                # outlast the vacuum grace at the retention edge, and
                # the contract answer is restage-and-retry, not pin
                name = write_file(rows)
                TxTable(path).commit_names([name])

            retry(attempt_append)
        elif op[0] == "compact":
            compact()
        elif op[0] == "delete":
            delete_exact(op[1])
        elif op[0] == "stream":
            stream_batch(op[1])
        elif op[0] == "vacuum":
            vacuum_destroy()
        elif op[0] == "pinread":
            pinread(op[1])
        elif op[0] == "props":
            # metadata read-modify-write raced across processes: a
            # lost update here would drop a sibling's key (the parent
            # asserts the final map is the UNION of everything set)
            retry(
                lambda: TxTable(path).set_properties({op[1]: "1"})
            )
        probe()
        time.sleep(plan.get("op_sleep", 0))
    print(f"OK conflicts={conflicts[0]} vacuumed={vacuumed[0]}", flush=True)


if __name__ == "__main__":
    try:
        main()
    except BaseException:
        traceback.print_exc()
        sys.exit(1)
