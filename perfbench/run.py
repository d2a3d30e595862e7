"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). The line before it, starting ``perfbench detail:``, has
tails with their sample counts, host steal and the failures seen. See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import pathlib
import shutil
import statistics
import sys
import time

ROOT = pathlib.Path(__file__).resolve().parent.parent


def configure_env(work: pathlib.Path, trace: bool) -> None:
    """Environment the session, its JVM and Python workers inherit.
    Everything a run writes stays under ``work``."""
    # Spark gets half the host's CPUs: its JIT compiler and GC threads,
    # the Python driver and the Python workers need the rest. On a 4-vCPU
    # shared host local[2] read faster than local[4] in 5 of 6 paired
    # runs, and by the most when the host was busy.
    cpus = str(max(1, (os.cpu_count() or 2) // 2))
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = {
        # Python workers (mapInPandas decode) must import hephaestus_spark
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
        ),
        "SPARK_DRIVER_MEMORY": "2g",
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "SPARK_GRAFT_CPUS": cpus,
        # the status REST API is read only by the traced run
        "SPARK_GRAFT_UI": "true" if trace else "false",
        "TMPDIR": str(tmp),
        "TZ": "UTC",
        # every JVM, the spark-submit launcher included
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false"
            f" --conf spark.sql.warehouse.dir={work / 'warehouse'}"
            " pyspark-shell"
        ),
    }
    os.environ.update(env)
    time.tzset()


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it launched, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def measure(w, seconds: float, ops: int, first: int = 0) -> dict[str, list[float]]:
    """Closed loop: the next operation starts when the previous returns,
    until ``seconds`` have passed and ``w.enough(samples, ops)`` holds.
    Steps are numbered from ``first``; ``w.next_step`` is where a later
    loop goes on."""
    samples: dict[str, list[float]] = {"op": [], "fast": [], "step": []}
    deadline = time.perf_counter() + seconds
    i = first
    while time.perf_counter() < deadline or not w.enough(samples, ops):
        try:
            parts = w.step(i)
        except Exception as e:  # the loop keeps going; the failure is counted
            w.fail(f"step {i}: {type(e).__name__}: {str(e)[:300]}")
            if len(w.failures) > 5:
                break
        else:
            for kind, dt in parts.items():
                samples[kind].append(dt)
            samples["step"].append(sum(parts.values()))
        i += 1
    w.next_step = i
    return samples


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "hephaestus_spark" / "__init__.py").is_file():
        print(f"perfbench: no hephaestus_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench import trace as tr
    from perfbench import workloads as wl

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())

    if args.workload not in wl.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"one of {sorted(wl.WORKLOADS)}", file=sys.stderr)
        return 2
    traced = bool(args.trace)
    work = ROOT / ".perfbench_run" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    configure_env(work, traced)
    run_id = f"{args.workload}-{args.seed}-{int(time.time())}"
    try:
        with tr.RssSampler() as rss:
            result, detail = run(wl, tr, spec, args, work, run_id, traced)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            work.parent.rmdir()
    detail["peak_rss_mb"] = rss.peak / 2**20
    if traced:
        result["metrics"]["session.peak_rss_mb"]["value"] = rss.peak / 2**20
    print("perfbench detail: " + json.dumps(detail, default=str))
    print(json.dumps(result))
    return 0


def run(wl, tr, spec, args, work, run_id, traced):
    steal0, total0 = tr.cpu_counters()
    t0 = time.perf_counter()
    from hephaestus_spark.session import get_session

    spark = get_session("perfbench", cpus=int(os.environ["SPARK_GRAFT_CPUS"]))
    start_s = time.perf_counter() - t0
    tracer = tr.Tracer(run_id)
    w = wl.WORKLOADS[args.workload](spark, tracer, str(work / "data"), args.seed)
    try:
        t1 = time.perf_counter()
        w.generate()
        datagen_s = time.perf_counter() - t1
        t2 = time.perf_counter()
        w.warm_up()
        warmup_s = time.perf_counter() - t2
        # a traced run has two loops, each of half the count, so that it
        # too ends within the per-run time limit on a busy host
        count = (w.MIN_OPS + 1) // 2 if traced else w.MIN_OPS
        plain = measure(w, args.seconds, count)
        try:
            ops = {k: statistics.median(plain[k]) for k in ("op", "fast")}
        except statistics.StatisticsError:  # failures ended the loop first
            ops = {"op": 0.0, "fast": 0.0}
        layer, traced_samples = {}, {"step": []}
        if traced:
            tracer.enabled = True
            w.trace_on()
            traced_samples = measure(w, args.seconds, count, first=w.next_step)
            w.after_trace()
            tracer.enabled = False
            tracer.unwrap_all()
            try:
                layer = w.layer_metrics()
                layer["trace.overhead_frac"] = (
                    statistics.median(traced_samples["op"]) / statistics.median(plain["op"]) - 1
                )
            except Exception as e:  # a layer that recorded nothing is a failure
                w.fail(f"layer metrics: {type(e).__name__}: {str(e)[:300]}")
            tracer.write(
                str(ROOT / ".perfbench_traces" / f"{args.workload}-seed{args.seed}.jsonl")
            )
        try:
            w.check()
        except Exception as e:  # a check that cannot run is a failed check
            w.fail(f"check: {type(e).__name__}: {str(e)[:300]}")
    finally:
        w.close()
        stop_session(spark)
    steal1, total1 = tr.cpu_counters()

    n_ops = len(plain["step"]) + len(traced_samples["step"])
    setup = {"session.start_s": start_s, "session.datagen_s": datagen_s,
             "session.warmup_s": warmup_s}
    failed = len(w.failures)
    if traced:
        layer.update(setup)
        # a layer this workload does not run reads 0
        metrics = {
            m["name"]: {"value": float(layer.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in spec["per_layer"]
        }
    else:
        e2e = {
            "setup_s": start_s + datagen_s + warmup_s,
            "op_p50_ms": 1e3 * ops["op"],
            "fast_op_p50_ms": 1e3 * ops["fast"],
        }
        metrics = {
            m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
            for m in spec["end_to_end"]
        }
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": int(traced),
        "nproc": os.cpu_count(), "spark_cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
        "steal_frac": (steal1 - steal0) / max(1, total1 - total0),
        **setup,
        "samples": {k: len(v) for k, v in plain.items()},
        "op_s": [round(x, 4) for x in plain["op"]],
        "fast_s": [round(x, 4) for x in plain["fast"]],
        "op_tail": wl.tail(plain["op"]), "fast_op_tail": wl.tail(plain["fast"]),
        "failures": w.failures[:20],
    }
    result = {
        "correct": failed == 0,
        "attempted": n_ops + w.checks,
        "failed": failed,
        "metrics": metrics,
    }
    return result, detail


if __name__ == "__main__":
    sys.exit(main())
