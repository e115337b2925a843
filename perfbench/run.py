"""Benchmark entry point.

    python3 perfbench/run.py --workload publish_dual --seed 1 --seconds 10 --trace 0

Runs one workload in a fresh Spark session (``local[4]``) from the root
of a checkout and prints, as its last stdout line, one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The line before it (``PERFBENCH_DETAIL ...``) and
``.perfbench_results/`` hold the run's full record: feed digest, spans,
per-pass figures and the host canary.  See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("publish_dual", "filings_tail")


def _environment(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside the
    checkout, and size the session for a shared 4-core host."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it started) to exit; it exits when its stdin closes."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()


def run(args) -> int:
    from form700_etl_spark.session import get_spark

    from perfbench import trace
    from perfbench.feed import build_cache

    canary_before = trace.host_canary()
    ticks_before = trace.cpu_ticks()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _environment(work)
    spark = None
    try:
        t_setup = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}")
        session_s = time.perf_counter() - t_setup
        workload = _workload(args.workload, spark, work, args.seed)
        t = time.perf_counter()
        build_cache(spark)
        feed_build_s = time.perf_counter() - t  # once per checkout; not set-up
        t = time.perf_counter()
        prep = workload.prepare()
        prepare_s = time.perf_counter() - t
        t = time.perf_counter()
        warm = workload.warm()
        warm_s = time.perf_counter() - t
        setup_s = session_s + prepare_s + warm_s

        tracer = trace.Tracer(spark, traced=bool(args.trace))
        jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        gc0 = trace.jvm_gc_s(spark)
        # Everything alive now (the parsed feed, the set-up's objects)
        # belongs to the benchmark, not to the job: keep it out of the
        # driver's garbage collections while the job runs.
        gc.collect()
        gc.freeze()
        with trace.PeakRss(jvm_pid) as rss:
            measured = workload.measure(tracer, args.seconds)
        gc.unfreeze()
        gc_s = trace.jvm_gc_s(spark) - gc0
        layers = _layers(workload, tracer) if args.trace else {}
        attempted, failed, problems = workload.check()
        extra = workload.detail()
        canary_after = trace.host_canary()
        canary_after["steal_pct"] = trace.steal_pct(ticks_before, trace.cpu_ticks())
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    ok_share = (attempted - failed) / attempted
    if args.trace:
        metrics = dict(layers)
        metrics.update(
            {
                "cold.plans.build_s": warm["cold_plans_build_s"],
                "jvm.gc_s": gc_s,
                "host.loadavg_1m": canary_after["loadavg_1m"],
                "host.cpu_loop_ms": canary_after["cpu_loop_ms"],
                "host.steal_pct": canary_after["steal_pct"],
            }
        )
        metrics.update({f"traced.{k}": v for k, v in measured.items()})
    else:
        metrics = dict(measured)
        metrics.update(
            {"setup_s": setup_s, "peak_rss_mb": rss.peak_mb, "ok_share": ok_share}
        )
    units = _units(args.trace)
    if set(metrics) != set(units):
        raise RuntimeError(f"metrics differ from BENCHMARK.json: {sorted(set(metrics) ^ set(units))}")
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "feed_digest": prep["feed_digest"],
        "feed_build_s": feed_build_s,
        "setup": {
            "session_s": session_s,
            "prepare_s": prepare_s,
            "warm_s": warm_s,
            **warm,
        },
        "measured": measured,
        "host": {"before": canary_before, "after": canary_after},
        "problems": problems,
        "spans": tracer.spans,
        **extra,
    }
    os.makedirs(os.path.join(ROOT, ".perfbench_results"), exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    with open(
        os.path.join(
            ROOT,
            ".perfbench_results",
            f"{args.workload}-seed{args.seed}-trace{args.trace}-{stamp}-{os.getpid()}.json",
        ),
        "w",
    ) as fh:
        json.dump({"detail": detail, "metrics": metrics}, fh, default=str)
    for p in problems:
        print(f"PERFBENCH_PROBLEM {p}", file=sys.stderr)
    print(
        "PERFBENCH_DETAIL "
        + json.dumps(
            {
                "workload": args.workload,
                "seed": args.seed,
                "feed_digest": detail["feed_digest"],
                "host": detail["host"],
                "problems": problems[:5],
            }
        )
    )
    result = {
        "correct": failed == 0 and not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            name: {"value": metrics[name], "unit": unit} for name, unit in units.items()
        },
    }
    print(json.dumps(result), flush=True)
    return 0


def _workload(name, spark, work, seed):
    if name == "publish_dual":
        from perfbench.publish import PublishDual

        return PublishDual(spark, work, seed)
    from perfbench.tail import FilingsTail

    return FilingsTail(spark, work, seed)


def _layers(workload, tracer) -> dict:
    """The workload's per-layer figures, plus 0 for every metric of a
    layer it does not use (a run reports every per-layer metric)."""
    out = workload.layers(tracer)
    for name in _units(1):
        if name.startswith(workload.unused_layers):
            if name in out:
                raise RuntimeError(f"{workload.name} reports {name} of an unused layer")
            out[name] = 0.0
    return out


def _units(traced: int) -> dict[str, str]:
    """The metrics a run must report, with their units, in spec order."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if traced else "end_to_end"]}


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--workload", required=True, choices=WORKLOADS)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import form700_etl_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    try:
        return run(args)
    except Exception:
        traceback.print_exc()
        return 1


if __name__ == "__main__":
    sys.exit(main())
